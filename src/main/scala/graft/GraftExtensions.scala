package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, ByteType, DoubleType, IntegerType, LongType, NullType, ShortType}

import graft.functions.{ArrayDot, BloomMightContain, HyperGeom, LogHypergeomTail, NfcNormalize, TopKAgg, VectorSumAgg}

/** Public SparkSessionExtensions hook: registers graft's native Catalyst
  * expressions. Activate with
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * (Verify/Bench/tests do; SURVEY.md §4.1).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Insert an explicit Cast when the child's type differs from the
    * expression's expected input — int literals and array<float> columns
    * then analyze identically under the native registration and under the
    * ScalaUDF fallback (whose inputs Spark coerces implicitly); the
    * sql-private AbstractDataType keeps ImplicitCastInputTypes out of reach
    * for external expressions, so the builder does the coercion.
    *
    * The LONG coercion accepts only INTEGRAL children (and NullType):
    * a fractional or non-numeric argument — e.g. a probability column
    * passed where a count belongs — fails analysis loudly instead of
    * silently truncating in non-ANSI mode. */
  private def castToLong(e: Expression, arg: Int,
                         fn: String = GraftFunctions.LogHypergeomName): Expression =
    if (!e.resolved) Cast(e, LongType)
    else e.dataType match {
      case LongType => e
      case ByteType | ShortType | IntegerType | NullType => Cast(e, LongType)
      case other => throw new IllegalArgumentException(
        s"$fn expects integral arguments; argument $arg " +
          s"has type ${other.sql} — cast to BIGINT explicitly if truncation is intended")
    }
  // (redundant Casts on already-typed children are removed by SimplifyCasts;
  // the e.resolved guard avoids touching dataType on a not-yet-resolved
  // child during analysis)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.LogHypergeomName),
      new ExpressionInfo(classOf[LogHypergeomTail].getName, GraftFunctions.LogHypergeomName),
      (children: Seq[Expression]) => {
        require(children.size == 4, s"${GraftFunctions.LogHypergeomName} expects 4 arguments")
        val c = children.zipWithIndex.map { case (e, i) => castToLong(e, i + 1) }
        LogHypergeomTail(c(0), c(1), c(2), c(3))
      }))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.ArrayDotName),
      new ExpressionInfo(classOf[ArrayDot].getName, GraftFunctions.ArrayDotName),
      (children: Seq[Expression]) => {
        require(children.size == 2, s"${GraftFunctions.ArrayDotName} expects 2 arguments")
        val c = children.map { e =>
          if (e.resolved && (e.dataType match {
            case ArrayType(DoubleType, _) => true
            case _ => false
          })) e
          else Cast(e, ArrayType(DoubleType))
        }
        ArrayDot(c(0), c(1))
      }))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.BloomMightContainName),
      new ExpressionInfo(classOf[BloomMightContain].getName, GraftFunctions.BloomMightContainName),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"${GraftFunctions.BloomMightContainName} expects (key, filterBinary)")
        // no builder-side coercion: an INT key hashing differently from the
        // LONG the filter was built over must fail analysis, not truncate
        BloomMightContain(children(0), children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.NfcName),
      new ExpressionInfo(classOf[NfcNormalize].getName, GraftFunctions.NfcName),
      (children: Seq[Expression]) => {
        require(children.size == 1, s"${GraftFunctions.NfcName} expects 1 argument")
        // no builder-side coercion: normalizing the string form of a number
        // is meaningless — a non-string argument must fail analysis loudly
        NfcNormalize(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.VectorSumName),
      new ExpressionInfo(classOf[VectorSumAgg].getName, GraftFunctions.VectorSumName),
      (children: Seq[Expression]) => {
        require(children.size == 1, s"${GraftFunctions.VectorSumName} expects 1 argument")
        // integral element types widen to LONG; fractional arrays must be
        // quantized explicitly upstream (Embeddings.quantize) — a silent
        // float truncation here would corrupt every centroid. An
        // UNRESOLVED child (SQL-text invocation) passes through UNCAST:
        // a blanket Cast would legalize double->long truncation after
        // resolution, so SQL users of non-LONG arrays must cast
        // explicitly and the expression's own type check stays the loud
        // gate (ARRAY<INT> via SQL text: cast in the query)
        val c = children.head match {
          case e if e.resolved => e.dataType match {
            case ArrayType(LongType, _) => e
            case ArrayType(ByteType | ShortType | IntegerType, _) =>
              Cast(e, ArrayType(LongType))
            case other => throw new IllegalArgumentException(
              s"${GraftFunctions.VectorSumName} expects ARRAY of integral; got ${other.sql}")
          }
          case e => e
        }
        VectorSumAgg(c)
      }))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.TopKName),
      new ExpressionInfo(classOf[TopKAgg].getName, GraftFunctions.TopKName),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          s"${GraftFunctions.TopKName} expects (value, tie, k)")
        val kExpr = children(2)
        require(kExpr.foldable, s"${GraftFunctions.TopKName}: k must be a literal")
        val k = kExpr.eval() match {
          case i: Int => i
          case l: Long =>
            // reject rather than l.toInt: a BIGINT k past Int.MaxValue would
            // wrap (4294967299L -> 3) and silently return the wrong top-k
            require(l >= Int.MinValue && l <= Int.MaxValue,
              s"${GraftFunctions.TopKName}: k out of Int range: $l")
            l.toInt
          case other => throw new IllegalArgumentException(
            s"${GraftFunctions.TopKName}: k must be an integer literal; got $other")
        }
        // value/tie: LONG only (same strictness as vector_sum — a silent
        // numeric cast would reorder ties); integral children widen
        val c = children.take(2).zipWithIndex
          .map { case (e, i) => castToLong(e, i + 1, GraftFunctions.TopKName) }
        TopKAgg(c(0), c(1), k)
      }))
  }
}

object GraftFunctions {
  val LogHypergeomName = "graft_log_hypergeom_tail"
  val ArrayDotName = "graft_array_dot"
  val BloomMightContainName = "graft_bloom_might_contain"
  val VectorSumName = "graft_vector_sum"
  val TopKName = "graft_top_k"
  val NfcName = "graft_nfc"

  /** Make graft functions callable on a session built without our
    * extensions: if the native Catalyst expression is not registered, fall
    * back to an equivalent Scala UDF. Called once per session by
    * [[Session.ensure]]; pipeline code then uses
    * functions.call_function(LogHypergeomName, ...) uniformly. */
  private[graft] def registerFallbacks(spark: SparkSession): Unit = {
    if (!spark.catalog.functionExists(GraftFunctions.LogHypergeomName)) {
      spark.udf.register(GraftFunctions.LogHypergeomName,
        (k: Long, n: Long, bigK: Long, bigN: Long) => HyperGeom.logTail(k, n, bigK, bigN))
    }
    if (!spark.catalog.functionExists(GraftFunctions.ArrayDotName)) {
      spark.udf.register(GraftFunctions.ArrayDotName,
        // boxed return: NULL input or dimension mismatch -> null, matching
        // the native expression (a BinaryExpression is null-intolerant and
        // returns NULL on a null child; dereferencing here would instead
        // NPE the whole job on fallback sessions — the exact sessions this
        // registration path serves)
        // boxed element type: a null SLOT must null the dot (matching the
        // native expression and the HOF form) — Seq[Double] would NPE on
        // unboxing it instead
        (a: Seq[java.lang.Double], b: Seq[java.lang.Double]) => {
          if (a == null || b == null || a.length != b.length)
            null.asInstanceOf[java.lang.Double]
          else {
            var s = 0.0
            var i = 0
            var ok = true
            while (ok && i < a.length) {
              if (a(i) == null || b(i) == null) ok = false
              else { s += a(i) * b(i); i += 1 }
            }
            if (ok) java.lang.Double.valueOf(s) else null.asInstanceOf[java.lang.Double]
          }
        })
    }
    if (!spark.catalog.functionExists(GraftFunctions.NfcName)) {
      // scalar fallback: same semantics, minus codegen and the zero-copy
      // ASCII fast path (the UDF boundary re-materializes the string)
      spark.udf.register(GraftFunctions.NfcName,
        (s: String) =>
          if (s == null) null
          else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    }
    if (!spark.catalog.functionExists(GraftFunctions.BloomMightContainName)) {
      // fallback for sessions without the extension: the per-filter
      // deserialization is amortized by the content-keyed JVM cache in
      // BloomMightContain (one readFrom per executor per filter, not per
      // row); key type is LONG here — the fallback serves the engine's own
      // operators, which align keys to LONG before probing
      spark.udf.register(GraftFunctions.BloomMightContainName,
        (key: java.lang.Long, bits: Array[Byte]) =>
          if (key == null) null.asInstanceOf[java.lang.Boolean]
          else java.lang.Boolean.valueOf(
            BloomMightContain.filterFrom(bits).mightContainLong(key.longValue())))
    }
    // DELIBERATELY no fallback for VectorSumName: the only extension-less
    // registration mechanism for an aggregate is a typed udaf, and Spark's
    // implicit input cast coerces array<double> -> array<bigint> for udaf
    // arguments, SILENTLY floor-truncating fractional vectors — measured
    // in EmbeddingsSpec ("typed-udaf registration would silently
    // truncate"). A missing-function error on an extension-less session
    // is loud; a corrupted centroid is not. Sessions built without
    // GraftExtensions must enable it to use graft_vector_sum.
    //
    // DELIBERATELY no fallback for TopKName either, for the same reason:
    // an aggregate can only fall back as a typed udaf, whose implicit
    // input coercion would silently cast the (value, tie) pair and reorder
    // ties. Mixing.quotaSample and the events top-k query require a
    // session built with GraftExtensions; absent that, the
    // unresolved-function error is loud and immediate.
  }
}
