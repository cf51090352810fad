package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, ByteType, DoubleType, IntegerType, LongType, NullType, ShortType}

import graft.functions.{ArrayDot, BloomMightContain, LogHypergeomTail, NfcNormalize, TopKAgg, VectorSumAgg}

/** Public SparkSessionExtensions hook: injects graft's native Catalyst
  * expressions ([[GraftFunctions.all]]). Activate with
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * (every session `Session.local` builds does; SURVEY.md §4.1). A session
  * built without it gets the same entries from [[Session.ensure]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}

object GraftFunctions {
  val LogHypergeomName = "graft_log_hypergeom_tail"
  val ArrayDotName = "graft_array_dot"
  val BloomMightContainName = "graft_bloom_might_contain"
  val VectorSumName = "graft_vector_sum"
  val TopKName = "graft_top_k"
  val NfcName = "graft_nfc"

  /** Insert an explicit Cast when the child's type differs from the
    * expression's expected input, so int literals and INT columns analyze
    * like BIGINT ones; the sql-private AbstractDataType keeps
    * ImplicitCastInputTypes out of reach for external expressions, so the
    * builder does the coercion.
    *
    * The LONG coercion accepts only INTEGRAL children (and NullType):
    * a fractional or non-numeric argument — e.g. a probability column
    * passed where a count belongs — fails analysis loudly instead of
    * silently truncating in non-ANSI mode. */
  private def castToLong(e: Expression, arg: Int, fn: String = LogHypergeomName): Expression =
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

  private def entry(name: String, cls: Class[_])(builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  /** graft's six functions: name, info and builder (with its coercion and
    * argument checks). The one table both registration paths read. */
  private[graft] val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    entry(LogHypergeomName, classOf[LogHypergeomTail]) { children =>
      require(children.size == 4, s"$LogHypergeomName expects 4 arguments")
      val c = children.zipWithIndex.map { case (e, i) => castToLong(e, i + 1) }
      LogHypergeomTail(c(0), c(1), c(2), c(3))
    },
    entry(ArrayDotName, classOf[ArrayDot]) { children =>
      require(children.size == 2, s"$ArrayDotName expects 2 arguments")
      val c = children.map { e =>
        if (e.resolved && (e.dataType match {
          case ArrayType(DoubleType, _) => true
          case _ => false
        })) e
        else Cast(e, ArrayType(DoubleType))
      }
      ArrayDot(c(0), c(1))
    },
    entry(BloomMightContainName, classOf[BloomMightContain]) { children =>
      require(children.size == 2, s"$BloomMightContainName expects (key, filterBinary)")
      // no builder-side coercion: an INT key hashing differently from the
      // LONG the filter was built over must fail analysis, not truncate
      BloomMightContain(children(0), children(1))
    },
    entry(NfcName, classOf[NfcNormalize]) { children =>
      require(children.size == 1, s"$NfcName expects 1 argument")
      // no builder-side coercion: normalizing the string form of a number
      // is meaningless — a non-string argument must fail analysis loudly
      NfcNormalize(children.head)
    },
    entry(VectorSumName, classOf[VectorSumAgg]) { children =>
      require(children.size == 1, s"$VectorSumName expects 1 argument")
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
            s"$VectorSumName expects ARRAY of integral; got ${other.sql}")
        }
        case e => e
      }
      VectorSumAgg(c)
    },
    entry(TopKName, classOf[TopKAgg]) { children =>
      require(children.size == 3, s"$TopKName expects (value, tie, k)")
      val kExpr = children(2)
      require(kExpr.foldable, s"$TopKName: k must be a literal")
      val k = kExpr.eval() match {
        case i: Int => i
        case l: Long =>
          // reject rather than l.toInt: a BIGINT k past Int.MaxValue would
          // wrap (4294967299L -> 3) and silently return the wrong top-k
          require(l >= Int.MinValue && l <= Int.MaxValue, s"$TopKName: k out of Int range: $l")
          l.toInt
        case other => throw new IllegalArgumentException(
          s"$TopKName: k must be an integer literal; got $other")
      }
      // value/tie: LONG only (same strictness as vector_sum — a silent
      // numeric cast would reorder ties); integral children widen
      val c = children.take(2).zipWithIndex.map { case (e, i) => castToLong(e, i + 1, TopKName) }
      TopKAgg(c(0), c(1), k)
    })

  /** Register every entry of [[all]] the session's function registry lacks
    * (a session built without GraftExtensions); called once per session by
    * [[Session.ensure]]. */
  private[graft] def registerMissing(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }
}
