package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Native Catalyst membership probe against a serialized
  * [[org.apache.spark.util.sketch.BloomFilter]] — the probe side of the
  * bloom-pruned join ([[graft.operators.BloomPrune]]).
  *
  * Children: (key, filterBits). `filterBits` must be a FOLDABLE binary
  * (the serialized filter rides the plan as a literal, exactly how Spark's
  * own injected runtime bloom filters ship their build side into the probe
  * scan); it deserializes ONCE per JVM via a content-keyed cache, never per
  * row. Why an Expression and not a UDF (standing engine rule): the probe
  * runs once per BIG-side row in the scan stage — the hottest possible
  * path. Codegen pins the deserialized filter as a plan reference object
  * and emits one call per row into the sketch's bit test, staying inside
  * whole-stage codegen; a UDF would box every key and break the span right
  * below the join.
  *
  * Supports LONG keys (`mightContainLong`, the fast path — callers align
  * both join sides to LONG first; an INT and a LONG hash differently) and
  * STRING keys (`mightContainString`).
  *
  * NULL semantics: NULL key → NULL (three-valued logic like any
  * predicate); under `df.filter` that drops the row — a NULL key cannot
  * match an equi-join anyway, so pruning it is exact.
  */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    if (left.dataType != LongType && left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a LONG or STRING key, got ${left.dataType.simpleString}")
    else if (right.dataType != BinaryType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a foldable BINARY serialized filter as its second argument")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "graft_bloom_might_contain"

  private def isLongKey: Boolean = left.dataType == LongType

  @transient private lazy val bloom: BloomFilter =
    BloomMightContain.filterFrom(right.eval().asInstanceOf[Array[Byte]])

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val key = left.eval(input)
    if (key == null) null
    else if (isLongKey) bloom.mightContainLong(key.asInstanceOf[Long])
    else bloom.mightContainString(key.asInstanceOf[UTF8String].toString)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bf = ctx.addReferenceObj("bloomFilter", bloom, classOf[BloomFilter].getName)
    val keyGen = left.genCode(ctx)
    val call =
      if (isLongKey) s"$bf.mightContainLong(${keyGen.value})"
      else s"$bf.mightContainString(${keyGen.value}.toString())"
    ev.copy(code =
      code"""
        ${keyGen.code}
        boolean ${ev.isNull} = ${keyGen.isNull};
        boolean ${ev.value} = false;
        if (!${ev.isNull}) { ${ev.value} = $call; }
      """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object BloomMightContain {
  // one deserialization per JVM per distinct filter (content-keyed: a
  // ByteBuffer hashes/compares by contents) — read by every expression
  // instance's lazy val, so equal filters share one deserialized copy.
  // BOUNDED: an access-ordered LRU keeping the 8 most-recent filters —
  // a long-lived session running many bloom joins must not accumulate
  // megabyte filters (bytes + deserialized bits each) until executor OOM;
  // an evicted filter merely re-deserializes on next touch.
  private val MaxCached = 8
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[java.nio.ByteBuffer, BloomFilter](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[java.nio.ByteBuffer, BloomFilter]): Boolean =
        size() > MaxCached
    })

  def filterFrom(bytes: Array[Byte]): BloomFilter = {
    require(bytes != null, "serialized bloom filter must not be null")
    cache.synchronized {
      val key = java.nio.ByteBuffer.wrap(bytes)
      val hit = cache.get(key)
      if (hit != null) hit
      else {
        val bf = BloomFilter.readFrom(new ByteArrayInputStream(bytes))
        cache.put(key, bf)
        bf
      }
    }
  }
}
