package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-pruned equi-join: build a bloom filter over the SMALL side's join
  * keys (one distributed aggregation, driver holds only the bit array),
  * probe it on the BIG side BEFORE the join's shuffle, then run the normal
  * exact join. Bloom filters have no false negatives, so the join result is
  * bit-identical to the unpruned join — false positives merely leak a few
  * extra rows into the shuffle for the join itself to reject.
  *
  * The 100 TB shape this exists for: a selective mid-sized dimension (too
  * big to broadcast raw, e.g. 10^8 surviving keys) joined to a huge fact
  * side. Without pruning, EVERY fact row shuffles; with it, fact rows that
  * cannot match die in the scan stage — the shuffle shrinks by the join's
  * true selectivity (× (1+fpp)). Spark's AQE-injected runtime bloom filter
  * does the same thing but only when its own thresholds and plan-shape
  * checks allow; this operator is the explicit, always-available form, and
  * the probe is a codegen'd Catalyst expression
  * ([[graft.functions.BloomMightContain]]), not a UDF.
  *
  * Correctness gate: `q_join_bloom` (plain-SQL join oracle — the prune must
  * be invisible in the result). BloomSpec additionally proves the
  * no-false-negative contract on randomized data, that the prune actually
  * drops rows, and the plan shape (probe filter strictly below the join's
  * exchange, no exchange beneath it).
  *
  * Spec: BASELINE.json north_rule names explicit partitioning/shuffle/skew
  * handling as a first-class obligation; reference tree empty (SURVEY §0).
  */
object BloomPrune {

  /** Build a bloom filter over `small`'s `key` column (LONG or STRING —
    * align both join sides to one type; a LONG and an INT hash differently).
    * `expectedItems` sizes the bit array: pass the (approximate) distinct
    * key count — overestimating wastes bits, underestimating raises the
    * effective fpp above the requested one. One distributed pass; the
    * driver materializes only the filter (~1.2 MB per 10^6 keys at 1% fpp). */
  def buildFilter(small: DataFrame, key: Column, expectedItems: Long,
                  fpp: Double): BloomFilter = {
    require(expectedItems > 0, s"expectedItems must be positive; got $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1); got $fpp")
    small.select(key.as("__k")).stat.bloomFilter("__k", expectedItems, fpp)
  }

  /** Membership-probe column over a built filter — composes anywhere a
    * boolean Column does (filter, join condition, CASE arm). The filter
    * serializes into the plan as a binary literal child of the registered
    * [[BloomMightContain]] expression (the standing call_function idiom;
    * it deserializes once per JVM, never per row). */
  def mightContain(filter: BloomFilter, key: Column): Column = {
    // the key Column has no session: the frame it lands in resolves the
    // function, so that session needs GraftExtensions or Session.ensure
    val bos = new java.io.ByteArrayOutputStream()
    filter.writeTo(bos)
    call_function(graft.GraftFunctions.BloomMightContainName, key, lit(bos.toByteArray))
  }

  /** The packaged join: inner-join `big` ⋈ `small` on `bigKey == smallKey`,
    * with the big side bloom-pruned pre-shuffle. Result is exactly the
    * plain join's (no false negatives); only the shuffle volume changes.
    * `expectedItems = None` spends one counting pass over the small side —
    * at scale, pass the known/estimated distinct count instead. */
  def prunedEquiJoin(big: DataFrame, small: DataFrame, bigKey: String,
                     smallKey: String, fpp: Double = 0.01,
                     expectedItems: Option[Long] = None): DataFrame = {
    require(bigKey != smallKey,
      s"prunedEquiJoin needs distinct key column names (got `$bigKey` on both " +
        "sides — the join condition would be an ambiguous self-reference); " +
        "alias one side first")
    val n = expectedItems.getOrElse(
      small.select(col(smallKey)).distinct().count())
    val bf = buildFilter(small, col(smallKey), math.max(n, 1L), fpp)
    big.filter(mightContain(bf, col(bigKey)))
      .join(small, col(bigKey) === col(smallKey))
  }
}
