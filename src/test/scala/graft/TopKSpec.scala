package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Grouped top-k via the bounded-heap aggregate: equality with the
  * window-rank form across partitionings (heavy ties included, pinned by
  * the unique tie column), NULL/edge semantics, the partial-aggregation
  * plan shape (no Window/Sort of the full data), and loud builder
  * rejection of fractional inputs and non-literal k. */
class TopKSpec extends SparkTestBase {
  import spark.implicits._

  private def topk(v: org.apache.spark.sql.Column, t: org.apache.spark.sql.Column, k: Int) =
    call_function(GraftFunctions.TopKName, v, t, lit(k))

  test("top-k == window rank, randomized with heavy ties, across partitionings") {
    val rnd = new scala.util.Random(31)
    val rows = (1 to 1200).map(i =>
      (s"g${i % 7}", rnd.nextInt(20).toLong /* heavy ties */, i.toLong))
    for (parts <- Seq(1, 4, 9); k <- Seq(1, 3, 8)) {
      val df = rows.toDF("g", "v", "id").repartition(parts)
      val viaAgg = df.groupBy("g").agg(topk(col("v"), col("id"), k).as("top"))
        .select(col("g"), posexplode(col("top")).as(Seq("i", "p")))
        .select(col("g"), (col("i") + 1).as("rnk"), col("p.value").as("v"), col("p.tie").as("id"))
        .as[(String, Long, Long, Long)].collect().toSet
      val w = Window.partitionBy("g").orderBy(col("v").desc, col("id").asc)
      val viaWindow = df.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= k).select("g", "rnk", "v", "id")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(viaAgg == viaWindow, s"parts=$parts k=$k")
    }
  }

  test("NULL value or tie skips the row; all-null group yields NULL; k > group size truncates") {
    val df = Seq[(String, java.lang.Long, java.lang.Long)](
      ("a", 5L, 1L), ("a", null, 2L), ("a", 7L, null), ("a", 3L, 4L),
      ("b", null, 9L)
    ).toDF("g", "v", "id")
    val got = df.groupBy("g").agg(topk(col("v"), col("id"), 10).as("top"))
      .select(col("g"), col("top")).collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(got("b").isEmpty, "group with no valid rows must be NULL")
    val a = df.filter(col("g") === "a")
      .groupBy("g").agg(topk(col("v"), col("id"), 10).as("top"))
      .select(posexplode(col("top")).as(Seq("i", "p")))
      .select(col("p.value"), col("p.tie")).as[(Long, Long)].collect().toSeq
    assert(a == Seq((5L, 1L), (3L, 4L)), s"$a")
  }

  test("plan shape: partial+final object hash aggregation, no Window node") {
    val df = (1 to 500).map(i => (s"g${i % 3}", (i * 37 % 100).toLong, i.toLong))
      .toDF("g", "v", "id")
    val out = df.groupBy("g").agg(topk(col("v"), col("id"), 5).as("top"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"expected object hash agg:\n$plan")
    assert(!plan.contains("Window"), s"top-k agg must not plan a window:\n$plan")
    assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2,
      s"expected PARTIAL + FINAL aggregation (losers die pre-shuffle):\n$plan")
  }

  test("builder rejects fractional inputs and non-literal k") {
    val df = Seq(("a", 1.5, 1L)).toDF("g", "v", "id")
    intercept[Exception] {
      df.groupBy("g").agg(topk(col("v"), col("id"), 3)).collect()
    }
    val ok = Seq(("a", 1L, 1L)).toDF("g", "v", "id")
    intercept[Exception] {
      ok.groupBy("g").agg(
        call_function(GraftFunctions.TopKName, col("v"), col("id"), col("v"))).collect()
    }
  }
}
