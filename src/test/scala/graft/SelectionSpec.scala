package graft

import graft.operators.Selection

/** Exact distributed order statistics: equality with local sort on
  * randomized multisets (negatives, duplicates, skew), the quantile rank
  * convention, full-LONG-range convergence inside the round guard, and
  * loud rejection of out-of-range ranks. */
class SelectionSpec extends SparkTestBase {
  import spark.implicits._

  test("exactRank == local sort, randomized (duplicates, negatives, skew)") {
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 3) {
      val vals = (1 to 2000).map { _ =>
        val r = rnd.nextInt(3)
        if (r == 0) rnd.nextInt(50).toLong - 25          // heavy duplicates
        else if (r == 1) rnd.nextLong() % 1000000L       // wide, signed
        else 7L                                          // skewed hot value
      }
      val df = vals.toDF("v").repartition(5)
      val sorted = vals.sorted
      val ks = Seq(1L, 2L, 500L, 1000L, 1999L, 2000L)
      // the batched quantile walk at q = (k - 1/2)/n, whose rank is k
      val viaQuantiles = Selection.exactQuantiles(df, "v", ks.map(k => (k - 0.5) / vals.size))
      for ((k, (_, qk, qv)) <- ks.zip(viaQuantiles)) {
        val got = Selection.exactRank(df, "v", k)
        assert(got == sorted((k - 1).toInt), s"trial $trial k=$k")
        assert(qk == k && qv == got, s"trial $trial k=$k: exactQuantiles gave rank $qk value $qv")
      }
    }
  }

  test("quantile convention matches ceil-rank (quantile_disc); frame is ordered") {
    val vals = (1L to 100L).toSeq
    val df = vals.toDF("v")
    val got = Selection.quantileFrame(df, "v", Seq(0.5, 0.01, 0.999, 1.0))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (100L, 1L, 1L),      // q=.01 -> ceil(1) = rank 1
      (5000L, 50L, 50L),   // q=.5  -> ceil(50) = rank 50
      (9990L, 100L, 100L), // q=.999 -> ceil(99.9) = rank 100
      (10000L, 100L, 100L)))
  }

  test("full-LONG-range values converge within the round guard; nulls ignored") {
    val vals: Seq[java.lang.Long] = Seq[java.lang.Long](
      Long.MinValue / 2, -1L, null, 0L, 3L, Long.MaxValue / 2, null)
    val df = vals.toDF("v")
    assert(Selection.exactRank(df, "v", 1) == Long.MinValue / 2)
    assert(Selection.exactRank(df, "v", 3) == 0L)
    assert(Selection.exactRank(df, "v", 5) == Long.MaxValue / 2)
  }

  test("values adjacent to Long.MaxValue select correctly (upper-edge overflow regression)") {
    // bucket upper edge bLo + width - 1 would wrap negative here; the
    // wrapped hi ended the loop on the bucket's LOWER edge (review find)
    val vals = Seq(Long.MaxValue - 8194, Long.MaxValue - 1, Long.MaxValue)
    val df = vals.toDF("v")
    assert(Selection.exactRank(df, "v", 1) == Long.MaxValue - 8194)
    assert(Selection.exactRank(df, "v", 2) == Long.MaxValue - 1)
    assert(Selection.exactRank(df, "v", 3) == Long.MaxValue)
  }

  test("out-of-range ranks and bad quantiles fail loudly") {
    val df = Seq(1L, 2L).toDF("v")
    intercept[IllegalArgumentException] { Selection.exactRank(df, "v", 0) }
    intercept[IllegalArgumentException] { Selection.exactRank(df, "v", 3) }
    intercept[IllegalArgumentException] { Selection.exactQuantiles(df, "v", Seq(0.0)) }
    intercept[IllegalArgumentException] {
      // range wider than 2^63 must be rejected, not silently corrupted
      Selection.exactRank(Seq(Long.MinValue, Long.MaxValue).toDF("v"), "v", 1)
    }
  }

  /** Local brute force for the budget cut: smallest attained score whose
    * from-the-top cumulative class weight fits the budget; max+1 if none. */
  private def bruteCut(rows: Seq[(Long, Long)], budget: Long): Long = {
    val classes = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .toSeq.sortBy(-_._1)
    var cum = 0L
    var cut = classes.head._1 + 1  // empty-selection sentinel
    var i = 0
    var stop = false
    while (i < classes.length && !stop) {
      cum += classes(i)._2
      if (cum <= budget) cut = classes(i)._1 else stop = true
      i += 1
    }
    cut
  }

  test("budgetCutScore == local sorted-prefix brute force, randomized") {
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      val rows = (1 to 1500).map { _ =>
        val score = if (rnd.nextInt(4) == 0) 42L               // hot tie class
                    else rnd.nextInt(200).toLong - 50
        (score, rnd.nextInt(100).toLong)                        // weights incl. 0
      }
      val df = rows.toDF("score", "w").repartition(7)
      val total = rows.map(_._2).sum
      for (budget <- Seq(0L, 1L, total / 10, total / 3, total - 1, total, total + 5)) {
        val got = Selection.budgetCutScore(df, "score", "w", budget)
        assert(got == bruteCut(rows, budget), s"trial $trial budget=$budget")
      }
    }
  }

  test("budget is a hard ceiling; the next class down would overshoot; determinism") {
    val rows = Seq((10L, 5L), (20L, 7L), (30L, 4L), (30L, 2L), (40L, 1L))
    val df = rows.toDF("score", "w")
    // budget 8: class 40 (w=1) + class 30 (w=6) = 7 fits; + class 20 = 14 > 8
    val cut = Selection.budgetCutScore(df, "score", "w", 8L)
    assert(cut == 30L)
    val selected = rows.filter(_._1 >= cut).map(_._2).sum
    assert(selected <= 8L)                       // never overshoots
    assert(selected + 7L > 8L)                   // next class would
    // whole-class semantics: budget 2 fits only class 40; budget 0 fits none
    assert(Selection.budgetCutScore(df, "score", "w", 2L) == 40L)
    assert(Selection.budgetCutScore(df, "score", "w", 0L) == 41L)
    // budget >= total admits everything down to the min attained score
    assert(Selection.budgetCutScore(df, "score", "w", 19L) == 10L)
    // partitioning-independent
    assert(Selection.budgetCutScore(df.repartition(11), "score", "w", 8L) == 30L)
  }

  test("groupedQuantiles == per-group local sort ceil-rank, randomized") {
    val rnd = new scala.util.Random(37)
    val rows = (1 to 3000).map { _ =>
      (s"g${rnd.nextInt(5)}",
        if (rnd.nextInt(3) == 0) 7L else rnd.nextInt(400).toLong - 100)
    }
    val qs = Seq(0.25, 0.5, 0.9, 1.0)
    val got = Selection.groupedQuantiles(
        rows.toDF("grp", "v").repartition(9), "grp", "v", qs)
      .as[(String, Long, Long, Long)].collect().toSet
    val expect = rows.groupBy(_._1).flatMap { case (g, rs) =>
      val sorted = rs.map(_._2).sorted
      qs.map { q =>
        val k = math.max(1L, math.ceil(q * sorted.length).toLong)
        (g, math.round(q * 10000), k, sorted((k - 1).toInt))
      }
    }.toSet
    assert(got == expect)
    // single group agrees with the driver-loop refinement
    val one = rows.map { case (_, v) => ("all", v) }.toDF("grp", "v")
    val viaGroup = Selection.groupedQuantiles(one, "grp", "v", Seq(0.5))
      .select("value").as[Long].head()
    val viaRefine = Selection.exactQuantiles(
      rows.map(_._2).toDF("v"), "v", Seq(0.5)).head._3
    assert(viaGroup == viaRefine)
  }

  test("groupedQuantiles scans its input once (totals ride the window pass, no second agg+join)") {
    // review regression guard: the per-group total used to come from a
    // second groupBy joined back onto the cumulative frame, re-executing
    // the upstream corpus aggregation; the optimized plan must reference
    // the input exactly once (the only other leaf is the driver-pinned
    // quantile literal frame)
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("grp", "v")
    val plan = Selection.groupedQuantiles(df, "grp", "v", Seq(0.5, 0.9))
      .queryExecution.optimizedPlan
    val leaves = plan.collectLeaves()
    assert(leaves.size == 2, s"expected input + quantile frame, got:\n$plan")
  }

  test("budgetCutScore rejects negative weights and negative budgets loudly") {
    val df = Seq((1L, -3L)).toDF("score", "w")
    intercept[IllegalArgumentException] { Selection.budgetCutScore(df, "score", "w", 5L) }
    intercept[IllegalArgumentException] {
      Selection.budgetCutScore(Seq((1L, 1L)).toDF("score", "w"), "score", "w", -1L)
    }
  }
}
