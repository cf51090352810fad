package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact distributed order statistics — rank-k selection and exact
  * quantiles over a LONG column, WITHOUT a global sort.
  *
  * Why not `orderBy(...).limit(k)`: a global sort range-partitions and
  * sorts the ENTIRE column to read one value, and `limit` after a sort
  * still materializes every partition's prefix. Why not
  * `percentile_approx`: the engine's standing determinism discipline —
  * approximate quantile sketches are compaction-randomized and
  * merge-order-dependent, so their output can differ run to run and can
  * never be oracle-hashed.
  *
  * Algorithm — histogram refinement (distributed quickselect): maintain a
  * candidate value range [lo, hi] containing the target rank. Each round
  * is ONE aggregation: bucket the in-range values into B equi-width
  * buckets (integer arithmetic, exact), count per bucket, walk the counts
  * on the driver to find the bucket holding the residual rank, recurse
  * into it. The range shrinks ×B per round, so LONG values need at most
  * ⌈64 / log₂B⌉ rounds (B = 4096 ⇒ ≤ 6; real data with a bounded value
  * range converges in 2–3). Each round reads only a (column, filter)
  * projection — at 100 TB the caller persists the single-column frame
  * once and every round is a counting scan of it; nothing ever shuffles
  * more than B partial counts per partition (map-side combined), and the
  * driver holds B longs. Deterministic: same input multiset ⇒ same
  * answer, any partitioning.
  *
  * Rank semantics: k is 1-based over the sorted NON-NULL values
  * (`ORDER BY v LIMIT 1 OFFSET k−1` — the oracle's formulation);
  * quantile(q) maps to k = max(1, ⌈q·n⌉), i.e. the inverted-CDF /
  * `quantile_disc` convention.
  *
  * Spec: BASELINE.json (reference tree empty, SURVEY §0). SelectionSpec
  * proves equality with local sort on randomized data (negatives,
  * duplicates, skew) and pins the round bound; `q_rank_stats` carries the
  * ORDER BY/OFFSET DuckDB twin.
  */
object Selection {

  private val Buckets = 4096L

  /** The k-th smallest (1-based) non-null value of LONG column `valueCol`.
    * Throws on k out of range. One counting aggregation per refinement
    * round, ≤ ⌈64/12⌉ = 6 rounds for full-range LONGs. */
  def exactRank(df: DataFrame, valueCol: String, k: Long): Long = {
    val base = df.select(col(valueCol).as("__v")).filter(col("__v").isNotNull)
    val head = base.agg(count(lit(1)), min(col("__v")), max(col("__v"))).head()
    refine(base, n = head.getLong(0),
      lo0 = if (head.getLong(0) == 0) 0L else head.getLong(1),
      hi0 = if (head.getLong(0) == 0) 0L else head.getLong(2), k)
  }

  private def refine(base: DataFrame, n: Long, lo0: Long, hi0: Long, k: Long): Long = {
    require(k >= 1, s"rank k must be >= 1 (1-based); got $k")
    require(k <= n, s"rank k=$k out of range (only $n non-null values)")
    var lo = lo0
    var hi = hi0
    require(BigInt(hi) - BigInt(lo) <= BigInt(Long.MaxValue),
      s"value range [$lo, $hi] spans more than 2^63 — shift/scale the column first " +
        "(the per-row offset v - lo must stay in LONG)")
    var residual = k
    var guard = 0
    while (lo < hi) {
      guard += 1
      require(guard <= 8, s"selection failed to converge (range [$lo,$hi])")
      // ceil-width so B buckets always cover [lo, hi]; integer `div` per
      // row (Spark's `/` on LONGs is DOUBLE division and would drift)
      val width = ((BigInt(hi) - BigInt(lo)) / Buckets + 1).toLong
      // per-bucket ATTAINED min/max ride the same aggregation (r6
      // optimization): the bracket narrows to the chosen bucket's attained
      // value range, not its arithmetic edges — a bucket holding one
      // distinct value ends the refinement immediately, so real (sparse /
      // clustered) distributions converge in 1–2 counting scans instead of
      // walking the full ⌈64/log₂B⌉ bound. Same answer by construction:
      // the rank-k value lies in the chosen bucket, and every value there
      // is within [attained min, attained max].
      // every round narrows [lo, hi], so each bracket is histogrammed once
      // (exactQuantiles batches its brackets into one scan per round itself)
      val counts = base
        .filter(col("__v") >= lo && col("__v") <= hi)
        .groupBy(call_function("div", col("__v") - lo, lit(width)).as("__b"))
        .agg(count(lit(1)).as("__n"), min(col("__v")).as("__mn"), max(col("__v")).as("__mx"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      var i = 0
      var found = false
      while (i < counts.length && !found) {
        val (_, cnt, mn, mx) = counts(i)
        if (residual <= cnt) {
          lo = mn
          hi = mx
          found = true
        } else { residual -= cnt; i += 1 }
      }
      require(found, s"rank walk exhausted buckets (range [$lo,$hi], residual $residual)")
    }
    lo
  }

  /** Exact `quantile_disc`-convention quantiles: for each q in `qs`,
    * the value at rank max(1, ⌈q·n⌉). Returns (q_e4, rank, value) rows as
    * a local Seq (quantiles are a driver-sized result by definition).
    * The single-column projection is persisted for the batch — one parquet
    * scan total; count/min/max are computed once and shared by every
    * quantile's refinement.
    *
    * Batched refinement (r6): every round histograms ALL still-active
    * quantile brackets in ONE counting aggregation (a row is tagged with
    * its bracket, then bucketed with that bracket's width), so the batch
    * pays max(rounds) scans of the projection instead of Σ rounds — at
    * 100 TB each saved round is a saved full counting scan. Brackets are
    * pairwise disjoint-or-identical by construction (every bracket is a
    * bucket of a shared parent walk, and identical brackets are deduped),
    * which a loud require guards; each quantile walks its own bracket's
    * counts exactly as the sequential form did, so the answers are
    * bit-identical (SelectionSpec's sort-equality suite). */
  def exactQuantiles(df: DataFrame, valueCol: String,
                     qs: Seq[Double]): Seq[(Long, Long, Long)] = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantiles must be in (0, 1]; got $qs")
    val base = df.select(col(valueCol).as("__v")).filter(col("__v").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val head = base.agg(count(lit(1)), min(col("__v")), max(col("__v"))).head()
      val n = head.getLong(0)
      require(n > 0, "no non-null values to select from")
      require(BigInt(head.getLong(2)) - BigInt(head.getLong(1)) <= BigInt(Long.MaxValue),
        s"value range [${head.getLong(1)}, ${head.getLong(2)}] spans more than 2^63 — " +
          "shift/scale the column first (the per-row offset v - lo must stay in LONG)")
      final class St(var lo: Long, var hi: Long, var residual: Long)
      // force strictness: a lazy caller Seq (Stream/LazyList/view) would
      // re-run this map per traversal, discarding the St mutations
      val sts = qs.toVector.map { q =>
        val k = math.max(1L, math.ceil(q * n).toLong)
        require(k >= 1 && k <= n, s"rank k=$k out of range (only $n non-null values)")
        (math.round(q * 10000), k, new St(head.getLong(1), head.getLong(2), k))
      }
      var guard = 0
      while (sts.exists { case (_, _, s) => s.lo < s.hi }) {
        guard += 1
        require(guard <= 8,
          s"selection failed to converge (${sts.map { case (_, _, s) => (s.lo, s.hi) }})")
        val brackets = sts.collect { case (_, _, s) if s.lo < s.hi => (s.lo, s.hi) }.distinct
        // laminar-family sanity: active brackets never partially overlap
        for (Seq((l1, h1), (l2, h2)) <- brackets.combinations(2))
          require(h1 < l2 || h2 < l1,
            s"quantile brackets overlap: [$l1,$h1] vs [$l2,$h2]")
        val widths = brackets.map { case (lo, hi) =>
          ((BigInt(hi) - BigInt(lo)) / Buckets + 1).toLong
        }
        // one pass: tag each in-ANY-bracket row with its bracket index and
        // that bracket's bucket (first-match when-chain; brackets disjoint)
        val brCol = brackets.zipWithIndex
          .foldRight(lit(null).cast("int")) { case (((lo, hi), i), acc) =>
            when(col("__v") >= lo && col("__v") <= hi, lit(i)).otherwise(acc)
          }
        val bkCol = brackets.zipWithIndex
          .foldRight(lit(null).cast("long")) { case (((lo, _), i), acc) =>
            when(col("__br") === i,
              call_function("div", col("__v") - lo, lit(widths(i)))).otherwise(acc)
          }
        val hist = base
          .select(brCol.as("__br"), col("__v"))
          .filter(col("__br").isNotNull)
          .select(col("__br"), bkCol.as("__b"), col("__v"))
          .groupBy(col("__br"), col("__b"))
          .agg(count(lit(1)).as("__n"), min(col("__v")).as("__mn"), max(col("__v")).as("__mx"))
          .collect()
          .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
          .groupBy(_._1)
          .map { case (br, rows) => br -> rows.map(_._2).sortBy(_._1) }
        sts.foreach { case (_, _, s) =>
          if (s.lo < s.hi) {
            val br = brackets.indexOf((s.lo, s.hi))
            val counts = hist.getOrElse(br,
              throw new IllegalStateException(
                s"rank walk found no rows in bracket [${s.lo},${s.hi}]"))
            var i = 0
            var found = false
            while (i < counts.length && !found) {
              val (_, cnt, mn, mx) = counts(i)
              if (s.residual <= cnt) {
                s.lo = mn
                s.hi = mx
                found = true
              } else { s.residual -= cnt; i += 1 }
            }
            require(found,
              s"rank walk exhausted buckets (range [${s.lo},${s.hi}], residual ${s.residual})")
          }
        }
      }
      sts.map { case (qe4, k, s) => (qe4, k, s.lo) }
    } finally base.unpersist()
  }

  /** Driver-contract frame: one row per requested quantile of an integer
    * column — (q_e4, rank_k, value). */
  def quantileFrame(df: DataFrame, valueCol: String, qs: Seq[Double]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    exactQuantiles(df, valueCol, qs)
      .toDF("q_e4", "rank_k", "value")
      .orderBy("q_e4")
  }

  /** Token-budget corpus cut — the standard curation step "keep the
    * highest-quality documents whose total token count fits a budget"
    * (DCLM / FineWeb-style classifier-score selection), WITHOUT a global
    * sort: returns the cut score `t` = the smallest ATTAINED score value
    * such that the total weight of rows with `score >= t` does not exceed
    * `budget` (so the selection is exactly `score >= t`), or `maxScore + 1`
    * when even the top score class alone overshoots (empty selection).
    * Whole score classes are admitted or not — the cut never splits a tie
    * class, so the result is deterministic under any partitioning and
    * independent of row order; the budget is a hard ceiling (the selection
    * may undershoot by less than one boundary class, never overshoot).
    *
    * Algorithm — the weighted, from-the-top twin of [[exactRank]]'s
    * histogram refinement: maintain [lo, hi] bracketing the integer cut
    * and the exact weight `aboveW` strictly above the bracket. Each round
    * is ONE weighted counting aggregation (B equi-width buckets, integer
    * arithmetic); walk the buckets top-down on the driver to find the
    * bucket where the from-the-top cumulative weight first exceeds the
    * budget and recurse into it. ≤ ⌈64/log₂B⌉ rounds, each a counting scan
    * of the persisted two-column (score, weight) projection — at 100 TB
    * nothing ever shuffles more than B partial sums per partition
    * (map-side combined) and the driver holds B longs. Weights must be
    * >= 0 (token counts); their sums are trusted to stay inside LONG
    * (2^63 µ-tokens is ~9.2 ZB of text) — ANSI mode faults an overflow
    * loudly rather than wrapping.
    *
    * Spec: BASELINE.json (reference tree empty, SURVEY §0); SelectionSpec
    * proves equality with the local sorted-prefix brute force on randomized
    * data and pins the hard-ceiling / boundary-class invariants;
    * `q_select_budget` carries the cumulative-window DuckDB twin. */
  def budgetCutScore(df: DataFrame, scoreCol: String, weightCol: String,
                     budget: Long): Long = {
    require(budget >= 0, s"budget must be >= 0; got $budget")
    val base = df.select(col(scoreCol).as("__s"), col(weightCol).as("__w"))
      .filter(col("__s").isNotNull && col("__w").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // head pass additionally carries the TOTAL weight (r6 optimization):
      // a single-valued score column then resolves with zero further jobs
      val head = base.agg(count(lit(1)), min(col("__s")), max(col("__s")),
        min(col("__w")), coalesce(sum(col("__w")), lit(0L))).head()
      val n = head.getLong(0)
      require(n > 0, "no non-null (score, weight) rows to select from")
      require(head.getLong(3) >= 0,
        s"weights must be >= 0; found ${head.getLong(3)}")
      var lo = head.getLong(1)
      var hi = head.getLong(2)
      val maxScore = hi
      require(maxScore < Long.MaxValue,
        "score Long.MaxValue unsupported (the empty-selection sentinel is maxScore + 1)")
      require(BigInt(hi) - BigInt(lo) <= BigInt(Long.MaxValue),
        s"score range [$lo, $hi] spans more than 2^63 — shift/scale the column first")
      // exact weight strictly above the current bracket; invariant
      // aboveW <= budget (so "select only what's above the bracket" is
      // always feasible) and the integer cut lies in [lo, hi + 1].
      //
      // r6 round-count optimization (VERDICT r5 "Next" #7): each round's
      // aggregation also carries per-bucket attained min/max score, so the
      // bracket narrows to ATTAINED values (a single-valued bucket ends the
      // loop with its class weight in hand), and the walk tracks the
      // smallest attained score ABOVE the bracket (minAbove) — which makes
      // both post-loop scans (the wEq class weight and the attained-minimum
      // probe) derivable on the driver. Every path below resolves the cut
      // from state the counting rounds already computed:
      //  - `lo` is always an ATTAINED score (global min, or a bucket's
      //    attained min), so "admit lo's class" reports lo itself;
      //  - cut = lo + 1 reports minAbove (the lowest attained score above
      //    the final bracket), or maxScore + 1 when nothing is above.
      var aboveW = 0L
      var minAbove = Long.MaxValue
      var hasAbove = false
      // weight of lo's class when the bracket collapsed onto one value;
      // seeded with the TOTAL for the single-valued-column fast path
      var wEq = head.getLong(4)
      var decidedLo = false // set only when the walk PROVES cut == lo
      var guard = 0
      while (lo < hi) {
        guard += 1
        require(guard <= 8, s"budget cut failed to converge (range [$lo,$hi])")
        val width = ((BigInt(hi) - BigInt(lo)) / Buckets + 1).toLong
        val counts = base
          .filter(col("__s") >= lo && col("__s") <= hi)
          .groupBy(call_function("div", col("__s") - lo, lit(width)).as("__b"))
          .agg(sum(col("__w")).as("__w"), min(col("__s")).as("__mn"),
            max(col("__s")).as("__mx"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .sortBy(-_._1)
        // walk top-down: find the highest bucket whose from-the-top
        // cumulative weight exceeds the budget — the cut is inside it
        var cum = aboveW
        var i = 0
        var found = false
        while (i < counts.length && !found) {
          val (_, w, mn, mx) = counts(i)
          if (cum + w > budget) {
            lo = mn
            hi = mx
            aboveW = cum
            if (mn == mx) wEq = w // the bracket IS lo's whole class
            found = true
          } else {
            cum += w
            if (mn < minAbove) { minAbove = mn; hasAbove = true }
            i += 1
          }
        }
        // every bucket fits (or the range held no rows): everything from
        // `lo` up is selectable, so the cut is exactly the (attained) lo —
        // aboveW + the whole bracket's weight <= budget implies lo's class
        // fits a fortiori
        if (!found) { hi = lo; decidedLo = true }
      }
      if (decidedLo || aboveW + wEq <= budget) lo // attained by construction
      else if (hasAbove) minAbove // smallest attained score >= lo + 1
      else maxScore + 1 // nothing above lo fits: empty selection
    } finally base.unpersist()
  }

  /** Exact PER-GROUP quantiles (`quantile_disc` convention, same as
    * [[exactQuantiles]]) — per-domain length/quality distributions for
    * corpus monitoring, where one driver-loop refinement per group would
    * not scale past a handful of groups.
    *
    * Shape: ONE map-side-combinable aggregation collapses the corpus to
    * (group, value, count) CLASS rows; every later step — per-group totals,
    * the cumulative sum, the rank probe — runs on that class frame, whose
    * size is Σ_g |distinct values in g|, NOT the row count (token lengths,
    * e4-ratios and other bounded-domain metrics keep it vocabulary-sized
    * at any corpus scale). The per-group cumulative uses a keyed window
    * over the class frame (keyed windows distribute; the engine's
    * no-global-window discipline is about unpartitioned ORDER BY), and
    * each quantile resolves as a filter + min-aggregation, never a second
    * window. For genuinely unbounded value domains, pre-bucket the column
    * or fall back to [[exactQuantiles]] per group.
    *
    * Emits (group, q_e4, rank_k, value): rank_k = max(1, ⌈q·n_g⌉) over the
    * group's non-null values, value = the class where the group's
    * cumulative count first reaches rank_k. Deterministic under any
    * partitioning. */
  def groupedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                       qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantiles must be in (0, 1]; got $qs")
    val spark = df.sparkSession
    import spark.implicits._
    val cls = df.select(col(groupCol).as("grp"), col(valueCol).as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy("grp", "__v").agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy("__v")
    // the group total rides the SAME partitioned pass as the cumulative
    // (whole-partition frame, no ordering) — a separate groupBy + join here
    // would re-execute the upstream corpus aggregation a second time
    val wTot = org.apache.spark.sql.expressions.Window.partitionBy("grp")
    val cum = cls.select(col("grp"), col("__v"),
      sum(col("__c")).over(w).as("__cum"),
      sum(col("__c")).over(wTot).as("__n"))
    // q_e4 pinned on the driver (round(q·10⁴) — no engine float re-derive);
    // the rank probe is per (group, q): smallest class whose cumulative
    // count reaches k = max(1, ceil(q·n))
    val qframe = qs.map(q => (math.round(q * 10000), q)).toDF("q_e4", "__q")
    cum
      .crossJoin(broadcast(qframe))
      .select(col("grp"), col("q_e4"), col("__v"), col("__cum"),
        greatest(lit(1L), ceil(col("__q") * col("__n")).cast("long")).as("rank_k"))
      .filter(col("__cum") >= col("rank_k"))
      .groupBy("grp", "q_e4", "rank_k")
      .agg(min(col("__v")).as("value"))
      .select(col("grp").as(groupCol), col("q_e4"), col("rank_k"), col("value"))
  }
}
