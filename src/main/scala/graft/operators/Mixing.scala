package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.CodeDoc

/** Corpus-composition operators for training-data output: deterministic
  * global shuffle + equal-size sharding, SQL-ntile bucketing over a
  * distributed two-phase scan (no single global window task), and
  * domain-mixture reweighting. These are the steps between a curated corpus
  * and the bytes a trainer reads: shuffle once reproducibly, cut into equal
  * shards, and weight domains to the target mixture.
  */
object Mixing {

  /** Running totals of `value` in the total order of the named `order`
    * columns — the ONE distributed two-phase prefix scan shared by global
    * positions, ntile sharding, and sequence packing (which needs prefix
    * token counts, i.e. the same scan with a different value). Adds
    * `outCol` and returns the grand total. A bare
    * `sum()/row_number() over (order by k)` serializes the corpus through
    * ONE window task — at 10^12 rows that is a stall, not a scan.
    *
    * Correctness of the two phases REQUIRES one fixed partition assignment:
    * the narrow (order, value) projection is range-partitioned and then
    * localCheckpoint'd EAGERLY, pinning both data and partition ids, so the
    * per-partition offsets collected in phase 1 and the per-partition window
    * of phase 2 read the SAME materialization. (The persist/unpersist form
    * is subtly wrong at scale: a re-executed range exchange re-samples its
    * partitioner with a fresh seed, rows shift partitions, and stale offsets
    * silently corrupt every position.) The materialization goes through
    * `Pinned.pin`: localCheckpoint by default, and a RELIABLE checkpoint on
    * durable storage when `graft.checkpoint.dir` is configured — executor
    * loss then re-reads instead of failing the job; either way it can fail,
    * never corrupt. Wide columns stay out of the checkpoint: the scan runs
    * on the key projection and joins back on the order key, so content pays
    * one hash exchange and never a block-storage copy.
    *
    * `order` must be a UNIQUE total order — otherwise positions are
    * nondeterministic and the join-back fans out.
    *
    * Lifetime note: the narrow checkpoint stays pinned until the consumer
    * DataFrame is dropped and ContextCleaner runs — it cannot be freed
    * eagerly because the returned frame reads it lazily. The pin is
    * key+value-sized (order columns + one long), never content-sized;
    * same policy as the session Memo's persisted frames. */
  private[graft] def withRunningTotal(df: DataFrame, order: Seq[String],
                                      value: Column, outCol: String): (DataFrame, Long) = {
    val spark = df.sparkSession
    val oc = order.map(col)
    val proj = graft.plans.Pinned.pin(
      df.select(oc :+ value.cast("long").as("__v"): _*)
        .repartitionByRange(oc: _*)
        .sortWithinPartitions(oc: _*)
        .withColumn("__pid", spark_partition_id()))
    // phase 1: per-partition totals (one row per partition) ->
    // exclusive prefix offsets in pid order
    val totals = proj.groupBy("__pid").agg(sum(col("__v")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val n = totals.map(_._2).sum
    val offsets = {
      var acc = 0L
      totals.map { case (pid, t) => val o = (pid, acc); acc += t; o }
    }
    val offDF = spark.createDataFrame(offsets.toSeq).toDF("__pid", "__off")
    // phase 2: parallel per-partition cumsum + broadcast offset add
    val w = Window.partitionBy("__pid").orderBy(oc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scanned = proj.join(broadcast(offDF), Seq("__pid"))
      .withColumn(outCol, sum(col("__v")).over(w) + col("__off"))
      .select(oc :+ col(outCol): _*)
    (df.join(scanned, order), n)
  }

  /** Global 1-based positions under the unique total order `order`, added
    * as column `pos`, plus the exact row count: the running total of 1s. */
  private[graft] def withGlobalPositions(df: DataFrame, order: Seq[String]): (DataFrame, Long) =
    withRunningTotal(df, order, lit(1L), "pos")

  /** SQL `ntile(n)` over a distributed corpus: rows in `order` split into
    * `n` buckets, the first (N mod n) buckets one row larger — bit-identical
    * to the ANSI/DuckDB window function (including n > N: row i alone in
    * bucket i), but computed with the two-phase scan above instead of a
    * single global window task. Adds `pos` (1-based global position) and
    * `bucket` (1-based). */
  def ntileBuckets(df: DataFrame, n: Int, order: Seq[String]): DataFrame = {
    require(n > 0, s"ntile bucket count must be positive, got $n")
    val (pos, total) = withGlobalPositions(df, order)
    val big = total % n
    val szBig = total / n + 1
    val szSmall = math.max(total / n, 1L) // 0 only when total < n; branch then dead
    pos.withColumn("bucket",
      when(col("pos") <= big * szBig,
        floor((col("pos") - 1) / lit(szBig.toDouble)) + 1)
        .otherwise(lit(big) + floor((col("pos") - lit(big * szBig) - 1) / lit(szSmall.toDouble)) + 1)
        .cast("long"))
  }

  /** Deterministic global training-data shuffle + equal-size sharding: each
    * document gets a pseudorandom but fully reproducible sort key (sha256
    * over seed|repo|path|commit), a global position in key order, and an
    * ntile shard. Re-running with the same seed — on ANY partitioning or
    * cluster size — yields the identical order and shard assignment
    * (contrast `orderBy(rand())`); a new seed gives an independent
    * permutation per epoch. Scale shape: positions come from the two-phase
    * scan over the (skey) projection; content pays exactly one hash
    * exchange in the join-back. The sha256 key is uniform by construction,
    * so neither exchange can skew.
    *
    * The key hashes EACH field separately before the outer hash
    * (sha256(sha256(seed)||sha256(repo)||sha256(path)||sha256(commit))):
    * a delimiter-joined preimage would let distinct tuples containing the
    * delimiter collide (("a|b","c") vs ("a","b|c")), and a duplicated skey
    * breaks withRunningTotal's unique-total-order contract — the join-back
    * would silently fan out. Fixed-width inner hashes make the preimage
    * unambiguous for ALL field values, including NULLs: a null field
    * becomes the literal '-' (not a valid sha256, so it cannot collide
    * with any real value's hash — and without the coalesce, sha2 would
    * null-propagate and give EVERY null-bearing row the same NULL key). */
  def deterministicShuffle(docs: Dataset[CodeDoc], nShards: Int, seed: String): DataFrame = {
    def fh(c: org.apache.spark.sql.Column) = coalesce(sha2(c, 256), lit("-"))
    val keyed = docs.toDF().withColumn("skey",
      sha2(concat(fh(lit(seed)), fh(col("repo")), fh(col("path")), fh(col("commit"))), 256))
    ntileBuckets(keyed, nShards, Seq("skey"))
      .withColumnRenamed("bucket", "shard")
  }

  /** Deterministic per-group QUOTA sample: at most `k` rows per group,
    * chosen by a reproducible pseudo-uniform key so the same (id, seed-free)
    * input yields the same sample on any partitioning or cluster size — the
    * exact-count companion to the Bernoulli `stratifiedSample` (which
    * matches a RATE per stratum but not a count; capping a dominant domain
    * at N documents needs exactly-≤k semantics).
    *
    * Key: a Lehmer/MINSTD LCG step over the LONG id in pure mod-(2^31−1)
    * arithmetic. The two modular multiplications compose algebraically to
    * ONE Lehmer multiplication — x·48271·69621 ≡ x·1213191644 (mod M) —
    * i.e. the second factor adds no extra scrambling; the formula is kept
    * in its two-factor form only because each intermediate product then
    * stays below 2^48 (vs 2^62 for the fused constant), so the expression
    * is ANSI-overflow-safe with headroom in Spark and replays verbatim in
    * any BIGINT engine (the DuckDB oracle states the same formula).
    * x ↦ c·x mod M with gcd(c, M) = 1 is a bijection on Z_M (M prime), so
    * distinct ids below M get distinct keys; ids must be >= 0 by contract.
    *
    * Scale shape: the per-group top-k runs through the bounded-heap
    * [[graft.functions.TopKAgg]] — partial aggregation discards losers
    * BEFORE the shuffle (≤ k rows per group × partition move), never a
    * window sort over every row of every group. Emits
    * (group, rnk 1..k strongest-first, id, hkey). */
  def quotaSample(df: DataFrame, groupCol: String, idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"quota k must be >= 1; got $k")
    val M = lit(2147483647L)
    val hkey = col(idCol) % M * lit(48271L) % M * lit(69621L) % M
    df.select(col(groupCol).as("grp"), col(idCol).as("id"), hkey.as("hkey"))
      .groupBy("grp")
      .agg(call_function(graft.GraftFunctions.TopKName,
        col("hkey"), col("id"), lit(k)).as("top"))
      .select(col("grp"), posexplode(col("top")).as(Seq("i", "p")))
      .select(col("grp").as(groupCol), (col("i") + 1).cast("int").as("rnk"),
        col("p.tie").as(idCol), col("p.value").as("hkey"))
  }

  /** Domain-mixture reweighting: observed per-domain token shares vs a
    * target mixture → per-domain sampling weight target/observed (>1 =
    * upsample / extra epochs, <1 = downsample) — the knob that turns a
    * skewed crawl into the training mixture. Domains absent from `targets`
    * get target 0 (dropped); target domains with NO observed documents
    * still emit a row (zero counts, weight 0) — an unsatisfiable mixture
    * must be visible, not silently under-delivered. Shares and weights are
    * e4-scaled BIGINTs for engine-stable comparison. One aggregation over
    * the (domain, ntok) projection — content is token-counted in the scan,
    * never shuffled; the target table is a broadcast-sized literal. */
  /** Apply a domain-mixture reweighting — the EMIT half of
    * [[mixtureWeights]]: turn per-domain sampling weights into the actual
    * resampled corpus. A doc with weight w (e4-scaled) emits
    * floor(w) epochs (epoch = 0..⌊w⌋−1) plus ONE more with probability
    * frac(w), decided by a deterministic content-independent coin —
    * the first 4 hex chars of sha256("mix|" ‖ docid) against the
    * 16-bit-lattice threshold ⌊frac(w)·65536⌋ (the stratifiedSample
    * idiom) — so the emitted multiset is a pure function of (docs,
    * weights): identical across cluster sizes, SQL-replayable, and in
    * expectation each domain lands exactly on its target share.
    * Weight 0 domains drop; weight < 1 downsampled; weight > 1 gains
    * extra epochs (the standard "repeat scarce domains" mixture move).
    *
    * Scale shape: the weight table is domain-sized → broadcast; the coin,
    * copy count, and epoch explode are doc-local column work — ZERO
    * shuffle. Output (idCol, domainCol, weight_e4, n_copies, epoch). */
  def applyMixture(docs: DataFrame, weights: DataFrame, idCol: String = "docid",
                   domainCol: String = "domain"): DataFrame = {
    val joined = docs.join(
      broadcast(weights.select(col(domainCol), col("weight_e4"))), Seq(domainCol))
    val full = expr("weight_e4 div 10000")
    val thr16 = expr("((weight_e4 % 10000) * 65536) div 10000")
    val hkey = substring(sha2(concat(lit("mix|"), col(idCol).cast("string")), 256), 1, 4)
    val extra = when(hkey < format_string("%04x", thr16), 1L).otherwise(0L)
    joined
      .withColumn("n_copies", (full + extra).cast("long"))
      .filter(col("n_copies") > 0L)
      .select(col(idCol), col(domainCol), col("weight_e4"), col("n_copies"),
        explode(sequence(lit(0L), col("n_copies") - 1)).as("epoch"))
  }

  def mixtureWeights(docs: Dataset[CodeDoc], domainCol: String,
                     targets: Map[String, Double]): DataFrame = {
    val spark = docs.sparkSession
    val obs = docs.toDF()
      .groupBy(col(domainCol).as("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextStats.wordTokenCount(col("content"))).as("tokens"))
    val tgt = spark.createDataFrame(targets.toSeq).toDF("domain", "target")
    val per = obs.join(tgt, Seq("domain"), "full_outer")
      .select(col("domain"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("tokens"), lit(0L)).as("tokens"),
        coalesce(col("target"), lit(0.0)).as("target"))
    val tot = per.agg(sum(col("tokens")).as("total"))
    per.crossJoin(tot)
      .select(col("domain"), col("n_docs"), col("tokens"),
        round(col("tokens") / col("total") * 10000).cast("long").as("obs_share_e4"),
        round(col("target") * 10000).cast("long").as("target_share_e4"),
        when(col("tokens") > 0,
          round(col("target") / (col("tokens") / col("total")) * 10000).cast("long"))
          .otherwise(lit(0L)).as("weight_e4"))
  }
}
