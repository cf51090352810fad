package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CodeDoc, CovTok, Token, WsidConfig}

/** A1–A4 (SURVEY.md §2.4): marginals and co-occurrence counts over the
  * distinct-coverage token sets. All counts are BIGINT-exact.
  *
  * Scale notes:
  *  - marginals/cooc use the explicit salted two-phase combine (I1) —
  *    'the'-class tokens are the canonical hot keys at 10^12 files;
  *  - small dictionaries are broadcast adaptively (I2) downstream.
  */
object Cooc {

  /** Adaptive ceiling: a term-statistics dictionary of at most this many
    * rows is broadcast (BASELINE.json:6 mandate); a larger one falls back
    * to a shuffle join. */
  val BroadcastDictMaxRows = 2000000L

  /** A1: global term marginals n(t) over the (stopword-filtered) token stream. */
  def marginals(tokens: Dataset[Token], cfg: WsidConfig): DataFrame =
    SaltedAgg.countBy(tokens.toDF(), Seq("term"), col("docid"), cfg.salts, "n")

  /** A2: document frequency per term (exact). */
  def docFreq(tokens: Dataset[Token]): DataFrame =
    tokens.toDF().groupBy("term").agg(countDistinct(col("docid")).as("df"))

  /** A2': document frequency via HyperLogLog++ — the scale path: exact
    * countDistinct shuffles every (term, docid) pair; the sketch keeps the
    * exchange at one fixed-size buffer per term per partition. */
  def docFreqApprox(tokens: Dataset[Token], rsd: Double = 0.02): DataFrame =
    tokens.toDF().groupBy("term").agg(approx_count_distinct(col("docid"), rsd).as("df_approx"))

  /** A3: co-occurrence counts k(e,t) = covered positions bearing t. */
  def coocCounts(cov: Dataset[CovTok], cfg: WsidConfig): DataFrame =
    SaltedAgg.countBy(cov.toDF(), Seq("entity", "term"), col("docid"), cfg.salts, "k")

  /** A4: per-entity window mass K(e) = total covered positions. */
  def windowMass(cov: Dataset[CovTok], cfg: WsidConfig): DataFrame =
    SaltedAgg.countBy(cov.toDF(), Seq("entity"), col("docid"), cfg.salts, "bigk")

  /** Incremental maintenance of A3 counts: merge per-batch co-occurrence
    * counts into one standing table. Counts are additive over disjoint doc
    * sets (windows are doc-local), so a nightly delta batch folds into the
    * standing counts with ONE vocabulary-sized aggregation — never a
    * recount of the historical corpus. Map-side combinable (plain sum), and
    * each input is already vocab-bounded, so the merge is cheap at any
    * corpus scale. */
  def mergeCounts(parts: DataFrame*): DataFrame = {
    require(parts.nonEmpty, "mergeCounts needs at least one batch")
    parts.map(_.select(col("entity"), col("term"), col("k")))
      .reduce(_ unionAll _)
      .groupBy(col("entity"), col("term"))
      .agg(sum(col("k")).as("k"))
  }

  /** Assemble the full contingency inputs (entity, term, k, n, bigk, bign).
    *
    * The term-marginals dictionary is semi-join-reduced to the candidate
    * vocabulary first, then broadcast when small enough
    * (BASELINE.json:6 "broadcast joins carry the term-statistics dictionary");
    * it falls back to a shuffle join past [[BroadcastDictMaxRows]] rows.
    *
    * Returns the contingency frame PLUS the vocab-bounded frames this call
    * persisted (cooc, marginals) — the CALLER owns their lifetime
    * (E1Result.cleanup / the Memo's eviction hook unpersist them), so a
    * long-lived session sweeping many (sfDir, cfg) combinations cannot
    * accumulate orphaned caches (the r2 bounded-memo contract). */
  def contingency(spark: SparkSession, tokens: Dataset[Token], cov: Dataset[CovTok],
                  cfg: WsidConfig): (DataFrame, Seq[DataFrame]) = {
    // exactly two full-data traversals: cov -> cooc and tokens -> marginals;
    // everything after operates on the small cached aggregates (one row per
    // term / per entity-term pair, never data-proportional)
    val cooc = coocCounts(cov, cfg).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val marg = marginals(tokens, cfg).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one driver action for both N and the broadcast decision (vocab size
    // bounds the dictionary, which is a subset of the marginals); the sum
    // coalesces so an EMPTY corpus (everything guarded away) yields an
    // empty contingency frame instead of an NPE on the null aggregate
    val totals = marg.agg(coalesce(sum(col("n")), lit(0L)), count(lit(1))).head()
    val bigN = totals.getLong(0)
    val vocabSize = totals.getLong(1)
    val mass = windowMass(cov, cfg)

    // dictionary = marginals restricted to candidate co-occurring terms
    val dict = marg.join(cooc.select("term").distinct(), Seq("term"), "left_semi")
    val margJoined =
      if (vocabSize <= BroadcastDictMaxRows) cooc.join(broadcast(dict), Seq("term"))
      else cooc.join(dict, Seq("term"))

    val cont = margJoined
      .join(broadcast(mass), Seq("entity")) // one row per entity: always tiny
      .withColumn("bign", lit(bigN))
      .select(col("entity"), col("term"), col("k"), col("n"), col("bigk"), col("bign"))
    (cont, Seq(cooc, marg))
  }
}
