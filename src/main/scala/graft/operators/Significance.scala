package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{GraftFunctions, WsidConfig}

/** C1–C3 (SURVEY.md §2.5): hypergeometric significance scoring, the
  * Bonferroni-corrected filter, and the per-entity top-k descriptor cap.
  */
object Significance {

  /** C1: add logp = log P[X >= k], X ~ Hypergeom(bign, n, bigk).
    * Runs the native codegen'd LogHypergeomTail expression, which
    * GraftExtensions or Session.ensure registers. */
  def withLogp(contingency: DataFrame): DataFrame = {
    contingency.withColumn("logp",
      call_function(GraftFunctions.LogHypergeomName,
        col("k").cast("long"), col("n").cast("long"),
        col("bigk").cast("long"), col("bign").cast("long")))
  }

  /** C2: keep terms with p < alpha / m where m = per-entity candidate count
    * (Bonferroni over the candidate vocabulary). */
  def significant(scored: DataFrame, cfg: WsidConfig): DataFrame = {
    val m = Window.partitionBy("entity")
    scored
      .withColumn("m", count(lit(1)).over(m))
      .filter(col("logp") < log(lit(cfg.alpha)) - log(col("m")))
      .drop("m")
  }

  /** C2+C3 fused with a pure-dataflow fallback: per entity keep the
    * Bonferroni-significant terms, or — ONLY for entities where nothing
    * clears the cut (uniform harness corpora) — fall back to all
    * candidates, then cap at top-k. No driver-side isEmpty branch, no extra
    * job.
    *
    * Rows that exist only via the fallback carry `fallback = true`, so
    * production consumers can always distinguish statistically significant
    * descriptors from rank-only ones (the C2 contract is not silently
    * weakened): `descriptors(...).filter(!col("fallback"))` is exactly the
    * significant top-k, with no rows for an entity where nothing clears. */
  def descriptors(scored: DataFrame, cfg: WsidConfig): DataFrame = {
    val byEntity = Window.partitionBy("entity")
    val filtered = scored
      .withColumn("m", count(lit(1)).over(byEntity))
      .withColumn("is_sig",
        when(col("logp") < log(lit(cfg.alpha)) - log(col("m")), 1).otherwise(0))
      .withColumn("n_sig", sum(col("is_sig")).over(byEntity))
      .filter(col("is_sig") === 1 || col("n_sig") === 0)
      .withColumn("fallback", col("n_sig") === 0)
      .drop("m", "is_sig", "n_sig")
    topK(filtered, cfg)
  }

  /** C3: per-entity top-k by significance. Rank is made fully deterministic
    * by ordering on the 1e-4-quantized logp (so float jitter between engines
    * cannot swap near-ties) with the term as the tiebreak. */
  def topK(sig: DataFrame, cfg: WsidConfig): DataFrame = {
    val w = Window.partitionBy("entity")
      .orderBy(round(col("logp") * 10000).cast("long").asc, col("term").asc)
    sig.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= cfg.topK)
  }
}
