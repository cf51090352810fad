package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship E1 on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Full pipeline: tokenize/window → salted co-occurrence → hypergeometric
    * significance → NMF sense induction → linking → (subj, pred, obj)
    * triples. On the uniform harness corpus nothing clears the Bonferroni
    * cut, so the descriptor fallback (rank-only top-k) kicks in — the whole
    * operator chain still runs. */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    val docs = sources.CorpusSynth.fromDocuments(spark, sfDir)
    Pipeline.induceAndEmit(spark, docs, Queries.cfg.copy(topK = 50), None, sfDir).triples
  }

  /** One entry per implemented operator: SURVEY.md §2 inventory (Queries)
    * plus the training-data-pipeline extras (ExtraQueries). Every entry
    * runs through the session set-up hook (Session.ensure — idempotent,
    * results unchanged; see Session for the why). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (Queries.sparkQueries ++ ExtraQueries.sparkQueries ++ KgQueries.sparkQueries ++
      MmQueries.sparkQueries ++ EventQueries.sparkQueries ++ CurationQueries.sparkQueries)
      .map { case (name, fn) =>
        name -> ((s: SparkSession, d: String) => { Session.ensure(s); fn(s, d) })
      }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check. */
  def oracleSql: Map[String, String] =
    Queries.oracle ++ ExtraQueries.oracle ++ KgQueries.oracle ++ MmQueries.oracle ++
      EventQueries.oracle ++ CurationQueries.oracle
}
