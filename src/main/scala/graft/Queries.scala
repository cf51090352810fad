package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Cooc, Significance, Tokenize}
import graft.sources.CorpusSynth

/** Driver-contract query registry (SURVEY.md §2 inventory → SparkEntry).
  *
  * Every oracle-checked operator appears twice, by design:
  *  - a Spark implementation using the production operators
  *    (mapPartitions tokenizer, salted aggregation, codegen'd hypergeometric);
  *  - semantically identical ANSI SQL for the driver's DuckDB compare.
  *
  * Determinism rules for the compare: every result has an ORDER BY over a
  * unique key; float-valued columns are emitted as 1e-4-scaled BIGINTs
  * (round(x*10000)) so cross-engine float jitter cannot change a hash;
  * integer sums are CAST to BIGINT in SQL (DuckDB sums integers to HUGEINT).
  */
object Queries {

  /** Entities tracked on the documents corpus (all in its 31-term vocab).
    * A realistic KG-construction run tracks many targets at once; the
    * per-entity factorizations then overlap and scale with the cluster. */
  val entities: Seq[String] = Seq("data", "hash", "join", "query", "scan", "sort", "spark", "table")
  val cfg: WsidConfig = WsidConfig(entities = entities, window = 5, alpha = 0.01, topK = 200)

  private def docs(spark: SparkSession, sfDir: String) = CorpusSynth.fromDocuments(spark, sfDir)
  private def e4(c: Column): Column = round(c * 10000).cast("long")

  // shared, memoized prefixes (Memo): ONE tokenized projection and ONE E2
  // chain per (session, input) serve every registry query below
  private def tokDocsOf(spark: SparkSession, sfDir: String) = Memo.tokDocsOf(spark, sfDir, cfg)
  private def toksOf(spark: SparkSession, sfDir: String) =
    Tokenize.tokensFrom(tokDocsOf(spark, sfDir))
  private def coStatsOf(spark: SparkSession, sfDir: String): Pipeline.CoStats =
    Memo.coStatsOf(spark, sfDir, cfg)
  // NOTE (accepted tradeoff): coverage-only queries (q_t4/q_a3/q_a4) route
  // through the full memoized E2 chain, whose contingency runs one eager
  // driver action they don't strictly need. A separate coverage-only memo
  // entry would spare a fresh session that one job at the cost of caching
  // coverage twice whenever the scoring chain IS also used (every bench and
  // mixed-workload session) — the shared-entry form is the better default.
  private def covOf(spark: SparkSession, sfDir: String) =
    coStatsOf(spark, sfDir).coverage

  // ------------------------------------------------------------------
  // Spark-side query functions
  // ------------------------------------------------------------------

  val sparkQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_s1_scan_docs" -> ((s, d) =>
      docs(s, d).groupBy("repo", "lang")
        .agg(count(lit(1)).as("n_docs"), sum(length(col("content"))).as("chars"))
        .orderBy("repo", "lang")),

    "q_s2_sha_invariant" -> ((s, d) =>
      docs(s, d).select(col("repo"), sha2(col("content"), 256).as("sha"))
        .groupBy("repo")
        .agg(count(lit(1)).as("n"), countDistinct(col("sha")).as("n_sha"),
          min(col("sha")).as("min_sha"), max(col("sha")).as("max_sha"))
        .orderBy("repo")),

    "q_p_filter_project" -> ((s, d) =>
      docs(s, d).filter(col("lang") === "en")
        .select(concat(col("repo"), lit("/"), col("path"), lit("@"), col("commit")).as("docid"),
          length(col("content")).as("chars"))
        .orderBy("docid").limit(200)),

    "q_t1_tokenize" -> ((s, d) =>
      toksOf(s, d).toDF()
        .filter(col("docid").startsWith("src0/"))
        .orderBy("docid", "pos")),

    "q_t2_stopword_filter" -> ((s, d) =>
      toksOf(s, d).toDF()
        .filter(!col("term").isin("the", "a"))
        .groupBy("term").agg(count(lit(1)).as("n"))
        .orderBy("term")),

    "q_t3_mentions" -> ((s, d) =>
      toksOf(s, d).toDF()
        .filter(col("term").isin(entities: _*))
        .groupBy(col("term").as("entity"))
        .agg(count(lit(1)).as("n_mentions"), countDistinct(col("docid")).as("n_docs"))
        .orderBy("entity")),

    "q_t4_windows" -> ((s, d) =>
      coStatsOf(s, d).coverage.toDF()
        .filter(col("docid").startsWith("src0/"))
        .orderBy("entity", "docid", "pos")),

    "q_a1_marginals" -> ((s, d) =>
      Cooc.marginals(toksOf(s, d), cfg).orderBy("term")),

    "q_a2_docfreq" -> ((s, d) =>
      Cooc.docFreq(toksOf(s, d)).orderBy("term")),

    // A2': HLL++ sketch — emits the exact df alongside so the driver's hash
    // compare pins the sketch's deterministic estimate AND a self-check
    // (max relative error vs exact) in one rows-only result
    "q_a2_docfreq_approx" -> ((s, d) => {
      val approx = Cooc.docFreqApprox(toksOf(s, d))
      val exact = Cooc.docFreq(toksOf(s, d))
      approx.join(exact, Seq("term"))
        .withColumn("rel_err_e4",
          e4(abs(col("df_approx") - col("df")) / col("df")))
        .orderBy("term")
    }),

    "q_a3_cooc_salted" -> ((s, d) =>
      Cooc.coocCounts(covOf(s, d), cfg).orderBy("entity", "term")),

    // bigN rides as a 1-row cross join, not a driver-side count() at plan
    // construction (VERDICT r2 "what's wrong" #3): one job per invocation
    "q_a4_totals" -> ((s, d) =>
      Cooc.windowMass(covOf(s, d), cfg)
        .crossJoin(toksOf(s, d).toDF().agg(count(lit(1)).as("bign")))
        .orderBy("entity")),

    "q_c1_hypergeom" -> ((s, d) =>
      coStatsOf(s, d).scored
        .select(col("entity"), col("term"), col("k"), col("n"), col("bigk"), col("bign"),
          e4(col("logp")).as("logp_e4"))
        .orderBy("entity", "term")),

    "q_c2_significant" -> ((s, d) => {
      val m = Window.partitionBy("entity")
      coStatsOf(s, d).scored
        .withColumn("m", count(lit(1)).over(m))
        .withColumn("thr_e4", e4(log(lit(cfg.alpha)) - log(col("m"))))
        .withColumn("is_sig", when(e4(col("logp")) < col("thr_e4"), 1L).otherwise(0L))
        .groupBy("entity")
        .agg(sum(col("is_sig")).as("n_sig"), count(lit(1)).as("n_candidates"))
        .orderBy("entity")
    }),

    // both rank via the PRODUCTION Significance.topK (quantized-logp asc,
    // term tiebreak) — a hand-copied window here would keep passing the
    // oracle while production ordering silently drifted
    // the top-20 ranking is the memoized ranked store (Memo.rankedStoresOf,
    // r6): one persisted copy of the PRODUCTION Significance.topK ranking
    // serves every query that reads it
    "q_c3_topk" -> ((s, d) =>
      Memo.rankedStoresOf(s, d, cfg)._1
        .select(col("entity"), col("term"), col("rank").as("rnk"))
        .orderBy("entity", "rnk")),

    // the document-level L3 store is memoized too (Memo.l3TriplesOf): the
    // store query, its serialization, and the parse round-trip share one
    // persisted copy of the distinct'd triple frame
    "q_l3_cooc_triples" -> ((s, d) =>
      Memo.l3TriplesOf(s, d, cfg).orderBy("subj", "obj")),

    // RDF interchange: the same L3 graph serialized as W3C N-Triples lines
    // (IRI percent-encoding + literal ECHAR escaping replayed in SQL with
    // the identical replace chain)
    "q_l3_ntriples" -> ((s, d) =>
      Pipeline.toNTriples(Memo.l3TriplesOf(s, d, cfg)).orderBy("nt")),

    // RDF interchange, ingest direction: serialize the L3 graph to
    // N-Triples and PARSE it back — the oracle is the plain L3 store SQL,
    // so any encode/decode asymmetry (percent chain order, ECHAR pairing)
    // breaks the hash. fromNTriples is what a 100 TB external dump feeds
    // through via spark.read.text.
    "q_kg_ntriples_parse" -> ((s, d) =>
      Pipeline.fromNTriples(Pipeline.toNTriples(Memo.l3TriplesOf(s, d, cfg)))
        .orderBy("subj", "obj"))
  )

  // ------------------------------------------------------------------
  // DuckDB oracle SQL (same semantics over the same parquet tables)
  // ------------------------------------------------------------------

  private val entitiesSql = entities.map(e => s"'$e'").mkString(", ")

  /** Shared CTE chain mirroring the pipeline. Unused CTEs are pruned by the
    * optimizer, so every oracle query carries the full prefix (KgQueries
    * reuses it). Its `toks` CTE, like every other oracle query, tokenizes
    * through `Tokenize.termsSql`, the one SQL form of the token contract. */
  private[graft] val base: String =
    s"""WITH ${CorpusSynth.docsSqlCte},
       |toks AS (
       |  SELECT docid, unnest(generate_series(1, len(arr))) - 1 AS pos, unnest(arr) AS term
       |  FROM (
       |    SELECT repo || '/' || path || '@' || "commit" AS docid,
       |           ${Tokenize.termsSql("content")} AS arr
       |    FROM docs
       |    WHERE length(content) BETWEEN 1 AND ${cfg.maxDocChars}
       |  )
       |),
       |mentions AS (
       |  SELECT docid, pos, term AS entity FROM toks WHERE term IN ($entitiesSql)
       |),
       |win AS (
       |  SELECT DISTINCT m.entity, t.docid, t.pos, t.term
       |  FROM toks t JOIN mentions m ON t.docid = m.docid
       |  WHERE abs(t.pos - m.pos) <= ${cfg.window} AND t.pos <> m.pos
       |),
       |cooc AS (SELECT entity, term, count(*) AS k FROM win GROUP BY entity, term),
       |marg AS (SELECT term, count(*) AS n FROM toks GROUP BY term),
       |mass AS (SELECT entity, count(*) AS bigk FROM win GROUP BY entity),
       |tot AS (SELECT count(*) AS bign FROM toks),
       |stats AS (
       |  SELECT c.entity, c.term, c.k, m.n, s.bigk, t.bign
       |  FROM cooc c JOIN marg m ON c.term = m.term
       |       JOIN mass s ON c.entity = s.entity CROSS JOIN tot t
       |),
       |series AS (
       |  SELECT entity, term, k, n, bigk, bign,
       |         unnest(generate_series(k, least(n, bigk))) AS i
       |  FROM stats
       |),
       |lt AS (
       |  SELECT entity, term,
       |         lgamma(bigk + 1) - lgamma(i + 1) - lgamma(bigk - i + 1)
       |       + lgamma(bign - bigk + 1) - lgamma(n - i + 1) - lgamma(bign - bigk - n + i + 1)
       |       - (lgamma(bign + 1) - lgamma(n + 1) - lgamma(bign - n + 1)) AS v
       |  FROM series
       |),
       |mx AS (SELECT entity, term, max(v) AS mv FROM lt GROUP BY entity, term),
       |logp AS (
       |  SELECT l.entity, l.term, any_value(m.mv) + ln(sum(exp(l.v - m.mv))) AS logp
       |  FROM lt l JOIN mx m ON l.entity = m.entity AND l.term = m.term
       |  GROUP BY l.entity, l.term
       |),
       |scored AS (
       |  SELECT s.entity, s.term, s.k, s.n, s.bigk, s.bign, p.logp
       |  FROM stats s JOIN logp p ON s.entity = p.entity AND s.term = p.term
       |)""".stripMargin

  /** The production descriptor total order (scaled logp, term) over
    * [[base]]'s `scored`, as a CTE `ranked(entity, term, rnk)`: rnk <= K is
    * the SQL twin of `Significance.topK(_, cfg.copy(topK = K))`. */
  private[graft] val rankedSql: String =
    """ranked AS (
      |  SELECT entity, term,
      |         row_number() OVER (PARTITION BY entity
      |           ORDER BY CAST(round(logp * 10000) AS BIGINT), term) AS rnk
      |  FROM scored)""".stripMargin

  /** The L3 co-occurrence triples: each window term of a top-20 descriptor
    * of its entity, as `(entity@source, coOccursWith, term)`. */
  private val coocTriplesSql: String =
    s"""$base,
       |$rankedSql,
       |top20 AS (SELECT entity, term FROM ranked WHERE rnk <= 20)
       |SELECT DISTINCT w.entity || '@' || regexp_replace(w.docid, '@[^@]*$$', '') AS subj,
       |       'coOccursWith' AS pred, w.term AS obj
       |FROM win w JOIN top20 s ON w.entity = s.entity AND w.term = s.term
       |ORDER BY subj, obj""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_s1_scan_docs" ->
      s"""$base
         |SELECT repo, lang, count(*) AS n_docs, CAST(sum(length(content)) AS BIGINT) AS chars
         |FROM docs GROUP BY repo, lang ORDER BY repo, lang""".stripMargin,

    "q_s2_sha_invariant" ->
      s"""$base
         |SELECT repo, count(*) AS n, count(DISTINCT sha256(content)) AS n_sha,
         |       min(sha256(content)) AS min_sha, max(sha256(content)) AS max_sha
         |FROM docs GROUP BY repo ORDER BY repo""".stripMargin,

    "q_p_filter_project" ->
      s"""$base
         |SELECT repo || '/' || path || '@' || "commit" AS docid, length(content) AS chars
         |FROM docs WHERE lang = 'en' ORDER BY docid LIMIT 200""".stripMargin,

    "q_t1_tokenize" ->
      s"""$base
         |SELECT docid, pos, term FROM toks WHERE docid LIKE 'src0/%' ORDER BY docid, pos""".stripMargin,

    "q_t2_stopword_filter" ->
      s"""$base
         |SELECT term, count(*) AS n FROM toks WHERE term NOT IN ('the', 'a')
         |GROUP BY term ORDER BY term""".stripMargin,

    "q_t3_mentions" ->
      s"""$base
         |SELECT entity, count(*) AS n_mentions, count(DISTINCT docid) AS n_docs
         |FROM mentions GROUP BY entity ORDER BY entity""".stripMargin,

    "q_t4_windows" ->
      s"""$base
         |SELECT entity, docid, pos, term FROM win WHERE docid LIKE 'src0/%'
         |ORDER BY entity, docid, pos""".stripMargin,

    "q_a1_marginals" ->
      s"""$base
         |SELECT term, n FROM marg ORDER BY term""".stripMargin,

    "q_a2_docfreq" ->
      s"""$base
         |SELECT term, count(DISTINCT docid) AS df FROM toks GROUP BY term ORDER BY term""".stripMargin,

    "q_a3_cooc_salted" ->
      s"""$base
         |SELECT entity, term, k FROM cooc ORDER BY entity, term""".stripMargin,

    "q_a4_totals" ->
      s"""$base
         |SELECT entity, bigk, bign FROM mass CROSS JOIN tot ORDER BY entity""".stripMargin,

    "q_c1_hypergeom" ->
      s"""$base
         |SELECT entity, term, k, n, bigk, bign,
         |       CAST(round(logp * 10000) AS BIGINT) AS logp_e4
         |FROM scored ORDER BY entity, term""".stripMargin,

    "q_c2_significant" ->
      s"""$base
         |SELECT entity,
         |       CAST(sum(CASE WHEN CAST(round(logp * 10000) AS BIGINT)
         |                        < CAST(round((ln(${cfg.alpha}) - ln(m)) * 10000) AS BIGINT)
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_sig,
         |       count(*) AS n_candidates
         |FROM (SELECT entity, logp, count(*) OVER (PARTITION BY entity) AS m FROM scored)
         |GROUP BY entity ORDER BY entity""".stripMargin,

    "q_c3_topk" ->
      s"""$base,
         |$rankedSql
         |SELECT entity, term, rnk FROM ranked
         |WHERE rnk <= 20 ORDER BY entity, rnk""".stripMargin,

    "q_l3_cooc_triples" -> coocTriplesSql,

    // parse(serialize(store)) == store: the same SQL as q_l3_cooc_triples
    "q_kg_ntriples_parse" -> coocTriplesSql,

    "q_l3_ntriples" ->
      s"""$base,
         |$rankedSql,
         |top20 AS (SELECT entity, term FROM ranked WHERE rnk <= 20),
         |l3 AS (
         |  SELECT DISTINCT w.entity || '@' || regexp_replace(w.docid, '@[^@]*$$', '') AS subj,
         |         w.term AS obj
         |  FROM win w JOIN top20 s ON w.entity = s.entity AND w.term = s.term
         |),
         |-- percent-encode IRI-unsafe chars, '%' FIRST (same chain as Spark)
         |enc AS (
         |  SELECT replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(
         |           subj, '%', '%25'), ' ', '%20'), '"', '%22'), '<', '%3C'), '>', '%3E'),
         |           '\\', '%5C'), '{', '%7B'), '}', '%7D'), '|', '%7C'), '^', '%5E'), '`', '%60') AS subj_enc,
         |         replace(replace(obj, '\\', '\\\\'), '"', '\\"') AS obj_esc
         |  FROM l3
         |)
         |SELECT '<urn:graft:ent:' || subj_enc || '> <urn:graft:coOccursWith> "' || obj_esc || '" .' AS nt
         |FROM enc ORDER BY nt""".stripMargin
  )
}
