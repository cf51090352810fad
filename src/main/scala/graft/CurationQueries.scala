package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Hashes, Tokenize}

/** Corpus-curation front-door queries on the driver contract: URL-level
  * dedup, DSIR importance weights, and the hashed-LR quality classifier —
  * every query fully DuckDB-oracled (the classifier oracle replays all
  * training rounds in SQL, the same style as the BPE-training replay).
  */
object CurationQueries {

  // ----------------------------------------------------------- fixtures

  /** Planted suffixes: the corpus text is language-uniform by construction
    * (TESTDATA.md), so distribution-level operators plant their signal —
    * the standing fixture idiom (planted PII / HTML / near-dups). */
  private val TgtSuffix = " mlcorpus arxiv theorem proof dataset"
  private val JunkSuffix = " casino jackpot lottery spin bonus"
  private val QualSuffix = " granary ledger manifold axiom verifier"
  private val SpamSuffix = " clickbait payday roulette pyramid scamlet"

  private val DsirB = 256 // power of two: unsigned-mod == signed-mod replay
  private val LrB = 128
  private val LrRounds = 6
  private val LrLr = 1.0

  private def dsirAug(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id").cast("string").as("docid"),
        concat(col("text"),
          when(col("doc_id") % 7 <= 1, lit(TgtSuffix)).otherwise(lit(JunkSuffix)))
          .as("text"))

  private def lrAug(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id").cast("string").as("docid"),
        (col("doc_id") % 3 === 0).cast("int").as("y"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, lit(QualSuffix)).otherwise(lit(SpamSuffix)))
          .as("text"))

  /** Shared DSIR weight frame for q_dsir_weights / q_select_dsir — target =
    * the doc_id%7==0 slice of the suffix-planted corpus. Pinned once per
    * (session, input) (r6): the two consumers each re-tokenized the corpus
    * twice (full + target slice) per invocation for the same
    * document-sized weight frame. */
  private val dsirMemo = new Memo.BoundedMemo[DataFrame]
  private def dsirWeightFrame(s: SparkSession, d: String): DataFrame =
    dsirMemo.getOrBuild((s, s"$d|dsirweights")) {
      val aug = dsirAug(s, d)
      val feats = Curation.bucketCounts(Tokenize.tokDocsOfText(aug), DsirB)
      val tgtFeats = Curation.bucketCounts(
        Tokenize.tokDocsOfText(aug.filter(col("docid").cast("long") % 7 === 0)), DsirB)
      graft.plans.Pinned.pin(
        Curation.dsirWeights(feats, Curation.dsirDeltas(feats, tgtFeats, DsirB)))
    }

  /** Pinned once per (session, input) (r6): the feature frame is the
    * shared prefix of LR training (warm phase), q_lr_score and
    * q_select_classifier — each invocation re-tokenized the corpus for the
    * same document-sized hashed-presence frame. */
  private val lrFeatMemo = new Memo.BoundedMemo[DataFrame]
  private def lrFeat(s: SparkSession, d: String): DataFrame =
    lrFeatMemo.getOrBuild((s, s"$d|lrfeat")) {
      val aug = lrAug(s, d)
      graft.plans.Pinned.pin(
        Curation.presenceFeatures(Tokenize.tokDocsOfText(aug), LrB)
          .join(aug.select("docid", "y"), "docid"))
    }

  /** The trained model, once per (session, input): q_lr_train and
    * q_lr_score share one training run, and Bench warms it explicitly. It
    * is pure driver data (B+1 longs), so releasing an entry frees nothing. */
  private val lrMemo = new Memo.BoundedMemo[Curation.LrModel]

  private[graft] def lrModelOf(s: SparkSession, d: String): Curation.LrModel =
    lrMemo.getOrBuild((s, s"$d|lrmodel")) {
      Curation.trainLogReg(lrFeat(s, d), LrB, LrRounds, LrLr)
    }

  /** Bench warm hook: charge the one-time LR training to the warm phase
    * (the BPE-training accounting rule, VERDICT r4 #3). */
  private[graft] def warmLr(s: SparkSession, d: String): Unit = { lrModelOf(s, d); () }

  // ------------------------------------------------------------ queries

  def sparkQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // URL canonicalization + URL-level dedup: four planted spellings per
    // page (default port / case / trailing slash / tracking params /
    // fragment vs a genuinely distinct https variant) collapse 4 rows into
    // 2 canonical URLs with the min doc_id as survivor.
    "q_url_dedup" -> ((s, d) => {
      val g = expr("doc_id div 4").cast("long")
      val v = col("doc_id") % 4
      val site = (g % 29).cast("string")
      val gs = g.cast("string")
      val pages = s.read.parquet(s"$d/documents.parquet").filter(col("doc_id") < 400)
        .select(col("doc_id"),
          when(v === 0, concat(lit("http://Site"), site, lit(".example:80/p/"), gs,
            lit("?x=1&utm_source=tw#frag")))
            .when(v === 1, concat(lit("HTTP://site"), site, lit(".EXAMPLE/p/"), gs,
              lit("/?x=1")))
            .when(v === 2, concat(lit("http://site"), site, lit(".example/p/"), gs,
              lit("?utm_campaign=c&x=1")))
            .otherwise(concat(lit("https://site"), site, lit(".example:443/p/"), gs,
              lit("?b=2&x=1")))
            .as("url"))
      Curation.urlDedup(pages, "url", "doc_id").orderBy("canon_url")
    }),

    // crawl-frontier politeness scheduling: 400 planted URLs over 17 hosts
    // (mixed-case spellings, a kept non-default port — canonicalization is
    // in the scheduled path), planted per-URL priority; at most 5 fetches
    // per host per wave, priority-descending, canonical-URL tie-break —
    // every (wave, slot) assignment hash-checked
    "q_web_frontier" -> ((s, d) => {
      val urls = s.read.parquet(s"$d/documents.parquet").filter(col("doc_id") < 400)
        .select(concat(lit("HTTP://Site"), (col("doc_id") % 17).cast("string"),
            lit(".example:8080/p/"), col("doc_id").cast("string")).as("url"),
          ((col("doc_id") * 37) % 101).cast("long").as("priority"))
      Curation.frontierSchedule(urls, perWave = 5).orderBy("canon_url")
    }),

    // crawl-budget apportionment: 29 planted hosts with quadratic-residue
    // weights ((h*h) % 97 — varied, one zero-weight host), budget 10007
    // (prime, so remainders are nontrivial); floor shares, remainders, and
    // the top-K bonus all replay exactly — and sum(budget) == 10007 is
    // implied by the hash
    "q_web_budget" -> ((s, d) => {
      val hosts = s.read.parquet(s"$d/documents.parquet").filter(col("doc_id") < 290)
        .select((col("doc_id") % 29).as("h")).distinct()
        .select(concat(lit("site"), col("h").cast("string"), lit(".example")).as("host"),
          ((col("h") * col("h")) % 97).cast("long").as("w"))
      Curation.crawlBudget(hosts, 10007L).orderBy("host")
    }),

    // robots-style gating: planted per-host rule sets exercising every
    // RFC 9309 longest-match arm — a global '/private' disallow, a LONGER
    // '/private/pub' allow on even hosts, an equal-length allow/disallow
    // tie ('/x' on h%5==0, allow wins), a block-all '' disallow on h%3==0
    // (overridden by any longer match), and the no-rule default (allowed,
    // rule_len -1); every decision + audit column hash-checked
    "q_web_robots" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet").filter(col("doc_id") < 400)
      val hcol = col("doc_id") % 29
      val urls = docs.select(concat(
        lit("http://site"), hcol.cast("string"), lit(".example"),
        when(col("doc_id") % 4 === 0, concat(lit("/p/"), col("doc_id").cast("string")))
          .when(col("doc_id") % 4 === 1, concat(lit("/private/p"), col("doc_id").cast("string")))
          .when(col("doc_id") % 4 === 2, concat(lit("/private/pub/"), col("doc_id").cast("string")))
          .otherwise(concat(lit("/x"), col("doc_id").cast("string")))).as("url"))
      val hosts = docs.select(hcol.as("h")).distinct()
        .select(col("h"),
          concat(lit("site"), col("h").cast("string"), lit(".example")).as("host"))
      def arm(cond: org.apache.spark.sql.Column, prefix: String, allow: Int) =
        hosts.filter(cond).select(col("host"),
          lit(prefix).as("prefix"), lit(allow).as("allow"))
      val rules = arm(lit(true), "/private", 0)
        .unionByName(arm(col("h") % 2 === 0, "/private/pub", 1))
        .unionByName(arm(col("h") % 5 === 0, "/x", 1))
        .unionByName(arm(col("h") % 5 === 0, "/x", 0))
        .unionByName(arm(col("h") % 3 === 0, "", 0))
      Curation.robotsGate(urls, rules).orderBy("canon_url")
    }),

    // crawl-plan capstone: the composed loop — authority-weighted budgets
    // (crawlBudget) cut the politeness-scheduled frontier
    // (frontierSchedule): a URL is fetched this cycle iff its global
    // per-host position (wave*perWave + slot) fits inside its host's
    // budget. Pure composition of two oracled operators; the join and the
    // cut replay relationally
    "q_web_crawlplan" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet").filter(col("doc_id") < 400)
      val urls = docs.select(concat(lit("HTTP://Site"), (col("doc_id") % 29).cast("string"),
          lit(".example:8080/p/"), col("doc_id").cast("string")).as("url"),
        ((col("doc_id") * 37) % 101).cast("long").as("priority"))
      val hosts = docs.select((col("doc_id") % 29).as("h")).distinct()
        .select(concat(lit("site"), col("h").cast("string"), lit(".example")).as("host"),
          ((col("h") * col("h")) % 97).cast("long").as("w"))
      val budget = Curation.crawlBudget(hosts, 500L).select(col("host"), col("budget"))
      Curation.frontierSchedule(urls, perWave = 5)
        .join(budget, Seq("host"), "left")
        .select(col("canon_url"), col("host"), col("wave"), col("slot"),
          when(col("wave") * 5 + col("slot") < coalesce(col("budget"), lit(0L)), 1L)
            .otherwise(0L).as("selected"))
        .orderBy("canon_url")
    }),

    // DSIR importance weights: target = the doc_id%7==0 slice (planted
    // target-domain suffix, which doc_id%7==1 docs share — those must
    // score target-like without being in the target set).
    "q_dsir_weights" -> ((s, d) =>
      dsirWeightFrame(s, d)
        .select(col("docid").cast("long").as("docid"), col("n_toks"), col("logw_q_e6"))
        .orderBy("docid")),

    // DSIR emit: deterministic Gumbel-top-k importance resampling (sampling
    // without replacement ∝ exp(logw)) — the 100-doc selected slice, fully
    // SQL-replayed (hash-seeded Gumbel keys, top-k, rank).
    "q_select_dsir" -> ((s, d) =>
      Curation.dsirResample(dsirWeightFrame(s, d), k = 100, seed = "dsir")
        .orderBy("rank")),

    // Hashed-LR quality classifier, trained weights after all rounds
    // (bucket -1 = bias). The oracle replays every training round in SQL.
    "q_lr_train" -> ((s, d) => {
      val m = lrModelOf(s, d)
      import s.implicits._
      ((-1L, m.biasq) +: m.wq.toSeq.zipWithIndex.map { case (w, i) => (i.toLong, w) })
        .toDF("bucket", "wq").orderBy("bucket")
    }),

    // Per-doc margins + predictions under the trained model.
    "q_lr_score" -> ((s, d) => {
      val m = lrModelOf(s, d)
      Curation.scoreLogReg(lrFeat(s, d), m)
        .select(col("docid").cast("long").as("docid"), col("y"),
          col("margin_q"), col("pred"))
        .orderBy("docid")
    }),

    // DCLM end-to-end selection: classifier margin as the quality score,
    // token-budget cut (30% of the corpus) via the weighted
    // histogram-refinement selection — classifier → budget threshold →
    // emitted corpus slice, never a global sort. Whole tie classes are
    // admitted, so the budget is a hard ceiling (Selection contract).
    "q_select_classifier" -> ((s, d) => {
      val m = lrModelOf(s, d)
      val scored = Curation.scoreLogReg(lrFeat(s, d), m)
        .join(lrAug(s, d).select(col("docid"),
          operators.TextStats.wordTokenCount(col("text")).as("ntok")), "docid")
        .filter(col("ntok") > 0)
        .select(col("docid").cast("long").as("docid"), col("margin_q"), col("ntok"))
        .persist()
      try {
        val budget = scored.agg(sum(col("ntok"))).head().getLong(0) * 3L / 10L
        val t = operators.Selection.budgetCutScore(scored, "margin_q", "ntok", budget)
        graft.plans.Pinned.pin(scored.filter(col("margin_q") >= t)
          .select(col("docid"), col("margin_q"), col("ntok"), lit(t).as("cut_score"))
          .orderBy("docid"))
      } finally scored.unpersist()
    }))

  // ------------------------------------------------------------- oracle

  /** Shared DSIR oracle chain ending in `wt(docid, n_toks, logw_q_e6)` —
    * the planted-suffix corpus, FNV bucket counts, Laplace-smoothed
    * per-bucket micro-nat deltas, and the exact BIGINT per-doc weight. */
  private def dsirCte: String =
    s"""WITH aug AS (
       |  SELECT doc_id,
       |         text || CASE WHEN doc_id % 7 <= 1 THEN '$TgtSuffix' ELSE '$JunkSuffix' END AS text
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id,
       |         unnest(${Tokenize.termsSql("text")}) AS tok
       |  FROM aug),
       |bx AS (
       |  SELECT doc_id, CAST(${Hashes.fnvSql("tok")} % $DsirB AS BIGINT) AS bucket
       |  FROM tok),
       |feat AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt FROM bx GROUP BY 1, 2),
       |raw AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS r FROM feat GROUP BY 1),
       |tgt AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS t FROM feat WHERE doc_id % 7 = 0 GROUP BY 1),
       |tot AS (SELECT (SELECT CAST(sum(r) AS BIGINT) FROM raw) AS rtot,
       |               (SELECT CAST(sum(t) AS BIGINT) FROM tgt) AS ttot),
       |del AS (
       |  SELECT raw.bucket,
       |         CAST(round((ln((coalesce(tgt.t, 0) + 1.0) / (tot.ttot + $DsirB.0))
       |                   - ln((raw.r + 1.0) / (tot.rtot + $DsirB.0))) * 1000000) AS BIGINT) AS qdelta
       |  FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket CROSS JOIN tot),
       |wt AS (
       |  SELECT CAST(f.doc_id AS BIGINT) AS docid, CAST(sum(f.cnt) AS BIGINT) AS n_toks,
       |         CAST(sum(f.cnt * d.qdelta) AS BIGINT) AS logw_q_e6
       |  FROM feat f JOIN del d ON f.bucket = d.bucket
       |  GROUP BY 1)""".stripMargin

  /** Shared LR oracle prefix: planted labels + presence features + the
    * round-0 zero-weight spine. The feature CTEs are AS MATERIALIZED —
    * load-bearing, not a hint (BPE-replay precedent): each round references
    * the previous round twice, so inlining would re-expand the whole
    * FNV-hash prefix 2^rounds times. */
  private def lrPrefix: String =
    s"""WITH aug AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y,
       |         text || CASE WHEN doc_id % 3 = 0 THEN '$QualSuffix' ELSE '$SpamSuffix' END AS text
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, y,
       |         unnest(${Tokenize.termsSql("text")}) AS tok
       |  FROM aug),
       |featb AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, y,
       |         CAST(${Hashes.fnvSql("tok")} % $LrB AS BIGINT) AS bucket
       |  FROM tok),
       |ub AS MATERIALIZED (
       |  SELECT doc_id, bucket FROM featb
       |  UNION ALL SELECT DISTINCT doc_id, CAST(-1 AS BIGINT) FROM featb),
       |nd AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM aug),
       |w0 AS MATERIALIZED (SELECT unnest(range(-1, $LrB)) AS bucket, CAST(0 AS BIGINT) AS wq)""".stripMargin

  /** One SQL training round r: margins from w(r-1), per-doc quantized
    * gradient, per-bucket gradient sums (bucket -1 = bias), weight update
    * round(lr·grad/n) — the exact driver-side arithmetic. */
  private def lrRound(r: Int): String =
    s""",b$r AS (SELECT wq AS bias FROM w${r - 1} WHERE bucket = -1),
       |m$r AS (
       |  SELECT f.doc_id, f.y, CAST(c.bias + sum(w.wq) AS BIGINT) AS margin
       |  FROM featb f JOIN w${r - 1} w ON f.bucket = w.bucket CROSS JOIN b$r c
       |  GROUP BY f.doc_id, f.y, c.bias),
       |g$r AS (
       |  SELECT doc_id,
       |         CAST(round((y - 1.0/(1.0 + exp(-CAST(margin AS DOUBLE)/1000000.0))) * 1000000) AS BIGINT) AS gq
       |  FROM m$r),
       |gr$r AS (
       |  SELECT u.bucket, CAST(sum(g.gq) AS BIGINT) AS grad
       |  FROM g$r g JOIN ub u ON g.doc_id = u.doc_id
       |  GROUP BY 1),
       |w$r AS MATERIALIZED (
       |  SELECT w.bucket,
       |         CAST(w.wq + coalesce(CAST(round($LrLr * g.grad / n.n) AS BIGINT), 0) AS BIGINT) AS wq
       |  FROM w${r - 1} w LEFT JOIN gr$r g ON w.bucket = g.bucket CROSS JOIN nd n)""".stripMargin

  private def lrChain: String = lrPrefix + (1 to LrRounds).map(lrRound).mkString

  def oracle: Map[String, String] = Map(

    "q_url_dedup" ->
      """WITH pl AS (
        |  SELECT doc_id,
        |         CASE doc_id % 4
        |           WHEN 0 THEN 'http://Site' || CAST((doc_id // 4) % 29 AS VARCHAR) || '.example:80/p/'
        |                       || CAST(doc_id // 4 AS VARCHAR) || '?x=1&utm_source=tw#frag'
        |           WHEN 1 THEN 'HTTP://site' || CAST((doc_id // 4) % 29 AS VARCHAR) || '.EXAMPLE/p/'
        |                       || CAST(doc_id // 4 AS VARCHAR) || '/?x=1'
        |           WHEN 2 THEN 'http://site' || CAST((doc_id // 4) % 29 AS VARCHAR) || '.example/p/'
        |                       || CAST(doc_id // 4 AS VARCHAR) || '?utm_campaign=c&x=1'
        |           ELSE 'https://site' || CAST((doc_id // 4) % 29 AS VARCHAR) || '.example:443/p/'
        |                || CAST(doc_id // 4 AS VARCHAR) || '?b=2&x=1'
        |         END AS url
        |  FROM documents WHERE doc_id < 400),
        |parts AS (
        |  SELECT doc_id,
        |         lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
        |         lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1)) AS host,
        |         TRY_CAST(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/:?#]*:([0-9]+)', 1) AS INT) AS portn,
        |         regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
        |         regexp_extract(url, '^[^#?]*\?([^#]*)', 1) AS rawq
        |  FROM pl),
        |canon AS (
        |  SELECT doc_id,
        |         scheme || '://' || host ||
        |         CASE WHEN portn IS NULL OR (scheme = 'http' AND portn = 80)
        |                   OR (scheme = 'https' AND portn = 443) THEN ''
        |              ELSE ':' || CAST(portn AS VARCHAR) END ||
        |         CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
        |              ELSE regexp_replace(rawpath, '/+$', '') END ||
        |         CASE WHEN len(ps) = 0 THEN '' ELSE '?' || array_to_string(ps, '&') END AS canon_url
        |  FROM (SELECT *, list_sort(list_filter(string_split(rawq, '&'),
        |            p -> p <> '' AND NOT regexp_matches(p, '^(utm_[a-z0-9_]*|fbclid|gclid|msclkid)(=|$)'))) AS ps
        |        FROM parts)
        |  WHERE scheme <> '' AND host <> '')
        |SELECT canon_url, CAST(count(*) AS BIGINT) AS n_variants,
        |       CAST(min(doc_id) AS BIGINT) AS survivor_id
        |FROM canon GROUP BY 1 ORDER BY 1""".stripMargin,

    // frontier scheduling: the canonical form is recomputed from the
    // synthesis formula (canonicalUrl's regex chain is pinned by
    // q_url_dedup); the window replays (priority DESC, canon_url) ranks
    // and the wave/slot integer arithmetic
    "q_web_frontier" ->
      """WITH u AS (
        |  SELECT 'http://site' || CAST(doc_id % 17 AS VARCHAR) || '.example:8080/p/'
        |           || CAST(doc_id AS VARCHAR) AS canon_url,
        |         'site' || CAST(doc_id % 17 AS VARCHAR) || '.example' AS host,
        |         CAST((doc_id * 37) % 101 AS BIGINT) AS priority
        |  FROM documents WHERE doc_id < 400
        |),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY host ORDER BY priority DESC, canon_url) - 1 AS rn
        |  FROM u
        |)
        |SELECT canon_url, host, priority,
        |       CAST(rn // 5 AS BIGINT) AS wave, CAST(rn % 5 AS BIGINT) AS slot
        |FROM r ORDER BY canon_url""".stripMargin,

    // crawl plan: both operator chains replayed, then the budget cut
    "q_web_crawlplan" ->
      """WITH hosts AS (
        |  SELECT 'site' || CAST(h AS VARCHAR) || '.example' AS host,
        |         CAST((h * h) % 97 AS BIGINT) AS w
        |  FROM (SELECT DISTINCT doc_id % 29 AS h FROM documents WHERE doc_id < 400)
        |),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM hosts),
        |base AS (
        |  SELECT host, w,
        |         CAST((CAST(w AS HUGEINT) * 500) // wt AS BIGINT) AS fl,
        |         CAST((CAST(w AS HUGEINT) * 500) % wt AS BIGINT) AS rem
        |  FROM hosts CROSS JOIN tot
        |),
        |k AS (SELECT 500 - CAST(sum(fl) AS BIGINT) AS kk FROM base),
        |bud AS (
        |  SELECT host, fl + CASE WHEN rn <= kk THEN 1 ELSE 0 END AS budget
        |  FROM (SELECT *, row_number() OVER (ORDER BY rem DESC, host) AS rn FROM base)
        |  CROSS JOIN k
        |),
        |u AS (
        |  SELECT 'http://site' || CAST(doc_id % 29 AS VARCHAR) || '.example:8080/p/'
        |           || CAST(doc_id AS VARCHAR) AS canon_url,
        |         'site' || CAST(doc_id % 29 AS VARCHAR) || '.example' AS host,
        |         CAST((doc_id * 37) % 101 AS BIGINT) AS priority
        |  FROM documents WHERE doc_id < 400
        |),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY host ORDER BY priority DESC, canon_url) - 1 AS rn
        |  FROM u
        |)
        |SELECT r.canon_url, r.host,
        |       CAST(rn // 5 AS BIGINT) AS wave, CAST(rn % 5 AS BIGINT) AS slot,
        |       CAST(CASE WHEN rn < COALESCE(bud.budget, 0) THEN 1 ELSE 0 END AS BIGINT) AS selected
        |FROM r LEFT JOIN bud ON bud.host = r.host
        |ORDER BY r.canon_url""".stripMargin,

    // largest-remainder apportionment in HUGEINT (exact // and %): floor
    // shares, remainder rank (rem DESC, host), top-K bonus
    "q_web_budget" ->
      """WITH hosts AS (
        |  SELECT 'site' || CAST(h AS VARCHAR) || '.example' AS host,
        |         CAST((h * h) % 97 AS BIGINT) AS w
        |  FROM (SELECT DISTINCT doc_id % 29 AS h FROM documents WHERE doc_id < 290)
        |),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM hosts),
        |base AS (
        |  SELECT host, w,
        |         CAST((CAST(w AS HUGEINT) * 10007) // wt AS BIGINT) AS fl,
        |         CAST((CAST(w AS HUGEINT) * 10007) % wt AS BIGINT) AS rem
        |  FROM hosts CROSS JOIN tot
        |),
        |k AS (SELECT 10007 - CAST(sum(fl) AS BIGINT) AS kk FROM base),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, host) AS rn FROM base)
        |SELECT host, w, CAST(fl + CASE WHEN rn <= kk THEN 1 ELSE 0 END AS BIGINT) AS budget
        |FROM r CROSS JOIN k ORDER BY host""".stripMargin,

    // robots gating: relational replay of the longest-match rule — rank a
    // url's matching rules by (len DESC, allow DESC) and keep the winner;
    // the engine's array-fold computes the same max over the same total
    // order, so decisions agree exactly
    "q_web_robots" ->
      """WITH hn AS (
        |  SELECT h, 'site' || CAST(h AS VARCHAR) || '.example' AS host
        |  FROM (SELECT DISTINCT doc_id % 29 AS h FROM documents WHERE doc_id < 400)
        |),
        |rules AS (
        |  SELECT host, '/private' AS prefix, 0 AS allow FROM hn
        |  UNION ALL SELECT host, '/private/pub', 1 FROM hn WHERE h % 2 = 0
        |  UNION ALL SELECT host, '/x', 1 FROM hn WHERE h % 5 = 0
        |  UNION ALL SELECT host, '/x', 0 FROM hn WHERE h % 5 = 0
        |  UNION ALL SELECT host, '', 0 FROM hn WHERE h % 3 = 0
        |),
        |u AS (
        |  SELECT 'http://site' || CAST(doc_id % 29 AS VARCHAR) || '.example' || p AS canon_url,
        |         'site' || CAST(doc_id % 29 AS VARCHAR) || '.example' AS host,
        |         p AS path
        |  FROM (
        |    SELECT doc_id,
        |           CASE doc_id % 4
        |             WHEN 0 THEN '/p/' || CAST(doc_id AS VARCHAR)
        |             WHEN 1 THEN '/private/p' || CAST(doc_id AS VARCHAR)
        |             WHEN 2 THEN '/private/pub/' || CAST(doc_id AS VARCHAR)
        |             ELSE '/x' || CAST(doc_id AS VARCHAR) END AS p
        |    FROM documents WHERE doc_id < 400)
        |),
        |m AS (
        |  SELECT u.canon_url, r.prefix, r.allow,
        |         row_number() OVER (PARTITION BY u.canon_url
        |                            ORDER BY len(r.prefix) DESC, r.allow DESC) AS rn
        |  FROM u JOIN rules r ON r.host = u.host AND starts_with(u.path, r.prefix)
        |)
        |SELECT u.canon_url, u.host, u.path,
        |       CAST(COALESCE(m.allow, 1) AS BIGINT) AS allowed,
        |       CAST(COALESCE(len(m.prefix), -1) AS BIGINT) AS rule_len
        |FROM u LEFT JOIN (SELECT * FROM m WHERE rn = 1) m ON m.canon_url = u.canon_url
        |ORDER BY u.canon_url""".stripMargin,

    "q_dsir_weights" ->
      s"""$dsirCte
         |SELECT docid, n_toks, logw_q_e6 FROM wt ORDER BY docid""".stripMargin,

    // Gumbel-top-k resample over the same weight chain: the hash-seeded
    // Gumbel key is per-row (FNV as HUGEINT mod 2^64, top 53 bits -> exact
    // double), top-100 by (key desc, docid), ranks over the survivors only.
    "q_select_dsir" ->
      s"""$dsirCte,
         |ky AS (
         |  SELECT docid, logw_q_e6,
         |         logw_q_e6 + CAST(round(-ln(-ln(
         |           (CAST(${Hashes.fnvSql("'dsir:' || CAST(docid AS VARCHAR)")} // 2048 AS DOUBLE) + 0.5)
         |             / 9007199254740992.0)) * 1000000) AS BIGINT) AS key_q
         |  FROM wt),
         |top AS (SELECT docid, logw_q_e6, key_q FROM ky ORDER BY key_q DESC, docid LIMIT 100)
         |SELECT row_number() OVER (ORDER BY key_q DESC, docid) AS rank,
         |       docid, logw_q_e6, key_q
         |FROM top ORDER BY rank""".stripMargin,

    "q_lr_train" ->
      s"""$lrChain
         |SELECT bucket, wq FROM w$LrRounds ORDER BY bucket""".stripMargin,

    "q_lr_score" ->
      s"""$lrChain,
         |bf AS (SELECT wq AS bias FROM w$LrRounds WHERE bucket = -1),
         |mf AS (
         |  SELECT f.doc_id, f.y, CAST(c.bias + sum(w.wq) AS BIGINT) AS margin
         |  FROM featb f JOIN w$LrRounds w ON f.bucket = w.bucket CROSS JOIN bf c
         |  GROUP BY f.doc_id, f.y, c.bias)
         |SELECT CAST(doc_id AS BIGINT) AS docid, CAST(y AS BIGINT) AS y,
         |       margin AS margin_q,
         |       CAST(CASE WHEN margin > 0 THEN 1 ELSE 0 END AS INT) AS pred
         |FROM mf ORDER BY 1""".stripMargin,

    // classifier margins + the q_select_budget descending-cumulative twin
    "q_select_classifier" ->
      s"""$lrChain,
         |bf AS (SELECT wq AS bias FROM w$LrRounds WHERE bucket = -1),
         |mf AS (
         |  SELECT f.doc_id, CAST(c.bias + sum(w.wq) AS BIGINT) AS margin
         |  FROM featb f JOIN w$LrRounds w ON f.bucket = w.bucket CROSS JOIN bf c
         |  GROUP BY f.doc_id, c.bias),
         |nt AS (
         |  SELECT doc_id,
         |         CAST(len(${Tokenize.termsSql("text")}) AS BIGINT) AS ntok
         |  FROM aug),
         |sx AS (SELECT mf.doc_id, mf.margin, nt.ntok
         |       FROM mf JOIN nt ON mf.doc_id = nt.doc_id WHERE nt.ntok > 0),
         |bud AS (SELECT (sum(ntok) * 3) // 10 AS budget FROM sx),
         |cls AS (SELECT margin, sum(ntok) AS w FROM sx GROUP BY margin),
         |cum AS (SELECT margin, sum(w) OVER (ORDER BY margin DESC) AS wge FROM cls),
         |thr AS (SELECT coalesce(min(margin), (SELECT max(margin) + 1 FROM sx)) AS t
         |        FROM cum, bud WHERE wge <= budget)
         |SELECT CAST(sx.doc_id AS BIGINT) AS docid, sx.margin AS margin_q,
         |       sx.ntok, CAST(thr.t AS BIGINT) AS cut_score
         |FROM sx, thr WHERE sx.margin >= thr.t
         |ORDER BY 1""".stripMargin)
}
