package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlannedPartitions

import graft.ml.SenseInduction
import graft.operators.{Cooc, Linking, Significance, Tokenize}
import graft.plans.Checkpoint
import graft.sources.TableIO

/** Query lifecycles (SURVEY.md §3).
  *
  * E2 `coStats`: scan → doc-local tokenize/window (narrow, one mapPartitions
  * pass) → salted wide counts → broadcast dictionary join → codegen'd
  * hypergeometric scoring → Bonferroni filter → per-entity top-k.
  * This is the minimum slice and the primary oracle-checked chain.
  */
object Pipeline {

  final case class CoStats(
      tokens: Dataset[Token],
      coverage: Dataset[CovTok],
      contingency: DataFrame, // (entity, term, k, n, bigk, bign)
      scored: DataFrame, // + logp
      significant: DataFrame, // Bonferroni-filtered
      top: DataFrame, // + rank, capped at cfg.topK
      /** vocab-bounded frames the chain persisted internally (cooc,
        * marginals) — owners (Memo eviction, callers) unpersist these
        * together with coverage/scored. */
      internal: Seq[DataFrame] = Nil)

  def coStats(docs: Dataset[CodeDoc], cfg: WsidConfig): CoStats =
    coStatsFrom(Tokenize.tokDocs(guard(docs, cfg), cfg), cfg)

  /** E2 over a shared tokenized projection: content is tokenized exactly once
    * (upstream, ideally persisted) and coverage/marginals both derive from it
    * — the same single-scan shape induceAndEmit uses. */
  def coStatsFrom(tokdocs: Dataset[TokDoc], cfg: WsidConfig): CoStats = {
    val spark = tokdocs.sparkSession
    val toks = Tokenize.tokensFrom(tokdocs)
    val cov = Tokenize.coverageFrom(tokdocs, cfg)
    val (cont, caches) = Cooc.contingency(spark, toks, cov, cfg)
    val scored = Significance.withLogp(cont)
    val sig = Significance.significant(scored, cfg)
    val top = Significance.topK(sig, cfg)
    CoStats(toks, cov, cont, scored, sig, top, caches)
  }

  /** P2 doc guard. */
  def guard(docs: Dataset[CodeDoc], cfg: WsidConfig): Dataset[CodeDoc] =
    docs.filter(length(col("content")).between(1, cfg.maxDocChars)).as(docs.encoder)

  final case class E1Result(
      triples: DataFrame,
      senseVec: DataFrame,
      assignments: DataFrame,
      checkpoint: Option[Checkpoint],
      /** Unpersist every stage this run cached (cache hygiene for long-lived
        * sessions running many pipelines). Blocking=false: lazily evicted. */
      cleanup: () => Unit = () => ())

  /** E1 flagship: induce senses and emit the knowledge graph
    * (BASELINE.json:6). When `ckptRoot` is set, every boundary stage writes
    * a parquet+manifest checkpoint and the run resumes mid-pipeline
    * (SURVEY.md §3 E1, §4.3).
    *
    * `corpusId` identifies the input corpus in the checkpoint fingerprint
    * chain (e.g. the source table URI) so a different input never resumes
    * from a stale checkpoint. */
  def induceAndEmit(spark: SparkSession, docs: Dataset[CodeDoc], cfg: WsidConfig,
                    ckptRoot: Option[String] = None, corpusId: String = "",
                    sharedTokDocs: Option[Dataset[TokDoc]] = None): E1Result = {
    Tuning.ensure(spark)
    val ck = ckptRoot.map(new Checkpoint(spark, _))
    val cfgId = s"$corpusId|${cfg.canonicalId}"
    val persisted = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
    // checkpoint parquet doubles as stage materialization; without it,
    // persist each reused stage so downstream actions don't re-run the
    // whole upstream chain (ALS alone takes ~30 actions)
    def staged(name: String, inputs: Seq[String])(compute: => DataFrame): DataFrame = {
      // §1.5 job labels: every action triggered while building this stage
      // shows up under its name in the UI / listener profiles
      spark.sparkContext.setJobDescription(s"e1:$name")
      try ck match {
        case Some(c) => c.stage(name, inputs, cfgId)(compute)
        case None =>
          val df = compute.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          persisted += df
          df
      } finally spark.sparkContext.setJobDescription(null)
    }

    val guarded = guard(docs, cfg)

    // lineage invariant table: per-row sha256(content) (BASELINE.json:15),
    // kept with the checkpointed store; an in-memory run has no reader for it
    if (ck.isDefined) staged("dochash", Nil) {
      guarded.select(col("repo"), col("path"), col("commit"),
        sha2(col("content"), 256).as("sha256"))
    }

    // content tokenized exactly once; the cached columnar projection
    // (dictionary-encoded terms) feeds coverage, marginals and context rows.
    // A caller-shared projection (Memo) is reused as-is and NOT unpersisted
    // by this run's cleanup — its lifetime belongs to the caller.
    val tokdocs = sharedTokDocs.getOrElse {
      val td = Tokenize.tokDocs(guarded, cfg)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      persisted += td
      td
    }

    // A projection in fewer partitions than task slots (a corpus of one
    // parquet split) would run every pass below in that many tasks. The
    // integer and set passes read it hash-spread by document: their BIGINT
    // counts and distincts do not depend on partitioning. The partition
    // count is read from the plan; no job runs for it.
    val slots = spark.sparkContext.defaultParallelism
    val scanPartitions = PlannedPartitions.of(tokdocs.toDF())
    val byDoc =
      if (scanPartitions.exists(_ < slots)) tokdocs.repartition(slots, col("docid")) else tokdocs

    val cov = staged("coverage", Nil)(Tokenize.coverageFrom(byDoc, cfg).toDF())

    val sigcooc = staged("sigcooc", Seq("coverage")) {
      import spark.implicits._
      val toks = Tokenize.tokensFrom(byDoc)
      val (cont, caches) = Cooc.contingency(spark, toks, cov.as[CovTok], cfg)
      caches.foreach(persisted += _) // cleanup() owns the chain's caches
      // Bonferroni filter + top-k cap, with a pure-dataflow per-entity
      // fallback for corpora where nothing clears the cut
      Significance.descriptors(Significance.withLogp(cont), cfg)
    }

    // per-mention sparse context vectors, built doc-locally against the
    // broadcast dictionary, from the projection in scan order. NMF sums each
    // entity's contexts in order, so a one-partition projection's rows are
    // spread by entity, never by document: an exchange from one map
    // partition keeps each reducer's rows in map order, so every entity's
    // contexts stay whole and in scan order, each entity yields one partial,
    // and the fitted senses are bit-identical to a one-partition fit (the
    // checkpoint writes each entity into one file, so its read-back keeps
    // the order). A larger projection keeps its layout: an entity exchange
    // would cap NMF at one task per entity.
    val ctxrows = staged("ctxrows", Seq("sigcooc")) {
      import spark.implicits._
      val dict = SenseInduction.dictionary(sigcooc).collect()
        .groupBy(_.getString(0))
        .map { case (e, rows) => e -> rows.map(r => r.getString(1) -> r.getInt(2)).toMap }
      val ctx = Tokenize.contextRowsFrom(tokdocs, cfg, dict).toDF()
      if (scanPartitions.contains(1) && slots > 1) ctx.repartition(slots, col("entity")) else ctx
    }

    // ctxrows is already cached in compact columnar form by staged();
    // each NMF pass decodes Ctx records from it (decode < re-tokenize, and
    // the columnar cache is ~5x smaller on heap than Java Ctx objects)
    val grouped = {
      import spark.implicits._
      ctxrows.as[ml.ThinNMF.Ctx].rdd
    }

    val senseVecRaw = staged("senses", Seq("ctxrows")) {
      SenseInduction.senseMatrix(spark, grouped, cfg)
    }

    val h = SenseInduction.collectH(senseVecRaw)
    val assignRaw = ml.ThinNMF.assign(grouped, spark, h, cfg.minSenseScore)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    persisted += assignRaw
    val (assignments, senseVecRelabeled) = Linking.relabel(assignRaw, senseVecRaw)
    // the RELABELED sense model is the stable public artifact (labels ordered
    // by cluster size); checkpointing it makes E3's one-call loadModel work
    val senseVec = staged("sensevec", Seq("senses"))(senseVecRelabeled)

    // A5 dedup happens per branch on compact keys (hasSenseTriples /
    // coocTriples); the branches cannot collide (disjoint predicates), so no
    // further distinct over the fat triple strings is needed
    val triplesRaw = Linking.hasSenseTriples(assignments)
      .unionByName(coocTriples(toCov(spark, cov), sigcooc))

    // S3 graph materialize (checkpointed mode): the partitioned triple table
    // is the terminal resume point — identical inputs skip the rewrite
    val triples = (ck, ckptRoot) match {
      case (Some(c), Some(root)) =>
        val fp = Seq("coverage", "sigcooc", "senses").map(c.fingerprintOf).mkString("|")
        val uri = s"$root/triples"
        val existing = TableIO.readManifest(spark, s"$uri/_manifest.json")
        if (existing.exists(_.inputFingerprint == fp)) c.resumed += "triples"
        else { TableIO.writeTriples(triplesRaw, uri, fp); c.computed += "triples" }
        TableIO.readTriples(spark, uri)
      case _ => triplesRaw
    }
    E1Result(triples, senseVec, assignments, ck,
      cleanup = () => persisted.foreach(_.unpersist(false)))
  }

  /** One-call E3 model load (wsid's `disambiguate` is a one-call affair):
    * rebuild (dict, senseVec) from the "sigcooc" and "sensevec" stages of an
    * induceAndEmit(ckptRoot = ...) run. The senseVec labels are the stable,
    * size-ordered ones E1Result.senseVec carries. */
  def loadModel(spark: SparkSession, ckptRoot: String): (DataFrame, DataFrame) = {
    val dict = SenseInduction.dictionary(spark.read.parquet(s"$ckptRoot/sigcooc/data"))
    val senseVec = spark.read.parquet(s"$ckptRoot/sensevec/data")
      .select("entity", "senseid", "termid", "weight")
    (dict, senseVec)
  }

  /** True iff a complete model (sigcooc + sensevec manifests) exists at root. */
  def modelExists(spark: SparkSession, ckptRoot: String): Boolean =
    Seq("sigcooc", "sensevec").forall(s =>
      TableIO.readManifest(spark, s"$ckptRoot/$s/_manifest.json").isDefined)

  private def toCov(spark: SparkSession, df: DataFrame): Dataset[CovTok] = {
    import spark.implicits._
    df.as[CovTok]
  }

  /** E3: disambiguate new documents against an existing sense model
    * (dict + senseVec, e.g. loaded from the "sigcooc"/"senses" checkpoints).
    * Embarrassingly parallel: tokenize/window locally, broadcast the model,
    * one final aggregation (SURVEY.md §3 E3). */
  def disambiguate(spark: SparkSession, newDocs: Dataset[CodeDoc], dict: DataFrame,
                   senseVec: DataFrame, cfg: WsidConfig): DataFrame =
    disambiguateFrom(spark, Tokenize.tokDocs(newDocs, cfg), dict, senseVec, cfg)

  /** E3 over a shared tokenized projection (skips re-tokenization when the
    * caller already holds one). */
  def disambiguateFrom(spark: SparkSession, tokdocs: Dataset[TokDoc], dict: DataFrame,
                       senseVec: DataFrame, cfg: WsidConfig): DataFrame = {
    val windows = Tokenize.windowTokensFrom(tokdocs, cfg).toDF()
    val ctxvec = SenseInduction.contextVectors(windows, dict)
    Linking.assign(ctxvec, senseVec, cfg)
  }

  /** coOccursWith triples from the top significant (entity, term) pairs:
    * one triple per (entity@repo/path, term) where the term occurs inside a
    * window of the entity in that doc (SURVEY.md §2.7 L2/L3, SQL-expressible
    * part; hasSense triples are added by the ML stage in E1). DEDUPED here
    * (A5) on the compact pre-concatenation keys — E1's union then needs no
    * further distinct because the two triple branches carry disjoint
    * predicates. */
  def coocTriples(cov: Dataset[CovTok], topTerms: DataFrame): DataFrame = {
    cov.toDF()
      .join(broadcast(topTerms.select("entity", "term")), Seq("entity", "term"))
      // dedup (A5) on compact columns BEFORE building the subject string:
      // the distinct exchange then carries (entity, docpath, term), not
      // pre-concatenated triple strings
      // LAST-'@' strip: the commit suffix goes, a path containing '@'
      // survives intact (mirrored in the q_l3 oracle); codegen'd string
      // primitives, not a per-row regex — this projection runs per
      // occurrence row BEFORE the dedup exchange
      .select(col("entity"), Linking.stripLastSegment(col("docid"), "@").as("docpath"),
        col("term"))
      .distinct()
      .select(
        concat(col("entity"), lit("@"), col("docpath")).as("subj"),
        lit("coOccursWith").as("pred"),
        col("term").as("obj"))
  }

  /** W3C RDF 1.1 N-Triples serialization of a (subj, pred, obj) graph frame
    * — the interchange surface a downstream triple store ingests. Subjects
    * and sense objects become `urn:graft:` IRIs with the IRI-unsafe
    * characters percent-encoded ('%' first so the chain is idempotent-safe
    * and SQL-replayable as the same replace() sequence); `coOccursWith`
    * objects are quoted literals with backslash-then-quote escaping (the
    * N-Triples ECHAR order). Pure codegen'd string expressions, one pass,
    * no shuffle — at 100 TB this is a map-only export stage. */
  def toNTriples(triples: DataFrame): DataFrame = {
    def enc(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      Seq("%" -> "%25", " " -> "%20", "\"" -> "%22", "<" -> "%3C", ">" -> "%3E",
          "\\" -> "%5C", "{" -> "%7B", "}" -> "%7D", "|" -> "%7C", "^" -> "%5E",
          "`" -> "%60")
        .foldLeft(c) { case (acc, (from, to)) => replace(acc, lit(from), lit(to)) }
    def ntLiteral(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      replace(replace(c, lit("\\"), lit("\\\\")), lit("\""), lit("\\\""))
    val subjIri = concat(lit("<urn:graft:ent:"), enc(col("subj")), lit(">"))
    val predIri = concat(lit("<urn:graft:"), col("pred"), lit(">"))
    val objNode = when(col("pred") === "hasSense",
        concat(lit("<urn:graft:sense:"), enc(col("obj")), lit(">")))
      .otherwise(concat(lit("\""), ntLiteral(col("obj")), lit("\"")))
    triples.select(
      concat(subjIri, lit(" "), predIri, lit(" "), objNode, lit(" .")).as("nt"))
  }

  /** N-Triples INGEST — the exact inverse of [[toNTriples]], closing the
    * interchange round-trip (export a graft store, re-read it as a graft
    * store; or ingest a store another engine serialized with the same
    * urn:graft vocabulary). Percent-decoding runs the encode chain in
    * REVERSE ('%25' → '%' LAST, so self-escaped percents can never forge
    * another token), literal unescaping likewise ('\\"' before '\\\\';
    * sound because no ECHAR token ends in '\\' and none starts with '"',
    * so a token boundary can never be mis-paired). Same scale shape as the
    * export: pure codegen'd string expressions, map-only, no shuffle —
    * `spark.read.text` on a 100 TB N-Triples dump feeds straight in. */
  def fromNTriples(nt: DataFrame): DataFrame = {
    def dec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      Seq("%60" -> "`", "%5E" -> "^", "%7C" -> "|", "%7D" -> "}", "%7B" -> "{",
          "%5C" -> "\\", "%3E" -> ">", "%3C" -> "<", "%22" -> "\"",
          "%20" -> " ", "%25" -> "%")
        .foldLeft(c) { case (acc, (from, to)) => replace(acc, lit(from), lit(to)) }
    def unescape(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      replace(replace(c, lit("\\\""), lit("\"")), lit("\\\\"), lit("\\"))
    val line = col("nt")
    val subj = dec(regexp_extract(line, "^<urn:graft:ent:([^>]*)> ", 1))
    val pred = regexp_extract(line, "^<[^>]*> <urn:graft:([^>]*)> ", 1)
    val objIri = regexp_extract(line, "> <urn:graft:sense:([^>]*)> \\.$", 1)
    // literal body: between the outer quotes, lazily up to the final '" .'
    val objLit = regexp_extract(line, "> \"(.*)\" \\.$", 1)
    nt.select(
      subj.as("subj"), pred.as("pred"),
      when(line.rlike("> <urn:graft:sense:[^>]*> \\.$"), dec(objIri))
        .otherwise(unescape(objLit)).as("obj"))
  }
}
