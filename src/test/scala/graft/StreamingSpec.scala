package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.CorpusSynth
import graft.streaming.StreamingOps

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  test("E3 streaming: stateless disambiguation matches the batch path") {
    implicit val sql = spark.sqlContext
    // train a model in batch
    val corpus = CorpusSynth.planted(docsPerEntity = 100)
    val docs = spark.createDataset(corpus.docs).repartition(4)
    val cfg = WsidConfig(entities = Seq("python", "java"), window = 64, kSenses = 2)
    val r = Pipeline.induceAndEmit(spark, docs, cfg)
    val h = ml.SenseInduction.collectH(r.senseVec)
    val cs = Pipeline.coStats(docs, cfg)
    val dict = ml.SenseInduction.dictionary(
        operators.Significance.descriptors(cs.scored, cfg)).collect()
      .groupBy(_.getString(0))
      .map { case (e, rows) => e -> rows.map(x => x.getString(1) -> x.getInt(2)).toMap }

    // held-out docs arrive as a stream
    val held = CorpusSynth.planted(docsPerEntity = 20, seed = 7L)
    val stream = MemoryStream[CodeDoc]
    val out = StreamingOps.disambiguateStream(stream.toDS(), h, cfg, dict)
    val query = out.writeStream.format("memory").queryName("senses_stream")
      .outputMode("append").start()
    try {
      stream.addData(held.docs)
      query.processAllAvailable()
      val streamed = spark.table("senses_stream")
        .select("entity", "ctxid", "senseid").as[(String, String, Int)].collect().toSet
      // batch reference over the same held-out docs
      val batchDocs = spark.createDataset(held.docs).repartition(2)
      val batch = StreamingOps.disambiguateStream(batchDocs, h, cfg, dict)
        .select("entity", "ctxid", "senseid").as[(String, String, Int)].collect().toSet
      assert(streamed == batch)
      assert(streamed.size >= (held.docs.size * 0.95).toInt)
    } finally query.stop()
  }

  test("streaming curation: extractText + quality + secret redaction run unchanged on a stream") {
    // the curation operators are pure column expressions over Dataset[CodeDoc],
    // so the SAME code path must run on a readStream source in append mode
    // with no modification — the property that makes incremental corpus
    // ingest a config change, not a rewrite
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[CodeDoc]
    // extraction FIRST, then redaction — redaction markers (<EMAIL>) would
    // otherwise be tag-stripped by the extractor
    val cleaned = operators.TextStats.redactPii(
      operators.TextStats.extractText(stream.toDS()).as[CodeDoc])
    val query = cleaned.writeStream.format("memory").queryName("curation_stream")
      .outputMode("append").start()
    try {
      stream.addData(
        CodeDoc("r", "a", "c", "en",
          "<html><script>x < 1</script><p>mail me at bob@example.com now</p></html>"),
        CodeDoc("r", "b", "c", "en", "plain  text &amp; stuff"))
      query.processAllAvailable()
      val rows = spark.table("curation_stream")
        .select("path", "content").as[(String, String)].collect().toMap
      assert(rows("a") == "mail me at <EMAIL> now", s"got '${rows("a")}'")
      assert(rows("b") == "plain text & stuff", s"got '${rows("b")}'")
    } finally query.stop()
  }

  test("streaming exact dedup: duplicate content dropped within the watermark") {
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[StreamingOps.TimedDoc]
    val out = StreamingOps.dedupStream(stream.toDS().toDF(), "ts", "10 minutes")
    val query = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      stream.addData(
        StreamingOps.TimedDoc(t(0), "r", "a", "same content"),
        StreamingOps.TimedDoc(t(1), "r", "b", "same content"), // dup within horizon
        StreamingOps.TimedDoc(t(2), "r", "c", "other content"))
      query.processAllAvailable()
      val kept = spark.table("dedup_stream").select("path").as[String].collect().toSet
      assert(kept.contains("c") && kept.size == 2, s"kept=$kept")
      assert(!(kept.contains("a") && kept.contains("b")), s"both dups survived: $kept")
    } finally query.stop()
  }

  test("streaming admission pre-filter: corpus band hits flagged once, parity with batch candidates") {
    implicit val sql = spark.sqlContext
    val a = ("alpha beta gamma delta eps zeta eta theta iota kappa lambda mu " * 4).trim
    val corpus = Seq(
      TokDoc("corp0", a.split(" ")),
      TokDoc("corp1", ("red green blue cyan magenta yellow black white grey pink " * 4).trim.split(" "))
    ).toDS()
    val index = graft.operators.Dedup.minhashBands(corpus, n = 2)
    val stream = MemoryStream[StreamingOps.TimedDoc]
    val out = StreamingOps.admissionFlagStream(stream.toDS(), index, n = 2)
    val query = out.writeStream.format("memory").queryName("admission_stream")
      .outputMode("append").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      val batch = Seq(
        StreamingOps.TimedDoc(t(0), "r", "near", a + " zz"), // near-copy of corp0 -> flagged
        StreamingOps.TimedDoc(t(1), "r", "fresh",
          ("one two three four five six seven eight nine ten eleven twelve " * 4).trim),
        StreamingOps.TimedDoc(t(2), "r", "tokenfree", ":-)")) // no shingles -> never flagged
      stream.addData(batch: _*)
      query.processAllAvailable()
      val flagged = spark.table("admission_stream").select("path").as[String].collect().toSet
      assert(flagged == Set("near"), s"flagged=$flagged")
      // parity: exactly the docs whose BATCH band keys intersect the index
      val batchTd = batch.map(d =>
        TokDoc(d.path, graft.operators.Tokenize.tokensOf(d.content, Set.empty))).toDS()
      val expected = graft.operators.Dedup.minhashBands(batchTd, n = 2)
        .join(index.select("band", "bucket").distinct(), Seq("band", "bucket"), "left_semi")
        .select("docid").as[String].collect().toSet
      assert(flagged == expected, s"stream=$flagged batch=$expected")
    } finally query.stop()
  }

  test("streaming URL dedup: canonical variants collapse, relative links dropped") {
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, String)]
    val out = StreamingOps.urlDedupStream(
      stream.toDS().toDF("ts", "page", "url"), "url", "ts", "10 minutes")
    val query = out.writeStream.format("memory").queryName("urldedup_stream")
      .outputMode("append").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      stream.addData(
        (t(0), "a", "http://Site.example:80/p?x=1&utm_source=t#f"),
        (t(1), "b", "HTTP://site.example/p/?x=1"), // same canonical as a
        (t(2), "c", "https://site.example/p?x=1"), // distinct (scheme)
        (t(3), "d", "/relative/only"))             // uncanonicalizable
      query.processAllAvailable()
      val kept = spark.table("urldedup_stream").select("page").as[String].collect().toSet
      assert(kept.contains("c") && kept.size == 2, s"kept=$kept")
      assert(!(kept.contains("a") && kept.contains("b")), s"both variants survived: $kept")
      assert(!kept.contains("d"), "relative link must be dropped")
      // the survivor carries the canonical form the batch operator produces
      val canon = spark.table("urldedup_stream").select("canon_url").as[String].collect().toSet
      assert(canon == Set("http://site.example/p?x=1", "https://site.example/p?x=1"), s"canon=$canon")
    } finally query.stop()
  }

  test("streaming quality gate: margins bit-equal to the batch scorer; spam filtered") {
    import graft.operators.Curation
    implicit val sql = spark.sqlContext
    // train in batch on planted separable labels
    val docs = (0 until 40).map { i =>
      val y = if (i % 2 == 0) 1 else 0
      val text = if (y == 1) s"shared base doc$i quality verified axiom"
      else s"shared base doc$i casino spam roulette"
      (s"d$i", y, text)
    }
    val td = docs.map { case (id, _, t) =>
      TokDoc(id, graft.operators.Tokenize.tokensOf(t, Set.empty)) }.toDS()
    val feat = Curation.presenceFeatures(td, 64)
      .join(docs.map { case (id, y, _) => (id, y) }.toDF("docid", "y"), "docid")
    val model = Curation.trainLogReg(feat, 64, rounds = 6, lr = 1.0)
    val batchMargins = Curation.scoreLogReg(feat, model)
      .select("docid", "margin_q").as[(String, Long)].collect().toMap

    val stream = MemoryStream[StreamingOps.TimedDoc]
    val out = StreamingOps.qualityFilterStream(stream.toDS(), model, minMarginQ = 1L)
    val query = out.writeStream.format("memory").queryName("quality_stream")
      .outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
      stream.addData(docs.map { case (id, _, t) =>
        StreamingOps.TimedDoc(t0, "r", id, t) })
      query.processAllAvailable()
      val got = spark.table("quality_stream")
        .select("path", "margin_q").as[(String, Long)].collect().toMap
      // only quality docs (margin >= 1) survive, margins equal the batch scorer's
      assert(got.keySet == docs.filter(_._2 == 1).map(_._1).toSet,
        s"gate must pass exactly the planted-quality docs: ${got.keySet}")
      got.foreach { case (id, m) =>
        assert(m == batchMargins(id), s"streaming margin for $id: $m != batch ${batchMargins(id)}")
      }
    } finally query.stop()
  }

  test("streaming near-dedup: reordered token multiset collapses, distinct survives") {
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[StreamingOps.TimedDoc]
    val out = StreamingOps.nearDedupStream(stream.toDS(), "10 minutes")
    val query = out.writeStream.format("memory").queryName("neardedup_stream")
      .outputMode("append").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      stream.addData(
        StreamingOps.TimedDoc(t(0), "r", "a", "alpha beta gamma delta"),
        // same term multiset, different order AND different raw bytes ->
        // identical SimHash -> near-dup, dropped (exact-sha dedup keeps it)
        StreamingOps.TimedDoc(t(1), "r", "b", "delta gamma beta alpha"),
        StreamingOps.TimedDoc(t(2), "r", "c", "entirely different words here"),
        // token-free docs must NOT collapse into one signature-0 survivor
        StreamingOps.TimedDoc(t(3), "r", "p1", ":-)"),
        StreamingOps.TimedDoc(t(4), "r", "p2", "<<<===>>>"))
      query.processAllAvailable()
      val kept = spark.table("neardedup_stream").select("path").as[String].collect().toSet
      assert(kept.contains("c") && kept.size == 4, s"kept=$kept")
      assert(!(kept.contains("a") && kept.contains("b")), s"both near-dups survived: $kept")
      assert(kept.contains("p1") && kept.contains("p2"),
        s"distinct token-free docs were collapsed: $kept")
    } finally query.stop()
  }

  test("streaming near-dedup honors the batch stopword set (signature parity)") {
    // with stopwords filtered exactly like the batch TokDoc projection,
    // docs differing only by a stopword share a signature and collapse
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[StreamingOps.TimedDoc]
    val out = StreamingOps.nearDedupStream(stream.toDS(), "10 minutes",
      stopwords = Set("the"))
    val query = out.writeStream.format("memory").queryName("neardedup_sw_stream")
      .outputMode("append").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      stream.addData(
        StreamingOps.TimedDoc(t(0), "r", "a", "the import foo"),
        StreamingOps.TimedDoc(t(1), "r", "b", "import foo"), // stopword-only delta
        StreamingOps.TimedDoc(t(2), "r", "c", "import bar"))
      query.processAllAvailable()
      val kept = spark.table("neardedup_sw_stream").select("path").as[String].collect().toSet
      assert(kept.size == 2 && kept.contains("c"), s"kept=$kept")
      assert(!(kept.contains("a") && kept.contains("b")),
        s"stopword-delta docs must share a signature: $kept")
    } finally query.stop()
  }

  test("streaming image dedup: re-encoded pixel-identical image collapses, undecodable survives") {
    import graft.multimodal.Codecs
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[StreamingOps.TimedMedia]
    val out = StreamingOps.imageDedupStream(stream.toDS(), "10 minutes")
    val query = out.writeStream.format("memory").queryName("imagededup_stream")
      .outputMode("append").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      // same pixels through DIFFERENT codecs (PNG vs BMP re-encode) ->
      // different bytes, same decoded image, same aHash -> dropped
      val png = Codecs.encodeImageShift(4L, 0) // even effId -> png
      val bmpSamePixels = {
        val Some((w, h, px)) = Codecs.decodeImage(png)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, px(y * w + x))
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "bmp", bos)
        bos.toByteArray
      }
      assert(!java.util.Arrays.equals(png, bmpSamePixels))
      stream.addData(
        StreamingOps.TimedMedia(t(0), 1L, png),
        StreamingOps.TimedMedia(t(1), 2L, bmpSamePixels), // perceptual dup
        StreamingOps.TimedMedia(t(2), 3L, Codecs.encodeImage(7L)), // distinct image
        // undecodable payloads: distinct bytes must BOTH survive
        StreamingOps.TimedMedia(t(3), 4L, Array[Byte](1, 2, 3)),
        StreamingOps.TimedMedia(t(4), 5L, Array[Byte](4, 5, 6)))
      query.processAllAvailable()
      val kept = spark.table("imagededup_stream").select("doc_id").as[Long].collect().toSet
      assert(kept.size == 4, s"kept=$kept")
      assert(!(kept.contains(1L) && kept.contains(2L)),
        s"pixel-identical images must collapse across codecs: $kept")
      assert(kept.contains(3L) && kept.contains(4L) && kept.contains(5L), s"kept=$kept")
    } finally query.stop()
  }

  test("coocMaintain: standing counts across micro-batches == batch recompute; replay is idempotent; uncommitted versions ignored") {
    implicit val sql = spark.sqlContext
    val cfg = WsidConfig(entities = Seq("python", "java"), window = 16, kSenses = 2)
    val corpus = CorpusSynth.planted(docsPerEntity = 30)
    val (b1, b2) = corpus.docs.splitAt(corpus.docs.size / 2)
    val stateDir = java.nio.file.Files.createTempDirectory("cooc_maintain").toString

    val stream = MemoryStream[CodeDoc]
    val ckpt = java.nio.file.Files.createTempDirectory("cooc_ckpt").toString
    val query = StreamingOps.coocMaintain(stream.toDS(), cfg, stateDir)
      .option("checkpointLocation", ckpt).start()
    try {
      stream.addData(b1); query.processAllAvailable()
      stream.addData(b2); query.processAllAvailable()
    } finally query.stop()

    val standing = StreamingOps.standingCounts(spark, stateDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def counts(docs: Seq[CodeDoc]) = operators.Cooc.coocCounts(
      operators.Tokenize.coverageFrom(operators.Tokenize.tokDocs(spark.createDataset(docs), cfg), cfg),
      cfg)
    val full = counts(corpus.docs)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(standing == full, "streamed standing counts != full batch recompute")

    // at-least-once replay: re-applying the LAST batch must change nothing
    StreamingOps.mergeBatchIntoStanding(spark.createDataset(b2), 1L, cfg, stateDir)
    val replayed = StreamingOps.standingCounts(spark, stateDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(replayed == full, "replayed batch double-counted")

    // crash mid-write: a half-written version dir (no _SUCCESS) is invisible
    // to the version discovery, and the next replay repairs it in place
    val half = new java.io.File(stateDir, "v7")
    assert(half.mkdir())
    java.nio.file.Files.writeString(half.toPath.resolve("part-zzz.parquet"), "garbage")
    val before = StreamingOps.standingCounts(spark, stateDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(before == full, "uncommitted version dir leaked into reads")
    StreamingOps.mergeBatchIntoStanding(spark.createDataset(b2), 7L, cfg, stateDir)
    val repaired = StreamingOps.standingCounts(spark, stateDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val fullPlusB2 = operators.Cooc.mergeCounts(counts(corpus.docs), counts(b2))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(repaired == fullPlusB2, "crash-replayed batch did not merge over the half-written dir")
  }

  test("windowed sense counts: watermark + tumbling window aggregation") {
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[StreamingOps.TimedAssignment]
    val counts = StreamingOps.windowedSenseCounts(stream.toDS().toDF(), "ts")
    val query = counts.writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    try {
      def t(min: Int, sec: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")
      stream.addData(
        StreamingOps.TimedAssignment(t(0, 10), "python", 0),
        StreamingOps.TimedAssignment(t(0, 40), "python", 0),
        StreamingOps.TimedAssignment(t(0, 50), "python", 1),
        StreamingOps.TimedAssignment(t(1, 5), "java", 0))
      query.processAllAvailable()
      val rows = spark.table("win_counts")
        .select(col("win_start").cast("string"), col("entity"), col("senseid"), col("n"))
        .as[(String, String, Int, Long)].collect().toSet
      assert(rows == Set(
        ("2024-01-01 10:00:00", "python", 0, 2L),
        ("2024-01-01 10:00:00", "python", 1, 1L),
        ("2024-01-01 10:01:00", "java", 0, 1L)))
    } finally query.stop()
  }

  test("streaming sliding windows == batch slideIndexes on the same events") {
    import graft.operators.Temporal
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[StreamingOps.TimedAssignment]
    val counts = StreamingOps.slidingCounts(stream.toDS().toDF(), keyCol = "entity",
      tsCol = "ts", windowLen = "1 minute", slide = "30 seconds")
    val query = counts.writeStream.format("memory").queryName("slide_counts")
      .outputMode("complete").start()
    try {
      def t(min: Int, sec: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")
      val data = Seq(
        StreamingOps.TimedAssignment(t(0, 10), "python", 0),
        StreamingOps.TimedAssignment(t(0, 40), "python", 0),
        StreamingOps.TimedAssignment(t(0, 59), "java", 0),
        StreamingOps.TimedAssignment(t(1, 0), "java", 0), // exact hop boundary
        StreamingOps.TimedAssignment(t(2, 30), "python", 1))
      stream.addData(data: _*)
      query.processAllAvailable()
      val streamed = spark.table("slide_counts")
        .as[(Long, String, Long)].collect().toSet
      // batch twin: the closed-form index array over epoch-micros
      val stepUs = 30L * 1000000L
      val batch = data.toDS().toDF()
        .select(col("entity"), unix_micros(col("ts")).as("t"))
        .select(col("entity"),
          explode(Temporal.slideIndexes(col("t"), 2 * stepUs, stepUs)).as("w"))
        .groupBy(col("entity"), (col("w") * stepUs).as("win_start_us"))
        .agg(count(lit(1)).as("n"))
        .select("win_start_us", "entity", "n")
        .as[(Long, String, Long)].collect().toSet
      assert(streamed == batch,
        s"stream/batch divergence:\n  stream: $streamed\n  batch:  $batch")
      assert(streamed.size == 8, s"each event must land in exactly 2 windows: $streamed")
    } finally query.stop()
  }

  test("streaming RDFS maintenance: union of per-batch entailments == batch closure of the full stream") {
    import graft.operators.TripleStore
    implicit val sql = spark.sqlContext
    val schema = Seq(
      ("p", "subPropertyOf", "q"),
      ("p", "domain", "D"),
      ("q", "range", "R"),
      ("D", "subClassOf", "E")
    ).toDF("subj", "pred", "obj")
    val stream = MemoryStream[(String, String, String)]
    val triples = stream.toDS().toDF("subj", "pred", "obj")
    val standing = scala.collection.mutable.Set.empty[(String, String, String)]
    val query = StreamingOps.rdfsStream(triples, schema, maxDepth = 3) { (ent, _) =>
      standing ++= ent.as[(String, String, String)].collect()
    }.start()
    try {
      val b0 = Seq(("a", "p", "b"), ("c", "q", "d"))
      val b1 = Seq(("e", "p", "f"), ("a", "p", "b")) // cross-batch duplicate
      stream.addData(b0); query.processAllAvailable()
      stream.addData(b1); query.processAllAvailable()
      val batch = TripleStore.rdfsClosure((b0 ++ b1).toDF("subj", "pred", "obj"),
          schema, maxDepth = 3)
        .as[(String, String, String)].collect().toSet
      assert(standing.toSet == batch, s"standing=$standing batch=$batch")
      // sanity: the stream really entailed beyond its inputs
      assert(standing.contains(("a", "q", "b")), "subPropertyOf edge missing")
      assert(standing.contains(("a", "type", "E")), "domain + subClassOf typing missing")
    } finally query.stop()
  }

  test("streaming SHACL: per-batch reports == batch validator; non-monotone constraints rejected") {
    import graft.operators.Shacl
    import graft.operators.Shacl._
    implicit val sql = spark.sqlContext
    val shapes = Seq(Shape("EdgeShape", targetSubjectsOf = Some("likes"),
      constraints = Seq(
        Pattern("likes", "^[a-z]+$"),
        MaxCount("likes", 2),
        Closed(Seq("likes")))))
    val stream = MemoryStream[(String, String, String)]
    val triples = stream.toDS().toDF("subj", "pred", "obj")
    val collected = scala.collection.mutable.Map.empty[Long, Set[(String, String, String, String, String)]]
    val query = StreamingOps.shaclStream(triples, shapes) { (report, id) =>
      collected(id) = report.collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2), r.getString(3), r.getString(4))).toSet
    }.start()
    try {
      val b0 = Seq(("a", "likes", "scala"), ("a", "likes", "SQL!"), ("a", "owns", "x"))
      stream.addData(b0)
      query.processAllAvailable()
      val b1 = Seq(("b", "likes", "x"), ("b", "likes", "y"), ("b", "likes", "z"))
      stream.addData(b1)
      query.processAllAvailable()
      // each batch's streamed report equals the batch validator on that data
      def batchReport(rows: Seq[(String, String, String)]) =
        Shacl.validate(rows.toDF("subj", "pred", "obj"), shapes)
          .as[(String, String, String, String, String)].collect().toSet
      assert(collected(0L) == batchReport(b0), s"${collected(0L)}")
      assert(collected(0L).map(_._3) == Set("pattern(likes)", "closed"))
      assert(collected(1L) == batchReport(b1))
      assert(collected(1L).map(_._3) == Set("maxCount(likes)"))
    } finally query.stop()
    // minCount / class cannot be decided per batch — rejected loudly
    intercept[IllegalArgumentException] {
      StreamingOps.shaclStream(triples, Seq(Shape("bad",
        targetSubjectsOf = Some("likes"), constraints = Seq(MinCount("likes", 1)))))(
        (_, _) => ())
    }
    intercept[IllegalArgumentException] {
      StreamingOps.shaclStream(triples, Seq(Shape("bad2",
        targetSubjectsOf = Some("likes"),
        constraints = Seq(ClassConstraint("likes", "Thing")))))((_, _) => ())
    }
  }

  test("streaming sessionization: gap closes in-batch, event-time timeout closes idle; matches batch rollup") {
    import graft.operators.Temporal
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[StreamingOps.TimedEvent]
    val gapUs = 10L * 60L * 1000000L // 10 minutes
    val out = StreamingOps.sessionizeStream(stream.toDS(), gapUs, watermark = "1 minutes")
    val query = out.writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    try {
      def ts(h: Int, min: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$min%02d:00")
      // user 1: 10:00, 10:10 (gap EXACTLY 10 min -> same session), 10:30 (new)
      // user 2: 10:00 alone — deliberately added in reversed/mixed order:
      // within-batch arrival order must not matter
      val batch1 = Seq(
        StreamingOps.TimedEvent(ts(10, 30), 3L, 1L, 7L),
        StreamingOps.TimedEvent(ts(10, 0), 4L, 2L, 11L),
        StreamingOps.TimedEvent(ts(10, 10), 2L, 1L, 5L),
        StreamingOps.TimedEvent(ts(10, 0), 1L, 1L, 3L))
      stream.addData(batch1: _*)
      query.processAllAvailable()
      // user 1's first session closed by the in-batch gap; user 2's by the
      // event-time timeout (batch1's own watermark 10:29 already passes its
      // 10:10 close instant — Spark runs the no-data timeout batch eagerly);
      // user 1's 10:30 session is still inside the horizon and stays open
      val afterB1 = spark.table("sess_stream")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      def t(h: Int, min: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$min%02d:00").getTime * 1000L
      assert(afterB1 == Set(
        (1L, t(10, 0), t(10, 10), 2L, 8L),
        (2L, t(10, 0), t(10, 0), 1L, 11L)), s"$afterB1")
      // two sentinel batches push the watermark far past every timeout
      stream.addData(StreamingOps.TimedEvent(ts(12, 0), 100L, 99L, 0L))
      query.processAllAvailable()
      stream.addData(StreamingOps.TimedEvent(ts(13, 0), 101L, 98L, 0L))
      query.processAllAvailable()
      val all = spark.table("sess_stream")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      // the second sentinel's watermark also times out the first sentinel's
      // own session; the LAST sentinel (user 98) is the only state left open
      assert(all.contains((99L, t(12, 0), t(12, 0), 1L, 0L)), s"$all")
      assert(!all.exists(_._1 == 98L), s"last sentinel must still be open: $all")
      val closed = all.filter(_._1 < 98L)
      assert(closed == Set(
        (1L, t(10, 0), t(10, 10), 2L, 8L),
        (1L, t(10, 30), t(10, 30), 1L, 7L),
        (2L, t(10, 0), t(10, 0), 1L, 11L)), s"$closed")
      // batch twin: same events through Temporal.sessionize + rollup,
      // compared on the engine-stable (user, start, end, n, sum) identity
      val batchRows = batch1.map(e =>
        (e.event_id, e.ts.getTime * 1000L, e.user_id, e.cents))
        .toDF("event_id", "t", "user_id", "cents")
      val batchSessions = Temporal.sessionize(batchRows, "user_id", "t", "event_id", gapUs)
        .groupBy("user_id", "session")
        .agg(min(col("t")).as("start_t"), max(col("t")).as("end_t"),
          count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
        .select("user_id", "start_t", "end_t", "n_events", "sum_cents")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(batchSessions == closed,
        s"stream/batch divergence: batch=$batchSessions stream=$closed")
    } finally query.stop()
  }
}
