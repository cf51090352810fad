package graft

import graft.sources.CorpusSynth

class SenseSpec extends SparkTestBase {

  private def runE1(method: String): (Set[(String, String, String)], CorpusSynth.PlantedCorpus) = {
    val corpus = CorpusSynth.planted(docsPerEntity = 400)
    import spark.implicits._
    val docs = spark.createDataset(corpus.docs).repartition(8)
    val cfg = WsidConfig(entities = Seq("python", "java"), window = 64,
      kSenses = 2, method = method)
    val r = Pipeline.induceAndEmit(spark, docs, cfg)
    val got = r.triples.as[(String, String, String)].collect().toSet
    (got, corpus)
  }

  /** Expected triples with the per-entity sense-label permutation resolved to
    * the best match (cluster ids are induced up to permutation). */
  private def expectedTriples(corpus: CorpusSynth.PlantedCorpus,
                              got: Set[(String, String, String)]): Set[(String, String, String)] = {
    val cooc = corpus.expectedCooc.map { case (subj, t) => (subj, "coOccursWith", t) }
    val senseByEntity = corpus.expectedSense.groupBy(_._1)
    val sense = senseByEntity.flatMap { case (entity, rows) =>
      val mappings = Seq(Map(0 -> 0, 1 -> 1), Map(0 -> 1, 1 -> 0))
      val best = mappings.maxBy { m =>
        rows.count { case (_, subj, s) => got.contains((subj, "hasSense", s"$entity#s${m(s)}")) }
      }
      rows.map { case (_, subj, s) => (subj, "hasSense", s"$entity#s${best(s)}") }
    }.toSet
    cooc ++ sense
  }

  private def checkPR(method: String): Unit = {
    val (got, corpus) = runE1(method)
    val expected = expectedTriples(corpus, got)
    val tp = (got intersect expected).size.toDouble
    val precision = tp / got.size
    val recall = tp / expected.size
    info(f"$method: |got|=${got.size} |expected|=${expected.size} P=$precision%.4f R=$recall%.4f")
    assert(precision >= 0.95, f"precision $precision%.4f < 0.95")
    assert(recall >= 0.95, f"recall $recall%.4f < 0.95")
  }

  test("E1 planted fixtures: triple P/R >= 0.95 with ThinNMF induction") {
    checkPR("nmf")
  }

  test("E1 planted fixtures: triple P/R >= 0.95 with Hclust (BisectingKMeans)") {
    checkPR("hclust")
  }

  test("WsidConfig rejects a sense method other than nmf or hclust, naming it") {
    Seq("als", "NMF", "hclust ", "").foreach { m =>
      val e = intercept[IllegalArgumentException](WsidConfig(entities = Seq("python"), method = m))
      assert(e.getMessage.contains(s"'$m'"), s"message does not name '$m': ${e.getMessage}")
    }
    assert(WsidConfig(entities = Nil, method = "hclust").method == "hclust")
    intercept[IllegalArgumentException](WsidConfig(entities = Nil).copy(method = "als"))
  }

  test("BisectingSenses: identical rows decline the split (no empty leaf, no duplicate centers)") {
    // every context identical -> the 2-means can never populate both
    // children; the split must be DECLINED (leaf marked unsplittable), not
    // committed as (N, 0) with a near-duplicate center that future rounds
    // re-split forever
    val rows = (0 until 20).map(i =>
      ml.ThinNMF.Ctx("e", s"d$i", Array(0, 1), Array(1.0, 2.0)))
    val ctx = spark.sparkContext.parallelize(rows, 4)
    val h = ml.BisectingSenses.fit(ctx, spark, k = 3, lloydIters = 4, seed = 42L)
    assert(h("e").length == 1, s"degenerate data must stay ONE sense, got ${h("e").length}")
  }

  test("BisectingSenses: k outside the Int-safe tree bound fails fast") {
    val ctx = spark.sparkContext.parallelize(
      Seq(ml.ThinNMF.Ctx("e", "d0", Array(0), Array(1.0))), 1)
    intercept[IllegalArgumentException] {
      ml.BisectingSenses.fit(ctx, spark, k = 31, lloydIters = 1, seed = 42L)
    }
  }

  test("E3 disambiguate: held-out docs link to the right sense") {
    val corpus = CorpusSynth.planted(docsPerEntity = 200)
    import spark.implicits._
    val docs = spark.createDataset(corpus.docs).repartition(8)
    val cfg = WsidConfig(entities = Seq("python", "java"), window = 64, kSenses = 2)

    // train into a checkpoint, then E3 is ONE loadModel call (wsid shape) —
    // no hand-assembly of dict/senseVec from intermediate stages
    val root = java.nio.file.Files.createTempDirectory("graft_model").toString
    Pipeline.induceAndEmit(spark, docs, cfg, Some(root), "planted200")
    val (dict, senseVec) = Pipeline.loadModel(spark, root)

    // held-out corpus: same generator, different seed
    val held = CorpusSynth.planted(docsPerEntity = 50, seed = 7L)
    val newDocs = spark.createDataset(held.docs).repartition(4)
    val senseOf = Pipeline.disambiguate(spark, newDocs, dict, senseVec, cfg)
      .as[(String, String, Int, Double)].collect()

    assert(senseOf.length >= (held.docs.size * 0.95).toInt,
      s"expected ~${held.docs.size} assignments, got ${senseOf.length}")
    // purity: assignments must be >= 95% consistent with the planted senses
    val plantedOf = held.expectedSense.map { case (e, subj, s) => (e, subj) -> s }.toMap
    val byEntity = senseOf.groupBy(_._1)
    byEntity.foreach { case (entity, rows) =>
      // resolve label permutation, then check purity
      val pairs = rows.map { case (e, ctxid, sid, _) =>
        val subj = s"$e@${ctxid.split("#")(0).split("@")(0)}"
        (plantedOf((e, subj)), sid)
      }
      val agree = Seq(Map(0 -> 0, 1 -> 1), Map(0 -> 1, 1 -> 0))
        .map(m => pairs.count { case (p, g) => m(p) == g }).max
      val purity = agree.toDouble / pairs.length
      info(f"$entity: purity=$purity%.4f over ${pairs.length} held-out mentions")
      assert(purity >= 0.95, f"$entity purity $purity%.4f < 0.95")
    }
  }
}
