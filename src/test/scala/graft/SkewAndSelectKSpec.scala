package graft

import org.apache.spark.sql.functions._

import graft.operators.{SaltedAgg, Tokenize}

class SkewAndSelectKSpec extends SparkTestBase {
  import spark.implicits._

  test("I1: salts < 1 fails fast (0 would silently un-shard every hot key)") {
    import spark.implicits._
    val df = Seq(("a", "d1")).toDF("term", "docid")
    intercept[IllegalArgumentException] {
      SaltedAgg.countBy(df, Seq("term"), org.apache.spark.sql.functions.col("docid"), 0)
    }
    intercept[IllegalArgumentException] {
      SaltedAgg.sumBy(df, Seq("term"), org.apache.spark.sql.functions.lit(1L),
        org.apache.spark.sql.functions.col("docid"), -3)
    }
  }

  test("I1 skew: 'hot' token in every window — salted counts exact, hot key sharded") {
    // 10k docs; 'hot' appears in every doc next to the mention (100x any
    // other term's frequency) — FIXTURES.md §3
    val rnd = new scala.util.Random(42)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val docs = spark.createDataset((0 until 10000).map { i =>
      val ctx = Vector.fill(6)(vocab(rnd.nextInt(vocab.length)))
      val toks = (ctx.take(3) :+ "hot" :+ "python") ++ ctx.drop(3)
      CodeDoc("r", s"d/$i.txt", "c", "en", toks.mkString(" "))
    }).repartition(8)
    val cfg = WsidConfig(entities = Seq("python"), window = 8, salts = 64)
    val cov = Tokenize.coverageFrom(Tokenize.tokDocs(docs, cfg), cfg)

    // correctness: salted two-phase == plain groupBy
    val salted = operators.Cooc.coocCounts(cov, cfg)
    val plain = cov.toDF().groupBy("entity", "term").agg(count(lit(1)).as("k"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    val hotK = salted.filter(col("term") === "hot").select("k").as[Long].head()
    assert(hotK == 10000L)

    // mechanism: phase-1 shards the hot key — no single (key, salt) group
    // carries more than ~total/salts (3x slack for hash imbalance)
    val phase1 = cov.toDF()
      .groupBy(col("entity"), col("term"), pmod(xxhash64(col("docid")), lit(64)).as("salt"))
      .agg(count(lit(1)).as("partial"))
    val maxHotShard = phase1.filter(col("term") === "hot")
      .agg(max(col("partial"))).as[Long].head()
    assert(maxHotShard <= 3 * (10000 / 64),
      s"hot key not sharded: max shard $maxHotShard of 10000")
  }

  test("A2': approximate doc frequency within the configured error bound") {
    val docs = sources.CorpusSynth.plantedDocs(spark, docsPerEntity = 200)
    val cfg = WsidConfig(entities = Seq("python", "java"))
    val toks = Tokenize.tokensFrom(Tokenize.tokDocs(docs, cfg))
    val exact = operators.Cooc.docFreq(toks).as[(String, Long)].collect().toMap
    val approx = operators.Cooc.docFreqApprox(toks, 0.02).as[(String, Long)].collect().toMap
    exact.foreach { case (t, df) =>
      val a = approx(t)
      assert(math.abs(a - df) <= math.max(2.0, 0.1 * df), s"term $t: approx $a vs exact $df")
    }
  }

  test("M4: sense descriptors surface the planted vocabulary") {
    val corpus = sources.CorpusSynth.planted(docsPerEntity = 100)
    val docs = spark.createDataset(corpus.docs).repartition(4)
    val cfg = WsidConfig(entities = Seq("python", "java"), window = 64, kSenses = 2)
    val r = Pipeline.induceAndEmit(spark, docs, cfg)
    val cs = Pipeline.coStats(docs, cfg)
    val dict = ml.SenseInduction.dictionary(cs.top)
    val desc = ml.SenseInduction.descriptors(r.senseVec, dict, top = 5)
      .select("entity", "senseid", "term").as[(String, Int, String)].collect()
    // each (entity, sense) descriptor must be drawn from ONE planted vocab
    desc.groupBy(t => (t._1, t._2)).foreach { case ((e, _), rows) =>
      val terms = rows.map(_._3).toSet
      val purity = Seq(0, 1).map(s => (terms & corpus.senseVocab((e, s))).size).max
      assert(purity >= 4, s"descriptor for $e not vocab-pure: $terms")
    }
  }

  test("M3: elbow selection recovers the planted sense count") {
    // entity 'alpha' planted with THREE disjoint sense vocabularies
    val vocabs = Vector(
      Vector("cat", "dog", "fox", "owl"),
      Vector("red", "blue", "green", "teal"),
      Vector("run", "jump", "swim", "dive"))
    val rnd = new scala.util.Random(42)
    val docs = spark.createDataset((0 until 300).map { i =>
      val v = vocabs(i % 3)
      val ctx = Vector.fill(12)(v(rnd.nextInt(v.length)))
      CodeDoc("r", s"d/$i.txt", "c", "en", (ctx.take(6) :+ "alpha") ++ ctx.drop(6) mkString " ")
    }).repartition(4)
    val cfg = WsidConfig(entities = Seq("alpha"), window = 16, topK = 50)
    val cs = Pipeline.coStats(docs, cfg)
    val dict = ml.SenseInduction.dictionary(cs.top).collect()
      .groupBy(_.getString(0))
      .map { case (e, rows) => e -> rows.map(r => r.getString(1) -> r.getInt(2)).toMap }
    val grouped = Tokenize.contextRowsFrom(Tokenize.tokDocs(docs, cfg), cfg, dict).rdd.cache()
    val ks = ml.ThinNMF.selectK(grouped, spark, kMax = 6, iters = 10, seed = 42L)
    info(s"selected k = ${ks("alpha")}")
    assert(ks("alpha") == 3, s"expected k=3, got ${ks("alpha")}")
  }
}
