package graft

import java.nio.file.Files

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.graft.PlannedPartitions

import graft.ml.{SenseInduction, ThinNMF}
import graft.operators.{Cooc, Linking, Significance, Tokenize}
import graft.sources.CorpusSynth

/** E1 on an input of fewer partitions than task slots: the integer passes
  * are spread by document and the NMF passes by entity, and every output
  * stays bit-identical to a build that keeps everything in one partition. */
class E1LayoutSpec extends SparkTestBase {

  private val cfg = WsidConfig(entities = Seq("python", "java"), window = 64, kSenses = 2)
  private lazy val corpus = CorpusSynth.planted(docsPerEntity = 200)

  private def docsIn(partitions: Int): Dataset[CodeDoc] = {
    import spark.implicits._
    val ds = spark.createDataset(corpus.docs)
    if (partitions == 1) ds.coalesce(1) else ds.repartition(partitions)
  }

  /** senseVec / assignment rows with each double as its raw bits, so set
    * equality is bit equality. */
  private def senseRows(df: DataFrame): Set[(String, Int, Int, Long)] =
    df.select("entity", "senseid", "termid", "weight").collect().map(r =>
      (r.getString(0), r.getInt(1), r.getInt(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSet

  private def assignRows(df: DataFrame): Set[(String, String, Int, Long)] =
    df.select("entity", "ctxid", "senseid", "score").collect().map(r =>
      (r.getString(0), r.getString(1), r.getInt(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSet

  private def tripleRows(df: DataFrame): Set[(String, String, String)] = {
    import spark.implicits._
    df.as[(String, String, String)].collect().toSet
  }

  /** The same E1 chain with nothing spread: coverage, counts and context
    * rows straight off the one-partition projection, one `ThinNMF.fit`. */
  private def oneTaskReference(docs: Dataset[CodeDoc]) = {
    val td = Tokenize.tokDocs(Pipeline.guard(docs, cfg), cfg).cache()
    val cov = Tokenize.coverageFrom(td, cfg).cache()
    val (cont, caches) = Cooc.contingency(spark, Tokenize.tokensFrom(td), cov, cfg)
    val sig = Significance.descriptors(Significance.withLogp(cont), cfg).cache()
    val dict = SenseInduction.dictionary(sig).collect()
      .groupBy(_.getString(0))
      .map { case (e, rows) => e -> rows.map(r => r.getString(1) -> r.getInt(2)).toMap }
    val ctx = Tokenize.contextRowsFrom(td, cfg, dict).cache()
    assert(ctx.rdd.getNumPartitions == 1)
    val h = ThinNMF.fit(ctx.rdd, spark, cfg.kSenses, cfg.nmfMaxIter, cfg.seed)
    val (assign, senseVec) = Linking.relabel(
      ThinNMF.assignDS(ctx, h, cfg.minSenseScore), ThinNMF.senseVecDF(spark, h))
    val triples = Linking.hasSenseTriples(assign).unionByName(Pipeline.coocTriples(cov, sig))
    try (senseRows(senseVec), assignRows(assign), tripleRows(triples))
    finally (Seq(td.toDF(), cov.toDF(), sig, ctx.toDF()) ++ caches).foreach(_.unpersist())
  }

  /** Runs `body` and returns, with its value, the task counts of the stages
    * that ran in jobs labelled `e1:senses` (the NMF passes over ctxrows). */
  private def sensesStageTasks[T](body: => T): (T, Set[Int]) = {
    val sc = spark.sparkContext
    val sensesStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ran = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "e1:senses"))
          e.stageIds.foreach(sensesStages.add(_))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        ran.put(e.stageInfo.stageId, e.stageInfo.numTasks)
    }
    sc.addSparkListener(l)
    try {
      val out = body
      TestListenerBus.drain(sc)
      import scala.jdk.CollectionConverters._
      (out, sensesStages.asScala.flatMap(id => Option(ran.get(id)).map(_.toInt)).toSet)
    } finally sc.removeSparkListener(l)
  }

  test("one-partition input: NMF runs on every slot, outputs bit-identical to one task") {
    val slots = spark.sparkContext.defaultParallelism
    assert(slots > 1, "the test session needs more than one task slot")
    val (r, tasks) = sensesStageTasks(Pipeline.induceAndEmit(spark, docsIn(1), cfg))
    assert(tasks == Set(slots), s"NMF stage task counts $tasks, want ctxrows in $slots partitions")
    val (refSense, refAssign, refTriples) = oneTaskReference(docsIn(1))
    assert(refSense.nonEmpty && refAssign.nonEmpty)
    try {
      assert(senseRows(r.senseVec) == refSense, "senseVec differs from the one-partition fit")
      assert(assignRows(r.assignments) == refAssign, "assignments differ from the one-partition fit")
      assert(tripleRows(r.triples) == refTriples, "triples differ from the one-partition chain")
    } finally r.cleanup()
  }

  test("multi-partition input keeps its layout") {
    val (r, tasks) = sensesStageTasks(Pipeline.induceAndEmit(spark, docsIn(8), cfg))
    r.cleanup()
    assert(tasks == Set(8), s"NMF stage task counts $tasks, want ctxrows in its 8 partitions")
  }

  test("one-partition input: same senses and triples at 1/4/7 shuffle partitions, stored or not") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    def build(): (Set[(String, Int, Int, Long)], Set[(String, String, String)]) = {
      val r = Pipeline.induceAndEmit(spark, docsIn(1), cfg)
      try (senseRows(r.senseVec), tripleRows(r.triples)) finally r.cleanup()
    }
    val runs = try Seq("1", "4", "7").map { n => spark.conf.set(key, n); n -> build() }
    finally spark.conf.set(key, before)
    val (sense, triples) = runs.head._2
    runs.tail.foreach { case (n, (s, t)) =>
      assert(s == sense, s"senseVec differs at $key=$n")
      assert(t == triples, s"triples differ at $key=$n")
    }

    val root = Files.createTempDirectory("graft_layout").toString
    val built = Pipeline.induceAndEmit(spark, docsIn(1), cfg, Some(root), "planted200")
    assert(senseRows(built.senseVec) == sense, "checkpointed build's senseVec differs")
    assert(tripleRows(built.triples) == triples, "checkpointed build's triples differ")
    val resumed = Pipeline.induceAndEmit(spark, docsIn(1), cfg, Some(root), "planted200")
    assert(resumed.checkpoint.get.computed.isEmpty, s"${resumed.checkpoint.get.computed}")
    assert(senseRows(resumed.senseVec) == sense, "resumed senseVec differs")
    assert(senseRows(Pipeline.loadModel(spark, root)._2) == sense, "loadModel senseVec differs")
    Seq(built, resumed).foreach(_.cleanup())
  }

  test("PlannedPartitions reads a persisted frame's partition count without running a job") {
    import spark.implicits._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val narrow = spark.range(0, 100, 1, 3).toDF("x")
    val cached = narrow.filter($"x" > 1).persist()
    val cachedOne = narrow.coalesce(1).persist()
    val cachedSpread = narrow.repartition(5).persist()
    sc.addSparkListener(l)
    try {
      val got = Seq(narrow, cached, cachedOne, cachedSpread).map(PlannedPartitions.of)
      TestListenerBus.drain(sc)
      assert(jobs.get == 0, s"${jobs.get} jobs ran")
      // not persisted; and an exchange's count is settled only when its stages run
      assert(got == Seq(None, Some(3), Some(1), None))
      cachedSpread.count()
      assert(PlannedPartitions.of(cachedSpread).contains(5), "a computed cache tells its count")
    } finally {
      sc.removeSparkListener(l)
      Seq(cached, cachedOne, cachedSpread).foreach(_.unpersist())
    }
  }
}
