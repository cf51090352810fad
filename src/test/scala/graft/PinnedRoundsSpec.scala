package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.{SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PinnedPlans

import graft.operators.{Graph, TripleStore}
import graft.plans.Pinned

/** Measured pins and the one-job rounds they enable: a pin's plan carries
  * its measured size and (for one partition) `SinglePartition`; the graph
  * and closure loops then run each round as exactly one Spark job; their
  * handles name only their own storage (concurrent loops in one session
  * no longer free each other's pins); and the multi-partition path gives
  * bit-identical outputs. */
class PinnedRoundsSpec extends SparkTestBase {
  import spark.implicits._

  private def sc = spark.sparkContext

  /** (u -> v, w) over 9 nodes, a fixed pseudo-random graph with a dangling
    * sink and a pure source. */
  private lazy val graph: Seq[(String, String, Long)] = {
    val rnd = new scala.util.Random(7)
    val nodes = (0 until 8).map(i => f"n$i%02d")
    val es = for {
      s <- nodes; d <- nodes
      if s != d && rnd.nextDouble() < 0.3
    } yield (s, d, (rnd.nextInt(9) + 1).toLong)
    es ++ Seq(("n03", "sink", 2L), ("src", "n00", 4L))
  }

  /** A directed path n00 -> n01 -> ... of `m` edges (diameter m). */
  private def chain(m: Int): Seq[(String, String, Long)] =
    (0 until m).map(i => (f"n$i%02d", f"n${i + 1}%02d", 1L))

  /** Single-partition input, the shape the memoized KG edges have. */
  private def one(es: Seq[(String, String, Long)]): DataFrame =
    es.toDF("src", "dst", "w").coalesce(1)

  private def triples(es: Seq[(String, String, Long)], pred: String): DataFrame =
    es.toDF("subj", "obj", "w").select(col("subj"), lit(pred).as("pred"), col("obj"))

  private def rowsOf(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** Spark jobs started by `body` on this thread (by job group). */
  private def jobsOf(body: => Unit): Int = {
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try { body; TestListenerBus.drain(sc); n.get } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("a pin carries its measured rows and bytes; one partition declares SinglePartition") {
    val p1 = Pinned.pin(spark.range(0, 100, 1, 1).toDF("v"))
    val r1 = PinnedPlans.pinnedRelation(p1).get
    assert(Pinned.rows(p1) == 100L && r1.rdd.getNumPartitions == 1)
    assert(r1.outputPartitioning == SinglePartition)
    // an UnsafeRow of one LONG column: 8-byte null bitset + 8-byte value
    assert(p1.queryExecution.optimizedPlan.stats.sizeInBytes == BigInt(100 * 16))

    val p4 = Pinned.pin(spark.range(0, 100, 1, 4).toDF("v"))
    assert(Pinned.rows(p4) == 100L && PinnedPlans.pinnedRelation(p4).get.rdd.getNumPartitions == 4)
    assert(PinnedPlans.pinnedRelation(p4).get.outputPartitioning == UnknownPartitioning(0))
    assert(p4.agg(sum("v")).head.getLong(0) == (0 until 100).sum.toLong)

    val empty = Pinned.pin(spark.range(0, 100, 1, 1).toDF("v").filter(col("v") < 0))
    assert(Pinned.rows(empty) == 0L && empty.count() == 0L)
    intercept[IllegalArgumentException](Pinned.rows(p1.select(col("v"))))
  }

  test("a pin's handle names only its own RDD") {
    val (p, h) = Pinned.pinTracked(spark.range(0, 10, 1, 2).toDF("v"))
    assert(h.blocks == Set(PinnedPlans.pinnedRelation(p).get.rdd.id) && h.ckptDirs.isEmpty)
    Pinned.free(spark, h)
    assert(!sc.getPersistentRDDs.contains(h.blocks.head))
  }

  test("concurrent graph loops in one session keep each other's pins (results equal sequential)") {
    // each loop frees its superseded rounds; a handle built by diffing the
    // context's persisted RDDs also captured pins taken meanwhile on other
    // threads, and free() then dropped them: CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
    val e = one(graph)
    val runs: Seq[() => Seq[Row]] = Seq(
      () => rowsOf(Graph.hits(e, iters = 4)),
      () => rowsOf(Graph.reach(e, maxHops = 3)),
      () => rowsOf(Graph.pageRank(e, iters = 6)),
      () => rowsOf(TripleStore.pathPlus(triples(graph, "p"), "p", maxHops = 3)))
    val sequential = runs.map(_())
    for (_ <- 1 to 3) {
      val concurrent = Await.result(Future.sequence(runs.map(f => Future(f()))), Duration.Inf)
      assert(concurrent == sequential)
    }
  }

  test("round-frame estimates stay at their measured size (no growth across rounds)") {
    def ratio(df: DataFrame): Double = {
      val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val measured = Pinned.pin(df).queryExecution.optimizedPlan.stats.sizeInBytes
      (BigDecimal(est) / BigDecimal(measured.max(1))).toDouble
    }
    val e = one(graph)
    // 10 HITS half-steps: the sparse hub and authority frames
    val (_, hubs1, auth1, _) = Graph.hitsScores(e, iters = 1, scale = 1000000L)
    val (_, hubs5, auth5, _) = Graph.hitsScores(e, iters = 5, scale = 1000000L)
    // 8 PageRank rounds: the returned frame is the last round's pin
    val pr1 = Graph.pageRank(e, iters = 1)
    val pr8 = Graph.pageRank(e, iters = 8)
    for ((first, last) <- Seq((hubs1, hubs5), (auth1, auth5), (pr1, pr8))) {
      val (r1, rn) = (ratio(first), ratio(last))
      assert(rn <= 64.0, s"estimate is ${rn}x the measured size")
      assert(rn <= 2.0 * r1, s"estimate grew with rounds: ${r1}x -> ${rn}x")
    }
  }

  test("one Spark job per HITS half-step, PageRank round and closure hop") {
    val e = one(graph)
    def hits(k: Int) = jobsOf(Graph.hits(e, iters = k).collect())
    def pr(k: Int) = jobsOf(Graph.pageRank(e, iters = k).collect())
    def ppr(k: Int) = jobsOf(Graph.personalizedPageRank(e,
      Seq("n00", "n05").toDF("node"), iters = k).collect())
    // a 12-edge path never drains early within 6 hops
    val path = one(chain(12))
    def reach(k: Int) = jobsOf(Graph.reach(path, maxHops = k).collect())
    def plus(k: Int) = jobsOf(TripleStore.pathPlus(
      triples(chain(12), "p").coalesce(1), "p", maxHops = k).collect())
    // transitive closure of an m-edge path: semi-naive doubling finds the
    // paths up to length 2^k in round k, and round ceil(log2 m) + 1 drains
    // (m = 2: 2 rounds; m = 8: 4 rounds)
    val schema = Seq(("p", "type", "TransitiveProperty")).toDF("subj", "pred", "obj")
    def owl(m: Int) = jobsOf(TripleStore.owlClosure(
      triples(chain(m), "p").coalesce(1), schema).collect())
    assert(hits(3) - hits(1) == 4, "2 HITS rounds = 4 half-steps")
    assert(pr(5) - pr(2) == 3)
    assert(ppr(4) - ppr(2) == 2)
    assert(reach(6) - reach(3) == 3)
    assert(plus(6) - plus(3) == 3)
    assert(owl(8) - owl(2) == 2)
    assert(TripleStore.owlClosure(triples(chain(8), "p"), schema).count() == 8L * 9 / 2)
  }

  test("multi-partition pins: outputs bit-identical to the one-partition regime") {
    def all(e: DataFrame, t: DataFrame): Seq[Seq[Row]] = {
      val schema = Seq(("p", "type", "TransitiveProperty"), ("p", "inverseOf", "q"),
        ("q", "type", "SymmetricProperty")).toDF("subj", "pred", "obj")
      Seq(
        rowsOf(Graph.hits(e, iters = 5)),
        rowsOf(Graph.pageRank(e, iters = 8)),
        rowsOf(Graph.personalizedPageRank(e, Seq("n00", "n05").toDF("node"), iters = 4)),
        rowsOf(Graph.reach(e, maxHops = 3)),
        rowsOf(TripleStore.pathPlus(t, "p", maxHops = 3)),
        rowsOf(TripleStore.owlClosure(t, schema)))
    }
    val single = all(one(graph), triples(graph, "p").coalesce(1))
    val multi = withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      val e = graph.toDF("src", "dst", "w").repartition(4)
      assert(!Pinned.rounds(Pinned.pin(e.select(col("src"), col("dst"), col("w")))).single)
      all(e, triples(graph, "p").repartition(4))
    }
    assert(single.map(_.size) == multi.map(_.size))
    single.zip(multi).foreach { case (s, m) => assert(s == m) }
  }

  test("each closure round picks its regime from the measured size of the pins it reads") {
    val path = one(chain(40))
    val base = Pinned.pin(path.select(col("src"), col("dst")))
    // the 820-pair transitive closure of the path
    val closure = Pinned.pin((for (i <- 0 until 40; j <- i + 1 to 40)
      yield (f"n$i%02d", f"n$j%02d")).toDF("src", "dst").coalesce(1))
    def bytes(p: DataFrame) = PinnedPlans.pinnedRelation(p).get.stats.sizeInBytes
    // the base fits the bound, the closure does not
    val bound = bytes(base) * 4
    assert(bytes(closure) > bound)
    def planOf(r: Pinned.Rounds, known: DataFrame) =
      r.fresh(base, known).queryExecution.executedPlan.toString
    val expected = rowsOf(Graph.reach(path, maxHops = 40))
    withConf("spark.sql.maxSinglePartitionBytes", bound.toString) {
      val small = Pinned.rounds(base)
      assert(small.single && !planOf(small, base).contains("Exchange"))
      // a closure past the bound plans exchanges (AQE-sized partitions) again
      val grown = base.unionAll(closure)
      val large = Pinned.rounds(grown)
      assert(!large.single && planOf(large, grown).contains("Exchange"))
      // a 40-hop reach switches regime midway and returns the same rows
      assert(rowsOf(Graph.reach(path, maxHops = 40)) == expected)
    }
  }

  test("Tuning.compact reads the materialized partition count and rejects an unmaterialized frame") {
    val cached = spark.range(0, 1000, 1, 4).toDF("v").persist()
    try {
      intercept[IllegalArgumentException](Tuning.compact(cached, 1000L))
      assert(cached.count() == 1000L)
      assert(Tuning.compact(cached, 1000L).rdd.getNumPartitions == 1)
      assert(Tuning.compact(cached, 1000L, rowsPerTask = 100L) eq cached)
    } finally cached.unpersist()
    intercept[IllegalArgumentException](Tuning.compact(spark.range(0, 10).toDF("v"), 10L))
  }
}
