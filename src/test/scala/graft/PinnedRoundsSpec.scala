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

import graft.operators.{Dedup, Graph, TripleStore}
import graft.plans.Pinned

/** Measured pins and what they enable: a pin's plan carries its measured
  * size and (for one partition) `SinglePartition`; HITS, PageRank, PPR,
  * connected components and the reach, path and OWL closures then run
  * whole inside one task, and a closure that outgrows the bound gives up
  * and runs its relational rounds, one Spark job each; a pin frees only
  * its own storage (concurrent loops in one session no longer free each
  * other's pins); and the relational rounds give bit-identical outputs and
  * fail alike. */
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

  test("free(pin) releases only its own RDD") {
    val p = Pinned.pin(spark.range(0, 10, 1, 2).toDF("v"))
    val q = Pinned.pin(spark.range(0, 10, 1, 2).toDF("v"))
    val (pId, qId) = (PinnedPlans.pinnedRelation(p).get.rdd.id, PinnedPlans.pinnedRelation(q).get.rdd.id)
    assert(sc.getPersistentRDDs.contains(pId) && sc.getPersistentRDDs.contains(qId))
    Pinned.free(p)
    assert(!sc.getPersistentRDDs.contains(pId))
    // the other pin, taken meanwhile, is never freed and stays readable
    assert(sc.getPersistentRDDs.contains(qId) && q.agg(sum("v")).head.getLong(0) == 45L)
    Pinned.free(q)
    intercept[IllegalArgumentException](Pinned.free(q.select(col("v"))))
  }

  test("concurrent graph loops in one session keep each other's pins (results equal sequential)") {
    // each loop frees its superseded rounds; a free built by diffing the
    // context's persisted RDDs also captured pins taken meanwhile on other
    // threads and dropped them: CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
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
    val e = Pinned.pin(one(graph))
    // 10 HITS half-steps: the sparse hub and authority frames
    val (_, hubs1, auth1) = Graph.hitsScores(e, iters = 1, scale = 1000000L)
    val (_, hubs5, auth5) = Graph.hitsScores(e, iters = 5, scale = 1000000L)
    // 8 PageRank rounds, relational past one partition: the returned frame
    // is the last round's pin
    val (pr1, pr8) = withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      val multi = graph.toDF("src", "dst", "w").repartition(4)
      (Graph.pageRank(multi, iters = 1), Graph.pageRank(multi, iters = 8))
    }
    for ((first, last) <- Seq((hubs1, hubs5), (auth1, auth5), (pr1, pr8))) {
      val (r1, rn) = (ratio(first), ratio(last))
      assert(rn <= 64.0, s"estimate is ${rn}x the measured size")
      assert(rn <= 2.0 * r1, s"estimate grew with rounds: ${r1}x -> ${rn}x")
    }
  }

  test("one job per loop: HITS, PageRank, PPR, CC and the reach, path, OWL closures") {
    val e = one(graph)
    // in one task: the edge pin, the kernel's pin and the collect, whatever
    // the round count (PPR adds the source pin)
    def hits(k: Int) = jobsOf(Graph.hits(e, iters = k).collect())
    def pr(k: Int) = jobsOf(Graph.pageRank(e, iters = k).collect())
    def ppr(k: Int) = jobsOf(Graph.personalizedPageRank(e,
      Seq("n00", "n05").toDF("node").coalesce(1), iters = k).collect())
    // CC over a path of m pairs: the star rounds needed O(log m) rounds,
    // union-find in the pair pin's task needs none
    def cc(m: Int) = jobsOf(Dedup.connectedComponents(
      chain(m).toDF("a", "b", "w").select(col("a"), col("b")).coalesce(1)).collect())
    assert(Seq(hits(1), hits(3)) == Seq(3, 3))
    assert(Seq(pr(2), pr(5)) == Seq(3, 3))
    assert(Seq(ppr(2), ppr(4)) == Seq(4, 4))
    assert(Seq(cc(4), cc(32)) == Seq(3, 3))
    // the growing closures: the base pin, the kernel's pin and the collect.
    // A 12-edge path never drains early within 6 hops, so relational rounds
    // would take one job per hop
    val path = one(chain(12))
    def reach(k: Int) = jobsOf(Graph.reach(path, maxHops = k).collect())
    def plus(k: Int) = jobsOf(TripleStore.pathPlus(
      triples(chain(12), "p").coalesce(1), "p", maxHops = k).collect())
    // transitive closure of an m-edge path: semi-naive doubling finds the
    // paths up to length 2^k in round k, and round ceil(log2 m) + 1 drains
    // (m = 2: 2 rounds; m = 8: 4 rounds), all inside the one task
    val schema = Seq(("p", "type", "TransitiveProperty")).toDF("subj", "pred", "obj")
    def owl(m: Int) = jobsOf(TripleStore.owlClosure(
      triples(chain(m), "p").coalesce(1), schema).collect())
    assert(Seq(reach(3), reach(6)) == Seq(3, 3))
    assert(Seq(plus(3), plus(6)) == Seq(3, 3))
    assert(Seq(owl(2), owl(8)) == Seq(3, 3))
    assert(TripleStore.owlClosure(triples(chain(8), "p"), schema).count() == 8L * 9 / 2)
  }

  test("multi-partition pins: outputs bit-identical to the one-partition regime") {
    def all(e: DataFrame, t: DataFrame): Seq[Seq[Row]] = {
      val schema = Seq(("p", "type", "TransitiveProperty"), ("p", "inverseOf", "q"),
        ("q", "type", "SymmetricProperty")).toDF("subj", "pred", "obj")
      val rdfsSchema = Seq(("p", "subPropertyOf", "q"), ("q", "domain", "D"), ("p", "range", "R"),
        ("D", "subClassOf", "E")).toDF("subj", "pred", "obj")
      Seq(
        rowsOf(Graph.hits(e, iters = 5)),
        rowsOf(Graph.pageRank(e, iters = 8)),
        rowsOf(Graph.personalizedPageRank(e, Seq("n00", "n05").toDF("node"), iters = 4)),
        rowsOf(Graph.reach(e, maxHops = 3)),
        rowsOf(TripleStore.pathPlus(t, "p", maxHops = 3)),
        rowsOf(TripleStore.path(t, TripleStore.Star(TripleStore.Pred("p"), maxHops = 2))),
        rowsOf(TripleStore.owlClosure(t, schema)),
        rowsOf(TripleStore.rdfsClosure(t, rdfsSchema, maxDepth = 3)),
        rowsOf(Graph.wcc(e)),
        rowsOf(TripleStore.canonicalize(t, e.filter(col("w") > 5L)
          .select(col("src").as("a"), col("dst").as("b")))))
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

  /** `body` in the in-task regime and in the relational one: the same
    * one-partition pins past a 1-byte `spark.sql.maxSinglePartitionBytes`. */
  private def bothRegimes[T](body: => T): (T, T) =
    (body, withConf("spark.sql.maxSinglePartitionBytes", "1")(body))

  /** Whether `body` failed with an arithmetic overflow anywhere in its
    * cause chain (a kernel's or an ANSI expression's, thrown in a task). */
  private def overflows(body: => Any): Boolean =
    try { body; false } catch {
      case t: Throwable =>
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .exists(c => c.isInstanceOf[ArithmeticException] ||
            String.valueOf(c.getMessage).contains("ArithmeticException"))
    }

  test("weights past the Long envelope fail in both regimes, with no rows") {
    // s * w overflows in the first HITS half-step; rank * w in the first
    // PageRank round (rank <= 1e12, w = 1e8) and PPR round
    val heavyHits = one(graph.map { case (s, d, w) => (s, d, w * (Long.MaxValue / 16)) })
    val heavyRank = one(graph.map { case (s, d, w) => (s, d, w * 100000000L) })
    val (inTask, relational) = bothRegimes(Seq(
      overflows(Graph.hits(heavyHits, iters = 2).collect()),
      overflows(Graph.pageRank(heavyRank, iters = 2).collect()),
      overflows(Graph.personalizedPageRank(heavyRank, Seq("n00").toDF("node"), iters = 2).collect())))
    assert(inTask == Seq(true, true, true) && relational == Seq(true, true, true))
  }

  test("CC picks the minimum under Spark's binary order of the key type in both regimes") {
    // UTF-16 order puts the surrogate pair of "😀" (U+1F600) before "～"
    // (U+FF5E); UTF-8 bytes (F0.. vs EF..) put "～" first, as Spark does
    val strs = Seq(("😀", "～"), ("s", "s"))
    val (s1, s2) = bothRegimes(rowsOf(Dedup.connectedComponents(strs.toDF("a", "b").coalesce(1))))
    assert(s1 == s2)
    assert(s1.map(r => r.getString(0) -> r.getString(1)).toMap ==
      Map("～" -> "～", "😀" -> "～", "s" -> "s"))
    val longs = Seq((10L, 9L), (100099L, 10L), (-5L, 7L), (7L, 7L), (3L, 3L))
    val (l1, l2) = bothRegimes(rowsOf(Dedup.connectedComponents(longs.toDF("a", "b").coalesce(1))))
    assert(l1 == l2)
    assert(l1.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(9L -> 9L, 10L -> 9L, 100099L -> 9L, -5L -> -5L, 7L -> -5L, 3L -> 3L))
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

  test("a closure that outgrows the bound gives up in its task and returns the relational rows") {
    val path = chain(40)
    val t = triples(path, "p").coalesce(1)
    val schema = Seq(("p", "type", "TransitiveProperty")).toDF("subj", "pred", "obj")
    val base = Pinned.pin(t)
    def bytes(p: DataFrame) = PinnedPlans.pinnedRelation(p).get.stats.sizeInBytes
    // the 40-triple base fits the bound, its 820-triple closure does not
    val bound = bytes(base) * 4
    def run() = Seq(
      rowsOf(TripleStore.pathPlus(t, "p", maxHops = 40)),
      rowsOf(TripleStore.owlClosure(t, schema)))
    val inTask = run()
    val relational = withConf("spark.sql.maxSinglePartitionBytes", "1")(run())
    val (gaveUp, jobs) = withConf("spark.sql.maxSinglePartitionBytes", bound.toString) {
      assert(Pinned.rounds(Pinned.pin(t.filter(col("pred") === "p").select(col("subj"), col("obj")))).single)
      assert(Pinned.rounds(base).single)
      var out: Seq[Seq[Row]] = null
      val n = jobsOf { out = run() }
      (out, n)
    }
    assert(inTask.map(_.size) == Seq(820, 820))
    assert(gaveUp == relational && inTask == relational)
    // the relational rounds ran after the kernel's empty pin: more than the
    // in-task 2 x 3 jobs
    assert(jobs > 6, s"$jobs jobs")
    // converge-or-throw holds in both regimes: the kernel gives up where the
    // rounds would pass maxRounds, and the relational rounds throw
    val (e1, e2) = bothRegimes(intercept[IllegalStateException](
      TripleStore.owlClosure(triples(chain(8), "p").coalesce(1), schema, maxRounds = 2)).getMessage)
    assert(e1 == e2)
  }

  test("null keys: every closure gives the same rows in both regimes") {
    val es = chain(6) ++ Seq((null, "n02", 1L), ("n03", null, 1L), ("n04", "n00", 1L))
    val t = triples(es, "p").coalesce(1)
      .unionAll(Seq(("n01", null: String, "n05")).toDF("subj", "pred", "obj"))
    val schema = Seq(("p", "type", "TransitiveProperty"), ("p", "inverseOf", "q"))
      .toDF("subj", "pred", "obj")
    val (a, b) = bothRegimes(Seq(
      rowsOf(Graph.reach(one(es), maxHops = 4)),
      rowsOf(TripleStore.pathPlus(t, "p", maxHops = 4)),
      rowsOf(TripleStore.owlClosure(t.coalesce(1), schema))))
    assert(a == b)
    assert(a(1).exists(_.isNullAt(0)) && a(2).exists(_.isNullAt(1)))
  }
}
