package perfbench

import graft.{Memo, Queries, SparkEntry}

import Main.{materialize, median}

/** `graph`: the registry queries that drive iterative or closure operators
  * (`operators.Graph` / `TripleStore` loops with `plans.Pinned`) over the
  * memoized KG edges and ranked stores.
  *
  * Set-up builds the memos the queries read, each timed around its public
  * `Memo.*Of` call, then calls every query once (the warm pass) so lazily
  * built state and first-call compilation land in set-up, not in timed
  * samples. The warm pass is sequential like the timed loop: the graph loops
  * of concurrent queries in one session unpersist each other's local
  * checkpoints (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). The timed loop calls the
  * queries in the seed's order, cycling, until every query has `MinCalls`
  * samples and `seconds` have passed: a per-query median over two passes
  * halves the weight of a host stall that hits one pass.
  *
  * Nine of the 19 graph-operator registry queries are left out to keep a run
  * inside the benchmark's time budget: q_web_authority (PageRank over the
  * planted web-page link graph, not the KG edges), q_kg_ppr (the PageRank
  * operator again) and seven loops no roadmap item targets (q_kg_wcc,
  * q_kg_kcore, q_kg_triangles, q_kg_linkpredict, q_kg_labelprop, q_kg_sssp,
  * q_kg_reach_approx). */
final class GraphWorkload(ctx: Main.Ctx) extends Workload {
  import ctx._

  val GraphQueries: Seq[String] = Seq(
    "q_kg_hits", "q_kg_pagerank", "q_kg_reach",
    "q_kg_pathplus", "q_kg_pathexpr", "q_kg_pathstar",
    "q_kg_owl", "q_kg_owl_chain", "q_kg_sameas", "q_kg_rdfs")

  private val queries: Seq[String] =
    opt.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(GraphQueries)
  private val order = new scala.util.Random(seed).shuffle(queries)
  private val registry = SparkEntry.queries
  private val MinCalls = 2

  private def run(q: String): Seq[(String, String)] = materialize(registry(q)(spark, data))

  def setup(): Unit = {
    detail("seed_effect") = Json.str("query call order")
    detail("order") = Json.arr(order.map(Json.str))
    val cfg = Queries.cfg
    val builds = Seq[(String, () => Unit)](
      "tokdocs" -> (() => Memo.tokDocsOf(spark, data, cfg).toDF().count()),
      "costats" -> (() => Memo.coStatsOf(spark, data, cfg)),
      "kg_edges" -> (() => Memo.kgEdgesOf(spark, data, cfg).count()),
      "ranked" -> { () =>
        val (top20, top1) = Memo.rankedStoresOf(spark, data, cfg)
        top20.count(); top1.count()
      })
    builds.foreach { case (name, build) =>
      op(s"memo.$name")(tracer.span(s"memo.$name")(build()))
    }
    // before the warm pass: afterwards the loops' released checkpoints linger
    val cached = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    detail("memo.cached_frames") = cached.length.toString
    detail("memo.cached_mb") = Json.num(cached.map(i => i.memSize + i.diskSize).sum / 1048576.0)
    order.foreach { q =>
      op(s"warm.$q")(expect(s"graph.$q", tracer.span(s"warm.$q")(run(q))))
    }
  }

  def timed(timer: Main.Timer): Unit = {
    markTimedStart()
    val t0 = System.nanoTime()
    var i = 0
    while (i < MinCalls * order.size || (System.nanoTime() - t0) / 1e9 < seconds) {
      val q = order(i % order.size)
      op(q) {
        val (got, sec) = timer(tracer.span(s"graph.$q")(run(q)))
        sample(q, sec)
        expect(s"graph.$q", got)
      }
      i += 1
    }
  }

  def check(): Unit = ()

  private def perQuery: Seq[(String, Double)] =
    queries.map(q => q -> median(samples.getOrElse(q, Nil).toSeq))

  def endToEnd(): Seq[(String, Double)] = {
    val pq = perQuery
    val graphS = pq.map(_._2).sum
    pq.foreach { case (q, s) => detail(s"graph.$q.s") = Json.num(s) }
    detail("graph_s") = Json.num(graphS)
    val warm = queries.map(q => tracer.named(s"warm.$q").headOption.map(_.seconds).getOrElse(0.0))
    detail("memo.lazy_first_call_s") = Json.num(warm.sum - graphS)
    Seq("tokdocs", "costats", "kg_edges", "ranked").foreach { m =>
      detail(s"memo.$m.build_s") =
        Json.num(tracer.named(s"memo.$m").headOption.map(_.seconds).getOrElse(Double.NaN))
    }
    detail("call_p50_ms") = Json.num(median(queries.flatMap(q => samples.getOrElse(q, Nil))) * 1000)
    Seq("iteration_s" -> graphS, "throughput_per_s" -> queries.size / graphS)
  }

  /** One iteration is one call of every query: per-query medians, summed
    * (counts come from each query's median call; they repeat exactly). */
  def perLayer(timer: Main.Timer): Seq[(String, Double)] = {
    val perQ = queries.map { q =>
      val calls = tracer.named(s"graph.$q").map(s => tracer.inclusive(s) -> s.seconds)
      val mid = calls.sortBy(_._2).apply(calls.size / 2)
      q -> mid
    }
    val pass = new Counts
    perQ.foreach { case (_, (c, _)) => pass.add(c) }
    val nCalls = perQ.size.toDouble / queries.flatMap(q => samples.getOrElse(q, Nil)).size
    val jobsOf = perQ.map { case (q, (c, _)) => s"graph.$q.jobs" -> c.jobs.toDouble }
    // job intervals of different calls never overlap, so the pass's busy
    // wall is the sum of the calls' busy walls
    Layers.generic(Seq(pass -> perQ.map(_._2._2).sum), timer.gcMs / 1000.0 * nCalls) ++
      jobsOf ++ Seq(
        "memo.cached_frames" -> detail("memo.cached_frames").toDouble,
        "memo.cached_mb" -> detail("memo.cached_mb").toDouble)
  }
}
