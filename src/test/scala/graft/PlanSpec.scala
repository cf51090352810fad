package graft

import org.apache.spark.sql.functions._

import graft.sources.CorpusSynth

/** Physical-plan assertions (SURVEY.md §4.1): the optimizations the engine
  * RELIES on must actually be present in the executed plan, not assumed. */
class PlanSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  test("predicate pushdown + column pruning reach the parquet scan") {
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("lang") === "en")
      .select("doc_id", "source")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"),
      s"filter not pushed:\n$scan")
    // pruning: the scan must not read text/n_chars for this projection
    assert(scan.contains("ReadSchema") && !scan.contains("text"),
      s"column pruning failed (text read for a 2-column projection):\n$scan")
  }

  test("partition pruning on the partitioned triple table") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pp").toString
    val triples = Seq(("a", "hasSense", "x"), ("b", "coOccursWith", "y"))
      .toDF("subj", "pred", "obj")
    sources.TableIO.writeTable(spark, dir, "triples", sources.TableIO.Layout.Triples)(triples)
    val plan = sources.TableIO.readTriples(spark, dir)
      .filter(col("pred") === "hasSense")
      .queryExecution.executedPlan.toString
    // partition filter, not a data filter: pruned at planning
    assert(plan.contains("PartitionFilters") && plan.contains("pred"), plan)
  }

  test("quad store: a constant GRAPH term prunes graph partitions at planning") {
    import spark.implicits._
    import operators.TripleStore.{C, V}
    val dir = java.nio.file.Files.createTempDirectory("graft_qpp").toString
    try {
      val quads = Seq(
        ("v1", "a", "coOccursWith", "x"), ("v1", "b", "coOccursWith", "y"),
        ("v2", "a", "coOccursWith", "x"), ("v2", "t", "isTopTermOf", "a"))
        .toDF("graph", "subj", "pred", "obj")
      sources.TableIO.writeTable(spark, dir, "quads", sources.TableIO.Layout.Quads)(quads)
      val store = sources.TableIO.readQuads(spark, dir)
      // round-trip through the partitioned layout
      assert(store.as[(String, String, String, String)].collect().toSet ==
        quads.as[(String, String, String, String)].collect().toSet)
      val out = operators.TripleStore.bgpQuads(store,
        Seq((C("v2"), V("e"), C("isTopTermOf"), V("t"))))
      val plan = out.queryExecution.executedPlan.toString
      // BOTH constants land as partition filters — planning-time pruning,
      // single-directory read for a (graph, pred)-constant pattern
      assert(plan.contains("PartitionFilters") && plan.contains("graph")
        && plan.contains("isTopTermOf"), plan)
      // columns alphabetical (e, t): e = the subj binding "t", t = obj "a"
      assert(out.as[(String, String)].collect().toSeq == Seq(("t", "a")))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("term-statistics dictionary join is a broadcast, not a shuffle join") {
    val cs = Pipeline.coStats(CorpusSynth.fromDocuments(spark, sfDir), Queries.cfg)
    val plan = cs.contingency.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("coocTriples join is broadcast; significance stays in codegen") {
    val cs = Pipeline.coStats(CorpusSynth.fromDocuments(spark, sfDir), Queries.cfg)
    val triples = Pipeline.coocTriples(cs.coverage, cs.top)
    val plan = triples.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join:\n$plan")
    cs.scored.collect() // finalize the adaptive plan so codegen spans appear
    val scored = cs.scored.queryExecution.executedPlan.toString
    assert(scored.contains("graft_log_hypergeom_tail("), scored) // native expression inline
    assert(scored.contains("WholeStageCodegen") || scored.contains("*("),
      s"no whole-stage-codegen spans:\n$scored")
    assert(!scored.contains("BatchEvalPython") && !scored.contains("ScalaUDF"), scored)
  }

  test("salted aggregation produces two exchanges with partial aggregation") {
    import spark.implicits._
    val toks = operators.Tokenize.tokensFrom(
      operators.Tokenize.tokDocs(CorpusSynth.fromDocuments(spark, sfDir), Queries.cfg))
    val plan = operators.Cooc.marginals(toks, Queries.cfg).queryExecution.executedPlan.toString
    // phase 1 (term, salt) exchange + phase 2 (term) exchange
    assert("Exchange hashpartitioning".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("embedding pair scoring is the native ArrayDot expression, no UDF") {
    import spark.implicits._
    val emb = spark.createDataset((0L until 50L).map(i =>
      (i, Seq.fill(8)(((i * 31 + 7) % 11).toFloat / 11f)))).toDF("vec_id", "embedding")
    val brute = operators.Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 2), 3)
    brute.collect()
    val plan = brute.queryExecution.executedPlan.toString
    assert(plan.contains("graft_array_dot("), s"native dot missing:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"interpreted UDF on the ANN hot path:\n$plan")

    // IVF probe path: the KMeans featurization UDF must be pruned out of the
    // final query plan (it belongs to the driver-side index build only)
    val ivf = operators.Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 2), 3, nlist = 4)
    ivf.collect()
    val ivfPlan = ivf.queryExecution.executedPlan.toString
    assert(!ivfPlan.contains("ScalaUDF"), s"UDF survived into the IVF probe plan:\n$ivfPlan")
  }

  test("contamination: corpus side joins via broadcast, never a shuffle join") {
    import spark.implicits._
    val corpus = (0 until 200).map(i => TokDoc(s"c$i", Array.fill(30)(s"w${(i * 7 + 1) % 50}"))).toDS()
    val bench = (0 until 5).map(i => TokDoc(s"b$i", Array.fill(10)(s"w${i % 50}"))).toDS()
    val df = operators.TextStats.contamination(corpus, bench, 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side shuffle join — exchanges must stay benchmark-bounded:\n$plan")
  }

  test("context rows (ML input) plan contains NO exchange at all") {
    import spark.implicits._
    val docs = CorpusSynth.fromDocuments(spark, sfDir)
    val dict = Map("spark" -> Map("data" -> 0, "join" -> 1))
    val ctx = operators.Tokenize.contextRowsFrom(
      operators.Tokenize.tokDocs(docs, Queries.cfg), Queries.cfg, dict)
    val plan = ctx.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"doc-local path must not shuffle:\n$plan")
  }

  test("triple diff costs ONE shuffle, not the anti-join pair") {
    import spark.implicits._
    val v1 = (0 until 200).map(i => (s"s$i", "p", s"o$i")).toDF("subj", "pred", "obj")
      .repartition(3)
    val v2 = (100 until 300).map(i => (s"s$i", "p", s"o$i")).toDF("subj", "pred", "obj")
      .repartition(3)
    val out = operators.TripleStore.diff(v1, v2)
    assert(out.count() == 200L) // 100 removed + 100 added
    val plan = out.queryExecution.executedPlan.toString
    // the two input repartitions are RoundRobinPartitioning exchanges; the
    // diff itself may add only ONE hashpartitioning exchange (the tagged
    // union's aggregation) and no join at all
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("Join"), s"diff must not plan anti-joins:\n$plan")
    // and that one aggregation combines map-side: partial before the shuffle
    assert(plan.contains("partial_max"), s"no map-side combine:\n$plan")
  }

  test("ntile sharding never funnels data through one partition") {
    import spark.implicits._
    // the point of the two-phase scan: a naive global row_number/ntile plans
    // an Exchange SinglePartition + one giant Window task; the distributed
    // form must show neither, and its Window must be pid-partitioned
    val df = (0 until 500).map(i => (f"id$i%03d", i.toLong)).toDF("id", "v")
      .repartition(4)
    val out = operators.Mixing.ntileBuckets(df, 8, Seq("id"))
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"global-window funnel in the ntile plan:\n$plan")
    // the window must be partitioned by the pinned partition id — the
    // range exchange itself lives inside the eager checkpoint and is
    // therefore absent from this plan by design
    assert(plan.contains("Window") && plan.contains("__pid"),
      s"expected a __pid-partitioned window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-partition offsets must join broadcast:\n$plan")
  }

  test("decontaminate: benchmark vocab broadcasts; shingles never shuffle-join") {
    import spark.implicits._
    val corpus = (0 until 200).map(i => TokDoc(s"c$i", Array.fill(30)(s"w${(i * 7 + 1) % 50}"))).toDS()
    val bench = (0 until 5).map(i => TokDoc(s"b$i", Array.fill(10)(s"w${i % 50}"))).toDS()
    val df = operators.TextStats.decontaminate(corpus, bench, 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the semi-join against the benchmark vocabulary must be broadcast;
    // with AQE the narrow per-doc joins may also resolve to broadcast —
    // what must NEVER appear is a shingle-keyed SortMergeJoin
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") || !plan.contains("shingle"),
      s"shingle-keyed shuffle join — only per-doc projections may exchange:\n$plan")
  }

  test("dedupLines: no global-window funnel; reassembly partitioned by doc key") {
    import spark.implicits._
    val docs = (0 until 100).map(i =>
      CodeDoc("r", s"p$i", "c", "en", s"shared header\nunique line $i\nshared footer")).toDS()
    val out = operators.Dedup.dedupLines(docs, 2)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"line dedup must never funnel through one partition:\n$plan")
  }

  test("bm25: idf frame broadcasts; top-N is TakeOrdered, never a global Sort") {
    import spark.implicits._
    val toks = (0 until 200).flatMap(i =>
      Seq((s"d$i", "spark"), (s"d$i", s"filler$i"), (s"d$i", "join")))
      .toDF("docid", "term")
    val out = operators.Search.bm25(toks, Seq("spark", "join"), topN = 10)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"per-term idf must broadcast, not shuffle-join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-N must be TakeOrdered (no global sort materializes):\n$plan")
    assert(!plan.contains("Sort ["), // a full Sort node would spell global sort
      s"no global Sort expected for the top-N cut:\n$plan")
    // the query-term filter sits BEFORE the tf aggregation's exchange: the
    // wide state is (matching docs x |Q|), never the corpus
    assert(plan.indexOf("spark,join") < plan.indexOf("Exchange"),
      s"query-term filter must precede the first exchange:\n$plan")
  }

  test("bgp: a constant predicate PUSHES DOWN to the triple-store scan") {
    import operators.TripleStore.{C, V}
    val dir = java.nio.file.Files.createTempDirectory("bgp-plan").toString
    try {
      import spark.implicits._
      (0 until 50).flatMap(i => Seq(
        (s"s$i", "knows", s"o${i % 7}"), (s"s$i", "likes", s"o${i % 5}")))
        .toDF("subj", "pred", "obj")
        .write.mode("overwrite").parquet(dir)
      val triples = spark.read.parquet(dir)
      val out = operators.TripleStore.bgp(triples, Seq(
        (V("x"), C("knows"), V("t")), (V("y"), C("knows"), V("t"))))
      val plan = out.queryExecution.executedPlan.toString
      // constant pred reaches the parquet scan as a pushed filter — on the
      // pred-partitioned store this is the partition-pruning path
      assert(plan.contains("PushedFilters: [IsNotNull(pred), EqualTo(pred,knows)")
        || plan.contains("EqualTo(pred,knows)"),
        s"constant pred must push into the scan:\n$plan")
      assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
        s"shared variable must equi-join:\n$plan")
      // pruned read schema: only the variable slots survive the projection
      assert(!plan.contains("ReadSchema: struct<subj:string,pred:string,obj:string>")
        || plan.contains("PushedFilters"), s"column pruning expected:\n$plan")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("bgpValues: the inline VALUES table joins BROADCAST — bindings never shuffle for it") {
    import spark.implicits._
    import operators.TripleStore.{C, V}
    val triples = (0 until 300).map(i => (s"s$i", "likes", s"o${i % 9}"))
      .toDF("subj", "pred", "obj")
    val out = operators.TripleStore.bgpValues(triples,
      Seq((V("x"), C("likes"), V("t"))),
      vars = Seq("t"), rows = Seq(Seq(Some("o1")), Seq(None)))
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    // the NULL-tolerant compatibility predicate is non-equi → broadcast
    // nested loop against the driver-literal table; a shuffle join over
    // the inline side would mean the big side exchanged for a 2-row table
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"inline VALUES must join broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no shuffle join for a driver-literal table:\n$plan")
  }

  test("canonicalize: the component assignment broadcast-joins onto subj and obj") {
    import spark.implicits._
    val sameAs = Seq(("b", "c"), ("c", "d")).toDF("a", "b")
    val store = (0 until 300).map(i => (s"s${i % 50}", "p", if (i % 3 == 0) "c" else s"o$i"))
      .toDF("subj", "pred", "obj")
    val out = operators.TripleStore.canonicalize(store, sameAs)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.count(_ == 'B') >= 2 && plan.contains("BroadcastHashJoin"),
      s"node-sized component map must broadcast onto the store:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the store must not shuffle for the alias rewrite:\n$plan")
  }
}
