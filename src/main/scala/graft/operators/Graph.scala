package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

import graft.plans.Pinned

/** Knowledge-graph analytics over an edge frame `(src, dst, w)` — the
  * graph-side consumers of the triple/co-occurrence outputs the pipeline
  * emits (spec: BASELINE.json north rule; the kg_construct tier's
  * "construct, then analyze" loop).
  *
  * Everything here is EXACT INTEGER arithmetic end-to-end — PageRank runs on
  * a scaled-integer lattice (`scale` units of total mass) with truncating
  * division, so a DuckDB oracle replays every iteration bit-for-bit and the
  * driver's hash compare is meaningful (float PageRank would drift across
  * engines in the last ulps and flip quantized hashes nondeterministically).
  *
  * Scale notes (100 TB):
  *  - `bigramEdges` is doc-local (window partitioned by docid; skew bounded
  *    by `maxDocChars`), then one hash aggregation on (src, dst) — the
  *    standard two-phase count with map-side combine.
  *  - `pageRank`, `personalizedPageRank` and `hits` pin the edge set ONCE.
  *    When that pin is one partition that fits
  *    `spark.sql.maxSinglePartitionBytes` (every KB-sized graph), the
  *    whole loop runs inside one task over the pinned rows
  *    (`Pinned.inTask`): the same Long arithmetic on arrays, so a query is
  *    the edge pin, that task's pin and its own job, whatever the round
  *    count. Past the bound each round is relational: rank-join-aggregate
  *    against the pinned edge and out-weight frame, each round's
  *    node-sized frame pinned and the previous round freed
  *    deterministically — at most two rank copies live. Work per round is
  *    one edge join plus one aggregation on dst; rounds are a fixed
  *    constant. Both paths give the same rows (PinnedRoundsSpec).
  *  - `reach` is the bounded closure of the edge set
  *    (`TripleStore.boundedClosure`, shared with the property paths),
  *    counted per source. While the edge pin and the closure fit
  *    `spark.sql.maxSinglePartitionBytes` the closure is one BFS per node
  *    inside one task; past that, each hop is semi-naive and relational:
  *    it joins only the FRESH pairs against the edge set (never the
  *    accumulated closure), so a converged frontier costs nothing, and
  *    picks its regime from the closure so far. Bounded-hop reachability
  *    over a dense graph is inherently output-heavy; callers choose
  *    `maxHops` small (typical KG neighborhood queries: 2–4).
  */
object Graph {

  /** Directed term-adjacency edges from a token stream `(docid, pos, term)`:
    * src = term at pos, dst = term at pos+1 within the same doc, self-loops
    * dropped, weight = corpus-wide pair count. */
  def bigramEdges(toks: DataFrame): DataFrame = {
    val w = Window.partitionBy("docid").orderBy("pos")
    toks
      .select(col("docid"), col("pos"), col("term"))
      .withColumn("nxt", lead(col("term"), 1).over(w))
      .filter(col("nxt").isNotNull && col("nxt") =!= col("term"))
      .groupBy(col("term").as("src"), col("nxt").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** Per-node degree/strength profile: out/in edge counts and weight sums,
    * full-outer so pure sources and pure sinks both appear. */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"), sum(col("w")).as("out_w"))
    val in = edges.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"), sum(col("w")).as("in_w"))
    out.join(in, Seq("node"), "full_outer")
      .na.fill(0L, Seq("out_deg", "out_w", "in_deg", "in_w"))
      .select(col("node"), col("out_deg"), col("out_w"), col("in_deg"), col("in_w"))
  }

  /** Weighted PageRank on a scaled-integer lattice, `iters` fixed rounds.
    *
    * All mass lives in `scale` integer units; every operation is Long
    * arithmetic with truncating division (`div`), so results are exactly
    * reproducible across engines and cluster sizes. Per round, with
    * r = previous ranks, N = |nodes|, ow(u) = total out-weight of u:
    *
    *   inflow(v) = Σ over edges (u,v,w) of (r(u) * w) div ow(u)
    *   dshare    = (Σ over dangling u of r(u)) div N
    *   r'(v)     = teleport + ((inflow(v) + dshare) * dampNum) div dampDen
    *
    * with teleport = (seed * (dampDen - dampNum)) div dampDen and
    * seed = scale div N (the uniform start). Truncation loses a few units
    * of mass per round — identically in every engine, which is the point.
    *
    * Overflow envelope (documented precondition): a single rank is
    * bounded by `scale`, so `rank * w` needs scale * max(w) < 2^63 — at the
    * default scale 1e12, max edge weight 9.2e6. For heavier edge sets pass
    * a smaller `scale` (the lattice just coarsens) or pre-bucket weights.
    * Every product and sum is overflow-checked in both the relational and
    * the in-task form (see [[ranks]]), so an input past the envelope fails,
    * as ANSI Spark does, instead of returning ranks.
    *
    * Returns `(node, rank)` with rank in lattice units.
    */
  def pageRank(edges: DataFrame, iters: Int, scale: Long = 1000000000000L,
               dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
    require(iters >= 1, "pageRank needs at least one iteration")
    ranks(edges, None, iters, scale, dampNum, dampDen)
  }

  /** Personalized PageRank: the teleport mass lands on `sources` (column
    * `node`) instead of uniformly — the canonical "entities related to X"
    * KG query. Same scaled-integer lattice and truncating division as
    * [[pageRank]], so the oracle replays every round exactly. Per round,
    * with S = source set, tp = (scale·(dampDen−dampNum)) div dampDen div |S|:
    *
    *   inflow(v) = Σ over edges (u,v,w) of (r(u) * w) div ow(u)
    *   dshare    = (Σ over dangling u of r(u)) div |S|   (back to sources)
    *   r'(v)     = [v∈S]·tp + ((inflow(v) + [v∈S]·dshare) * dampNum) div dampDen
    *
    * started from r0 = scale div |S| on S, 0 elsewhere. Same overflow
    * envelope as pageRank. Returns `(node, rank)` in lattice units for all
    * nodes (untouched nodes rank 0). */
  def personalizedPageRank(edges: DataFrame, sources: DataFrame, iters: Int,
                           scale: Long = 1000000000000L,
                           dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
    require(iters >= 1, "personalizedPageRank needs at least one iteration")
    ranks(edges, Some(sources), iters, scale, dampNum, dampDen)
  }

  private val NoSource = "personalizedPageRank needs at least one source present in the graph"

  /** PageRank (`sources` None: every node is a teleport target) and
    * personalized PageRank. PageRank is the personalized lattice with
    * S = every node, except for its teleport term, which truncates the
    * uniform start rank: (scale div N)·(dampDen−dampNum) div dampDen.
    *
    * The edges are pinned once. When [[Pinned.rounds]] says they (and the
    * pinned sources) fit one partition, every round runs inside one task
    * ([[ranksInTask]]): the pins, that task and the caller's job are the
    * whole loop, whatever `iters` is. Otherwise [[rankRounds]] runs each
    * round as a relational plan and a pin. */
  private def ranks(edges: DataFrame, sources: Option[DataFrame], iters: Int, scale: Long,
                    dampNum: Long, dampDen: Long): DataFrame = {
    val e = Pinned.pin(edges.select(col("src"), col("dst"), col("w")))
    if (sources.isEmpty) require(Pinned.rows(e) > 0, "pageRank on an empty edge set")
    val srcPin = sources.map(s => Pinned.pin(
      s.select(col("node").cast(e.schema("src").dataType)).distinct()))
    val pins = e +: srcPin.toSeq
    val out =
      if (Pinned.rounds(pins: _*).single) {
        val (keyType, wType) = (nodeType(e), e.schema("w").dataType)
        val schema = StructType(Seq(StructField("node", keyType), StructField("rank", LongType)))
        val r = Pinned.inTask(schema, pins: _*) { in =>
          ranksInTask(in.head, in.lift(1), keyType, wType, iters, scale, dampNum, dampDen)
        }
        require(Pinned.rows(r) > 0, NoSource)
        r
      } else rankRounds(e, srcPin, iters, scale, dampNum, dampDen)
    pins.foreach(Pinned.free)
    out
  }

  /** The rank loop's start rank of a teleport target and its teleport term
    * per round, for `nS` targets (see [[ranks]]). */
  private def rankConsts(personalized: Boolean, nS: Long, scale: Long,
                         dampNum: Long, dampDen: Long): (Long, Long) = {
    val seed = scale / nS
    (seed, if (personalized) scale * (dampDen - dampNum) / dampDen / nS
           else seed * (dampDen - dampNum) / dampDen)
  }

  /** The rank loop inside one task over the pinned `(src, dst, w)` rows and
    * (personalized) the pinned source nodes: the relational rounds'
    * arithmetic on arrays, with `ow`, the dangling flags and the teleport
    * targets computed here. Emits `(node, rank)` in node order, or nothing
    * when no source is a node. */
  private def ranksInTask(edgeRows: Iterator[InternalRow], sourceRows: Option[Iterator[InternalRow]],
                          keyType: DataType, wType: DataType, iters: Int,
                          scale: Long, dampNum: Long, dampDen: Long): Iterator[InternalRow] = {
    val g = new InTaskEdges(edgeRows, keyType, wType)
    val n = g.keys.length
    val ow = new Array[Long](n)
    val dang = Array.fill(n)(true)
    for (i <- 0 until g.m) {
      dang(g.src(i)) = false
      if (g.weighted(i)) ow(g.src(i)) = Math.addExact(ow(g.src(i)), g.w(i))
    }
    val isSrc = sourceRows match {
      case None => Array.fill(n)(1L)
      case Some(rows) =>
        val s = new Array[Long](n)
        rows.foreach(r => Option(g.index.get(Pinned.keyAt(r, 0, keyType))).foreach(v => s(v) = 1L))
        s
    }
    val nS = isSrc.sum
    if (nS == 0) return Iterator.empty
    val (seed, tp) = rankConsts(sourceRows.isDefined, nS, scale, dampNum, dampDen)
    var rank = isSrc.map(_ * seed)
    for (_ <- 1 to iters) {
      var dsum = 0L
      for (v <- 0 until n if dang(v)) dsum = Math.addExact(dsum, rank(v))
      val dshare = dsum / nS
      val inflow = new Array[Long](n)
      for (i <- 0 until g.m if g.weighted(i)) inflow(g.dst(i)) = Math.addExact(inflow(g.dst(i)),
        Math.multiplyExact(rank(g.src(i)), g.w(i)) / ow(g.src(i)))
      rank = Array.tabulate(n) { v =>
        Math.addExact(Math.multiplyExact(isSrc(v), tp), Math.multiplyExact(
          Math.addExact(inflow(v), Math.multiplyExact(isSrc(v), dshare)), dampNum) / dampDen)
      }
    }
    Iterator.tabulate(n)(v => InternalRow(g.keys(v), rank(v)))
  }

  /** The rank loop as relational rounds over the pinned `(src, dst, w)`
    * edges `e`: one plan and one pin per round. */
  private def rankRounds(e: DataFrame, sources: Option[DataFrame], iters: Int, scale: Long,
                         dampNum: Long, dampDen: Long): DataFrame = {
    // pinned once, read every round. The per-source out-weight is folded
    // INTO the pinned edge set up front (r6 optimization): the old loop
    // re-joined edges ⋈ outw every round — identical rows, one join per
    // round saved, and the pinned edge frame grows by one LONG column.
    val ew = Pinned.pin(
      e.join(e.groupBy(col("src")).agg(sum(col("w")).as("ow")), Seq("src")))
    // the node frame carries the dangling and teleport-target flags (r6):
    // the old loop re-joined `dangling ⋈ ranks` every round just to sum the
    // dangling mass; with the flag riding the pinned rank frame, the
    // dangling share is a plain filtered 1-row aggregation of the frame the
    // round reads anyway.
    val nodes = Pinned.pin(sources match {
      case None => nodeFlags(ew).withColumn("is_src", lit(1L))
      case Some(s) =>
        nodeFlags(ew)
          .join(s.select(col("node")).withColumn("src_flag", lit(1L)), Seq("node"), "left")
          .select(col("node"), col("dang"), coalesce(col("src_flag"), lit(0L)).as("is_src"))
    })
    val nS = if (sources.isEmpty) Pinned.rows(nodes) else nodes.filter(col("is_src") === 1L).count()
    require(nS > 0, NoSource)
    val (seed, tp) = rankConsts(sources.isDefined, nS, scale, dampNum, dampDen)

    var ranks = Pinned.pin(
      nodes.select(col("node"), (col("is_src") * seed).as("rank"), col("dang")))
    var it = 0
    while (it < iters) {
      // the dangling share stays a 1-row SUBPLAN of the round (not a
      // driver-collected literal): it runs inside the round's pin job,
      // whereas a per-round collect is a strictly serial driver round-trip
      // (measured +0.15 s/query at 8 rounds — tried and reverted r6)
      val dshare = ranks.filter(col("dang"))
        .agg(coalesce(sum(col("rank")), lit(0L)).as("dsum"))
        .select(expr(s"dsum div ${nS}L").as("dshare"))
      val next = withInflow(ew, nodes, ranks)
        .crossJoin(dshare)
        .select(col("node"),
          expr(s"""is_src * ${tp}L
                  | + ((inflow + is_src * dshare)
                  |    * ${dampNum}L) div ${dampDen}L""".stripMargin.replace("\n", " "))
            .as("rank"), col("dang"))
      val pinnedNext = Pinned.pin(next)
      Pinned.free(ranks)
      ranks = pinnedNext
      it += 1
    }
    Pinned.free(ew); Pinned.free(nodes)
    // the final pinned rank frame is the result (caller drops -> cleaner)
    ranks.select(col("node"), col("rank"))
  }

  /** Every node of a pinned `(src, dst, w, ow)` edge set with its dangling
    * flag (no out-edge) — the node frame the rank rounds pin. */
  private def nodeFlags(e: DataFrame): DataFrame = {
    val outSrcs = e.select(col("src").as("node")).distinct()
      .withColumn("has_out", lit(true))
    e.select(col("src").as("node")).union(e.select(col("dst").as("node")))
      .distinct()
      .join(outSrcs, Seq("node"), "left")
      .select(col("node"), coalesce(!col("has_out"), lit(true)).as("dang"))
  }

  /** One PageRank round's inflow: every row of the pinned node frame
    * `nodes` (its flag columns kept) with `inflow` = Σ (r(u) * w) div ow(u)
    * over its in-edges, 0 without any. Computed as the node frame UNION the
    * per-edge contributions and one aggregation, not as a join of the node
    * frame with per-destination sums: every join input stays a measured
    * pin, so the planner sizes it by measurement. */
  private def withInflow(e: DataFrame, nodes: DataFrame, ranks: DataFrame): DataFrame = {
    val flags = nodes.columns.toSeq.filter(_ != "node")
    val contrib = e.join(ranks.select(col("node").as("src"), col("rank")), Seq("src"))
      .select(col("dst").as("node") +:
        flags.map(f => lit(null).cast(nodes.schema(f).dataType).as(f)) :+
        expr("(rank * w) div ow").as("c"): _*)
    nodes.select(col("node") +: flags.map(col) :+ lit(0L).as("c"): _*).unionAll(contrib)
      .groupBy(col("node"))
      .agg(sum(col("c")).as("inflow"), flags.map(f => max(col(f)).as(f)): _*)
  }

  /** The key type of a pinned `(src, dst, ...)` edge set, which the
    * in-task kernels read both endpoints as. */
  private def nodeType(e: DataFrame): DataType = {
    val t = e.schema("src").dataType
    require(e.schema("dst").dataType == t, "src and dst must have the same type")
    t
  }

  /** A pinned `(src, dst, w)` edge set read inside its task: the node keys
    * in Spark's order of their type, each edge's endpoints as positions in
    * that order, and its integer weight. An edge with a null weight is
    * `weighted` false: it adds nothing to any sum, as in Spark's. */
  private final class InTaskEdges(rows: Iterator[InternalRow], keyType: DataType, wType: DataType) {
    private val buf = rows.map { r =>
      (Pinned.keyAt(r, 0, keyType), Pinned.keyAt(r, 1, keyType),
        if (r.isNullAt(2)) None else Some(r.get(2, wType) match {
          case l: java.lang.Long => l.longValue
          case i: java.lang.Integer => i.longValue
          case s: java.lang.Short => s.longValue
          case b: java.lang.Byte => b.longValue
          case o => throw new IllegalArgumentException(s"edge weights must be integers, got $o")
        }))
    }.toArray
    val (keys, index) = Pinned.numbered(buf.iterator.flatMap(e => Iterator(e._1, e._2)), keyType)
    val m: Int = buf.length
    val src: Array[Int] = buf.map(e => index.get(e._1).intValue)
    val dst: Array[Int] = buf.map(e => index.get(e._2).intValue)
    val weighted: Array[Boolean] = buf.map(_._3.isDefined)
    val w: Array[Long] = buf.map(_._3.getOrElse(0L))
  }

  /** Nodes reachable within `maxHops` directed hops, excluding the node
    * itself: returns `(node, n_reach)` for every node with at least one
    * out-edge. The bounded closure of the edges
    * ([[TripleStore.boundedClosure]]: in one task while it fits one
    * partition, semi-naive relational hops otherwise), less self-pairs,
    * counted per source. */
  def reach(edges: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, "reach needs at least one hop")
    // the result derives from the still-pinned closure; caller-held
    // references stay valid (the pins are only reclaimed when the frame is
    // dropped)
    TripleStore.boundedClosure(edges.select(col("src").as("subj"), col("dst").as("obj")), maxHops)
      .filter(col("obj") =!= col("subj"))
      .groupBy(col("subj").as("node")).agg(count(lit(1)).as("n_reach"))
  }

  /** Approximate bounded-hop neighborhood sizes — the 100 TB scale path for
    * [[reach]] (HyperBall; Boldi & Vigna 2013, on HyperLogLog counters —
    * here Spark's built-in Datasketches HLL aggregates). Exact `reach`
    * materializes the hop-bounded transitive CLOSURE — inherently
    * output-quadratic on dense graphs; this keeps one fixed-size sketch per
    * node and unions sketches along edges per hop:
    *
    *   B(v, 0) = {v};  B(v, h) = B(v, h−1) ∪ ⋃ over edges (v,u) of B(u, h−1)
    *   n_reach_est(v) = estimate(B(v, maxHops)) − 1   (self excluded)
    *
    * State per hop is |V|·2^lgK bytes, work one edge join + one
    * map-side-combinable `hll_union_agg` — never the closure. Results are
    * DETERMINISTIC across partitionings and cluster sizes: a sketch is a
    * pure function of the input SET (hashes), and union is register-wise
    * max (associative, commutative, idempotent) — asserted in GraphSpec.
    * No DuckDB oracle (DuckDB's HLL is a different sketch); the registry
    * query self-checks rel-err against the exact closure, A2′-style. */
  def reachApprox(edges: DataFrame, maxHops: Int, lgK: Int = 12): DataFrame = {
    require(maxHops >= 1, "reachApprox needs at least one hop")
    val e = Pinned.pin(edges.select(col("src"), col("dst")).distinct())
    val nodes = Pinned.pin(
      e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct())

    var b = Pinned.pin(
      nodes.groupBy(col("node")).agg(hll_sketch_agg(col("node"), lit(lgK)).as("sk")))
    var it = 0
    while (it < maxHops) {
      val nbr = e
        .join(b.select(col("node").as("dst"), col("sk")), Seq("dst"))
        .groupBy(col("src").as("node")).agg(hll_union_agg(col("sk")).as("nb"))
      val next = b.join(nbr, Seq("node"), "left")
        .select(col("node"),
          when(col("nb").isNull, col("sk"))
            .otherwise(hll_union(col("sk"), col("nb"))).as("sk"))
      val pinnedNext = Pinned.pin(next)
      Pinned.free(b)
      b = pinnedNext
      it += 1
    }
    val out = Pinned.pin(b.select(col("node"),
      (hll_sketch_estimate(col("sk")) - lit(1L)).as("n_reach_est")))
    Seq(e, nodes, b).foreach(Pinned.free)
    out
  }

  /** Undirected simple edge set underlying a directed weighted edge frame:
    * one row per unordered pair `(a < b)`, weight = sum of both directions.
    * Doc-local nothing — this is one hash aggregation on the (already
    * vocabulary-sized) edge set. */
  def undirected(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"),
              col("w"))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))

  /** Per-node triangle participation count over the undirected simple graph.
    *
    * Compact-forward / degree orientation (Latapy 2008; the standard
    * distributed-join formulation is Suri & Vassilvitskii, WWW'11): orient
    * every undirected edge from the endpoint that is SMALLER under the total
    * order (degree, node) toward the larger. The oriented graph is acyclic
    * and every node's out-degree is O(sqrt(m)) regardless of its raw degree
    * — so the wedge self-join below never explodes on a hub node, the
    * classic skew bound that makes triangle join-plans survive social-graph
    * degree distributions. Each triangle appears exactly once as an oriented
    * wedge (u->v, u->w) closed by (v, w).
    *
    * Returns `(node, n_tri)` for nodes in at least one triangle. */
  def triangles(edges: DataFrame): DataFrame = {
    val und = undirected(edges).select(col("a"), col("b"))
    val deg = und.select(col("a").as("node")).unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient by (deg, node): u = smaller endpoint under the order.
    // The oriented edge frame is PINNED (r6): the plan below references it
    // three times (both wedge legs and the closing-edge probe) and a plan
    // is a tree, so the un-pinned form re-derived the orientation joins
    // per reference — pinning computes the edge-sized frame once.
    val o = Pinned.pin(und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("u"),
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("v")))
    // wedges (u->v, u->w) with v before w under the same order = distinct
    // oriented pairs out of u; close each with the oriented edge (v, w)
    val e1 = o.select(col("u"), col("v"))
    val e2 = o.select(col("u"), col("v").as("w2"))
    val wedges = e1.join(e2, Seq("u")).filter(col("v") =!= col("w2"))
    val closed = wedges.join(
      o.select(col("u").as("v"), col("v").as("w2")), Seq("v", "w2"))
    // every triangle {u,v,w} surfaces exactly once per orientation of its
    // closing edge; the v/w2 wedge pair double-counts (v,w2) vs (w2,v) only
    // when BOTH orientations close — impossible in an acyclic orientation,
    // but (v,w2) and (w2,v) wedges are distinct rows and only the one
    // matching the oriented closing edge survives the join. Each surviving
    // row is one triangle; credit all three corners.
    closed.select(explode(array(col("u"), col("v"), col("w2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  /** Synchronous weighted label propagation, `iters` fixed rounds, exact.
    *
    * Labels start as the node id. Per round every node adopts the label
    * carrying the maximum total incident edge weight among its neighbors,
    * ties broken by the lexicographically SMALLEST label — a total order, so
    * every round is a pure function of the previous labeling and the replay
    * is engine-independent (the usual LPA nondeterminism is exactly what
    * this pins down). Fixed rounds rather than convergence: synchronous LPA
    * can 2-cycle on bipartite structures, so `iters` is part of the query
    * contract, same as pageRank.
    *
    * Scale: per round one symmetric edge join against the node-sized label
    * frame, one (node, label) aggregation (map-side combinable), one
    * per-node argmax window partitioned by node (never global). Label
    * frames are pinned per round with the previous round freed — at most
    * two node-sized copies live, same discipline as pageRank/CC. */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "labelPropagation needs at least one iteration")
    val und = undirected(edges)
    // symmetric adjacency: each undirected edge contributes both directions
    val sym = Pinned.pin(
      und.select(col("a").as("v"), col("b").as("nbr"), col("w"))
        .unionAll(und.select(col("b").as("v"), col("a").as("nbr"), col("w"))))
    val w = Window.partitionBy(col("v"))
      .orderBy(col("s").desc, col("l").asc)
    var labels = Pinned.pin(
      sym.select(col("v").as("node")).distinct()
        .select(col("node"), col("node").as("label")))
    var it = 0
    while (it < iters) {
      val next = sym
        .join(labels.select(col("node").as("nbr"), col("label").as("l")), Seq("nbr"))
        .groupBy(col("v"), col("l")).agg(sum(col("w")).as("s"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("v").as("node"), col("l").as("label"))
      val pinnedNext = Pinned.pin(next)
      Pinned.free(labels)
      labels = pinnedNext
      it += 1
    }
    Pinned.free(sym)
    labels
  }

  /** Weakly connected components of the directed edge frame: `(node,
    * component)`, component = minimum node id reachable ignoring direction.
    *
    * Thin adapter over `Dedup.connectedComponents` — union-find in one
    * task when the pairs fit one partition, O(log n) large-star/small-star
    * rounds otherwise, durable-pin routed. One operator, one battle-tested
    * body, two registry surfaces (dedup clusters, KG components). */
  def wcc(edges: DataFrame): DataFrame =
    Dedup.connectedComponents(
      undirected(edges).select(col("a"), col("b")))
      .select(col("docid").as("node"), col("cluster").as("component"))

  /** Bounded k-core peeling: `rounds` synchronous rounds of "drop every
    * node with undirected-simple degree < k (and its edges)", then return
    * the surviving nodes with their residual degree.
    *
    * Fixed rounds rather than peel-to-fixpoint for the same reason as
    * pageRank/labelPropagation: the round count is part of the query
    * contract, so an engine-independent oracle can replay every round
    * exactly; on graphs where peeling converges within `rounds` (asserted
    * on the test fixtures) the result IS the exact k-core.
    *
    * Scale: the edge set only ever shrinks; per round one degree
    * aggregation (map-side combinable) and two semi-joins against the
    * node-sized keep list (broadcastable — vocabulary-scale). Edge frames
    * are pinned per round, previous freed: ≤2 copies live. */
  def kcore(edges: DataFrame, k: Int, rounds: Int, minW: Long = 0L): DataFrame = {
    require(k >= 1 && rounds >= 1, "kcore needs k >= 1 and rounds >= 1")
    def degreesOf(e: DataFrame): DataFrame =
      e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // minW thresholds the UNDIRECTED summed weight (both directions), the
    // natural sparsifier for co-occurrence graphs whose raw simple graph is
    // near-complete — thresholding the directed halves instead would be
    // order-sensitive
    var e = Pinned.pin(
      undirected(edges).filter(col("w") >= minW).select(col("a"), col("b")))
    // r6: a peel round that removes NO edge is a fixpoint — degrees, and
    // therefore every later round, are identical, so the loop may stop
    // early with the exact same result as running all `rounds` (the
    // fixed-round contract bounds the rounds; it does not require paying
    // for provably-identity ones). The pin's measured row count (no job)
    // buys up to (rounds − convergence) whole round bodies.
    var nEdges = Pinned.rows(e)
    var it = 0
    var stable = false
    while (it < rounds && !stable) {
      val keep = degreesOf(e).filter(col("deg") >= k).select(col("node"))
      val next = e
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
      val pinnedNext = Pinned.pin(next)
      Pinned.free(e)
      e = pinnedNext
      val n2 = Pinned.rows(pinnedNext)
      stable = n2 == nEdges
      nEdges = n2
      it += 1
    }
    val out = Pinned.pin(degreesOf(e).filter(col("deg") >= k))
    Pinned.free(e)
    out
  }

  /** Weighted HITS (Kleinberg 1999) on a scaled-integer lattice, `iters`
    * fixed rounds. Hub and authority mass each live in `scale` integer
    * units, renormalized to exactly `scale` total after every half-step
    * with truncating division — so, like [[pageRank]], every intermediate
    * is a Long and a DuckDB oracle replays each round bit-for-bit.
    *
    * Per round, with h = previous hubs:
    *   a'(v) = Σ over edges (u,v,w) of h(u) * w         (raw authority)
    *   a(v)  = (a'(v) * scale) div Σ a'                 (renormalize)
    *   h'(u) = Σ over edges (u,v,w) of a(v) * w         (raw hub)
    *   h(u)  = (h'(u) * scale) div Σ h'                 (renormalize)
    *
    * Overflow envelope (documented precondition): a normalized score is
    * bounded by `scale`, a raw score by scale * totalW, and the renormalize
    * multiplies by `scale` again — so scale² * max-node-incident-weight
    * must stay below 2^63. At the default scale 1e6 that allows ~9.2e6
    * total incident weight per node; pass a smaller scale for heavier
    * graphs (the lattice just coarsens). Past it both forms fail, like
    * [[pageRank]].
    *
    * The edges are pinned once. When that pin fits one partition, all
    * `iters` rounds run inside one task ([[hitsInTask]]); otherwise each
    * half-step is a relational plan and a pin ([[hitsScores]]).
    *
    * Returns `(node, hub, auth)` in lattice units for every node.
    */
  def hits(edges: DataFrame, iters: Int, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, "hits needs at least one iteration")
    val e = Pinned.pin(edges.select(col("src"), col("dst"), col("w")))
    require(Pinned.rows(e) > 0, "hits on an empty edge set")
    val out =
      if (Pinned.rounds(e).single) {
        val (keyType, wType) = (nodeType(e), e.schema("w").dataType)
        val schema = StructType(Seq(StructField("node", keyType),
          StructField("hub", LongType, nullable = false), StructField("auth", LongType, nullable = false)))
        Pinned.inTask(schema, e)(in => hitsInTask(in.head, keyType, wType, iters, scale))
      } else {
        val (nodes, hubs, auth) = hitsScores(e, iters, scale)
        // one dense zero-fill at the end (the contract returns every node)
        nodes
          .join(hubs.select(col("node"), col("s").as("hub")), Seq("node"), "left")
          .join(auth.select(col("node"), col("s").as("auth")), Seq("node"), "left")
          .select(col("node"), coalesce(col("hub"), lit(0L)).as("hub"),
            coalesce(col("auth"), lit(0L)).as("auth"))
        // derives from the still-pinned nodes/hub/auth frames; they are
        // reclaimed when the caller drops the frame (same contract as reach)
      }
    Pinned.free(e)
    out
  }

  /** The HITS rounds inside one task over the pinned `(src, dst, w)` rows,
    * with the sparse half-step's semantics: a node that receives no mass
    * scores 0, and the renormalization total sums the half-step's raw
    * scores. Emits `(node, hub, auth)` in node order. */
  private def hitsInTask(rows: Iterator[InternalRow], keyType: DataType, wType: DataType,
                         iters: Int, scale: Long): Iterator[InternalRow] = {
    val g = new InTaskEdges(rows, keyType, wType)
    val n = g.keys.length
    def halfStep(score: Array[Long], from: Array[Int], to: Array[Int]): Array[Long] = {
      val raw = new Array[Long](n)
      for (i <- 0 until g.m if g.weighted(i))
        raw(to(i)) = Math.addExact(raw(to(i)), Math.multiplyExact(score(from(i)), g.w(i)))
      val t = raw.foldLeft(0L)(Math.addExact(_, _))
      raw.map(r => if (t > 0) Math.multiplyExact(r, scale) / t else 0L)
    }
    var hubs = Array.fill(n)(scale / n)
    var auth = hubs
    for (_ <- 1 to iters) {
      auth = halfStep(hubs, g.src, g.dst)
      hubs = halfStep(auth, g.dst, g.src)
    }
    Iterator.tabulate(n)(v => InternalRow(g.keys(v), hubs(v), auth(v)))
  }

  /** The HITS rounds as relational plans over the pinned `(src, dst, w)`
    * edges `e`: the pinned node frame and the SPARSE `(node, s)` hub and
    * authority frames after `iters` rounds. */
  private[graft] def hitsScores(e: DataFrame, iters: Int, scale: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    val nodes = Pinned.pin(
      e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct())
    val n = Pinned.rows(nodes)

    /** One half-step, SPARSE form (r6 optimization): rows exist only for
      * nodes that RECEIVE mass this half-step; an absent row means score 0,
      * which the next half-step's join treats identically (a 0-score row
      * contributes s·w = 0 to every sum, and zeros don't move the
      * renormalization total). The per-half-step `nodes` zero-fill join of
      * the dense form is deferred to ONE final projection.
      *
      * The raw frame is pinned (edge join + aggregation, the half-step's
      * real work); the renormalization total is a 1-row aggregate of that
      * pin, and the truncating renormalization a LAZY projection over it
      * that the NEXT pin evaluates. Arithmetic is bit-identical to the dense
      * form (same raw sums, same total, same truncating division). Returns
      * the renormalized frame plus the raw pin backing it. */
    def halfStep(score: DataFrame, from: String, to: String): (DataFrame, DataFrame) = {
      val raw = e
        .join(score.select(col("node").as(from), col("s")), Seq(from))
        .select(col(to).as("node"), expr("s * w").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("raw"))
      val rawP = Pinned.pin(raw)
      // the total stays a 1-row SUBPLAN over the pinned raw frame (not a
      // driver-collected literal): it is computed inside the consumer's pin
      // job, where a per-half-step collect would be a strictly serial
      // driver round-trip
      val tot = rawP.agg(coalesce(sum(col("raw")), lit(0L)).as("t"))
      val s = rawP.crossJoin(tot)
        .select(col("node"),
          when(col("t") > 0L, expr(s"(raw * ${scale}L) div t"))
            .otherwise(lit(0L)).as("s"))
      (s, rawP)
    }

    val seed = scale / n
    var hubs = nodes.select(col("node"), lit(seed).as("s")) // lazy off pinned nodes
    var hubsRaw: Option[DataFrame] = None
    var lastAuth: DataFrame = null
    var it = 0
    while (it < iters) {
      val (auth, authRaw) = halfStep(hubs, "src", "dst")
      val (nextHb, nextHbRaw) = halfStep(auth, "dst", "src")
      // the hub pin has consumed the auth frame, so the auth raw pin can be
      // freed — except the final round's, whose frame is part of the OUTPUT
      hubsRaw.foreach(Pinned.free)
      if (it == iters - 1) lastAuth = auth else Pinned.free(authRaw)
      hubs = nextHb
      hubsRaw = Some(nextHbRaw)
      it += 1
    }
    (nodes, hubs, lastAuth)
  }

  /** Per-node local clustering coefficient over the undirected simple
    * graph, exact fixed-point integers: lcc = 2·tri / (deg·(deg−1)),
    * emitted as `lcc_e6 = (2·tri·1e6) div (deg·(deg−1))` (0 when deg < 2)
    * alongside the raw `(deg, n_tri)` pair — the e6 lattice keeps the
    * ratio hash-comparable across engines, same trick as the e4 logp
    * columns. Cost: [[triangles]] (the dominant term, skew-bounded by
    * degree orientation) plus one node-sized degree agg and join. */
  def clusteringCoeff(edges: DataFrame): DataFrame = {
    val und = undirected(edges).select(col("a"), col("b"))
    val deg = und.select(col("a").as("node")).unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    deg.join(triangles(edges), Seq("node"), "left")
      .na.fill(0L, Seq("n_tri"))
      .select(col("node"), col("deg"), col("n_tri"),
        when(col("deg") >= 2L,
          expr("(2L * n_tri * 1000000L) div (deg * (deg - 1L))"))
          .otherwise(lit(0L)).as("lcc_e6"))
  }

  /** Link prediction over the undirected simple graph: for every
    * NON-adjacent pair (a < b) sharing at least one common neighbor whose
    * degree is within [2, maxCenterDeg], emit the common-neighbor count
    * and the resource-allocation index (Zhou, Lü & Zhang 2009)
    * RA(a,b) = Σ over common neighbors c of 1/deg(c) — on the integer
    * lattice: Σ (scale div deg(c)) — then keep the global top `k` by
    * (ra desc, cn desc, a, b), a total order so the cut is deterministic.
    *
    * The center-degree cap is the standard RA/AA sparsifier, not a
    * shortcut: a center of degree d contributes only scale/d per pair but
    * generates d² wedge rows, so hubs cost quadratically while carrying
    * vanishing signal. Capping bounds the wedge self-join per center at
    * maxCenterDeg² rows regardless of the degree distribution — the same
    * skew bound the oriented triangle join gets from √m orientation.
    * The cap is part of the query contract (the oracle applies it too).
    *
    * `minW` thresholds the undirected summed weight before anything else —
    * the same sparsifier as [[kcore]], needed on near-complete
    * co-occurrence graphs where the raw simple graph has no non-adjacent
    * pairs left to predict.
    */
  def linkPredict(edges: DataFrame, maxCenterDeg: Int, k: Int,
                  scale: Long = 1000000L, minW: Long = 0L): DataFrame = {
    require(maxCenterDeg >= 2 && k >= 1, "linkPredict needs maxCenterDeg >= 2, k >= 1")
    val und = undirected(edges).filter(col("w") >= minW).select(col("a"), col("b"))
    val deg = und.select(col("a").as("node")).unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val centers = deg.filter(col("deg").between(2L, maxCenterDeg.toLong))
    // adjacency restricted to capped centers; both directions so each
    // center sees its full neighbor list
    val adj = und.select(col("a").as("c"), col("b").as("x"))
      .unionAll(und.select(col("b").as("c"), col("a").as("x")))
      .join(centers.select(col("node").as("c"), col("deg")), Seq("c"))
    val wedges = adj.select(col("c"), col("deg"), col("x").as("a"))
      .join(adj.select(col("c"), col("x").as("b")), Seq("c"))
      .filter(col("a") < col("b"))
    val scored = wedges
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cn"),
        sum(expr(s"${scale}L div deg")).as("ra"))
      .join(und, Seq("a", "b"), "left_anti")
    scored
      .orderBy(col("ra").desc, col("cn").desc, col("a"), col("b"))
      .limit(k)
  }

  /** Single/multi-source bounded-hop weighted shortest paths (directed):
    * `maxHops` rounds of Bellman-Ford relaxation over integer edge weights,
    * returning `(node, dist)` for every node reachable from `sources`
    * (column `node`) within `maxHops` hops — dist = minimum total edge
    * weight over such paths. Integer arithmetic end-to-end: the oracle
    * replays every relaxation round bit-for-bit.
    *
    * Scale: per round one join of the frontier-accumulating distance frame
    * (node-sized) against the edge set on its partition key plus one
    * min-aggregation (map-side combinable). Distance frames pinned per
    * round, previous freed: ≤2 node-sized copies live. */
  def shortestPaths(edges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, "shortestPaths needs at least one hop")
    var dist = Pinned.pin(
      sources.select(col("node")).distinct().select(col("node"), lit(0L).as("dist")))
    var it = 0
    while (it < maxHops) {
      val relaxed = dist
        .join(edges.select(col("src").as("node"), col("dst"), col("w")), Seq("node"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      val next = dist.unionAll(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      val pinnedNext = Pinned.pin(next)
      Pinned.free(dist)
      dist = pinnedNext
      it += 1
    }
    dist
  }
}
