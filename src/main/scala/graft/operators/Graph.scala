package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
  *  - `pageRank` iterates rank-join-aggregate with the edge set and
  *    out-weight frame pinned ONCE (read per round, never recomputed) and
  *    each round's node-sized rank frame pinned and the previous round
  *    freed deterministically — at most two rank copies live, same
  *    discipline as Dedup.connectedComponents. Work per round is one
  *    edge join plus one aggregation on dst; rounds are a fixed constant.
  *    When the pinned edge set is one partition that fits
  *    `spark.sql.maxSinglePartitionBytes` (every KB-sized graph),
  *    `Pinned.rounds` plans each round with no exchange and no broadcast,
  *    so a round is one job: its pin.
  *  - `reach` is the semi-naive bounded-hop frontier: each hop joins only
  *    the FRESH pairs against the edge set (never the accumulated closure),
  *    so a converged frontier costs nothing. Each hop picks its regime
  *    from the closure so far: exchange-free while it fits one partition,
  *    exchanges and AQE-sized partitions once it does not. Bounded-hop
  *    reachability over a dense graph is inherently output-heavy; callers
  *    choose `maxHops` small (typical KG neighborhood queries: 2–4).
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
    * Overflow envelope (documented precondition, not checked row-wise): a
    * single rank is bounded by `scale`, so `rank * w` needs
    * scale * max(w) < 2^63 — at the default scale 1e12, max edge weight
    * 9.2e6. For heavier edge sets pass a smaller `scale` (the lattice just
    * coarsens) or pre-bucket weights.
    *
    * Returns `(node, rank)` with rank in lattice units.
    */
  def pageRank(edges: DataFrame, iters: Int, scale: Long = 1000000000000L,
               dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
    require(iters >= 1, "pageRank needs at least one iteration")
    val spark = edges.sparkSession
    def freeH(h: Pinned.Handle): Unit = Pinned.free(spark, h)

    // pinned once, read every round. The per-source out-weight is folded
    // INTO the pinned edge set up front (r6 optimization): the old loop
    // re-joined edges ⋈ outw every round — identical rows, one join per
    // round saved, and the pinned edge frame grows by one LONG column.
    val (e, eH) = Pinned.pinTracked {
      val e0 = edges.select(col("src"), col("dst"), col("w"))
      e0.join(e0.groupBy(col("src")).agg(sum(col("w")).as("ow")), Seq("src"))
    }
    val r = Pinned.rounds(e)
    // the node frame carries the dangling flag (r6): the old loop re-joined
    // `dangling ⋈ ranks` every round just to sum the dangling mass; with
    // the flag riding the pinned rank frame, the dangling share is a plain
    // filtered 1-row aggregation of the frame the round reads anyway.
    val (nodes, nodesH) = Pinned.pinTracked(nodeFlags(e, r))

    val n = Pinned.rows(nodes)
    require(n > 0, "pageRank on an empty edge set")
    val seed = scale / n
    val teleport = seed * (dampDen - dampNum) / dampDen

    var (ranks, ranksH) = Pinned.pinTracked(
      nodes.select(col("node"), lit(seed).as("rank"), col("dang")))
    var it = 0
    while (it < iters) {
      // the dangling share stays a 1-row SUBPLAN of the round (not a
      // driver-collected literal): it runs inside the round's one pin job,
      // whereas a per-round collect is a strictly serial driver round-trip
      // (measured +0.15 s/query at 8 rounds — tried and reverted r6)
      val dshare = ranks.filter(col("dang"))
        .agg(coalesce(sum(col("rank")), lit(0L)).as("dsum"))
        .select(expr(s"dsum div ${n}L").as("dshare"))
      val next = withInflow(e, nodes, ranks, r)
        .crossJoin(r.total(dshare))
        .select(col("node"),
          expr(s"${teleport}L + ((inflow + dshare) * ${dampNum}L) div ${dampDen}L")
            .as("rank"), col("dang"))
      val (pinnedNext, nextH) = Pinned.pinTracked(next)
      freeH(ranksH)
      ranks = pinnedNext
      ranksH = nextH
      it += 1
    }
    freeH(eH); freeH(nodesH)
    // the final pinned rank frame is the result (caller drops -> cleaner)
    ranks.select(col("node"), col("rank"))
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
    val spark = edges.sparkSession
    def freeH(h: Pinned.Handle): Unit = Pinned.free(spark, h)

    // out-weight folded into the pinned edge set, and the dangling/source
    // flags folded into the node and rank frames (same r6 moves as
    // pageRank): the per-round `dangling ⋈ ranks` and `⋈ isSrc` joins
    // become a filtered aggregation and a carried column.
    val (e, eH) = Pinned.pinTracked {
      val e0 = edges.select(col("src"), col("dst"), col("w"))
      e0.join(e0.groupBy(col("src")).agg(sum(col("w")).as("ow")), Seq("src"))
    }
    val r = Pinned.rounds(e)
    val (nodes, nodesH) = Pinned.pinTracked {
      val srcFlag = sources.select(col("node")).distinct()
        .withColumn("src_flag", lit(1L))
      nodeFlags(e, r)
        .join(srcFlag, Seq("node"), "left")
        .select(col("node"), col("dang"), coalesce(col("src_flag"), lit(0L)).as("is_src"))
    }

    val nS = nodes.filter(col("is_src") === 1L).count()
    require(nS > 0, "personalizedPageRank needs at least one source present in the graph")
    val tp = scale * (dampDen - dampNum) / dampDen / nS

    var (ranks, ranksH) = Pinned.pinTracked(
      nodes.select(col("node"),
        when(col("is_src") === 1L, lit(scale / nS)).otherwise(lit(0L)).as("rank"),
        col("dang")))
    var it = 0
    while (it < iters) {
      // dangling share stays a concurrent 1-row subplan (see pageRank note)
      val dshare = ranks.filter(col("dang"))
        .agg(coalesce(sum(col("rank")), lit(0L)).as("dsum"))
        .select(expr(s"dsum div ${nS}L").as("dshare"))
      val next = withInflow(e, nodes, ranks, r)
        .crossJoin(r.total(dshare))
        .select(col("node"),
          expr(s"""is_src * ${tp}L
                  | + ((inflow + is_src * dshare)
                  |    * ${dampNum}L) div ${dampDen}L""".stripMargin.replace("\n", " "))
            .as("rank"), col("dang"))
      val (pinnedNext, nextH) = Pinned.pinTracked(next)
      freeH(ranksH)
      ranks = pinnedNext
      ranksH = nextH
      it += 1
    }
    freeH(eH); freeH(nodesH)
    ranks.select(col("node"), col("rank"))
  }

  /** Every node of a pinned `(src, dst, w, ow)` edge set with its dangling
    * flag (no out-edge) — the node frame pageRank and PPR pin. */
  private def nodeFlags(e: DataFrame, r: Pinned.Rounds): DataFrame = {
    val outSrcs = e.select(col("src").as("node")).distinct()
      .withColumn("has_out", lit(true))
    r.one(e.select(col("src").as("node")).union(e.select(col("dst").as("node"))))
      .distinct()
      .join(r.side(outSrcs), Seq("node"), "left")
      .select(col("node"), coalesce(!col("has_out"), lit(true)).as("dang"))
  }

  /** One PageRank round's inflow: every row of the pinned node frame
    * `nodes` (its flag columns kept) with `inflow` = Σ (r(u) * w) div ow(u)
    * over its in-edges, 0 without any. Computed as the node frame UNION the
    * per-edge contributions and one aggregation, not as a join of the node
    * frame with per-destination sums: every join input stays a measured
    * pin, which keeps the round exchange-free (see `Pinned.Rounds`). */
  private def withInflow(e: DataFrame, nodes: DataFrame, ranks: DataFrame,
                         r: Pinned.Rounds): DataFrame = {
    val flags = nodes.columns.toSeq.filter(_ != "node")
    val contrib = e.join(r.side(ranks.select(col("node").as("src"), col("rank"))), Seq("src"))
      .select(col("dst").as("node") +:
        flags.map(f => lit(null).cast(nodes.schema(f).dataType).as(f)) :+
        expr("(rank * w) div ow").as("c"): _*)
    r.one(nodes.select(col("node") +: flags.map(col) :+ lit(0L).as("c"): _*).unionAll(contrib))
      .groupBy(col("node"))
      .agg(sum(col("c")).as("inflow"), flags.map(f => max(col(f)).as(f)): _*)
  }

  /** Nodes reachable within `maxHops` directed hops, excluding the node
    * itself: returns `(node, n_reach)` for every node with at least one
    * out-edge. Semi-naive expansion: hop i+1 joins only hop i's FRESH pairs
    * with the edge set, and stops early once a frontier is empty. */
  def reach(edges: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, "reach needs at least one hop")
    val spark = edges.sparkSession

    // r6 optimization (same move as TripleStore.boundedClosure): the
    // accumulated closure is a LAZY UNION of the pinned per-hop frontiers —
    // one pin per hop instead of two, identical materialized rows, live
    // memory still exactly the closure (frontiers are disjoint: each holds
    // only pairs absent from the closure so far). The single base pin
    // doubles as hop-1 frontier and edge set.
    val (e, _) = Pinned.pinTracked(edges.select(col("src"), col("dst")).distinct())
    var all = e
    var delta = e
    var hop = 1
    var drained = false
    while (hop < maxHops && !drained) {
      // the closure grows, so every hop picks its regime (Pinned.rounds)
      val r = Pinned.rounds(all)
      val eRen = r.side(e.select(col("src").as("mid"), col("dst").as("d2")))
      val stepped = delta.join(eRen, delta("dst") === eRen("mid"))
        .select(col("src"), col("d2").as("dst"))
      val (fresh, freshH) = Pinned.pinTracked(r.fresh(stepped, all))
      if (Pinned.rows(fresh) == 0) {
        Pinned.free(spark, freshH)
        drained = true
      } else {
        all = all.unionAll(fresh)
        delta = fresh
      }
      hop += 1
    }
    val out = Pinned.rounds(all).spread(all, Seq("src")).filter(col("dst") =!= col("src"))
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("n_reach"))
    // result derives from the still-pinned closure; caller-held references
    // stay valid (the pins are only reclaimed when the frame is dropped)
    out
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
    val spark = edges.sparkSession
    def freeH(h: Pinned.Handle): Unit = Pinned.free(spark, h)

    val (e, eH) = Pinned.pinTracked(edges.select(col("src"), col("dst")).distinct())
    val (nodes, nodesH) = Pinned.pinTracked(
      e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct())

    var (b, bH) = Pinned.pinTracked(
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
      val (pinnedNext, nextH) = Pinned.pinTracked(next)
      freeH(bH)
      b = pinnedNext
      bH = nextH
      it += 1
    }
    val out = b.select(col("node"),
      (hll_sketch_estimate(col("sk")) - lit(1L)).as("n_reach_est"))
    val (pinnedOut, _) = Pinned.pinTracked(out)
    freeH(eH); freeH(nodesH); freeH(bH)
    pinnedOut
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
    val spark = edges.sparkSession
    val und = undirected(edges)
    // symmetric adjacency: each undirected edge contributes both directions
    val (sym, symH) = Pinned.pinTracked(
      und.select(col("a").as("v"), col("b").as("nbr"), col("w"))
        .unionAll(und.select(col("b").as("v"), col("a").as("nbr"), col("w"))))
    val w = Window.partitionBy(col("v"))
      .orderBy(col("s").desc, col("l").asc)
    var (labels, labelsH) = Pinned.pinTracked(
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
      val (pinnedNext, nextH) = Pinned.pinTracked(next)
      Pinned.free(spark, labelsH)
      labels = pinnedNext
      labelsH = nextH
      it += 1
    }
    Pinned.free(spark, symH)
    labels
  }

  /** Weakly connected components of the directed edge frame: `(node,
    * component)`, component = minimum node id reachable ignoring direction.
    *
    * Thin adapter over the production large-star/small-star implementation
    * (`Dedup.connectedComponents`) — O(log n) rounds, ≤2 edge-set copies
    * live, converge-or-throw, durable-pin routed. One operator, one
    * battle-tested body, two registry surfaces (dedup clusters, KG
    * components). */
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
    val spark = edges.sparkSession
    def degreesOf(e: DataFrame): DataFrame =
      e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // minW thresholds the UNDIRECTED summed weight (both directions), the
    // natural sparsifier for co-occurrence graphs whose raw simple graph is
    // near-complete — thresholding the directed halves instead would be
    // order-sensitive
    var (e, eH) = Pinned.pinTracked(
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
      val (pinnedNext, nextH) = Pinned.pinTracked(next)
      Pinned.free(spark, eH)
      e = pinnedNext
      eH = nextH
      val n2 = Pinned.rows(pinnedNext)
      stable = n2 == nEdges
      nEdges = n2
      it += 1
    }
    val out = degreesOf(e).filter(col("deg") >= k)
    val (pinnedOut, _) = Pinned.pinTracked(out)
    Pinned.free(spark, eH)
    pinnedOut
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
    * graphs (the lattice just coarsens).
    *
    * Returns `(node, hub, auth)` in lattice units for every node.
    */
  def hits(edges: DataFrame, iters: Int, scale: Long = 1000000L): DataFrame = {
    val (nodes, hubs, auth, r) = hitsScores(edges, iters, scale)
    // one dense zero-fill at the end (the contract returns every node)
    nodes
      .join(r.side(hubs.select(col("node"), col("s").as("hub"))), Seq("node"), "left")
      .join(r.side(auth.select(col("node"), col("s").as("auth"))), Seq("node"), "left")
      .select(col("node"), coalesce(col("hub"), lit(0L)).as("hub"),
        coalesce(col("auth"), lit(0L)).as("auth"))
    // result derives from the still-pinned nodes/hub/auth frames; they are
    // reclaimed when the caller drops the frame (same contract as reach)
  }

  /** The HITS rounds: the pinned node frame and the SPARSE `(node, s)` hub
    * and authority frames after `iters` rounds, with the round planner. */
  private[graft] def hitsScores(edges: DataFrame, iters: Int, scale: Long)
      : (DataFrame, DataFrame, DataFrame, Pinned.Rounds) = {
    require(iters >= 1, "hits needs at least one iteration")
    val spark = edges.sparkSession
    def freeH(h: Pinned.Handle): Unit = Pinned.free(spark, h)

    val (e, eH) = Pinned.pinTracked(edges.select(col("src"), col("dst"), col("w")))
    val r = Pinned.rounds(e)
    val (nodes, _) = Pinned.pinTracked(
      r.one(e.select(col("src").as("node")).union(e.select(col("dst").as("node")))).distinct())
    val n = Pinned.rows(nodes)
    require(n > 0, "hits on an empty edge set")

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
      * that the NEXT pin evaluates. Over a one-partition pin neither needs
      * an exchange or a broadcast (see `Pinned.Rounds`), so a half-step is
      * one job. Arithmetic is bit-identical to the dense form (same raw
      * sums, same total, same truncating division). Returns the
      * renormalized frame plus the handle of the raw pin backing it. */
    def halfStep(score: DataFrame, from: String, to: String): (DataFrame, Pinned.Handle) = {
      val raw = e
        .join(r.side(score.select(col("node").as(from), col("s"))), Seq(from))
        .select(col(to).as("node"), expr("s * w").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("raw"))
      val (rawP, rawH) = Pinned.pinTracked(raw)
      // the total stays a 1-row SUBPLAN over the pinned raw frame (not a
      // driver-collected literal): over a one-partition pin it is computed
      // inside the consumer's pin job, where a per-half-step collect would
      // be a strictly serial driver round-trip
      val tot = rawP.agg(coalesce(sum(col("raw")), lit(0L)).as("t"))
      val s = rawP.crossJoin(r.total(tot))
        .select(col("node"),
          when(col("t") > 0L, expr(s"(raw * ${scale}L) div t"))
            .otherwise(lit(0L)).as("s"))
      (s, rawH)
    }

    val seed = scale / n
    var hubs = nodes.select(col("node"), lit(seed).as("s")) // lazy off pinned nodes
    var hubsH: Option[Pinned.Handle] = None
    var lastAuth: DataFrame = null
    var it = 0
    while (it < iters) {
      val (auth, authH) = halfStep(hubs, "src", "dst")
      val (nextHb, nextHbH) = halfStep(auth, "dst", "src")
      // the hub pin has consumed the auth frame, so the auth raw pin can be
      // freed — except the final round's, whose frame is part of the OUTPUT
      hubsH.foreach(freeH)
      if (it == iters - 1) lastAuth = auth else freeH(authH)
      hubs = nextHb
      hubsH = Some(nextHbH)
      it += 1
    }
    freeH(eH)
    (nodes, hubs, lastAuth, r)
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
    val spark = edges.sparkSession
    var (dist, dH) = Pinned.pinTracked(
      sources.select(col("node")).distinct().select(col("node"), lit(0L).as("dist")))
    var it = 0
    while (it < maxHops) {
      val relaxed = dist
        .join(edges.select(col("src").as("node"), col("dst"), col("w")), Seq("node"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      val next = dist.unionAll(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      val (pinnedNext, nextH) = Pinned.pinTracked(next)
      Pinned.free(spark, dH)
      dist = pinnedNext
      dH = nextH
      it += 1
    }
    dist
  }
}
