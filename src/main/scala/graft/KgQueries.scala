package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Cooc, Graph, Shacl, Significance, TripleStore}

/** Round-5 KG-analytics registry entries: graph consumers of the pipeline's
  * adjacency structure (degrees, scaled-integer PageRank, bounded-hop
  * reachability) plus incremental co-occurrence count maintenance.
  *
  * PageRank is EXACT integer arithmetic (see operators.Graph) so its DuckDB
  * oracle replays all 8 iterations bit-for-bit — same discipline as the
  * 8-round BPE training replay. The incremental query's oracle is the plain
  * full-recompute A3 SQL: the Spark side answers it by splitting the corpus
  * into a "standing" and a "delta" batch, counting each separately, and
  * merging — proving delta maintenance is exact, not approximate.
  */
object KgQueries {

  private def edgesOf(s: SparkSession, d: String): DataFrame =
    Memo.kgEdgesOf(s, d, Queries.cfg)

  private def e4kg(c: org.apache.spark.sql.Column) =
    round(c * 10000).cast("long")

  /** The registry's two standing triple-store fixtures: the top-20
    * `coOccursWith` store and the top-1 `isTopTermOf` store, both derived
    * from the PRODUCTION ranking (same total order as q_l3/q_c3). */
  private def rankedStores(s: SparkSession, d: String): (DataFrame, DataFrame) =
    Memo.rankedStoresOf(s, d, Queries.cfg)

  private def coocStore(top20: DataFrame): DataFrame =
    top20.select(col("entity").as("subj"),
      lit("coOccursWith").as("pred"), col("term").as("obj"))

  private def topStore(top1: DataFrame): DataFrame =
    top1.select(col("term").as("subj"),
      lit("isTopTermOf").as("pred"), col("entity").as("obj"))

  val sparkQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_kg_degrees" -> ((s, d) =>
      Graph.degrees(edgesOf(s, d)).orderBy("node")),

    "q_kg_pagerank" -> ((s, d) =>
      Graph.pageRank(edgesOf(s, d), iters = 8).orderBy("node")),

    "q_kg_reach" -> ((s, d) =>
      Graph.reach(edgesOf(s, d), maxHops = 3).orderBy("node")),

    // the HyperBall scale path, self-checked against the exact closure
    // (A2'-style): no SQL oracle exists for the Datasketches registers, so
    // the query CARRIES its own error gate — rel_err_e4 per node, plus the
    // exact count, in the hash-pinned (SELFCHECK) output
    "q_kg_reach_approx" -> ((s, d) => {
      val edges = edgesOf(s, d)
      Graph.reachApprox(edges, maxHops = 3)
        .join(Graph.reach(edges, maxHops = 3), Seq("node"))
        .select(col("node"), col("n_reach"), col("n_reach_est"),
          e4kg(abs(col("n_reach_est") - col("n_reach")) /
            greatest(col("n_reach"), lit(1L))).as("rel_err_e4"))
        .orderBy("node")
    }),

    "q_kg_triangles" -> ((s, d) =>
      Graph.triangles(edgesOf(s, d)).orderBy("node")),

    "q_kg_labelprop" -> ((s, d) =>
      Graph.labelPropagation(edgesOf(s, d), iters = 4).orderBy("node")),

    "q_kg_wcc" -> ((s, d) =>
      Graph.wcc(edgesOf(s, d)).orderBy("node")),

    // thresholding the undirected weight to >= 65 sparsifies the
    // near-complete co-occurrence graph so the core structure is
    // non-trivial at test scale; 8 fixed peel rounds (converges in 6 at
    // sf0.01 — exact k-core there)
    "q_kg_kcore" -> ((s, d) =>
      Graph.kcore(edgesOf(s, d), k = 6, rounds = 8, minW = 65L)
        .orderBy("node")),

    // single-source = lexicographically smallest node (deterministic);
    // dist = min total edge weight over directed paths of <= 4 hops
    "q_kg_sssp" -> ((s, d) => {
      val edges = edgesOf(s, d)
      val src = edges.select(col("src").as("node"))
        .unionAll(edges.select(col("dst").as("node")))
        .agg(min(col("node")).as("node"))
      Graph.shortestPaths(edges, src, maxHops = 4).orderBy("node")
    }),

    "q_kg_hits" -> ((s, d) =>
      Graph.hits(edgesOf(s, d), iters = 5).orderBy("node")),

    // personalized to the entity terms that exist as graph nodes — the
    // "what relates to spark/join" KG query; 6 fixed rounds
    "q_kg_ppr" -> ((s, d) => {
      val edges = edgesOf(s, d)
      val srcs = edges.select(col("src").as("node"))
        .unionAll(edges.select(col("dst").as("node")))
        .filter(col("node").isin("spark", "join")).distinct()
      Graph.personalizedPageRank(edges, srcs, iters = 6).orderBy("node")
    }),

    "q_kg_clustering" -> ((s, d) =>
      Graph.clusteringCoeff(edgesOf(s, d)).orderBy("node")),

    // center-degree cap 12, weight threshold 65 (same sparsifier as
    // q_kg_kcore — the raw simple graph is near-complete at test scale so
    // nothing would be non-adjacent) and top-64 are all part of the query
    // contract; the cap is the RA sparsifier — see Graph.linkPredict
    "q_kg_linkpredict" -> ((s, d) =>
      Graph.linkPredict(edgesOf(s, d), maxCenterDeg = 12, k = 64, minW = 65L)
        .orderBy(col("ra").desc, col("cn").desc, col("a"), col("b"))),

    // SPARQL-style BGP over the graph the pipeline emits: which entity
    // pairs share significant context terms. Runs on the ENTITY-level
    // triple projection (|entities| × topK rows — node-sized at any
    // corpus scale), two patterns joined on the shared object variable
    "q_kg_bgp" -> ((s, d) => {
      import TripleStore.{C, V}
      val (top20, _) = rankedStores(s, d)
      val triples = top20.select(col("entity").as("subj"),
        lit("coOccursWith").as("pred"), col("term").as("obj"))
      TripleStore.bgp(triples, Seq(
          (V("e1"), C("coOccursWith"), V("t")),
          (V("e2"), C("coOccursWith"), V("t"))))
        .filter(col("e1") < col("e2"))
        .groupBy("e1", "e2").agg(count(lit(1)).as("n_shared"))
        .orderBy("e1", "e2")
    }),

    // OPTIONAL over a two-predicate store: every (entity, context term)
    // edge, left-extended by the entities whose TOP-ranked term it is —
    // terms that are nobody's top term keep the row with e2 NULL (the
    // SPARQL LeftJoin arm an inner join would drop)
    "q_kg_bgp_optional" -> ((s, d) => {
      import TripleStore.{C, V}
      val (top20, top1) = rankedStores(s, d)
      val triples = top20.select(col("entity").as("subj"),
          lit("coOccursWith").as("pred"), col("term").as("obj"))
        .unionAll(top1.select(col("term").as("subj"),
          lit("isTopTermOf").as("pred"), col("entity").as("obj")))
      TripleStore.bgpOptional(triples,
          required = Seq((V("e"), C("coOccursWith"), V("t"))),
          optional = Seq(Seq((V("t"), C("isTopTermOf"), V("e2")))))
        .orderBy(col("e").asc, col("t").asc, col("e2").asc_nulls_last)
    }),

    // NOT EXISTS over the same two-predicate store as q_kg_bgp_optional:
    // (entity, term) edges whose term is NOBODY's top-ranked term — the
    // anti twin of the optional query's NULL arm
    "q_kg_bgp_notexists" -> ((s, d) => {
      import TripleStore.{C, V}
      val (top20, top1) = rankedStores(s, d)
      val triples = top20.select(col("entity").as("subj"),
          lit("coOccursWith").as("pred"), col("term").as("obj"))
        .unionAll(top1.select(col("term").as("subj"),
          lit("isTopTermOf").as("pred"), col("entity").as("obj")))
      TripleStore.bgpNotExists(triples,
          required = Seq((V("e"), C("coOccursWith"), V("t"))),
          negated = Seq(Seq((V("t"), C("isTopTermOf"), V("e2")))))
        .orderBy("e", "t")
    }),

    // SPARQL MINUS over the same store, TWO groups: the shared-variable
    // group removes exactly what NOT EXISTS removes, and the second group
    // binds only fresh variables (?z isTopTermOf ?w) — it HAS matches, yet
    // per SPARQL 1.1 §8.3 a variable-disjoint MINUS removes NOTHING. An
    // implementation that wrongly treats MINUS as NOT EXISTS empties the
    // result and hash-fails; the oracle carries only the first group.
    "q_kg_minus" -> ((s, d) => {
      import TripleStore.{C, V}
      val (top20, top1) = rankedStores(s, d)
      val triples = coocStore(top20).unionAll(topStore(top1))
      TripleStore.minus(triples,
          first = Seq((V("e"), C("coOccursWith"), V("t"))),
          groups = Seq(
            Seq((V("t"), C("isTopTermOf"), V("e2"))),
            Seq((V("z"), C("isTopTermOf"), V("w")))))
        .orderBy("e", "t")
    }),

    // SPARQL 1.1 §11 aggregation: per context term, how many tracked
    // entities share it, plus the sorted entity list — GROUP BY ?t,
    // COUNT(*), GROUP_CONCAT(?e ORDER pinned), HAVING n_entities >= 2.
    // One hash aggregation over the BGP bindings.
    "q_kg_agg" -> ((s, d) => {
      import TripleStore.{C, V}
      val (top20, _) = rankedStores(s, d)
      TripleStore.bgpAgg(coocStore(top20),
          where = Seq((V("e"), C("coOccursWith"), V("t"))),
          groupVars = Seq("t"),
          aggs = Seq(
            TripleStore.CountAll("n_entities"),
            TripleStore.MinOf("e", "first_entity"),
            TripleStore.GroupConcat("e", "|", "entities")),
          having = Some(col("n_entities") >= 2))
        .orderBy("t")
    }),

    // SPARQL 1.1 Update DELETE/INSERT WHERE: context edges whose term is
    // somebody's top term get rewritten coOccursWith → hadTopContext in
    // one pre-state pass; isTopTermOf triples and unmatched context edges
    // ride through untouched
    "q_kg_update" -> ((s, d) => {
      import TripleStore.{C, V}
      val (top20, top1) = rankedStores(s, d)
      val store = coocStore(top20).unionAll(topStore(top1))
      TripleStore.updateWhere(store,
          where = Seq(
            (V("e"), C("coOccursWith"), V("t")),
            (V("t"), C("isTopTermOf"), V("e2"))),
          delete = Seq((V("e"), C("coOccursWith"), V("t"))),
          insert = Seq((V("e"), C("hadTopContext"), V("t"))))
        .orderBy("subj", "pred", "obj")
    }),

    // graph-version delta: rebuild the store at topK=15 plus a new
    // predicate, diff against the topK=20 version — ranks 16–20 come back
    // `removed`, the new predicate's triples `added`, ranks 1–15 silent
    "q_kg_diff" -> ((s, d) => {
      val cs = Memo.coStatsOf(s, d, Queries.cfg)
      def store(k: Int) = Significance.topK(cs.scored, Queries.cfg.copy(topK = k))
        .select(col("entity").as("subj"), lit("coOccursWith").as("pred"),
          col("term").as("obj"))
      val v2 = store(15).unionAll(
        Significance.topK(cs.scored, Queries.cfg.copy(topK = 1))
          .select(col("term").as("subj"), lit("isTopTermOf").as("pred"),
            col("entity").as("obj")))
      TripleStore.diff(store(20), v2).orderBy("change", "subj", "pred", "obj")
    }),

    // SPARQL CONSTRUCT: materialize the inferred sharesContextWith graph
    // (plus a type triple per shared term) from the coOccursWith store —
    // derived edges as first-class triples; self-pairs and both directions
    // are SPARQL bindings (no implicit inequality), the graph dedups
    "q_kg_construct" -> ((s, d) => {
      import TripleStore.{C, V}
      val (top20, _) = rankedStores(s, d)
      val triples = top20.select(col("entity").as("subj"),
        lit("coOccursWith").as("pred"), col("term").as("obj"))
      TripleStore.construct(triples,
          where = Seq(
            (V("e1"), C("coOccursWith"), V("t")),
            (V("e2"), C("coOccursWith"), V("t"))),
          template = Seq(
            (V("e1"), C("sharesContextWith"), V("e2")),
            (V("t"), C("a"), C("SharedContextTerm"))))
        .orderBy("subj", "pred", "obj")
    }),

    // SPARQL property path `followedBy+` bounded at 3 hops over the bigram
    // adjacency, with min path length — the pair-level twin of q_kg_reach
    // (whose n_reach is exactly this result's per-subj row count minus
    // self-pairs)
    "q_kg_pathplus" -> ((s, d) => {
      val triples = edgesOf(s, d).select(col("src").as("subj"),
        lit("followedBy").as("pred"), col("dst").as("obj"))
      TripleStore.pathPlus(triples, "followedBy", maxHops = 3)
        .orderBy("subj", "obj")
    }),

    // standing/delta split is Spark-side only (the oracle recomputes from
    // scratch); the split predicate is arbitrary but deterministic — any
    // doc-level partition must merge back to the full-corpus counts
    "q_a3_incremental" -> ((s, d) => {
      val cov = Memo.coStatsOf(s, d, Queries.cfg).coverage
      val isDelta = crc32(col("docid")) % 4 === 0
      Cooc.mergeCounts(
        Cooc.coocCounts(cov.filter(!isDelta), Queries.cfg),
        Cooc.coocCounts(cov.filter(isDelta), Queries.cfg))
        .orderBy("entity", "term")
    }),

    // SPARQL UNION over the two-predicate store: every (entity, term)
    // context edge ∪ every (term, entity) top-term edge — each arm leaves
    // the other arm's variable NULL (unbound), the spec's disjoint-domain
    // solution union
    "q_kg_bgp_union" -> ((s, d) => {
      import TripleStore.{C, V}
      val (top20, top1) = rankedStores(s, d)
      val triples = coocStore(top20).unionAll(topStore(top1))
      TripleStore.bgpUnion(triples, Seq(
          Seq((V("e"), C("coOccursWith"), V("t"))),
          Seq((V("t2"), C("isTopTermOf"), V("e")))))
        .orderBy(col("e").asc, col("t").asc_nulls_last, col("t2").asc_nulls_last)
    }),

    // SPARQL VALUES: pin ?e to spark/join (UNDEF term) plus any entity
    // whose context includes 'partition' (UNDEF entity) — the inline table
    // broadcast-joins with NULL-as-wildcard compatibility, bag semantics
    // (a spark/partition edge matches TWO rows and appears twice)
    "q_kg_bgp_values" -> ((s, d) => {
      import TripleStore.{C, V}
      val (top20, _) = rankedStores(s, d)
      TripleStore.bgpValues(coocStore(top20),
          Seq((V("e"), C("coOccursWith"), V("t"))),
          vars = Seq("e", "t"),
          rows = Seq(
            Seq(Some("spark"), None),
            Seq(Some("join"), None),
            Seq(None, Some("partition"))))
        .orderBy("e", "t")
    }),

    // SPARQL ASK, both answers: the store has top-term edges (1) and no
    // sameAs edges (0) — each a limit(1) probe, never a full evaluation
    "q_kg_ask" -> ((s, d) => {
      import TripleStore.{C, V}
      val (top20, top1) = rankedStores(s, d)
      val triples = coocStore(top20).unionAll(topStore(top1))
      TripleStore.ask(triples, Seq((V("x"), C("sameAs"), V("y"))))
        .select(lit("has_sameas").as("q"), col("found"))
        .unionAll(
          TripleStore.ask(triples, Seq((V("t"), C("isTopTermOf"), V("e"))))
            .select(lit("has_top_terms").as("q"), col("found")))
        .orderBy("q")
    }),

    // named graphs: the top-20 store as graph v1, the top-15 rebuild as
    // graph v2 — the cross-graph GRAPH join yields the context edges that
    // SURVIVED the rebuild (the quad-store twin of q_kg_diff's silent arm)
    "q_kg_quads" -> ((s, d) => {
      import TripleStore.{C, V}
      val cs = Memo.coStatsOf(s, d, Queries.cfg)
      def store(k: Int) = Significance.topK(cs.scored, Queries.cfg.copy(topK = k))
        .select(col("entity").as("subj"), lit("coOccursWith").as("pred"),
          col("term").as("obj"))
      val quads = store(20).select(lit("v1").as("graph"), col("subj"), col("pred"), col("obj"))
        .unionAll(store(15).select(lit("v2").as("graph"), col("subj"), col("pred"), col("obj")))
      TripleStore.bgpQuads(quads, Seq(
          (C("v1"), V("e"), C("coOccursWith"), V("t")),
          (C("v2"), V("e"), C("coOccursWith"), V("t"))))
        .orderBy("e", "t")
    }),

    // SPARQL 1.1 property-path expression over the mixed store:
    // (followedBy/followedBy) | ^isTopTermOf — token pairs exactly two
    // bigram hops apart, OR an entity and its top context term (inverse
    // path); Alt/Chain/Inv in one expression, set semantics
    "q_kg_pathexpr" -> ((s, d) => {
      import TripleStore._
      val (_, top1) = rankedStores(s, d)
      val store = edgesOf(s, d).select(col("src").as("subj"),
          lit("followedBy").as("pred"), col("dst").as("obj"))
        .unionAll(topStore(top1))
      TripleStore.path(store,
          Alt(Chain(Pred("followedBy"), Pred("followedBy")),
            Inv(Pred("isTopTermOf"))))
        .orderBy("subj", "obj")
    }),

    // followedBy* bounded at 2 hops over the same mixed store: the
    // zero-length arm pairs EVERY graph node with itself (SPARQL
    // zero-length-path semantics — including the isTopTermOf endpoints
    // that have no followedBy edge at all)
    "q_kg_pathstar" -> ((s, d) => {
      import TripleStore._
      val (_, top1) = rankedStores(s, d)
      val store = edgesOf(s, d).select(col("src").as("subj"),
          lit("followedBy").as("pred"), col("dst").as("obj"))
        .unionAll(topStore(top1))
      TripleStore.path(store, Star(Pred("followedBy"), maxHops = 2))
        .orderBy("subj", "obj")
    }),

    // owl:sameAs canonicalization: entities sharing >= 15 of their top-20
    // context terms are aliases; alias CHAINS collapse through the
    // production connected components to the min representative and the
    // store is rewritten to canonical form (set semantics)
    "q_kg_sameas" -> ((s, d) => {
      import TripleStore.{C, V}
      val (top20, _) = rankedStores(s, d)
      val triples = coocStore(top20)
      val sameAs = TripleStore.bgp(triples, Seq(
          (V("e1"), C("coOccursWith"), V("t")),
          (V("e2"), C("coOccursWith"), V("t"))))
        .filter(col("e1") < col("e2"))
        .groupBy("e1", "e2").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 15)
        .select(col("e1").as("a"), col("e2").as("b"))
      TripleStore.canonicalize(triples, sameAs)
        .orderBy("subj", "pred", "obj")
    }),

    // RDFS-lite entailment over the top-term instance graph under a fixed
    // ontology: property-hierarchy inheritance (rdfs5/7), domain/range
    // typing (rdfs2/3, the range firing on an INHERITED edge — the
    // stratification case), and class-hierarchy type lifting (rdfs9/11)
    "q_kg_rdfs" -> ((s, d) => {
      import s.implicits._
      val (_, top1) = rankedStores(s, d)
      val schema = Seq(
        ("isTopTermOf", "subPropertyOf", "relatedTo"),
        ("relatedTo", "subPropertyOf", "associatedWith"),
        ("isTopTermOf", "domain", "Term"),
        ("relatedTo", "range", "Entity"),
        ("Term", "subClassOf", "Token"),
        ("Token", "subClassOf", "Resource"),
        ("Entity", "subClassOf", "Resource")
      ).toDF("subj", "pred", "obj")
      TripleStore.rdfsClosure(topStore(top1), schema, maxDepth = 4)
        .orderBy("subj", "pred", "obj")
    }),

    // SHACL-lite validation of the machine-built store: entity shapes
    // (context-term cardinality + spelling) and top-term shapes (unique
    // top-of, typed target, closed predicate set) — the violation report
    // IS the result, every row a pure function of the data
    "q_kg_shacl" -> ((s, d) => {
      import Shacl._
      val (top20, top1) = rankedStores(s, d)
      val typ = top20.select(col("entity").as("subj")).distinct()
        .select(col("subj"), lit("type").as("pred"), lit("Entity").as("obj"))
      val store = coocStore(top20).unionAll(topStore(top1)).unionAll(typ)
      Shacl.validate(store, Seq(
          Shape("EntityShape", targetClass = Some("Entity"), constraints = Seq(
            MinCount("coOccursWith", 20),
            MaxCount("coOccursWith", 15),
            Pattern("coOccursWith", "^[a-p]"))),
          Shape("TopTermShape", targetSubjectsOf = Some("isTopTermOf"),
            constraints = Seq(
              MaxCount("isTopTermOf", 1),
              ClassConstraint("isTopTermOf", "Entity"),
              Closed(Seq("isTopTermOf"))))))
        .orderBy(col("shape"), col("constraint"), col("focus"),
          col("value").asc_nulls_last, col("detail"))
    }),

    // SPARQL DESCRIBE spark, 1 hop: spark's own context edges plus the
    // full triples of every term it reaches (the terms' isTopTermOf
    // edges) — bounded-neighborhood subgraph extraction
    "q_kg_describe" -> ((s, d) => {
      import s.implicits._
      val (top20, top1) = rankedStores(s, d)
      val store = coocStore(top20).unionAll(topStore(top1))
      TripleStore.describe(store, Seq("spark").toDF("node"), hops = 1)
        .orderBy("subj", "pred", "obj")
    }),

    // OWL RL property rules to fixpoint over the mixed store: coOccursWith
    // declared symmetric (term edges flip), isTopTermOf gets an inverse
    // (hasTopTerm), and followedBy is transitive — its full reachability
    // closure materializes (converge-or-throw; the oracle's recursive CTE
    // is the true fixpoint, so truncation would hash-fail loudly)
    "q_kg_owl" -> ((s, d) => {
      import s.implicits._
      val (top20, top1) = rankedStores(s, d)
      val store = coocStore(top20).unionAll(topStore(top1))
        .unionAll(edgesOf(s, d).select(col("src").as("subj"),
          lit("followedBy").as("pred"), col("dst").as("obj")))
      val schema = Seq(
        ("isTopTermOf", "inverseOf", "hasTopTerm"),
        ("coOccursWith", "type", "SymmetricProperty"),
        ("followedBy", "type", "TransitiveProperty")
      ).toDF("subj", "pred", "obj")
      TripleStore.owlClosure(store, schema, maxRounds = 16)
        .orderBy("subj", "pred", "obj")
    }),

    // RDF reification of the top-term store: four provenance-ready quads
    // per statement, content-addressed ids (two engines reify the same
    // graph to the same node ids — the oracle recomputes the md5s)
    "q_kg_reify" -> ((s, d) => {
      val (_, top1) = rankedStores(s, d)
      TripleStore.reify(topStore(top1)).orderBy("subj", "pred", "obj")
    }),

    // VoID dataset statistics over the three-predicate store — the
    // publish-time "what is in this graph" summary
    "q_kg_void" -> ((s, d) => {
      val (top20, top1) = rankedStores(s, d)
      val typ = top20.select(col("entity").as("subj")).distinct()
        .select(col("subj"), lit("type").as("pred"), lit("Entity").as("obj"))
      TripleStore.voidStats(coocStore(top20).unionAll(topStore(top1)).unionAll(typ))
        .orderBy("pred")
    }),

    // SPARQL FILTER EXISTS (positive): context edges whose term IS
    // somebody's top term — the semi-join complement of q_kg_bgp_notexists
    // (together the two partition q_kg_bgp_optional's bindings exactly)
    "q_kg_exists" -> ((s, d) => {
      import TripleStore.{C, V}
      val (top20, top1) = rankedStores(s, d)
      val triples = coocStore(top20).unionAll(topStore(top1))
      TripleStore.bgpExists(triples,
          required = Seq((V("e"), C("coOccursWith"), V("t"))),
          groups = Seq(Seq((V("t"), C("isTopTermOf"), V("e2")))))
        .orderBy("e", "t")
    }),

    // SPARQL BIND + FILTER over expressions (§10.1): extend each context
    // edge with the term's length and a capitalized form, keep len >= 4 —
    // pure codegen column exprs over the bindings, zero added shuffles
    "q_kg_bind" -> ((s, d) => {
      import TripleStore.{C, V}
      val (top20, _) = rankedStores(s, d)
      val b = TripleStore.bgp(coocStore(top20),
        Seq((V("e"), C("coOccursWith"), V("t"))))
      TripleStore.bind(b, Seq(
          "len" -> length(col("t")).cast("long"),
          "tcap" -> concat(upper(substring(col("t"), 1, 1)), expr("substring(t, 2)"))))
        .filter(col("len") >= 4 && col("e") =!= col("t"))
        .select("e", "t", "len", "tcap")
        .orderBy("e", "t")
    }),

    // SPARQL solution modifiers (§15): top-10 shared-context entity pairs
    // after skipping the podium — ORDER BY n_shared DESC (total order via
    // e1, e2 tie-break) OFFSET 3 LIMIT 10. Plans as TakeOrderedAndProject
    // (per-partition heap + one merged 13-row frame), never a global sort
    "q_kg_orderlimit" -> ((s, d) => {
      import TripleStore.{C, V}
      val (top20, _) = rankedStores(s, d)
      val pairs = TripleStore.bgp(coocStore(top20), Seq(
          (V("e1"), C("coOccursWith"), V("t")),
          (V("e2"), C("coOccursWith"), V("t"))))
        .filter(col("e1") < col("e2"))
        .groupBy("e1", "e2").agg(count(lit(1)).as("n_shared"))
      TripleStore.orderLimit(pairs,
        Seq(col("n_shared").desc, col("e1"), col("e2")), limit = 10, offset = 3)
    }),

    // SPARQL numeric aggregates (§11) over a BOUND expression: per entity,
    // SUM/AVG(strlen of its context terms) + pinned SAMPLE — exercises
    // SumOf/AvgE4Of/SampleOf through the BIND → aggregate composition
    "q_kg_agg_num" -> ((s, d) => {
      import TripleStore.{C, V}
      val (top20, _) = rankedStores(s, d)
      val b = TripleStore.bind(
        TripleStore.bgp(coocStore(top20),
          Seq((V("e"), C("coOccursWith"), V("t")))),
        Seq("len" -> length(col("t")).cast("long")))
      TripleStore.aggregate(b, Seq("e"), Seq(
          TripleStore.SumOf("len", "sum_len"),
          TripleStore.AvgE4Of("len", "avg_len_e4"),
          TripleStore.SampleOf("t", "sample_t"),
          TripleStore.CountAll("n")))
        .orderBy("e")
    }),

    // SPARQL 1.1 §12 subquery: outer pattern (?e coOccursWith ?t) joined
    // with the nested `SELECT ?t (COUNT(DISTINCT ?e2) AS ?n_entities)
    // GROUP BY ?t` — evaluated bottom-up (Spark's natural dataflow) and
    // equi-joined on the projected variable, exactly the spec's semantics
    "q_kg_subquery" -> ((s, d) => {
      import TripleStore.{C, V}
      val (top20, _) = rankedStores(s, d)
      val store = coocStore(top20)
      val outer = TripleStore.bgp(store, Seq((V("e"), C("coOccursWith"), V("t"))))
      val inner = TripleStore.bgpAgg(store,
        where = Seq((V("e2"), C("coOccursWith"), V("t"))),
        groupVars = Seq("t"),
        aggs = Seq(TripleStore.CountDistinctOf("e2", "n_entities")))
      outer.join(inner, Seq("t"))
        .select("e", "t", "n_entities")
        .orderBy("e", "t")
    }),

    // OWL RL prp-spo2 (property chain, length 2): coOccursWith ∘
    // isTopTermOf ⊑ relatedEntity, with relatedEntity symmetric — the
    // chain fires in round 1, the symmetric rule closes its output in
    // round 2, fixpoint in round 3 (two interacting rule strata)
    "q_kg_owl_chain" -> ((s, d) => {
      import s.implicits._
      val (top20, top1) = rankedStores(s, d)
      val store = coocStore(top20).unionAll(topStore(top1))
      val schema = Seq(
        ("relatedEntity", "chainFirst", "coOccursWith"),
        ("relatedEntity", "chainSecond", "isTopTermOf"),
        ("relatedEntity", "type", "SymmetricProperty")
      ).toDF("subj", "pred", "obj")
      TripleStore.owlClosure(store, schema, maxRounds = 8)
        .orderBy("subj", "pred", "obj")
    })
  )

  // ---------------------------------------------------------------- oracles

  /** Directed bigram adjacency over the shared `toks` CTE — the SQL twin of
    * Graph.bigramEdges. */
  private val edgesCte: String =
    """edges AS MATERIALIZED (
      |  SELECT src, dst, count(*) AS w FROM (
      |    SELECT term AS src, lead(term) OVER (PARTITION BY docid ORDER BY pos) AS dst
      |    FROM toks)
      |  WHERE dst IS NOT NULL AND dst <> src
      |  GROUP BY src, dst
      |)""".stripMargin

  /** Full iteration-by-iteration replay of Graph.pageRank's integer
    * lattice: seed = scale // N, teleport = (seed * 15) // 100, and per
    * round r'(v) = tp + ((inflow(v) + dangling_share) * 85) // 100 with
    * truncating division everywhere — every intermediate is an integer, so
    * the final ranks are bit-equal across engines. */
  /** The consts + per-round CTEs of the pageRank replay, composable onto
    * ANY preceding CTE chain that defines `edges(src, dst, w)` — shared
    * with the web-authority oracle in ExtraQueries. Ends with `r<iters>`;
    * the caller appends the final SELECT. */
  private[graft] def pageRankReplay(iters: Int): String = {
    val consts =
      """nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |outw AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM edges GROUP BY src),
        |consts AS MATERIALIZED (
        |  SELECT n, 1000000000000 // n AS seed, ((1000000000000 // n) * 15) // 100 AS tp
        |  FROM (SELECT count(*) AS n FROM nodes)),
        |r0 AS MATERIALIZED (SELECT node, (SELECT seed FROM consts) AS rank FROM nodes)""".stripMargin
    val rounds = (1 to iters).map { k =>
      val p = k - 1
      s"""dang$p AS MATERIALIZED (
         |  SELECT COALESCE(sum(r.rank), 0) // (SELECT n FROM consts) AS ds
         |  FROM r$p r LEFT JOIN outw o ON r.node = o.src WHERE o.src IS NULL
         |),
         |r$k AS MATERIALIZED (
         |  SELECT n.node,
         |         CAST((SELECT tp FROM consts)
         |           + ((COALESCE(i.inflow, 0) + (SELECT ds FROM dang$p)) * 85) // 100 AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, sum((r.rank * e.w) // o.ow) AS inflow
         |    FROM edges e JOIN r$p r ON e.src = r.node JOIN outw o ON e.src = o.src
         |    GROUP BY e.dst) i ON n.node = i.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""$consts,
       |$rounds""".stripMargin
  }

  private def pageRankOracle(iters: Int): String =
    s"""${Queries.base},
       |$edgesCte,
       |${pageRankReplay(iters)}
       |SELECT node, rank FROM r$iters ORDER BY node""".stripMargin

  /** Undirected simple pair set + (deg, node)-ordered orientation — the SQL
    * twin of Graph.undirected / the orientation step of Graph.triangles. */
  private val orientedCtes: String =
    """und AS MATERIALIZED (
      |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM edges WHERE src <> dst
      |),
      |deg AS MATERIALIZED (
      |  SELECT node, count(*) AS deg FROM (
      |    SELECT a AS node FROM und UNION ALL SELECT b FROM und)
      |  GROUP BY node
      |),
      |o AS MATERIALIZED (
      |  SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
      |         CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v
      |  FROM (SELECT u1.a, u1.b, d1.deg AS da, d2.deg AS db
      |        FROM und u1 JOIN deg d1 ON u1.a = d1.node
      |                    JOIN deg d2 ON u1.b = d2.node)
      |)""".stripMargin

  /** Round-by-round replay of Graph.labelPropagation: per round each node
    * adopts the neighbor label with max total incident weight, ties to the
    * smallest label — the same total order as the Spark window. */
  private def labelPropOracle(iters: Int): String = {
    val sym =
      """undw AS MATERIALIZED (
        |  SELECT least(src, dst) AS a, greatest(src, dst) AS b, CAST(sum(w) AS BIGINT) AS w
        |  FROM edges WHERE src <> dst GROUP BY 1, 2
        |),
        |sym AS MATERIALIZED (
        |  SELECT a AS v, b AS nbr, w FROM undw
        |  UNION ALL SELECT b AS v, a AS nbr, w FROM undw
        |),
        |lab0 AS MATERIALIZED (
        |  SELECT node, node AS label FROM (SELECT DISTINCT v AS node FROM sym))""".stripMargin
    val rounds = (1 to iters).map { k =>
      s"""lab$k AS MATERIALIZED (
         |  SELECT v AS node, l AS label FROM (
         |    SELECT s.v, p.label AS l, sum(s.w) AS sw,
         |           row_number() OVER (PARTITION BY s.v
         |                              ORDER BY sum(s.w) DESC, p.label) AS rn
         |    FROM sym s JOIN lab${k - 1} p ON s.nbr = p.node
         |    GROUP BY s.v, p.label)
         |  WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""${Queries.base},
       |$edgesCte,
       |$sym,
       |$rounds
       |SELECT node, label FROM lab$iters ORDER BY node""".stripMargin
  }

  /** Round-by-round replay of Graph.kcore over the w-thresholded simple
    * graph: per round recompute degrees, keep nodes with deg >= k, keep
    * edges with both endpoints kept. */
  private def kcoreOracle(thr: Int, k: Int, rounds: Int): String = {
    val e0 =
      s"""e0 AS MATERIALIZED (
         |  SELECT a, b FROM (
         |    SELECT least(src, dst) AS a, greatest(src, dst) AS b,
         |           CAST(sum(w) AS BIGINT) AS w
         |    FROM edges WHERE src <> dst GROUP BY 1, 2)
         |  WHERE w >= $thr
         |)""".stripMargin
    val rs = (1 to rounds).map { i =>
      s"""k$i AS MATERIALIZED (
         |  SELECT node FROM (
         |    SELECT node, count(*) AS deg FROM (
         |      SELECT a AS node FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
         |    GROUP BY node)
         |  WHERE deg >= $k
         |),
         |e$i AS MATERIALIZED (
         |  SELECT a, b FROM e${i - 1}
         |  WHERE a IN (SELECT node FROM k$i) AND b IN (SELECT node FROM k$i)
         |)""".stripMargin
    }.mkString(",\n")
    s"""${Queries.base},
       |$edgesCte,
       |$e0,
       |$rs
       |SELECT node, deg FROM (
       |  SELECT node, count(*) AS deg FROM (
       |    SELECT a AS node FROM e$rounds UNION ALL SELECT b FROM e$rounds)
       |  GROUP BY node)
       |WHERE deg >= $k ORDER BY node""".stripMargin
  }

  /** Half-step-by-half-step replay of Graph.hits' integer lattice: per
    * round a raw propagation sum then a renormalize-to-scale with
    * truncating division — every intermediate is an integer. */
  private def hitsOracle(iters: Int, scale: Long): String = {
    val setup =
      s"""nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |h0 AS MATERIALIZED (
         |  SELECT node, $scale // (SELECT count(*) FROM nodes) AS s FROM nodes)""".stripMargin
    def half(prev: String, out: String, from: String, to: String): String =
      s"""${out}raw AS MATERIALIZED (
         |  SELECT e.$to AS node, CAST(sum(p.s * e.w) AS BIGINT) AS raw
         |  FROM edges e JOIN $prev p ON e.$from = p.node GROUP BY e.$to
         |),
         |$out AS MATERIALIZED (
         |  SELECT n.node,
         |         CASE WHEN (SELECT COALESCE(sum(raw), 0) FROM ${out}raw) > 0
         |              THEN CAST((COALESCE(r.raw, 0) * $scale)
         |                   // (SELECT sum(raw) FROM ${out}raw) AS BIGINT)
         |              ELSE 0 END AS s
         |  FROM nodes n LEFT JOIN ${out}raw r ON n.node = r.node
         |)""".stripMargin
    val rounds = (1 to iters).map { i =>
      half(s"h${i - 1}", s"a$i", "src", "dst") + ",\n" +
        half(s"a$i", s"h$i", "dst", "src")
    }.mkString(",\n")
    s"""${Queries.base},
       |$edgesCte,
       |$setup,
       |$rounds
       |SELECT h.node, h.s AS hub, a.s AS auth
       |FROM h$iters h JOIN a$iters a ON h.node = a.node
       |ORDER BY h.node""".stripMargin
  }

  /** Round-by-round replay of Graph.personalizedPageRank: teleport and
    * dangling mass land only on the source set; same truncating-division
    * lattice as the pageRank oracle. */
  private def pprOracle(iters: Int, srcList: Seq[String]): String = {
    val srcSql = srcList.map(s => s"'$s'").mkString(", ")
    val consts =
      s"""nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |outw AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM edges GROUP BY src),
         |srcs AS MATERIALIZED (SELECT node FROM nodes WHERE node IN ($srcSql)),
         |pconsts AS MATERIALIZED (
         |  SELECT ns, 1000000000000 // ns AS seed,
         |         (1000000000000 * 15) // 100 // ns AS tp
         |  FROM (SELECT count(*) AS ns FROM srcs)),
         |p0 AS MATERIALIZED (
         |  SELECT n.node,
         |         CASE WHEN s.node IS NOT NULL THEN (SELECT seed FROM pconsts)
         |              ELSE 0 END AS rank
         |  FROM nodes n LEFT JOIN srcs s ON n.node = s.node)""".stripMargin
    val rounds = (1 to iters).map { k =>
      val p = k - 1
      s"""pdang$p AS MATERIALIZED (
         |  SELECT COALESCE(sum(r.rank), 0) // (SELECT ns FROM pconsts) AS ds
         |  FROM p$p r LEFT JOIN outw o ON r.node = o.src WHERE o.src IS NULL
         |),
         |p$k AS MATERIALIZED (
         |  SELECT n.node,
         |         CAST(CASE WHEN s.node IS NOT NULL THEN (SELECT tp FROM pconsts) ELSE 0 END
         |           + ((COALESCE(i.inflow, 0)
         |               + CASE WHEN s.node IS NOT NULL THEN (SELECT ds FROM pdang$p) ELSE 0 END)
         |              * 85) // 100 AS BIGINT) AS rank
         |  FROM nodes n
         |  LEFT JOIN srcs s ON n.node = s.node
         |  LEFT JOIN (
         |    SELECT e.dst AS node, sum((r.rank * e.w) // o.ow) AS inflow
         |    FROM edges e JOIN p$p r ON e.src = r.node JOIN outw o ON e.src = o.src
         |    GROUP BY e.dst) i ON n.node = i.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""${Queries.base},
       |$edgesCte,
       |$consts,
       |$rounds
       |SELECT node, rank FROM p$iters ORDER BY node""".stripMargin
  }

  /** Round-by-round replay of Graph.shortestPaths: d0 = the minimum node at
    * distance 0, then `maxHops` Bellman-Ford relaxations taking the min of
    * (previous dists) union (previous dists + outgoing edge weight). */
  private def ssspOracle(maxHops: Int): String = {
    val d0 =
      """d0 AS MATERIALIZED (
        |  SELECT min(node) AS node, CAST(0 AS BIGINT) AS dist FROM (
        |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
        |)""".stripMargin
    val rs = (1 to maxHops).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, p.dist + e.w AS dist
         |    FROM d${i - 1} p JOIN edges e ON e.src = p.node)
         |  GROUP BY node
         |)""".stripMargin
    }.mkString(",\n")
    s"""${Queries.base},
       |$edgesCte,
       |$d0,
       |$rs
       |SELECT node, dist FROM d$maxHops ORDER BY node""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_kg_degrees" ->
      s"""${Queries.base},
         |$edgesCte
         |SELECT COALESCE(o.node, i.node) AS node,
         |       COALESCE(o.out_deg, 0) AS out_deg, COALESCE(o.out_w, 0) AS out_w,
         |       COALESCE(i.in_deg, 0) AS in_deg, COALESCE(i.in_w, 0) AS in_w
         |FROM (SELECT src AS node, count(*) AS out_deg, CAST(sum(w) AS BIGINT) AS out_w
         |      FROM edges GROUP BY src) o
         |FULL OUTER JOIN
         |     (SELECT dst AS node, count(*) AS in_deg, CAST(sum(w) AS BIGINT) AS in_w
         |      FROM edges GROUP BY dst) i
         |  ON o.node = i.node
         |ORDER BY node""".stripMargin,

    "q_kg_pagerank" -> pageRankOracle(8),

    "q_kg_triangles" ->
      s"""${Queries.base},
         |$edgesCte,
         |$orientedCtes,
         |tri AS MATERIALIZED (
         |  SELECT e1.u, e1.v, e2.v AS w2
         |  FROM o e1 JOIN o e2 ON e1.u = e2.u AND e1.v <> e2.v
         |            JOIN o e3 ON e3.u = e1.v AND e3.v = e2.v
         |)
         |SELECT node, count(*) AS n_tri FROM (
         |  SELECT u AS node FROM tri
         |  UNION ALL SELECT v FROM tri
         |  UNION ALL SELECT w2 FROM tri)
         |GROUP BY node ORDER BY node""".stripMargin,

    "q_kg_labelprop" -> labelPropOracle(4),

    "q_kg_wcc" ->
      s"""${Queries.base.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$edgesCte,
         |und AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM edges WHERE src <> dst
         |),
         |sym AS MATERIALIZED (
         |  SELECT a AS u, b AS v FROM und UNION SELECT b, a FROM und
         |),
         |rch AS (
         |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM sym) t0
         |  UNION
         |  SELECT s.u, r.r FROM sym s JOIN rch r ON r.u = s.v
         |)
         |SELECT u AS node, min(r) AS component FROM rch
         |GROUP BY u ORDER BY node""".stripMargin,

    "q_kg_kcore" -> kcoreOracle(thr = 65, k = 6, rounds = 8),

    "q_kg_sssp" -> ssspOracle(4),

    "q_kg_reach" ->
      s"""${Queries.base},
         |$edgesCte,
         |p1 AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
         |p2 AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM p1
         |  UNION ALL SELECT p.src, e.dst FROM p1 p JOIN p1 e ON p.dst = e.src)),
         |p3 AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM p2
         |  UNION ALL SELECT p.src, e.dst FROM p2 p JOIN p1 e ON p.dst = e.src))
         |SELECT src AS node, count(*) AS n_reach
         |FROM (SELECT DISTINCT src, dst FROM p3 WHERE dst <> src)
         |GROUP BY src ORDER BY node""".stripMargin,

    "q_kg_hits" -> hitsOracle(iters = 5, scale = 1000000L),

    "q_kg_ppr" -> pprOracle(iters = 6, srcList = Seq("spark", "join")),

    // the SQL twin of the two-pattern BGP: the production topK ranking
    // (same total order as q_l3/q_c3) self-joined on the shared term
    "q_kg_bgp" ->
      s"""${Queries.base},
         |${Queries.rankedSql},
         |top20 AS (SELECT entity, term FROM ranked WHERE rnk <= 20)
         |SELECT a.entity AS e1, b.entity AS e2, count(*) AS n_shared
         |FROM top20 a JOIN top20 b ON a.term = b.term AND a.entity < b.entity
         |GROUP BY 1, 2 ORDER BY e1, e2""".stripMargin,

    // LEFT JOIN twin of the OPTIONAL group; rnk<=1 of the SAME production
    // total order (scaled logp, term) is the isTopTermOf predicate
    "q_kg_bgp_optional" ->
      s"""${Queries.base},
         |${Queries.rankedSql}
         |SELECT a.entity AS e, b.entity AS e2, a.term AS t
         |FROM (SELECT entity, term FROM ranked WHERE rnk <= 20) a
         |LEFT JOIN (SELECT entity, term FROM ranked WHERE rnk <= 1) b
         |  ON b.term = a.term
         |ORDER BY e, t, e2""".stripMargin,

    // NOT-EXISTS twin via anti-semi-join SQL
    "q_kg_bgp_notexists" ->
      s"""${Queries.base},
         |${Queries.rankedSql}
         |SELECT a.entity AS e, a.term AS t
         |FROM (SELECT entity, term FROM ranked WHERE rnk <= 20) a
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM (SELECT term FROM ranked WHERE rnk <= 1) b
         |  WHERE b.term = a.term)
         |ORDER BY e, t""".stripMargin,

    // MINUS twin: ONLY the shared-variable group filters (the
    // variable-disjoint second group is a spec-mandated no-op, so it has
    // no SQL footprint — that absence IS the check)
    "q_kg_minus" ->
      s"""${Queries.base},
         |${Queries.rankedSql}
         |SELECT a.entity AS e, a.term AS t
         |FROM (SELECT entity, term FROM ranked WHERE rnk <= 20) a
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM (SELECT term FROM ranked WHERE rnk <= 1) b
         |  WHERE b.term = a.term)
         |ORDER BY e, t""".stripMargin,

    // GROUP BY / HAVING twin; string_agg with ORDER BY pins the
    // GROUP_CONCAT order the SPARQL spec leaves undefined
    "q_kg_agg" ->
      s"""${Queries.base},
         |${Queries.rankedSql}
         |SELECT term AS t, count(*) AS n_entities,
         |       min(entity) AS first_entity,
         |       string_agg(entity, '|' ORDER BY entity) AS entities
         |FROM (SELECT entity, term FROM ranked WHERE rnk <= 20)
         |GROUP BY term HAVING count(*) >= 2
         |ORDER BY t""".stripMargin,

    // DELETE-then-INSERT twin, both templates bound from the PRE-state
    "q_kg_update" ->
      s"""${Queries.base},
         |${Queries.rankedSql},
         |cooc_st AS (SELECT entity AS subj, 'coOccursWith' AS pred, term AS obj
         |            FROM ranked WHERE rnk <= 20),
         |top_st AS (SELECT term AS subj, 'isTopTermOf' AS pred, entity AS obj
         |           FROM ranked WHERE rnk <= 1),
         |store_st AS (SELECT * FROM cooc_st UNION ALL SELECT * FROM top_st),
         |matched_st AS (
         |  SELECT c.subj AS e, c.obj AS t FROM cooc_st c
         |  WHERE EXISTS (SELECT 1 FROM top_st tt WHERE tt.subj = c.obj))
         |SELECT DISTINCT subj, pred, obj FROM (
         |  SELECT s.* FROM store_st s
         |  WHERE NOT (s.pred = 'coOccursWith' AND EXISTS (
         |    SELECT 1 FROM matched_st m WHERE m.e = s.subj AND m.t = s.obj))
         |  UNION ALL
         |  SELECT e, 'hadTopContext', t FROM matched_st)
         |ORDER BY subj, pred, obj""".stripMargin,

    // set-EXCEPT twin of the one-shuffle tagged-union diff
    "q_kg_diff" ->
      s"""${Queries.base},
         |${Queries.rankedSql},
         |v1 AS (SELECT entity AS subj, 'coOccursWith' AS pred, term AS obj
         |       FROM ranked WHERE rnk <= 20),
         |v2 AS (SELECT entity AS subj, 'coOccursWith' AS pred, term AS obj
         |       FROM ranked WHERE rnk <= 15
         |       UNION ALL
         |       SELECT term, 'isTopTermOf', entity FROM ranked WHERE rnk <= 1)
         |SELECT subj, pred, obj, 'removed' AS change
         |FROM (SELECT * FROM v1 EXCEPT SELECT * FROM v2)
         |UNION ALL
         |SELECT subj, pred, obj, 'added' AS change
         |FROM (SELECT * FROM v2 EXCEPT SELECT * FROM v1)
         |ORDER BY change, subj, pred, obj""".stripMargin,

    // UNION-DISTINCT twin of the two CONSTRUCT templates over the self-join
    "q_kg_construct" ->
      s"""${Queries.base},
         |${Queries.rankedSql},
         |top20 AS (SELECT entity, term FROM ranked WHERE rnk <= 20)
         |SELECT DISTINCT subj, pred, obj FROM (
         |  SELECT a.entity AS subj, 'sharesContextWith' AS pred, b.entity AS obj
         |  FROM top20 a JOIN top20 b ON a.term = b.term
         |  UNION ALL
         |  SELECT term, 'a', 'SharedContextTerm' FROM top20)
         |ORDER BY subj, pred, obj""".stripMargin,

    // hop-layered closure; min(h) per pair is the BFS first-discovery round
    "q_kg_pathplus" ->
      s"""${Queries.base},
         |$edgesCte,
         |e1 AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
         |s2 AS MATERIALIZED (SELECT DISTINCT p.src, e.dst
         |  FROM e1 p JOIN e1 e ON p.dst = e.src),
         |s3 AS MATERIALIZED (SELECT DISTINCT p.src, e.dst
         |  FROM s2 p JOIN e1 e ON p.dst = e.src)
         |SELECT src AS subj, dst AS obj, CAST(min(h) AS BIGINT) AS n_hops
         |FROM (
         |  SELECT src, dst, 1 AS h FROM e1
         |  UNION ALL SELECT src, dst, 2 FROM s2
         |  UNION ALL SELECT src, dst, 3 FROM s3)
         |GROUP BY 1, 2 ORDER BY subj, obj""".stripMargin,

    "q_kg_clustering" ->
      s"""${Queries.base},
         |$edgesCte,
         |$orientedCtes,
         |tri AS MATERIALIZED (
         |  SELECT e1.u, e1.v, e2.v AS w2
         |  FROM o e1 JOIN o e2 ON e1.u = e2.u AND e1.v <> e2.v
         |            JOIN o e3 ON e3.u = e1.v AND e3.v = e2.v
         |),
         |tcnt AS MATERIALIZED (
         |  SELECT node, count(*) AS n_tri FROM (
         |    SELECT u AS node FROM tri
         |    UNION ALL SELECT v FROM tri
         |    UNION ALL SELECT w2 FROM tri)
         |  GROUP BY node
         |)
         |SELECT d.node, d.deg, COALESCE(t.n_tri, 0) AS n_tri,
         |       CASE WHEN d.deg >= 2
         |            THEN CAST((2 * COALESCE(t.n_tri, 0) * 1000000)
         |                      // (d.deg * (d.deg - 1)) AS BIGINT)
         |            ELSE 0 END AS lcc_e6
         |FROM deg d LEFT JOIN tcnt t ON d.node = t.node
         |ORDER BY d.node""".stripMargin,

    "q_kg_linkpredict" ->
      s"""${Queries.base},
         |$edgesCte,
         |lp_und AS MATERIALIZED (
         |  SELECT a, b FROM (
         |    SELECT least(src, dst) AS a, greatest(src, dst) AS b,
         |           CAST(sum(w) AS BIGINT) AS w
         |    FROM edges WHERE src <> dst GROUP BY 1, 2)
         |  WHERE w >= 65
         |),
         |lp_deg AS MATERIALIZED (
         |  SELECT node, count(*) AS deg FROM (
         |    SELECT a AS node FROM lp_und UNION ALL SELECT b FROM lp_und)
         |  GROUP BY node
         |),
         |centers AS MATERIALIZED (
         |  SELECT node, deg FROM lp_deg WHERE deg BETWEEN 2 AND 12
         |),
         |cadj AS MATERIALIZED (
         |  SELECT j.c, j.x, centers.deg FROM (
         |    SELECT a AS c, b AS x FROM lp_und
         |    UNION ALL SELECT b AS c, a AS x FROM lp_und) j
         |  JOIN centers ON j.c = centers.node
         |),
         |lp_scored AS MATERIALIZED (
         |  SELECT a, b, count(*) AS cn, CAST(sum(1000000 // deg) AS BIGINT) AS ra
         |  FROM (SELECT l.c, l.deg, l.x AS a, r.x AS b
         |        FROM cadj l JOIN cadj r ON l.c = r.c AND l.x < r.x)
         |  GROUP BY a, b
         |)
         |SELECT s.a, s.b, s.cn, s.ra
         |FROM lp_scored s LEFT JOIN lp_und u ON s.a = u.a AND s.b = u.b
         |WHERE u.a IS NULL
         |ORDER BY s.ra DESC, s.cn DESC, s.a, s.b LIMIT 64""".stripMargin,

    "q_a3_incremental" ->
      s"""${Queries.base}
         |SELECT entity, term, k FROM cooc ORDER BY entity, term""".stripMargin,

    // disjoint-domain solution union: each arm NULL-pads the other's
    // variable (Spark asc_nulls_last == DuckDB ASC default NULLS LAST)
    "q_kg_bgp_union" ->
      s"""${Queries.base},
         |${Queries.rankedSql}
         |SELECT entity AS e, term AS t, CAST(NULL AS VARCHAR) AS t2
         |FROM ranked WHERE rnk <= 20
         |UNION ALL
         |SELECT entity AS e, CAST(NULL AS VARCHAR) AS t, term AS t2
         |FROM ranked WHERE rnk <= 1
         |ORDER BY e, t, t2""".stripMargin,

    // inline VALUES table with NULL-as-UNDEF compatibility join; bag
    // semantics — a binding compatible with two rows appears twice
    "q_kg_bgp_values" ->
      s"""${Queries.base},
         |${Queries.rankedSql},
         |vals AS (SELECT * FROM (VALUES
         |  ('spark', CAST(NULL AS VARCHAR)),
         |  ('join', CAST(NULL AS VARCHAR)),
         |  (CAST(NULL AS VARCHAR), 'partition')) AS v(ve, vt))
         |SELECT a.entity AS e, a.term AS t
         |FROM (SELECT entity, term FROM ranked WHERE rnk <= 20) a
         |JOIN vals v ON (v.ve IS NULL OR v.ve = a.entity)
         |           AND (v.vt IS NULL OR v.vt = a.term)
         |ORDER BY e, t""".stripMargin,

    "q_kg_ask" ->
      s"""${Queries.base},
         |${Queries.rankedSql},
         |store AS (
         |  SELECT entity AS subj, 'coOccursWith' AS pred, term AS obj
         |  FROM ranked WHERE rnk <= 20
         |  UNION ALL
         |  SELECT term, 'isTopTermOf', entity FROM ranked WHERE rnk <= 1)
         |SELECT q, found FROM (
         |  SELECT 'has_sameas' AS q,
         |         CAST(EXISTS(SELECT 1 FROM store WHERE pred = 'sameAs') AS BIGINT) AS found
         |  UNION ALL
         |  SELECT 'has_top_terms',
         |         CAST(EXISTS(SELECT 1 FROM store WHERE pred = 'isTopTermOf') AS BIGINT))
         |ORDER BY q""".stripMargin,

    // cross-graph join == the edges present in BOTH versions
    "q_kg_quads" ->
      s"""${Queries.base},
         |${Queries.rankedSql}
         |SELECT a.entity AS e, a.term AS t
         |FROM (SELECT entity, term FROM ranked WHERE rnk <= 20) a
         |JOIN (SELECT entity, term FROM ranked WHERE rnk <= 15) b
         |  ON a.entity = b.entity AND a.term = b.term
         |ORDER BY e, t""".stripMargin,

    // (followedBy/followedBy) | ^isTopTermOf — two-hop pairs union the
    // inverted top-term edges, DISTINCT (paths are existence tests)
    "q_kg_pathexpr" ->
      s"""${Queries.base},
         |$edgesCte,
         |${Queries.rankedSql},
         |e1 AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
         |two AS MATERIALIZED (
         |  SELECT DISTINCT a.src, b.dst FROM e1 a JOIN e1 b ON a.dst = b.src)
         |SELECT DISTINCT src AS subj, dst AS obj FROM (
         |  SELECT src, dst FROM two
         |  UNION ALL
         |  SELECT entity AS src, term AS dst FROM ranked WHERE rnk <= 1)
         |ORDER BY subj, obj""".stripMargin,

    // followedBy* (<=2 hops): zero-length pairs over ALL graph nodes —
    // including the isTopTermOf endpoints — union the 1..2-hop closure
    "q_kg_pathstar" ->
      s"""${Queries.base},
         |$edgesCte,
         |${Queries.rankedSql},
         |e1 AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
         |two AS MATERIALIZED (
         |  SELECT DISTINCT a.src, b.dst FROM e1 a JOIN e1 b ON a.dst = b.src),
         |nodes AS MATERIALIZED (
         |  SELECT src AS n FROM e1 UNION SELECT dst FROM e1
         |  UNION SELECT term FROM ranked WHERE rnk <= 1
         |  UNION SELECT entity FROM ranked WHERE rnk <= 1)
         |SELECT DISTINCT subj, obj FROM (
         |  SELECT n AS subj, n AS obj FROM nodes
         |  UNION ALL SELECT src, dst FROM e1
         |  UNION ALL SELECT src, dst FROM two)
         |ORDER BY subj, obj""".stripMargin,

    // recursive-CTE closure over the >=15-shared-terms alias pairs; each
    // member rewrites to the component MIN (the Spark side's CC
    // representative), then the store canonicalizes with set semantics
    "q_kg_sameas" ->
      s"""${Queries.base.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |${Queries.rankedSql},
         |top20 AS (SELECT entity, term FROM ranked WHERE rnk <= 20),
         |pairs AS (
         |  SELECT a.entity AS a, b.entity AS b
         |  FROM top20 a JOIN top20 b ON a.term = b.term AND a.entity < b.entity
         |  GROUP BY 1, 2 HAVING count(*) >= 15),
         |sym AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
         |rch AS (
         |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM sym) t0
         |  UNION
         |  SELECT s.u, r.r FROM sym s JOIN rch r ON r.u = s.v),
         |rep AS (SELECT u AS member, min(r) AS rep FROM rch GROUP BY u)
         |SELECT DISTINCT COALESCE(rs.rep, t.subj) AS subj, t.pred AS pred,
         |       COALESCE(ro.rep, t.obj) AS obj
         |FROM (SELECT entity AS subj, 'coOccursWith' AS pred, term AS obj FROM top20) t
         |LEFT JOIN rep rs ON t.subj = rs.member
         |LEFT JOIN rep ro ON t.obj = ro.member
         |ORDER BY subj, pred, obj""".stripMargin,

    // the fixed ontology's full entailment, enumerated rule by rule:
    // rdfs7 (relatedTo, associatedWith), rdfs2 (Term), rdfs3 on the
    // INHERITED relatedTo edge (Entity), rdfs9/11 (Token, Resource)
    "q_kg_rdfs" ->
      s"""${Queries.base},
         |${Queries.rankedSql},
         |top1 AS (SELECT entity, term FROM ranked WHERE rnk <= 1)
         |SELECT DISTINCT subj, pred, obj FROM (
         |  SELECT term AS subj, 'isTopTermOf' AS pred, entity AS obj FROM top1
         |  UNION ALL SELECT term, 'relatedTo', entity FROM top1
         |  UNION ALL SELECT term, 'associatedWith', entity FROM top1
         |  UNION ALL SELECT term, 'type', 'Term' FROM top1
         |  UNION ALL SELECT term, 'type', 'Token' FROM top1
         |  UNION ALL SELECT term, 'type', 'Resource' FROM top1
         |  UNION ALL SELECT entity, 'type', 'Entity' FROM top1
         |  UNION ALL SELECT entity, 'type', 'Resource' FROM top1)
         |ORDER BY subj, pred, obj""".stripMargin,

    // constraint-by-constraint replay of the two shapes over the same
    // three-predicate store; detail strings byte-identical to the engine's
    "q_kg_shacl" ->
      s"""${Queries.base},
         |${Queries.rankedSql},
         |t20 AS (SELECT entity AS subj, 'coOccursWith' AS pred, term AS obj
         |        FROM ranked WHERE rnk <= 20),
         |t1 AS (SELECT term AS subj, 'isTopTermOf' AS pred, entity AS obj
         |       FROM ranked WHERE rnk <= 1),
         |typ AS (SELECT DISTINCT entity AS subj, 'type' AS pred, 'Entity' AS obj
         |        FROM ranked WHERE rnk <= 20),
         |store AS (SELECT * FROM t20 UNION ALL SELECT * FROM t1
         |          UNION ALL SELECT * FROM typ),
         |efocus AS (SELECT DISTINCT subj AS focus FROM store
         |           WHERE pred = 'type' AND obj = 'Entity'),
         |tfocus AS (SELECT DISTINCT subj AS focus FROM store
         |           WHERE pred = 'isTopTermOf'),
         |emine AS (SELECT f.focus, s.pred, s.obj
         |          FROM store s JOIN efocus f ON s.subj = f.focus),
         |tmine AS (SELECT f.focus, s.pred, s.obj
         |          FROM store s JOIN tfocus f ON s.subj = f.focus)
         |SELECT focus, shape, "constraint", value, detail FROM (
         |  SELECT focus, 'EntityShape' AS shape,
         |         'minCount(coOccursWith)' AS "constraint",
         |         CAST(NULL AS VARCHAR) AS value,
         |         'count=' || CAST(cnt AS VARCHAR) || ' < min 20' AS detail
         |  FROM (SELECT f.focus, count(m.pred) AS cnt
         |        FROM efocus f LEFT JOIN emine m
         |          ON m.focus = f.focus AND m.pred = 'coOccursWith'
         |        GROUP BY f.focus)
         |  WHERE cnt < 20
         |  UNION ALL
         |  SELECT focus, 'EntityShape', 'maxCount(coOccursWith)',
         |         CAST(NULL AS VARCHAR),
         |         'count=' || CAST(cnt AS VARCHAR) || ' > max 15'
         |  FROM (SELECT focus, count(*) AS cnt FROM emine
         |        WHERE pred = 'coOccursWith' GROUP BY focus)
         |  WHERE cnt > 15
         |  UNION ALL
         |  SELECT focus, 'EntityShape', 'pattern(coOccursWith)', obj, '!~ ^[a-p]'
         |  FROM emine
         |  WHERE pred = 'coOccursWith' AND NOT regexp_matches(obj, '^[a-p]')
         |  UNION ALL
         |  SELECT focus, 'TopTermShape', 'maxCount(isTopTermOf)',
         |         CAST(NULL AS VARCHAR),
         |         'count=' || CAST(cnt AS VARCHAR) || ' > max 1'
         |  FROM (SELECT focus, count(*) AS cnt FROM tmine
         |        WHERE pred = 'isTopTermOf' GROUP BY focus)
         |  WHERE cnt > 1
         |  UNION ALL
         |  SELECT focus, 'TopTermShape', 'class(isTopTermOf)', obj,
         |         'missing type Entity'
         |  FROM tmine WHERE pred = 'isTopTermOf' AND obj NOT IN (
         |    SELECT subj FROM store WHERE pred = 'type' AND obj = 'Entity')
         |  UNION ALL
         |  SELECT DISTINCT focus, 'TopTermShape', 'closed', pred,
         |         'pred not in {isTopTermOf}'
         |  FROM tmine WHERE pred <> 'isTopTermOf')
         |ORDER BY shape, "constraint", focus, value, detail""".stripMargin,

    // reached = {spark} ∪ spark's objects; description = triples whose
    // subject is reached
    "q_kg_describe" ->
      s"""${Queries.base},
         |${Queries.rankedSql},
         |store AS (
         |  SELECT entity AS subj, 'coOccursWith' AS pred, term AS obj
         |  FROM ranked WHERE rnk <= 20
         |  UNION ALL
         |  SELECT term, 'isTopTermOf', entity FROM ranked WHERE rnk <= 1),
         |r1 AS (SELECT 'spark' AS node
         |       UNION SELECT obj FROM store WHERE subj = 'spark')
         |SELECT DISTINCT subj, pred, obj FROM store
         |WHERE subj IN (SELECT node FROM r1)
         |ORDER BY subj, pred, obj""".stripMargin,

    // rule-by-rule twin: symmetric flip, inverse, and the TRUE transitive
    // fixpoint via a recursive CTE — a hop-truncated Spark closure cannot
    // hash-match this
    "q_kg_owl" ->
      s"""${Queries.base.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$edgesCte,
         |${Queries.rankedSql},
         |e1 AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
         |clo AS (
         |  SELECT src, dst FROM e1
         |  UNION
         |  SELECT c.src, e.dst FROM clo c JOIN e1 e ON c.dst = e.src)
         |SELECT DISTINCT subj, pred, obj FROM (
         |  SELECT entity AS subj, 'coOccursWith' AS pred, term AS obj
         |  FROM ranked WHERE rnk <= 20
         |  UNION ALL SELECT term, 'coOccursWith', entity FROM ranked WHERE rnk <= 20
         |  UNION ALL SELECT term, 'isTopTermOf', entity FROM ranked WHERE rnk <= 1
         |  UNION ALL SELECT entity, 'hasTopTerm', term FROM ranked WHERE rnk <= 1
         |  UNION ALL SELECT src, 'followedBy', dst FROM clo)
         |ORDER BY subj, pred, obj""".stripMargin,

    // same content-addressing replayed: md5 over the chr(1)-joined terms
    "q_kg_reify" ->
      s"""${Queries.base},
         |${Queries.rankedSql},
         |stmts AS (
         |  SELECT DISTINCT term AS s, 'isTopTermOf' AS p, entity AS o,
         |         'stmt:' || md5(term || chr(1) || 'isTopTermOf' || chr(1) || entity) AS stmt
         |  FROM ranked WHERE rnk <= 1)
         |SELECT subj, pred, obj FROM (
         |  SELECT stmt AS subj, 'type' AS pred, 'Statement' AS obj FROM stmts
         |  UNION ALL SELECT stmt, 'subject', s FROM stmts
         |  UNION ALL SELECT stmt, 'predicate', p FROM stmts
         |  UNION ALL SELECT stmt, 'object', o FROM stmts)
         |ORDER BY subj, pred, obj""".stripMargin,

    "q_kg_void" ->
      s"""${Queries.base},
         |${Queries.rankedSql},
         |store AS (
         |  SELECT entity AS subj, 'coOccursWith' AS pred, term AS obj
         |  FROM ranked WHERE rnk <= 20
         |  UNION ALL
         |  SELECT term, 'isTopTermOf', entity FROM ranked WHERE rnk <= 1
         |  UNION ALL
         |  SELECT DISTINCT entity, 'type', 'Entity' FROM ranked WHERE rnk <= 20)
         |SELECT pred, CAST(count(*) AS BIGINT) AS n_triples,
         |       CAST(count(DISTINCT subj) AS BIGINT) AS n_subjects,
         |       CAST(count(DISTINCT obj) AS BIGINT) AS n_objects
         |FROM store GROUP BY pred
         |UNION ALL
         |SELECT '*', CAST(count(*) AS BIGINT), CAST(count(DISTINCT subj) AS BIGINT),
         |       CAST(count(DISTINCT obj) AS BIGINT)
         |FROM store
         |ORDER BY pred""".stripMargin,

    // positive-EXISTS twin via semi-join SQL (complement of q_kg_bgp_notexists)
    "q_kg_exists" ->
      s"""${Queries.base},
         |${Queries.rankedSql}
         |SELECT a.entity AS e, a.term AS t
         |FROM (SELECT entity, term FROM ranked WHERE rnk <= 20) a
         |WHERE EXISTS (
         |  SELECT 1 FROM (SELECT term FROM ranked WHERE rnk <= 1) b
         |  WHERE b.term = a.term)
         |ORDER BY e, t""".stripMargin,

    // BIND/FILTER twin: the same scalar expressions in DuckDB dialect
    "q_kg_bind" ->
      s"""${Queries.base},
         |${Queries.rankedSql}
         |SELECT entity AS e, term AS t,
         |       CAST(length(term) AS BIGINT) AS len,
         |       upper(substr(term, 1, 1)) || substr(term, 2) AS tcap
         |FROM ranked
         |WHERE rnk <= 20 AND length(term) >= 4 AND entity <> term
         |ORDER BY e, t""".stripMargin,

    // ORDER BY / OFFSET / LIMIT twin over the shared-context pair counts
    "q_kg_orderlimit" ->
      s"""${Queries.base},
         |${Queries.rankedSql},
         |top20 AS (SELECT entity, term FROM ranked WHERE rnk <= 20),
         |pairs AS (
         |  SELECT a.entity AS e1, b.entity AS e2, count(*) AS n_shared
         |  FROM top20 a JOIN top20 b ON a.term = b.term AND a.entity < b.entity
         |  GROUP BY 1, 2)
         |SELECT e1, e2, n_shared FROM pairs
         |ORDER BY n_shared DESC, e1, e2
         |LIMIT 10 OFFSET 3""".stripMargin,

    // numeric-aggregate twin; floor(avg*1e4) is the engine's standing e4
    // fixed-point discipline, SAMPLE pinned to min
    "q_kg_agg_num" ->
      s"""${Queries.base},
         |${Queries.rankedSql}
         |SELECT entity AS e,
         |       CAST(sum(length(term)) AS BIGINT) AS sum_len,
         |       CAST(floor(avg(length(term)) * 10000) AS BIGINT) AS avg_len_e4,
         |       min(term) AS sample_t, count(*) AS n
         |FROM ranked WHERE rnk <= 20
         |GROUP BY entity ORDER BY e""".stripMargin,

    // subquery twin: the nested grouped SELECT joined to the outer scan
    "q_kg_subquery" ->
      s"""${Queries.base},
         |${Queries.rankedSql},
         |top20 AS (SELECT entity, term FROM ranked WHERE rnk <= 20)
         |SELECT a.entity AS e, a.term AS t, sub.n_entities
         |FROM top20 a
         |JOIN (SELECT term, count(DISTINCT entity) AS n_entities
         |      FROM top20 GROUP BY term) sub
         |  ON sub.term = a.term
         |ORDER BY e, t""".stripMargin,

    // property-chain twin: the chain fires only on base predicates and the
    // symmetric rule only on the chain's output, so the fixpoint is two
    // plain strata in SQL — no recursion needed
    "q_kg_owl_chain" ->
      s"""${Queries.base},
         |${Queries.rankedSql},
         |cooc_st AS (SELECT entity AS subj, 'coOccursWith' AS pred, term AS obj
         |            FROM ranked WHERE rnk <= 20),
         |top_st AS (SELECT term AS subj, 'isTopTermOf' AS pred, entity AS obj
         |           FROM ranked WHERE rnk <= 1),
         |chain AS (
         |  SELECT c.subj, 'relatedEntity' AS pred, t.obj
         |  FROM cooc_st c JOIN top_st t ON t.subj = c.obj)
         |SELECT DISTINCT subj, pred, obj FROM (
         |  SELECT * FROM cooc_st
         |  UNION ALL SELECT * FROM top_st
         |  UNION ALL SELECT * FROM chain
         |  UNION ALL SELECT obj, pred, subj FROM chain)
         |ORDER BY subj, pred, obj""".stripMargin
  )
}
