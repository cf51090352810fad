package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TripleStore
import graft.operators.TripleStore.{C, V}

/** BGP matching semantics over a hand-built triple table: constant
  * filters, shared-variable joins, chains, repeated variables within one
  * pattern, disconnected cross products, and bag semantics. */
class TripleStoreSpec extends SparkTestBase {
  import spark.implicits._

  private val triples = Seq(
    ("alice", "knows", "bob"),
    ("bob", "knows", "carol"),
    ("carol", "knows", "alice"),
    ("alice", "likes", "scala"),
    ("bob", "likes", "scala"),
    ("carol", "likes", "sql"),
    ("loop", "knows", "loop")
  ).toDF("subj", "pred", "obj")

  test("single pattern: constants filter, variables bind") {
    val got = TripleStore.bgp(triples, Seq((V("who"), C("likes"), V("what"))))
      .as[(String, String)].collect().toSet
    assert(got == Set(("scala", "alice"), ("scala", "bob"), ("sql", "carol")))
    // columns are alphabetical by variable name: what, who
    assert(TripleStore.bgp(triples, Seq((V("who"), C("likes"), V("what"))))
      .columns.toSeq == Seq("what", "who"))
  }

  test("chain pattern: friend-of-friend via the shared middle variable") {
    val got = TripleStore.bgp(triples, Seq(
        (V("a"), C("knows"), V("b")),
        (V("b"), C("knows"), V("c"))))
      .as[(String, String, String)].collect().toSet
    // columns a, b, c alphabetically
    assert(got.contains(("alice", "bob", "carol")), s"$got")
    assert(got.contains(("bob", "carol", "alice")), s"$got")
    assert(got.contains(("loop", "loop", "loop")), s"$got")
    assert(got.size == 4, s"3-cycle + self-loop: $got") // carol->alice->bob too
  }

  test("shared object variable: who likes the same thing") {
    val got = TripleStore.bgp(triples, Seq(
        (V("x"), C("likes"), V("t")),
        (V("y"), C("likes"), V("t"))))
      .filter(col("x") < col("y"))
      .as[(String, String, String)].collect().toSet
    assert(got == Set(("scala", "alice", "bob")), s"$got")
  }

  test("repeated variable within a pattern matches only self-loops") {
    val got = TripleStore.bgp(triples, Seq((V("x"), C("knows"), V("x"))))
      .as[String].collect().toSeq
    assert(got == Seq("loop"))
  }

  test("variable predicate binds; disconnected patterns cross-join") {
    val preds = TripleStore.bgp(triples, Seq((C("alice"), V("p"), V("o"))))
      .as[(String, String)].collect().toSet
    assert(preds == Set(("bob", "knows"), ("scala", "likes")))
    val cross = TripleStore.bgp(triples, Seq(
        (C("alice"), C("likes"), V("a")),
        (C("carol"), C("likes"), V("b"))))
      .as[(String, String)].collect().toSet
    assert(cross == Set(("scala", "sql")))
  }

  test("bag semantics: duplicate triples yield duplicate bindings") {
    val dup = triples.unionAll(Seq(("alice", "likes", "scala")).toDF("subj", "pred", "obj"))
    val got = TripleStore.bgp(dup, Seq((C("alice"), C("likes"), V("w"))))
      .as[String].collect().toSeq
    assert(got.sorted == Seq("scala", "scala"))
  }

  test("OPTIONAL: matched groups bind, unmatched leave NULL, required rows never drop") {
    // who does x know — and, optionally, what does the known person like?
    val got = TripleStore.bgpOptional(triples,
        required = Seq((V("x"), C("knows"), V("y"))),
        optional = Seq(Seq((V("y"), C("likes"), V("w")))))
      .as[(Option[String], String, String)].collect().toSet // cols w, x, y
    assert(got == Set(
      (Some("scala"), "alice", "bob"),   // bob likes scala
      (Some("sql"), "bob", "carol"),     // carol likes sql
      (Some("scala"), "carol", "alice"), // alice likes scala
      (None, "loop", "loop")             // loop likes nothing -> NULL, row kept
    ), s"$got")
  }

  test("OPTIONAL: groups apply sequentially, each over accumulated bindings") {
    // second optional hangs off the FIRST optional's variable w
    val ext = triples.unionAll(Seq(("scala", "runsOn", "jvm")).toDF("subj", "pred", "obj"))
    val got = TripleStore.bgpOptional(ext,
        required = Seq((V("x"), C("knows"), V("y"))),
        optional = Seq(
          Seq((V("y"), C("likes"), V("w"))),
          Seq((V("w"), C("runsOn"), V("vm")))))
      .as[(Option[String], Option[String], String, String)].collect().toSet // vm, w, x, y
    assert(got == Set(
      (Some("jvm"), Some("scala"), "alice", "bob"),
      (None, Some("sql"), "bob", "carol"),
      (Some("jvm"), Some("scala"), "carol", "alice"),
      (None, None, "loop", "loop")
    ), s"$got")
    // a group disconnected from every binding so far is rejected
    intercept[IllegalArgumentException] {
      TripleStore.bgpOptional(triples,
        required = Seq((V("x"), C("knows"), V("y"))),
        optional = Seq(Seq((V("a"), C("likes"), V("b")))))
    }
  }

  test("diff: added/removed only, common triples absent, duplicates collapse") {
    val v2 = Seq(
      ("alice", "knows", "bob"),    // kept
      ("alice", "knows", "bob"),    // duplicate of a kept triple
      ("bob", "knows", "carol"),    // kept
      ("carol", "knows", "alice"),  // kept
      ("alice", "likes", "scala"),  // kept
      ("bob", "likes", "rust"),     // CHANGED from scala
      ("dave", "knows", "alice")    // new node
    ).toDF("subj", "pred", "obj")
    val got = TripleStore.diff(triples, v2)
      .as[(String, String, String, String)].collect().toSet
    assert(got == Set(
      ("bob", "likes", "rust", "added"),
      ("dave", "knows", "alice", "added"),
      ("bob", "likes", "scala", "removed"),
      ("carol", "likes", "sql", "removed"),
      ("loop", "knows", "loop", "removed")
    ), s"$got")
    // identical versions (even with duplicate rows) diff to empty
    assert(TripleStore.diff(v2, v2.unionAll(v2)).isEmpty)
  }

  test("pathPlus == brute-force bounded closure with min-hops; drains early; cycles self-reach") {
    // brute force: BFS per node over the pred-filtered edge list
    def ref(edges: Seq[(String, String)], maxHops: Int): Map[(String, String), Long] = {
      val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      edges.map(_._1).distinct.flatMap { s =>
        var dist = Map.empty[String, Long]
        var frontier = Set(s)
        for (h <- 1L to maxHops) {
          frontier = frontier.flatMap(n => adj.getOrElse(n, Nil))
            .filterNot(dist.contains)
          frontier.foreach(n => dist += n -> h)
        }
        dist.map { case (o, h) => (s, o) -> h }
      }.toMap
    }
    val knows = Seq("alice" -> "bob", "bob" -> "carol", "carol" -> "alice",
      "loop" -> "loop", "dave" -> "alice")
    val t = knows.map { case (a, b) => (a, "knows", b) }
      .toDF("subj", "pred", "obj")
      // a second predicate that must NOT leak into the path
      .unionAll(Seq(("alice", "likes", "scala")).toDF("subj", "pred", "obj"))
    for (k <- 1 to 4) {
      val got = TripleStore.pathPlus(t, "knows", maxHops = k)
        .as[(String, String, Long)].collect()
        .map { case (s, o, h) => (s, o) -> h }.toMap
      assert(got == ref(knows, k), s"maxHops=$k: $got")
    }
    // 3-cycle: every member reaches itself in exactly 3
    val full = TripleStore.pathPlus(t, "knows", maxHops = 9)
      .as[(String, String, Long)].collect()
      .map { case (s, o, h) => (s, o) -> h }.toMap
    assert(full(("alice", "alice")) == 3L && full(("loop", "loop")) == 1L)
    // early drain: hop 9 requested, closure saturates at 4 (dave->cycle)
    assert(full == ref(knows, 9))
  }

  test("construct: template instantiation, set semantics, constants and multi-template") {
    // derive symmetric coLikes edges + a type triple from the likes BGP
    val got = TripleStore.construct(triples,
        where = Seq((V("x"), C("likes"), V("t")), (V("y"), C("likes"), V("t"))),
        template = Seq(
          (V("x"), C("coLikes"), V("y")),
          (V("t"), C("a"), C("Topic"))))
      .as[(String, String, String)].collect().toSet
    assert(got == Set(
      // bindings include x==y (SPARQL has no implicit inequality) and both
      // directions; the graph dedups instantiations
      ("alice", "coLikes", "alice"), ("bob", "coLikes", "bob"),
      ("carol", "coLikes", "carol"),
      ("alice", "coLikes", "bob"), ("bob", "coLikes", "alice"),
      ("scala", "a", "Topic"), ("sql", "a", "Topic")
    ), s"$got")
    // constructed graphs feed straight back into bgp
    val roundTrip = TripleStore.bgp(
        TripleStore.construct(triples,
          where = Seq((V("x"), C("likes"), V("t"))),
          template = Seq((V("t"), C("likedBy"), V("x")))),
        Seq((C("scala"), C("likedBy"), V("who"))))
      .as[String].collect().toSet
    assert(roundTrip == Set("alice", "bob"))
    // an unbound template variable is a query bug, loudly
    intercept[IllegalArgumentException] {
      TripleStore.construct(triples,
        where = Seq((V("x"), C("likes"), V("t"))),
        template = Seq((V("x"), C("p"), V("nope"))))
    }
  }

  test("reorder: every caller permutation gives the same bindings, and a disconnected-start order is rescued from the cross join") {
    val patterns = Seq(
      (V("a"), C("knows"), V("b")),
      (V("b"), C("knows"), V("c")),
      (V("c"), C("likes"), V("t")),
      (C("alice"), C("likes"), V("t")))
    val expect = TripleStore.bgp(triples, patterns)
      .as[(String, String, String, String)].collect().toSet
    assert(expect.nonEmpty)
    for (perm <- patterns.permutations.toSeq) {
      val got = TripleStore.bgp(triples, perm, reorder = true)
        .as[(String, String, String, String)].collect().toSet
      assert(got == expect, s"order changed semantics for $perm")
    }
    // caller order starting from two disconnected patterns plans a cross
    // join; reorder=true must not (greedy keeps the chain connected)
    val bad = Seq(patterns(3), patterns(0), patterns(1), patterns(2))
    def hasCross(df: org.apache.spark.sql.DataFrame) = {
      val p = df.queryExecution.executedPlan.toString
      p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")
    }
    assert(hasCross(TripleStore.bgp(triples, bad)),
      "fixture no longer exercises the cross join — pick a worse caller order")
    assert(!hasCross(TripleStore.bgp(triples, bad, reorder = true)),
      "reorder failed to keep the pattern chain connected")
    // the greedy order starts at the most-constant pattern
    assert(TripleStore.orderPatterns(bad).head == patterns(3))
  }

  test("NOT EXISTS: complement of OPTIONAL's matched arm; disconnected group rejected") {
    // who does x know such that the known person likes NOTHING
    val got = TripleStore.bgpNotExists(triples,
        required = Seq((V("x"), C("knows"), V("y"))),
        negated = Seq(Seq((V("y"), C("likes"), V("w")))))
      .as[(String, String)].collect().toSet
    assert(got == Set(("loop", "loop")), s"$got")
    // exact complement: NOT EXISTS rows == OPTIONAL rows whose arm is NULL
    val optNull = TripleStore.bgpOptional(triples,
        required = Seq((V("x"), C("knows"), V("y"))),
        optional = Seq(Seq((V("y"), C("likes"), V("w")))))
      .filter(col("w").isNull).select("x", "y")
      .as[(String, String)].collect().toSet
    assert(got == optNull)
    intercept[IllegalArgumentException] {
      TripleStore.bgpNotExists(triples,
        required = Seq((V("x"), C("knows"), V("y"))),
        negated = Seq(Seq((V("a"), C("likes"), V("b")))))
    }
  }

  test("MINUS: shared vars == NOT EXISTS; variable-disjoint group is a spec no-op") {
    // shared-variable arm: identical to the NOT EXISTS result
    val viaMinus = TripleStore.minus(triples,
        first = Seq((V("x"), C("knows"), V("y"))),
        groups = Seq(Seq((V("y"), C("likes"), V("w")))))
      .as[(String, String)].collect().toSet
    assert(viaMinus == Set(("loop", "loop")), s"$viaMinus")
    // variable-disjoint group with MATCHES (likes has 3): SPARQL 1.1 §8.3
    // says dom-disjoint bindings remove nothing — first arm unchanged.
    // (bgpNotExists rejects this shape outright; MINUS must honor it.)
    val first = TripleStore.bgp(triples, Seq((V("x"), C("knows"), V("y"))))
      .as[(String, String)].collect().toSet
    val disjoint = TripleStore.minus(triples,
        first = Seq((V("x"), C("knows"), V("y"))),
        groups = Seq(Seq((V("a"), C("likes"), V("b")))))
      .as[(String, String)].collect().toSet
    assert(disjoint == first, s"disjoint-domain MINUS must be a no-op: $disjoint")
    // groups apply sequentially: disjoint no-op then shared filter
    val both = TripleStore.minus(triples,
        first = Seq((V("x"), C("knows"), V("y"))),
        groups = Seq(
          Seq((V("a"), C("likes"), V("b"))),
          Seq((V("y"), C("likes"), V("w")))))
      .as[(String, String)].collect().toSet
    assert(both == viaMinus)
  }

  test("bgpAgg: GROUP BY + COUNT/MIN/GROUP_CONCAT + HAVING; concat order pinned under repartition") {
    val got = TripleStore.bgpAgg(triples,
        where = Seq((V("e"), C("likes"), V("t"))),
        groupVars = Seq("t"),
        aggs = Seq(TripleStore.CountAll("n"), TripleStore.MinOf("e", "first_e"),
          TripleStore.GroupConcat("e", "|", "es")),
        having = Some(col("n") >= 2))
      .as[(String, Long, String, String)].collect().toSet
    assert(got == Set(("scala", 2L, "alice", "alice|bob")), s"$got")
    // HAVING off: sql's singleton group present; concat deterministic
    // under repartition (array_sort pins the order SPARQL leaves undefined)
    val all = TripleStore.bgpAgg(triples.repartition(7),
        where = Seq((V("e"), C("likes"), V("t"))),
        groupVars = Seq("t"),
        aggs = Seq(TripleStore.CountAll("n"), TripleStore.GroupConcat("e", "|", "es")))
      .as[(String, Long, String)].collect().toSet
    assert(all == Set(("scala", 2L, "alice|bob"), ("sql", 1L, "carol")), s"$all")
    // CountDistinctOf and MaxOf over a bag with duplicate bindings
    val dup = triples.unionAll(triples) // every binding twice
    val agg = TripleStore.bgpAgg(dup,
        where = Seq((V("e"), C("likes"), V("t"))),
        groupVars = Seq("t"),
        aggs = Seq(TripleStore.CountAll("n"),
          TripleStore.CountDistinctOf("e", "n_e"), TripleStore.MaxOf("e", "last_e")))
      .as[(String, Long, Long, String)].collect().toSet
    assert(agg == Set(("scala", 4L, 2L, "bob"), ("sql", 2L, 1L, "carol")), s"$agg")
  }

  test("updateWhere: pre-state binding, delete-only, insert-only, constants in templates") {
    // rewrite: whoever knows a scala-liker now 'mentored' them
    val got = TripleStore.updateWhere(triples,
        where = Seq((V("x"), C("knows"), V("y")), (V("y"), C("likes"), C("scala"))),
        delete = Seq((V("x"), C("knows"), V("y"))),
        insert = Seq((V("x"), C("mentored"), V("y"))))
      .as[(String, String, String)].collect().toSet
    val pre = triples.as[(String, String, String)].collect().toSet
    val expect = pre -- Set(("carol", "knows", "alice")) ++ // alice likes scala; bob too but alice->bob also matches
      Set(("alice", "mentored", "bob"), ("carol", "mentored", "alice")) --
      Set(("alice", "knows", "bob"))
    assert(got == expect, s"$got")
    // pre-state semantics: an inserted triple does NOT feed its own WHERE —
    // inserting (x knows x) for every knower while deleting nothing keeps
    // the original edges and adds exactly the knower self-loops
    val ins = TripleStore.updateWhere(triples,
        where = Seq((V("x"), C("knows"), V("y"))),
        delete = Nil,
        insert = Seq((V("x"), C("knows"), V("x"))))
      .as[(String, String, String)].collect().toSet
    assert(ins == pre ++ Set(("alice", "knows", "alice"), ("bob", "knows", "bob"),
      ("carol", "knows", "carol")), s"$ins")
    // DELETE WHERE form: drop every likes edge; set semantics on the rest
    val del = TripleStore.updateWhere(triples.unionAll(triples),
        where = Seq((V("x"), C("likes"), V("w"))),
        delete = Seq((V("x"), C("likes"), V("w"))),
        insert = Nil)
      .as[(String, String, String)].collect().toSet
    assert(del == pre.filter(_._2 != "likes"), s"$del")
    intercept[IllegalArgumentException] {
      TripleStore.updateWhere(triples, Seq((V("x"), C("knows"), V("y"))), Nil, Nil)
    }
  }

  test("no-variable pattern is rejected; empty patterns are rejected") {
    intercept[IllegalArgumentException] {
      TripleStore.bgp(triples, Seq((C("alice"), C("likes"), C("scala"))))
    }
    intercept[IllegalArgumentException] { TripleStore.bgp(triples, Nil) }
  }

  test("UNION: bag union over the variable superset, unbound arms NULL") {
    val got = TripleStore.bgpUnion(triples, Seq(
        Seq((V("who"), C("likes"), V("what"))),
        Seq((V("who"), C("knows"), V("other")))))
      .as[(String, String, String)].collect().toSet
    // columns alphabetical: other, what, who
    assert(got.contains((null, "scala", "alice")))
    assert(got.contains(("bob", null, "alice")))
    assert(got.contains(("loop", null, "loop")))
    assert(got.size == 7, s"3 likes + 4 knows: $got")
    // bag semantics across arms: the SAME group twice doubles its rows
    val doubled = TripleStore.bgpUnion(triples, Seq(
      Seq((V("w"), C("likes"), C("scala"))),
      Seq((V("w"), C("likes"), C("scala")))))
    assert(doubled.count() == 4)
  }

  test("VALUES: inline rows constrain, UNDEF is a wildcard, bag semantics") {
    val base = Seq((V("who"), C("likes"), V("what")))
    // constants only
    val got = TripleStore.bgpValues(triples, base,
        vars = Seq("who"), rows = Seq(Seq(Some("alice")), Seq(Some("carol"))))
      .as[(String, String)].collect().toSet
    assert(got == Set(("scala", "alice"), ("sql", "carol")), s"$got")
    // UNDEF in one column: (UNDEF, scala) matches every scala-liker
    val undef = TripleStore.bgpValues(triples, base,
        vars = Seq("who", "what"),
        rows = Seq(Seq(None, Some("scala")), Seq(Some("carol"), None)))
      .as[(String, String)].collect().toSet
    assert(undef == Set(("scala", "alice"), ("scala", "bob"), ("sql", "carol")), s"$undef")
    // bag semantics: two rows compatible with the same binding duplicate it
    val dup = TripleStore.bgpValues(triples, base,
      vars = Seq("who"), rows = Seq(Seq(Some("alice")), Seq(None)))
    assert(dup.count() == 4, "alice row matches twice (explicit + UNDEF)")
    // a VALUES variable the patterns never bind is rejected
    intercept[IllegalArgumentException] {
      TripleStore.bgpValues(triples, base, Seq("nope"), Seq(Seq(Some("x"))))
    }
  }

  test("ASK: one row, 1 when a binding exists, 0 when none does") {
    val yes = TripleStore.ask(triples, Seq((V("x"), C("likes"), C("scala"))))
      .as[Long].collect().toSeq
    assert(yes == Seq(1L))
    val no = TripleStore.ask(triples, Seq((C("loop"), C("likes"), V("w"))))
      .as[Long].collect().toSeq
    assert(no == Seq(0L))
  }

  test("quads: graph constants pin, graph variables range and join") {
    val quads = Seq(
      ("g1", "alice", "likes", "scala"),
      ("g1", "bob", "likes", "scala"),
      ("g2", "alice", "likes", "scala"),
      ("g2", "carol", "likes", "sql")
    ).toDF("graph", "subj", "pred", "obj")
    // constant graph prunes to that graph
    val inG2 = TripleStore.bgpQuads(quads, Seq((C("g2"), V("w"), C("likes"), V("t"))))
      .as[(String, String)].collect().toSet
    assert(inG2 == Set(("scala", "alice"), ("sql", "carol")), s"$inG2")
    // cross-graph join: who likes the same thing in BOTH graphs
    val both = TripleStore.bgpQuads(quads, Seq(
        (C("g1"), V("w"), C("likes"), V("t")),
        (C("g2"), V("w"), C("likes"), V("t"))))
      .as[(String, String)].collect().toSet
    assert(both == Set(("scala", "alice")), s"$both")
    // graph variable binds and appears in the output
    val g = TripleStore.bgpQuads(quads, Seq((V("g"), C("carol"), C("likes"), V("t"))))
      .as[(String, String)].collect().toSet
    assert(g == Set(("g2", "sql")), s"$g")
  }

  test("path algebra: Pred/Inv/Chain/Alt against brute-force expectations") {
    import TripleStore._
    def pairs(e: PathExpr) =
      path(triples, e).as[(String, String)].collect().toSet
    assert(pairs(Pred("likes")) ==
      Set(("alice", "scala"), ("bob", "scala"), ("carol", "sql")))
    assert(pairs(Inv(Pred("likes"))) ==
      Set(("scala", "alice"), ("scala", "bob"), ("sql", "carol")))
    // knows/likes: what do the people x knows like (loop knows only
    // itself and likes nothing — no row)
    assert(pairs(Chain(Pred("knows"), Pred("likes"))) ==
      Set(("alice", "scala"), ("bob", "sql"), ("carol", "scala")))
    assert(pairs(Alt(Pred("likes"), Pred("knows"))) ==
      pairs(Pred("likes")) ++ pairs(Pred("knows")))
    // Alt is a SET union: overlapping alternatives don't duplicate
    assert(path(triples, Alt(Pred("likes"), Pred("likes"))).count() == 3)
  }

  test("path algebra: Plus/Star/ZeroOrOne — closure, zero-length graph nodes") {
    import TripleStore._
    def pairs(e: PathExpr) =
      path(triples, e).as[(String, String)].collect().toSet
    // knows+ on the 3-cycle closes completely (plus the self-loop node)
    val plus = pairs(Plus(Pred("knows"), maxHops = 5))
    val cyc = Set("alice", "bob", "carol")
    for (a <- cyc; b <- cyc) assert(plus.contains((a, b)), s"($a,$b) in $plus")
    assert(plus.contains(("loop", "loop")))
    assert(plus.size == 10)
    // hop bound truncates: 1 hop = the raw edges
    assert(pairs(Plus(Pred("knows"), maxHops = 1)) == pairs(Pred("knows")))
    // Star adds (n, n) for EVERY graph node — subjects and objects alike
    val star = pairs(Star(Pred("knows"), maxHops = 5))
    val allNodes = Set("alice", "bob", "carol", "loop", "scala", "sql")
    assert(star == plus ++ allNodes.map(n => (n, n)), s"$star")
    // ZeroOrOne = edges ∪ zero-length
    assert(pairs(ZeroOrOne(Pred("likes"))) ==
      pairs(Pred("likes")) ++ allNodes.map(n => (n, n)))
    // pathPlus over the algebra leaf agrees with the dedicated operator
    val viaAlgebra = pairs(Plus(Pred("knows"), maxHops = 3))
    val viaPathPlus = TripleStore.pathPlus(triples, "knows", maxHops = 3)
      .select("subj", "obj").as[(String, String)].collect().toSet
    assert(viaAlgebra == viaPathPlus)
  }

  test("describe: hop-bounded forward neighborhood subgraph; drains early") {
    def d(node: String, hops: Int) =
      TripleStore.describe(triples, Seq(node).toDF("node"), hops)
        .as[(String, String, String)].collect().toSet
    assert(d("alice", 0) == Set(
      ("alice", "knows", "bob"), ("alice", "likes", "scala")))
    assert(d("alice", 1) == Set(
      ("alice", "knows", "bob"), ("alice", "likes", "scala"),
      ("bob", "knows", "carol"), ("bob", "likes", "scala")))
    // hops=10 drains once the 3-cycle closes — whole knows/likes subgraph
    assert(d("alice", 10) == Set(
      ("alice", "knows", "bob"), ("alice", "likes", "scala"),
      ("bob", "knows", "carol"), ("bob", "likes", "scala"),
      ("carol", "knows", "alice"), ("carol", "likes", "sql")))
    // a leaf node with no outgoing triples describes to nothing
    assert(d("scala", 3).isEmpty)
  }

  test("voidStats: per-predicate counts plus the * summary row") {
    val got = TripleStore.voidStats(triples)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("knows", 4L, 4L, 4L),
      ("likes", 3L, 3L, 2L),
      ("*", 7L, 4L, 6L)), s"$got")
  }

  test("stats-aware reorder: rare predicate leads, connectivity preserved, bindings unchanged") {
    // skewed store: 'common' is 200 rows, 'rare' is 2
    val skewed = ((0 until 200).map(i => (s"s${i % 20}", "common", s"o$i"))
      ++ Seq(("s1", "rare", "k1"), ("s2", "rare", "k2"))).toDF("subj", "pred", "obj")
    val void = TripleStore.voidStats(skewed)
    // caller order starts with the expensive pattern
    val bad = Seq(
      (V("x"), C("common"), V("y")),
      (V("x"), C("rare"), V("k")))
    val ordered = TripleStore.orderPatternsByStats(bad, void)
    assert(ordered.head == (V("x"), C("rare"), V("k")), s"$ordered")
    // a disconnected cheap pattern must NOT jump between connected ones
    val threePat = Seq(
      (V("a"), C("common"), V("b")),
      (V("z"), C("rare"), V("w")),      // disconnected from a/b
      (V("b"), C("common"), V("c")))
    val ord3 = TripleStore.orderPatternsByStats(threePat, void)
    // rare starts (cheapest); then the two common patterns cannot both be
    // connected to {z,w} — the order must still chain a-b before b-c or
    // keep the component together once entered
    assert(ord3.head == (V("z"), C("rare"), V("w")))
    // semantics unchanged: same bindings as the caller order
    val viaOrdered = TripleStore.bgp(skewed, ordered)
      .as[(String, String, String)].collect().toSet
    val viaBad = TripleStore.bgp(skewed, bad)
      .as[(String, String, String)].collect().toSet
    assert(viaOrdered == viaBad)
    // constant subj/obj divide the estimate: (C, common, V) must rank
    // cheaper than (V, common, V)
    val withConst = Seq(
      (V("x"), C("common"), V("y")),
      (C("s1"), C("common"), V("y2")))
    assert(TripleStore.orderPatternsByStats(withConst, void).head ==
      (C("s1"), C("common"), V("y2")))
    // unknown predicate falls back to the * row (no crash)
    val unk = TripleStore.orderPatternsByStats(
      Seq((V("x"), C("nope"), V("y")), (V("x"), C("rare"), V("k"))), void)
    assert(unk.head == (V("x"), C("rare"), V("k")))
  }

  test("negated property set: !(p...) edges, composing with the algebra") {
    import TripleStore._
    def pairs(e: PathExpr) =
      path(triples, e).as[(String, String)].collect().toSet
    assert(pairs(Nps(Seq("likes"))) == pairs(Pred("knows")))
    assert(pairs(Nps(Seq("likes", "knows"))).isEmpty)
    // composes: anything reachable by one non-likes edge then a likes edge
    assert(pairs(Chain(Nps(Seq("likes")), Pred("likes"))) ==
      pairs(Chain(Pred("knows"), Pred("likes"))))
    intercept[IllegalArgumentException] { path(triples, Nps(Nil)) }
  }

  test("reify: four quads per DISTINCT triple, content-addressed ids stable under dup/partitioning") {
    val dup = triples.unionAll(Seq(("alice", "likes", "scala")).toDF("subj", "pred", "obj"))
    val r = TripleStore.reify(dup)
    assert(r.count() == 7 * 4) // set semantics: 7 distinct triples
    val byStmt = r.as[(String, String, String)].collect().groupBy(_._1)
    assert(byStmt.size == 7)
    byStmt.values.foreach { quads =>
      assert(quads.map(_._2).sorted.toSeq == Seq("object", "predicate", "subject", "type"))
    }
    // content-addressing: same triple -> same id regardless of partitioning
    val again = TripleStore.reify(triples.repartition(7))
      .filter(col("pred") === "type").select("subj")
      .as[String].collect().toSet
    val first = r.filter(col("pred") === "type").select("subj")
      .as[String].collect().toSet
    assert(again == first)
    // round-trip: the statement node's subject/predicate/object triples
    // rebuild the original graph
    val rebuilt = TripleStore.bgp(r, Seq(
        (V("s"), C("subject"), V("subj")),
        (V("s"), C("predicate"), V("pred")),
        (V("s"), C("object"), V("obj"))))
      .select("subj", "pred", "obj")
      .as[(String, String, String)].collect().toSet
    assert(rebuilt == triples.as[(String, String, String)].collect().toSet)
  }

  /** The join-based RDFS closure `TripleStore.rdfsClosure` replaced: the
    * hierarchies closed on the driver, then rdfs7, rdfs2/3 and rdfs9 as
    * broadcast joins of the instance side with the closed schema, and one
    * distinct. Kept as the reference the per-triple pass must equal. */
  private def rdfsReference(instance: DataFrame, schema: DataFrame, maxDepth: Int): DataFrame = {
    // OWL RL cax-eqc1/2 + prp-eqp1/2: equivalence IS bidirectional
    // subsumption — expand each equivalence axiom into both sub-axiom
    // directions BEFORE closing the hierarchies, so equivalent classes/
    // properties form a 2-cycle of the sub* graph and entail both ways
    // (boundedClosure's semi-naive anti-join terminates on cycles; the
    // resulting self-subsumptions are absorbed by the final distinct).
    def eqAsSub(eqPred: String, subPred: String): DataFrame = {
      val eq = schema.filter(col("pred") === eqPred)
      eq.select(col("subj"), lit(subPred).as("pred"), col("obj"))
        .unionAll(eq.select(col("obj").as("subj"),
          lit(subPred).as("pred"), col("subj").as("obj")))
    }
    val schemaX = schema
      .unionAll(eqAsSub("equivalentClass", "subClassOf"))
      .unionAll(eqAsSub("equivalentProperty", "subPropertyOf"))
    // The hierarchy closures run ON THE DRIVER (r6 optimization): the schema
    // is ontology-sized BY CONTRACT (a KB, not a corpus) and the closed
    // hierarchies were ALREADY collected to the driver implicitly — every
    // consumer below broadcasts them — so closing locally is strictly no
    // more driver memory than before, and it replaces two distributed
    // semi-naive loops (2 pins + 1 emptiness probe per hop, per hierarchy)
    // with zero Spark jobs (the guard is loud, not silent truncation).
    // Semantics are IDENTICAL to boundedClosure: all (a, b) pairs connected
    // by 1..maxDepth hops, BFS first-discovery, cycles allowed (equivalence
    // 2-cycles yield the same self-subsumptions the final distinct absorbs).
    def closureOf(pred: String): DataFrame = {
      val rows = schemaX.filter(col("pred") === pred)
        .select(col("subj"), col("obj")).distinct().collect()
      require(rows.length <= 4000000,
        s"schema hierarchy '$pred' has ${rows.length} edges — not ontology-sized; " +
          "rdfsClosure's broadcast contract does not hold for corpus-scale schemas")
      val adj = rows.iterator.map(r => (r.getString(0), r.getString(1))).toArray
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      val out = Seq.newBuilder[(String, String)]
      adj.keysIterator.foreach { start =>
        val seen = scala.collection.mutable.Set.empty[String]
        var frontier = adj(start)
        frontier.foreach { n => out += ((start, n)); seen += n }
        var d = 1
        while (d < maxDepth && frontier.nonEmpty) {
          val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) -- seen
          next.foreach { n => out += ((start, n)); seen += n }
          frontier = next
          d += 1
        }
      }
      out.result().toDF("subj", "obj")
    }
    val subProp = closureOf("subPropertyOf")
    val subClass = closureOf("subClassOf")

    // rdfs7 over the CLOSED property hierarchy
    val inherited = instance.join(
        broadcast(subProp.select(col("subj").as("pred"), col("obj").as("sup"))),
        Seq("pred"))
      .select(col("subj"), col("sup").as("pred"), col("obj"))
    val ext = instance.unionAll(inherited)

    // rdfs2/rdfs3 over the extended edge set
    val dom = schema.filter(col("pred") === "domain")
      .select(col("subj").as("pred"), col("obj").as("cls"))
    val ran = schema.filter(col("pred") === "range")
      .select(col("subj").as("pred"), col("obj").as("cls"))
    val typedDom = ext.join(broadcast(dom), Seq("pred"))
      .select(col("subj"), lit("type").as("pred"), col("cls").as("obj"))
    val typedRan = ext.join(broadcast(ran), Seq("pred"))
      .select(col("obj").as("subj"), lit("type").as("pred"), col("cls").as("obj"))

    // rdfs9 over the CLOSED class hierarchy, fed by asserted + derived types
    val allTypes = ext.filter(col("pred") === "type")
      .unionAll(typedDom).unionAll(typedRan)
    val upTypes = allTypes.join(
        broadcast(subClass.select(col("subj").as("obj"), col("obj").as("sup"))),
        Seq("obj"))
      .select(col("subj"), col("pred"), col("sup").as("obj"))

    ext.unionAll(typedDom).unionAll(typedRan).unionAll(upTypes).distinct()
  }

  private def sameAsReference(instance: DataFrame, schema: DataFrame, maxDepth: Int): Unit = {
    def set(df: DataFrame) = df.as[(String, String, String)].collect().toSet
    val want = set(rdfsReference(instance, schema, maxDepth))
    val got = set(TripleStore.rdfsClosure(instance, schema, maxDepth))
    assert(got == want, s"extra=${got -- want}\nmissing=${want -- got}")
    assert(got.nonEmpty)
  }

  test("rdfs closure: the per-triple pass equals the join-based reference") {
    val tri = Seq(("p", "subPropertyOf", "q"), ("p", "domain", "D"), ("q", "range", "R"),
      ("D", "subClassOf", "E")).toDF("subj", "pred", "obj")
    val hier = Seq(
      ("isTopTermOf", "subPropertyOf", "relatedTo"),
      ("relatedTo", "subPropertyOf", "associatedWith"),
      ("isTopTermOf", "domain", "Term"),
      ("relatedTo", "range", "Entity"),
      ("Term", "subClassOf", "Token"),
      ("Token", "subClassOf", "Resource"),
      ("Entity", "subClassOf", "Resource")).toDF("subj", "pred", "obj")
    val equiv = Seq(("C1", "equivalentClass", "C2"), ("C2", "subClassOf", "D"),
      ("p", "equivalentProperty", "r"), ("r", "domain", "DD")).toDF("subj", "pred", "obj")
    // cycles in both hierarchies, a 5-deep class chain cut by maxDepth, a
    // property that is a sub-property of `type`, and range onto a cycle
    val cyclic = Seq(("A", "subClassOf", "B"), ("B", "subClassOf", "C"), ("C", "subClassOf", "A"),
      ("C", "subClassOf", "K1"), ("K1", "subClassOf", "K2"), ("K2", "subClassOf", "K3"),
      ("K3", "subClassOf", "K4"), ("K4", "subClassOf", "K5"),
      ("p", "subPropertyOf", "q"), ("q", "subPropertyOf", "p"), ("q", "subPropertyOf", "type"),
      ("p", "range", "A"), ("q", "domain", "K1")).toDF("subj", "pred", "obj")
    // null keys in the schema too: they match no instance triple
    val nulls = cyclic.unionAll(Seq[(String, String, String)](("A", "subClassOf", null),
      (null, "subClassOf", "Z"), (null, "domain", "Y"), ("p", null, "W"))
      .toDF("subj", "pred", "obj"))
    val instance = Seq(("a", "p", "b"), ("c", "q", "d"), ("e", "type", "A"), ("x", "type", "C1"),
      ("y", "type", "C2"), ("u", "p", "v"), ("w", "r", "z"), ("jvm", "isTopTermOf", "spark"),
      ("f", "type", "K2"), ("g", "other", "h"), ("a", "p", "b"))
      .toDF("subj", "pred", "obj")
    val withNulls = instance.unionAll(Seq[(String, String, String)]((null, "p", "n1"),
      ("n2", "q", null), ("n3", null, "n4"), ("n5", "type", null), (null, null, null))
      .toDF("subj", "pred", "obj"))
    for (schema <- Seq(tri, hier, equiv, cyclic, nulls); depth <- Seq(1, 3, 4))
      sameAsReference(withNulls, schema, depth)
    sameAsReference(instance.repartition(3), cyclic, 2)
  }

  test("rdfs closure is per-triple local: closure(I1 ∪ I2) == closure(I1) ∪ closure(I2)") {
    // for THIS stratified rule subset each instance triple's entailments
    // depend only on itself + the (closed) schema — so incremental
    // maintenance is exact: entail the delta alone and union
    val schema = Seq(
      ("p", "subPropertyOf", "q"),
      ("p", "domain", "D"),
      ("q", "range", "R"),
      ("D", "subClassOf", "E")
    ).toDF("subj", "pred", "obj")
    val i1 = Seq(("a", "p", "b"), ("c", "q", "d")).toDF("subj", "pred", "obj")
    val i2 = Seq(("e", "p", "f"), ("a", "p", "b")).toDF("subj", "pred", "obj") // overlap too
    val full = TripleStore.rdfsClosure(i1.unionAll(i2), schema, maxDepth = 3)
      .as[(String, String, String)].collect().toSet
    val merged = (TripleStore.rdfsClosure(i1, schema, maxDepth = 3)
        .as[(String, String, String)].collect().toSet
      ++ TripleStore.rdfsClosure(i2, schema, maxDepth = 3)
        .as[(String, String, String)].collect().toSet)
    assert(full == merged, s"full=$full merged=$merged")
  }

  test("rdfs closure: equivalentClass/equivalentProperty entail both ways and compose with sub* rules") {
    val schema = Seq(
      ("C1", "equivalentClass", "C2"),
      ("C2", "subClassOf", "D"),
      ("p", "equivalentProperty", "r"),
      ("r", "domain", "DD")
    ).toDF("subj", "pred", "obj")
    val instance = Seq(
      ("x", "type", "C1"),
      ("y", "type", "C2"),
      ("u", "p", "v"),
      ("w", "r", "z")
    ).toDF("subj", "pred", "obj")
    val got = TripleStore.rdfsClosure(instance, schema, maxDepth = 4)
      .as[(String, String, String)].collect().toSet
    // both equivalence directions + composition with subClassOf
    assert(got.contains(("x", "type", "C2")), s"$got")
    assert(got.contains(("x", "type", "D")), "eqClass must feed subClassOf")
    assert(got.contains(("y", "type", "C1")), "equivalence is symmetric")
    // property equivalence both ways; domain applies through it
    assert(got.contains(("u", "r", "v")), s"$got")
    assert(got.contains(("w", "p", "z")), "equivalentProperty is symmetric")
    assert(got.contains(("u", "type", "DD")), "domain through equivalent property")
    // nothing leaks beyond the expected closure
    val want = instance.as[(String, String, String)].collect().toSet ++ Set(
      ("x", "type", "C2"), ("x", "type", "D"), ("y", "type", "C1"),
      ("y", "type", "D"),
      ("u", "r", "v"), ("w", "p", "z"),
      ("u", "type", "DD"), ("w", "type", "DD"))
    assert(got == want, s"got=$got\nextra=${got -- want}\nmissing=${want -- got}")
  }

  test("canonicalize: alias chains collapse to the min representative; set semantics") {
    val sameAs = Seq(("bob", "bobby"), ("bobby", "robert")).toDF("a", "b")
    val store = Seq(
      ("bobby", "likes", "scala"),
      ("robert", "likes", "scala"),   // alias duplicate — must collapse
      ("alice", "knows", "robert"),
      ("carol", "likes", "sql")
    ).toDF("subj", "pred", "obj")
    val got = TripleStore.canonicalize(store, sameAs)
      .as[(String, String, String)].collect().toSet
    assert(got == Set(
      ("bob", "likes", "scala"),
      ("alice", "knows", "bob"),
      ("carol", "likes", "sql")), s"$got")
    // no aliases: the store passes through (distinct only)
    val noAlias = TripleStore.canonicalize(store,
      Seq.empty[(String, String)].toDF("a", "b"))
    assert(noAlias.count() == 4)
  }

  test("owl closure: inverse, symmetric, transitive to fixpoint; rule interaction; converge-or-throw") {
    val schema = Seq(
      ("childOf", "inverseOf", "parentOf"),
      ("marriedTo", "type", "SymmetricProperty"),
      ("ancestorOf", "type", "TransitiveProperty"),
      ("parentOf", "type", "TransitiveProperty") // interacts with the inverse rule
    ).toDF("subj", "pred", "obj")
    val instance = Seq(
      ("c", "childOf", "b"),
      ("b", "childOf", "a"),
      ("x", "marriedTo", "y"),
      ("a1", "ancestorOf", "a2"),
      ("a2", "ancestorOf", "a3"),
      ("a3", "ancestorOf", "a4")
    ).toDF("subj", "pred", "obj")
    val got = TripleStore.owlClosure(instance, schema, maxRounds = 8)
      .as[(String, String, String)].collect().toSet
    val want = Set(
      ("c", "childOf", "b"), ("b", "childOf", "a"),
      // inverse
      ("b", "parentOf", "c"), ("a", "parentOf", "b"),
      // transitivity of the INVERSE-derived edges (rule interaction)
      ("a", "parentOf", "c"),
      // ...and its inverse back again
      ("c", "childOf", "a"),
      // symmetric
      ("x", "marriedTo", "y"), ("y", "marriedTo", "x"),
      // transitive chain closes completely
      ("a1", "ancestorOf", "a2"), ("a2", "ancestorOf", "a3"),
      ("a3", "ancestorOf", "a4"), ("a1", "ancestorOf", "a3"),
      ("a2", "ancestorOf", "a4"), ("a1", "ancestorOf", "a4"))
    assert(got == want, s"got=$got\nmissing=${want -- got}\nextra=${got -- want}")
    // converge-or-throw: one round cannot close a 4-chain + interactions
    intercept[IllegalStateException] {
      TripleStore.owlClosure(instance, schema, maxRounds = 1)
    }
    // deterministic across partitionings: same fixpoint from any layout
    val repart = TripleStore.owlClosure(instance.repartition(7), schema, maxRounds = 8)
      .as[(String, String, String)].collect().toSet
    assert(repart == want)
    // no applicable rules: closure == input
    val plain = TripleStore.owlClosure(instance,
      Seq(("p", "inverseOf", "q")).toDF("subj", "pred", "obj"), maxRounds = 4)
    assert(plain.count() == 6)
  }

  test("inferSameAs: functional-property violations become alias pairs; clean data infers nothing") {
    val schema = Seq(("ssn", "type", "FunctionalProperty")).toDF("subj", "pred", "obj")
    val instance = Seq(
      ("p1", "ssn", "bob"),
      ("p1", "ssn", "robert"),   // violation: two objects, same key
      ("p1", "ssn", "bobby"),    // three-way
      ("p2", "ssn", "carol"),    // clean
      ("p3", "name", "bob"),     // non-functional pred ignored
      ("p3", "name", "bobby")
    ).toDF("subj", "pred", "obj")
    val got = TripleStore.inferSameAs(instance, schema)
      .as[(String, String)].collect().toSet
    assert(got == Set(("bob", "robert"), ("bob", "bobby"), ("bobby", "robert")), s"$got")
    // end-to-end: infer + canonicalize collapses the aliases in the store
    val canon = TripleStore.canonicalize(instance, TripleStore.inferSameAs(instance, schema))
      .filter(col("subj") === "p1").select("obj").as[String].collect().toSet
    assert(canon == Set("bob"))
  }

  test("rdfs closure: subProperty/subClass transitivity, domain/range typing, stratification") {
    val schema = Seq(
      ("isTopTermOf", "subPropertyOf", "relatedTo"),
      ("relatedTo", "subPropertyOf", "associatedWith"),
      ("isTopTermOf", "domain", "Term"),
      ("relatedTo", "range", "Entity"),      // triggers only via rdfs7 output
      ("Term", "subClassOf", "Token"),
      ("Token", "subClassOf", "Resource"),
      ("Entity", "subClassOf", "Resource")
    ).toDF("subj", "pred", "obj")
    val instance = Seq(("jvm", "isTopTermOf", "spark")).toDF("subj", "pred", "obj")
    val got = TripleStore.rdfsClosure(instance, schema, maxDepth = 4)
      .as[(String, String, String)].collect().toSet
    assert(got == Set(
      ("jvm", "isTopTermOf", "spark"),
      ("jvm", "relatedTo", "spark"),          // rdfs7
      ("jvm", "associatedWith", "spark"),     // rdfs7 via rdfs5 closure
      ("jvm", "type", "Term"),                // rdfs2
      ("jvm", "type", "Token"),               // rdfs9
      ("jvm", "type", "Resource"),            // rdfs9 via rdfs11 closure
      ("spark", "type", "Entity"),            // rdfs3 on the INHERITED relatedTo edge
      ("spark", "type", "Resource")), s"$got")
  }

  test("EXISTS: semi-join partitions the bindings with NOT EXISTS; disconnected group rejected") {
    val req = Seq((V("a"), C("knows"), V("b")))
    val grp = Seq(Seq((V("b"), C("likes"), V("w"))))
    val pos = TripleStore.bgpExists(triples, req, grp)
      .as[(String, String)].collect().toSet
    // knows-edges whose target likes something: alice->bob, carol->alice
    assert(pos == Set(("alice", "bob"), ("carol", "alice"), ("bob", "carol")), s"$pos")
    val neg = TripleStore.bgpNotExists(triples, req, grp)
      .as[(String, String)].collect().toSet
    val all = TripleStore.bgp(triples, req).as[(String, String)].collect().toSet
    assert((pos union neg) == all && (pos intersect neg).isEmpty, s"$pos / $neg")
    // a group binding only fresh variables is a global switch — rejected
    intercept[IllegalArgumentException] {
      TripleStore.bgpExists(triples, req, Seq(Seq((V("x"), C("likes"), V("y")))))
    }
  }

  test("BIND: sequential scope, later exprs see earlier ones, rebinding rejected") {
    val b = TripleStore.bgp(triples, Seq((V("who"), C("likes"), V("what"))))
    val got = TripleStore.bind(b, Seq(
        "len" -> length(col("what")).cast("long"),
        "len2" -> (col("len") * 2)))                 // references the prior BIND
      .filter(col("len") >= 5)                       // SPARQL FILTER = plain .filter
      .select("who", "what", "len", "len2")
      .as[(String, String, Long, Long)].collect().toSet
    assert(got == Set(("alice", "scala", 5L, 10L), ("bob", "scala", 5L, 10L)), s"$got")
    intercept[IllegalArgumentException] {
      TripleStore.bind(b, Seq("who" -> lit("x")))    // ?who is already bound
    }
  }

  test("orderLimit: offset window under a total order; plans as TakeOrderedAndProject, no global sort") {
    val b = TripleStore.bgp(triples, Seq((V("s"), V("p"), V("o"))))
      .repartition(8)
    val window = TripleStore.orderLimit(b, Seq(col("s"), col("p"), col("o")),
      limit = 3, offset = 2)
    val full = b.orderBy(col("s"), col("p"), col("o"))
      .as[(String, String, String)].collect().toSeq
    assert(window.as[(String, String, String)].collect().toSeq ==
      full.slice(2, 5), "offset 2 limit 3 must be rows [2,5) of the total order")
    val plan = window.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("rangepartitioning"), s"global sort exchange leaked:\n$plan")
    intercept[IllegalArgumentException] {
      TripleStore.orderLimit(b, Seq(col("s")), limit = 0)
    }
  }

  test("aggregate: SUM/AVG-e4/SAMPLE over a BIND-extended frame; avg floors, sample pinned to min") {
    val b = TripleStore.bind(
      TripleStore.bgp(triples, Seq((V("who"), V("p"), V("o")))),
      Seq("len" -> length(col("o")).cast("long")))
    val got = TripleStore.aggregate(b, Seq("who"), Seq(
        TripleStore.SumOf("len", "sum_len"),
        TripleStore.AvgE4Of("len", "avg_e4"),
        TripleStore.SampleOf("o", "sample_o"),
        TripleStore.CountAll("n")))
      .as[(String, Long, Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // alice: objs bob(3), scala(5) — sum 8, avg 4.0 → 40000, sample "bob"
    assert(got("alice") == ((8L, 40000L, "bob", 2L)), s"${got("alice")}")
    // carol: alice(5), sql(3) — sum 8, avg 4.0 → 40000, sample "alice"
    assert(got("carol") == ((8L, 40000L, "alice", 2L)), s"${got("carol")}")
    // loop: loop(4) — avg 4.0
    assert(got("loop") == ((4L, 40000L, "loop", 1L)), s"${got("loop")}")
    // floor, not round: 2 objs of len 3 and 4 → avg 3.5 → 35000 exactly,
    // while 3 objs len 3,3,4 → avg 10/3 → 33333 (floor of 33333.33…)
    val tri = Seq(("x", "p", "abc"), ("x", "p", "abd"), ("x", "p", "abcd"))
      .toDF("subj", "pred", "obj")
    val g2 = TripleStore.aggregate(
      TripleStore.bind(TripleStore.bgp(tri, Seq((C("x"), C("p"), V("o")))),
        Seq("len" -> length(col("o")).cast("long"))),
      Seq.empty, Seq(TripleStore.AvgE4Of("len", "avg_e4")))
      .as[Long].collect().head
    assert(g2 == 33333L, s"$g2")
  }

  test("owl closure: property chain (prp-spo2) fires, composes with symmetric, converges") {
    val schema = Seq(
      ("uncleOf", "chainFirst", "brotherOf"),
      ("uncleOf", "chainSecond", "parentOf"),
      ("uncleOf", "type", "SymmetricProperty")   // nonsense ontology, real stratum test
    ).toDF("subj", "pred", "obj")
    val instance = Seq(
      ("sam", "brotherOf", "tom"),
      ("tom", "parentOf", "ana"),
      ("tom", "parentOf", "ben")
    ).toDF("subj", "pred", "obj")
    val got = TripleStore.owlClosure(instance, schema, maxRounds = 8)
      .as[(String, String, String)].collect().toSet
    assert(got == Set(
      ("sam", "brotherOf", "tom"),
      ("tom", "parentOf", "ana"),
      ("tom", "parentOf", "ben"),
      ("sam", "uncleOf", "ana"),   // chain round 1
      ("sam", "uncleOf", "ben"),
      ("ana", "uncleOf", "sam"),   // symmetric over the chain's output, round 2
      ("ben", "uncleOf", "sam")), s"$got")
    // chain output feeding the chain itself: q∘q ⊑ q reaches transitive
    // closure of 2^k hops per round and converges
    val hopSchema = Seq(
      ("hop", "chainFirst", "hop"),
      ("hop", "chainSecond", "hop")).toDF("subj", "pred", "obj")
    val path = Seq(("a", "hop", "b"), ("b", "hop", "c"), ("c", "hop", "d"))
      .toDF("subj", "pred", "obj")
    val closed = TripleStore.owlClosure(path, hopSchema, maxRounds = 8)
      .filter(col("subj") === "a").select("obj").as[String].collect().toSet
    assert(closed == Set("b", "c", "d"), s"$closed")
  }
}
