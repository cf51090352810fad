package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PinnedPlans
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.Pinned

/** SPARQL-style basic-graph-pattern (BGP) matching over a materialized
  * `(subj, pred, obj)` triple table — the query surface of the graph the
  * pipeline emits (S3). A pattern is three terms, each a constant `C` or a
  * variable `V`; the result is one row per binding of all variables, bag
  * semantics (SPARQL BGP default; callers `.distinct()` for set semantics).
  *
  * Execution is pure Catalyst: each pattern becomes a filtered projection
  * of the triple table (constants push down to the scan of a partitioned
  * triple store — `TableIO.Layout.Triples` partitions by pred, so a constant
  * predicate prunes partitions), and shared variables become equi-joins in
  * the caller-given order. Selectivity ordering is the caller's lever;
  * disconnected pattern groups cross-join (SPARQL semantics), so keep
  * patterns connected at scale.
  */
object TripleStore {

  sealed trait Term
  /** Variable — same name in several patterns joins them. */
  final case class V(name: String) extends Term
  /** Constant — filters the pattern's triples. */
  final case class C(value: String) extends Term

  /** Greedy selectivity-aware pattern order: start from the pattern with
    * the most constants (fewest matching triples, heuristically), then
    * repeatedly append the pattern sharing the most variables with the
    * bindings so far (tie-break: more constants, then the pattern's
    * rendering — fully deterministic). Connected patterns therefore never
    * cross-join because of CALLER ordering; a genuinely disconnected group
    * still cross-joins, but only after its own component is exhausted.
    * Result sets are order-independent (BGP is a join), so this only moves
    * plan cost, never semantics. */
  def orderPatterns(patterns: Seq[(Term, Term, Term)]): Seq[(Term, Term, Term)] = {
    def consts(p: (Term, Term, Term)) =
      p.productIterator.count(_.isInstanceOf[C])
    def vars(p: (Term, Term, Term)) =
      p.productIterator.collect { case V(n) => n }.toSet
    val remaining = scala.collection.mutable.ArrayBuffer(patterns: _*)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Term, Term, Term)]
    val bound = scala.collection.mutable.Set.empty[String]
    while (remaining.nonEmpty) {
      val next = remaining.maxBy(p =>
        ((vars(p) intersect bound).size, consts(p), p.toString))(
        Ordering.Tuple3(Ordering.Int, Ordering.Int, Ordering.String.reverse))
      remaining -= next
      bound ++= vars(next)
      out += next
    }
    out.toSeq
  }

  /** Statistics-aware BGP pattern order — the cost-based counterpart to
    * [[orderPatterns]], fed by THIS engine's own [[voidStats]] output.
    * Per-pattern cardinality estimate under the standard uniformity
    * assumption: a constant predicate starts from that predicate's triple
    * count (else the `*` total), divided by its distinct-subject count for
    * a constant subject and distinct-object count for a constant object.
    * Greedy order: cheapest-estimate pattern first, then repeatedly the
    * cheapest pattern CONNECTED to the bindings so far (disconnected
    * patterns wait for their own component — same no-accidental-cross-join
    * guarantee as the heuristic form). Deterministic: ties break on the
    * estimate, then the pattern rendering.
    *
    * `void` is the [[voidStats]] frame — predicate-count rows are
    * ontology-sized by contract, collected to the driver (bounded pull,
    * same class as the dictionary/model pulls elsewhere). Unknown
    * predicates fall back to the `*` row. Result sets are order-independent
    * (a BGP is a join); only plan cost moves. */
  def orderPatternsByStats(patterns: Seq[(Term, Term, Term)],
                           void: DataFrame): Seq[(Term, Term, Term)] = {
    val stats = void.collect().map { r =>
      r.getString(0) -> (r.getLong(1).max(1L), r.getLong(2).max(1L), r.getLong(3).max(1L))
    }.toMap
    require(stats.contains("*"), "voidStats frame must carry the * summary row")
    def est(p: (Term, Term, Term)): Double = {
      val (s, pr, o) = p
      val (n, nSubj, nObj) = pr match {
        case C(v) => stats.getOrElse(v, stats("*"))
        case _    => stats("*")
      }
      var e = n.toDouble
      if (s.isInstanceOf[C]) e /= nSubj
      if (o.isInstanceOf[C]) e /= nObj
      e
    }
    def vars(p: (Term, Term, Term)) =
      p.productIterator.collect { case V(n) => n }.toSet
    val remaining = scala.collection.mutable.ArrayBuffer(patterns: _*)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Term, Term, Term)]
    val bound = scala.collection.mutable.Set.empty[String]
    while (remaining.nonEmpty) {
      val connected = remaining.filter(p => (vars(p) intersect bound).nonEmpty)
      // stay inside the current component while any pattern connects;
      // a new component starts from the global cheapest
      val pool = if (connected.nonEmpty) connected else remaining
      val next = pool.minBy(p => (est(p), p.toString))
      remaining -= next
      bound ++= vars(next)
      out += next
    }
    out.toSeq
  }

  /** Match `patterns` against `triples`; returns one column per distinct
    * variable name (alphabetical — deterministic schema), one row per
    * binding. A variable repeated WITHIN a pattern constrains equality
    * (e.g. `(V("x"), C("p"), V("x"))` matches self-loops).
    *
    * `reorder = true` runs the patterns through [[orderPatterns]] first —
    * use it when the caller's order isn't hand-tuned; the default keeps
    * the documented caller-order lever. */
  def bgp(triples: DataFrame, patterns: Seq[(Term, Term, Term)],
          reorder: Boolean): DataFrame =
    bgp(triples, if (reorder) orderPatterns(patterns) else patterns)

  /** One pattern → a filtered projection of `table`: constants filter their
    * slot, a variable repeated across slots constrains equality, and the
    * result carries one column per distinct variable. Shared by the triple
    * (3-slot) and quad (4-slot) pattern surfaces. */
  private def patternFrame(table: DataFrame, slots: Seq[(String, Term)]): DataFrame = {
    val constFiltered = slots.foldLeft(table) {
      case (df, (c, C(v))) => df.filter(col(c) === v)
      case (df, _)         => df
    }
    val varSlots = slots.collect { case (c, V(n)) => n -> c }
    val eqFiltered = varSlots.groupBy(_._1).values.foldLeft(constFiltered) {
      case (df, cols) if cols.size > 1 =>
        cols.map(_._2).sliding(2).foldLeft(df) {
          case (d, Seq(c1, c2)) => d.filter(col(c1) === col(c2))
          case (d, _)           => d
        }
      case (df, _) => df
    }
    val proj = varSlots.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (v, cols) => col(cols.head._2).as(v) }
    require(proj.nonEmpty,
      s"pattern ${slots.map(_._2).mkString("(", ", ", ")")} binds no variable")
    eqFiltered.select(proj: _*)
  }

  /** Natural-join the pattern frames in order (cross join when no variable
    * is shared — SPARQL semantics for disconnected groups), then restore
    * the documented alphabetical variable order (joins float their keys to
    * the front). */
  private def joinFrames(frames: Seq[DataFrame]): DataFrame = {
    val joined = frames.reduce { (l, r) =>
      val common = l.columns.toSet.intersect(r.columns.toSet).toSeq.sorted
      if (common.isEmpty) l.crossJoin(r) else l.join(r, common)
    }
    joined.select(joined.columns.sorted.map(col).toSeq: _*)
  }

  def bgp(triples: DataFrame, patterns: Seq[(Term, Term, Term)]): DataFrame = {
    require(patterns.nonEmpty, "bgp needs at least one pattern")
    joinFrames(patterns.map { case (s, p, o) =>
      patternFrame(triples, Seq("subj" -> s, "pred" -> p, "obj" -> o))
    })
  }

  /** SPARQL `GRAPH` patterns over a QUAD store `(graph, subj, pred, obj)` —
    * named-graph SPARQL: each pattern names its graph with a fourth term
    * (constant pins the pattern to one named graph — and prunes a
    * graph-partitioned store's scan; a variable ranges over graphs and
    * joins like any other variable). Semantics otherwise identical to
    * [[bgp]]: bag semantics, shared variables join, alphabetical output. */
  def bgpQuads(quads: DataFrame, patterns: Seq[(Term, Term, Term, Term)]): DataFrame = {
    require(patterns.nonEmpty, "bgpQuads needs at least one pattern")
    joinFrames(patterns.map { case (g, s, p, o) =>
      patternFrame(quads, Seq("graph" -> g, "subj" -> s, "pred" -> p, "obj" -> o))
    })
  }

  /** SPARQL `UNION`: alternative BGP groups; the result is the BAG union of
    * each group's bindings over the union of all groups' variables — a
    * variable not bound by a group is NULL (unbound) in that group's rows,
    * exactly SPARQL's disjoint-domain solution union. Columns alphabetical
    * as everywhere. Execution: one bgp per group, NULL-pad, unionByName —
    * no shuffle beyond the groups' own joins. */
  def bgpUnion(triples: DataFrame, groups: Seq[Seq[(Term, Term, Term)]]): DataFrame = {
    require(groups.nonEmpty, "bgpUnion needs at least one group")
    val frames = groups.map(g => bgp(triples, g))
    val allVars = frames.flatMap(_.columns).distinct.sorted
    frames.map { f =>
      val have = f.columns.toSet
      f.select(allVars.map(v =>
        if (have(v)) col(v) else lit(null).cast("string").as(v)): _*)
    }.reduce(_ unionAll _)
  }

  /** SPARQL `VALUES`: constrain the BGP's bindings with an inline table.
    * `vars` name the VALUES variables (each must be bound by the patterns —
    * an extension-only VALUES is a cross product, rejected as a query bug);
    * each row gives one allowed combination, `None` = SPARQL `UNDEF`
    * (compatible with anything). Bag semantics per the spec: a binding
    * compatible with k VALUES rows appears k times.
    *
    * Execution: the inline table is driver-literal (node-sized by
    * construction) and joins BROADCAST with a null-tolerant compatibility
    * predicate — the bound side never shuffles. */
  def bgpValues(triples: DataFrame, patterns: Seq[(Term, Term, Term)],
                vars: Seq[String], rows: Seq[Seq[Option[String]]]): DataFrame = {
    import org.apache.spark.sql.Row
    require(vars.nonEmpty && rows.nonEmpty, "VALUES needs variables and rows")
    require(rows.forall(_.size == vars.size),
      s"every VALUES row must have ${vars.size} entries")
    val b = bgp(triples, patterns)
    val unbound = vars.filterNot(b.columns.contains)
    require(unbound.isEmpty,
      s"VALUES variables ${unbound.mkString(", ")} are not bound by the patterns")
    val spark = triples.sparkSession
    val schema = StructType(vars.map(v => StructField(s"__v_$v", StringType, nullable = true)))
    val inline = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r.map(_.orNull): _*)): _*), schema)
    val compat = vars.map(v => col(s"__v_$v").isNull || col(s"__v_$v") === col(v))
      .reduce(_ && _)
    b.join(broadcast(inline), compat, "inner")
      .select(b.columns.sorted.map(col).toSeq: _*)
  }

  /** SPARQL `ASK`: does the BGP have at least one binding? Returns a
    * one-row frame `(found: BIGINT 0|1)` so the answer flows through the
    * same DataFrame surface (and oracle harness) as everything else.
    * Execution: `limit(1)` — the first task that finds a binding ends the
    * query; no full evaluation. */
  def ask(triples: DataFrame, patterns: Seq[(Term, Term, Term)]): DataFrame = {
    val found = !bgp(triples, patterns).limit(1).isEmpty
    triples.sparkSession.range(1)
      .select(lit(if (found) 1L else 0L).as("found"))
  }

  /** SPARQL `OPTIONAL`: the required BGP's bindings, left-extended by each
    * optional pattern group in order — a group that matches adds its
    * variable bindings; one that doesn't leaves them NULL (never drops the
    * required row). Groups apply sequentially, each seeing the bindings
    * accumulated so far (SPARQL's LeftJoin nesting for a pattern written
    * `P OPTIONAL Q1 OPTIONAL Q2`).
    *
    * Each group must share ≥1 variable with the bindings it extends
    * (SPARQL's well-designed-pattern condition) — enforced, because a
    * disconnected OPTIONAL is a cross product whose "unmatched → NULL" arm
    * is unreachable, i.e. almost certainly a query bug. Execution: one left
    * equi-join per group against a filtered projection of the triple table;
    * a selective optional side stays broadcastable. */
  def bgpOptional(triples: DataFrame, required: Seq[(Term, Term, Term)],
                  optional: Seq[Seq[(Term, Term, Term)]]): DataFrame = {
    val out = optional.foldLeft(bgp(triples, required)) { (acc, group) =>
      val g = bgp(triples, group)
      val common = acc.columns.toSet.intersect(g.columns.toSet).toSeq.sorted
      require(common.nonEmpty,
        s"OPTIONAL group ${group.mkString(", ")} shares no variable with the bindings so far")
      acc.join(g, common, "left")
    }
    out.select(out.columns.sorted.map(col).toSeq: _*)
  }

  /** Graph-version delta: which triples a rebuild ADDED and which it
    * REMOVED — the maintenance companion to incremental count merge (G6)
    * for the materialized store itself (publish a delta instead of
    * re-shipping the graph). Set semantics: duplicate input rows collapse
    * (a triple store is a set); triples present in both versions are
    * absent from the output.
    *
    * One shuffle total: both sides union with a side tag, one map-side-
    * combinable aggregation per triple key, XOR filter — never the two
    * anti-joins (= two shuffles) the naive form costs, and no side is
    * assumed broadcastable (both are full graph versions). */
  def diff(before: DataFrame, after: DataFrame): DataFrame = {
    val key = Seq("subj", "pred", "obj")
    val tagged = before.select(key.map(col) :+ lit(1).as("was") :+ lit(0).as("is_"): _*)
      .unionAll(after.select(key.map(col) :+ lit(0).as("was") :+ lit(1).as("is_"): _*))
    tagged.groupBy(key.map(col): _*)
      .agg(max(col("was")).as("was"), max(col("is_")).as("is_"))
      .filter(col("was") =!= col("is_"))
      .select(key.map(col) :+
        when(col("is_") === 1, "added").otherwise("removed").as("change"): _*)
  }

  /** SPARQL negation — `FILTER NOT EXISTS`: keep only the required BGP's
    * bindings for which the negated pattern group has NO match (one
    * left-anti equi-join on the shared variables; the complement of
    * [[bgpOptional]]'s matched arm). The group must share ≥1 variable with
    * the required bindings — with shared variables, SPARQL's NOT EXISTS
    * and MINUS coincide, and a variable-disjoint negation (where they
    * differ) is rejected for the same reason as in bgpOptional: its
    * all-or-nothing semantics is almost certainly a query bug. */
  def bgpNotExists(triples: DataFrame, required: Seq[(Term, Term, Term)],
                   negated: Seq[Seq[(Term, Term, Term)]]): DataFrame = {
    val out = negated.foldLeft(bgp(triples, required)) { (acc, group) =>
      val g = bgp(triples, group)
      val common = acc.columns.toSet.intersect(g.columns.toSet).toSeq.sorted
      require(common.nonEmpty,
        s"NOT EXISTS group ${group.mkString(", ")} shares no variable with the required bindings")
      acc.join(g, common, "left_anti")
    }
    // using-column joins move the join key first — restore bgp's
    // documented alphabetical column contract
    out.select(out.columns.sorted.map(col).toSeq: _*)
  }

  /** SPARQL `FILTER EXISTS` (positive): keep only the required BGP's
    * bindings for which every `groups` pattern group has at least one
    * match — the semi-join twin of [[bgpNotExists]] (one left-semi
    * equi-join per group on the shared variables; the group's own
    * bindings are tested for existence, never projected). Same
    * well-designed-pattern guard: each group must share ≥1 variable with
    * the required bindings, because a variable-disjoint EXISTS is an
    * all-or-nothing global switch — route that through [[ask]] instead. */
  def bgpExists(triples: DataFrame, required: Seq[(Term, Term, Term)],
                groups: Seq[Seq[(Term, Term, Term)]]): DataFrame = {
    val out = groups.foldLeft(bgp(triples, required)) { (acc, group) =>
      val g = bgp(triples, group)
      val common = acc.columns.toSet.intersect(g.columns.toSet).toSeq.sorted
      require(common.nonEmpty,
        s"EXISTS group ${group.mkString(", ")} shares no variable with the required bindings" +
          " — a variable-disjoint EXISTS is a global switch; use ask() for that")
      acc.join(g, common, "left_semi")
    }
    out.select(out.columns.sorted.map(col).toSeq: _*) // see bgpNotExists
  }

  /** SPARQL `BIND` (§10.1) / projection expressions: extend a binding
    * frame with computed columns, applied IN ORDER so later expressions
    * may reference earlier ones (SPARQL's sequential-scope rule). Binding
    * an already-bound variable is an error in SPARQL — enforced. Pure
    * column expressions stay inside whole-stage codegen; no shuffle.
    * SPARQL `FILTER` over expressions is plain `.filter(column)` on the
    * result — no wrapper needed. */
  def bind(bindings: DataFrame, exprs: Seq[(String, Column)]): DataFrame =
    exprs.foldLeft(bindings) { (acc, e) =>
      val (name, expr) = e
      require(!acc.columns.contains(name),
        s"BIND target ?$name is already bound (SPARQL forbids rebinding)")
      acc.withColumn(name, expr)
    }

  /** SPARQL solution modifiers (§15): `ORDER BY … OFFSET k LIMIT n` over a
    * binding frame. The order must be a TOTAL order for deterministic
    * results (tie-break on the binding columns — enforced nowhere, pinned
    * by every caller in this repo).
    *
    * Execution: Spark plans orderBy+limit as TakeOrderedAndProject — a
    * per-partition top-(k+n) heap plus a single-partition merge of one
    * (k+n)-row frame per task — NEVER a global range-partitioned sort, so
    * the cost at 100 TB is one scan plus a driver-side merge of
    * partition-count × (k+n) rows (PlanSpec asserts the plan shape). */
  def orderLimit(bindings: DataFrame, order: Seq[Column],
                 limit: Int, offset: Int = 0): DataFrame = {
    require(limit > 0 && offset >= 0, s"need limit > 0, offset >= 0; got $limit/$offset")
    val sorted = bindings.orderBy(order: _*)
    (if (offset == 0) sorted else sorted.offset(offset)).limit(limit)
  }

  /** SPARQL `MINUS` (SPARQL 1.1 §8.3, DiffMinus): drop a binding μ1 of the
    * first group when some binding μ2 of a MINUS group is compatible with
    * it AND their domains overlap. BGP bindings are always fully bound, so
    * with shared variables this is one left-anti equi-join per group —
    * identical execution to [[bgpNotExists]]. The two constructs part ways
    * ONLY when a group shares no variable with the first arm: the spec says
    * dom(μ1) ∩ dom(μ2) = ∅ removes NOTHING (every μ2 is disjoint from μ1),
    * whereas FILTER NOT EXISTS would empty the result whenever the group
    * matches at all. That variable-disjoint case is exactly what
    * bgpNotExists `require`-rejects as a probable query bug — MINUS is the
    * construct whose semantics make it legal, so here it is honored, not
    * rejected: the group evaluates to a no-op without ever being joined
    * (zero added jobs). */
  def minus(triples: DataFrame, first: Seq[(Term, Term, Term)],
            groups: Seq[Seq[(Term, Term, Term)]]): DataFrame = {
    val out = groups.foldLeft(bgp(triples, first)) { (acc, group) =>
      val groupVars = group.flatMap { case (s, p, o) =>
        Seq(s, p, o).collect { case V(n) => n }
      }.toSet
      val common = acc.columns.toSet.intersect(groupVars).toSeq.sorted
      if (common.isEmpty) acc // disjoint domains: spec-mandated no-op
      else acc.join(bgp(triples, group), common, "left_anti")
    }
    out.select(out.columns.sorted.map(col).toSeq: _*) // see bgpNotExists
  }

  /** SPARQL 1.1 §11 aggregate specification for [[bgpAgg]]. `GroupConcat`
    * SORTS its values before joining: the SPARQL spec leaves GROUP_CONCAT
    * order undefined, and an undefined order is exactly what breaks
    * determinism under repartition — so this engine pins it, the same
    * discipline as every other operator (DuckDB twin:
    * `string_agg(x, sep ORDER BY x)`). */
  sealed trait AggSpec
  final case class CountAll(as: String) extends AggSpec
  final case class CountDistinctOf(variable: String, as: String) extends AggSpec
  final case class MinOf(variable: String, as: String) extends AggSpec
  final case class MaxOf(variable: String, as: String) extends AggSpec
  final case class GroupConcat(variable: String, sep: String, as: String) extends AggSpec
  /** SPARQL `SUM` over an integer-valued binding (LONG; non-numeric
    * strings become NULL under the cast, matching SQL). */
  final case class SumOf(variable: String, as: String) extends AggSpec
  /** SPARQL `AVG`, returned as `floor(avg × 10⁴)` LONG — the engine's
    * standing e4 fixed-point discipline for cross-engine hash equality
    * (floor, not round: both engines compute the same IEEE double, and
    * floor has no tie to disagree on). */
  final case class AvgE4Of(variable: String, as: String) extends AggSpec
  /** SPARQL `SAMPLE` — spec says "any value from the group"; an arbitrary
    * value is exactly what breaks determinism under repartition, so this
    * engine pins SAMPLE = MIN (a legal choice; DuckDB twin `min(x)`). */
  final case class SampleOf(variable: String, as: String) extends AggSpec

  /** SPARQL 1.1 grouped aggregation over BGP bindings: `GROUP BY` the
    * given variables, evaluate the aggregates, then apply the optional
    * `HAVING` predicate over the aggregate columns. Bag semantics in,
    * one row per group out — execution is the one hash aggregation Spark
    * plans for groupBy/agg (partial map-side combine for count/min/max;
    * collect_list ships only the grouped column, not the binding row). */
  def bgpAgg(triples: DataFrame, where: Seq[(Term, Term, Term)],
             groupVars: Seq[String], aggs: Seq[AggSpec],
             having: Option[Column] = None): DataFrame =
    aggregate(bgp(triples, where), groupVars, aggs, having)

  /** The aggregation core of [[bgpAgg]] over an ALREADY-EVALUATED binding
    * frame — the hook SPARQL 1.1 §12 subqueries and §10.1 BIND need: a
    * nested `SELECT (agg(…) AS ?x) WHERE {…} GROUP BY ?g` is evaluated
    * bottom-up and joined with the outer group, and an aggregate over a
    * BOUND expression (`SUM(?len)` where `?len` came from BIND) aggregates
    * the extended frame. One hash aggregation, map-side partial combine
    * for count/min/max/sum; collect_list ships only the grouped column. */
  def aggregate(bindings: DataFrame, groupVars: Seq[String], aggs: Seq[AggSpec],
                having: Option[Column] = None): DataFrame = {
    require(aggs.nonEmpty, "aggregate needs at least one aggregate")
    val exprs = aggs.map {
      case CountAll(as)              => count(lit(1)).as(as)
      case CountDistinctOf(v, as)    => countDistinct(col(v)).as(as)
      case MinOf(v, as)              => min(col(v)).as(as)
      case MaxOf(v, as)              => max(col(v)).as(as)
      case GroupConcat(v, sep, as)   =>
        array_join(array_sort(collect_list(col(v))), sep).as(as)
      case SumOf(v, as)              => sum(col(v).cast("long")).as(as)
      case AvgE4Of(v, as)            =>
        floor(avg(col(v).cast("long")) * 10000).cast("long").as(as)
      case SampleOf(v, as)           => min(col(v)).as(as)
    }
    val grouped = bindings.groupBy(groupVars.map(col): _*)
      .agg(exprs.head, exprs.tail: _*)
    having.fold(grouped)(grouped.filter)
  }

  /** SPARQL `CONSTRUCT`: instantiate `template` triple patterns from every
    * binding of the `where` BGP and return the resulting GRAPH — i.e. a
    * (subj, pred, obj) frame with SET semantics (SPARQL constructs a graph,
    * so duplicate instantiations collapse; contrast bgp's bag semantics).
    * This is the KG-derivation primitive: materialize inferred edges (e.g.
    * `sharesContextWith`) as first-class triples the rest of the engine —
    * bgp, pathPlus, diff, the partitioned sink — can consume.
    *
    * Execution: the bgp's joins plus one projection per template pattern,
    * a union, and one distinct (the only added shuffle). Template
    * variables must be bound by `where`. */
  def construct(triples: DataFrame, where: Seq[(Term, Term, Term)],
                template: Seq[(Term, Term, Term)]): DataFrame = {
    require(template.nonEmpty, "construct needs at least one template pattern")
    instantiate(bgp(triples, where), template)
  }

  /** Instantiate triple `template` patterns from a binding frame — the
    * shared engine of [[construct]] and [[updateWhere]]: one projection
    * per template pattern, a union, one distinct (set semantics). */
  private def instantiate(bindings: DataFrame,
                          template: Seq[(Term, Term, Term)]): DataFrame = {
    val bound = bindings.columns.toSet
    def slot(t: Term, as: String) = t match {
      case V(n) =>
        require(bound.contains(n), s"template variable ?$n is not bound by the WHERE patterns")
        col(n).as(as)
      case C(v) => lit(v).as(as)
    }
    template.map { case (s, p, o) =>
      bindings.select(slot(s, "subj"), slot(p, "pred"), slot(o, "obj"))
    }.reduce(_ unionAll _).distinct()
  }

  /** SPARQL 1.1 Update `DELETE { … } INSERT { … } WHERE { … }`: evaluate
    * the WHERE BGP once against the PRE-state (per spec both templates
    * bind from the same solution sequence — an inserted triple can never
    * feed its own delete and vice versa), instantiate both template sets,
    * and produce the post-state graph `(store ∖ deleted) ∪ inserted` with
    * set semantics. Either template set may be empty (`DELETE WHERE` /
    * `INSERT WHERE`), not both.
    *
    * Execution: the WHERE bgp's joins + one left-anti on the triple key
    * (the delete frame is binding-sized — AQE broadcasts it under the
    * threshold, so the store is never shuffled for the subtraction) + a
    * union with the insert frame and its distinct. */
  def updateWhere(store: DataFrame, where: Seq[(Term, Term, Term)],
                  delete: Seq[(Term, Term, Term)],
                  insert: Seq[(Term, Term, Term)]): DataFrame = {
    require(delete.nonEmpty || insert.nonEmpty,
      "updateWhere needs at least one DELETE or INSERT template")
    val bindings = bgp(store, where)
    val key = Seq("subj", "pred", "obj")
    val afterDelete =
      if (delete.isEmpty) store.select(key.map(col): _*)
      else store.select(key.map(col): _*)
        .join(instantiate(bindings, delete), key, "left_anti")
    if (insert.isEmpty) afterDelete.distinct()
    else afterDelete.unionAll(instantiate(bindings, insert)).distinct()
  }

  /** SPARQL 1.1 property path `pred+`, hop-bounded: all (subj, obj) pairs
    * connected by 1..maxHops edges of ONE predicate, with `n_hops` = the
    * minimum path length (BFS order: a pair's first-discovery round IS its
    * min-hop). Cyclic paths keep SPARQL semantics — a node on a cycle
    * reaches itself.
    *
    * The edge set is pinned once. While that pin fits one partition the
    * whole closure is computed inside one task (a BFS per source node over
    * the pinned rows), so the query is the edge pin, that task's pin and
    * its own job, whatever `maxHops` is. Past the bound — or once the
    * closure itself outgrows it — the loop is semi-naive and relational:
    * each round joins only the LAST round's fresh pairs against the edge
    * set and subtracts the known closure, so work per round is bounded by
    * the new pairs, each round's fresh pairs are one pin (the returned
    * closure is the lazy union of the edge pin and those pins), and the
    * loop drains early when a round finds nothing.
    * Either way this MATERIALIZES the bounded closure — inherently
    * output-quadratic on dense graphs; the hop bound is the scale control,
    * and for counting-only questions [[Graph.reachApprox]] (HyperBall)
    * is the 100 TB path. */
  def pathPlus(triples: DataFrame, pred: String, maxHops: Int): DataFrame =
    boundedClosure(
      triples.filter(col("pred") === pred).select(col("subj"), col("obj")),
      maxHops)

  /** Bounded transitive closure of an arbitrary `(subj, obj)` pair frame,
    * with `n_hops` = min path length (BFS first-discovery round). The
    * engine under [[pathPlus]], the `Plus`/`Star` path combinators and
    * [[Graph.reach]] — see pathPlus for the two regimes, the pinning
    * discipline and the scale contract. */
  private[graft] def boundedClosure(pairs: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, "boundedClosure needs at least one hop")
    val e = Pinned.pin(pairs.select(col("subj"), col("obj")).distinct())
    val keyType = e.schema("subj").dataType
    val schema = StructType(Seq(e.schema("subj"), e.schema("obj"),
      StructField("n_hops", LongType, nullable = false)))
    closedInTask(e, Seq("subj", "obj"), schema) { (rows, bound) =>
      closureInTask(rows, keyType, maxHops, bound)
    }.getOrElse(closureRounds(e, maxHops))
  }

  /** Key types an in-task closure reads: boxed, they hash and compare as
    * Spark's values do. */
  private val KernelKeyTypes = Set[DataType](StringType, LongType, IntegerType, ShortType, ByteType)

  /** The closure of the base pin `base` computed whole in ONE task by
    * `kernel` (which gets the base rows and the byte bound), or None when
    * [[Pinned.rounds]] says the base does not fit one partition, the base
    * is empty, or the `keys` columns differ in type or are not strings or
    * integers. A kernel GIVES UP by emitting no rows — when the closure's
    * row bytes pass `spark.sql.maxSinglePartitionBytes`, on a null key, or
    * when it would need more rounds than its caller allows — which is
    * unambiguous because a closure contains its non-empty base; the caller
    * then runs its relational rounds from the same base pin, so results
    * and exceptions are those rounds'. The base pin is freed once the
    * kernel's pin holds the closure. */
  private def closedInTask(base: DataFrame, keys: Seq[String],
                           schema: StructType)(
      kernel: (Iterator[InternalRow], Long) => Iterator[InternalRow]): Option[DataFrame] = {
    val types = keys.map(base.schema(_).dataType).distinct
    if (types.size != 1 || !KernelKeyTypes(types.head) || Pinned.rows(base) == 0 ||
        !Pinned.rounds(base).single) None
    else {
      val bound = PinnedPlans.maxSinglePartitionBytes(base)
      val closed = Pinned.inTask(schema, base)(in => kernel(in.head, bound))
      if (Pinned.rows(closed) == 0) None
      else {
        Pinned.free(base)
        Some(closed)
      }
    }
  }

  /** The bounded closure inside one task over the pinned distinct
    * `(subj, obj)` rows: a BFS from every node, `n_hops` its first-discovery
    * hop. Emits `(subj, obj, n_hops)` in key order, or nothing (gives up,
    * see [[closedInTask]]) on a null key or once the rows pass `bound`
    * bytes. */
  private def closureInTask(rows: Iterator[InternalRow], keyType: DataType, maxHops: Int,
                            bound: Long): Iterator[InternalRow] = {
    val pairs = rows.map(r => if (r.anyNull) null
      else (Pinned.keyAt(r, 0, keyType), Pinned.keyAt(r, 1, keyType))).toArray
    if (pairs.contains(null)) return Iterator.empty
    val (keys, index) = Pinned.numbered(pairs.iterator.flatMap(p => Iterator(p._1, p._2)), keyType)
    val n = keys.length
    val succ = Array.fill(n)(mutable.ArrayBuilder.make[Int])
    pairs.foreach(p => succ(index.get(p._1).intValue) += index.get(p._2).intValue)
    val next = succ.map(_.result())
    val rowBytes = Pinned.fixedBytes(3)
    val keyBytes = keys.map(Pinned.varBytes)
    val hopOf = new Array[Int](n) // 0: not reached from the current source
    val out = mutable.ArrayBuffer.empty[InternalRow]
    var bytes = 0L
    for (s <- 0 until n) {
      val reached = mutable.ArrayBuffer.empty[Int]
      var frontier = Array(s)
      var hop = 1
      while (hop <= maxHops && frontier.nonEmpty) {
        val fresh = mutable.ArrayBuilder.make[Int]
        for (v <- frontier; w <- next(v) if hopOf(w) == 0) {
          hopOf(w) = hop
          fresh += w
          reached += w
        }
        frontier = fresh.result()
        hop += 1
      }
      for (w <- reached.sorted) {
        bytes += rowBytes + keyBytes(s) + keyBytes(w)
        if (bytes > bound) return Iterator.empty
        out += InternalRow(keys(s), keys(w), hopOf(w).toLong)
        hopOf(w) = 0
      }
    }
    out.iterator
  }

  /** The bounded closure as relational semi-naive rounds from the pinned
    * distinct pairs `e`: one plan and one pin per hop. */
  private def closureRounds(e: DataFrame, maxHops: Int): DataFrame = {
    // r6 optimization: the accumulated closure is kept as a LAZY UNION of
    // the already-pinned per-hop frontiers instead of re-materializing
    // `all ∪ fresh` every hop — the subtraction and the returned frame read
    // the same materialized rows either way (a union of pinned RDDs
    // recomputes nothing), but each hop now runs ONE pin job instead of
    // two. Live pins are bounded by maxHops frontier frames whose total
    // size is exactly the closure the old single pin held; all stay pinned
    // until the caller drops the result (same lifetime contract as before —
    // ContextCleaner reclaims on drop).
    var all = e.withColumn("n_hops", lit(1L))
    var delta = all
    var hop = 1
    var drained = false
    while (hop < maxHops && !drained) {
      // while the closure fits one partition a hop plans without exchange
      // or broadcast: one job, the frontier's pin (Pinned.Rounds); the
      // closure grows, so every hop picks its regime again
      val r = Pinned.rounds(all)
      val eRen = r.side(e.select(col("subj").as("mid"), col("obj").as("o2")))
      val stepped = delta.join(eRen, delta("obj") === eRen("mid"))
        .select(col("subj"), col("o2").as("obj"))
      val fresh = Pinned.pin(
        r.fresh(stepped, all).withColumn("n_hops", lit((hop + 1).toLong)))
      if (Pinned.rows(fresh) == 0) {
        Pinned.free(fresh)
        drained = true
      } else {
        all = all.unionAll(fresh)
        delta = fresh
      }
      hop += 1
    }
    Pinned.rounds(all).spread(all, Seq("subj", "obj"))
  }

  // ------------------------------------------------------ property paths

  /** SPARQL 1.1 property-path expressions (§9 of the spec), compiled by
    * [[path]] to a distinct `(subj, obj)` pair frame. The unbounded
    * closures (`p+`, `p*`) are hop-bounded here BY CONTRACT — the bound is
    * the scale control that keeps a 100 TB store's closure from going
    * output-quadratic; counting-only questions route to
    * [[Graph.reachApprox]] instead. */
  sealed trait PathExpr
  /** A single predicate edge: `p`. */
  final case class Pred(p: String) extends PathExpr
  /** Inverse path: `^e` — follows `e` object→subject. */
  final case class Inv(e: PathExpr) extends PathExpr
  /** Sequence path: `a/b`. */
  final case class Chain(a: PathExpr, b: PathExpr) extends PathExpr
  /** Alternative path: `a|b`. */
  final case class Alt(a: PathExpr, b: PathExpr) extends PathExpr
  /** One-or-more: `e+`, hop-bounded. */
  final case class Plus(e: PathExpr, maxHops: Int) extends PathExpr
  /** Zero-or-more: `e*`, hop-bounded. Zero-length arm matches every node
    * of the GRAPH (every subject or object of any triple — SPARQL's
    * zero-length-path semantics), not just endpoints of `e`. */
  final case class Star(e: PathExpr, maxHops: Int) extends PathExpr
  /** Zero-or-one: `e?`. Zero-length arm as in [[Star]]. */
  final case class ZeroOrOne(e: PathExpr) extends PathExpr
  /** Negated property set: `!(p1|p2|…)` — one edge whose predicate is NOT
    * any of `preds` (SPARQL 1.1 NPS; forward direction only — negate
    * inverse predicates by wrapping in [[Inv]]). */
  final case class Nps(preds: Seq[String]) extends PathExpr

  /** Every node of the graph paired with itself — the zero-length path. */
  private def zeroPairs(triples: DataFrame): DataFrame =
    triples.select(col("subj")).unionAll(triples.select(col("obj").as("subj")))
      .distinct().select(col("subj"), col("subj").as("obj"))

  /** Evaluate a property-path expression over the triple store: all
    * `(subj, obj)` pairs connected by a path matching `expr`, SET semantics
    * (SPARQL paths are existence tests, never bags). Each combinator is
    * pure Catalyst — predicate leaves prune a pred-partitioned store's
    * scan, `Chain` is one equi-join, `Alt` a union-distinct, and the
    * closures are [[pathPlus]]'s bounded closure (in one task while it fits
    * one partition). */
  def path(triples: DataFrame, expr: PathExpr): DataFrame = expr match {
    case Pred(p) =>
      triples.filter(col("pred") === p).select(col("subj"), col("obj")).distinct()
    case Nps(preds) =>
      require(preds.nonEmpty, "negated property set needs at least one predicate")
      triples.filter(!col("pred").isin(preds: _*))
        .select(col("subj"), col("obj")).distinct()
    case Inv(e) =>
      path(triples, e).select(col("obj").as("subj"), col("subj").as("obj"))
    case Chain(a, b) =>
      val l = path(triples, a)
      val r = path(triples, b).select(col("subj").as("mid"), col("obj").as("o2"))
      l.join(r, l("obj") === r("mid"))
        .select(l("subj"), col("o2").as("obj")).distinct()
    case Alt(a, b) =>
      path(triples, a).unionAll(path(triples, b)).distinct()
    case Plus(e, maxHops) =>
      boundedClosure(path(triples, e), maxHops).select(col("subj"), col("obj"))
    case Star(e, maxHops) =>
      boundedClosure(path(triples, e), maxHops).select(col("subj"), col("obj"))
        .unionAll(zeroPairs(triples)).distinct()
    case ZeroOrOne(e) =>
      path(triples, e).unionAll(zeroPairs(triples)).distinct()
  }

  /** SPARQL `DESCRIBE` (concise bounded description): every triple whose
    * subject is reachable from the `nodes` frame (one column `node`) in at
    * most `hops` forward steps — hop 0 = the nodes' own triples, each
    * further hop follows subj→obj edges. Returns the describing SUBGRAPH
    * (set semantics), ready to feed back into bgp/path/the sink.
    *
    * Execution: frontier semi-joins, node-sized state — the store is
    * touched once per hop through a semi-join on `subj` (pred-partition
    * pruning does not apply, but subject-bucketed stores co-locate); the
    * reached-set frame stays node-sized and the early-drain check stops
    * paying for hops the graph doesn't have. */
  def describe(triples: DataFrame, nodes: DataFrame, hops: Int): DataFrame = {
    require(hops >= 0, "describe needs hops >= 0")
    // reached/frontier rotate through pins (node-sized): the loop body
    // references each twice, so an unpinned chain would re-execute the
    // whole prior frontier history per round (plans are trees, not DAGs)
    var reached = Pinned.pin(nodes.select(col("node")).distinct())
    var frontier = reached
    var h = 0
    var drained = false
    while (h < hops && !drained) {
      val next = Pinned.pin(
        triples.join(frontier, triples("subj") === frontier("node"))
          .select(col("obj").as("node")).distinct()
          .join(reached, Seq("node"), "left_anti"))
      if (next.isEmpty) {
        Pinned.free(next)
        drained = true
      } else {
        val nextReached = Pinned.pin(reached.unionAll(next))
        if (frontier ne reached) Pinned.free(frontier)
        Pinned.free(reached)
        reached = nextReached
        frontier = next
      }
      h += 1
    }
    if (frontier ne reached) Pinned.free(frontier)
    triples.join(reached, triples("subj") === reached("node"))
      .select(col("subj"), col("pred"), col("obj")).distinct()
  }

  /** RDF reification: one statement node per DISTINCT triple, carrying the
    * four classic reification quads — `(stmt, type, Statement)`,
    * `(stmt, subject, s)`, `(stmt, predicate, p)`, `(stmt, object, o)` —
    * so provenance, confidence, or validity-time triples can attach to the
    * statement node. The id is content-addressed
    * (`stmt:` + md5 of the U+0001-joined terms): deterministic across
    * runs, partitionings, and cluster sizes — two engines reify the same
    * graph to the SAME node ids, so reified stores diff/merge exactly.
    *
    * Narrow: one distinct over the input (set semantics — a statement IS
    * its triple), then four projections + union, no further shuffle. */
  def reify(triples: DataFrame): DataFrame = {
    val base = triples.select(col("subj"), col("pred"), col("obj")).distinct()
      .withColumn("stmt", concat(lit("stmt:"),
        md5(concat_ws("\u0001", col("subj"), col("pred"), col("obj")))))
    Seq(
      base.select(col("stmt").as("subj"), lit("type").as("pred"),
        lit("Statement").as("obj")),
      base.select(col("stmt").as("subj"), lit("subject").as("pred"),
        col("subj").as("obj")),
      base.select(col("stmt").as("subj"), lit("predicate").as("pred"),
        col("pred").as("obj")),
      base.select(col("stmt").as("subj"), lit("object").as("pred"),
        col("obj").as("obj"))
    ).reduce(_ unionAll _)
  }

  /** VoID-style dataset statistics: one row per predicate — triple count,
    * distinct subjects, distinct objects — plus a `*` summary row for the
    * whole store. The KG operator behind "what is in this graph":
    * per-predicate partition sizing, join-selectivity estimation, and the
    * publish-time VoID description all read from this.
    *
    * One pass over the store: a single aggregation keyed on pred with
    * map-side partial `count_distinct` (approx = exact here only at the
    * aggregation buffer level — Spark computes exact distincts via
    * expand), the summary row from the same frame. */
  def voidStats(triples: DataFrame): DataFrame = {
    val perPred = triples.groupBy("pred").agg(
      count(lit(1)).as("n_triples"),
      countDistinct(col("subj")).as("n_subjects"),
      countDistinct(col("obj")).as("n_objects"))
    val total = triples.agg(
      count(lit(1)).as("n_triples"),
      countDistinct(col("subj")).as("n_subjects"),
      countDistinct(col("obj")).as("n_objects"))
      .select(lit("*").as("pred"), col("n_triples"), col("n_subjects"),
        col("n_objects"))
    perPred.unionByName(total)
  }

  // ------------------------------------------- entailment & canonical form

  /** `owl:sameAs` canonicalization: rewrite every subject and object to its
    * equivalence-class representative (the lexicographically smallest
    * member — deterministic) and return the canonical graph with SET
    * semantics (aliases collapsing onto one triple dedup). `sameAs` is a
    * symmetric pair frame `(a, b)`; transitivity is honored by running the
    * pairs through the production connected components
    * ([[Dedup.connectedComponents]]), so alias CHAINS canonicalize to one
    * representative, not pairwise.
    *
    * Scale shape: the component assignment is node-sized relative to the
    * ALIAS graph (≪ the store) and broadcast-joins onto subj and obj — the
    * store shuffles once, for the final distinct. Predicates are never
    * rewritten (aliasing identifies resources, not relations). */
  def canonicalize(triples: DataFrame, sameAs: DataFrame): DataFrame = {
    val comp = Dedup.connectedComponents(
      sameAs.select(col("a"), col("b")))
      .select(col("docid").as("member"), col("cluster").as("rep"))
    val bySubj = triples.join(
        broadcast(comp.select(col("member").as("subj"), col("rep").as("subj_rep"))),
        Seq("subj"), "left")
      .select(coalesce(col("subj_rep"), col("subj")).as("subj"), col("pred"), col("obj"))
    bySubj.join(
        broadcast(comp.select(col("member").as("obj"), col("rep").as("obj_rep"))),
        Seq("obj"), "left")
      .select(col("subj"), col("pred"),
        coalesce(col("obj_rep"), col("obj")).as("obj"))
      .distinct()
  }

  /** OWL RL property-rule subset, run to FIXPOINT (converge-or-throw):
    *
    *  - prp-inv1/2: `(p inverseOf q)` ⇒ `(s p o) ⊢ (o q s)` and `(s q o) ⊢ (o p s)`
    *  - prp-symp:   `(p type SymmetricProperty)` ⇒ `(s p o) ⊢ (o p s)`
    *  - prp-trp:    `(p type TransitiveProperty)` ⇒ `(s p m), (m p o) ⊢ (s p o)`
    *  - prp-spo2 (length 2): `(p chainFirst q), (p chainSecond r)` ⇒
    *    `(x q y), (y r z) ⊢ (x p z)` — the flat encoding of
    *    `p owl:propertyChainAxiom (q r)` (the RDF-list form, flattened the
    *    way this store flattens all list-valued schema; longer chains
    *    compose from length-2 links through fresh predicates)
    *
    * Semi-naive: each round derives only from the LAST round's fresh
    * triples (the transitive rule joins fresh×all on BOTH sides, so chains
    * double per round — convergence in O(log diameter) rounds), subtracts
    * the known closure, early-drains, and THROWS if `maxRounds` is hit
    * before the fixpoint — a truncated closure would be silently wrong
    * (same contract as connectedComponents; contrast pathPlus, where the
    * hop bound IS the query semantics). Schema frames are ontology-sized
    * by contract and read to the driver once, as the rules' lookup tables.
    *
    * The instance triples are pinned once. While that pin fits one
    * partition the same rounds run inside one task over the pinned rows
    * ([[owlInTask]]): the query is the base pin, that task's pin and its
    * own job, whatever the round count, and the base pin is freed. The
    * task gives up (see [[closedInTask]]) past the byte bound, on a null
    * key or past `maxRounds`, and the relational rounds then run from the
    * base pin — one plan and one pin per round, every round's fresh pin
    * live in the returned lazy union — and throw as above. The
    * transitive closure is inherently output-bounded work — on a 100 TB
    * store apply it to preds whose reachability sets are meant to be
    * materialized (hierarchies, containment), and route unbounded-graph
    * reachability questions to the hop-bounded path operators or
    * HyperBall. */
  def owlClosure(instance: DataFrame, schema: DataFrame, maxRounds: Int = 16): DataFrame = {
    val rules = OwlRules(schema.select(col("subj"), col("pred"), col("obj")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq)
    val all0 = Pinned.pin(
      instance.select(col("subj"), col("pred"), col("obj")).distinct())
    val inTask =
      if (rules.isEmpty || rules.preds.contains(null) || all0.schema("pred").dataType != StringType) None
      else {
        val keyType = all0.schema("subj").dataType
        closedInTask(all0, Seq("subj", "obj"), all0.schema) { (rows, bound) =>
          owlInTask(rows, keyType, rules, maxRounds, bound)
        }
      }
    inTask.getOrElse(owlRounds(all0, rules, maxRounds))
  }

  /** The OWL rules' schema side, compiled on the driver from the axiom
    * triples: `invOf` maps a pred to every q with (pred inverseOf q) or
    * (q inverseOf pred), `chainsOf` a chain's first-leg pred q to every
    * (head pred p, second-leg pred r). Keys and values are sorted. */
  private final case class OwlRules(invOf: Map[String, Seq[String]], symPreds: Seq[String],
                                    trnPreds: Seq[String], chainsOf: Map[String, Seq[(String, String)]]) {
    def isEmpty: Boolean = invOf.isEmpty && symPreds.isEmpty && trnPreds.isEmpty && chainsOf.isEmpty
    def preds: Seq[String] =
      (invOf.keys ++ invOf.values.flatten ++ symPreds ++ trnPreds ++ chainsOf.keys ++
        chainsOf.values.flatten.flatMap(c => Seq(c._1, c._2))).toSeq.distinct
  }

  private object OwlRules {
    def apply(axioms: Seq[(String, String, String)]): OwlRules = {
      def typed(cls: String): Seq[String] =
        axioms.collect { case (p, "type", `cls`) => p }.distinct.sorted
      OwlRules(
        axioms.collect { case (p, "inverseOf", q) => Seq(p -> q, q -> p) }.flatten
          .distinct.groupBy(_._1).map { case (p, qs) => p -> qs.map(_._2).sorted },
        typed("SymmetricProperty"),
        typed("TransitiveProperty"),
        (for {
          (cp, "chainFirst", cq) <- axioms
          (cp2, "chainSecond", cr) <- axioms if cp2 == cp
        } yield cq -> (cp, cr)).distinct.groupBy(_._1).map { case (q, v) => q -> v.map(_._2).sorted })
    }
  }

  /** The OWL rounds inside one task over the pinned distinct `(subj, pred,
    * obj)` rows: the relational rounds' semi-naive rules on integer-coded
    * triples, each round deriving from the round-start closure only, so it
    * runs the same rounds. Emits the closure in key order, or nothing
    * (gives up, see [[closedInTask]]) on a null, past `bound` bytes, or
    * where the relational rounds would throw for `maxRounds`. */
  private def owlInTask(rows: Iterator[InternalRow], keyType: DataType, rules: OwlRules,
                        maxRounds: Int, bound: Long): Iterator[InternalRow] = {
    val base = rows.map(r => if (r.anyNull) null else (Pinned.keyAt(r, 0, keyType),
      Pinned.keyAt(r, 1, StringType), Pinned.keyAt(r, 2, keyType))).toArray
    if (base.contains(null)) return Iterator.empty
    val (nodes, node) = Pinned.numbered(base.iterator.flatMap(t => Iterator(t._1, t._3)), keyType)
    val (preds, pred) = Pinned.numbered(base.iterator.map(_._2) ++
      rules.preds.iterator.map(UTF8String.fromString), StringType)
    val (n, np) = (nodes.length.toLong, preds.length.toLong)
    if (BigInt(n) * n * np > Long.MaxValue) return Iterator.empty
    // a triple is one Long, ordered by (subj, pred, obj) like the key order
    def code(s: Int, p: Int, o: Int): Long = (s * np + p) * n + o
    def p(name: String): Int = pred.get(UTF8String.fromString(name)).intValue
    val invOf = Array.fill(np.toInt)(Seq.empty[Int])
    rules.invOf.foreach { case (a, qs) => invOf(p(a)) = qs.map(p) }
    val sym, trn = new Array[Boolean](np.toInt)
    rules.symPreds.foreach(a => sym(p(a)) = true)
    rules.trnPreds.foreach(a => trn(p(a)) = true)
    // first-leg pred -> (head, second leg); second-leg pred -> (head, first leg)
    val firstOf, secondOf = Array.fill(np.toInt)(Seq.empty[(Int, Int)])
    for ((q, cs) <- rules.chainsOf; (cp, cr) <- cs) {
      firstOf(p(q)) :+= ((p(cp), p(cr)))
      secondOf(p(cr)) :+= ((p(cp), p(q)))
    }
    val rowBytes = Pinned.fixedBytes(3)
    val nodeBytes = nodes.map(Pinned.varBytes)
    val predBytes = preds.map(Pinned.varBytes)
    val all = mutable.HashSet.empty[Long]
    // (pred, subj) -> objs and (pred, obj) -> subjs of the closure so far
    val objsOf, subjsOf = mutable.LongMap.empty[mutable.ArrayBuffer[Int]]
    var bytes = 0L
    def add(s: Int, q: Int, o: Int): Boolean = {
      all += code(s, q, o)
      objsOf.getOrElseUpdate(q * n + s, mutable.ArrayBuffer.empty) += o
      subjsOf.getOrElseUpdate(q * n + o, mutable.ArrayBuffer.empty) += s
      bytes += rowBytes + nodeBytes(s) + predBytes(q) + nodeBytes(o)
      bytes <= bound
    }
    def at(m: mutable.LongMap[mutable.ArrayBuffer[Int]], q: Int, v: Int) =
      m.getOrElse(q * n + v, mutable.ArrayBuffer.empty[Int])
    var delta = base.map(t => (node.get(t._1).intValue, pred.get(t._2).intValue, node.get(t._3).intValue))
    if (!delta.forall(t => add(t._1, t._2, t._3))) return Iterator.empty
    var round = 0
    while (delta.nonEmpty) {
      if (round >= maxRounds) return Iterator.empty
      val fresh = mutable.HashSet.empty[(Int, Int, Int)]
      def derive(s: Int, q: Int, o: Int): Unit = if (!all(code(s, q, o))) fresh += ((s, q, o))
      for ((s, q, o) <- delta) {
        invOf(q).foreach(i => derive(o, i, s))
        if (sym(q)) derive(o, q, s)
        if (trn(q)) {
          at(objsOf, q, o).foreach(o2 => derive(s, q, o2))
          at(subjsOf, q, s).foreach(s0 => derive(s0, q, o))
        }
        for ((cp, cr) <- firstOf(q)) at(objsOf, cr, o).foreach(z => derive(s, cp, z))
        for ((cp, cq) <- secondOf(q)) at(subjsOf, cq, s).foreach(x => derive(x, cp, o))
      }
      round += 1
      delta = fresh.toArray
      if (!delta.forall(t => add(t._1, t._2, t._3))) return Iterator.empty
    }
    all.toArray.sorted.iterator.map { c =>
      val o = (c % n).toInt
      val sp = c / n
      InternalRow(nodes((sp / np).toInt), preds((sp % np).toInt), nodes(o))
    }
  }

  /** The OWL rules as relational semi-naive rounds from the pinned distinct
    * instance triples `all0`: one plan and one pin per round. */
  private def owlRounds(all0: DataFrame, rules: OwlRules, maxRounds: Int): DataFrame = {
    import rules.{chainsOf, invOf, symPreds, trnPreds}
    def predIn(ps: Iterable[String]): Column = col("pred").isin(ps.toSeq: _*)

    // r6 optimization (same move as boundedClosure): `all` is a LAZY UNION
    // of the pinned base and pinned per-round fresh frames — one pin per
    // round instead of two, identical materialized rows, live memory still
    // exactly the closure (fresh sets are disjoint: each holds only triples
    // absent from the closure so far).
    var all = all0
    var delta = all0
    var round = 0
    var drained = false
    while (!drained) {
      if (round >= maxRounds) {
        throw new IllegalStateException(
          s"owlClosure did not reach the fixpoint in $maxRounds rounds — " +
            "a truncated closure would be silently wrong; raise maxRounds")
      }
      // while the closure fits one partition a round plans without
      // exchange or broadcast: one job, the fresh frame's pin
      // (Pinned.Rounds); the closure grows, so every round picks its regime
      val r = Pinned.rounds(all)
      val allOne = r.one(all)
      val viaInv = Option.when(invOf.nonEmpty)(delta.filter(predIn(invOf.keys))
        .select(col("obj").as("subj"),
          explode(element_at(typedLit(invOf), col("pred"))).as("pred"),
          col("subj").as("obj")))
      val viaSym = Option.when(symPreds.nonEmpty)(delta.filter(predIn(symPreds))
        .select(col("obj").as("subj"), col("pred"), col("subj").as("obj")))
      def step(l: DataFrame, rt: DataFrame) =
        l.select(col("pred"), col("subj"), col("obj").as("mid"))
          .join(r.side(rt.select(col("pred"), col("subj").as("mid"), col("obj"))),
            Seq("pred", "mid"))
          .select(col("subj"), col("pred"), col("obj"))
      val viaTrn = Option.when(trnPreds.nonEmpty) {
        val trnDelta = delta.filter(predIn(trnPreds))
        val trnAll = allOne.filter(predIn(trnPreds))
        step(trnDelta, trnAll).unionAll(step(trnAll, trnDelta))
      }
      // prp-spo2: first-leg rows tagged (head pred, second-leg pred),
      // joined on (second-leg pred, mid) — semi-naive like prp-trp, fresh
      // on either leg
      def chainStep(l: DataFrame, rt: DataFrame) =
        l.filter(predIn(chainsOf.keys))
          .select(explode(element_at(typedLit(chainsOf), col("pred"))).as("c"),
            col("subj"), col("obj").as("mid"))
          .select(col("c._1").as("cp"), col("c._2").as("cr"), col("subj"), col("mid"))
          .join(r.side(rt.select(col("pred").as("cr"), col("subj").as("mid"), col("obj"))),
            Seq("cr", "mid"))
          .select(col("subj"), col("cp").as("pred"), col("obj"))
      val viaChain = Option.when(chainsOf.nonEmpty)(
        chainStep(delta, allOne).unionAll(chainStep(allOne, delta)))
      val branches = Seq(viaInv, viaSym, viaTrn, viaChain).flatten
      if (branches.isEmpty) drained = true
      else {
        val fresh = Pinned.pin(
          r.fresh(branches.reduce(_ unionAll _), all))
        if (Pinned.rows(fresh) == 0) {
          Pinned.free(fresh)
          drained = true
        } else {
          all = all.unionAll(fresh)
          delta = fresh
        }
        round += 1
      }
    }
    Pinned.rounds(all).spread(all, Seq("subj", "pred", "obj"))
  }

  /** OWL RL prp-fp — FunctionalProperty sameAs inference: for each pred
    * declared `(p type FunctionalProperty)`, two objects of the same
    * subject must denote the same resource ⇒ emit `(a, b)` alias pairs
    * (a < b, distinct), ready for [[canonicalize]]. This is THE
    * KG-construction dirty-data move: declare the key-like predicates
    * functional, infer the aliases, canonicalize the store.
    *
    * One self-join keyed on (subj, pred), restricted to functional preds
    * first (broadcast semi-join). Skew contract: a functional property has
    * ~1 object per subject BY INTENT — violating subjects are the rare
    * exceptions, so the self-join's per-key fanout is tiny everywhere it
    * fires; a pred that is wildly non-functional is a modeling bug this
    * operator would amplify, not a data-scale case to engineer for. */
  def inferSameAs(instance: DataFrame, schema: DataFrame): DataFrame = {
    val fp = schema.filter(col("pred") === "type" && col("obj") === "FunctionalProperty")
      .select(col("subj").as("pred")).distinct()
    val f = instance.join(broadcast(fp), Seq("pred"))
      .select(col("subj"), col("pred"), col("obj"))
    f.select(col("subj"), col("pred"), col("obj").as("a"))
      .join(f.select(col("subj"), col("pred"), col("obj").as("b")), Seq("subj", "pred"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** RDFS-lite forward entailment: materialize the closure of the instance
    * graph under the core RDFS rules —
    *
    *  - rdfs5 + rdfs7: `subPropertyOf` transitivity; `(s p o) ∧ (p ⊑ q) ⇒ (s q o)`
    *  - rdfs2 + rdfs3: `(s p o) ∧ (p domain c) ⇒ (s type c)`; range ⇒ `(o type c)`
    *  - rdfs11 + rdfs9: `subClassOf` transitivity; `(x type c) ∧ (c ⊑ d) ⇒ (x type d)`
    *
    * Evaluation is STRATIFIED, which reaches the fixpoint for exactly this
    * rule subset: property closure first (inherited edges can trigger
    * domain/range of superproperties), then domain/range typing, then type
    * inheritance through the class closure. `schema` holds the ontology
    * triples (`subClassOf` / `subPropertyOf` / `domain` / `range` preds,
    * plus `equivalentClass` / `equivalentProperty`); it is ontology-sized
    * BY CONTRACT (a KB, not a corpus) — it is read to the driver once, its
    * hierarchies are closed there (`maxDepth` bounds their depth), and the
    * closed hierarchies and domain/range tables ride the per-triple pass
    * as lookup maps. For this rule subset each instance triple's
    * entailments depend only on itself and the closed schema (the spec
    * "rdfs closure is per-triple local"), so the closure is ONE pass that
    * maps every instance triple to itself plus its entailments and one
    * distinct: no join, and the instance graph shuffles only for that
    * distinct. Returns asserted ∪ entailed, set semantics. */
  def rdfsClosure(instance: DataFrame, schema: DataFrame, maxDepth: Int): DataFrame = {
    val spark = instance.sparkSession
    import spark.implicits._
    val axioms = schema.select(col("subj"), col("pred"), col("obj")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    def pairs(pred: String): Seq[(String, String)] =
      axioms.collect { case (a, `pred`, b) => (a, b) }.distinct
    // OWL RL cax-eqc1/2 + prp-eqp1/2: equivalence IS bidirectional
    // subsumption — expand each equivalence axiom into both sub-axiom
    // directions BEFORE closing the hierarchies, so equivalent classes/
    // properties form a 2-cycle of the sub* graph and entail both ways
    // (the BFS below terminates on cycles; the resulting self-subsumptions
    // are absorbed by the final distinct).
    def hierarchy(subPred: String, eqPred: String): Map[String, Seq[String]] =
      closed(pairs(subPred) ++ pairs(eqPred).flatMap { case (a, b) => Seq((a, b), (b, a)) },
        subPred, maxDepth)
    val supProps = hierarchy("subPropertyOf", "equivalentProperty")
    val supClasses = hierarchy("subClassOf", "equivalentClass")
    def table(pred: String): Map[String, Seq[String]] =
      pairs(pred).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val (domains, ranges) = (table("domain"), table("range"))

    // a null key matches no axiom, as it joins no schema row
    def at(m: Map[String, Seq[String]], k: String): Seq[String] =
      if (k == null) Nil else m.getOrElse(k, Nil)
    instance.select(col("subj"), col("pred"), col("obj")).as[(String, String, String)]
      .flatMap { case (s, p, o) =>
        if (p == null) Seq((s, p, o))
        else {
          // rdfs7 over the CLOSED property hierarchy
          val props = p +: supProps.getOrElse(p, Nil)
          // rdfs2/rdfs3 over the extended edges, plus the type edges among them
          val types = props.flatMap { q =>
            (if (q == "type") Seq((s, o)) else Nil) ++
              at(domains, q).map((s, _)) ++ at(ranges, q).map((o, _))
          }
          // rdfs9 over the CLOSED class hierarchy
          val lifted = types.flatMap { case (x, c) => at(supClasses, c).map((x, _)) }
          (props.map((s, _, o)) ++ (types ++ lifted).map { case (x, c) => (x, "type", c) }).distinct
        }
      }
      .toDF("subj", "pred", "obj")
      .distinct()
  }

  /** The hierarchy `edges` closed ON THE DRIVER: every node with an edge
    * mapped to the nodes it reaches in 1..maxDepth hops, BFS order, cycles
    * allowed (a node on a cycle reaches itself). The schema is
    * ontology-sized by contract; the guard is loud, not silent truncation. */
  private def closed(edges: Seq[(String, String)], pred: String,
                     maxDepth: Int): Map[String, Seq[String]] = {
    val uniq = edges.distinct
    require(uniq.length <= 4000000,
      s"schema hierarchy '$pred' has ${uniq.length} edges — not ontology-sized; " +
        "rdfsClosure's driver-side closure does not hold for corpus-scale schemas")
    val adj = uniq.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    adj.map { case (start, direct) =>
      val out = Seq.newBuilder[String]
      val seen = mutable.Set.empty[String]
      var frontier = direct
      frontier.foreach { n => out += n; seen += n }
      var d = 1
      while (d < maxDepth && frontier.nonEmpty) {
        val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) -- seen
        next.foreach { n => out += n; seen += n }
        frontier = next
        d += 1
      }
      start -> out.result()
    }
  }
}
