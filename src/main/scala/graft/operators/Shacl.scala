package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SHACL-lite: validate a triple store against node shapes and emit a
  * violation REPORT frame — the KG data-quality gate (the W3C SHACL core
  * constraint components that matter for a machine-built graph, on the
  * Spark surface; no external vocabulary, shapes are programmatic).
  *
  * Supported (one report row per violation):
  *  - `sh:minCount` / `sh:maxCount` on one predicate path
  *  - `sh:in` (object within an allowed value set)
  *  - `sh:pattern` (object matches a regex)
  *  - `sh:class` (object carries a `(obj, type, cls)` triple in the store)
  *  - `sh:closed` (focus nodes may use only the listed predicates)
  *
  * Targets: `sh:targetClass` (subjects with a `type` triple) or
  * `sh:targetSubjectsOf` (subjects of a predicate). Focus frames are
  * node-sized relative to the store; every count constraint is one
  * map-side-combinable aggregation over the focus's triples, and the
  * `class` check is one semi-join against the type triples — nothing
  * shuffles the store more than once per constraint, and per-row checks
  * (pattern/in/closed) are pure filters with zero shuffle.
  *
  * Report schema: `(focus, shape, constraint, value, detail)` — `value`
  * NULL for count violations (the violation is about the focus, not one
  * object), total ordering left to the caller.
  */
object Shacl {

  sealed trait Constraint
  /** At least `n` values of `pred` per focus node. */
  final case class MinCount(pred: String, n: Long) extends Constraint
  /** At most `n` values of `pred` per focus node. */
  final case class MaxCount(pred: String, n: Long) extends Constraint
  /** Every value of `pred` is in `allowed`. */
  final case class InSet(pred: String, allowed: Seq[String]) extends Constraint
  /** Every value of `pred` matches `regex` (Java regex, `rlike`). */
  final case class Pattern(pred: String, regex: String) extends Constraint
  /** Every value of `pred` has a `(value, type, cls)` triple. */
  final case class ClassConstraint(pred: String, cls: String) extends Constraint
  /** Focus nodes may only use the `allowed` predicates. */
  final case class Closed(allowed: Seq[String]) extends Constraint

  /** One node shape: a target selector plus its constraints. Exactly one
    * of `targetClass` / `targetSubjectsOf` must be set. */
  final case class Shape(name: String,
                         targetClass: Option[String] = None,
                         targetSubjectsOf: Option[String] = None,
                         constraints: Seq[Constraint])

  private val reportCols = Seq("focus", "shape", "constraint", "value", "detail")

  /** Validate `triples` against `shapes`; returns the violation report
    * (empty = conforms). Deterministic: every detail string is a pure
    * function of the violating data.
    *
    * EAGER: each shape's focus-triples frame is pinned (materialized) once
    * and every constraint reads the pinned copy — without this, k
    * constraints would re-scan the store k times; with it, the store is
    * touched once per shape regardless of constraint count. The returned
    * report is itself pinned (violation-sized) so the intermediates can be
    * freed deterministically before returning. */
  def validate(triples: DataFrame, shapes: Seq[Shape]): DataFrame = {
    import graft.plans.Pinned
    require(shapes.nonEmpty, "validate needs at least one shape")
    val spark = triples.sparkSession
    import spark.implicits._
    val empty = Seq.empty[(String, String, String, String, String)]
      .toDF(reportCols: _*)

    val reports = shapes.map { shape =>
      require(shape.targetClass.isDefined != shape.targetSubjectsOf.isDefined,
        s"shape ${shape.name}: exactly one of targetClass/targetSubjectsOf")
      val focus = (shape.targetClass match {
        case Some(cls) =>
          triples.filter(col("pred") === "type" && col("obj") === cls)
            .select(col("subj").as("focus"))
        case None =>
          triples.filter(col("pred") === shape.targetSubjectsOf.get)
            .select(col("subj").as("focus"))
      }).distinct()
      // the focus's own triples, re-keyed and PINNED — every constraint
      // reads this one materialization instead of re-scanning the store
      val pinnedFocus = Pinned.pin(focus)
      val mine = Pinned.pin(
        triples.join(pinnedFocus, triples("subj") === pinnedFocus("focus"))
          .select(col("focus"), col("pred"), col("obj")))

      def report(df: DataFrame, constraint: String,
                 value: org.apache.spark.sql.Column,
                 detail: org.apache.spark.sql.Column): DataFrame =
        df.select(col("focus"), lit(shape.name).as("shape"),
          lit(constraint).as("constraint"), value.as("value"), detail.as("detail"))

      val perConstraint = shape.constraints.map {
        case MinCount(p, n) =>
          val counts = pinnedFocus.join(
              mine.filter(col("pred") === p).groupBy("focus")
                .agg(count(lit(1)).as("cnt")),
              Seq("focus"), "left")
            .select(col("focus"), coalesce(col("cnt"), lit(0L)).as("cnt"))
          report(counts.filter(col("cnt") < n), s"minCount($p)",
            lit(null).cast("string"),
            concat(lit("count="), col("cnt").cast("string"), lit(s" < min $n")))
        case MaxCount(p, n) =>
          val counts = mine.filter(col("pred") === p)
            .groupBy("focus").agg(count(lit(1)).as("cnt"))
          report(counts.filter(col("cnt") > n), s"maxCount($p)",
            lit(null).cast("string"),
            concat(lit("count="), col("cnt").cast("string"), lit(s" > max $n")))
        case InSet(p, allowed) =>
          report(mine.filter(col("pred") === p && !col("obj").isin(allowed: _*)),
            s"in($p)", col("obj"), lit("not in allowed set"))
        case Pattern(p, regex) =>
          report(mine.filter(col("pred") === p && !col("obj").rlike(regex)),
            s"pattern($p)", col("obj"), lit(s"!~ $regex"))
        case ClassConstraint(p, cls) =>
          val typed = triples.filter(col("pred") === "type" && col("obj") === cls)
            .select(col("subj").as("obj")).distinct()
          report(mine.filter(col("pred") === p).join(typed, Seq("obj"), "left_anti"),
            s"class($p)", col("obj"), lit(s"missing type $cls"))
        case Closed(allowed) =>
          report(mine.filter(!col("pred").isin(allowed: _*))
              .select(col("focus"), col("pred")).distinct(),
            "closed", col("pred"),
            lit(s"pred not in {${allowed.sorted.mkString(", ")}}"))
      }
      (perConstraint.foldLeft(empty)(_ unionAll _), Seq(pinnedFocus, mine))
    }
    // pin the (violation-sized) final report, then free every per-shape
    // intermediate deterministically — callers get a frozen frame, never a
    // plan that re-reads the store per action
    // the report itself stays pinned for the caller; ContextCleaner
    // reclaims it once dropped (same contract as connectedComponents)
    val out = Pinned.pin(reports.map(_._1).reduce(_ unionAll _))
    reports.flatMap(_._2).foreach(Pinned.free)
    out
  }
}
