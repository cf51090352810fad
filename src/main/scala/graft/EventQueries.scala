package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Temporal

/** Round-5 temporal-operator registry entries over the driver-generated
  * `events` stream table (TESTDATA.md) — the time-series join family the
  * build contract names (as-of join, range join) plus sessionization and
  * tumbling windows.
  *
  * Determinism discipline: timestamps convert to LONG epoch-micros at the
  * scan (`unix_micros` / DuckDB `epoch_us`), money-like doubles to integer
  * cents — every output column hashes identically across engines. The
  * as-of oracle is an INDEPENDENT quadratic formulation (correlated
  * argmax), not a replay of the forward-fill algorithm. */
object EventQueries {

  private val hourUs = 3600L * 1000000L
  private val dayUs = 24L * hourUs

  /** events with exact integer time/money columns — the family's shared
    * scan (column-pruned to what the queries read). The parquet `ts` is
    * TIMESTAMP_NTZ; the session is UTC-pinned (build.sbt / Verify / Bench),
    * so the NTZ→TZ cast is identity and `unix_micros` equals DuckDB's
    * `epoch_us` on the same naive value. */
  private def eventsOf(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/events.parquet").select(
      col("event_id"), unix_micros(col("ts").cast("timestamp")).as("t"),
      col("user_id"), col("event_type"),
      round(col("value") * 100).cast("long").as("cents"))

  val sparkQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // backward as-of join: each click joined to the user's most recent
    // view at/before it, 24 h tolerance — matches beyond it null out
    // (~151 clicks have no prior view at sf0.01 and ride through NULL;
    // ~1138 more have one staler than the tolerance)
    "q_events_asof" -> ((s, d) => {
      val ev = eventsOf(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "t", "user_id")
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "t", "user_id", "cents")
      Temporal.asofJoin(clicks, views, key = "user_id", time = "t",
          valueCols = Seq("cents"), rightTie = "event_id",
          toleranceUs = Some(24L * hourUs))
        .select("event_id", "user_id", "t", "asof_t", "asof_cents")
        .orderBy("event_id")
    }),

    // banded self range-join: pairs of same-type events within 60 s,
    // each pair exactly once (earlier first; time ties by id)
    "q_events_band" -> ((s, d) =>
      Temporal.bandedPairs(eventsOf(s, d), key = "event_type", time = "t",
          id = "event_id", bandUs = 60L * 1000000L)
        .select("event_type", "id_a", "id_b", "dt")
        .orderBy("event_type", "id_a", "id_b")),

    // gap sessionization (4 h) + per-session rollup: one keyed window scan
    // then one hash aggregation
    "q_events_sessions" -> ((s, d) =>
      Temporal.sessionize(eventsOf(s, d), key = "user_id", time = "t",
          id = "event_id", gapUs = 4L * hourUs)
        .groupBy("user_id", "session")
        .agg(count(lit(1)).as("n_events"), min(col("t")).as("start_t"),
          max(col("t")).as("end_t"), sum(col("cents")).as("sum_cents"))
        .orderBy("user_id", "session")),

    // tumbling 1-day windows per event type — plain groupBy on the exact
    // integer bucket, fully map-side-combinable
    "q_events_tumbling" -> ((s, d) =>
      eventsOf(s, d)
        .groupBy(col("event_type"), Temporal.tumble(col("t"), dayUs).as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
          min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
        .orderBy("event_type", "bucket"))
        ,

    // forward as-of join: each view joined to the user's NEXT click at/after
    // it, 24 h tolerance — the time-reversal dual of q_events_asof, same
    // no-join single-exchange plan
    "q_events_asof_fwd" -> ((s, d) => {
      val ev = eventsOf(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "t", "user_id")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "t", "user_id", "cents")
      Temporal.asofJoinForward(views, clicks, key = "user_id", time = "t",
          valueCols = Seq("cents"), rightTie = "event_id",
          toleranceUs = Some(24L * hourUs))
        .select("event_id", "user_id", "t", "asof_t", "asof_cents")
        .orderBy("event_id")
    }),

    // grouped top-k WITHOUT a window sort: the bounded-heap TopKAgg keeps
    // k rows per group×partition through partial aggregation, so losers
    // die BEFORE the shuffle — the window-rank form (the oracle) shuffles
    // and sorts every row of every group
    "q_events_topk" -> ((s, d) => {
      eventsOf(s, d)
        .groupBy("event_type")
        .agg(call_function(graft.GraftFunctions.TopKName,
          col("cents"), col("event_id"), lit(5)).as("top"))
        .select(col("event_type"), posexplode(col("top")).as(Seq("i", "p")))
        .select(col("event_type"), (col("i") + 1).cast("int").as("rnk"),
          col("p.tie").as("event_id"), col("p.value").as("cents"))
        .orderBy("event_type", "rnk")
    }),

    // sliding (hopping) windows: 6 h windows hopping hourly per event type —
    // closed-form window-index array (exactly width/step entries), explode,
    // one map-side-combinable aggregation; no range join, no post-filter
    "q_events_sliding" -> ((s, d) =>
      eventsOf(s, d)
        .select(col("event_type"), col("cents"),
          explode(Temporal.slideIndexes(col("t"), 6L * hourUs, hourUs)).as("w"))
        .groupBy(col("event_type"), (col("w") * hourUs).as("win_start"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .orderBy("event_type", "win_start"))
  )

  private val evCte: String =
    """ev AS (
      |  SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS t, user_id, event_type,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |)""".stripMargin

  val oracle: Map[String, String] = Map(
    // independent quadratic form: argmax time per click via a correlated
    // group-by, then the max-id row at that time — pins the same tie rule
    // the forward-fill uses without sharing any of its mechanics
    "q_events_asof" ->
      s"""WITH $evCte,
         |l AS (SELECT * FROM ev WHERE event_type = 'click'),
         |r AS (SELECT * FROM ev WHERE event_type = 'view'),
         |m AS (
         |  SELECT l.event_id AS lid, max(r.t) AS mt
         |  FROM l JOIN r ON r.user_id = l.user_id AND r.t <= l.t
         |                AND l.t - r.t <= CAST(86400 AS BIGINT) * 1000000
         |  GROUP BY 1),
         |mm AS (
         |  SELECT m.lid, m.mt, max(r.event_id) AS rid
         |  FROM m JOIN l ON l.event_id = m.lid
         |         JOIN r ON r.user_id = l.user_id AND r.t = m.mt
         |  GROUP BY 1, 2)
         |SELECT l.event_id, l.user_id, l.t, mm.mt AS asof_t, r2.cents AS asof_cents
         |FROM l LEFT JOIN mm ON mm.lid = l.event_id
         |       LEFT JOIN r r2 ON r2.event_id = mm.rid
         |ORDER BY l.event_id""".stripMargin,

    "q_events_band" ->
      s"""WITH $evCte
         |SELECT a.event_type, a.event_id AS id_a, b.event_id AS id_b,
         |       b.t - a.t AS dt
         |FROM ev a JOIN ev b ON b.event_type = a.event_type
         |  AND b.t - a.t BETWEEN 0 AND CAST(60 AS BIGINT) * 1000000
         |  AND (a.t < b.t OR (a.t = b.t AND a.event_id < b.event_id))
         |ORDER BY a.event_type, id_a, id_b""".stripMargin,

    "q_events_sessions" ->
      s"""WITH $evCte,
         |se AS (
         |  SELECT event_id, user_id, t, cents,
         |         CASE WHEN lag(t) OVER w IS NULL
         |                OR t - lag(t) OVER w > CAST(14400 AS BIGINT) * 1000000
         |              THEN 1 ELSE 0 END AS ns
         |  FROM ev
         |  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
         |sx AS (
         |  SELECT user_id, t, cents,
         |         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
         |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session
         |  FROM se)
         |SELECT user_id, session, count(*) AS n_events,
         |       min(t) AS start_t, max(t) AS end_t,
         |       CAST(sum(cents) AS BIGINT) AS sum_cents
         |FROM sx GROUP BY 1, 2
         |ORDER BY user_id, session""".stripMargin,

    "q_events_tumbling" ->
      s"""WITH $evCte
         |SELECT event_type, t // (CAST(86400 AS BIGINT) * 1000000) AS bucket,
         |       count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
         |       min(cents) AS min_cents, max(cents) AS max_cents
         |FROM ev GROUP BY 1, 2
         |ORDER BY event_type, bucket""".stripMargin,

    // forward dual of the q_events_asof oracle: argmin time per view via a
    // correlated group-by, max-id row at that time — again an independent
    // quadratic formulation, not a replay of the time-reversal reduction
    "q_events_asof_fwd" ->
      s"""WITH $evCte,
         |l AS (SELECT * FROM ev WHERE event_type = 'view'),
         |r AS (SELECT * FROM ev WHERE event_type = 'click'),
         |m AS (
         |  SELECT l.event_id AS lid, min(r.t) AS mt
         |  FROM l JOIN r ON r.user_id = l.user_id AND r.t >= l.t
         |                AND r.t - l.t <= CAST(86400 AS BIGINT) * 1000000
         |  GROUP BY 1),
         |mm AS (
         |  SELECT m.lid, m.mt, max(r.event_id) AS rid
         |  FROM m JOIN l ON l.event_id = m.lid
         |         JOIN r ON r.user_id = l.user_id AND r.t = m.mt
         |  GROUP BY 1, 2)
         |SELECT l.event_id, l.user_id, l.t, mm.mt AS asof_t, r2.cents AS asof_cents
         |FROM l LEFT JOIN mm ON mm.lid = l.event_id
         |       LEFT JOIN r r2 ON r2.event_id = mm.rid
         |ORDER BY l.event_id""".stripMargin,

    // the full window sort the aggregate avoids — rank over every row of
    // every group, cut at k (ties pinned by the unique event_id)
    "q_events_topk" ->
      s"""WITH $evCte,
         |r AS (
         |  SELECT event_type, event_id, cents,
         |         row_number() OVER (PARTITION BY event_type
         |                            ORDER BY cents DESC, event_id) AS rnk
         |  FROM ev)
         |SELECT event_type, CAST(rnk AS INTEGER) AS rnk, event_id, cents
         |FROM r WHERE rnk <= 5
         |ORDER BY event_type, rnk""".stripMargin,

    // independent membership formulation: an event at t is in window k iff
    // k*step <= t < k*step + width — enumerated via generate_series over the
    // hop offsets (floor-division `//` equals Spark's DIV on the
    // non-negative epoch-micros contract)
    "q_events_sliding" ->
      s"""WITH $evCte
         |SELECT event_type,
         |       (t // 3600000000 - gs.j) * 3600000000 AS win_start,
         |       count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
         |FROM ev CROSS JOIN generate_series(0, 5) AS gs(j)
         |WHERE t >= (t // 3600000000 - gs.j) * 3600000000
         |  AND t <  (t // 3600000000 - gs.j) * 3600000000 + 6 * 3600000000
         |GROUP BY 1, 2
         |ORDER BY event_type, win_start""".stripMargin
  )
}
