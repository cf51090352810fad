package graft

import org.apache.spark.sql.internal.SQLConf

/** The one session set-up: a session the engine did not build starts under
  * Spark's defaults, is tuned by its first entry-point call, and keeps a
  * caller's later change to a tuned conf (the hook runs once per session). */
class SessionSpec extends SparkTestBase {

  /** A one-document corpus: q_p_filter_project only plans over it. */
  private lazy val sfDir = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_session").toString
    Seq(("src0", 1L, "hello", "en")).toDF("source", "doc_id", "text", "lang")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }
  private val keys = Session.tuned.keySet
  private def confs(s: org.apache.spark.sql.SparkSession) = keys.map(k => k -> s.conf.get(k)).toMap

  test("a fresh session has Spark's defaults for the tuned keys") {
    val defaults = keys.map(k => k -> new SQLConf().getConfString(k)).toMap
    assert(confs(spark.newSession()) == defaults)
  }

  test("one registry call tunes the session") {
    val fresh = spark.newSession()
    SparkEntry.queries("q_p_filter_project")(fresh, sfDir)
    assert(confs(fresh) == Session.tuned)
  }

  test("a caller's override of a tuned key survives a second entry-point call") {
    val fresh = spark.newSession()
    val q = SparkEntry.queries("q_p_filter_project")
    q(fresh, sfDir)
    fresh.conf.set("spark.sql.join.preferSortMergeJoin", "true")
    q(fresh, sfDir)
    assert(fresh.conf.get("spark.sql.join.preferSortMergeJoin") == "true")
    assert(confs(fresh) - "spark.sql.join.preferSortMergeJoin" ==
      Session.tuned - "spark.sql.join.preferSortMergeJoin")
  }
}
