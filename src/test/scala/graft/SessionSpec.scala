package graft

import org.apache.spark.sql.internal.SQLConf

/** The one session set-up: a session the engine did not build starts under
  * Spark's defaults, is tuned by its first entry-point call, and keeps a
  * caller's later change to a tuned conf (the hook runs once per session);
  * `ensure` gives a session without GraftExtensions the same native
  * functions the extension injects. */
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

  test("ensure registers all six native graft functions on a session without them") {
    val names = GraftFunctions.all.map(_._1)
    assert(names.map(_.funcName).toSet == Set(GraftFunctions.LogHypergeomName,
      GraftFunctions.ArrayDotName, GraftFunctions.BloomMightContainName, GraftFunctions.NfcName,
      GraftFunctions.VectorSumName, GraftFunctions.TopKName))
    val bare = SparkTestBase.stripped(ensure = false)
    assert(names.forall(!bare.sessionState.functionRegistry.functionExists(_)))
    assert(names.forall(spark.sessionState.functionRegistry.functionExists(_)),
      "dropping the child's functions must leave the parent's registry untouched")
    Session.ensure(bare)
    GraftFunctions.all.foreach { case (id, info, _) =>
      assert(bare.sessionState.functionRegistry.lookupFunction(id).contains(info), id.funcName)
    }
  }

  test("graft_vector_sum and graft_top_k resolve on an ensured stripped session") {
    import org.apache.spark.sql.functions._
    def run(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      Seq((1, Seq(1L, 2L), 5L, 1L), (1, Seq(10L, 20L), 7L, 2L), (1, Seq(100L, 200L), 6L, 3L))
        .toDF("label", "v", "x", "id").groupBy("label")
        .agg(call_function(GraftFunctions.VectorSumName, col("v")).as("s"),
          call_function(GraftFunctions.TopKName, col("x"), col("id"), lit(2)).as("top"))
        .collect().toSeq
    }
    val got = run(SparkTestBase.stripped())
    assert(got.map(_.getSeq[Long](1)) == Seq(Seq(111L, 222L)))
    assert(got == run(spark))
  }
}
