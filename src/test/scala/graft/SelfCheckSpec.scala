package graft

import java.nio.file.{Files, Paths}

/** The registry queries with no DuckDB oracle are pinned by their committed
  * content hashes: at sf0.01 every rows-only query must give the rows and
  * canonical hash recorded in SELFCHECK_r5.json (the baseline
  * `SelfCheck.main` compares against). */
class SelfCheckSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.01"

  test("rows-only queries at sf0.01 equal the committed SELFCHECK_r5.json") {
    val baseline = SelfCheck.parseBaseline(Files.readString(Paths.get("SELFCHECK_r5.json")))
    assert(baseline.keySet == SelfCheck.rowsOnlyQueries.toSet,
      s"baseline names ${baseline.keySet.toSeq.sorted}, registry ${SelfCheck.rowsOnlyQueries}")
    try {
      val got = SelfCheck.rowsOnlyQueries.map { q =>
        val (hash, rows) = SelfCheck.canonicalHashAndRows(SparkEntry.queries(q)(spark, sfDir))
        q -> ((rows, hash))
      }.toMap
      val drift = baseline.keySet.toSeq.sorted.filter(q => got(q) != baseline(q))
        .map(q => s"$q: ${baseline(q)} -> ${got(q)}")
      assert(drift.isEmpty, drift.mkString("; "))
    } finally Memo.invalidate(spark)
  }
}
