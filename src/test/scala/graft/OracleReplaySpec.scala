package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** The DuckDB oracle replay in the suite: every oracled registry query at
  * sf0.001 is dumped with `Verify.dump` and compared by `bin/compare.py`,
  * which fails on any mismatch and on any query that left no dump. */
class OracleReplaySpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  test("every oracled query at sf0.001 equals its DuckDB oracle") {
    val out = Files.createTempDirectory("graft_oracle_replay")
    try {
      try Verify.dump(spark, sfDir, out.toString, SparkEntry.oracleSql.keySet)
      finally Memo.invalidate(spark)
      val proc = new ProcessBuilder("python3", "bin/compare.py", sfDir, out.toString)
        .redirectErrorStream(true).start()
      val log = new String(proc.getInputStream.readAllBytes(), "UTF-8")
      val exit = proc.waitFor()
      assert(exit == 0 && log.contains("[compare] PASS 142, FAIL 0, SKIP 0"),
        s"compare exited $exit:\n$log")
    } finally {
      val s = Files.walk(out)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }
}
