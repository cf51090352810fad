package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: per-query timings for every registered operator plus
  * the flagship E1 pipeline (tokenize → cooc → significance → NMF senses →
  * link → triples), reported as ONE JSON line on stdout AND written to a
  * dedicated file (env SPARK_GRAFT_BENCH_OUT, default BENCH/bench_last.json)
  * so log noise can never hide it.
  *
  * Failures are LOUD: a query that throws is recorded with its error, the
  * run prints every failure to stderr and exits nonzero — a crashing query
  * can never masquerade as a fast one. */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH/bench_last.json")
    val spark = Session.local(tmpfsShuffle = true)

    // warm the session once (JIT, codegen compiler, FS cache) with cheap
    // actions so the map-order-first query doesn't absorb JVM warmup
    spark.read.parquet(s"$sfDir/documents.parquet").count()
    spark.read.parquet(s"$sfDir/embeddings.parquet").count()

    // build the memoized registry prefix (tokenized projection + E2 chain)
    // here, TIMED SEPARATELY, so it is not charged to whichever registry
    // query happens to run first in map order — per-query numbers are then
    // comparable across rounds (VERDICT r2 #5); the prefix cost is reported
    // as memo_warm_sec
    val benchSteal0 = HostStat.stealJiffies()
    val benchWall0 = System.nanoTime()

    // each warm component timed separately: when memo_warm_sec moves
    // round-over-round, the artifact itself must say WHICH build moved
    // (r5: the total jumped 10 → 25 s with no code change to two of the
    // three components — attribution cannot be an after-the-fact guess)
    val tWarm = System.nanoTime()
    val warmCs = Memo.coStatsOf(spark, sfDir, Queries.cfg)
    warmCs.coverage.count()
    warmCs.scored.count()
    val tWarmCs = System.nanoTime()
    // E3's version-keyed sense model: loading an EXISTING model is the
    // operator's contract, so populating the store (one induction whenever
    // the code-derived ModelVersion changed) is warm-phase work — charged
    // here, visibly, instead of to whichever E3 query runs first
    Memo.modelOf(spark, sfDir, ExtraQueries.e3Cfg)
    val tWarmModel = System.nanoTime()
    // the memoized BPE training likewise (VERDICT r4 #3): ~3 s of one-time
    // deterministic training used to land inside q_vocab_bpe_encode
    ExtraQueries.warmBpe(spark, sfDir)
    val tWarmBpe = System.nanoTime()
    // the shared KG bigram adjacency (round 5): one edge aggregation the
    // whole q_kg_* family reads
    Memo.kgEdgesOf(spark, sfDir, Queries.cfg).count()
    val tWarmKg = System.nanoTime()
    // the memoized LR-classifier training (same accounting rule as BPE):
    // one-time multi-round training must not land inside whichever q_lr_*
    // query runs first in map order
    CurationQueries.warmLr(spark, sfDir)
    val tWarmEnd = System.nanoTime()
    val memoWarmSec = (tWarmEnd - tWarm) / 1e9
    val warmParts = Seq(
      "costats" -> (tWarmCs - tWarm) / 1e9,
      "e3_model" -> (tWarmModel - tWarmCs) / 1e9,
      "bpe" -> (tWarmBpe - tWarmModel) / 1e9,
      "kg_edges" -> (tWarmKg - tWarmBpe) / 1e9,
      "lr_train" -> (tWarmEnd - tWarmKg) / 1e9)

    // test hook for the loud-failure contract: GRAFT_BENCH_INJECT_FAIL adds a
    // query that throws, and the run must exit nonzero with it in `errors`
    val registry = SparkEntry.queries ++ (
      if (sys.env.contains("GRAFT_BENCH_INJECT_FAIL"))
        Map("q_injected_failure" -> ((_: SparkSession, _: String) =>
          throw new RuntimeException("injected failure (GRAFT_BENCH_INJECT_FAIL)")))
      else Map.empty)

    // STALL-ROBUST timing (VERDICT r4 #2): this host stalls for tens of
    // seconds at a time (documented G1/host-drift pathology) and a one-shot
    // timing cannot tell code from environment — in round 4 a single ~80 s
    // stall landed on three consecutive queries and tripled the official
    // artifact. Each query therefore runs `reps` times; `queries` reports the
    // MIN (steady state, the code's number), `queries_max` the max, and any
    // query whose max/min exceeds 3x (with an absolute floor so micro-queries
    // don't flag on scheduling jitter) is listed in `stall_suspects`.
    // Per-query start timestamps (`queries_t0`, epoch seconds) make a stall
    // attributable to its wall-clock window after the fact.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val startedAt = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    // per-query hypervisor-steal accounting (HostStat): steal CPU-seconds
    // accumulated across the query's full reps window, so a flagged stall
    // suspect carries kernel-level evidence of interference, not just a
    // suspicious max/min ratio
    val stealOf = scala.collection.mutable.LinkedHashMap.empty[String, Option[Double]]
    val runsOf = registry.map { case (name, fn) =>
      startedAt(name) = System.currentTimeMillis() / 1000
      val steal0 = HostStat.stealJiffies()
      val runs = (1 to reps).iterator.map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch {
          case e: Throwable =>
            errors.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
            None
        }
      }.takeWhile(_.isDefined).flatten.toSeq // a failing query is not retried
      stealOf(name) = HostStat.stealSecSince(steal0)
      name -> (if (runs.isEmpty) Seq(0.0) else runs)
    }
    val results = runsOf.map { case (n, rs) => n -> rs.min }
    val resultsMax = runsOf.map { case (n, rs) => n -> rs.max }
    val stallSuspects = runsOf.collect {
      case (n, rs) if rs.max > rs.min * 3 && rs.max - rs.min > 1.0 => n
    }.toSeq

    // flagship E1 end-to-end: triples/sec is the headline metric (BASELINE.md).
    // Also run `reps` times: the first run additionally pays E1-specific plan
    // compilation/codegen (the registry warms different plans), and the
    // round-5 bisect showed host-window drift alone spans ±25% at sf0.1 —
    // the steady-state MIN is the code's number, every run is reported.
    val docs = sources.CorpusSynth.fromDocuments(spark, sfDir)
    var triples = 0L
    val e1Steals = scala.collection.mutable.ArrayBuffer.empty[Option[Double]]
    val e1Runs = (1 to reps).map { _ =>
      val steal0 = HostStat.stealJiffies()
      val t0 = System.nanoTime()
      val r = Pipeline.induceAndEmit(spark, docs, Queries.cfg.copy(topK = 50), None, sfDir)
      triples = r.triples.count()
      val sec = (System.nanoTime() - t0) / 1e9
      e1Steals += HostStat.stealSecSince(steal0)
      r.cleanup()
      sec
    }
    val e1Sec = e1Runs.min
    val tps = triples / e1Sec

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val qs = results.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val qsMax = resultsMax.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val qsT0 = startedAt.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val stallJson = stallSuspects.map(jstr).mkString("[", ",", "]")
    val e1RunsJson = e1Runs.mkString("[", ",", "]")
    val qsSteal = stealOf.map { case (k, v) => s"${jstr(k)}:${HostStat.json(v)}" }
      .mkString("{", ",", "}")
    val e1StealJson = e1Steals.map(HostStat.json).mkString("[", ",", "]")
    val benchWallSec = (System.nanoTime() - benchWall0) / 1e9
    val benchStealSec = HostStat.stealSecSince(benchSteal0)
    // average hypervisor-stolen cores across the whole bench window: the
    // one-number interference summary a reader checks first
    val stealCoresAvg = benchStealSec.map(_ / benchWallSec)
    // memo_warm is charged to the TOTAL (it used to hide inside whichever
    // query ran first); the total sums STEADY-STATE (min) numbers — a host
    // stall shows up in queries_max/stall_suspects, never in the total
    val total = results.values.sum + e1Sec + memoWarmSec
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""queries_max":$qsMax,"queries_t0":$qsT0,"stall_suspects":$stallJson,""" +
      s""""reps":$reps,"e1_sec":$e1Sec,"e1_runs":$e1RunsJson,""" +
      s""""e1_triples":$triples,"e1_triples_per_sec":$tps,""" +
      s""""memo_warm_sec":$memoWarmSec,""" +
      warmParts.map { case (k, v) => s""""memo_warm_${k}_sec":$v""" }.mkString("", ",", ",") +
      s""""queries_steal_sec":$qsSteal,"e1_steal_sec":$e1StealJson,""" +
      s""""steal_total_sec":${HostStat.json(benchStealSec)},""" +
      s""""steal_cores_avg":${HostStat.json(stealCoresAvg)},""" +
      s""""cpus":${spark.sparkContext.defaultParallelism},"sf":${jstr(sfDir)},"n_errors":${errors.size},"errors":$errJson}"""
    println(json)
    val p = java.nio.file.Paths.get(outPath)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, json + "\n")
    spark.stop()
    if (errors.nonEmpty) {
      errors.foreach { case (k, v) => System.err.println(s"[bench] FAILED $k: $v") }
      sys.exit(1)
    }
  }
}
