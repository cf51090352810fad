package graft

import org.apache.spark.sql.functions._

/** Two-cluster-size scaling evidence (BASELINE.md protocol).
  *
  * No real multi-node cluster exists in this sandbox, so the N-vs-4N
  * executor criterion (BASELINE.json:14) is evidenced by running the
  * IDENTICAL E1 job on the IDENTICAL input at two local parallelism levels
  * (local[N] vs local[4N], shuffle.partitions = cores) and reporting
  *   efficiency = (tps_4N / tps_N) / 4.
  *
  * The sf corpus is deterministically amplified (replica index appended to
  * repo/path; content untouched so the sha256 lineage stays valid per
  * replica) so the job is compute-bound rather than overhead-bound — the
  * honest stand-in for "same job, bigger cluster, proportional data math".
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), GRAFT_BENCH_N (default 1 — the
  * pair with genuine 4x hardware on this host, see below), GRAFT_BENCH_REPS
  * (default 60, the amplification factor), GRAFT_BENCH_PARTS (default 48,
  * input splits AND shuffle partitions, fixed across levels),
  * GRAFT_BENCH_ONLY (single-level mode for the bin/scaling.sh wrapper),
  * GRAFT_LOCAL_DIR (tmpfs shuffle dir).
  */
object ScalingBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Default N=1 (pair 1 vs 4). Pair choice on this host matters: its 32
    // vCPUs are ~16 physical cores with SMT and ONE shared DRAM system, so
    // measured pure-CPU 4x-scale-up ceilings are 1->4 = ~4.0x, 4->16 = 3.79x,
    // 8->32 = 2.99x, and memory-bandwidth contention lowers them further for
    // shuffle-heavy work. The 1-vs-4 pair is the one where a 4x thread
    // scale-up actually has 4x the hardware underneath it.
    val n = sys.env.getOrElse("GRAFT_BENCH_N", "1").toInt
    val reps = sys.env.getOrElse("GRAFT_BENCH_REPS", "60").toInt

    // single-run mode (one JVM per cluster size; a wrapper compares)
    sys.env.get("GRAFT_BENCH_ONLY").foreach { c =>
      val (t, cnt, steal) = runOnce(c.toInt, sfDir, reps)
      println(f"""{"metric":"e1_run","cores":$c,"sec":$t%.2f,"triples":$cnt,""" +
        s""""steal_sec":${HostStat.json(steal)},"sf":"$sfDir"}""")
      return
    }

    val (tSmall, cSmall, stealSmall) = runOnce(n, sfDir, reps)
    val (tBig, cBig, stealBig) = runOnce(4 * n, sfDir, reps)
    // an empty corpus would make the divergence ratio NaN and fail with a
    // misleading "0 vs 0 diverge" — name the real problem instead
    require(cSmall > 0 && cBig > 0,
      s"E1 emitted no triples ($cSmall / $cBig) — empty or misconfigured corpus at $sfDir")
    // on the many-split path ThinNMF merges each entity's float partials in
    // shuffle arrival order, so borderline sense assignments may flip across
    // parallelism levels; counts must agree to 1%
    require(math.abs(cSmall - cBig).toDouble / cSmall < 0.01,
      s"triple counts diverge across parallelism: $cSmall vs $cBig")

    val tpsSmall = cSmall / tSmall
    val tpsBig = cBig / tBig
    val eff = (tpsBig / tpsSmall) / 4.0
    println(f"""{"metric":"scaling_efficiency","value":$eff%.4f,"unit":"ratio","n_cores":$n,""" +
      f""""4n_cores":${4 * n},"reps":$reps,"triples":$cSmall,""" +
      f""""sec_n":$tSmall%.2f,"sec_4n":$tBig%.2f,""" +
      f""""tps_n":$tpsSmall%.1f,"tps_4n":$tpsBig%.1f,""" +
      s""""steal_sec_n":${HostStat.json(stealSmall)},""" +
      s""""steal_sec_4n":${HostStat.json(stealBig)},"sf":"$sfDir"}""")
  }

  /** One full E1 run in a fresh session at the given core count; returns
    * (wall seconds, triples, hypervisor steal-seconds on this JVM's pinned
    * CPUs during the timed region — the interference evidence VERDICT r4
    * next-step #6 asks every scaling trial to carry).
    *
    * Partitioning (input splits AND shuffle partitions) is FIXED across
    * cluster sizes — exactly like a spark-submit N-vs-4N-executor run, where
    * the dataset and the plan are identical and only resources scale. Sizing
    * partitions to each run's core count would compare two different plans. */
  def runOnce(cores: Int, sfDir: String, reps: Int): (Double, Long, Option[Double]) = {
    val parts = sys.env.getOrElse("GRAFT_BENCH_PARTS", "48").toInt
    val spark = Session.local(cores, Some(parts), tmpfsShuffle = true, kryo = true)
    try {
      import spark.implicits._
      // repartition the (single-file) base BEFORE amplifying: replica
      // generation then runs in parallel on every partition instead of one
      // serial task — the single-task crossJoin was a constant ~30 s serial
      // phase that swamped the cluster-size comparison
      val base = sources.CorpusSynth.fromDocuments(spark, sfDir)
        .repartition(parts)
      val replicas = spark.range(reps).select(col("id").cast("int").as("rep"))
      val docs = base.crossJoin(broadcast(replicas))
        .select(concat(col("repo"), lit("_r"), col("rep")).as("repo"),
          col("path"), col("commit"), col("lang"), col("content"))
        .as[CodeDoc]
      // warm the FS cache with a cheap action (counting the UN-amplified
      // base reads the identical file bytes at 1/reps the compute), then run
      // a SHORT full E1 on a reps/10 slice untimed: the operator code paths
      // JIT-compile during the warmup, not inside the measurement. On the
      // 1-core level the C2 compiler shares the single pinned CPU with the
      // workload, so unwarmed runs measured up to ±13% trial-to-trial drift
      // from compilation alone.
      base.count()
      val warmReps = math.max(1, reps / 10)
      val warmDocs = base.crossJoin(broadcast(
          spark.range(warmReps).select(col("id").cast("int").as("rep"))))
        .select(concat(col("repo"), lit("_w"), col("rep")).as("repo"),
          col("path"), col("commit"), col("lang"), col("content"))
        .as[CodeDoc]
      val warm = Pipeline.induceAndEmit(spark, warmDocs, Queries.cfg.copy(topK = 50),
        None, s"$sfDir warm x$warmReps")
      warm.triples.count()
      warm.cleanup() // drop the warmup's cached stages before measuring
      val steal0 = HostStat.stealJiffies()
      val t0 = System.nanoTime()
      val triples = Pipeline.induceAndEmit(spark, docs, Queries.cfg.copy(topK = 50),
        None, s"$sfDir x$reps").triples.count()
      ((System.nanoTime() - t0) / 1e9, triples, HostStat.stealSecSince(steal0))
    } finally spark.stop()
  }
}
