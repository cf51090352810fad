package graft

import org.apache.spark.sql.SparkSession

/** The one place a session is made ready for the engine.
  *
  * [[local]] builds every session the engine itself builds (the benchmark
  * and correctness mains, the scaling bench, the test suite). [[ensure]] is
  * the idempotent hook for sessions it did not build (a harness's, a
  * user's): the registry queries (`SparkEntry.queries`), the E1 pipeline
  * (`Pipeline.induceAndEmit`) and the shared tokenized projection
  * (`Memo.tokDocsOf`) call it before planning anything. An operator called
  * directly on such a session needs `ensure` first.
  *
  * The tuned settings are RUNTIME SQL confs — results are unchanged by
  * construction (every operator is partitioning-independent, asserted
  * across the suite by the repartition/bit-equality specs and the oracle
  * hashes); only the physical plan moves.
  *
  * Why (spark_optimization_guide.md §2.2, §2.4, §3.1): the engine's frames
  * between shuffles are mostly vocabulary-/node-sized (KB–MB), while
  * `spark.sql.shuffle.partitions` is fixed at the core count. With AQE's
  * default `coalescePartitions.parallelismFirst=true`, Spark deliberately
  * IGNORES the advisory partition size and keeps core-count post-shuffle
  * partitions "for parallelism" — so a 15 KB aggregate still schedules one
  * task per core, and the iterative operators (PageRank / HITS / CC /
  * closure loops) pay that fixed task-launch overhead per round. Spark's
  * own config reference recommends setting it to false so the coalescer
  * respects `advisoryPartitionSizeInBytes`. That is the scale-ADAPTIVE
  * behavior: tiny stages collapse to one task, 100 TB stages still get
  * (bytes / advisory) ≫ core-count partitions — nothing here is tuned to
  * the local core count.
  *
  * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` stays off
  * (Spark's default): turning it on would let AQE re-partition E1's cached
  * context rows, whose NMF sums are bit-exact only while each entity's
  * contexts sit whole in one partition, in scan order — the invariant
  * `Pipeline.induceAndEmit`'s entity spread keeps. The KB-sized memo frames
  * that would gain from re-coalescing are pins instead, which sit at the
  * partition count AQE gave the plan they materialized. */
object Session {

  /** The tuned confs; the values are constants, the ones the engine's
    * outputs, plans and benchmarks are measured under. */
  private[graft] val tuned: Map[String, String] = Map(
    // §2.2: respect the advisory post-shuffle partition size instead of
    // pinning post-shuffle parallelism at the core count
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    // §2.2/§9: 64 MB advisory (Spark's default)
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m",
    // §3.1: let the planner pick shuffled-hash over sort-merge when the
    // per-partition build side fits, and let AQE demote sort-merge joins
    // to shuffled-hash at runtime for small stages
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m")

  private val ready =
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Once per session: set the tuned confs and register the native graft
    * functions a session without GraftExtensions lacks, from the same table
    * the extension injects ([[GraftFunctions.all]]). A caller's later change
    * to a tuned conf is kept. */
  def ensure(spark: SparkSession): Unit = ready.synchronized {
    if (ready.add(spark)) {
      tuned.foreach { case (k, v) => spark.conf.set(k, v) }
      GraftFunctions.registerMissing(spark)
    }
  }

  /** A `local[cores]` session with GraftExtensions, UTC, the UI off, the
    * tuned confs set and the checkpoint WARNs muted.
    *
    * @param partitions  `spark.sql.shuffle.partitions` (default: `cores`)
    * @param tmpfsShuffle shuffle and spill files under `GRAFT_LOCAL_DIR`
    *                    (default `/dev/shm/graft-spark`): a stand-in for
    *                    per-executor local SSDs, where one contended
    *                    virtual disk would be a sandbox artifact
    * @param kryo        Kryo instead of Java serialization */
  def local(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
            partitions: Option[Int] = None,
            tmpfsShuffle: Boolean = false,
            kryo: Boolean = false,
            logLevel: String = "WARN"): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", partitions.getOrElse(cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
    if (tmpfsShuffle)
      b.config("spark.local.dir", sys.env.getOrElse("GRAFT_LOCAL_DIR", "/dev/shm/graft-spark"))
    if (kryo) b.config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    muteCheckpointWarns()
    // set on the session, not the builder: builder options also land in
    // the SparkContext's conf, from which every `newSession()` would inherit
    ensure(spark)
    spark
  }

  /** The iterative operators (CC star rounds, the two-phase scan) unpersist
    * superseded localCheckpoints deliberately; Spark logs a benign
    * "was locally checkpointed, its lineage has been truncated" WARN per
    * freed RDD, which reads like an error in a captured log tail. Silence
    * the rdd-package logger for the engine's own sessions only — failures
    * surface through the operators' converge-or-throw guards and the mains'
    * own nonzero exits, never through these logs. */
  private def muteCheckpointWarns(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
}
