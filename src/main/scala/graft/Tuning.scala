package graft

import org.apache.spark.sql.SparkSession

/** Session-level execution tuning applied by the engine's own entry points
  * (registry queries, the Memo warm builds, the E1 pipeline). All settings
  * are RUNTIME SQL confs — results are unchanged by construction (every
  * operator is partitioning-independent, asserted across the suite by the
  * repartition/bit-equality specs and the driver's oracle hashes); only the
  * physical plan moves.
  *
  * Why (spark_optimization_guide.md §2.2, §2.4, §3.1): the engine's frames
  * between shuffles are mostly vocabulary-/node-sized (KB–MB), while the
  * harness fixes `spark.sql.shuffle.partitions` at the core count. With
  * AQE's default `coalescePartitions.parallelismFirst=true`, Spark
  * deliberately IGNORES the advisory partition size and keeps ~core-count
  * post-shuffle partitions "for parallelism" — so a 15 KB aggregate still
  * schedules 32 tasks per stage, and the iterative operators (PageRank /
  * HITS / CC / closure loops) pay that fixed task-launch overhead per
  * round. Spark's own config reference recommends setting it to false so
  * the coalescer respects `advisoryPartitionSizeInBytes`. That is the
  * scale-ADAPTIVE behavior: tiny stages collapse to one task, 100 TB
  * stages still get (bytes / advisory) ≫ core-count partitions — nothing
  * here is tuned to the local core count.
  *
  * Every value is env-overridable; `GRAFT_TUNE=off` disables the whole
  * hook (the session then runs exactly as the caller built it). */
object Tuning {

  /** Size-adaptive narrow compaction of an already-materialized (persisted
    * and computed) frame. AQE cannot re-coalesce a cached plan's output
    * partitioning (`canChangeCachedPlanOutputPartitioning` is off by
    * default, and flipping it would also let AQE re-partition E1's cached
    * context rows, whose NMF sums are bit-exact only while each entity's
    * contexts sit whole in one partition, in scan order — the invariant
    * `Pipeline.induceAndEmit`'s entity spread keeps), so a
    * node-/edge-sized cached frame keeps the harness' core-count partitions
    * and every downstream scan pays that many task launches for near-empty
    * blocks. When the MEASURED row count implies fewer useful tasks, wrap
    * the frame in a narrow `coalesce` — no data moves, no shuffle; at
    * production row counts the target meets/exceeds the current partition
    * count and the frame is returned UNCHANGED. Callers restrict this to
    * integer-exact consumers (graph lattice, counting aggs), whose results
    * are partitioning-invariant by spec'd contract.
    *
    * The current partition count is read from the persisted frame's loaded
    * cache, never by planning the frame (`ds.rdd` re-plans and, under AQE,
    * can run stages); a frame that is not materialized is rejected. */
  def compact[T](ds: org.apache.spark.sql.Dataset[T], rows: Long,
                 rowsPerTask: Long = 262144L): org.apache.spark.sql.Dataset[T] = {
    val cur = org.apache.spark.sql.graft.PinnedPlans.materializedPartitions(ds.toDF())
      .getOrElse(throw new IllegalArgumentException(
        "Tuning.compact needs a persisted frame after its first action"))
    val want = math.max(1L, math.min(cur.toLong, (rows + rowsPerTask - 1) / rowsPerTask)).toInt
    if (want < cur) ds.coalesce(want) else ds
  }

  private val applied =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  /** Idempotent per session; a no-op when GRAFT_TUNE=off. */
  def ensure(spark: SparkSession): Unit = {
    if (sys.env.get("GRAFT_TUNE").contains("off")) return
    if (!applied.add(spark)) return
    def env(k: String, dflt: String) = sys.env.getOrElse(k, dflt)
    val c = spark.conf
    // §2.2: respect the advisory post-shuffle partition size instead of
    // pinning post-shuffle parallelism at the core count. Locally this
    // collapses KB-sized exchanges to one task; at scale the same setting
    // yields (stage bytes / advisory) partitions.
    c.set("spark.sql.adaptive.coalescePartitions.parallelismFirst",
      env("GRAFT_AQE_PARALLELISM_FIRST", "false"))
    // §2.2/§9: 64 MB advisory locally (Spark's default); production
    // clusters raise it via env (the guide's 100 MB–1 GB band).
    c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      env("GRAFT_ADVISORY_PARTITION_BYTES", "64m"))
    // §3.1: let the planner pick shuffled-hash over sort-merge when the
    // per-partition build side fits, and let AQE demote sort-merge joins
    // to shuffled-hash at runtime for small stages.
    c.set("spark.sql.join.preferSortMergeJoin",
      env("GRAFT_PREFER_SMJ", "false"))
    c.set("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
      env("GRAFT_SHJ_LOCALMAP_THRESHOLD", "64m"))
  }
}
