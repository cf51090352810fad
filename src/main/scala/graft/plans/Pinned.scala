package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions.{col, lit, max}
import org.apache.spark.sql.graft.PinnedPlans
import org.apache.spark.storage.StorageLevel

/** Partition-pinning materialization for the iterative/scan operators
  * (connected components' star rounds, the two-phase prefix scan), with a
  * config-surfaced durable mode.
  *
  * Default (no config): eager `localCheckpoint` — correct and fast in local
  * mode and on healthy clusters, but executor loss kills the job (truncated
  * lineage cannot recompute).
  *
  * Durable mode: set `graft.checkpoint.dir` (runtime Spark conf or JVM
  * system property) or env `GRAFT_CHECKPOINT_DIR` to a Hadoop-visible
  * directory and the SAME call sites route through
  * `SparkContext.setCheckpointDir` + eager reliable `checkpoint()` —
  * executor loss then re-reads from durable storage instead of failing.
  * Both modes pin partitioning and data identically (reliable checkpoint
  * files preserve the partition layout on re-read), so the two-phase scan's
  * offset/window agreement holds either way; the swap changes fault
  * behavior only, never results (PinnedSpec asserts equality).
  *
  * Durable-mode retention: Spark's own `ReliableCheckpointRDD` lifecycle
  * keeps one snapshot per pin until the context stops (GC-driven cleanup
  * via `spark.cleaner.referenceTracking.cleanCheckpoints` is opt-in and
  * nondeterministic), so `pinTracked` additionally records the `rdd-*`
  * checkpoint directory each durable pin wrote and `free` DELETES a
  * superseded pin's directory eagerly — a long-lived driver running many
  * CC/BPE/scan jobs against one checkpoint root stays bounded at the live
  * pins, not the pin history (PinnedSpec asserts superseded dirs are
  * removed while the final pin survives and stays readable).
  *
  * Measured pins: a pinned frame's plan statistics are the row count and
  * row bytes its pin job measured, and a one-partition pin declares
  * `SinglePartition`. A pin made with `Dataset.checkpoint` kept the
  * optimizer's estimate of the plan it replaced (join estimates multiply,
  * so an iterative loop's estimate grew every round until nothing fit a
  * size threshold) and reported `UnknownPartitioning(0)`, so every round
  * re-planned exchanges and broadcasts — under AQE one job each.
  */
object Pinned {

  /** What one pinTracked call materialized: the pinned RDD's block id
    * (localCheckpoint mode) or its reliable-checkpoint directory (durable
    * mode). free() releases both. */
  final case class Handle(blocks: Set[Int], ckptDirs: Set[String])

  val ConfKey = "graft.checkpoint.dir"

  /** The configured durable checkpoint root, if any. Runtime conf wins over
    * system property wins over environment. */
  def durableDir(spark: SparkSession): Option[String] =
    spark.conf.getOption(ConfKey)
      .orElse(sys.props.get(ConfKey))
      .orElse(sys.env.get("GRAFT_CHECKPOINT_DIR"))
      .filter(_.nonEmpty)

  /** Eagerly materialize `df` with pinned partitions: reliable checkpoint
    * when a durable dir is configured, localCheckpoint otherwise. */
  def pin(df: DataFrame): DataFrame = pinTracked(df)._1

  /** pin() plus a Handle for everything the pin materialized — the
    * iterative operators (CC star rounds, BPE merge rounds) free superseded
    * rounds DETERMINISTICALLY with free() instead of waiting on driver GC,
    * so at most two round-state copies are ever live in EITHER mode.
    *
    * The Handle names the pin's OWN storage: the id of the pinned RDD
    * (localCheckpoint blocks) or its `rdd-<id>` checkpoint directory
    * (durable mode), read off the RDD the pin created. Nothing is inferred
    * from a before/after diff of the context's registries, so pins taken
    * concurrently on other threads of the same session never land in this
    * handle (a diff-built handle let one query's free() unpersist another
    * query's live pin: CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). free() is a
    * superseded-state contract: the caller promises the pinned frame is
    * never referenced again (re-reading a freed durable pin fails exactly
    * like recomputing a freed localCheckpoint does).
    *
    * The pin is ONE job that both materializes and measures: it counts the
    * rows and sums their bytes per partition, and the returned frame's plan
    * statistics are those measured figures (see [[rows]]). A frame that
    * materialized as one partition also declares `SinglePartition`, so the
    * planner can run joins and aggregations over it without an exchange
    * (see [[Rounds]]). Both modes measure the same rows, so they plan
    * identically. */
  def pinTracked(df: DataFrame): (DataFrame, Handle) = {
    val spark = df.sparkSession
    val durable = durableDir(spark)
    durable.foreach(useCheckpointRoot(spark, _))
    val (rdd, rows, bytes) = PinnedPlans.execute(df) { rdd =>
      if (durable.isDefined) {
        // persist before the reliable checkpoint: Spark's checkpoint-write
        // job otherwise RECOMPUTES the whole plan from lineage after the
        // measuring job already ran it once — doubling every CC/BPE/scan
        // round in exactly the durable-cluster scenario this mode serves.
        // The transient cache is dropped as soon as the checkpoint files
        // hold the data.
        rdd.persist(StorageLevel.MEMORY_AND_DISK)
        rdd.checkpoint()
      } else rdd.localCheckpoint()
      // the job's end runs the checkpoint (the local one finds every block
      // already stored; the reliable one writes from the transient cache)
      val perPart = rdd.mapPartitions { it =>
        var n = 0L
        var b = 0L
        it.foreach { r =>
          n += 1
          b += (r match {
            case u: UnsafeRow => u.getSizeInBytes.toLong
            case o => 8L * math.max(1, o.numFields)
          })
        }
        Iterator.single((n, b))
      }.collect()
      (rdd, perPart.map(_._1).sum, perPart.map(_._2).sum)
    }
    require(rdd.isCheckpointed || rdd.getNumPartitions == 0,
      s"pin of RDD ${rdd.id} was not checkpointed")
    val handle =
      if (durable.isDefined) {
        rdd.unpersist(blocking = false)
        Handle(Set.empty, rdd.getCheckpointFile.toSet)
      } else Handle(Set(rdd.id), Set.empty)
    (PinnedPlans.frameOver(df, rdd, rows, bytes), handle)
  }

  /** Measured row count of a frame returned by [[pin]]/[[pinTracked]] —
    * read from its plan statistics, no job. */
  def rows(pinned: DataFrame): Long =
    relation(pinned).stats.rowCount.map(_.toLong).getOrElse(
      throw new IllegalArgumentException("pinned frame carries no measured row count"))

  private def relation(pinned: DataFrame) =
    PinnedPlans.pinnedRelation(pinned).getOrElse(
      throw new IllegalArgumentException("not a pinned frame (an operator sits on top of the pin)"))

  /** Round planning for a loop over pinned frames. When a round reads only
    * one-partition pins that together fit one partition (every KB-sized
    * graph frame does under AQE's partition coalescing), it can run with no
    * exchange and no broadcast — one job, the round's pin — if the planner
    * sees exact single-partition inputs on every join and aggregation.
    * Spark keeps a join exchange-free only when its inputs report exactly
    * `SinglePartition` AND each input's size estimate fits
    * `spark.sql.maxSinglePartitionBytes`; estimates of join outputs are
    * size products, so the loops join measured pins (or projections,
    * filters and unions of them) only, and combine derived frames by
    * union + one aggregation ([[fresh]], the PageRank inflow):
    *   - [[side]] hints `shuffle_hash` on the node-sized join side (after
    *     [[one]]): with measured (small) statistics the planner would
    *     otherwise broadcast it, and each broadcast is its own job;
    *   - [[total]] hints a replicated nested loop on a 1-row totals frame
    *     (a broadcast nested loop otherwise);
    *   - [[one]] re-declares `SinglePartition` with a narrow `coalesce(1)`
    *     where Spark reports `PartitioningCollection` or `Unknown` (unions,
    *     cartesian products, inner-join outputs).
    * Otherwise these are the identity, so large inputs keep their exchange
    * plans and AQE-sized partitions. Past the size bound, [[spread]]
    * hash-partitions the frames the closures aggregate or return when all
    * their pins are one partition each: Spark reports such a union as ONE
    * partition and would aggregate it in one task however large it is.
    * Results never depend on the choice: the loops using this are
    * integer-exact or set-valued. */
  final class Rounds private[Pinned] (onePartition: Boolean, fits: Boolean) {
    val single: Boolean = onePartition && fits
    def side(df: DataFrame): DataFrame = if (single) one(df).hint("shuffle_hash") else df
    def total(df: DataFrame): DataFrame = if (single) df.hint("shuffle_replicate_nl") else df
    def one(df: DataFrame): DataFrame = if (single) df.coalesce(1) else df
    def spread(df: DataFrame, keys: Seq[String]): DataFrame =
      if (single) df.coalesce(1)
      else if (onePartition) df.repartition(keys.map(col): _*)
      else df

    /** The distinct rows of `derived` absent from `known` (compared on all
      * of `derived`'s columns, which `known` must have): the semi-naive
      * loops' fresh frontier. A union tagged by origin and ONE aggregation —
      * one shuffle of derived ∪ known where distinct + anti join needs two,
      * and no join, so no size estimate decides the plan. Keys are non-null
      * in every caller. */
    def fresh(derived: DataFrame, known: DataFrame): DataFrame = {
      val keys = derived.columns.toSeq.map(col)
      spread(derived.select(keys :+ lit(false).as("__known"): _*)
          .unionAll(known.select(keys :+ lit(true).as("__known"): _*)), derived.columns.toSeq)
        .groupBy(keys: _*).agg(max(col("__known")).as("__known"))
        .filter(!col("__known"))
        .select(keys: _*)
    }
  }

  /** The round planner for a round that reads `frames` — pins, or
    * projections, filters and unions of pins. Exchange-free (see [[Rounds]])
    * when every pin under them is one partition and their measured bytes
    * together fit `spark.sql.maxSinglePartitionBytes`, read off the pins'
    * plan statistics (no job). Loops whose frames grow (the closures) ask
    * again every round, so a closure that outgrows one partition goes back
    * to exchanges and AQE-sized partitions from that round on. */
  def rounds(frames: DataFrame*): Rounds = {
    val pins = frames.flatMap(PinnedPlans.pinnedLeaves).distinctBy(_.rdd.id)
    val bytes = pins.map(_.stats.sizeInBytes).sum
    new Rounds(pins.forall(_.rdd.getNumPartitions == 1),
      bytes <= PinnedPlans.maxSinglePartitionBytes(frames.head))
  }

  // setCheckpointDir mints a fresh per-app subdir per call, so call it
  // only when the context's CURRENT checkpoint subdir does not already live
  // under the configured root — re-pins under one root reuse the subdir, a
  // RE-configured root takes effect on the next pin, and an externally-set
  // foreign dir is corrected. Comparing the subdir's PARENT against the
  // configured root (per context, not via JVM-global state) keeps this
  // correct when multiple sessions configure different roots. Both sides
  // are fully QUALIFIED (scheme + authority + path) before comparing — a
  // path-only compare would treat file:/ckpt and hdfs://nn/ckpt as the
  // same root and keep pinning to the old filesystem after a
  // cross-filesystem reconfiguration.
  private def useCheckpointRoot(spark: SparkSession, dir: String): Unit = {
    val sc = spark.sparkContext
    val hconf = sc.hadoopConfiguration
    def qualified(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path =
      p.getFileSystem(hconf).makeQualified(p)
    val want = qualified(new org.apache.hadoop.fs.Path(dir))
    val underRoot = sc.getCheckpointDir.exists { cur =>
      val parent = new org.apache.hadoop.fs.Path(cur).getParent
      parent != null && qualified(parent) == want
    }
    if (!underRoot) sc.setCheckpointDir(dir)
  }

  /** Release everything a pinTracked Handle recorded: unpersist blocks
    * (non-blocking) and delete the pin's reliable-checkpoint directories. */
  def free(spark: SparkSession, h: Handle): Unit = {
    h.blocks.foreach(id =>
      spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    if (h.ckptDirs.nonEmpty) {
      val hconf = spark.sparkContext.hadoopConfiguration
      h.ckptDirs.foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        try p.getFileSystem(hconf).delete(p, true)
        catch { case _: java.io.IOException => () } // best-effort sweep
      }
    }
  }
}
