package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** The plan-level half of `graft.plans.Pinned`: the few steps that need
  * Spark's `private[sql]` API (`Dataset.ofRows`, the session's SQL conf),
  * kept in one small object so the rest of the engine stays on public API. */
object PinnedPlans {

  private def classicOf(df: DataFrame): classic.Dataset[Row] =
    df.asInstanceOf[classic.Dataset[Row]]

  /** Run `df`'s physical plan once under its own SQL execution and hand
    * the row-copied output RDD to `materialize`, which marks it
    * (checkpoint/localCheckpoint) and runs the one job that computes it.
    * The same steps as `Dataset.checkpoint`, minus its separate eager job:
    * the caller's job both materializes and measures. */
  def execute[T](df: DataFrame)(materialize: RDD[InternalRow] => T): T = {
    val qe = classicOf(df).queryExecution
    SQLExecution.withNewExecutionId(qe, Some("pin")) {
      materialize(qe.executedPlan.execute().map(_.copy()))
    }
  }

  /** The frame over a materialized RDD of `df`'s rows: a `LogicalRDD`
    * whose statistics are the measured `rows`/`bytes` (not the optimizer's
    * estimate of the plan that produced them), declaring `SinglePartition`
    * when the RDD has exactly one partition and `UnknownPartitioning(0)`
    * (what `Dataset.checkpoint` reports) otherwise. */
  def frameOver(df: DataFrame, rdd: RDD[InternalRow], rows: Long, bytes: Long): DataFrame = {
    val ds = classicOf(df)
    frame(ds.sparkSession, ds.logicalPlan.output, rdd, rows, bytes)
  }

  /** The same frame over an RDD of rows of `schema` that no plan produced. */
  def frameOver(spark: SparkSession, schema: StructType, rdd: RDD[InternalRow],
                rows: Long, bytes: Long): DataFrame =
    frame(spark.asInstanceOf[classic.SparkSession], DataTypeUtils.toAttributes(schema), rdd, rows, bytes)

  private def frame(spark: classic.SparkSession, output: Seq[Attribute], rdd: RDD[InternalRow],
                    rows: Long, bytes: Long): DataFrame = {
    val partitioning =
      if (rdd.getNumPartitions == 1) SinglePartition else UnknownPartitioning(0)
    val plan = LogicalRDD(output, rdd, partitioning)(
      spark, Some(Statistics(sizeInBytes = BigInt(bytes), rowCount = Some(BigInt(rows)))), None)
    classic.Dataset.ofRows(spark, plan)
  }

  /** The pinned `LogicalRDD` a frame is, if it is one (no operator on top). */
  def pinnedRelation(df: DataFrame): Option[LogicalRDD] =
    classicOf(df).logicalPlan match {
      case r: LogicalRDD => Some(r)
      case _ => None
    }

  /** The pinned `LogicalRDD`s a frame reads: every leaf of a pin, or of
    * projections, filters and unions of pins. Throws if any leaf is not a
    * `LogicalRDD`. */
  def pinnedLeaves(df: DataFrame): Seq[LogicalRDD] =
    classicOf(df).logicalPlan.collectLeaves().map {
      case r: LogicalRDD => r
      case leaf => throw new IllegalArgumentException(
        s"not a frame over pins: it reads ${leaf.nodeName}")
    }

  /** The session's `spark.sql.maxSinglePartitionBytes`: the largest input
    * size estimate the planner keeps in one partition without an exchange. */
  def maxSinglePartitionBytes(df: DataFrame): Long =
    classicOf(df).sparkSession.sessionState.conf.getConf(SQLConf.MAX_SINGLE_PARTITION_BYTES)
}
