package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.{CachedRDDBuilder, InMemoryTableScanExec}
import org.apache.spark.sql.execution.exchange.Exchange

/** How many partitions a persisted frame has, read without running a Spark
  * job. Needs the cache manager and the physical plan, hence this package. */
object PlannedPartitions {

  /** Partition count of a persisted frame: from its loaded buffers once
    * computed, else from the lazily built cache RDD of a plan that holds no
    * exchange and no subquery (building that RDD starts nothing). None for a
    * frame that is not persisted, and when only running the plan would tell:
    * an adaptive plan settles its partition count as its stages run. */
  def of(df: DataFrame): Option[Int] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .flatMap(c => ofCache(c.cachedRepresentation.cacheBuilder))
  }

  private def ofCache(b: CachedRDDBuilder): Option[Int] =
    if (b.isCachedColumnBuffersLoaded || exchangeFree(b.cachedPlan))
      Some(b.cachedColumnBuffers.getNumPartitions)
    else None

  private def exchangeFree(plan: SparkPlan): Boolean = plan match {
    case _: AdaptiveSparkPlanExec | _: Exchange => false
    case s: InMemoryTableScanExec => ofCache(s.relation.cacheBuilder).isDefined
    case p => p.subqueries.isEmpty && p.children.forall(exchangeFree)
  }
}
