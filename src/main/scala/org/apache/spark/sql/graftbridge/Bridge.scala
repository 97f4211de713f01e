package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Column ⇄ Expression accessors. Spark 4 made these `private[sql]`
  * (Connect split); custom Catalyst expressions still need them, so
  * this package-positioned shim re-exposes the two converters.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Catalyst's bounded-heap top-k aggregate (package-private, used
    * by the pandas API's nlargest): per-group k-extreme elements with
    * map-side partial aggregation — the aggregate-shaped alternative
    * to a full per-group window sort. `reverse = false` keeps the
    * LARGEST elements under the child struct's lexicographic
    * ordering. (Constructor access via the aggregate-package shim.)
    */
  def collectTopK(e: Expression, num: Int, reverse: Boolean): Expression =
    org.apache.spark.sql.catalyst.expressions.aggregate.GraftTopKBridge
      .make(e, num, reverse)

  /** graft's eager checkpoint of a SMALL frame (memo frames: KB-sized
    * panels, per-series stats, model selections, horizons).
    *
    * The frame is shuffled to exactly one partition (`repartition(1)`:
    * the build's last stage keeps its parallelism, only the small
    * result moves) and checkpointed. The returned frame reads the same
    * RDD through a `LogicalRDD` leaf that reports
    *  - `SinglePartition`, so aggregates, sorts and distincts over it
    *    need no `Exchange` (a plain checkpoint reports
    *    `UnknownPartitioning(0)`, which forces one per operator);
    *  - exact statistics: the row count, counted once here, times
    *    `EstimationUtils.getSizePerRow` (a plain checkpoint estimates
    *    from the build's plan — petabytes above a join). A join keeps a
    *    single-partition side unshuffled only when that side's size is
    *    ≤ `spark.sql.maxSinglePartitionBytes` (128m by default), so an
    *    oversized frame falls back to the usual shuffle by itself.
    *
    * The leaf keeps the checkpoint's RDD, so memo keys built from its
    * RDD id do not change.
    */
  def smallCheckpoint(df: DataFrame): DataFrame = {
    val cp = df.repartition(1).localCheckpoint(true).asInstanceOf[Dataset[_]]
    val leaf = cp.logicalPlan.asInstanceOf[LogicalRDD]
    require(leaf.rdd.getNumPartitions == 1,
      s"small checkpoint has ${leaf.rdd.getNumPartitions} partitions, expected 1")
    val rows = BigInt(leaf.rdd.count())
    val stats = Statistics(
      sizeInBytes = EstimationUtils.getOutputSize(leaf.output, rows),
      rowCount = Some(rows))
    val session = cp.sparkSession
    Dataset.ofRows(session, leaf.copy(outputPartitioning = SinglePartition)(
      session, Some(stats), Some(leaf.constraints)))
  }
}
