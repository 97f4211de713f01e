package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeLike}
import org.apache.spark.sql.functions._

import graft.analytics.Dashboard
import graft.etl.Observations

/** Memo frames are single-partition leaves with exact statistics, so
  * operators over them plan no `Exchange` and a dashboard-shaped
  * request over the memoized panel runs as one Spark job.
  */
class MemoPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def leaf(df: DataFrame): LogicalRDD = {
    val leaves = df.queryExecution.analyzed.collect { case l: LogicalRDD => l }
    assert(leaves.size == 1, s"expected one LogicalRDD leaf, got $leaves")
    leaves.head
  }

  /** Runs `df`, then walks its FINAL adaptive plan: a plain tree walk
    * stops at `AdaptiveSparkPlanExec`, which is a leaf to `collect`. */
  private def finalPlanNodes(df: DataFrame)(pf: PartialFunction[SparkPlan, SparkPlan])
      : Seq[SparkPlan] = {
    df.collect()
    collect(df.queryExecution.executedPlan)(pf)
  }

  private def exchanges(df: DataFrame): Seq[SparkPlan] =
    finalPlanNodes(df) { case e: Exchange => e }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Spark jobs `body` launches, counted by a listener. Listener events
    * arrive asynchronously but in order, so once a sentinel job run
    * after `body` is seen, every job of `body` has been counted. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groups.synchronized {
        groups += Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("memo-plan-spec", "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("memo-plan-spec-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (groups.synchronized(!groups.contains("memo-plan-spec-sentinel")) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      groups.synchronized {
        assert(groups.contains("memo-plan-spec-sentinel"), "sentinel job never seen")
        groups.count(_ == "memo-plan-spec")
      }
    } finally sc.removeSparkListener(listener)
  }

  /** A build over 8 partitions: keys 0 until n, one row each. */
  private def build(n: Int): DataFrame =
    spark.range(0, n, 1, 8)
      .select(col("id").as("k"), (col("id") * 7919 % 1000).as("v"))

  private def memo(tag: String, n: Int): DataFrame = {
    val in = build(n)
    Memo.small(s"memo-plan-spec|$tag", in)(in)
  }

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  test("a memo frame's leaf reports SinglePartition and an exact row count") {
    val m = memo("leaf", 1000)
    val l = leaf(m)
    assert(l.outputPartitioning == SinglePartition)
    assert(l.rdd.getNumPartitions == 1)
    val stats = m.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(1000)))
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes < 1000 * 64)
  }

  test("memoized rows equal the un-memoized multi-partition build") {
    val direct = build(5000)
    assert(direct.rdd.getNumPartitions == 8)
    assert(sorted(memo("rows", 5000).collect()) == sorted(direct.collect()))
  }

  test("filter, distinct and orderBy over a memo frame plan no Exchange") {
    val m = memo("ops", 2000)
    val q = m.filter(col("k") > 3).select((col("k") % 5).as("k5"))
      .distinct().orderBy("k5")
    assert(exchanges(q).isEmpty, q.queryExecution.executedPlan.treeString)
    assert(q.collect().map(_.getLong(0)).toSeq == (0L until 5L))
  }

  test("a join between two memo frames plans no Exchange") {
    val a = memo("join-a", 2000)
    val b = memo("join-b", 3000).select(col("k"), col("v").as("v_b"))
    def joined = a.join(b, "k")
    // broadcast off: the shuffled join over two single-partition sides
    // needs no exchange while each side is under maxSinglePartitionBytes
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val q = joined
      assert(exchanges(q).isEmpty, q.queryExecution.executedPlan.treeString)
      assert(q.count() == 2000)
    }
    // default thresholds: exact KB-sized stats make it a broadcast join,
    // still with no shuffle
    val q = joined
    assert(finalPlanNodes(q) { case s: ShuffleExchangeLike => s }.isEmpty,
      q.queryExecution.executedPlan.treeString)
  }

  test("a memo frame over maxSinglePartitionBytes shuffles its join again") {
    val a = memo("big-a", 2000)
    val b = memo("big-b", 3000)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.maxSinglePartitionBytes" -> "16") {
      val q = a.join(b, "k")
      assert(finalPlanNodes(q) { case s: ShuffleExchangeLike => s }.nonEmpty,
        q.queryExecution.executedPlan.treeString)
    }
  }

  test("a country_trend request over the memoized panel runs one job") {
    Observations.panel(spark, sf).collect() // build the memo outside the count
    val rows = Dashboard.countryTrend(spark, sf)
    val jobs = jobsOf(rows.collect())
    assert(jobs == 1, s"country_trend ran $jobs jobs")
  }
}
