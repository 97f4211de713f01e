package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryModule
import graft.sources.Tables

/** K72 — K31's EXECUTOR, completing the layout-executor trio (K62
  * compaction, K63 range export, this): orders land z-bucket-
  * partitioned by the Morton keys `q_zorder` gates, so the
  * multi-dimensional file-skipping property ZorderSpec demonstrates on
  * throwaway temp dirs becomes a COMMITTED layout (Delta/Iceberg's
  * OPTIMIZE ZORDER BY). Buckets are the top [[ZBucketBits]] bits of
  * the 16-bit z-value — quad-tree quadrants, so every bucket bounds
  * BOTH dimensions at once: a 1-D sort clusters its own column and
  * leaves the other unbounded; each z-bucket here confines o_custkey
  * AND o_orderdate to a 1/4-wide band of their domains (spec-pinned:
  * per-bucket spans ≤ 64 of 256 cells on each axis).
  *
  * Scale shape: the z-key projection is codegen'd integer arithmetic
  * off two broadcast min/max rows ([[SqlApi.zorderFrame]], shared
  * code); ONE bucket-hashed shuffle lands one file per bucket; commit
  * is [[graft.FsOps.swapDir]]. The gated
  * read-back's oracle replays bounds → cells → interleave → bucket
  * from raw orders, so the hash proves the landed layout is exactly
  * the planned one.
  */
object ZOrderExport extends QueryModule {

  /** Top 4 z-bits = 16 quad-tree buckets; each fixes 2 high bits per
    * dimension.
    */
  val ZBucketBits = 4
  val ZBuckets: Int = 1 << ZBucketBits
  private val BucketDiv = 65536 / ZBuckets

  /** Export orders z-bucket-partitioned to `dstPath`. */
  def execute(spark: SparkSession, dir: String, dstPath: String): Unit = {
    val keyed = SqlApi.zorderFrame(Tables.orders(spark, dir))
      .withColumn("bucket", expr(s"zval div $BucketDiv"))
      .select("o_orderkey", "o_custkey", "d", "xb", "yb", "zval", "bucket")
    val staged = s"${dstPath}_staging"
    keyed
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(staged)
    graft.FsOps.swapDir(graft.FsOps.fs(spark, staged), staged, dstPath)
  }

  /** The exported layout with an explicit schema (the partition-dir
    * inference lesson, [[RangeExport.loadExported]]).
    */
  def loadExported(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema("o_orderkey BIGINT, o_custkey BIGINT, d INT, " +
        "xb BIGINT, yb BIGINT, zval BIGINT, bucket BIGINT")
      .parquet(path)

  // --- driver-query face ---------------------------------------------

  private[relational] def exportDirFor(sfDir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${System.getProperty("java.io.tmpdir")}/graft_zorder_export_$h"
  }

  def prebuild(spark: SparkSession, dir: String): String =
    graft.Memo.once("ZOrderExport.prebuild", spark, dir) {
      val p = exportDirFor(dir)
      execute(spark, dir, p)
      p
    }

  /** K72 gate — per z-bucket of the EXPORTED layout (read back from
    * disk): row count plus the landed min/max of BOTH dimension cells.
    * The oracle replays the z-key chain from raw orders, so the hash
    * proves every row landed in its planned quadrant and the
    * both-axis bounds the layout claims are the ones on disk.
    */
  def exportedLayoutQ(spark: SparkSession, dir: String): DataFrame =
    loadExported(spark, prebuild(spark, dir))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min("xb").as("x_lo"), max("xb").as("x_hi"),
        min("yb").as("y_lo"), max("yb").as("y_hi"))
      .select("bucket", "n_rows", "x_lo", "x_hi", "y_lo", "y_hi")
      .orderBy("bucket")

  override def queries: Map[String, Q] = Map(
    "zorder_exported_layout" -> (exportedLayoutQ _))

  override def oracles: Map[String, String] = Map(
    "zorder_exported_layout" -> (SqlApi.zorderSqlCtes + s"""
      |SELECT zval // $BucketDiv AS bucket,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  min(xb) AS x_lo, max(xb) AS x_hi,
      |  min(yb) AS y_lo, max(yb) AS y_hi
      |FROM z GROUP BY 1
      |ORDER BY bucket""".stripMargin))
}
