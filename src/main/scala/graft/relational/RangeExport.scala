package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryModule
import graft.sources.Tables

/** K55's EXECUTOR — the sorted export that ACTS on the range plan
  * (Sketches.rangePartitionPlan audits boundaries; this writes the
  * bucketed layout). The deployment story: before a 100 TB global
  * sort / range-bucketed export, the plan query prices the boundary
  * balance from a bounded sample; once the audit passes, this
  * executor runs the export with the SAME boundaries
  * ([[Sketches.rangeBoundsOf]] — shared code, so what lands is
  * exactly what the audit priced). The write is a
  * `repartitionByRange`-equivalent with DETERMINISTIC boundaries
  * (Spark's own RangePartitioner re-samples non-deterministically
  * per run): the bucket assignment is a codegen'd comparison chain
  * against the B-1 boundary literals, rows hash to one task per
  * bucket (one part file per bucket directory), and the layout is
  * value-clustered — every bucket covers a disjoint value range, so
  * parquet zone maps prune maximally (K56 over this layout reports
  * n_chains == n_buckets, the clustered extreme; spec-pinned).
  *
  * Commit is [[graft.FsOps.swapDir]]. Scale
  * shape: ONE bounded sample aggregate + ONE data shuffle on bucket;
  * the only driver materialization is the [[Sketches.RppS]]-value
  * sample.
  */
object RangeExport extends QueryModule {

  /** Export orders range-bucketed by o_totalprice to `dstPath`. */
  def execute(spark: SparkSession, dir: String, dstPath: String): Unit = {
    val bounds = Sketches.rangeBoundsOf(Sketches.rangeFrame(spark, dir))
    val bucketed = Tables.orders(spark, dir)
      .filter(col("o_totalprice").isNotNull)
      .withColumn("v", col("o_totalprice"))
      .withColumn("bucket", Sketches.bucketColOf(bounds))
      .drop("v")
    val staged = s"${dstPath}_staging"
    bucketed
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(staged)
    graft.FsOps.swapDir(graft.FsOps.fs(spark, staged), staged, dstPath)
  }

  /** The exported layout with an explicit schema (the partition-dir
    * INT-vs-LONG inference lesson, IndexStore.loadLists).
    */
  def loadExported(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema("o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_orderstatus STRING, o_totalprice DOUBLE, " +
        "o_orderdate TIMESTAMP, o_orderpriority STRING, bucket BIGINT")
      .parquet(path)

  // --- driver-query face ---------------------------------------------

  private[relational] def exportDirFor(sfDir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${System.getProperty("java.io.tmpdir")}/graft_range_export_$h"
  }

  // export once per (session, corpus): the bench bills the write as a
  // build (`builds.range_export`)
  def prebuild(spark: SparkSession, dir: String): String =
    graft.Memo.once("RangeExport.prebuild", spark, dir) {
      val p = exportDirFor(dir)
      execute(spark, dir, p)
      p
    }

  /** K63 — the gated round-trip: per bucket of the EXPORTED layout
    * (read back from disk) — row count and the actual value range
    * the bucket's files carry. The oracle replays the K55 sample →
    * boundaries → assignment from raw orders, so the hash gate
    * proves the export placed every row in its planned bucket and
    * the landed ranges are the disjoint ones the audit priced.
    * Counts are exact integers; v_lo/v_hi are data values selected,
    * never computed.
    */
  def exportedLayoutQ(spark: SparkSession, dir: String): DataFrame =
    loadExported(spark, prebuild(spark, dir))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min("o_totalprice").as("v_lo"), max("o_totalprice").as("v_hi"))
      .select("bucket", "n_rows", "v_lo", "v_hi")
      .orderBy("bucket")

  override def queries: Map[String, Q] = Map(
    "range_exported_layout" -> (exportedLayoutQ _))

  override def oracles: Map[String, String] = Map(
    "range_exported_layout" ->
      s"""WITH e AS (SELECT o_totalprice AS v,
        |    ${Sketches.sqlH48("rpp", "o_orderkey")} AS hv
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |r AS (SELECT v, row_number() OVER (ORDER BY hv, v) AS rn
        |  FROM e),
        |sv AS (SELECT v, row_number() OVER (ORDER BY v) AS vr,
        |    count(*) OVER () AS ns
        |  FROM r WHERE rn <= ${Sketches.RppS}),
        |b AS (SELECT CAST(i AS BIGINT) AS bi,
        |    max(CASE WHEN vr = (i * ns + ${Sketches.RppB - 1}) // ${Sketches.RppB}
        |        THEN v END) AS bval
        |  FROM sv CROSS JOIN range(1, ${Sketches.RppB}) t(i) GROUP BY 1),
        |a AS (SELECT v, CAST((SELECT count(*) FROM b WHERE b.bval <= e.v)
        |    AS BIGINT) AS bucket FROM e)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |  min(v) AS v_lo, max(v) AS v_hi
        |FROM a GROUP BY bucket
        |ORDER BY bucket""".stripMargin)
}
