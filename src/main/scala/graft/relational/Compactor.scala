package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryModule
import graft.sources.Tables

/** K57's EXECUTOR — the nightly OPTIMIZE job that ACTS on the
  * compaction plan (Sketches.compactionPlan diagnoses; this
  * rewrites). The reference re-publishes whole tables per load
  * (etl/main.py:75-96 + load_modes), so its layouts never fragment;
  * a 100 TB day-partitioned sink ingesting incrementally accumulates
  * small partitions until listing + per-file open dominate every
  * read — the operational debt K54 flags and this pays down.
  *
  * The rewrite batches day partitions by the SAME metadata-sized cut
  * discipline as the plan query ([[Sketches.batchCuts]] — shared
  * code, so what lands is exactly what the plan reported): contiguous
  * day runs cut every [[Sketches.CompactTargetRows]] rows, written as
  * ONE file per batch directory (`repartition(grp)` hashes every row
  * of a batch into one task, so each `grp=` directory gets exactly
  * one part file). Day-range contiguity is preserved — each batch
  * directory covers a disjoint [day_lo, day_hi] interval, so a
  * reader's day filter still prunes whole directories, now at batch
  * granularity with the day column itself as the in-file zone map.
  *
  * Commit: the full compacted layout lands in `<dst>_staging` and
  * [[graft.FsOps.swapDir]] swaps it in. Scale shape: ONE shuffle of the
  * data (hash on grp), a metadata-sized window for the cuts, and a
  * broadcast day→grp map; nothing gathers on the driver.
  */
object Compactor extends QueryModule {

  /** Rewrite `events` (any frame carrying the events schema) into a
    * batch-compacted layout at `dstPath`.
    */
  def execute(events: DataFrame, dstPath: String): Unit = {
    val spark = events.sparkSession
    val e = events.filter(col("ts").isNotNull)
      .withColumn("day", to_date(col("ts")))
    val plan = Sketches.batchCuts(
        e.groupBy("day").agg(count(lit(1)).as("n_rows")))
      .select("day", "grp")
    val staged = s"${dstPath}_staging"
    e.join(broadcast(plan), "day")
      .repartition(col("grp"))
      .write.mode("overwrite").partitionBy("grp").parquet(staged)
    graft.FsOps.swapDir(graft.FsOps.fs(spark, staged), staged, dstPath)
  }

  /** K54's write-path executor — the nightly LOAD that obeys the
    * layout plan: day-partitioned (the [[graft.etl.Clean
    * .loadPartitioned]] pruning layout) with `maxRecordsPerFile` set
    * to [[Sketches.WriteTargetRows]], so each day directory lands
    * exactly the `n_files = ceil(rows/target)` files the K54 plan
    * prescribes (spec-pinned per day) instead of one file per
    * writing task. This is the PREVENTIVE half of the small-file
    * story — [[execute]] is the corrective half for layouts that
    * fragmented anyway.
    */
  def writePlanned(events: DataFrame, dstPath: String): Unit = {
    events.filter(col("ts").isNotNull)
      .withColumn("day", to_date(col("ts")))
      .repartition(col("day"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", Sketches.WriteTargetRows)
      .partitionBy("day").parquet(dstPath)
    ()
  }

  /** The compacted layout, read with an EXPLICIT schema (partition
    * inference would type the `grp=` directories INT where the cut
    * algebra carries LONG — the IndexStore.loadLists lesson).
    */
  def loadCompacted(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING, " +
        "ts_ns BIGINT, day DATE, grp BIGINT")
      .parquet(path)

  // --- driver-query face ---------------------------------------------

  private[relational] def compactedDirFor(sfDir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${System.getProperty("java.io.tmpdir")}/graft_compacted_$h"
  }

  // compact once per (session, corpus): the bench bills the rewrite
  // as a build (`builds.compacted_events`)
  def prebuild(spark: SparkSession, dir: String): String =
    graft.Memo.once("Compactor.prebuild", spark, dir) {
      val p = compactedDirFor(dir)
      execute(Tables.events(spark, dir), p)
      p
    }

  /** K62 — the gated round-trip: per rewrite batch of the COMPACTED
    * layout (read back from disk, never from the pre-write frame) —
    * row count, day count, day range, and fill vs the batch budget.
    * The oracle replays the cut discipline from the raw events table,
    * so the hash gate proves the rewrite preserved every row under
    * the planned batching with contiguous day ranges. All-integer
    * arithmetic + selected dates.
    */
  def compactedLayoutQ(spark: SparkSession, dir: String): DataFrame =
    loadCompacted(spark, prebuild(spark, dir))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("day")).as("n_days"),
        min("day").as("day_lo"), max("day").as("day_hi"))
      .withColumn("grp_fill_ppm",
        expr(s"(n_rows * 1000000) div ${Sketches.CompactTargetRows}"))
      .select("grp", "n_rows", "n_days", "day_lo", "day_hi",
        "grp_fill_ppm")
      .orderBy("grp")

  override def queries: Map[String, Q] = Map(
    "compacted_layout" -> (compactedLayoutQ _))

  override def oracles: Map[String, String] = Map(
    "compacted_layout" ->
      s"""WITH g AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |c AS (SELECT day, n_rows,
        |    CAST(COALESCE(sum(n_rows) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      // ${Sketches.CompactTargetRows} AS BIGINT) AS grp
        |  FROM g)
        |SELECT grp, CAST(sum(n_rows) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_days,
        |  min(day) AS day_lo, max(day) AS day_hi,
        |  CAST((sum(n_rows) * 1000000) // ${Sketches.CompactTargetRows}
        |    AS BIGINT) AS grp_fill_ppm
        |FROM c GROUP BY grp
        |ORDER BY grp""".stripMargin)
}
