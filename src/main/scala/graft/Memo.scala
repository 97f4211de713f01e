package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** Session-scoped memo of SMALL derived frames (model selections,
  * fitted parameters, forecast horizons — O(#series) rows, never raw
  * data), eagerly localCheckpoint'ed: materialized once, lineage
  * truncated, blocks outside the SQL cache manager so
  * `catalog.clearCache()` between queries doesn't force a rebuild.
  * Multiple operators composing the same expensive derivation (e.g.
  * model_select inside forecast_series) each pay it once per session.
  *
  * A memo frame is a single-partition leaf with exact statistics
  * ([[org.apache.spark.sql.graftbridge.Bridge.smallCheckpoint]]). A
  * plain checkpoint reports unknown partitioning and a size estimated
  * from the build's plan (petabytes above a join), so Catalyst put an
  * `Exchange` above every aggregate, sort and join over a KB-sized
  * frame, and each ran as its own job. With `SinglePartition` and the
  * exact row count and size, those operators run in the reading stage.
  * A join keeps a single-partition side unshuffled only while the
  * side is ≤ `spark.sql.maxSinglePartitionBytes` (128m by default), so
  * a memo frame that outgrows "small" shuffles again instead of
  * funnelling a large join into one task.
  *
  * Keys are tag + the input frame's canonicalized plan TEXT —
  * file-source relations compare by reference, so plan-object
  * equality would never hit. Entries of stopped sessions are evicted;
  * builds are serialized so concurrent first calls can't double-run.
  */
object Memo {

  private val cache = TrieMap.empty[(SparkSession, String), DataFrame]

  /** Bench instrumentation only: evict so a sweep re-times builds cold. */
  private[graft] def clearCacheForBench(): Unit = cache.clear()

  /** The memo key text for a frame: canonicalized plan text PLUS the
    * ids of any RDD-backed leaves. Canonicalization normalizes
    * exprIds — which also means two DIFFERENT checkpointed frames
    * with the same schema print identically (a LogicalRDD leaf
    * carries no identity in its canonical text), so a memo built on
    * one checkpoint would silently serve a memo keyed on another.
    * The RDD ids restore that identity; everything else stays
    * canonical so re-reads of the same source still hit.
    */
  def planKey(input: DataFrame): String = {
    val plan = input.queryExecution.analyzed
    val rddIds = plan.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }
    // LocalRelation (Seq.toDF) prints only its OUTPUT attributes — two
    // local frames with the same schema but different rows would share
    // a key and silently serve each other's memos; hash the rows in
    // (local data is small by construction, so this is cheap)
    val localHashes = plan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.hashCode
    }
    // A file-source LogicalRelation's canonical text carries no file
    // PATH — two same-schema parquet corpora in one session would
    // share a key and silently serve each other's cached indexes
    // (caught live: the upper-rung fixture read the testdata IVF
    // index). Append each file-source leaf's root paths, the same
    // identity-restoring escape as the RDD ids / LocalRelation hashes.
    val sourcePaths = plan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.mkString(",")
          case other => other.toString // JDBC etc.: toString carries url/table
        }
      case v2: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        v2.table.name()
    }
    plan.canonicalized.treeString +
      (if (rddIds.isEmpty) "" else rddIds.mkString("|rdd:", ",", "")) +
      (if (localHashes.isEmpty) ""
       else localHashes.mkString("|local:", ",", "")) +
      (if (sourcePaths.isEmpty) ""
       else sourcePaths.mkString("|src:", ";", ""))
  }

  def small(tag: String, input: DataFrame)(build: => DataFrame): DataFrame =
    small(tag, input.sparkSession, planKey(input))(build)

  /** The keyed entry, for a frame whose plan is a pure function of
    * `key` within a session: the caller skips building (and analyzing)
    * an input plan just to compute its [[planKey]]. */
  def small(tag: String, spark: SparkSession, key: String)(
      build: => DataFrame): DataFrame = {
    cache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    cache.synchronized {
      cache.getOrElseUpdate((spark, tag + "|" + key), Bridge.smallCheckpoint(build))
    }
  }
}
