package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** graft's one registry of session-scoped state: memo frames, fitted
  * models, retrieval indexes and persisted-store fixtures that are
  * built once per session and reused by later requests. Every cache site
  * calls [[once]]; no other object keeps its own map. The contract:
  *
  *  - **Key.** An entry is keyed by `(session, tag, keyParts)`. `tag`
  *    is a unique `"<Object>.<def>"` literal; `keyParts` is kept as a
  *    structural `Seq` of values (strings, numbers) and never joined
  *    into one string, so `("a|b", "c")` and `("a", "b|c")` are
  *    different keys. A frame
  *    input enters as its [[planKey]], a persisted store as its dir,
  *    followed by the build's parameters (columns, thresholds, …).
  *  - **Locking.** Per key: concurrent first calls for one key run
  *    `build` once and all get its value, while builds of other keys
  *    proceed in parallel. `build` runs outside the registry map's own
  *    update, so a build may itself call [[once]] for other keys.
  *  - **Failures.** A build that throws caches nothing; the next call
  *    builds again.
  *  - **Eviction.** Entries of stopped sessions are dropped on every
  *    lookup, so a new session is never served an old session's value.
  *  - **Bench clearing.** [[clearAll]] empties the registry, so the
  *    next call of every site builds cold (what `Caches.clearAll` does
  *    between bench sweeps).
  *
  * [[small]] is the entry for SMALL derived frames (model selections,
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
  */
object Memo {

  /** One entry; its monitor serializes the entry's build. */
  private final class Slot { var value: Option[Any] = None }

  private val registry =
    new ConcurrentHashMap[(SparkSession, String, Seq[Any]), Slot]()

  /** The value built for `(spark, tag, keyParts)` in this session,
    * building it on the first call (see the contract above). */
  def once[V](tag: String, spark: SparkSession, keyParts: Any*)(build: => V): V = {
    registry.keySet.removeIf(_._1.sparkContext.isStopped)
    val slot = registry.computeIfAbsent((spark, tag, keyParts.toSeq), _ => new Slot)
    slot.synchronized {
      slot.value match {
        case Some(v) => v.asInstanceOf[V]
        case None =>
          val v = build // a throw leaves the slot empty: nothing cached
          slot.value = Some(v)
          v
      }
    }
  }

  /** Empty the registry: every site's next call builds cold. */
  private[graft] def clearAll(): Unit = registry.clear()

  /** Entries held, built or not (for specs). */
  private[graft] def size: Int = registry.size

  /** The memo key text for a frame: canonicalized plan TEXT (file-source
    * relations compare by reference, so plan-object equality would
    * never hit) PLUS the ids of any RDD-backed leaves. Canonicalization normalizes
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
      build: => DataFrame): DataFrame =
    once("Memo.small", spark, tag, key)(Bridge.smallCheckpoint(build))
}
