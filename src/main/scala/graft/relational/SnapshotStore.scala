package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryModule
import graft.sources.Tables

/** K65 — a VERSIONED snapshot store: the K60 apply made durable. The
  * reference re-publishes whole tables per load (etl/main.py:75-96 +
  * load_modes full-refresh); a lake deployment keeps the table as a
  * version chain — each load lands as a new version built from the
  * prior one plus the churn-sized change feed, old versions stay
  * readable (time travel), and readers never see a half-applied load.
  * This is the table-format kernel (Delta/Iceberg's core loop)
  * reduced to its two invariants:
  *
  *  - ATOMIC VISIBILITY — versions live under `v=<n>/`; the only
  *    mutable state is the tiny `_current` pointer file, committed by
  *    write-temp + OVERWRITE-rename (`FileContext` with
  *    `Options.Rename.OVERWRITE`, atomic on a POSIX/HDFS namespace — a
  *    plain FileSystem rename cannot overwrite, and delete-then-rename
  *    would open a window in which a crash or concurrent reader
  *    sees NO pointer and the whole committed store reads as
  *    uninitialized). A crash at ANY point of an apply leaves the
  *    pointer readable at its old value: before the rename readers
  *    see the old version, after it the new one; a dangling `v=<n+1>/` directory that no reader can
  *    reach is overwritten by the next apply;
  *  - CHURN-SIZED WRITES stay the [[SnapshotDiff.applyDiff]] plan
  *    (anti join + upsert union); only the NEW version's rows are
  *    written, never a rewrite of history.
  *
  * Idempotent ingestion: [[applyDiffOnce]] guards by batch-id marker
  * (the SketchStore at-least-once discipline) — a re-delivered diff
  * batch is a no-op, because the bare apply is NOT idempotent (re-
  * unioning insert images duplicates them).
  *
  * WRITER MODEL — optimistic single-winner: each apply first claims
  * its target version by CREATE-EXCLUSIVE of `_claims/v<n>` (the
  * put-if-absent arbiter, Delta's commit-file protocol reduced to a
  * mutex); of two concurrent appliers exactly one wins and the loser
  * fails with [[java.util.ConcurrentModificationException]] BEFORE
  * touching data, store intact. A writer that crashes AFTER claiming
  * but before committing leaves a dangling claim that blocks the next
  * apply — deliberate (the blocked writer cannot distinguish a crash
  * from a slow in-flight commit); recovery is the operator removing
  * claims above `currentVersion` once no writer is live, exactly the
  * lost-writer posture of lake formats on non-transactional stores.
  */
object SnapshotStore extends QueryModule {

  private def pointer(dir: String) =
    new org.apache.hadoop.fs.Path(s"$dir/_current")

  private def commitPointer(spark: SparkSession, dir: String,
      v: Long): Unit = {
    val fs = graft.FsOps.fs(spark, dir)
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/_current_tmp")
    val out = fs.create(tmp, true)
    out.write(v.toString.getBytes("UTF-8"))
    out.close()
    // ONE atomic overwrite-rename — never delete-then-rename, whose
    // between-steps window makes every committed version unreachable
    // to a crash or concurrent reader (currentVersion would read 0)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      fs.getUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(fs.makeQualified(tmp), fs.makeQualified(pointer(dir)),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    ()
  }

  /** Put-if-absent claim of version `v` — the optimistic-concurrency
    * arbiter (see writer model above). Throws
    * ConcurrentModificationException if another writer holds it.
    */
  private def claimVersion(spark: SparkSession, dir: String,
      v: Long): Unit = {
    val fs = graft.FsOps.fs(spark, dir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_claims"))
    val claim = new org.apache.hadoop.fs.Path(s"$dir/_claims/v$v")
    // only the exists-collision maps to "lost the race" — any other
    // IO failure (permissions, disk) must propagate as itself
    try fs.create(claim, false).close()
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"snapshot store $dir: version $v already claimed by a " +
            "concurrent writer; this apply lost the race and wrote " +
            "nothing")
      case e: java.io.IOException if fs.exists(claim) =>
        throw new java.util.ConcurrentModificationException(
          s"snapshot store $dir: version $v already claimed by a " +
            s"concurrent writer ($e); this apply lost the race and " +
            "wrote nothing")
    }
  }

  /** The visible version, 0 if the store is uninitialized. */
  def currentVersion(spark: SparkSession, dir: String): Long = {
    val fs = graft.FsOps.fs(spark, dir)
    if (!fs.exists(pointer(dir))) 0L
    else {
      val in = fs.open(pointer(dir))
      val s = scala.io.Source.fromInputStream(in).mkString.trim
      in.close()
      s.toLong
    }
  }

  /** Initialize the chain: the full first load lands as v=1 (claimed
    * first, so two concurrent inits resolve to one winner).
    */
  def init(snapshot: DataFrame, dir: String): Unit = {
    claimVersion(snapshot.sparkSession, dir, 1L)
    snapshot.write.mode("overwrite").parquet(s"$dir/v=1")
    commitPointer(snapshot.sparkSession, dir, 1L)
  }

  /** Time travel: any committed version reads with an explicit
    * schema (the snapshot carries the orders-subset columns).
    */
  def readAt(spark: SparkSession, dir: String, v: Long): DataFrame =
    spark.read
      .schema("o_orderkey BIGINT, o_totalprice DOUBLE, " +
        "o_orderstatus STRING, o_orderdate TIMESTAMP")
      .parquet(s"$dir/v=$v")

  def readCurrent(spark: SparkSession, dir: String): DataFrame =
    readAt(spark, dir, currentVersion(spark, dir))

  /** Apply a wide change feed ([[SnapshotDiff.classifiedWide]]
    * columns) to the current version, landing v+1 and swinging the
    * pointer. The write happens BEFORE the pointer commit, so
    * readers see old-or-new, never a mix.
    */
  def applyDiff(spark: SparkSession, dir: String,
      diffWide: DataFrame): Long = {
    val v = currentVersion(spark, dir)
    require(v > 0, s"snapshot store at $dir is uninitialized")
    val next = v + 1
    claimVersion(spark, dir, next)
    SnapshotDiff.applyDiff(readAt(spark, dir, v), diffWide)
      .write.mode("overwrite").parquet(s"$dir/v=$next")
    commitPointer(spark, dir, next)
    next
  }

  /** [[applyDiff]] guarded by [[graft.FsOps.onceByMarker]] — the
    * idempotent entry point for an at-least-once stream of change
    * feeds (the streaming face's foreachBatch sink): a re-delivered
    * batch id is a no-op. Marker lands AFTER the pointer commit; the
    * residual window (crash between pointer and marker → one replayed
    * apply) re-applies the SAME diff to the new version, which for a
    * replay of delete/update images is harmless but duplicates insert
    * images — the same narrowest-window trade upsertBatchOnce
    * documents, closable only by a transactional manifest.
    */
  def applyDiffOnce(spark: SparkSession, dir: String,
      diffWide: DataFrame, batchId: Long): Unit =
    graft.FsOps.onceByMarker(graft.FsOps.fs(spark, dir), dir, batchId) {
      applyDiff(spark, dir, diffWide)
    }

  /** K75 — TABLE_CHANGES over a version RANGE (Delta's
    * `table_changes(from, to)`, Iceberg's incremental changelog): the
    * K58 diff algebra replayed per adjacent version pair, each change
    * row tagged with the `_commit_version` that introduced it. A
    * consumer that fell behind reads every landed change in order
    * from durable state — the catch-up path the single-pair K68 face
    * can't express. Work is churn-sized per pair (each diff is one
    * full-outer join of adjacent versions); the frame unions
    * toV − fromV such diffs and never rewrites anything.
    */
  def tableChangesRange(spark: SparkSession, dir: String,
      fromV: Long, toV: Long): DataFrame = {
    require(fromV >= 1 && toV > fromV,
      s"invalid change range [$fromV, $toV]")
    (fromV until toV).map { v =>
      SnapshotDiff.classified(
        SnapshotDiff.asOld(readAt(spark, dir, v))
          .join(SnapshotDiff.asNew(readAt(spark, dir, v + 1)),
            col("k_old") === col("k_new"), "full_outer"))
        .withColumn("_commit_version", lit(v + 1))
    }.reduce(_.unionByName(_))
  }

  /** VACUUM — drop versions older than `retain` behind the current
    * one (the storage-reclaim half of the version chain; Delta's
    * VACUUM, Iceberg's expire_snapshots). Only versions STRICTLY
    * below current − retain are removed, so the current version and
    * its `retain` predecessors stay time-travelable; the pointer is
    * never touched, so visibility is unaffected at any crash point
    * (a half-finished vacuum just leaves some expired versions on
    * disk for the next pass).
    */
  def vacuum(spark: SparkSession, dir: String, retain: Long = 1L): Unit = {
    val cur = currentVersion(spark, dir)
    val fs = graft.FsOps.fs(spark, dir)
    val keepFrom = cur - retain
    val status = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
    for (st <- status; name = st.getPath.getName
         if name.startsWith("v=") && name.drop(2).toLong < keepFrom)
      fs.delete(st.getPath, true)
    // expired versions' writer claims go with them (a claim at or
    // above keepFrom stays — it is still the commit record arbiter)
    val claims = new org.apache.hadoop.fs.Path(s"$dir/_claims")
    if (fs.exists(claims))
      for (st <- fs.listStatus(claims);
           name = st.getPath.getName
           if name.startsWith("v") && name.drop(1).toLong < keepFrom)
        fs.delete(st.getPath, false)
    ()
  }

  /** K71 — GDPR / right-to-be-forgotten PURGE: remove a key set from
    * EVERY retained version of the chain. Time travel is a liability
    * once the subject asks to be forgotten — vacuum only expires old
    * versions, and the K60 apply only changes the NEWEST one; this is
    * the one operation that must rewrite history (Delta/Iceberg pair
    * DELETE with VACUUM for the same reason). Per retained version:
    * one churn-agnostic LEFT ANTI join against the key set (broadcast
    * when the request batch is small, which it is by nature), written
    * to a staging dir and committed by [[graft.FsOps.swapDir]] — a
    * crash prefix leaves every version either wholly old or wholly
    * new, and the recovery guard at the top rolls a half-swapped
    * version (its `v=<n>_old`) back before rewriting it. The
    * `_current` pointer is NEVER touched: purge changes content, not
    * visibility.
    *
    * NOT idempotent-by-marker like [[applyDiffOnce]] — it is
    * idempotent by ALGEBRA (anti join of an already-purged version
    * removes nothing), so re-running a purge request is always safe
    * (spec-pinned).
    */
  def purgeKeys(spark: SparkSession, dir: String, keys: DataFrame): Unit = {
    val fs = graft.FsOps.fs(spark, dir)
    // crash recovery FIRST — a half-swapped version is not in the
    // live listing (its v=<n> dir was renamed away before the crash):
    // roll every orphan v=<n>_old back, then list versions fresh
    val entries = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName)
    for (name <- entries if name.startsWith("v=") && name.endsWith("_old"))
      graft.FsOps.recoverSwap(fs, s"$dir/${name.stripSuffix("_old")}")
    val versions = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName)
      .filter(_.startsWith("v=")).map(_.drop(2))
      .filter(s => s.nonEmpty && s.forall(_.isDigit)).map(_.toLong).sorted
    for (v <- versions) {
      val staged = s"$dir/v=${v}_purge_staging"
      readAt(spark, dir, v)
        .join(broadcast(keys.select("o_orderkey")),
          Seq("o_orderkey"), "left_anti")
        .write.mode("overwrite").parquet(staged)
      graft.FsOps.swapDir(fs, staged, s"$dir/v=$v")
    }
  }

  // --- driver-query face ---------------------------------------------

  private[relational] def storeDirFor(sfDir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${System.getProperty("java.io.tmpdir")}/graft_snapstore_$h"
  }

  /** Build the two-version chain for the gate: v1 = the carved OLD
    * snapshot, v2 = v1 + the carved diff (bench bills this as the
    * `snapshot_store` build).
    */
  def prebuild(spark: SparkSession, dir: String): String =
    graft.Memo.once("SnapshotStore.prebuild", spark, dir) {
      val p = storeDirFor(dir)
      // a bench re-run must rebuild the chain from scratch: drop
      // any prior chain so v numbers stay deterministic
      val fs = graft.FsOps.fs(spark, p)
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
      val (old, diff) = SnapshotDiff.carvedDiffWideMat(spark, dir)
      init(old, p)
      applyDiffOnce(spark, p, diff, 1L)
      p
    }

  /** K65 gate query — read the CURRENT version back from the landed
    * chain. The oracle is the K60 apply oracle VERBATIM (the
    * persisted-lifecycle discipline: a stored round-trip must serve
    * exactly what the in-session apply produces), so the hash gate
    * proves init → apply → pointer swing → read reconstructs the new
    * snapshot from durable state.
    */
  def storeServeQ(spark: SparkSession, dir: String): DataFrame =
    readCurrent(spark, prebuild(spark, dir)).orderBy("o_orderkey")

  /** The deterministic purge request: ~5% of order keys by the shared
    * md5 coin (tag `prg`) — carved over the whole orders table, since
    * purge requests arrive independently of which snapshot versions
    * happen to contain the subject.
    */
  private val PurgeMod = 20L

  private[relational] def purgeSet(spark: SparkSession,
      dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(expr(s"${Sketches.h48("prg", "o_orderkey")} % $PurgeMod = 0"))
      .select("o_orderkey")

  /** Build the two-version chain, then purge the carved key set from
    * both versions (bench bills this as `builds.snapshot_store_purged`
    * — its own chain, so the serve/travel/changes gates keep their
    * unpurged fixture).
    */
  def prebuildPurged(spark: SparkSession, dir: String): String =
    graft.Memo.once("SnapshotStore.prebuildPurged", spark, dir) {
      val p = storeDirFor(dir) + "_prg"
      val fs = graft.FsOps.fs(spark, p)
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
      val (old, diff) = SnapshotDiff.carvedDiffWideMat(spark, dir)
      init(old, p)
      applyDiffOnce(spark, p, diff, 1L)
      purgeKeys(spark, p, purgeSet(spark, dir))
      p
    }

  /** Build a THREE-version chain for the K75 range gate (its own
    * store — the serve/travel/changes gates keep their two-version
    * fixture): v1 = carved old, v2 = v1 + the carved diff, v3 = v2
    * with the updated keys' prices bumped again (a REAL second
    * commit — re-applying the same update images would be a content
    * no-op and the second pair diff would be empty).
    */
  def prebuildRange(spark: SparkSession, dir: String): String =
    graft.Memo.once("SnapshotStore.prebuildRange", spark, dir) {
      val p = storeDirFor(dir) + "_rng"
      val fs = graft.FsOps.fs(spark, p)
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
      val (old, diff) = SnapshotDiff.carvedDiffWideMat(spark, dir)
      init(old, p)
      applyDiffOnce(spark, p, diff, 1L)
      applyDiffOnce(spark, p,
        diff.filter(col("kind") === "update")
          .withColumn("new_price", col("new_price") + lit(1.0)), 2L)
      p
    }

  /** K75 gate query — the change feed over the WHOLE chain [v1, v3].
    * The oracle replays commit 2 as the K58 diff verbatim and commit
    * 3 as the price-bump algebra over the update set, so the hash
    * proves per-pair diff content AND commit attribution from
    * durable state.
    */
  def storeChangesRangeQ(spark: SparkSession, dir: String): DataFrame =
    tableChangesRange(spark, prebuildRange(spark, dir), 1L, 3L)
      .orderBy("_commit_version", "o_orderkey")

  /** K71 gate query — the CURRENT version after the purge rewrote
    * history. The oracle is the K60 apply algebra minus the carved
    * purge set, so the hash gate proves the rewrite removed exactly
    * the requested keys and nothing else.
    */
  def storePurgedQ(spark: SparkSession, dir: String): DataFrame =
    readCurrent(spark, prebuildPurged(spark, dir)).orderBy("o_orderkey")

  /** K67 gate query — TIME TRAVEL: read version 1 back from the
    * landed chain AFTER the apply landed v2 and swung the pointer.
    * The oracle is the carved OLD snapshot, so the hash gate proves
    * history stayed bit-intact under a later write (the invariant
    * vacuum's retention window exists to protect).
    */
  def storeTravelQ(spark: SparkSession, dir: String): DataFrame =
    readAt(spark, prebuild(spark, dir), 1L)
      .select("o_orderkey", "o_totalprice", "o_orderstatus", "o_orderdate")
      .orderBy("o_orderkey")

  /** K68 gate query — TABLE_CHANGES between two LANDED versions (the
    * Delta `table_changes` / Iceberg changelog read): the K58 diff
    * algebra replayed over v1 and v2 as read from disk. The oracle is
    * the in-session K58 diff oracle VERBATIM — the persisted-lifecycle
    * discipline: a change feed served from durable state must equal
    * the diff of the snapshots it was built from.
    */
  def storeChangesQ(spark: SparkSession, dir: String): DataFrame = {
    val p = prebuild(spark, dir)
    SnapshotDiff.classified(
      SnapshotDiff.asOld(readAt(spark, p, 1L))
        .join(SnapshotDiff.asNew(readAt(spark, p, 2L)),
          col("k_old") === col("k_new"), "full_outer"))
      .orderBy("o_orderkey")
  }

  override def queries: Map[String, Q] = Map(
    "snapshot_store_serve" -> (storeServeQ _),
    "snapshot_store_changes_range" -> (storeChangesRangeQ _),
    "snapshot_store_travel" -> (storeTravelQ _),
    "snapshot_store_changes" -> (storeChangesQ _),
    "snapshot_store_purged" -> (storePurgedQ _))

  override def oracles: Map[String, String] = Map(
    "snapshot_store_serve" -> SnapshotDiff.oracles("snapshot_apply"),
    // commit 2 = the K58 diff verbatim; commit 3 = the price-bump
    // algebra over the update set (old image = commit 2's new image)
    "snapshot_store_changes_range" -> (SnapshotDiff.diffCtes + """
      |SELECT * FROM (
      |  SELECT o_orderkey, kind, chg_mask,
      |    old_price, new_price, old_status, new_status,
      |    CAST(2 AS BIGINT) AS _commit_version
      |  FROM dd
      |  UNION ALL
      |  SELECT o_orderkey, 'update' AS kind, CAST(1 AS BIGINT) AS chg_mask,
      |    new_price AS old_price, new_price + 1.0 AS new_price,
      |    new_status AS old_status, new_status,
      |    CAST(3 AS BIGINT) AS _commit_version
      |  FROM dd WHERE kind = 'update')
      |ORDER BY _commit_version, o_orderkey""".stripMargin),
    "snapshot_store_travel" -> (SnapshotDiff.diffCtes + """
      |SELECT k_old AS o_orderkey, old_price AS o_totalprice,
      |  old_status AS o_orderstatus, old_date AS o_orderdate
      |FROM old
      |ORDER BY o_orderkey""".stripMargin),
    "snapshot_store_changes" -> SnapshotDiff.oracles("snapshot_diff"),
    "snapshot_store_purged" -> (SnapshotDiff.applyCtes + s""",
      |prg AS (SELECT o_orderkey FROM orders
      |  WHERE ${Sketches.sqlH48("prg", "o_orderkey")} % $PurgeMod = 0)
      |SELECT o_orderkey, o_totalprice, o_orderstatus, o_orderdate
      |FROM (SELECT * FROM kept UNION ALL SELECT * FROM ups) u
      |WHERE NOT EXISTS (SELECT 1 FROM prg
      |                  WHERE prg.o_orderkey = u.o_orderkey)
      |ORDER BY o_orderkey""".stripMargin))
}
