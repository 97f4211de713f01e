package graft.relational

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.Tables

/** Pins the versioned-store invariants the snapshot_store_serve hash
  * gate can't see: time travel, atomic pointer visibility, and
  * batch-id idempotence.
  */
class SnapshotStoreSpec extends SparkSpec {

  private def fixture(): (String,
      org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val d = Files.createTempDirectory("graft_snapstore_spec").toString + "/st"
    val (old, diff) = SnapshotDiff.carvedDiffWide(spark, sf)
    SnapshotStore.init(old, d)
    (d, old, diff)
  }

  test("init lands v1; apply lands v2; v1 stays readable (time travel)") {
    val (d, old, diff) = fixture()
    assert(SnapshotStore.currentVersion(spark, d) == 1L)
    val v2 = SnapshotStore.applyDiff(spark, d, diff)
    assert(v2 == 2L && SnapshotStore.currentVersion(spark, d) == 2L)
    // time travel: the old version is untouched by the apply
    val v1 = SnapshotStore.readAt(spark, d, 1L)
    assert(v1.count() == old.count())
    assert(v1.exceptAll(old).isEmpty && old.exceptAll(v1).isEmpty)
    // current == the in-session apply, bit-for-bit
    val expect = SnapshotDiff.applyDiff(old, diff)
    val cur = SnapshotStore.readCurrent(spark, d)
    assert(cur.count() == expect.count())
    assert(cur.exceptAll(expect).isEmpty && expect.exceptAll(cur).isEmpty)
  }

  test("a dangling version directory is invisible until the pointer commits") {
    val (d, old, _) = fixture()
    // simulate a crash mid-apply: v=2 written, pointer never swung
    old.limit(10).write.parquet(s"$d/v=2")
    assert(SnapshotStore.currentVersion(spark, d) == 1L)
    val cur = SnapshotStore.readCurrent(spark, d)
    assert(cur.count() == old.count(), "reader saw the uncommitted version")
  }

  test("pointer commit is one overwrite-rename: a committed store " +
      "never reads as uninitialized, even with a stray commit temp") {
    val (d, _, diff) = fixture()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(d), spark.sparkContext.hadoopConfiguration)
    // simulate a crash BEFORE the rename: the temp exists, the live
    // pointer is untouched — readers must still see v1, never 0
    val tmp = new org.apache.hadoop.fs.Path(s"$d/_current_tmp")
    val out = fs.create(tmp, true)
    out.write("99".getBytes("UTF-8")); out.close()
    assert(SnapshotStore.currentVersion(spark, d) == 1L,
      "a stray commit temp changed visibility")
    // the next commit overwrites the EXISTING pointer in one rename
    // (the old delete-then-rename window is structurally gone): the
    // pointer file exists before, during intent, and after
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$d/_current")))
    SnapshotStore.applyDiff(spark, d, diff)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$d/_current")))
    assert(SnapshotStore.currentVersion(spark, d) == 2L)
  }

  test("two-writer race: exactly one apply wins, the loser errors " +
      "cleanly with the store intact") {
    val (d, _, diff) = fixture()
    SnapshotStore.applyDiff(spark, d, diff) // v2 committed
    val before = SnapshotStore.readCurrent(spark, d).collect().toSet
    // writer A has claimed v3 (in flight, not yet committed)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(d), spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$d/_claims"))
    fs.create(new org.apache.hadoop.fs.Path(s"$d/_claims/v3"), false)
      .close()
    // writer B loses the put-if-absent race BEFORE touching data
    intercept[java.util.ConcurrentModificationException] {
      SnapshotStore.applyDiff(spark, d, diff)
    }
    assert(SnapshotStore.currentVersion(spark, d) == 2L)
    assert(SnapshotStore.readCurrent(spark, d).collect().toSet == before,
      "the losing writer changed visible content")
    // operator recovery (documented): drop the dead claim, retry wins
    fs.delete(new org.apache.hadoop.fs.Path(s"$d/_claims/v3"), false)
    assert(SnapshotStore.applyDiff(spark, d, diff) == 3L)
    assert(SnapshotStore.currentVersion(spark, d) == 3L)
  }

  test("applyDiffOnce: a re-delivered batch id is a no-op") {
    val (d, _, diff) = fixture()
    SnapshotStore.applyDiffOnce(spark, d, diff, 7L)
    assert(SnapshotStore.currentVersion(spark, d) == 2L)
    val snap = SnapshotStore.readCurrent(spark, d).collect().toSet
    // the bare apply is NOT idempotent (re-unioned insert images
    // would duplicate) — the marker must make the replay a no-op
    SnapshotStore.applyDiffOnce(spark, d, diff, 7L)
    assert(SnapshotStore.currentVersion(spark, d) == 2L)
    assert(SnapshotStore.readCurrent(spark, d).collect().toSet == snap)
    // a NEW batch id applies (and version advances)
    SnapshotStore.applyDiffOnce(spark, d,
      diff.filter(org.apache.spark.sql.functions.col("kind") === "update"),
      8L)
    assert(SnapshotStore.currentVersion(spark, d) == 3L)
  }

  test("tableChangesRange: per-pair diffs with commit versions, " +
      "catch-up across the whole chain") {
    import org.apache.spark.sql.functions.{col, lit}
    val (d, _, diff) = fixture()
    SnapshotStore.applyDiffOnce(spark, d, diff, 1L) // v2
    // batch 2 must CHANGE v2 (re-applying the same update images is a
    // content no-op): bump the updated keys' prices again
    SnapshotStore.applyDiffOnce(spark, d,
      diff.filter(col("kind") === "update")
        .withColumn("new_price", col("new_price") + lit(1.0)), 2L) // v3
    def pair(v: Long) = SnapshotDiff.classified(
      SnapshotDiff.asOld(SnapshotStore.readAt(spark, d, v))
        .join(SnapshotDiff.asNew(SnapshotStore.readAt(spark, d, v + 1)),
          col("k_old") === col("k_new"), "full_outer"))
      .withColumn("_commit_version", lit(v + 1))
    val got = SnapshotStore.tableChangesRange(spark, d, 1L, 3L)
    val want = pair(1L).unionByName(pair(2L))
    assert(pair(1L).count() > 0 && pair(2L).count() > 0,
      "both commits must carry real changes")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // filtering the range to one commit equals the single-pair face
    val one = got.filter(col("_commit_version") === 3L)
      .drop("_commit_version")
    val single = pair(2L).drop("_commit_version")
    assert(one.exceptAll(single).isEmpty && single.exceptAll(one).isEmpty)
    // degenerate ranges refuse loudly
    intercept[IllegalArgumentException] {
      SnapshotStore.tableChangesRange(spark, d, 2L, 2L)
    }
  }

  test("vacuum expires only versions behind the retention window") {
    val (d, _, diff) = fixture()
    SnapshotStore.applyDiffOnce(spark, d, diff, 1L) // v2
    SnapshotStore.applyDiffOnce(spark, d,
      diff.filter(org.apache.spark.sql.functions.col("kind") === "update"),
      2L) // v3
    val cur = SnapshotStore.readCurrent(spark, d).collect().toSet
    SnapshotStore.vacuum(spark, d, retain = 1L)
    // v1 expired; v2 (the one retained predecessor) and v3 survive
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(d), spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$d/v=1")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$d/v=2")))
    assert(SnapshotStore.currentVersion(spark, d) == 3L)
    assert(SnapshotStore.readCurrent(spark, d).collect().toSet == cur,
      "vacuum changed what readers see")
    assert(SnapshotStore.readAt(spark, d, 2L).count() > 0)
  }

  test("purge forgets the keys in EVERY version, touches nothing else") {
    import org.apache.spark.sql.functions.col
    val (d, old, diff) = fixture()
    SnapshotStore.applyDiff(spark, d, diff)
    val keys = SnapshotStore.purgeSet(spark, sf)
    val expectV1 = old.join(keys, Seq("o_orderkey"), "left_anti")
    val expectV2 = SnapshotDiff.applyDiff(old, diff)
      .join(keys, Seq("o_orderkey"), "left_anti")
    SnapshotStore.purgeKeys(spark, d, keys)
    // pointer untouched: purge changes content, not visibility
    assert(SnapshotStore.currentVersion(spark, d) == 2L)
    val v1 = SnapshotStore.readAt(spark, d, 1L)
    val v2 = SnapshotStore.readAt(spark, d, 2L)
    for ((got, want, name) <- Seq((v1, expectV1, "v1"), (v2, expectV2, "v2"))) {
      assert(got.join(keys, Seq("o_orderkey"), "left_semi").isEmpty,
        s"$name still contains purged keys")
      assert(got.count() == want.count() &&
        got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"$name lost or changed non-purged rows")
    }
    // idempotent by algebra: a re-run removes nothing further
    SnapshotStore.purgeKeys(spark, d, keys)
    val v2Again = SnapshotStore.readAt(spark, d, 2L)
    assert(v2Again.count() == expectV2.count() &&
      v2Again.exceptAll(expectV2).isEmpty)
  }

  test("purge recovers a version half-swapped by a prior crash") {
    import org.apache.spark.sql.functions.col
    val (d, old, diff) = fixture()
    SnapshotStore.applyDiff(spark, d, diff)
    val keys = SnapshotStore.purgeSet(spark, sf)
    // simulate the crash window: live renamed away, staging never
    // promoted — v=1 is missing, v=1_old holds the content
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(d), spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(s"$d/v=1"),
      new org.apache.hadoop.fs.Path(s"$d/v=1_old"))
    SnapshotStore.purgeKeys(spark, d, keys)
    val v1 = SnapshotStore.readAt(spark, d, 1L)
    val expectV1 = old.join(keys, Seq("o_orderkey"), "left_anti")
    assert(v1.count() == expectV1.count() &&
      v1.exceptAll(expectV1).isEmpty && expectV1.exceptAll(v1).isEmpty,
      "crash recovery lost the half-swapped version")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$d/v=1_old")))
  }

  test("table_changes from the landed chain equals the in-session diff") {
    import org.apache.spark.sql.functions.col
    val (d, old, diff) = fixture()
    SnapshotStore.applyDiff(spark, d, diff)
    val fromStore = SnapshotDiff.classified(
      SnapshotDiff.asOld(SnapshotStore.readAt(spark, d, 1L))
        .join(SnapshotDiff.asNew(SnapshotStore.readAt(spark, d, 2L)),
          col("k_old") === col("k_new"), "full_outer"))
    val (_, neu) = {
      val o = Tables.orders(spark, sf)
      SnapshotDiff.carved(o)
    }
    val inSession = SnapshotDiff.classified(
      SnapshotDiff.asOld(old).join(SnapshotDiff.asNew(neu),
        col("k_old") === col("k_new"), "full_outer"))
    assert(fromStore.count() == inSession.count())
    assert(fromStore.exceptAll(inSession).isEmpty &&
      inSession.exceptAll(fromStore).isEmpty,
      "changes served from durable versions diverge from the batch diff")
  }
}
