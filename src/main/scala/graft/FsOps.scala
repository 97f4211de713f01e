package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one commit path for graft's persisted layouts: every rename in
  * `src/main` happens here (the snapshot store's `_current` pointer,
  * an overwrite-rename through `FileContext`, is the one exception).
  * Callers run their Spark rewrite into a staging directory, then
  * commit it through one of three contracts:
  *
  *  1. WHOLE-DIRECTORY SWAP ([[swapDir]]): `live` -> `<live>_old`,
  *     staged -> `live`, drop `_old`. A crash between the renames
  *     leaves the data whole under `<live>_old`, which
  *     [[recoverSwap]] rolls back.
  *  2. PER-LIST SIDECAR SWAP for `list_id=`-partitioned index layouts
  *     ([[swapLists]]), with ROLL-BACK-FIRST recovery
  *     ([[recoverDeleteOld]]): a touched list moves to the
  *     `<sub>_delete_old` sidecar before its rewrite renames in, so a
  *     crash leaves every list recoverable; every maintenance entry
  *     rolls stranded lists back before it reads or sweeps anything.
  *     A rebalance's [[replaceLists]] surgery uses the same per-list
  *     renames; its crash contract is the caller's (serving quiesced,
  *     no cross-layout manifest).
  *  3. MARKER-ONCE ([[onceByMarker]]): an ingest batch runs at most
  *     once per (dir, batch id); the marker commits after the body.
  *
  * Hadoop's `FileSystem.rename` reports failure by RETURNING FALSE
  * (it only throws for some conditions), so an unchecked rename can
  * silently leave a layout half-swapped. Every rename here is checked
  * and fails loudly; stale `_old` leftovers from a previous crash are
  * cleared before they can make a rename fail.
  */
object FsOps {

  def fs(spark: SparkSession, dir: String): FileSystem =
    FileSystem.get(new java.net.URI(dir),
      spark.sparkContext.hadoopConfiguration)

  private def renameChecked(fs: FileSystem, src: Path, dst: Path): Unit =
    require(fs.rename(src, dst), s"rename $src -> $dst failed")

  /** Contract 1: swap `staged` over `live` via `live` -> `<live>_old`
    * -> delete. After the first checked rename the staged layout is
    * the only complete one, and a crash between the renames leaves
    * the data whole under `_old` ([[recoverSwap]] rolls it back). A
    * stale `_old` from a previous crash is deleted first so the rename
    * cannot silently fail against an existing destination.
    */
  def swapDir(fs: FileSystem, staged: String, live: String): Unit = {
    val st = new Path(staged)
    val lv = new Path(live)
    val old = new Path(live + "_old")
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(lv)) renameChecked(fs, lv, old)
    renameChecked(fs, st, lv)
    fs.delete(old, true); ()
  }

  /** Contract 1, recovery: settle a [[swapDir]] that a crash cut
    * between its renames. If `live` is absent, `<live>_old` is the
    * only copy and renames back; otherwise `_old` is a superseded copy
    * and is dropped.
    */
  def recoverSwap(fs: FileSystem, live: String): Unit = {
    val lv = new Path(live)
    val old = new Path(live + "_old")
    if (!fs.exists(old)) return
    if (fs.exists(lv)) fs.delete(old, true) else renameChecked(fs, old, lv)
  }

  private def listDirs(fs: FileSystem, root: Path): Seq[Path] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("list_id="))

  /** Contract 2, recovery: a list directory stranded under a
    * `<sub>_delete_old` sidecar whose live counterpart is ABSENT is
    * the surviving copy from an interrupted [[swapLists]] (renamed
    * out; crash before the staged rewrite renamed in) — roll it back
    * into the live layout. Lists present in BOTH places are
    * superseded copies, left for the next swap's stale sweep. The
    * `<sub>_delete_emptied` sidecar only ever holds committed-deleted
    * lists, so it is cleared, never rolled back. Every maintenance
    * entry that reads or rewrites a list layout runs this first; pure
    * serve loads don't mutate, so a post-crash serve before any
    * maintenance can still miss the stranded lists.
    */
  def recoverDeleteOld(fs: FileSystem, dir: String,
      subs: Seq[String]): Unit =
    for (sub <- subs) {
      for (old <- listDirs(fs, new Path(s"$dir/${sub}_delete_old"))) {
        val live = new Path(s"$dir/$sub/${old.getName}")
        if (!fs.exists(live)) renameChecked(fs, old, live)
      }
      fs.delete(new Path(s"$dir/${sub}_delete_emptied"), true)
    }

  /** Contract 2, commit: swap the `touched` lists of `<dir>/<sub>` for
    * their rewrites under `staged`. Each live list moves to the
    * `<sub>_delete_old` sidecar FIRST (outside the layout, so
    * partition discovery never sees it), then its rewrite renames in;
    * a crash mid-loop leaves every touched list's data recoverable by
    * [[recoverDeleteOld]], never destroyed. A touched list with no
    * staged rewrite was emptied: live-absent IS its final state, so
    * its rows park under `<sub>_delete_emptied`, which recovery only
    * clears (parking them under `_delete_old` would resurrect them).
    * A concurrent reader can still see a touched list briefly absent
    * (quiesce serving, or read through a snapshot).
    */
  def swapLists(fs: FileSystem, dir: String, sub: String, staged: String,
      touched: Seq[Long]): Unit = {
    val oldRoot = new Path(s"$dir/${sub}_delete_old")
    val emptiedRoot = new Path(s"$dir/${sub}_delete_emptied")
    // safe to clear: the caller's recovery already rolled back any
    // list whose only copy lived under _delete_old
    for (r <- Seq(oldRoot, emptiedRoot)) { fs.delete(r, true); fs.mkdirs(r) }
    for (lid <- touched) {
      val live = new Path(s"$dir/$sub/list_id=$lid")
      val next = new Path(s"$staged/list_id=$lid")
      if (fs.exists(next)) {
        renameChecked(fs, live, new Path(oldRoot, live.getName))
        renameChecked(fs, next, live)
      } else renameChecked(fs, live, new Path(emptiedRoot, live.getName))
    }
    for (r <- Seq(new Path(staged), oldRoot, emptiedRoot)) fs.delete(r, true)
    ()
  }

  /** A rebalance's per-list surgery on `<dir>/<sub>`: every staged
    * `list_id=` directory replaces its live namesake (or lands new),
    * then each list in `drop` that was not re-staged is deleted — so
    * a dropped list's rows go only after their new lists are in
    * place, and a re-staged id that is also dropped keeps its new
    * rows. Renames are checked; the staging dir is removed.
    */
  def replaceLists(fs: FileSystem, dir: String, sub: String,
      staged: String, drop: Seq[Long]): Unit = {
    val landed = listDirs(fs, new Path(staged)).map { st =>
      val live = new Path(s"$dir/$sub/${st.getName}")
      if (fs.exists(live)) fs.delete(live, true)
      renameChecked(fs, st, live)
      st.getName
    }.toSet
    for (l <- drop if !landed(s"list_id=$l"))
      fs.delete(new Path(s"$dir/$sub/list_id=$l"), true)
    fs.delete(new Path(staged), true); ()
  }

  /** Contract 3: run `body` at most once per (dir, batch id) — the
    * marker discipline behind every `*Once` ingest entry. A
    * `_appended/<batchId>` marker commits AFTER the body, so an
    * at-least-once re-delivered batch whose marker landed is a
    * no-op. The residual window — a crash after the body's write(s)
    * committed but before the marker — re-runs the body on replay;
    * each caller documents what that means for its layout (closable
    * only by a transactional manifest).
    */
  def onceByMarker(fs: FileSystem, dir: String, batchId: Long)
      (body: => Unit): Unit = {
    val m = new Path(s"$dir/_appended/$batchId")
    if (fs.exists(m)) return
    body
    fs.mkdirs(m)
    ()
  }
}
