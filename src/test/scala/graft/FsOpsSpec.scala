package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

/** [[FsOps]] is the one commit path for persisted layouts: the
  * whole-directory swap fails loudly and keeps the live data whole,
  * and no other file in `src/main` renames or looks up a FileSystem.
  */
class FsOpsSpec extends SparkSpec {

  test("swapDir with a missing staged dir throws and keeps the live data under _old") {
    val root = Files.createTempDirectory("graft_fsops").toString
    val live = s"$root/layout"
    Files.createDirectories(new java.io.File(live).toPath)
    Files.write(new java.io.File(s"$live/part-0").toPath, "rows".getBytes("UTF-8"))
    val fs = FsOps.fs(spark, root)
    intercept[Exception](FsOps.swapDir(fs, s"$root/never_staged", live))
    val old = new java.io.File(s"${live}_old/part-0")
    assert(old.isFile && new String(Files.readAllBytes(old.toPath), "UTF-8") == "rows",
      "the live data is not whole under <live>_old")
    // the roll-back half of the contract puts it back
    FsOps.recoverSwap(fs, live)
    assert(fs.exists(new Path(s"$live/part-0")) && !fs.exists(new Path(s"${live}_old")))
  }

  test("no rename or FileSystem lookup in src/main outside FsOps") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (no ${root.getPath})")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
        .filter(_.getName.endsWith(".scala"))
    // the snapshot store's `_current` pointer commits by ONE atomic
    // FileContext overwrite-rename, which FileSystem.rename cannot do
    val pointerCommit = ("graft/relational/SnapshotStore.scala",
      "fc.rename(fs.makeQualified(tmp), fs.makeQualified(pointer(dir)),")
    val offending = files(root).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString
      val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
      lines.indices.collect {
        case i if (lines(i).contains(".rename(") || lines(i).contains("FileSystem.get(")) &&
            rel != "graft/FsOps.scala" && (rel, lines(i).trim) != pointerCommit =>
          s"$rel:${i + 1}: ${lines(i).trim}"
      }
    }
    assert(offending.isEmpty,
      offending.mkString("renames or FileSystem lookups outside graft.FsOps:\n", "\n", ""))
  }
}
