package graft.sim

import org.scalatest.funsuite.AnyFunSuite

/** Every IVF, PQ and IVFPQ face composes the stages of [[Search]]:
  * a source scan over `src/main/scala/graft/sim` fails when the
  * packed-row aggregate or the probe sort is spelled anywhere but in
  * its one definition, so a face cannot grow a private copy of the
  * scoring algebra again.
  */
class SearchStagesSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala")

  /** (file, enclosing def, line) of every line in graft/sim holding
    * `needle`; the enclosing def is the nearest `def` line above it.
    */
  private def sites(needle: String): Seq[(String, String, String)] = {
    assert(root.isDirectory, s"run from the project root (no ${root.getPath})")
    val defLine = """^\s*(?:private(?:\[\w+\])?\s+)?def\s+(\w+).*""".r
    val sim = new java.io.File(root, "graft/sim")
    sim.listFiles.toSeq.filter(_.getName.endsWith(".scala")).sortBy(_.getName)
      .flatMap { f =>
        val rel = root.toPath.relativize(f.toPath).toString
        val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
        lines.indices.filter(i => lines(i).contains(needle)).map { i =>
          val owner = (i to 0 by -1).iterator.map(lines(_)).collectFirst {
            case defLine(name) => name
          }.getOrElse("<none>")
          (rel, owner, s"$rel:${i + 1}: ${lines(i).trim}")
        }
      }
  }

  private def assertOnlyIn(needle: String,
      allowed: Set[(String, String)]): Unit = {
    val offending = sites(needle).collect {
      case (rel, owner, at) if !allowed((rel, owner)) => at
    }
    assert(offending.isEmpty,
      offending.mkString(s"`$needle` outside its Search definition:\n", "\n", ""))
  }

  test("packed rows are built only by Search.packCents and Search.packCodebook") {
    assertOnlyIn("sort_array(collect_list(", Set(
      "graft/sim/Search.scala" -> "packCents",
      "graft/sim/Search.scala" -> "packCodebook"))
  }

  test("the probe sort is spelled only in the Search.probes router") {
    assertOnlyIn("array_sort(", Set("graft/sim/Search.scala" -> "probes"))
  }
}
