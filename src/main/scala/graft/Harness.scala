package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** The one timing harness: Bench, `tools.TimeItems` and every amplified
  * rung time their items here, so each reading is the same ruler —
  * wall seconds, the Janino compiles inside the item, a throwing item
  * recorded as an error instead of a phantom success, and min/med/max
  * over sweeps — and each writes the same JSON stats.
  */
object Harness {

  /** One timed item. A body that returns a `Long` (a `count()`) records
    * it as the item's `rows`. A `build` item is a one-time build: in
    * warm mode it is timed on sweep 1 only (later sweeps would time a
    * memo hit), and it keeps the catalog cache its consumers read.
    */
  final case class Item(name: String, body: () => Any, build: Boolean = false)

  final case class Run(sec: Double, compiles: Long, rows: Option[Long],
      err: Option[String])

  /** Every run of one item; the stats are over its successful runs. */
  final case class Stat(name: String, runs: Seq[Run]) {
    val secs: Seq[Double] = runs.filter(_.err.isEmpty).map(_.sec)
    def ok: Boolean = secs.nonEmpty
    def min: Double = secs.min
    def med: Double = Harness.med(secs)
    def rows: Option[Long] = runs.flatMap(_.rows).lastOption

    /** {"med","min","max","n"} over successful runs (max doubles as the
      * spread indicator); an item with ZERO successful runs reports
      * {"err"} instead, a flaky one carries "errs" beside its stats;
      * every item carries "codegen_compiles", one count per run. */
    def json: String = {
      val comp = runs.map(_.compiles).mkString(""""codegen_compiles":[""", ",", "]")
      val rowsJson = rows.fold("")(n => s""","rows":$n""")
      val errs = runs.count(_.err.nonEmpty)
      if (!ok) "{\"err\":" + jstr(runs.flatMap(_.err).last) + rowsJson + "," + comp + "}"
      else s"""{"med":$med,"min":$min,"max":${secs.max},"n":${secs.size}""" + rowsJson +
        (if (errs > 0) s""","errs":$errs""" else "") + "," + comp + "}"
    }
  }

  /** Wall seconds of `f` and its value; exceptions propagate. */
  def seconds[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val v = f
    ((System.nanoTime() - t0) / 1e9, v)
  }

  /** One run of `f`: a throwing item records its error, not a ~4 ms
    * phantom success (r8's regenerated events parquet broke 15 queries
    * and the bench reported them as the fastest entries of the round).
    * The compile count shows cache thrash: once sweep 1 has warmed the
    * generated-class cache, a later sweep that still compiles means
    * the cache is too small (see Engine.CodegenCacheEntries).
    */
  def time(f: => Any): Run = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (sec, out) = seconds {
      try Right(f) catch { case e: Throwable =>
        Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    }
    Run(sec, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
      out.toOption.collect { case n: Long => n }, out.left.toOption)
  }

  /** Run `items` in order, `sweeps` times, and print one `tag` line per
    * run. Memos are cleared at the top of each sweep, so builds are
    * timed cold every sweep; `warm` clears them before sweep 1 only and
    * times build items on sweep 1 only, so later sweeps carry no
    * fresh-build churn.
    */
  def sweep(spark: SparkSession, tag: String, items: Seq[Item], sweeps: Int,
      warm: Boolean = false): Seq[Stat] = {
    val runs = items.map(_ => ArrayBuffer.empty[Run])
    for (s <- 1 to sweeps) {
      if (!warm || s == 1) Caches.clearAll()
      for ((item, rs) <- items.zip(runs) if !(warm && item.build && s > 1)) {
        val r = time(item.body())
        // release the item's persisted relations outside the timed
        // window, so one item's teardown doesn't bill the next
        if (!item.build) spark.catalog.clearCache()
        println(f"$tag ${item.name} ${r.sec}%.2f s" +
          r.rows.fold("")(n => s" ($n rows)") + r.err.fold("")(e => s" ERR $e"))
        rs += r
      }
    }
    items.zip(runs).map { case (item, rs) => Stat(item.name, rs.toSeq) }
  }

  def med(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  /** {name: stats, ...} in item order. */
  def block(stats: Seq[Stat]): String =
    stats.map(s => jstr(s.name) + ":" + s.json).mkString("{", ",", "}")

  /** A rung's artifact: its items' stats plus the untimed facts it
    * derives (sizes, geometry, recall); a fact is a number or a string.
    */
  def artifact(tool: String, stats: Seq[Stat], facts: Seq[(String, Any)]): String = {
    val fs = facts.map { case (k, v) =>
      jstr(k) + ":" + (v match { case s: String => jstr(s); case x => x.toString })
    }
    s"""{"tool":${jstr(tool)},"items":${block(stats)},"facts":${fs.mkString("{", ",", "}")}}"""
  }

  /** Write `json` to the path given on the command line, if any —
    * never to a fixed name, so a re-run cannot overwrite a committed
    * artifact. */
  def write(path: Option[String], json: String): Unit =
    path.foreach(p => java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json + "\n"))
}
