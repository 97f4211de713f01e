package graft.tools

import graft.{Bench, Engine, Harness, SparkEntry}

/** Dev tool: time selected Bench items — one-time builds and
  * `SparkEntry` queries — over N sweeps with Bench's own loop: each
  * sweep evicts every memo and runs the picked builds (in declared
  * order; some reuse an earlier build's memo) before the picked
  * queries, so name a query's builds beside it to time its marginal
  * cost. The focused iteration loop for build- and query-level work.
  * Usage: runMain graft.tools.TimeItems <name[,name...]|all> [sfDir] [reps] [out.json]
  */
object TimeItems {

  val Usage =
    "usage: runMain graft.tools.TimeItems <name[,name...]|all> [sfDir] [reps] [out.json]"

  /** The picked item names (builds first, in declared order; `all` is
    * every build) and the sweep count, or the message to exit with.
    */
  def resolve(args: Seq[String], builds: Seq[String],
      queries: Set[String]): Either[String, (Seq[String], Int)] = {
    val want = args.headOption.toSeq.flatMap(_.split(",").toSeq)
    val unknown = want.filterNot(n => builds.contains(n) || queries(n))
    val reps = args.lift(2).fold(Option(1))(_.toIntOption.filter(_ >= 1))
    if (want == Seq("all") && reps.isDefined) Right((builds, reps.get))
    else if (want.isEmpty || reps.isEmpty) Left(Usage)
    else if (unknown.nonEmpty) Left(s"unknown item(s): ${unknown.mkString(",")}\n$Usage")
    else Right((builds.filter(want.contains) ++ want.filter(queries).distinct, reps.get))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = Engine.session("graft-time-items")
    val builds = Bench.buildFns(spark, sfDir)
    val queries = SparkEntry.queries
    resolve(args.toSeq, builds.map(_._1), queries.keySet) match {
      case Left(msg) =>
        System.err.println(msg)
        sys.exit(2)
      case Right((names, reps)) =>
        val buildFn = builds.toMap
        val items = names.map { n =>
          buildFn.get(n) match {
            case Some(f) => Harness.Item(n, f, build = true)
            case None => Harness.Item(n, () => queries(n)(spark, sfDir).count())
          }
        }
        val stats = Harness.sweep(spark, "TIMEITEMS", items, reps)
        Harness.write(args.lift(3), Harness.artifact("TimeItems", stats, Seq("sf" -> sfDir)))
    }
    spark.stop()
  }
}
