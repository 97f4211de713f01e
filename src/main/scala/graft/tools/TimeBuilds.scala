package graft.tools

/** Dev tool: time selected one-time builds (the Bench builds section)
  * N times, evicting every memo between reps so each rep is cold —
  * the focused iteration loop for build-phase optimization.
  * Usage: runMain graft.tools.TimeBuilds <name[,name...]|all> [sfDir] [reps]
  */
object TimeBuilds {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(
        "usage: runMain graft.tools.TimeBuilds <name[,name...]|all> [sfDir] [reps]")
      sys.exit(2)
    }
    val names = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = graft.Engine.session("graft-time-builds")
    val all = graft.Bench.buildFns(spark, sfDir)
    val picked =
      if (names == "all") all
      else {
        val want = names.split(",").toSet
        all.filter { case (n, _) => want(n) }
      }
    for (i <- 1 to reps) {
      graft.Caches.clearAll()
      // honor declared build order inside the picked subset — some
      // builds deliberately reuse an earlier build's memo
      picked.foreach { case (n, fn) =>
        val t0 = System.nanoTime()
        fn()
        println(f"TIMEBUILD $n rep$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
