package graft.tools

/** Dev tool: time a single SparkEntry query N times.
  * Usage: runMain graft.tools.TimeOne <queryName> [sfDir] [reps]
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = graft.Engine.session("graft-time-one")
    for (q <- name.split(",").toSeq; i <- 1 to reps) {
      val fn = graft.SparkEntry.queries(q)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val t1 = System.nanoTime()
      spark.catalog.clearCache()
      println(f"TIMEONE $q rep$i: ${(t1 - t0) / 1e9}%.2f s rows=$n")
    }
    spark.stop()
  }
}
