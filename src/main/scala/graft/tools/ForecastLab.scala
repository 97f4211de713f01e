package graft.tools

/** Dev lab: time the recursive-horizon forecast in isolation — build
  * the pooled GBT once, then per rep clear ONLY the small-frame memo
  * so the recursion re-runs cold while the fitted model stays warm
  * (the bench's marginal-cost condition for forecast_series).
  * Usage: runMain graft.tools.ForecastLab [sfDir] [reps]
  */
object ForecastLab {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 4
    val spark = graft.Engine.session("graft-forecast-lab")
    val obs = graft.etl.Observations.panel(spark, sfDir)
    graft.forecast.Gbt.prebuild(obs)
    for (i <- 1 to reps) {
      graft.Memo.clearCacheForBench()
      var t0 = System.nanoTime()
      val n1 = graft.forecast.Gbt.forecast(obs).count()
      println(f"FLAB forecast rep$i: ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$n1")
      t0 = System.nanoTime()
      val n2 = graft.forecast.Gbt.forecastGiven(obs).count()
      println(f"FLAB forecastGiven rep$i: ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$n2")
    }
    spark.stop()
  }
}
