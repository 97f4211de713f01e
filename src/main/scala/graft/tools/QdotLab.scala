package graft.tools

import org.apache.spark.sql.functions._

/** Dev lab: time the quantized dot kernels — HOF chain vs QuantFold —
  * over a synthetic (n × 64-float) corpus.
  * Usage: runMain graft.tools.QdotLab [n] [reps]
  */
object QdotLab {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 200000L
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = graft.Engine.session("graft-qdot-lab")

    val df = spark.range(n)
      .selectExpr(
        "transform(sequence(1, 64), i -> cast(sin(id * i) as float)) as x",
        "transform(sequence(1, 64), i -> cast(cos(id * i) as float)) as y")
      .localCheckpoint(true)

    val hof =
      """cast(aggregate(zip_with(x, y, (xv, yv) ->
        |  cast(cast(xv as double) * cast(yv as double) as decimal(24,12))),
        |  cast(0 as decimal(24,12)),
        |  (acc, v) -> cast(acc + v as decimal(24,12))) as double)""".stripMargin

    def time(name: String, c: org.apache.spark.sql.Column): Unit =
      for (i <- 1 to reps) {
        val t0 = System.nanoTime()
        val s = df.select(sum(c).as("s")).collect()(0).getDouble(0)
        println(f"QDOTLAB $name rep$i: ${(System.nanoTime() - t0) / 1e9}%.2f s sum=$s%.6f")
      }

    time("hof", expr(hof))
    time("qdot", expr("qdot(x, y)"))
    time("qdot_col", graft.plans.VectorExpressions.qdot(col("x"), col("y")))
    spark.stop()
  }
}
