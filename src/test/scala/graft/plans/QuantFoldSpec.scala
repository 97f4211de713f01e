package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** QuantFold must be BIT-IDENTICAL to the zip_with/aggregate
  * decimal(24,12) HOF chain it replaces (graft.sim.Vectors.dot,
  * Pq.subDistSqD/fullDistSq): the fold's outputs land in
  * oracle-gated results, so "close" is not enough. This spec replays
  * both forms over random and adversarial inputs (nulls, null
  * elements, NaN/Inf, decimal-overflow magnitudes, empty and
  * length-mismatched arrays, out-of-range slices) and requires
  * null-safe equality on every row.
  */
class QuantFoldSpec extends SparkSpec {

  private def hofDot(x: String, y: String): String =
    s"""cast(aggregate(zip_with($x, $y, (xv, yv) ->
       |  cast(cast(xv as double) * cast(yv as double) as decimal(24,12))),
       |  cast(0 as decimal(24,12)),
       |  (acc, v) -> cast(acc + v as decimal(24,12))) as double)""".stripMargin

  private def hofDistSq(x: String, y: String, off: Int, len: Int): String =
    s"""cast(aggregate(
       |  zip_with(slice($x, ${off + 1}, $len), slice($y, ${off + 1}, $len),
       |    (xv, yv) -> cast((cast(xv as double) - cast(yv as double))
       |      * (cast(xv as double) - cast(yv as double)) as decimal(24,12))),
       |  cast(0 as decimal(24,12)),
       |  (acc, v) -> cast(acc + v as decimal(24,12))) as double)""".stripMargin

  private def mkRows(seed: Long): Seq[(Seq[java.lang.Float], Seq[java.lang.Float])] = {
    val rnd = new scala.util.Random(seed)
    def arr(n: Int): Seq[java.lang.Float] =
      Seq.fill(n)(java.lang.Float.valueOf(
        ((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(6) - 2)).toFloat))
    val random = Seq.fill(60)((arr(64), arr(64)))
    val edges: Seq[(Seq[java.lang.Float], Seq[java.lang.Float])] = Seq(
      (Seq.empty, Seq.empty),                        // empty → 0.0
      (arr(8), arr(5)),                              // length mismatch → null
      (arr(64), null),                               // null array → null
      (null, null),
      (Seq[java.lang.Float](1.0f, null, 2.0f), arr(3)), // null element → null
      (arr(10), arr(10)),                             // shorter than a slice window
      (arr(3), arr(3)))
    random ++ edges
  }

  test("NaN/Inf terms null in both forms; overflow throws in both (ANSI)") {
    import spark.implicits._
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    // non-finite terms: double→decimal cast nulls them in both modes
    val nonFinite = Seq(
      (Seq[java.lang.Float](Float.NaN, 1.0f),
        Seq[java.lang.Float](1.0f, 1.0f)),
      (Seq[java.lang.Float](Float.PositiveInfinity),
        Seq[java.lang.Float](1.0f)))
    val dfNf = nonFinite.toDF("x", "y")
    val diff = dfNf.select(
        expr(hofDot("x", "y")).as("a"),
        VectorExpressions.qdot(col("x"), col("y")).as("b"))
      .filter(!(col("a") <=> col("b")))
    assert(diff.count() === 0)
    assert(dfNf.select(expr(hofDot("x", "y")).as("a"))
      .filter(col("a").isNull).count() === 2)
    // finite overflow: under ANSI both forms throw
    val overflow = Seq(
      (Seq[java.lang.Float](1e13f, 1f), Seq[java.lang.Float](1e13f, 1f)),
      (Seq.fill(64)(java.lang.Float.valueOf(1e11f)),
        Seq.fill(64)(java.lang.Float.valueOf(1e11f))))
    for ((x, y) <- overflow) {
      val df = Seq((x, y)).toDF("x", "y")
      val hofThrew =
        try { df.select(expr(hofDot("x", "y"))).collect(); false }
        catch { case _: Throwable => true }
      val qfThrew =
        try {
          df.select(VectorExpressions.qdot(col("x"), col("y"))).collect()
          false
        } catch { case _: Throwable => true }
      assert(hofThrew === qfThrew)
      assert(hofThrew, s"expected ANSI cast failure for $x · $y")
    }
  }

  test("qdot ≡ HOF dot on random + adversarial float arrays") {
    import spark.implicits._
    val df = mkRows(42L).toDF("x", "y")
    val n = df.count()
    val diff = df.select(
        expr(hofDot("x", "y")).as("a"),
        VectorExpressions.qdot(col("x"), col("y")).as("b"))
      .filter(!(col("a") <=> col("b")))
    assert(diff.count() === 0)
    assert(n > 0)
  }

  test("qdistsq ≡ HOF sliced squared-L2 (float×float and double×float)") {
    import spark.implicits._
    val df = mkRows(7L).toDF("x", "y")
      // double-array left side: the residual-encode shape
      .withColumn("xd", expr("transform(x, v -> cast(v as double))"))
    for ((off, len) <- Seq((0, 16), (16, 16), (48, 16), (0, 64), (60, 16))) {
      val diffF = df.select(
          expr(hofDistSq("x", "y", off, len)).as("a"),
          VectorExpressions.qdistsq(col("x"), col("y"), off, len).as("b"))
        .filter(!(col("a") <=> col("b")))
      assert(diffF.count() === 0, s"float slice off=$off len=$len")
      val hofD =
        s"""cast(aggregate(
           |  zip_with(slice(xd, ${off + 1}, $len), slice(y, ${off + 1}, $len),
           |    (xv, yv) -> cast((xv - cast(yv as double))
           |      * (xv - cast(yv as double)) as decimal(24,12))),
           |  cast(0 as decimal(24,12)),
           |  (acc, v) -> cast(acc + v as decimal(24,12))) as double)""".stripMargin
      val diffD = df.select(
          expr(hofD).as("a"),
          VectorExpressions.qdistsq(col("xd"), col("y"), off, len).as("b"))
        .filter(!(col("a") <=> col("b")))
      assert(diffD.count() === 0, s"double slice off=$off len=$len")
    }
  }

  test("Md5PrefixArray ≡ the interpreted md5-prefix transform") {
    import spark.implicits._
    val rnd = new scala.util.Random(3L)
    val rows = Seq.fill(40)(
      Seq.fill(rnd.nextInt(30))(rnd.nextString(rnd.nextInt(12)))
        .map(s => s: String)) ++
      Seq(Seq.empty[String], Seq("", "a", "é中😀"))
    val df = rows.toDF("ws")
      .withColumn("wsn", expr("transform(ws, (w, i) -> IF(i = 1, NULL, w))"))
    for ((colName, p) <- Seq(("ws", 1000000007L), ("ws", -1L), ("wsn", -1L))) {
      val hof =
        if (p > 0)
          s"transform($colName, g -> cast(conv(substring(md5(g), 1, 8), 16, 10) as bigint) % $p)"
        else
          s"transform($colName, g -> cast(conv(substring(md5(g), 1, 8), 16, 10) as bigint))"
      val diff = df.select(
          expr(hof).as("a"),
          VectorExpressions.md5PrefixArray(col(colName), p).as("b"))
        .filter(!(col("a") <=> col("b")))
      assert(diff.count() === 0, s"$colName p=$p")
    }
  }

  test("qdot ≡ HOF dot over whole double arrays and via SQL name") {
    import spark.implicits._
    val df = mkRows(13L).toDF("x", "y")
      .withColumn("xd", expr("transform(x, v -> cast(v as double))"))
    val diff = df.select(
        expr(hofDot("xd", "y")).as("a"),
        expr("qdot(xd, y)").as("b"))
      .filter(!(col("a") <=> col("b")))
    assert(diff.count() === 0)
  }
}
