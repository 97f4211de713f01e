package perfbench

import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's timed action must compute every projected column.
  * `count()` does not: Catalyst prunes projections it does not need,
  * so a count-timed query can skip most of its work.
  */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = graft.Engine.session("perfbench-test")

  test("the timed action evaluates a projection that count() prunes") {
    val calls = spark.sparkContext.longAccumulator("udf-calls")
    val twice = udf { (x: Long) => calls.add(1); x * 2 }
    val df = spark.range(0, 100, 1, 4).select(col("id"), twice(col("id")).as("twice"))

    assert(df.count() == 100)
    assert(calls.value == 0, "count() should prune the unused projection")

    val rows = Materialize.rows(df)
    assert(rows.length == 100)
    assert(calls.value == 100)
    assert(rows.map(_.getLong(1)).sorted.toSeq == (0L until 100L).map(_ * 2))
  }

  test("the result digest ignores row order and sees every value") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    val b = Seq((2L, "y"), (1L, "x")).toDF("k", "v")
    val c = Seq((1L, "x"), (2L, "z")).toDF("k", "v")
    val d = Materialize.digest(Materialize.rows(a))
    assert(d == Materialize.digest(Materialize.rows(b)))
    assert(d != Materialize.digest(Materialize.rows(c)))
  }
}
