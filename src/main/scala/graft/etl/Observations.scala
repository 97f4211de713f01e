package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The reference's `observations` table (etl/main.py:170-184: dataset,
  * geo, indicator, time, value panel), synthesized deterministically
  * from the warehouse tables — SURVEY §3.
  *
  * One observation per (region, nation, order priority, year) with
  * value = total order price. Gives the reference's exact shape (small
  * geo × indicator × year panel) at any SF, so every dashboard /
  * insight / forecast operator (SURVEY §2 B, C, E) runs on it.
  *
  * Scale: the orders⋈customer join shuffles on the key once (AQE may
  * demote to broadcast at small SF); nation and region are always
  * broadcast; the groupBy aggregates map-side first. The panel output
  * is tiny regardless of input SF — this is the classic 100 TB → KB
  * rollup shape.
  */
object Observations {

  def build(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderpriority"),
        year(col("o_orderdate")).as("year"), col("o_totalprice"))
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(spark, dir)
      .select("n_nationkey", "n_name", "n_regionkey")
    val r = Tables.region(spark, dir)
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("geo"),
        col("o_orderpriority").as("indicator"), col("year"))
      .agg(graft.Fp.dsum2(col("o_totalprice")).as("value"),
        count(lit(1)).as("n_obs"))
      .withColumn("dataset_code", lit("orders"))
      // indicator_label: the reference's code→label mapping
      // (etl/main.py:119-120, build_knowledge_base.py:35-48)
      .withColumn("indicator_label",
        concat(lit("Order volume – priority "),
          substring(col("indicator"), 1, 1)))
  }

  /** The session-memoized panel: [[build]]'s output is tiny
    * (geo × indicator × year — KBs regardless of input SF) and more
    * than a dozen dashboard / insight / forecast operators consume
    * it, several in multi-branch plans that would otherwise replay
    * the orders⋈dims rollup once per branch. Materialized once per
    * (session, warehouse), like any warehouse materializes its core
    * rollup. `etl_observations` (the materialization op itself) and
    * `explorer_filter` (the predicate-pushdown path, where filters
    * belong in the scan) stay on the direct build.
    *
    * Keyed by `dir`, not by the build's plan: [[Tables]] caches its
    * readers per (session, dir, table), so the plan is a pure function
    * of (session, dir), and a hit skips analyzing the 4-table join
    * (~25 ms) that only computing its [[graft.Memo.planKey]] would
    * need. A differently spelled `dir` misses and rebuilds.
    */
  def panel(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.small("obsPanel", spark, dir)(build(spark, dir))

  /** DuckDB CTE producing the identical panel — prefix for oracles. */
  val sqlCte: String =
    """WITH observations AS (
      |  SELECT r_name AS region, n_name AS geo,
      |         o_orderpriority AS indicator,
      |         CAST(year(o_orderdate) AS INTEGER) AS year,
      |         CAST(round(sum(CAST(o_totalprice AS DECIMAL(27,6))), 2) AS DOUBLE) AS value,
      |         count(*) AS n_obs,
      |         'orders' AS dataset_code,
      |         'Order volume – priority ' || substr(o_orderpriority, 1, 1)
      |           AS indicator_label
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY 1, 2, 3, 4)
      |""".stripMargin
}
