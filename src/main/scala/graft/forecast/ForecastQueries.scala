package graft.forecast

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryModule
import graft.etl.Observations

/** SURVEY §2 E — forecasting block as driver queries, over the
  * observations panel. holt_forecast / gbt_forecast / model_select
  * are not ANSI-SQL-expressible (stateful recursions, tree model) —
  * they carry rows-only driver checks plus ScalaTest oracles.
  */
object ForecastQueries extends QueryModule {

  private def obs(s: SparkSession, d: String): DataFrame =
    Observations.panel(s, d)

  def lagFeatures(s: SparkSession, d: String): DataFrame =
    Forecast.lagFeatures(obs(s, d)).orderBy("geo", "indicator", "year")

  def gapFill(s: SparkSession, d: String): DataFrame =
    Forecast.gapFill(obs(s, d)).orderBy("geo", "indicator", "year")

  def trainTestSplit(s: SparkSession, d: String): DataFrame =
    Forecast.trainTestSplit(obs(s, d)).orderBy("geo", "indicator", "year")

  def rmseEval(s: SparkSession, d: String): DataFrame =
    Forecast.rmseNaive(obs(s, d))
      .select("geo", "indicator", "n_terms", "rmse_naive")
      .orderBy("geo", "indicator")

  def holtForecast(s: SparkSession, d: String): DataFrame =
    Forecast.holtForecast(obs(s, d)).orderBy("geo", "indicator", "year")

  def holtBacktestQ(s: SparkSession, d: String): DataFrame =
    Forecast.holtBacktest(obs(s, d)).orderBy("geo", "indicator", "fold")

  def backtestMaseQ(s: SparkSession, d: String): DataFrame =
    Forecast.backtestMase(obs(s, d))

  def forecastIntervalsQ(s: SparkSession, d: String): DataFrame =
    Forecast.forecastIntervals(obs(s, d))
      .orderBy("geo", "indicator", "year")

  def gbtForecast(s: SparkSession, d: String): DataFrame =
    Gbt.forecast(obs(s, d)).orderBy("geo", "indicator", "year")

  /** E5b — the given-model recursive horizon ([[Gbt.forecastGiven]]).
    * Running it also registers its oracle: the fitted ensemble's SQL
    * rendering is only known post-fit, and Verify dumps oracle_sql
    * AFTER running every query, so the model-derived text lands in
    * the dump exactly like a static entry.
    */
  def gbtForecastGiven(s: SparkSession, d: String): DataFrame = {
    val o = obs(s, d)
    val df = Gbt.forecastGiven(o)
    Gbt.modelFor(o).foreach(m => dynOracles.put("gbt_forecast_given_model",
      gbtGivenSql(Gbt.ensembleSql(m))))
    df.orderBy("geo", "indicator", "year")
  }

  def modelSelect(s: SparkSession, d: String): DataFrame =
    Forecast.modelSelect(obs(s, d)).orderBy("geo", "indicator")

  /** E12 — two-model rolling-origin backtest
    * ([[Forecast.backtestModelSelect]]); registers its model-derived
    * oracle on run, like [[gbtForecastGiven]].
    */
  def backtestModelSelectQ(s: SparkSession, d: String): DataFrame = {
    val o = obs(s, d)
    val df = Forecast.backtestModelSelect(o)
    Gbt.modelFor(o).foreach(m => dynOracles.put("backtest_model_select",
      backtestModelSelectSql(Gbt.ensembleSql(m))))
    df.orderBy("geo", "indicator")
  }

  /** E7b — given-model selection ([[Forecast.modelSelectGiven]]);
    * registers its model-derived oracle on run, like
    * [[gbtForecastGiven]].
    */
  def modelSelectGivenQ(s: SparkSession, d: String): DataFrame = {
    val o = obs(s, d)
    val df = Forecast.modelSelectGiven(o)
    Gbt.modelFor(o).foreach(m => dynOracles.put("model_select_given_model",
      modelSelectGivenSql(Gbt.ensembleSql(m))))
    df.orderBy("geo", "indicator")
  }

  /** E8b — given-model forecast series
    * ([[Forecast.forecastSeriesGiven]]); registers its oracle on run.
    */
  def forecastSeriesGivenQ(s: SparkSession, d: String): DataFrame = {
    val o = obs(s, d)
    val df = Forecast.forecastSeriesGiven(o)
    Gbt.modelFor(o).foreach(m =>
      dynOracles.put("forecast_series_given_model",
        forecastSeriesGivenSql(Gbt.ensembleSql(m))))
    df.orderBy("geo", "indicator", "year", "type")
  }

  def forecastSeries(s: SparkSession, d: String): DataFrame =
    Forecast.forecastSeries(obs(s, d))
      .orderBy("geo", "indicator", "year", "type")

  /** E10 — closed-form per-series OLS trend (slope, level, r²) from
    * ONE combinable aggregate: the proper least-squares counterpart
    * to C1's endpoint slope, and the textbook "ML as aggregation"
    * shape — at 100 TB a model per series costs exactly one shuffle
    * of six partial sums.
    *
    * Magnitude hygiene (cross-engine exactness): x is centered
    * (year−1998, |x|≤4) and y scaled to millions, so every per-row
    * decimal cast sits at magnitudes where DuckDB's double-arithmetic
    * cast cannot misround (≤1e9 in grid units), and every aggregate
    * sum stays below 2^53 when cast back to double — the final
    * slope/level/r² arithmetic is then identical double ops both
    * sides, no output quantization needed.
    */
  def olsTrend(s: SparkSession, d: String): DataFrame = {
    val pre = obs(s, d).select(col("geo"), col("indicator"),
      (col("year") - 1998).cast("long").as("x"),
      (col("value") / 1000000).as("y"))
    pre.groupBy("geo", "indicator")
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        expr("cast(sum(cast(y as decimal(27,6))) as double)").as("sy"),
        expr("cast(sum(cast(x * y as decimal(27,6))) as double)").as("sxy"),
        expr("cast(sum(cast(y * y as decimal(27,6))) as double)").as("syy"))
      .filter(col("n") >= 3 &&
        col("n") * col("sxx") - col("sx") * col("sx") > 0)
      .withColumn("dx",
        (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .withColumn("num",
        col("n").cast("double") * col("sxy") - col("sx") * col("sy"))
      .withColumn("slope_m_per_year", col("num") / col("dx"))
      .withColumn("level_1998_m",
        (col("sy") - col("slope_m_per_year") * col("sx")) / col("n"))
      .withColumn("dy",
        col("n").cast("double") * col("syy") - col("sy") * col("sy"))
      .withColumn("r2",
        when(col("dy") > 0, col("num") * col("num")
          / (col("dx") * col("dy"))))
      .select("geo", "indicator", "n", "slope_m_per_year",
        "level_1998_m", "r2")
      .orderBy("geo", "indicator")
  }

  override def queries: Map[String, Q] = Map(
    "ols_trend" -> (olsTrend _),
    "gap_fill" -> (gapFill _),
    "lag_features" -> (lagFeatures _),
    "train_test_split" -> (trainTestSplit _),
    "rmse_eval" -> (rmseEval _),
    "holt_forecast" -> (holtForecast _),
    "forecast_backtest" -> (holtBacktestQ _),
    "backtest_mase" -> (backtestMaseQ _),
    "forecast_intervals" -> (forecastIntervalsQ _),
    "backtest_model_select" -> (backtestModelSelectQ _),
    "gbt_forecast" -> (gbtForecast _),
    "gbt_forecast_given_model" -> (gbtForecastGiven _),
    "model_select_given_model" -> (modelSelectGivenQ _),
    "forecast_series_given_model" -> (forecastSeriesGivenQ _),
    "model_select" -> (modelSelect _),
    "forecast_series" -> (forecastSeries _))

  private val cte = Observations.sqlCte

  /** The α/β grid as SQL literals — as STRINGS cast to DOUBLE, not
    * numeric literals: a numeric literal parses to DECIMAL and
    * DuckDB's decimal→double cast is not correctly rounded (measured
    * 1 ulp off for 0.050000000000000044), while VARCHAR→DOUBLE is
    * strtod-exact. Doubles round-trip through toString, so e.g. 3·0.1
    * lands bit-identical as 0.30000000000000004 — writing "0.3" would
    * be a DIFFERENT double and the fold would diverge.
    */
  private val gridSql =
    Forecast.GridValues.map(v => s"'$v'").mkString(", ")

  /** holt_forecast oracle: the [[graft.plans.HoltGridFit]] fold as a
    * recursive CTE — per (series, grid point) the l/b/SSE state
    * advances one observation per recursion step with
    * operation-for-operation the codegen loop's arithmetic, then the
    * per-series SSE argmin (ties to smallest α, β — the loop's strict
    * `<` keeps the first minimum in (α, β) iteration order) emits the
    * 5-step linear horizon. ~125 series × 121 grid points × ~7 steps
    * at sf0.01: trivial for the oracle engine, while the Spark side
    * stays one codegen projection per series.
    */
  /** The Holt fit CTE chain through the per-series argmin (carrying
    * the winning SSE and the series length) — shared by the E2
    * oracle and the E14 interval oracle.
    */
  private val holtFitCtes: String =
    cte.replaceFirst("^WITH ", "WITH RECURSIVE ").trim + ",\n" +
      s"""s2 AS (SELECT geo, indicator,
        |    list(value ORDER BY year) AS vs, max(year) AS last_year
        |  FROM observations GROUP BY 1, 2 HAVING count(*) >= 2),
        |grid AS (SELECT CAST(ga.a AS DOUBLE) AS a, CAST(gb.be AS DOUBLE) AS be
        |  FROM (SELECT unnest([$gridSql]) AS a) ga,
        |       (SELECT unnest([$gridSql]) AS be) gb),
        |steps(geo, indicator, a, be, i, l, b, sse) AS (
        |  SELECT geo, indicator, a, be, 2,
        |    vs[1], vs[2] - vs[1], CAST(0 AS DOUBLE)
        |  FROM s2, grid
        |  UNION ALL
        |  SELECT st.geo, st.indicator, st.a, st.be, st.i + 1,
        |    st.a * s2.vs[st.i] + (1 - st.a) * (st.l + st.b),
        |    st.be * ((st.a * s2.vs[st.i] + (1 - st.a) * (st.l + st.b)) - st.l)
        |      + (1 - st.be) * st.b,
        |    st.sse + (s2.vs[st.i] - (st.l + st.b)) * (s2.vs[st.i] - (st.l + st.b))
        |  FROM steps st JOIN s2 ON s2.geo = st.geo AND s2.indicator = st.indicator
        |  WHERE st.i <= len(s2.vs)),
        |best AS (SELECT st.geo, st.indicator, st.l, st.b, st.sse,
        |    row_number() OVER (PARTITION BY st.geo, st.indicator
        |                       ORDER BY st.sse, st.a, st.be) AS rn
        |  FROM steps st JOIN s2 ON s2.geo = st.geo AND s2.indicator = st.indicator
        |  WHERE st.i = len(s2.vs) + 1)""".stripMargin

  private val holtForecastSql: String =
    holtFitCtes + s"""
        |SELECT b.geo, b.indicator,
        |  CAST(s2.last_year + u.h AS INTEGER) AS year,
        |  b.l + u.h * b.b AS forecast
        |FROM best b
        |JOIN s2 ON s2.geo = b.geo AND s2.indicator = b.indicator,
        |  UNNEST(range(1, ${Forecast.Horizon + 1})) u(h)
        |WHERE b.rn = 1
        |ORDER BY b.geo, b.indicator, year""".stripMargin

  /** E14 oracle: the fit chain + the naive-widening normal band
    * (σ·√h at z = 1.96; the '1.96' literal crosses engines as a
    * VARCHAR→DOUBLE cast — the gridSql lesson).
    */
  private val forecastIntervalsSql: String =
    holtFitCtes + s"""
        |SELECT b.geo, b.indicator,
        |  CAST(s2.last_year + u.h AS INTEGER) AS year,
        |  b.l + u.h * b.b AS forecast,
        |  CASE WHEN len(s2.vs) > 2 THEN
        |    b.l + u.h * b.b - CAST('1.96' AS DOUBLE)
        |      * sqrt(b.sse / (len(s2.vs) - 2)) * sqrt(u.h) END AS lo,
        |  CASE WHEN len(s2.vs) > 2 THEN
        |    b.l + u.h * b.b + CAST('1.96' AS DOUBLE)
        |      * sqrt(b.sse / (len(s2.vs) - 2)) * sqrt(u.h) END AS hi
        |FROM best b
        |JOIN s2 ON s2.geo = b.geo AND s2.indicator = b.indicator,
        |  UNNEST(range(1, ${Forecast.Horizon + 1})) u(h)
        |WHERE b.rn = 1
        |ORDER BY b.geo, b.indicator, year""".stripMargin

  /** E11 oracle — the holt_forecast recursive fold with a FOLD
    * dimension: each (series, k) recursion reads only vs[1..n-k]
    * (stopping early IS the slice), best-(α,β) per fold by the same
    * (sse, a, be) order, one-step forecast vs the held-out point.
    * RMSE replays the DECIMAL(27,6) quantize with both casts routed
    * through VARCHAR (the graft.sim.Vectors tie-rounding discipline).
    */
  private val holtBacktestCtes: String =
    cte.replaceFirst("^WITH ", "WITH RECURSIVE ").trim + ",\n" +
      s"""s2 AS (SELECT geo, indicator,
        |    list(value ORDER BY year) AS vs, list(year ORDER BY year) AS ys
        |  FROM observations GROUP BY 1, 2 HAVING count(*) >= 5),
        |folds AS (SELECT geo, indicator, vs, ys, len(vs) AS n,
        |    CAST(k AS INTEGER) AS k
        |  FROM s2, UNNEST(range(1, ${Forecast.BacktestFolds + 1})) u(k)),
        |grid AS (SELECT CAST(ga.a AS DOUBLE) AS a, CAST(gb.be AS DOUBLE) AS be
        |  FROM (SELECT unnest([$gridSql]) AS a) ga,
        |       (SELECT unnest([$gridSql]) AS be) gb),
        |steps(geo, indicator, k, a, be, i, l, b, sse) AS (
        |  SELECT geo, indicator, k, a, be, 2,
        |    vs[1], vs[2] - vs[1], CAST(0 AS DOUBLE)
        |  FROM folds, grid
        |  UNION ALL
        |  SELECT st.geo, st.indicator, st.k, st.a, st.be, st.i + 1,
        |    st.a * f.vs[st.i] + (1 - st.a) * (st.l + st.b),
        |    st.be * ((st.a * f.vs[st.i] + (1 - st.a) * (st.l + st.b)) - st.l)
        |      + (1 - st.be) * st.b,
        |    st.sse + (f.vs[st.i] - (st.l + st.b)) * (f.vs[st.i] - (st.l + st.b))
        |  FROM steps st JOIN folds f ON f.geo = st.geo
        |    AND f.indicator = st.indicator AND f.k = st.k
        |  WHERE st.i <= f.n - f.k),
        |best AS (SELECT st.geo, st.indicator, st.k, st.l, st.b,
        |    row_number() OVER (PARTITION BY st.geo, st.indicator, st.k
        |                       ORDER BY st.sse, st.a, st.be) AS rn
        |  FROM steps st JOIN folds f ON f.geo = st.geo
        |    AND f.indicator = st.indicator AND f.k = st.k
        |  WHERE st.i = f.n - f.k + 1),
        |fr AS (SELECT b.geo, b.indicator, b.k AS fold,
        |    CAST(f.ys[f.n - b.k + 1] AS INTEGER) AS year,
        |    b.l + b.b AS forecast, f.vs[f.n - b.k + 1] AS actual,
        |    (b.l + b.b) - f.vs[f.n - b.k + 1] AS err
        |  FROM best b JOIN folds f ON f.geo = b.geo
        |    AND f.indicator = b.indicator AND f.k = b.k
        |  WHERE b.rn = 1)""".stripMargin

  private val holtBacktestSql: String =
    holtBacktestCtes + """,
        |r AS (SELECT geo, indicator,
        |    sqrt(CAST(CAST(sum(CAST(CAST(err * err AS VARCHAR)
        |        AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE)
        |      / count(*)) AS rmse_bt,
        |    CAST(count(*) AS BIGINT) AS n_folds
        |  FROM fr GROUP BY 1, 2)
        |SELECT fr.geo, fr.indicator, fr.fold, fr.year, fr.forecast,
        |  fr.actual, fr.err, r.rmse_bt, r.n_folds
        |FROM fr JOIN r ON r.geo = fr.geo AND r.indicator = fr.indicator
        |ORDER BY fr.geo, fr.indicator, fr.fold""".stripMargin

  /** E12 oracle — the Holt fold chain (verbatim) + the GBT side as
    * ensemble predictions over each fold target's supervised feature
    * row, both RMSEs through the order-free DECIMAL(27,6) quantize,
    * and the E7 winner CASE (ties → gbt).
    */
  private def backtestModelSelectSql(predSql: String): String =
    holtBacktestCtes + ",\n" + lfSupCtes + s""",
        |hr AS (SELECT geo, indicator,
        |    sqrt(CAST(CAST(sum(CAST(CAST(err * err AS VARCHAR)
        |        AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE)
        |      / count(*)) AS rmse_bt_holt,
        |    CAST(count(*) AS BIGINT) AS n_folds
        |  FROM fr GROUP BY 1, 2),
        |gf AS (SELECT geo, indicator, fold, actual,
        |    ($predSql) AS forecast_gbt
        |  FROM fr JOIN sup USING (geo, indicator, year)),
        |gr AS (SELECT geo, indicator,
        |    sqrt(CAST(CAST(sum(CAST(CAST(
        |        (forecast_gbt - actual) * (forecast_gbt - actual)
        |        AS VARCHAR) AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE)
        |      / count(*)) AS rmse_bt_gbt,
        |    CAST(count(*) AS BIGINT) AS n_folds_gbt
        |  FROM gf GROUP BY 1, 2)
        |SELECT hr.geo, hr.indicator, hr.rmse_bt_holt, hr.n_folds,
        |  gr.rmse_bt_gbt, gr.n_folds_gbt,
        |  CASE WHEN gr.rmse_bt_gbt IS NOT NULL
        |        AND gr.rmse_bt_gbt <= hr.rmse_bt_holt
        |       THEN 'gbt' ELSE 'holt' END AS model_used
        |FROM hr LEFT JOIN gr ON gr.geo = hr.geo
        |  AND gr.indicator = hr.indicator
        |ORDER BY hr.geo, hr.indicator""".stripMargin

  /** Model-derived oracle entries, registered when their query runs
    * (Verify runs every query before dumping oracle_sql.json, so
    * registration always precedes the dump).
    */
  private val dynOracles =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** The supervised chain shared by every given-model oracle: full
    * lag/rolling features (the gated lag_features text), the holdout
    * split (the gated train_test_split text), and their join with the
    * reference's dropna filter — relationally identical to
    * [[Gbt.supervised]] (year is unique per series, so joining on it
    * alone equals the Spark join that also carries value).
    *
    * Cents are DECIMAL(38,0) here and in the lag_features / rmse_eval
    * oracles: DuckDB keeps a DECIMAL(18) product at 18 digits and
    * overflows once a value passes ~3e7 (cents² > 1e18), while Spark
    * widens its decimal(18,0) product to decimal(37,0). The integer
    * product is exact in both, so results are unchanged. The sum of
    * squares reaches DOUBLE through VARCHAR: DuckDB's direct cast of a
    * DECIMAL(38) above ~1e19 is not correctly rounded (Spark's is),
    * and the std's cancellation turns that last-bit difference into
    * a visibly different value; parsing the exact digits rounds once.
    */
  private val lfSupCtes: String =
    """lf AS (SELECT geo, indicator, year, value,
      |    lag(value, 1) OVER w AS lag1,
      |    lag(value, 2) OVER w AS lag2,
      |    lag(value, 3) OVER w AS lag3,
      |    CASE WHEN count(*) OVER f = 3 THEN
      |      CAST(sum(CAST(value AS DECIMAL(27,6))) OVER f AS DOUBLE) / 3
      |    END AS roll_mean_3,
      |    CASE WHEN count(*) OVER f = 3 THEN
      |      sqrt((CAST(CAST(sum(cents * cents) OVER f AS VARCHAR) AS DOUBLE)
      |            - CAST(sum(cents) OVER f AS DOUBLE)
      |              * CAST(sum(cents) OVER f AS DOUBLE) / 3) / 2) / 100
      |    END AS roll_std_3
      |  FROM (SELECT *,
      |          CAST(CAST(value AS DECIMAL(27,2)) * 100 AS DECIMAL(38,0))
      |            AS cents
      |        FROM observations)
      |  WINDOW w AS (PARTITION BY geo, indicator ORDER BY year),
      |         f AS (PARTITION BY geo, indicator ORDER BY year
      |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)),
      |sp AS (SELECT geo, indicator, year,
      |    CASE WHEN rn > n - least(5, greatest(2, CAST(n // 3 AS INT)))
      |         THEN 'test' ELSE 'train' END AS split
      |  FROM (SELECT geo, indicator, year,
      |          row_number() OVER (PARTITION BY geo, indicator
      |                             ORDER BY year) AS rn,
      |          count(*) OVER (PARTITION BY geo, indicator) AS n
      |        FROM observations)),
      |sup AS (SELECT lf.*, sp.split
      |  FROM lf JOIN sp ON lf.geo = sp.geo AND lf.indicator = sp.indicator
      |       AND lf.year = sp.year
      |  WHERE lf.lag3 IS NOT NULL AND lf.roll_std_3 IS NOT NULL)"""
      .stripMargin

  /** The [[Gbt.forecastGiven]] recursion unrolled over the fixed
    * horizon. st0 is the per-series supervised tail (last 3
    * post-dropna values + count + last year); each step derives the
    * lag/rolling features with the same size-fallback CASEs and fold
    * ordering as the Spark array expressions (mean folds
    * oldest→newest from 0, population std — `aggregate(wv, 0d, …)`'s
    * exact association), scores the ensemble CASE text verbatim, and
    * shifts the value history by the prediction. Qualified refs
    * (`q.h1`) keep the state shift reading source columns, never
    * sibling aliases.
    */
  private def gbtHorizonCtes(predSql: String): String = {
    val steps = (1 to Gbt.Horizon).map { k =>
      s"""f$k AS (SELECT geo, indicator, last_year, n, h1, h2, h3,
        |    CAST(last_year + $k AS DOUBLE) AS year,
        |    h1 AS lag1,
        |    CASE WHEN n >= 2 THEN h2 ELSE h1 END AS lag2,
        |    CASE WHEN n >= 3 THEN h3 ELSE h1 END AS lag3
        |  FROM st${k - 1}),
        |m$k AS (SELECT *,
        |    CASE WHEN n >= 3 THEN ((h3 + h2) + h1) / 3
        |         WHEN n = 2 THEN (h2 + h1) / 2
        |         ELSE h1 END AS roll_mean_3
        |  FROM f$k),
        |sd$k AS (SELECT *,
        |    CASE WHEN n >= 3 THEN
        |      sqrt((((h3 - roll_mean_3) * (h3 - roll_mean_3)
        |            + (h2 - roll_mean_3) * (h2 - roll_mean_3))
        |            + (h1 - roll_mean_3) * (h1 - roll_mean_3)) / 3)
        |    WHEN n = 2 THEN
        |      sqrt(((h2 - roll_mean_3) * (h2 - roll_mean_3)
        |            + (h1 - roll_mean_3) * (h1 - roll_mean_3)) / 2)
        |    ELSE CAST(0 AS DOUBLE) END AS roll_std_3
        |  FROM m$k),
        |p$k AS (SELECT *, ($predSql) AS p FROM sd$k),
        |st$k AS (SELECT q.geo, q.indicator, q.last_year, q.n + 1 AS n,
        |    q.p AS h1, q.h1 AS h2, q.h2 AS h3
        |  FROM p$k q)""".stripMargin
    }.mkString(",\n")
    s"""s0 AS (SELECT geo, indicator, max(year) AS last_year,
      |    CAST(count(*) AS INT) AS n, list(value ORDER BY year) AS vs
      |  FROM sup GROUP BY 1, 2),
      |st0 AS (SELECT geo, indicator, last_year, n,
      |    vs[n] AS h1,
      |    CASE WHEN n >= 2 THEN vs[n - 1] END AS h2,
      |    CASE WHEN n >= 3 THEN vs[n - 2] END AS h3
      |  FROM s0),
      |$steps""".stripMargin
  }

  private def gbtGivenSql(predSql: String): String = {
    val finals = (1 to Gbt.Horizon).map { k =>
      s"""SELECT geo, indicator, CAST(last_year + $k AS INTEGER) AS year,
        |  p AS forecast FROM p$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    cte.trim + ",\n" + lfSupCtes + ",\n" + gbtHorizonCtes(predSql) + "\n" +
      finals + "\nORDER BY geo, indicator, year"
  }

  /** The GBT holdout-RMSE chain ([[Gbt.holdoutRmseGiven]]): ensemble
    * predictions over the supervised test rows, squared errors summed
    * by the order-pinned fold — year-ascending from 0 with exact `+0`
    * padding to the 5-term maximum (test_size ≤ 5 always), matching
    * the Spark `aggregate(…, 0d, (a, x) -> a + x)` association term
    * for term — then the same candidacy rule (n_sup > n_test + 1).
    */
  private def gbtRmseCtes(predSql: String): String = {
    val ordered = (1 to 5)
      .map(k => s"COALESCE(ls[$k], 0)")
      .foldLeft("0")((acc, t) => s"($acc + $t)")
    s"""gpred AS (SELECT *, ($predSql) AS prediction
      |  FROM sup WHERE split = 'test'),
      |gse AS (SELECT geo, indicator, year,
      |    (value - prediction) * (value - prediction) AS se
      |  FROM gpred),
      |gcand AS (SELECT geo, indicator FROM sup GROUP BY 1, 2
      |  HAVING count(*) > sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) + 1),
      |grmse AS (SELECT g.geo, g.indicator,
      |    sqrt($ordered / g.nt) AS rmse_gbt
      |  FROM (SELECT geo, indicator, list(se ORDER BY year) AS ls,
      |          count(*) AS nt
      |        FROM gse GROUP BY 1, 2) g
      |  JOIN gcand c ON g.geo = c.geo AND g.indicator = c.indicator)"""
      .stripMargin
  }

  /** The Holt fold chain as ONE recursive CTE over two tagged domains
    * — 'full' (the whole series, for the winner's horizon) and 'hold'
    * (the train prefix, for the holdout refit) — with the exact
    * [[graft.plans.HoltGridFit]] arithmetic the gated holt_forecast
    * oracle established, then the per-domain SSE argmin and the
    * holdout RMSE via the order-pinned ≤5-term fold.
    */
  private val holtFoldCtes: String = {
    val ordered = (1 to 5).map { k =>
      s"""CASE WHEN $k <= h.ts THEN
        |      (h.test[$k] - (b.l + $k * b.b)) * (h.test[$k] - (b.l + $k * b.b))
        |      ELSE 0 END""".stripMargin
    }.foldLeft("0")((acc, t) => s"($acc\n      + $t)")
    s"""hs AS (SELECT geo, indicator, list(value ORDER BY year) AS vs,
      |    max(year) AS last_year
      |  FROM observations GROUP BY 1, 2 HAVING count(*) >= 2),
      |hh AS (SELECT geo, indicator, vs, last_year, len(vs) AS n,
      |    least(5, greatest(2, CAST(len(vs) // 3 AS INT))) AS ts
      |  FROM hs WHERE len(vs) >= 5),
      |hh2 AS (SELECT geo, indicator, vs[1:n - ts] AS train,
      |    vs[n - ts + 1:n] AS test, ts
      |  FROM hh WHERE n > ts + 2),
      |grid AS (SELECT CAST(ga.a AS DOUBLE) AS a, CAST(gb.be AS DOUBLE) AS be
      |  FROM (SELECT unnest([$gridSql]) AS a) ga,
      |       (SELECT unnest([$gridSql]) AS be) gb),
      |dom AS (SELECT geo, indicator, 'full' AS src, vs AS xs FROM hs
      |  UNION ALL
      |  SELECT geo, indicator, 'hold' AS src, train AS xs FROM hh2),
      |hsteps(geo, indicator, src, a, be, i, l, b, sse) AS (
      |  SELECT geo, indicator, src, a, be, 2,
      |    xs[1], xs[2] - xs[1], CAST(0 AS DOUBLE)
      |  FROM dom, grid
      |  UNION ALL
      |  SELECT st.geo, st.indicator, st.src, st.a, st.be, st.i + 1,
      |    st.a * d.xs[st.i] + (1 - st.a) * (st.l + st.b),
      |    st.be * ((st.a * d.xs[st.i] + (1 - st.a) * (st.l + st.b)) - st.l)
      |      + (1 - st.be) * st.b,
      |    st.sse + (d.xs[st.i] - (st.l + st.b)) * (d.xs[st.i] - (st.l + st.b))
      |  FROM hsteps st JOIN dom d ON d.geo = st.geo
      |    AND d.indicator = st.indicator AND d.src = st.src
      |  WHERE st.i <= len(d.xs)),
      |hbest AS (SELECT st.geo, st.indicator, st.src, st.l, st.b,
      |    row_number() OVER (PARTITION BY st.geo, st.indicator, st.src
      |                       ORDER BY st.sse, st.a, st.be) AS rn
      |  FROM hsteps st JOIN dom d ON d.geo = st.geo
      |    AND d.indicator = st.indicator AND d.src = st.src
      |  WHERE st.i = len(d.xs) + 1),
      |hrmse AS (SELECT b.geo, b.indicator,
      |    sqrt($ordered / h.ts) AS rmse_holt
      |  FROM hbest b JOIN hh2 h ON b.geo = h.geo AND b.indicator = h.indicator
      |  WHERE b.src = 'hold' AND b.rn = 1)""".stripMargin
  }

  /** The winner CASE shared by the selection and series oracles. */
  private val selSelect: String =
    """SELECT COALESCE(g.geo, h.geo) AS geo,
      |  COALESCE(g.indicator, h.indicator) AS indicator,
      |  g.rmse_gbt, h.rmse_holt,
      |  CASE WHEN g.rmse_gbt IS NULL THEN 'holt'
      |       WHEN h.rmse_holt IS NULL THEN 'gbt'
      |       WHEN g.rmse_gbt <= h.rmse_holt THEN 'gbt'
      |       ELSE 'holt' END AS model_used
      |FROM grmse g FULL JOIN hrmse h
      |  ON g.geo = h.geo AND g.indicator = h.indicator""".stripMargin

  private def modelSelectGivenSql(predSql: String): String =
    cte.replaceFirst("^WITH ", "WITH RECURSIVE ").trim + ",\n" +
      lfSupCtes + ",\n" + gbtRmseCtes(predSql) + ",\n" + holtFoldCtes + "\n" +
      selSelect + "\nORDER BY geo, indicator"

  private def forecastSeriesGivenSql(predSql: String): String = {
    val gbtFut = (1 to Gbt.Horizon).map { k =>
      s"""SELECT p.geo, p.indicator, CAST(p.last_year + $k AS INTEGER) AS year,
        |  p.p AS value, 'forecast' AS type
        |FROM p$k p JOIN sel ON sel.geo = p.geo AND sel.indicator = p.indicator
        |WHERE sel.model_used = 'gbt'""".stripMargin
    }.mkString("\nUNION ALL\n")
    cte.replaceFirst("^WITH ", "WITH RECURSIVE ").trim + ",\n" +
      lfSupCtes + ",\n" + gbtHorizonCtes(predSql) + ",\n" +
      gbtRmseCtes(predSql) + ",\n" + holtFoldCtes + ",\n" +
      s"""sel AS ($selSelect)
        |SELECT o.geo, o.indicator, o.year, o.value, 'historical' AS type
        |FROM observations o JOIN sel ON o.geo = sel.geo
        |  AND o.indicator = sel.indicator
        |WHERE sel.model_used = 'holt'
        |UNION ALL
        |SELECT s.geo, s.indicator, s.year, s.value, 'historical' AS type
        |FROM sup s JOIN sel ON s.geo = sel.geo AND s.indicator = sel.indicator
        |WHERE sel.model_used = 'gbt'
        |UNION ALL
        |SELECT b.geo, b.indicator, CAST(hs.last_year + u.h AS INTEGER) AS year,
        |  b.l + u.h * b.b AS value, 'forecast' AS type
        |FROM hbest b
        |JOIN hs ON hs.geo = b.geo AND hs.indicator = b.indicator
        |JOIN sel ON sel.geo = b.geo AND sel.indicator = b.indicator,
        |  UNNEST(range(1, ${Gbt.Horizon + 1})) u(h)
        |WHERE b.src = 'full' AND b.rn = 1 AND sel.model_used = 'holt'
        |UNION ALL
        |$gbtFut
        |ORDER BY geo, indicator, year, type""".stripMargin
  }

  override def oracles: Map[String, String] = staticOracles ++ dynOracles

  private val staticOracles: Map[String, String] = Map(
    "gap_fill" -> (cte +
      """SELECT geo, indicator, year,
        |  CASE WHEN value IS NOT NULL THEN value
        |       ELSE pv + (nv - pv) * (year - py) / (ny - py) END AS value_filled,
        |  value IS NULL AS is_filled
        |FROM (
        |  SELECT geo, indicator, year, value,
        |    last_value(value IGNORE NULLS) OVER back AS pv,
        |    last_value(CASE WHEN value IS NOT NULL THEN year END IGNORE NULLS)
        |      OVER back AS py,
        |    first_value(value IGNORE NULLS) OVER fwd AS nv,
        |    first_value(CASE WHEN value IS NOT NULL THEN year END IGNORE NULLS)
        |      OVER fwd AS ny
        |  FROM (
        |    SELECT f.geo, f.indicator, f.year, o.value
        |    FROM (
        |      SELECT geo, indicator, CAST(u.y AS INTEGER) AS year
        |      FROM (SELECT geo, indicator, min(year) AS y0, max(year) AS y1
        |            FROM observations GROUP BY 1, 2) b,
        |        UNNEST(range(b.y0, b.y1 + 1)) u(y)) f
        |    LEFT JOIN observations o
        |      ON o.geo = f.geo AND o.indicator = f.indicator
        |         AND o.year = f.year)
        |  WINDOW back AS (PARTITION BY geo, indicator ORDER BY year
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         fwd AS (PARTITION BY geo, indicator ORDER BY year
        |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |ORDER BY geo, indicator, year""".stripMargin),
    "holt_forecast" -> holtForecastSql,
    "forecast_intervals" -> forecastIntervalsSql,
    "forecast_backtest" -> holtBacktestSql,
    // E13: the fold chain + the naive candidate (the train prefix's
    // last value, vs[n - fold]) folded into per-series MAEs and the
    // MASE ratio
    "backtest_mase" -> (holtBacktestCtes + """,
        |frn AS (SELECT fr.*, f.vs[f.n - fr.fold] AS naive
        |  FROM fr JOIN folds f ON f.geo = fr.geo
        |    AND f.indicator = fr.indicator AND f.k = fr.fold),
        |m AS (SELECT geo, indicator,
        |    CAST(count(*) AS BIGINT) AS n_folds,
        |    CAST(CAST(sum(CAST(CAST(abs(err) AS VARCHAR)
        |        AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) / count(*)
        |      AS mae_holt,
        |    CAST(CAST(sum(CAST(CAST(abs(naive - actual) AS VARCHAR)
        |        AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) / count(*)
        |      AS mae_naive
        |  FROM frn GROUP BY 1, 2)
        |SELECT geo, indicator, n_folds, mae_holt, mae_naive,
        |  mae_holt / nullif(mae_naive, 0) AS mase
        |FROM m
        |ORDER BY geo, indicator""".stripMargin),
    "ols_trend" -> (cte +
      """, pre AS (SELECT geo, indicator,
        |    CAST(year - 1998 AS BIGINT) AS x,
        |    value / 1000000 AS y
        |  FROM observations),
        |s AS (SELECT geo, indicator, count(*) AS n,
        |    sum(x) AS sx, sum(x * x) AS sxx,
        |    CAST(sum(CAST(y AS DECIMAL(27,6))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x * y AS DECIMAL(27,6))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(y * y AS DECIMAL(27,6))) AS DOUBLE) AS syy
        |  FROM pre GROUP BY 1, 2),
        |d AS (SELECT *,
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS dx,
        |    CAST(n AS DOUBLE) * sxy - sx * sy AS num,
        |    CAST(n AS DOUBLE) * syy - sy * sy AS dy
        |  FROM s WHERE n >= 3 AND n * sxx - sx * sx > 0)
        |SELECT geo, indicator, n,
        |  num / dx AS slope_m_per_year,
        |  (sy - (num / dx) * sx) / n AS level_1998_m,
        |  CASE WHEN dy > 0 THEN num * num / (dx * dy) END AS r2
        |FROM d ORDER BY geo, indicator""".stripMargin),
    "lag_features" -> (cte +
      """SELECT geo, indicator, year, value,
        |  lag(value, 1) OVER w AS lag1,
        |  lag(value, 2) OVER w AS lag2,
        |  lag(value, 3) OVER w AS lag3,
        |  CASE WHEN count(*) OVER f = 3 THEN
        |    CAST(sum(CAST(value AS DECIMAL(27,6))) OVER f AS DOUBLE) / 3
        |  END AS roll_mean_3,
        |  CASE WHEN count(*) OVER f = 3 THEN
        |    sqrt((CAST(CAST(sum(cents * cents) OVER f AS VARCHAR) AS DOUBLE)
        |          - CAST(sum(cents) OVER f AS DOUBLE)
        |            * CAST(sum(cents) OVER f AS DOUBLE) / 3) / 2) / 100
        |  END AS roll_std_3
        |FROM (SELECT *,
        |        CAST(CAST(value AS DECIMAL(27,2)) * 100 AS DECIMAL(38,0)) AS cents
        |      FROM observations)
        |WINDOW w AS (PARTITION BY geo, indicator ORDER BY year),
        |       f AS (PARTITION BY geo, indicator ORDER BY year
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY geo, indicator, year""".stripMargin),
    "train_test_split" -> (cte +
      """SELECT geo, indicator, year, value,
        |  CASE WHEN rn > n - least(5, greatest(2, CAST(n // 3 AS INT)))
        |       THEN 'test' ELSE 'train' END AS split
        |FROM (
        |  SELECT geo, indicator, year, value,
        |    row_number() OVER (PARTITION BY geo, indicator ORDER BY year) AS rn,
        |    count(*) OVER (PARTITION BY geo, indicator) AS n
        |  FROM observations)
        |ORDER BY geo, indicator, year""".stripMargin),
    "rmse_eval" -> (cte +
      """SELECT geo, indicator, count(*) AS n_terms,
        |  sqrt(CAST(CAST(sum(dc * dc) AS VARCHAR) AS DOUBLE) / count(*)) / 100 AS rmse_naive
        |FROM (
        |  SELECT geo, indicator,
        |    CAST((CAST(value AS DECIMAL(27,2)) - CAST(lag1 AS DECIMAL(27,2)))
        |         * 100 AS DECIMAL(38,0)) AS dc
        |  FROM (
        |    SELECT geo, indicator, value,
        |      lag(value, 1) OVER (PARTITION BY geo, indicator ORDER BY year) AS lag1
        |    FROM observations)
        |  WHERE lag1 IS NOT NULL)
        |GROUP BY geo, indicator
        |ORDER BY geo, indicator""".stripMargin))
}
