package graft.forecast

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.{GBTRegressionModel, GBTRegressor}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** E5 + E6 — gradient-boosted-tree forecasting on lag features (the
  * reference trains per-series XGBoost models and forecasts the
  * horizon recursively, ml/forecast_utils.py:54-114). Spark MLlib's
  * GBTRegressor is the distributed-native equivalent: ONE pooled
  * model trains over every series at once (tree induction
  * parallelizes over rows and features — the documented substitution
  * for the reference's per-series model loop), and the recursive
  * multi-step forecast advances all series together: each horizon
  * step derives the next feature row per series from its value
  * history array, scores it, and appends the prediction back — a
  * constant number (Horizon) of distributed transforms, no driver
  * loop over series.
  */
object Gbt {

  val Horizon = 5

  private val featureCols =
    Array("year", "lag1", "lag2", "lag3", "roll_mean_3", "roll_std_3")

  private val assembler = new VectorAssembler()
    .setInputCols(featureCols).setOutputCol("features")

  /** The supervised frame: lag/rolling features + holdout split,
    * rows with a full feature vector (pandas dropna,
    * forecast_utils.py:44).
    */
  private def supervised(obs: DataFrame): DataFrame =
    Forecast.lagFeatures(obs)
      .join(Forecast.trainTestSplit(obs), Seq("geo", "indicator", "year", "value"))
      .filter(col("lag3").isNotNull && col("roll_std_3").isNotNull)

  /** The post-dropna history rows — what the reference concatenates
    * as `historical` when the GBT model wins (forecast_utils.py:112).
    */
  def supervisedHistory(obs: DataFrame): DataFrame =
    // read the memoized training build's checkpointed supervised
    // frame when it exists (every forecast-series caller has already
    // forced it) instead of re-running the lag-features + split join
    // per call; identical rows — feats IS supervised(obs) materialized
    trained(obs).map(_._2)
      .getOrElse(supervised(obs))
      .select("geo", "indicator", "year", "value")

  // One GBT training per (session, panel plan): gbt_forecast,
  // model_select and forecast_series all reuse it. The model is a
  // driver-side object — clearCache() only drops the (recomputable)
  // supervised frame's blocks, never invalidates the model.
  /** None when the panel has ZERO supervised train rows (too small /
    * too gappy to fit anything) — callers degrade to empty results
    * instead of surfacing an MLlib fit error.
    */
  private def trained(obs: DataFrame): Option[(GBTRegressionModel, DataFrame)] =
    graft.Memo.once("Gbt.trained", obs.sparkSession, graft.Memo.planKey(obs)) {
      // eager checkpoint: blocks live outside the SQL cache
      // (clearCache-proof, no re-mark dance), and the multi-branch
      // consumers (holdoutRmse reads feats through its counts AND
      // transform branches) read materialized blocks instead of
      // racing the cache fill
      val feats = graft.Profiling.phase("gbt.supervised") {
        Bridge.smallCheckpoint(supervised(obs)) }
      val train = feats.filter(col("split") === "train")
      if (train.isEmpty) None
      else graft.Profiling.phase("gbt.fit") {
        System.err.println("[graft] training pooled GBT forecaster")
        // fixed key-partitioned training layout (same reasoning as
        // the IVF quantizer): boosting runs ~2 jobs per tree over
        // the training frame, so task count — not data volume —
        // dominates at panel size, and a deterministic layout makes
        // the fitted model a pure function of (data, seed) instead
        // of the session's core count
        Some((new GBTRegressor()
          .setLabelCol("value").setFeaturesCol("features")
          .setMaxIter(20).setMaxDepth(3).setStepSize(0.1).setSeed(42)
          .fit(assembler.transform(train)
            .repartition(4, col("geo"), col("indicator"))
            .sortWithinPartitions("geo", "indicator", "year")), feats))
      }
    }

  /** Force the one-time pooled training (benchmark accounting: the
    * build is timed separately so consumers report marginal cost).
    */
  def prebuild(obs: DataFrame): Unit = { trained(obs); () }

  /** The fitted pooled model (training if needed) — exposed so the
    * given-model queries can render its trees into oracle SQL; None
    * on an untrainable panel.
    */
  def modelFor(obs: DataFrame): Option[GBTRegressionModel] =
    trained(obs).map(_._1)

  private def emptyForecast(obs: DataFrame): DataFrame =
    obs.select(col("geo"), col("indicator"), col("year"),
      lit(0d).as("forecast")).limit(0)

  /** Render the fitted ensemble as ONE engine-neutral SQL scalar over
    * the feature columns (year, lag1..3, roll_mean_3, roll_std_3):
    * each tree is a nested CASE mirroring `Node.predictImpl`'s
    * `features(i) <= threshold → left` walk, every threshold / leaf /
    * tree weight is a CAST('…' AS DOUBLE) STRING literal (strtod-exact
    * in both Spark and DuckDB — the gridSql discipline; a bare numeric
    * literal would parse as DECIMAL and DuckDB's decimal→double cast
    * misrounds), and the weighted sum is explicitly left-associated so
    * both engines fold the tree contributions in the same order.
    * After training, the model is just these constants — which makes
    * the whole recursive-horizon scoring algebra relational.
    */
  def ensembleSql(model: GBTRegressionModel): String = {
    def dlit(d: Double): String = s"CAST('$d' AS DOUBLE)"
    def nodeSql(n: org.apache.spark.ml.tree.Node): String = n match {
      case leaf: org.apache.spark.ml.tree.LeafNode => dlit(leaf.prediction)
      case in: org.apache.spark.ml.tree.InternalNode =>
        val s = in.split match {
          case c: org.apache.spark.ml.tree.ContinuousSplit => c
          case other => sys.error(
            s"unexpected categorical split in GBT over continuous features: $other")
        }
        s"CASE WHEN ${featureCols(s.featureIndex)} <= ${dlit(s.threshold)} " +
          s"THEN ${nodeSql(in.leftChild)} ELSE ${nodeSql(in.rightChild)} END"
    }
    model.trees.zip(model.treeWeights)
      .map { case (t, w) => s"(${dlit(w)} * ${nodeSql(t.rootNode)})" }
      .reduceLeft((a, b) => s"($a + $b)")
  }

  /** E5/E6 — recursive multi-step horizon forecast: one row per
    * (series, horizon step). Mirrors forecast_utils.py:88-110 —
    * features for step s come from the value history extended with
    * the model's own predictions for steps < s; the rolling std of
    * the recursive window is the population std (np.std), while the
    * training frame's is the sample std (pandas rolling().std()) —
    * the reference's own inconsistency, kept for fidelity.
    */
  def forecast(obs: DataFrame): DataFrame = graft.Memo.small("gbtForecast", obs) {
    trained(obs) match {
      case Some((model, feats)) =>
        recursiveHorizon(feats, df => model.transform(assembler.transform(df)))
      case None => emptyForecast(obs)
    }
  }

  /** E5b — the same recursive horizon with the fitted ensemble scored
    * as the explicit SQL scalar from [[ensembleSql]] instead of the
    * opaque `model.transform`: feature derivation, recursion, and
    * scoring are all relational, so the query sits inside the DuckDB
    * hash gate (the oracle replays the identical CASE text per
    * unrolled step). Same promotion pattern as the given-centroids
    * IVF variants: the FIT stays rows-only, the post-fit algebra is
    * gated — and since this shares [[recursiveHorizon]] with
    * [[forecast]], the gate transitively exercises the production
    * recursion code path.
    */
  def forecastGiven(obs: DataFrame): DataFrame =
    graft.Memo.small("gbtForecastGiven", obs) {
      trained(obs) match {
        case Some((model, feats)) =>
          // parse the rendered ensemble ONCE: the CASE tree is ~20
          // trees × depth 3, and re-parsing it per horizon step paid
          // Horizon× the (driver-side) parse cost
          val scoreCol = expr(ensembleSql(model))
          recursiveHorizon(feats,
            df => df.withColumn("prediction", scoreCol))
        case None => emptyForecast(obs)
      }
    }

  /** The shared recursive multi-step loop: horizon steps advance the
    * per-series value history with whatever `score` produces as the
    * `prediction` column.
    */
  private def recursiveHorizon(feats: DataFrame,
      score: DataFrame => DataFrame): DataFrame = {
    // Step s+1 references step s's `hist` (which embeds the model
    // scorer) from ~6 expressions; a repartition barrier between
    // steps stops CollapseProject from inlining the scorer into every
    // reference while keeping the WHOLE horizon one job (r19: the
    // former per-step eager checkpoint cost Horizon+1 driver-action
    // round trips over O(#series) rows — barriers make it 6 tiny
    // stages of one job, and the memoized consumer checkpoints the
    // final frame anyway).
    // Each step materializes before the next consumes it: step s+1
    // references step s's `hist` (which embeds the model scorer) from
    // ~6 expressions, and the checkpoint keeps every per-step plan
    // ONE scorer deep. (r19, measured-and-rejected: fusing the five
    // steps into one job behind repartition barriers — with the
    // scorer parsed once and a step data-column for byte-identical
    // stage codegen — read 1.12-1.23 s vs 0.89-0.94 s for the
    // given-model path on a same-host A/B: one plan carrying five
    // rendered ensembles costs the optimizer more than five
    // lineage-truncated single-CASE plans cost the scheduler.)
    var state = feats
      .groupBy("geo", "indicator")
      .agg(expr(
        "transform(array_sort(collect_list(struct(year, value))), s -> s.value)")
        .as("hist"),
        max("year").as("last_year"))
      .localCheckpoint(true)
    for (step <- 1 to Horizon) {
      val withFeats = state
        .withColumn("year", col("last_year") + step)
        .withColumn("lag1", element_at(col("hist"), -1))
        .withColumn("lag2", when(size(col("hist")) >= 2,
          element_at(col("hist"), -2)).otherwise(element_at(col("hist"), -1)))
        .withColumn("lag3", when(size(col("hist")) >= 3,
          element_at(col("hist"), -3)).otherwise(element_at(col("hist"), -1)))
        .withColumn("wv",
          expr("slice(hist, -least(size(hist), 3), least(size(hist), 3))"))
        .withColumn("roll_mean_3",
          expr("aggregate(wv, 0d, (a, x) -> a + x) / size(wv)"))
        .withColumn("roll_std_3", expr(
          """IF(size(wv) > 1,
            |   sqrt(aggregate(wv, 0d,
            |          (a, x) -> a + (x - roll_mean_3) * (x - roll_mean_3))
            |        / size(wv)),
            |   0d)""".stripMargin))
      val scored = score(withFeats)
      state = scored
        .select(col("geo"), col("indicator"),
          concat(col("hist"), array(col("prediction"))).as("hist"),
          col("last_year"))
        .localCheckpoint(true)
    }
    // the final history array ends with exactly the Horizon appended
    // predictions — read the forecasts off the final state (both
    // callers run under Memo.small, which checkpoints the result).
    state
      .select(col("geo"), col("indicator"), col("last_year"),
        posexplode(expr(s"slice(hist, -$Horizon, $Horizon)")))
      .select(col("geo"), col("indicator"),
        (col("last_year") + col("pos") + 1).as("year"),
        col("col").as("forecast"))
      .orderBy("geo", "indicator", "year")
  }

  /** E7b — holdout RMSE with the SQL-rendered ensemble
    * ([[ensembleSql]]) scoring the test split, and the per-series
    * error reduction as an order-pinned fold (year-ascending left
    * fold from 0d) instead of `avg` — associativity-free, so the
    * DuckDB oracle replays it term-for-term. Same candidacy rule as
    * [[holdoutRmse]].
    */
  def holdoutRmseGiven(obs: DataFrame): DataFrame = trained(obs) match {
    case None =>
      obs.select(col("geo"), col("indicator"),
        lit(0d).as("rmse_gbt")).limit(0)
    case Some((model, feats)) =>
    val scoreSql = ensembleSql(model)
    val counts = feats.groupBy("geo", "indicator")
      .agg(count(lit(1)).as("n_sup"),
        sum(when(col("split") === "test", 1).otherwise(0)).as("n_test"))
      .filter(col("n_sup") > col("n_test") + 1)
      .select("geo", "indicator")
    feats.filter(col("split") === "test")
      .withColumn("prediction", expr(scoreSql))
      .withColumn("se",
        (col("value") - col("prediction")) * (col("value") - col("prediction")))
      .join(counts, Seq("geo", "indicator"))
      .groupBy("geo", "indicator")
      .agg(count(lit(1)).as("nt"),
        expr("""aggregate(
          |  transform(array_sort(collect_list(struct(year, se))), s -> s.se),
          |  0d, (a, x) -> a + x)""".stripMargin).as("sse"))
      .withColumn("rmse_gbt", sqrt(col("sse") / col("nt")))
      .select("geo", "indicator", "rmse_gbt")
  }

  /** E12's GBT side — score each backtest fold target with the
    * rendered ensemble over its SUPERVISED feature row (features
    * derive from actual history: true one-step-ahead scoring of the
    * pooled model). Folds whose target year has no complete feature
    * row (the dropna contract) are absent — the caller surfaces the
    * scored count. Relational end-to-end given the fitted constants,
    * so it sits inside the hash gate like [[holdoutRmseGiven]].
    */
  def backtestGiven(obs: DataFrame, foldTargets: DataFrame): DataFrame =
    trained(obs) match {
      case None =>
        foldTargets.select(col("geo"), col("indicator"), col("fold"),
          col("year"), col("actual"), lit(0d).as("forecast_gbt")).limit(0)
      case Some((model, feats)) =>
        val scoreSql = ensembleSql(model)
        foldTargets.join(
          feats.select("geo", "indicator", "year", "lag1", "lag2",
            "lag3", "roll_mean_3", "roll_std_3"),
          Seq("geo", "indicator", "year"))
          .withColumn("forecast_gbt", expr(scoreSql))
          .select("geo", "indicator", "fold", "year", "actual",
            "forecast_gbt")
    }

  /** Per-series holdout RMSE of the pooled model on the test split —
    * the GBT candidate score for model selection
    * (forecast_utils.py:79-80). Series where GBT is not a candidate
    * (supervised rows ≤ test_size + 1) are excluded.
    */
  def holdoutRmse(obs: DataFrame): DataFrame = trained(obs) match {
    case None =>
      obs.select(col("geo"), col("indicator"),
        lit(0d).as("rmse_gbt")).limit(0)
    case Some((model, feats)) =>
    val counts = feats.groupBy("geo", "indicator")
      .agg(count(lit(1)).as("n_sup"),
        sum(when(col("split") === "test", 1).otherwise(0)).as("n_test"))
      .filter(col("n_sup") > col("n_test") + 1)
      .select("geo", "indicator")
    model.transform(assembler.transform(feats.filter(col("split") === "test")))
      .join(counts, Seq("geo", "indicator"))
      .groupBy("geo", "indicator")
      .agg(sqrt(avg(pow(col("value") - col("prediction"), 2))).as("rmse_gbt"))
  }
}
