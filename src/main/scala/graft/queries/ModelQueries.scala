package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.automl.AutoTimeseries
import graft.core.{TimeSeriesOps => TS}
import graft.queries.Det._

/** Estimator queries (✖est — rows-only driver checks; accuracy is held to
  * metric bounds in ModelsSpec instead of hash equality, SURVEY §5). Each
  * runs a model family end-to-end on a monthly series resampled from
  * orders: target = mean o_totalprice, exog = order count. */
object ModelQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Monthly (ts, price, n_orders) series from the orders table. */
  private def monthlySeries(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    TS.resampleMean(o, "o_orderdate", "month", Seq("o_totalprice"))
      .select(col("ts_bucket").as("ts"),
              col("o_totalprice_mean").as("price"),
              col("n").cast("double").as("n_orders"))
      .orderBy(col("ts"))
  }

  private def forecastOut(df: DataFrame): DataFrame =
    df.select(tsStr(col("ts")).as("ts"),
              dround(col("yhat"), 4).as("yhat"),
              dround(col("mean_se"), 4).as("mean_se"),
              dround(col("mean_ci_lower"), 4).as("mean_ci_lower"),
              dround(col("mean_ci_upper"), 4).as("mean_ci_upper"))

  private def run(models: Seq[String]): Q = (s, d) => {
    val at = new AutoTimeseries(cv = 2, forecastPeriod = 8, modelTypes = models)
    at.fit(monthlySeries(s, d), "ts", "price")
    forecastOut(at.predict(s, 8))
  }

  private def leaderboardQ: Q = (s, d) => {
    val at = new AutoTimeseries(cv = 2, forecastPeriod = 8,
      modelTypes = Seq("ML", "Prophet", "VAR", "auto_SARIMAX"))
    at.fit(monthlySeries(s, d), "ts", "price")
    at.leaderboard(s).select(col("name"),
      dround(col("rmse"), 4).as("rmse"),
      dround(col("norm_rmse"), 4).as("norm_rmse"))
  }

  /** M2 — the ARIMA order search itself: the chosen (p,d,q) cell and its
    * AIC over the full monthly series (grid = one Spark job over the
    * series' cells; reference `param_finder.py:18-143`). */
  private def m2ParamSearch: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    val series = monthlySeries(s, d)
      .select(col("price")).collect().map(_.getDouble(0))
    val f = graft.models.ArimaCss.gridSearch(s, series)
    Seq((f.p.toLong, f.d.toLong, f.q.toLong, math.floor(f.aic * 1e4 + 0.5) / 1e4))
      .toDF("p", "d", "q", "aic")
  }

  /** M3 — stepwise Hyndman–Khandakar auto-ARIMA (`build_autoarimax.py:
    * 16-88` wraps pmdarima's stepwise search): chosen order, AIC and the
    * fit count implied by the hill-climb vs the 100-cell full grid. */
  private def m3Stepwise: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    val series = monthlySeries(s, d)
      .select(col("price")).collect().map(_.getDouble(0))
    val f = graft.models.ArimaCss.stepwiseSearch(s, series, m = 12)
    Seq((f.spec.p.toLong, f.spec.d.toLong, f.spec.q.toLong,
         f.spec.sP.toLong, f.spec.sD.toLong, f.spec.sQ.toLong,
         math.floor(f.aic * 1e4 + 0.5) / 1e4,
         graft.models.ArimaCss.arRootsOk(f).toString,
         graft.models.ArimaCss.maRootsOk(f).toString))
      .toDF("p", "d", "q", "sp", "sd", "sq", "aic", "ar_roots_ok", "ma_roots_ok")
  }

  /** M7 — multi-label wrapper with randomized hyperparameter search
    * (`ml_models.py:293-335`, RandomizedSearchCV): per target, sample
    * (maxDepth, maxIter, stepSize) triples, score by expanding-window CV,
    * forecast with the per-target winner. nIter scaled to the bounded
    * monthly fixture (the API default is the reference's 15). The chosen
    * params ride along as columns so the rows-only check sees them. */
  private def m7Multilabel: Q = (s, d) => {
    val base = monthlySeries(s, d)
    Seq("price", "n_orders").map { t =>
      val r = graft.models.GbtModel.fitSearched(
        base, graft.models.TsSchema("ts", t), cv = 2, h = 8, nIter = 6)
      val (m, p) = (r.model, r.params)
      m.predict(s, 8)
        .select(lit(t).as("target"), tsStr(col("ts")).as("ts"),
                dround(col("yhat"), 4).as("yhat"),
                lit(p.maxDepth.toLong).as("best_depth"),
                lit(p.maxIter.toLong).as("best_iter"),
                lit(p.stepSize).as("best_step"))
    }.reduce(_ unionByName _)
  }

  /** M6 (classification branch) — categorical target through the ML
    * path (`ml_models.py:306-335` + `analyze_problem_type`): a monthly
    * season label (deterministic function of the calendar) is classified
    * by GbtClassifyTs via the AutoTimeseries dispatch; the forecast rows
    * carry the predicted class, its label, and the TRUE future season, so
    * the rows-only check sees the decisions and ModelsSpec bounds the CV
    * error and future-label agreement. */
  private def m6MlClassify: Q = (s, d) => {
    val seasonOf = (m: org.apache.spark.sql.Column) =>
      when(m.isin(12, 1, 2), "winter").when(m.isin(3, 4, 5), "spring")
        .when(m.isin(6, 7, 8), "summer").otherwise("autumn")
    val base = monthlySeries(s, d)
      .select(col("ts"), seasonOf(month(col("ts"))).as("season"))
    val at = new AutoTimeseries(cv = 2, forecastPeriod = 8, modelTypes = Seq("ML"))
    at.fit(base, "ts", "season")
    val clf = at.bestModel.asInstanceOf[graft.models.GbtClassifyTs]
    at.predict(s, 8)
      .select(tsStr(col("ts")).as("ts"), col("yhat").as("class_idx"),
              element_at(lit(clf.classes.toArray),
                         (col("yhat") + 1).cast("int")).as("predicted_season"),
              seasonOf(month(col("ts"))).as("true_season"))
  }

  /** M5 (bootstrap-interval branch) — the Prophet-parity simulated
    * uncertainty intervals (`build_prophet.py:433-452`): same decomposable
    * fit, but yhat_lower/upper come from residual-bootstrap path quantiles
    * instead of the analytic ±1.96σ. Deterministic (fixed seed) but ✖est:
    * empirical-coverage ≈ nominal is asserted in ModelsSpec. */
  private def m5BootstrapCi: Q = (s, d) => {
    val m = new graft.models.DecomposableModel(
      seasonalPeriod = 12, intervalMode = "bootstrap")
    m.fit(monthlySeries(s, d), graft.models.TsSchema("ts", "price"), cv = 2, h = 8)
    forecastOut(m.predict(s, 8))
  }

  /** M6 (NLP-features branch) — a forecast whose signal lives in a TEXT
    * column (`ml_models.py:22,470`: CountVectorizer bag-of-words over
    * detected NLP predictors): promo months are announced only in the
    * `note` column; the GBT must route it through the frozen-vocabulary
    * bag-of-words to see the +40 lift. ✖est rows carry the forecast plus
    * both CV scores (text-aware vs text-dropped) so the rows-only check
    * sees the margin; ModelsSpec bounds it. */
  private def m6NlpForecast: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    var st = 11L
    def lcg(): Double = {
      st = st * 6364136223846793005L + 1442695040888963407L
      (st >>> 11).toDouble / 9007199254740992.0 - 0.5
    }
    val rows = (0 until 72).map { t =>
      val promo = t % 7 == 2
      val txt = (if (promo)
          "big promotion event announced with heavy discounts across all stores"
        else
          "ordinary trading conditions continued with no notable commercial events") +
        s" batch x$t"
      (java.sql.Timestamp.from(
         java.time.LocalDate.of(2015, 1, 1).plusMonths(t.toLong)
           .atStartOfDay(java.time.ZoneOffset.UTC).toInstant),
       50.0 + (if (promo) 40.0 else 0.0) + 3.0 * lcg(), txt)
    }
    val df = rows.toDF("ts", "y", "note")
    val withText = new graft.models.GbtModel(lags = 2)
    val sWith = withText.fit(df, graft.models.TsSchema("ts", "y", Seq("note")), cv = 2, h = 8)
    val dropped = new graft.models.GbtModel(lags = 2)
    val sDrop = dropped.fit(df.drop("note"), graft.models.TsSchema("ts", "y"), cv = 2, h = 8)
    withText.predict(s, 8)
      .select(tsStr(col("ts")).as("ts"), dround(col("yhat"), 4).as("yhat"),
              dround(lit(sWith.meanRmse), 4).as("cv_rmse_text"),
              dround(lit(sDrop.meanRmse), 4).as("cv_rmse_dropped"))
  }

  val queries: Map[String, Q] = Map(
    "m6_ml_forecast"      -> run(Seq("ML")),
    "m6_nlp_forecast"     -> m6NlpForecast,
    "m5_bootstrap_ci"     -> m5BootstrapCi,
    "m6_ml_classify"      -> m6MlClassify,
    "m5_prophet_forecast" -> run(Seq("Prophet")),
    "m4_var_forecast"     -> run(Seq("VAR")),
    "m1_arima_forecast"   -> run(Seq("auto_SARIMAX")),
    "m9_leaderboard"      -> leaderboardQ,
    "m2_param_search"     -> m2ParamSearch,
    "m3_stepwise"         -> m3Stepwise,
    "m7_multilabel"       -> m7Multilabel
  )

  /** Estimators are ✖est: no SQL oracle (driver does rows-only checks). */
  val oracle: Map[String, String] = Map.empty
}
