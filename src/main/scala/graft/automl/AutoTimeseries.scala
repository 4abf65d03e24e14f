package graft.automl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.infer.FreqInfer
import graft.models._

/** The orchestrator — the Spark-native `auto_timeseries`
  * (`auto_ts/__init__.py:48`, fit at 202, predict at 910, leaderboard at
  * 1010). fit() infers frequency and seasonal period, runs the requested
  * model families with expanding-window CV, keeps per-model scores, and
  * selects the best by mean CV RMSE (`__init__.py:822-870`).
  *
  * Like the reference, which loads one pandas frame and hands it to every
  * family, fit() reads the series ONCE ([[LocalSeries.read]], one Spark
  * job, NULLs kept): the frequency (delta of the first two timestamps), n
  * and the clamped horizon come from that read, and the driver-side
  * families (Prophet-like, VAR, SARIMAX) fit from it
  * ([[LocalModelBuild.fitLocal]]), each failing on a NULL in its own
  * columns. The GBT reads the raw rows into its own one job. A fit of all
  * four families on a numeric series runs 3 Spark jobs: the read, the
  * GBT's job and the ARIMA grid's job. */
/** @param scoreType best-model criterion — "rmse" or "normalized_rmse"
  *                   (reference `score_type` arg, `__init__.py:202`)
  * @param seasonalPeriod explicit seasonal period m; None ⇒ imputed from
  *                   `timeInterval` if given, else the inferred frequency
  *                   (reference `seasonal_period`, `__init__.py:489-510`)
  * @param searchMl when true the ML family runs the randomized
  *                   hyperparameter search (the reference's
  *                   `RandomizedSearchCV` inside its ML path,
  *                   `ml_models.py:293-335`) instead of fixed defaults;
  *                   off by default — the search multiplies fit cost by
  *                   ~nIter
  * @param nonSeasonalPdq max (p, d, q) for the stats grid; None ⇒ the
  *                   reference's (3, 1, 3) (`non_seasonal_pdq`,
  *                   `__init__.py:54,108-110`)
  * @param seasonality gates the SARIMAX seasonal stage (`seasonality`,
  *                   `__init__.py:56`). Default TRUE here (documented
  *                   deviation: the reference defaults False, but this
  *                   library's established fixtures exercise the seasonal
  *                   grid; pass false for the reference's plain-ARIMA
  *                   default)
  * @param lag      ML-path lag count, clamped to the reference's [2, 10]
  *                   (`lag`, `__init__.py:61,749-754`)
  * @param timeInterval explicit pandas-style frequency alias ('D', 'W',
  *                   'M'/'MS', 'Q', 'Y'/'A', 'H', 'T'/'min'…) overriding
  *                   frequency INFERENCE for the seasonal-period
  *                   imputation (`time_interval`, `__init__.py:53,80-105`);
  *                   unknown aliases fail loudly
  * @param confInt  Prophet-family interval width (`conf_int`,
  *                   `__init__.py:57`); 0.95 keeps the conventional
  *                   ±1.96σ the twins hash-check, other widths use the
  *                   exact normal quantile
  * @param seasonalityMode Prophet-leg decomposition: 'additive' (default,
  *                   Prophet's default) or 'multiplicative' — the
  *                   reference forwards `seasonality_mode` kwargs to
  *                   Prophet (`build_prophet.py:73`) */
class AutoTimeseries(cv: Int = 2, forecastPeriod: Int = 8,
                     modelTypes: Seq[String] = Seq("ML", "Prophet", "VAR", "auto_SARIMAX"),
                     scoreType: String = "rmse",
                     seasonalPeriod: Option[Int] = None,
                     searchMl: Boolean = false,
                     nonSeasonalPdq: Option[(Int, Int, Int)] = None,
                     seasonality: Boolean = true,
                     lag: Int = 2,
                     timeInterval: Option[String] = None,
                     confInt: Double = 0.95,
                     seasonalityMode: String = "additive") {

  case class Entry(name: String, model: ModelBuild, scores: CvScores)

  private var entries: Seq[Entry] = Nil
  private var freq: FreqInfer.Freq = _
  var bestName: String = _

  require(Seq("rmse", "normalized_rmse").contains(scoreType),
    s"score_type must be 'rmse' or 'normalized_rmse', got '$scoreType'")
  require(confInt > 0 && confInt < 1, s"conf_int must be in (0,1), got $confInt")

  private val lags = math.min(10, math.max(2, lag)) // reference clamp `__init__.py:749-754`
  private val (maxP, maxD, maxQ) = nonSeasonalPdq.getOrElse((3, 1, 3))

  /** The reference's pandas frequency-alias vocabulary mapped onto this
    * library's [[FreqInfer.Freq]] table (`__init__.py:80-105` lists the
    * allowed aliases; business-day/“start”/“end” variants collapse onto
    * their base frequency for seasonal-period purposes). */
  private val aliasFreq: Option[FreqInfer.Freq] = timeInterval.map { raw =>
    val a = raw.trim.toUpperCase
    if (Seq("D", "B", "C").contains(a)) FreqInfer.Daily
    else if (a == "W") FreqInfer.Weekly
    else if (Seq("M", "MS", "BM", "CBM", "BMS", "CBMS").contains(a)) FreqInfer.Monthly
    else if (Seq("SM", "SMS").contains(a)) FreqInfer.Monthly // semi-month ⇒ monthly season
    else if (Seq("Q", "BQ", "QS", "BQS").contains(a)) FreqInfer.Quarterly
    else if (Seq("A", "Y", "BA", "BY", "AS", "YS", "BAS", "BYS").contains(a)) FreqInfer.Annual
    else if (Seq("H", "BH").contains(a)) FreqInfer.Hourly
    else if (Seq("T", "MIN").contains(a)) FreqInfer.Minutely
    else throw new IllegalArgumentException(
      s"unknown time_interval '$raw' — allowed: D/B/C, W, M/MS/SM/BM…, Q/BQ…, A/Y…, H/BH, T/min")
  }

  /** The seasonal period m the last fit() resolved (explicit >
    * time_interval > inferred) — exposed for introspection/specs. */
  var resolvedSeasonalPeriod: Int = _

  /** The reference's `allowed_models` vocabulary (`__init__.py:174`:
    * 'best', 'prophet', 'stats', 'ml', 'arima', 'ARIMA', 'Prophet',
    * 'SARIMAX', 'VAR', 'ML'), normalized case-insensitively: 'best' ⇒
    * every family, 'stats' ⇒ the statsmodels families (SARIMAX + VAR,
    * `__init__.py:672-704`), 'arima'/'sarimax' ⇒ the SARIMAX family.
    * An unrecognized name fails loudly here instead of silently fitting
    * zero models. */
  private val families: Seq[String] = {
    val norm = modelTypes.flatMap { raw =>
      raw.trim.toLowerCase match {
        case "best"                              => Seq("ML", "Prophet", "VAR", "auto_SARIMAX")
        case "ml"                                => Seq("ML")
        case "prophet"                           => Seq("Prophet")
        case "var"                               => Seq("VAR")
        case "arima" | "sarimax" | "auto_sarimax" => Seq("auto_SARIMAX")
        case "stats"                             => Seq("auto_SARIMAX", "VAR")
        case other =>
          throw new IllegalArgumentException(
            s"unknown model type '$raw' — allowed: best, ML, Prophet, VAR, ARIMA/SARIMAX/auto_SARIMAX, stats")
      }
    }.distinct
    require(norm.nonEmpty, "modelTypes resolved to zero families")
    norm
  }

  /** The reference's filename branch of fit (`__init__.py:320-332`,
    * `load_ts_data` `utils/etl.py:17-61`): CSV path + custom separator,
    * datetime format inferred — or forced via `strfTimeFormat`
    * (java.time syntax; reference `strf_time_format`, `__init__.py:62`) —
    * and parsed by the loader. */
  def fit(spark: SparkSession, path: String, tsCol: String, target: String,
          sep: String, strfTimeFormat: Option[String] = None): this.type =
    fit(graft.infer.DatetimeFormatInfer.loadCsv(spark, path, tsCol, sep,
          strfTimeFormat),
        tsCol, target)

  def fit(df: DataFrame, tsCol: String, target: String): this.type = {
    val exog = df.columns.filterNot(c => c == tsCol || c == target).toSeq
    val schema = TsSchema(tsCol, target, exog)
    // the fit's one read of the series (NULLs kept): frequency, n and the
    // local families' series all come from it
    val series = LocalSeries.read(df, schema)
    freq = FreqInfer.ofFirstTwo(series.seconds)
    val n = series.n
    // reference clamp: h >= 5, cv*h <= n (`build_arima_base.py:111-117`)
    val h = graft.cv.ExpandingWindowSplit.clampHorizon(n, math.max(cv, 1), forecastPeriod)

    val m = seasonalPeriod.orElse(aliasFreq.map(_.seasonalPeriod))
      .getOrElse(freq.seasonalPeriod)
    resolvedSeasonalPeriod = m
    // the reference's ML engine dispatches on analyze_problem_type
    // (`ml_models.py:306-335,570-616`): a categorical target gets
    // XGBClassifier, not a regressor — here GbtClassifyTs vs GbtModel.
    // Restricted to NON-NUMERIC targets: analyze() also labels
    // low-cardinality integer counts Multi_Classification (the
    // reference's tabular heuristic), but silently classifying a
    // numeric SERIES would change yhat's units to class indices and
    // rank misclassification rates against the other families' RMSEs —
    // a numeric target always forecasts in its own units here.
    val classify = families.contains("ML") &&
      df.schema(target).dataType == org.apache.spark.sql.types.StringType &&
      graft.infer.ProblemType.analyze(df, target) != "Regression"
    // a categorical target can only be fitted by the classifier: the
    // regression families would crash (or coerce to null) on the string
    // column, and a misclassification-rate score is not comparable to
    // their RMSEs in one leaderboard — warn-and-drop them, the same way
    // VAR is dropped without exog
    val activeFamilies =
      if (classify) {
        val dropped = families.filterNot(_ == "ML")
        if (dropped.nonEmpty) System.err.println(
          s"[autots] categorical target '$target': dropping non-classifier families ${dropped.mkString(",")}")
        Seq("ML")
      } else families
    // every family's CI half-width honors conf_int (the reference passes
    // it to statsmodels' get_forecast and Prophet alike); 0.95 pins the
    // conventional 1.96 the oracle twins hash-check
    val zCi = ForecastFrame.zFor(confInt)
    val candidates: Seq[ModelBuild] = activeFamilies.flatMap {
      case "ML" if classify => Some(new GbtClassifyTs(lags = lags))
      case "ML" if searchMl => Some(new SearchedGbtModel(lags = lags, z = zCi))
      case "ML"           => Some(new GbtModel(lags = lags, z = zCi))
      // nChangepoints = -1 → auto piecewise trend (Prophet fits 25
      // potential changepoints by default; auto scales that to the data)
      case "Prophet"      => Some(new DecomposableModel(m, nChangepoints = -1,
                                    intervalWidth = confInt,
                                    seasonalityMode = seasonalityMode))
      case "VAR" if exog.nonEmpty && n <= 1000 => Some(new VarModel(seasonalM = m, z = zCi)) // skip >1000 rows (`__init__.py:672-675`)
      case "VAR"          => None
      // seasonality=false ⇒ the reference's plain non-seasonal grid
      case "auto_SARIMAX" => Some(new ArimaModel(maxP, maxD, maxQ,
                                    seasonalM = if (seasonality) m else 1,
                                    z = zCi))
      case other          => None
    }

    entries = candidates.flatMap { m =>
      try Some(Entry(m.name, m, m match {
        case local: LocalModelBuild => local.fitLocal(series, schema, cv, h)
        case _ => m.fit(df, schema, cv, h)
      }))
      catch { case e: Exception =>
        System.err.println(s"[autots] ${m.name} failed: ${e.getMessage}"); None }
    }
    require(entries.nonEmpty, "no model family fitted successfully")
    bestName = (if (scoreType == "normalized_rmse")
                  entries.minBy(_.scores.meanNormRmse)
                else entries.minBy(_.scores.meanRmse)).name
    this
  }

  /** The winning fitted model object (the reference exposes its
    * `ml_dict[best]` the same way, `__init__.py:910-944`). */
  def bestModel: ModelBuild =
    entries.find(_.name == bestName).get.model

  /** A named fitted model (`get_model_build`, `__init__.py:894-902`). */
  def model(name: String): ModelBuild =
    entries.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(
        s"model '$name' not fitted; have ${entries.map(_.name).mkString(",")}"))
      .model

  /** Every fitted family by name (`get_ml_dict`, `__init__.py:904-908`). */
  def models: Map[String, ModelBuild] =
    entries.map(e => e.name -> e.model).toMap

  /** S6 — leaderboard sorted by the CONFIGURED score (`score_type`, the
    * same criterion bestName uses — `get_leaderboard().iloc[0]` must be
    * the selected best model), ascending by default
    * (`get_leaderboard(ascending)`, `__init__.py:1010-1048`). Sorted on
    * the driver into a local relation: collecting it runs no Spark job. */
  def leaderboard(spark: SparkSession, ascending: Boolean = true): DataFrame =
    AutoTimeseries.board(spark, entries.map(e => e.name -> e.scores),
      scoreType == "normalized_rmse", ascending)

  /** Per-fold CV scores, exploded (`get_cv_scores`, `__init__.py:1059-1072`). */
  def cvScores(spark: SparkSession): DataFrame = {
    import spark.implicits._
    entries.flatMap(e => e.scores.foldRmse.zipWithIndex.map {
      case (r, i) => (e.name, i + 1, r)
    }).toDF("name", "fold", "rmse")
  }

  /** Forecast h periods with the best (or a named) model. `testdata`,
    * when given, supplies known future exog values (reference
    * `predict(testdata, model)` dispatch, `__init__.py:910-944`; models
    * without exog support ignore it, as the reference's VAR does with a
    * warning). Without `testdata` the forecast, `simple` included, is a
    * local relation: collecting it runs no Spark job. */
  def predict(spark: SparkSession, h: Int, model: String = "best",
              testdata: Option[DataFrame] = None,
              simple: Boolean = false): DataFrame = {
    val name = if (model == "best" || model.isEmpty) bestName else model
    val full = entries.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(
        s"model '$name' not fitted; have ${entries.map(_.name).mkString(",")}"))
      .model.predict(spark, h, testdata)
    // reference `simple=True` returns just the point forecast series
    // (`build_prophet.py:434-441` and siblings); False = the full frame
    if (simple) full.select(col("ts"), col("yhat")) else full
  }

  /** Persist every fitted family + the leaderboard state, so a later
    * session can `AutoTimeseries.load(path).predict(...)` — the
    * train-once/serve-later form of the reference's `saved_model` predict
    * argument (`__init__.py:953-956`). Each family writes its own dir via
    * [[graft.models.ModelBuild.save]]. */
  def save(path: String): Unit = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods._
    require(entries.nonEmpty, "nothing fitted — call fit() before save()")
    val entriesJ = entries.map { e =>
      e.model.save(s"$path/${e.name}")
      ("name" -> e.name) ~
      ("fold_rmse" -> e.scores.foldRmse.toList) ~
      ("fold_norm_rmse" -> e.scores.foldNormRmse.toList)
    }.toList
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "automl.json"),
      compact(render(
        ("best" -> bestName) ~ ("score_type" -> scoreType) ~
        ("cv" -> cv) ~ ("forecast_period" -> forecastPeriod) ~
        ("entries" -> entriesJ))))
  }
}

object AutoTimeseries {
  import org.json4s._
  implicit private val formats: Formats = DefaultFormats

  /** The leaderboard frame (name, rmse, norm_rmse) of `scored`, stably
    * sorted by mean (normalized) RMSE in Spark's double order
    * (`SQLOrderingUtil.compareDoubles`: -0.0 equals 0.0, NaN sorts above
    * +Inf), so ties keep their order in `scored`. */
  private[graft] def board(spark: SparkSession, scored: Seq[(String, CvScores)],
                           normalized: Boolean, ascending: Boolean): DataFrame = {
    import spark.implicits._
    val rows = scored.map { case (name, s) => (name, s.meanRmse, s.meanNormRmse) }
    val key: ((String, Double, Double)) => Double = if (normalized) _._3 else _._2
    val order: Ordering[Double] = (x, y) => if (x == y) 0 else java.lang.Double.compare(x, y)
    rows.sortBy(key)(if (ascending) order else order.reverse).toDF("name", "rmse", "norm_rmse")
  }

  /** Reload a [[save]]d AutoTimeseries: leaderboard, named getters, and
    * predict all work; predictions are row-identical to pre-save. */
  def load(path: String): AutoTimeseries = {
    val j = org.json4s.jackson.JsonMethods.parse(
      java.nio.file.Files.readString(java.nio.file.Paths.get(path, "automl.json")))
    val at = new AutoTimeseries(
      cv = (j \ "cv").extract[Int],
      forecastPeriod = (j \ "forecast_period").extract[Int],
      scoreType = (j \ "score_type").extract[String])
    at.entries = (j \ "entries").children.map { e =>
      val name = (e \ "name").extract[String]
      at.Entry(name, graft.models.ModelIO.load(s"$path/$name"),
        graft.models.CvScores((e \ "fold_rmse").extract[Seq[Double]],
                              (e \ "fold_norm_rmse").extract[Seq[Double]]))
    }
    at.bestName = (j \ "best").extract[String]
    at
  }
}
