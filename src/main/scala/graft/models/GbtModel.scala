package graft.models

import java.nio.file.{Files, Paths}
import java.time.{Instant, ZoneOffset}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.reflect.ClassTag
import scala.util.Try

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.graftbridge.TreeBridge
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.regression.{GBTRegressionModel, GBTRegressor}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.JsonDSL._

import GbtModel.GbtParams

/** The ML core that [[GbtModel]] (fixed or searched) and [[GbtClassifyTs]]
  * share, so the GBT fit → score → forecast path exists once:
  *  - (a) one supervised frame per fit ([[frame]]), cached once and read by
  *    every fold fit, every search candidate and the full-frame fit;
  *  - (b) one fold runner ([[run]]) over (candidate × fold) fits, each a
  *    caller's Spark job: for [[GbtModel]] one task running [[GbtTrainer]]
  *    over the frame's rows, for [[GbtClassifyTs]] MLlib's `GBTClassifier`
  *    over the fold's [[rows]];
  *  - (c) one bounded forecast state ([[State]]) with the recursive
  *    forecast loop and its params.json block. */
private[models] object MlCore {
  import Persist.formats

  val Calendar = Seq("f_month", "f_quarter", "f_dow", "f_dom")

  /** Calendar features in Spark (training): month, quarter, day of week
    * (0 = Monday), day of month. [[calendarLocal]] is the forecast twin. */
  def calendarCols(tsCol: String): Seq[Column] =
    Seq(month(col(tsCol)), quarter(col(tsCol)), weekday(col(tsCol)), dayofmonth(col(tsCol)))
      .zip(Calendar).map { case (c, n) => c.cast("double").as(n) }

  def calendarLocal(tsMs: Long): Array[Double] = {
    val dt = Instant.ofEpochMilli(tsMs).atZone(ZoneOffset.UTC)
    Array(dt.getMonthValue.toDouble, ((dt.getMonthValue - 1) / 3 + 1).toDouble,
          dt.getDayOfWeek.getValue.toDouble - 1.0, dt.getDayOfMonth.toDouble)
  }

  /** What a fit reads besides the rows: the schema, the lag count and
    * column stem, and the NLP exog columns (ColumnClassifier mean-length
    * rule) with their frozen vocabularies — they become bag-of-words
    * vectors instead of being cast to null and dropped
    * (`ml_models.py:22,470`). */
  final case class Inputs(schema: TsSchema, lags: Int, lagStem: String,
                          nlpCols: Seq[String], nlpVocabs: Map[String, Array[String]]) {
    def numExog: Seq[String] = schema.exog.filterNot(nlpCols.toSet)
    def lagCols: Seq[String] = (1 to lags).map(i => s"$lagStem$i")
    /** The order of the training vector and of the forecast vector. */
    def featureCols: Seq[String] =
      lagCols ++ Calendar ++ numExog ++ nlpCols.map(c => s"${c}_bow")
  }

  def inputs(df: DataFrame, schema: TsSchema, lags: Int, lagStem: String,
             vocabSize: Int): Inputs = {
    val nlp = NlpFeatures.detect(df, schema.exog)
    Inputs(schema, lags, lagStem, nlp,
      nlp.map(c => c -> NlpFeatures.vocabulary(df, c, vocabSize)).toMap)
  }

  /** (a) The supervised frame of one fit: the ts, the caller's `labels`,
    * `lags` lags of `lagOf`, the calendar features, numeric exog as double,
    * the NLP text and its `<col>_bow` vector, `features` (every feature
    * column assembled) when `assemble`, and `rn`, the 1-based rank in time.
    * Rows with a null anywhere are dropped (the first `lags`, and any a
    * label expression nulls out). Cached once; returns the frame and its
    * row count, and the caller unpersists it.
    *
    * BOUNDED-SERIES CONTRACT (same warning as `TimeSeriesOps.seriesWindow`):
    * the unpartitioned window funnels the whole series through ONE task,
    * so the frame is one partition — correct only because this is the
    * single-series path, bounded by series length (SURVEY §4). For many
    * series at scale use `scale.PerSeriesForecast` / `scale.PerSeriesArima`,
    * which run one bounded task per series. */
  def frame(df: DataFrame, in: Inputs, lagOf: Column, labels: Seq[Column],
            assemble: Boolean): (DataFrame, Int) = {
    val ts = in.schema.tsCol
    val w = Window.orderBy(col(ts))
    val sup = df.select((col(ts) +: labels) ++
        in.lagCols.zipWithIndex.map { case (c, i) => lag(lagOf, i + 1).over(w).cast("double").as(c) } ++
        calendarCols(ts) ++ in.numExog.map(c => col(c).cast("double").as(c)) ++
        in.nlpCols.map(col): _*)
      .na.drop()
    val bow = in.nlpCols.foldLeft(sup) { (d, c) =>
      NlpFeatures.withBow(d, c, in.nlpVocabs(c), s"${c}_bow")
    }
    val feats = if (!assemble) bow else new VectorAssembler()
      .setInputCols(in.featureCols.toArray).setOutputCol("features").transform(bow)
    val f = feats.withColumn("rn", row_number().over(w)).cache()
    (f, f.count().toInt)
  }

  /** (b) The fold runner: `score(p, trainEnd, testEnd)` → (rmse, normalized
    * rmse) for every candidate on every expanding fold of the n-row frame
    * (train on rn ≤ trainEnd, test on trainEnd < rn ≤ testEnd), all at once
    * as driver-submitted Spark jobs on a bounded pool (the scheduler
    * interleaves them, the way the ARIMA grid parallelizes).
    *
    * One candidate is the fixed-params model: nothing is searched, so its
    * full-frame fit `full(p)` joins the same batch, and any failure is
    * rethrown as it is. Several candidates are a search: like
    * RandomizedSearchCV's error_score=nan, a failing (candidate × fold) fit
    * drops its candidate, which must score EVERY fold (partial coverage
    * would bias its mean down); the lowest mean fold RMSE wins (ties by
    * depth, iterations, step) and is then fit on the same frame.
    * Returns the winner, its fold scores and its full-frame fit. */
  def run[F](n: Int, cv: Int, h: Int, cands: Seq[GbtParams])(
      score: (GbtParams, Int, Int) => (Double, Double))(
      full: GbtParams => F): (GbtParams, CvScores, F) = {
    val folds = LocalSeries.foldBounds(n, cv, h)
    val pool = Executors.newFixedThreadPool(math.min(8, cands.size * folds.size + 1))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    def await[A](f: Future[A]): A = Await.result(f, Duration.Inf)
    try {
      val pairs = for (p <- cands; (trainEnd, testEnd) <- folds)
        yield p -> Future(Try(score(p, trainEnd, testEnd)))
      val fixed = if (cands.size == 1) Some(Future(full(cands.head))) else None
      val scored = pairs.map { case (p, f) => p -> await(f) }
      val (best, scores) =
        if (fixed.isDefined) (cands.head, scored.map(_._2.get))
        else {
          val complete = scored.groupBy(_._1).toSeq.collect {
            case (p, xs) if xs.forall(_._2.isSuccess) => (p, xs.map(_._2.get))
          }
          require(complete.nonEmpty, "every search candidate failed to fit")
          complete.minBy { case (p, s) =>
            (s.map(_._1).sum / s.length, p.maxDepth, p.maxIter, p.stepSize)
          }
        }
      (best, CvScores.of(scores), fixed.fold(full(best))(await))
    } finally pool.shutdown()
  }

  /** The frame's rows with from < rn ≤ to. */
  def rows(frame: DataFrame, from: Int, to: Int): DataFrame =
    frame.filter(col("rn") > from && col("rn") <= to)

  /** (c) The bounded state the recursive forecast reads: the last `lags`
    * label values, the last row's numeric exog, ts and bag-of-words (future
    * text is unknown, so the last document stands in, the exact analogue
    * of the last exog), and the series interval. */
  final case class State(in: Inputs, tail: Array[Double], lastExog: Array[Double],
                         lastTsMs: Long, intervalMs: Long,
                         lastBow: Map[String, Array[Double]]) {

    /** T14 — recursive one-step loop (`build_ml.py:595-670`): `step`
      * scores one feature vector locally, and its output is fed back as the
      * newest lag. `future`, when given, supplies KNOWN future exog: rows
      * ordered by ts, step i uses row i's exog, past the frame's end the
      * last training exog. No Spark job per step. */
    def forecast(h: Int, future: Option[DataFrame])(step: Array[Double] => Double): Array[Double] = {
      val futureExog: Array[Array[Double]] = future match {
        case Some(f) if in.numExog.nonEmpty => FutureExog.collect(f, in.schema.tsCol, in.numExog)
        case _ => Array.empty
      }
      val bowTail = in.nlpCols.toArray.flatMap(lastBow(_))
      val buf = scala.collection.mutable.ArrayBuffer(tail.toIndexedSeq: _*)
      val out = new Array[Double](h)
      for (i <- 0 until h) {
        val lagVals = (1 to in.lags).map(l => buf(buf.length - l)).toArray
        val exog = if (i < futureExog.length) futureExog(i) else lastExog
        out(i) = step(lagVals ++ calendarLocal(ForecastFrame.nextTs(lastTsMs, intervalMs, i + 1)) ++
                      exog ++ bowTail)
        buf += out(i)
      }
      out
    }

    /** The params.json block; `tailKey` names the lag tail. */
    def json(tailKey: String, residSigma: Option[Double]): JObject =
      ("schema" -> Persist.schemaJson(in.schema)) ~ (tailKey -> tail.toList) ~
      ("lastExog" -> lastExog.toList) ~ ("lastTsMs" -> lastTsMs) ~
      ("intervalMs" -> intervalMs) ~ ("residSigma" -> residSigma) ~
      ("nlpCols" -> in.nlpCols.toList) ~
      ("nlpVocabs" -> in.nlpVocabs.map { case (k, v) => k -> v.toList }) ~
      ("lastBow" -> lastBow.map { case (k, v) => k -> v.toList })
  }

  object State {
    def load(j: JValue, tailKey: String)(lagStem: TsSchema => String): State = {
      val schema = Persist.schemaFrom(j \ "schema")
      State(Inputs(schema, (j \ "lags").extract[Int], lagStem(schema),
          (j \ "nlpCols").extract[Seq[String]],
          (j \ "nlpVocabs").extract[Map[String, Array[String]]]),
        (j \ tailKey).extract[Array[Double]], (j \ "lastExog").extract[Array[Double]],
        (j \ "lastTsMs").extract[Long], (j \ "intervalMs").extract[Long],
        (j \ "lastBow").extract[Map[String, Array[Double]]])
    }
  }

  /** The forecast state: `value` of the last `lags` rows of `rows` by time,
    * with the last one's ts, numeric exog and text, and the interval from
    * `df`'s first two timestamps. DRIVER BOUND: two `limit` collects,
    * `lags` + 2 rows whatever the series length. */
  def state(df: DataFrame, in: Inputs, rows: DataFrame, value: Column): State = {
    val ts = col(in.schema.tsCol)
    val ms = ts.cast("timestamp").cast("double") * 1000
    val nNum = in.numExog.size
    val tail = rows.orderBy(ts.desc).limit(in.lags)
      .select((Seq(ms, value.cast("double")) ++ in.numExog.map(c => col(c).cast("double")) ++
               in.nlpCols.map(col)): _*)
      .collect().reverse
    val last = tail.last
    val firstTwo = df.orderBy(ts).limit(2).select(ms).collect().map(_.getDouble(0).toLong)
    State(in, tail.map(_.getDouble(1)), Array.tabulate(nNum)(i => last.getDouble(2 + i)),
      last.getDouble(0).toLong, LocalSeries.interval(firstTwo),
      in.nlpCols.zipWithIndex.map { case (c, i) =>
        c -> NlpFeatures.bowLocal(Option(last.getString(2 + nNum + i)).getOrElse(""),
                                  in.nlpVocabs(c))
      }.toMap)
  }
}

/** M6/M8 — the ML path (`models/build_ml.py:88-414`): supervised reshape
  * (target lags + calendar features + exog, NLP exog as bag-of-words)
  * feeding a gradient-boosted tree regressor, with expanding-window CV and
  * the reference's RECURSIVE one-step forecast loop (T14,
  * `build_ml.py:595-670`). The fit runs on the shared ML core ([[MlCore]]):
  * one cached supervised frame, the fold runner with this model as its one
  * candidate (the fold fits and the full-frame fit run as one concurrent
  * batch), and the bounded forecast state. [[GbtModel.fitSearched]] runs
  * the same core over many candidates.
  *
  * `logY` is the reference's `log_y` knob (`ml_models.py:117,136-138,
  * 186-187`): the LABEL is log-transformed before the fit (zero targets
  * remapped to 1e-15 first, exactly the reference's guard) and every
  * prediction is exp'd back, so skewed positive targets train on a
  * symmetric scale while lags, scores, and forecasts all stay in
  * original units. Rows whose target is negative produce a null log
  * label and are dropped from the supervised frame (np.log would emit
  * NaN there — dropping is the honest Spark form).
  *
  * Spark-native choices: the model is MLlib's `GBTRegressionModel` (the
  * reference's dask-xgboost path collapses into MLlib's GBT, SURVEY §2.10
  * M8), trained by [[GbtTrainer]], which reproduces `GBTRegressor` bit for
  * bit, inside ONE Spark task per fit over the cached one-partition
  * supervised frame: a fit with cv folds is cv + 1 such jobs instead of
  * ~100 MLlib jobs per `GBTRegressor.fit` (the bounded series is one
  * partition either way, so MLlib's distribution bought nothing here).
  * `newGbt` stays the params holder and validator, and the result is a
  * real MLlib model, so `predict` and `featureImportances` are unchanged.
  * Save and load run no Spark job: the trees are stored in a compact file
  * beside params.json ([[GbtTrainer.Ensemble]]) and rebuilt on load, not
  * passed through MLlib's writer and reader. Feature building is window/codegen
  * work; the recursive loop runs on the driver against the LOCAL
  * `GBTRegressionModel.predict(Vector)` — h is small, no per-step Spark
  * job.
  *
  * DRIVER BOUND of a fit: the forecast state's `lags` + 2 rows, each fold's
  * score (two doubles), the full fit's trees (at most maxIter ·
  * (2^(maxDepth+1) − 1) nodes) and residual σ, and the NLP vocabularies
  * (`nlpVocabSize` terms each); none grows with the series length. */
class GbtModel(lags: Int = 2, maxIter: Int = 50, maxDepth: Int = 2,
               stepSize: Double = 0.1, logY: Boolean = false,
               nlpVocabSize: Int = 50, z: Double = 1.96) extends ModelBuild {
  val name = "ML"

  private var ensemble: GbtTrainer.Ensemble = _
  private var model: GBTRegressionModel = _
  private var state: MlCore.State = _
  private var residSigma: Double = _

  private def params = GbtParams(maxDepth, maxIter, stepSize)

  /** The fitted trees, and the MLlib model `predict` and the importances
    * read, built from them. */
  private def setEnsemble(e: GbtTrainer.Ensemble): Unit = {
    ensemble = e
    model = GbtModel.model(newGbt(params), e)
  }

  /** The fitted MLlib model. */
  private[graft] def gbtModel: GBTRegressionModel = model

  private def newGbt(p: GbtParams) = new GBTRegressor()
    .setLabelCol("y_fit").setFeaturesCol("features")
    .setMaxIter(p.maxIter).setMaxDepth(p.maxDepth).setStepSize(p.stepSize).setSeed(42)

  def fit(df: DataFrame, tsSchema: TsSchema, cv: Int, h: Int): CvScores =
    fitCandidates(Seq(params), df, tsSchema, cv, h)._3

  /** The ML core over `cands`, which share this model's lags, logY,
    * vocabulary size and z: the fit label `y_fit` is the raw target, or its
    * log under `logY` (zeros → 1e-15 first; negatives go null and are
    * dropped). Every fold fit and the full-frame fit is one Spark task
    * running [[GbtTrainer]] ([[GbtModel.inOneTask]]). Returns the fitted
    * winner (this model when its own params win), its params and its fold
    * scores. */
  private def fitCandidates(cands: Seq[GbtParams], df: DataFrame, schema: TsSchema,
                            cv: Int, h: Int): (GbtModel, GbtParams, CvScores) = {
    val in = MlCore.inputs(df, schema, lags, s"${schema.target}_lag", nlpVocabSize)
    val y = col(schema.target).cast("double")
    val label = if (logY) log(when(y === 0.0, lit(1e-15)).otherwise(y)) else y
    val (frame, n) = MlCore.frame(df, in, y, Seq(y.as(schema.target), label.as("y_fit")),
                                  assemble = true)
    try {
      require(n > 0, s"GbtModel: 0 rows to train on: every row of the series lacks one of its " +
        s"lags = $lags lagged values or has a null; the series needs more than $lags rows")
      val sup = frame.select(col("features"), col("y_fit"), col(schema.target), col("rn"))
      val logLabel = logY
      val (best, scores, (fitted, sigma)) = MlCore.run(n, cv, h, cands) { (p, trainEnd, testEnd) =>
        val gbt = newGbt(p)
        val cfg = GbtTrainer.Config.of(gbt)
        GbtModel.inOneTask(MlCore.rows(sup, 0, testEnd)) { rows =>
          val (train, test) = rows.partition(_.rn <= trainEnd)
          val m = GbtModel.model(gbt, GbtModel.train(train, cfg))
          // scored in ORIGINAL units (predictions exp'd back under logY) so
          // fold RMSEs stay comparable across families and log settings
          LocalSeries.score(test.map(_.y), test.map(r => GbtModel.back(logLabel, m.predict(r.x))))
        }
      } { p =>
        val gbt = newGbt(p)
        val cfg = GbtTrainer.Config.of(gbt)
        val (ens, sigma) = GbtModel.inOneTask(sup) { rows =>
          val ens = GbtModel.train(rows, cfg)
          val m = GbtModel.model(gbt, ens)
          // residual σ for the CI columns (reference emits NaN CIs for ML,
          // `build_ml.py:674-683`; we do better with the in-sample residual
          // std): sqrt(avg(pow(y − prediction, 2))) as Spark evaluates it,
          // a row-order sum, with Spark's StrictMath exp and pow
          var sq = 0.0
          rows.foreach { r =>
            val p = m.predict(r.x)
            sq += StrictMath.pow(r.y - (if (logLabel) StrictMath.exp(p) else p), 2)
          }
          (ens, math.sqrt(sq / rows.length))
        }
        (ens, sigma)
      }
      val winner = if (best == params) this
        else new GbtModel(lags, best.maxIter, best.maxDepth, best.stepSize, logY, nlpVocabSize, z)
      winner.setEnsemble(fitted)
      winner.residSigma = sigma
      winner.state = MlCore.state(df, in, df, y)
      (winner, best, scores)
    } finally frame.unpersist()
  }

  /** [[GbtModel.fitSearched]] from this model's lags, logY, vocabulary size
    * and z. RandomizedSearchCV analogue: sample with a fixed seed, dedupe.
    * This model's params are always candidate zero, so the searched result
    * is never worse than the fixed-parameter model under the shared folds. */
  private[models] def search(df: DataFrame, tsSchema: TsSchema, cv: Int, h: Int,
                             nIter: Int, seed: Long): GbtModel.SearchResult = {
    val rnd = new scala.util.Random(seed)
    val depths = Array(2, 3, 4, 5)
    val iters  = Array(20, 40, 60, 80)
    val steps  = Array(0.05, 0.1, 0.15, 0.2)
    val cands = (params +: Seq.fill(nIter)(GbtParams(
      depths(rnd.nextInt(depths.length)),
      iters(rnd.nextInt(iters.length)),
      steps(rnd.nextInt(steps.length))))).distinct
    val (m, p, s) = fitCandidates(cands, df, tsSchema, cv, h)
    GbtModel.SearchResult(m, p, s.foldRmse, s.foldNormRmse)
  }

  def predict(spark: SparkSession, h: Int, future: Option[DataFrame] = None): DataFrame = {
    ForecastFrame.requireHorizon(h)
    ForecastFrame.build(spark, state.lastTsMs, state.intervalMs,
      state.forecast(h, future)(f => GbtModel.back(logY, model.predict(Vectors.dense(f)))),
      residSigma, z)
  }

  /** Top-k feature importances of the fitted ensemble — the reference
    * prints the top-10 after the full-data fit (`ml_models.py:160-177`,
    * `feature_importances_` / `get_score(importance_type='gain')`).
    * MLlib's normalized split-gain importances, labeled with the REAL
    * feature names (lags, calendar, exog, and each bag-of-words term as
    * `<col>_bow_<term>`), ordered desc with a name tie-break. */
  def featureImportances(spark: SparkSession, k: Int = 10): DataFrame = {
    import spark.implicits._
    val in = state.in
    val names = in.lagCols ++ MlCore.Calendar ++ in.numExog ++
      in.nlpCols.flatMap(c => in.nlpVocabs(c).map(t => s"${c}_bow_$t"))
    val imp = model.featureImportances.toArray
    require(imp.length == names.length,
      s"importance vector ${imp.length} != feature names ${names.length}")
    names.zip(imp).sortBy { case (nm, v) => (-v, nm) }.take(k)
      .toSeq.toDF("feature", "importance")
  }

  /** params-JSON for the settings and the bounded local state (lag tail,
    * calendar anchor, NLP vocabularies) and, beside it, the tree ensemble
    * as [[GbtTrainer.Ensemble.write]] stores it: written on the driver, no
    * Spark job. */
  def save(dir: String): Unit = {
    Persist.writeJson(dir,
      ("type" -> "ml") ~ ("lags" -> lags) ~ ("maxIter" -> maxIter) ~
      ("maxDepth" -> maxDepth) ~ ("stepSize" -> stepSize) ~ ("logY" -> logY) ~
      ("nlpVocabSize" -> nlpVocabSize) ~ ("z" -> z) ~
      state.json("tailY", Some(residSigma)))
    GbtTrainer.Ensemble.write(ensemble, Paths.get(dir, GbtModel.EnsembleFile))
  }
}

/** ModelBuild adapter for the searched GBT: fit() runs the randomized
  * hyperparameter search (the reference's RandomizedSearchCV inside its
  * ML path, `ml_models.py:293-335`) with this model's lag count and CI
  * z, and delegates prediction to the winner. The reported CV scores are
  * the WINNER's fold scores from the shared search folds. */
class SearchedGbtModel(lags: Int = 2, z: Double = 1.96) extends ModelBuild {
  val name = "ML"
  private var inner: GbtModel = _

  def fit(df: DataFrame, schema: TsSchema, cv: Int, h: Int): CvScores = {
    val r = new GbtModel(lags = lags, z = z).search(df, schema, math.max(cv, 1), h, 15, 42)
    inner = r.model
    CvScores(r.foldRmse, r.foldNormRmse)
  }

  def predict(spark: SparkSession, h: Int, future: Option[DataFrame] = None): DataFrame =
    inner.predict(spark, h, future)

  /** The fitted winner. */
  private[graft] def winner: GbtModel = inner

  /** Persists the WINNER — reloads as a plain GbtModel. */
  def save(dir: String): Unit = inner.save(dir)
}

object GbtModel {
  import Persist.formats

  /** The ensemble's file in a saved model's directory. */
  private val EnsembleFile = "ensemble.bin"

  /** Reads what [[GbtModel.save]] writes, and the earlier layout, whose
    * trees MLlib's writer stored under `gbt/` (read by MLlib's reader, a
    * few Spark jobs, and turned back by `TreeBridge.fromMl`). Either way
    * the model is rebuilt from the trees by `TreeBridge.model`, and a
    * re-save writes the current layout. */
  def load(dir: String): GbtModel = {
    val j = Persist.readJson(dir)
    val m = new GbtModel((j \ "lags").extract[Int], (j \ "maxIter").extract[Int],
      (j \ "maxDepth").extract[Int], (j \ "stepSize").extract[Double],
      (j \ "logY").extract[Boolean], (j \ "nlpVocabSize").extract[Int],
      (j \ "z").extract[Double])
    val file = Paths.get(dir, EnsembleFile)
    m.setEnsemble(
      if (Files.exists(file)) GbtTrainer.Ensemble.read(file)
      else {
        val (trees, weights, numFeatures) = TreeBridge.fromMl(GBTRegressionModel.load(s"$dir/gbt"))
        GbtTrainer.Ensemble(trees.toArray, weights, numFeatures)
      })
    m.state = MlCore.State.load(j, "tailY")(s => s"${s.target}_lag")
    m.residSigma = (j \ "residSigma").extract[Double]
    m
  }

  case class GbtParams(maxDepth: Int, maxIter: Int, stepSize: Double)

  /** exp-back-transform for anything the model predicts (identity unless
    * `logY`) — reference `np.exp(model.predict(...))`, `ml_models.py:187`. */
  private def back(logY: Boolean, p: Double): Double = if (logY) math.exp(p) else p

  /** A supervised row as a fit task reads it: features, fit label, target
    * and rank in time. */
  private final case class SupRow(x: Vector, label: Double, y: Double, rn: Int)

  /** `f` over `rows` (features, y_fit, target, rn), in ONE Spark task that
    * returns only `f`'s result. The cached supervised frame is one
    * partition (bounded-series contract), so `coalesce(1)` changes
    * nothing and the rows arrive in time order. */
  private def inOneTask[T: ClassTag](rows: DataFrame)(f: Array[SupRow] => T): T =
    rows.rdd.coalesce(1).mapPartitions { it =>
      Iterator(f(it.map { r =>
        SupRow(r.getAs[Vector](0), r.getDouble(1), r.getDouble(2), r.getInt(3))
      }.toArray))
    }.collect().head

  private def train(rows: Array[SupRow], cfg: GbtTrainer.Config): GbtTrainer.Ensemble =
    GbtTrainer.fit(rows.map(_.x), rows.map(_.label), cfg)

  private def model(gbt: GBTRegressor, e: GbtTrainer.Ensemble): GBTRegressionModel =
    TreeBridge.model(gbt, e.trees.toSeq, e.weights, e.numFeatures)

  /** Search outcome: the refit winner, its params, and its expanding-
    * window fold scores (rmse, normalized rmse) from the search pass. */
  case class SearchResult(model: GbtModel, params: GbtParams,
                          foldRmse: Seq[Double], foldNormRmse: Seq[Double]) {
    def meanRmse: Double = foldRmse.sum / math.max(foldRmse.length, 1)
  }

  /** M7 — randomized hyperparameter search (the reference's
    * `RandomizedSearchCV(n_iter=15, cv=3)` over the GBT family,
    * `ml_models.py:293-335`) of a default [[GbtModel]]: `nIter`
    * (maxDepth, maxIter, stepSize) triples sampled from the same grid
    * families, each scored by expanding-window CV — the time-respecting
    * analogue of the reference's KFold over supervised rows — lowest mean
    * fold RMSE wins, then the winner is refit on the full frame.
    *
    * It is the ML core's fold runner with many candidates: the supervised
    * frame is built and cached ONCE and shared by every (candidate × fold)
    * fit and the winner's refit, each one Spark task running
    * [[GbtTrainer]]. */
  def fitSearched(df: DataFrame, tsSchema: TsSchema, cv: Int, h: Int,
                  nIter: Int = 15, seed: Long = 42): SearchResult =
    new GbtModel().search(df, tsSchema, cv, h, nIter, seed)
}
