package graft.models

import java.nio.file.{Files, Paths}
import java.time.{Instant, ZoneOffset}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.reflect.ClassTag
import scala.util.{Success, Try}

import org.apache.spark.ml.graftbridge.TreeBridge
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.regression.{GBTRegressionModel, GBTRegressor}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.JsonDSL._

import GbtModel.GbtParams

/** The ML core that [[GbtModel]] (fixed or searched) and [[GbtClassifyTs]]
  * share, so the GBT fit → score → forecast path exists once:
  *  - (a) the supervised rows of a fit: for [[GbtModel]] built inside its
  *    fit's Spark tasks from the raw series ([[raw]], [[sorted]],
  *    [[supervised]]), for [[GbtClassifyTs]] one cached Spark frame
  *    ([[frame]]) read by its MLlib fits;
  *  - (b) the fits over them: [[GbtModel]]'s in ONE Spark job
  *    ([[perCell]], [[perCellThen]]), [[GbtClassifyTs]]'s as concurrent
  *    MLlib jobs ([[run]]);
  *  - (c) one bounded forecast state ([[State]]) with the recursive
  *    forecast loop and its params.json block. */
private[models] object MlCore {
  import Persist.formats

  val Calendar = Seq("f_month", "f_quarter", "f_dow", "f_dom")

  /** Calendar features in Spark for [[frame]]: month, quarter, day of week
    * (0 = Monday), day of month, in UTC whatever the session time zone, as
    * [[calendarLocal]] computes them for the forecast. The instant's UTC
    * day comes from its epoch microseconds (a floor division), and the
    * date functions of a DATE read no time zone. */
  def calendarCols(tsCol: String): Seq[Column] = {
    val us = unix_micros(col(tsCol).cast("timestamp"))
    val dayUs = lit(86400000000L)
    val day = date_from_unix_date(((us - pmod(us, dayUs)) / dayUs).cast("int"))
    Seq(month(day), quarter(day), weekday(day), dayofmonth(day))
      .zip(Calendar).map { case (c, n) => c.cast("double").as(n) }
  }

  /** The calendar features of an instant in UTC: [[GbtModel]]'s training
    * rows ([[supervised]]) and every forecast step read this one function. */
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

  /** The supervised frame of one [[GbtClassifyTs]] fit: the ts, the
    * caller's `labels`, `lags` lags of `lagOf`, the calendar features,
    * numeric exog as double, the NLP text and its `<col>_bow` vector, and
    * `rn`, the 1-based rank in time. Rows with a null anywhere are dropped
    * (the first `lags`, and any a label expression nulls out). Cached
    * once; returns the frame and its row count, and the caller unpersists
    * it.
    *
    * BOUNDED-SERIES CONTRACT (same warning as `TimeSeriesOps.seriesWindow`):
    * the unpartitioned window funnels the whole series through ONE task,
    * so the frame is one partition — correct only because this is the
    * single-series path, bounded by series length (SURVEY §4). For many
    * series at scale use `scale.PerSeriesForecast` / `scale.PerSeriesArima`,
    * which run one bounded task per series. */
  def frame(df: DataFrame, in: Inputs, lagOf: Column, labels: Seq[Column]): (DataFrame, Int) = {
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
    val f = bow.withColumn("rn", row_number().over(w)).cache()
    (f, f.count().toInt)
  }

  /** The raw series a [[GbtModel]] fit task reads: per series row, `tsCol`
    * as epoch microseconds, `value` (the lag source) as double, the
    * numeric exog as double and the NLP text, NULLs kept. */
  def raw(df: DataFrame, in: Inputs, value: Column): RDD[Row] =
    df.select((unix_micros(col(in.schema.tsCol).cast("timestamp")) +: value.cast("double") +:
      in.numExog.map(c => col(c).cast("double"))) ++ in.nlpCols.map(col): _*).rdd

  /** [[raw]]'s rows in time order (a stable sort). A NULL timestamp fails
    * naming its column. */
  def sorted(in: Inputs, rows: Iterator[Row]): Array[Row] =
    rows.map { r =>
      if (r.isNullAt(0)) throw new IllegalArgumentException(s"column '${in.schema.tsCol}' has a " +
        "NULL value (or one that does not cast to a timestamp); the rows are ordered by time")
      r
    }.toArray.sortBy(_.getLong(0))

  /** The supervised rows of one fit, in time order (`rn` = index + 1). */
  final case class Supervised(x: Array[Vector], label: Array[Double], y: Array[Double]) {
    def n: Int = y.length
  }

  /** The supervised rows of [[sorted]] rows, built where they are read (in
    * the fit's task): row i's features, in [[Inputs.featureCols]] order,
    * are the `lags` previous values, the calendar of its timestamp
    * ([[calendarLocal]], as the forecast computes it), its numeric exog and
    * the bag-of-words of its text ([[NlpFeatures.bowLocal]] under the
    * frozen vocabulary); its label is `label(value)`, its target the value.
    * A row with a NULL or NaN among these is dropped — the first `lags`,
    * and a NaN label — as [[frame]]'s `na.drop()` drops it. */
  def supervised(in: Inputs, rows: Array[Row])(label: Double => Double): Supervised = {
    val nNum = in.numExog.size
    val vocabs = in.nlpCols.map(in.nlpVocabs)
    def num(r: Row, i: Int): Double = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
    val x = Array.newBuilder[Vector]
    val labels, ys = Array.newBuilder[Double]
    for (i <- rows.indices) {
      val r = rows(i)
      val y = num(r, 1)
      val fit = label(y)
      val lagged = Array.tabulate(in.lags)(l => if (i > l) num(rows(i - l - 1), 1) else Double.NaN)
      val exog = Array.tabulate(nNum)(j => num(r, 2 + j))
      val text = vocabs.indices.map(j => r.getString(2 + nNum + j))
      if (!(y.isNaN || fit.isNaN || lagged.exists(_.isNaN) || exog.exists(_.isNaN) ||
            text.contains(null))) {
        x += Vectors.dense(lagged ++ calendarLocal(Math.floorDiv(r.getLong(0), 1000L)) ++ exog ++
          text.zip(vocabs).flatMap { case (t, v) => NlpFeatures.bowLocal(t, v) })
        labels += fit
        ys += y
      }
    }
    Supervised(x.result(), labels.result(), ys.result())
  }

  /** The forecast state of [[sorted]] rows: [[state]]'s fields, read where
    * the rows are. The epoch ms are Spark's `cast("double") * 1000` of the
    * timestamp, as every family's series reads them. A NULL value or
    * exog in the rows the forecast starts from fails naming its column. */
  def stateOf(in: Inputs, rows: Array[Row]): State = {
    def ms(r: Row): Long = (r.getLong(0) / 1e6 * 1000).toLong
    def known(r: Row, i: Int, name: String): Double =
      if (r.isNullAt(i)) throw new IllegalArgumentException(s"column '$name' has a NULL value in " +
        s"the last ${in.lags} rows of the series, which the forecast starts from")
      else r.getDouble(i)
    val nNum = in.numExog.size
    val last = rows.last
    State(in, rows.takeRight(in.lags).map(known(_, 1, in.schema.target)),
      Array.tabulate(nNum)(j => known(last, 2 + j, in.numExog(j))), ms(last),
      LocalSeries.interval(rows.take(2).map(ms)),
      in.nlpCols.zipWithIndex.map { case (c, j) =>
        c -> NlpFeatures.bowLocal(Option(last.getString(2 + nNum + j)).getOrElse(""),
                                  in.nlpVocabs(c))
      }.toMap)
  }

  /** `cell(j, rows)` for j = 0 until `cells`, in ONE Spark job with one
    * task per cell (the scheduler balances unequal cells over the cores),
    * each task reading the whole of `raw` as its own one-partition copy,
    * in partition order. The RDD of the results, in cell order. */
  def perCell[T: ClassTag](raw: RDD[Row], cells: Int)(cell: (Int, Iterator[Row]) => T): RDD[T] =
    raw.sparkContext.union(Seq.fill(cells)(raw.coalesce(1)))
      .mapPartitionsWithIndex((j, rows) => Iterator(cell(j, rows)))

  /** [[perCell]], then `last(results, rows)` in one more task of the same
    * job: every cell's result, in cell order, reaches it through a
    * shuffle, and it reads the whole of `raw` again. Returns `last`'s
    * result, the job's only one. */
  def perCellThen[T: ClassTag, U: ClassTag](raw: RDD[Row], cells: Int)(
      cell: (Int, Iterator[Row]) => T)(last: (Seq[T], Iterator[Row]) => U): U =
    perCell(raw, cells)((j, rows) => (j, cell(j, rows))).repartition(1)
      .zipPartitions(raw.coalesce(1)) { (results, rows) =>
        Iterator(last(results.toSeq.sortBy(_._1).map(_._2), rows))
      }.collect().head

  /** [[GbtClassifyTs]]'s fold runner: `score(trainEnd, testEnd)` → (error,
    * error) on every expanding fold of the n-row frame (train on
    * rn ≤ trainEnd, test on trainEnd < rn ≤ testEnd) and the full-frame
    * fit `full`, all at once as driver-submitted Spark jobs on a bounded
    * pool (the scheduler interleaves them). The first failure, in fold
    * order and then the full fit, is rethrown as it is. */
  def run[F](n: Int, cv: Int, h: Int)(score: (Int, Int) => (Double, Double))(
      full: => F): (CvScores, F) = {
    val folds = LocalSeries.foldBounds(n, cv, h)
    val pool = Executors.newFixedThreadPool(math.min(8, folds.size + 1))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    def await[A](f: Future[A]): A = Await.result(f, Duration.Inf)
    try {
      val scores = folds.map { case (trainEnd, testEnd) => Future(score(trainEnd, testEnd)) }
      val fitted = Future(full)
      (CvScores.of(scores.map(await)), await(fitted))
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
  * `build_ml.py:595-670`). A fit, fixed or searched
  * ([[GbtModel.fitSearched]]), is ONE Spark job over the raw
  * (ts, target, exog) rows ([[MlCore.raw]]): each of its tasks reads the
  * whole bounded series, builds the supervised rows itself
  * ([[MlCore.supervised]]: lags, label, calendar, numeric exog,
  * bag-of-words) and runs one fit. The fixed model's job has one task per
  * fold and one for the full fit, which also reads the forecast state.
  * The search's job has one task per (candidate × fold) and then, after a
  * shuffle of their scores, one task that picks the winner and fits it on
  * the full series. The NLP columns and their vocabularies are found
  * before the job ([[MlCore.inputs]]), and only when the exog has a
  * string column.
  *
  * `logY` is the reference's `log_y` knob (`ml_models.py:117,136-138,
  * 186-187`): the LABEL is log-transformed before the fit (zero targets
  * remapped to 1e-15 first, exactly the reference's guard) and every
  * prediction is exp'd back, so skewed positive targets train on a
  * symmetric scale while lags, scores, and forecasts all stay in
  * original units. Rows whose target is negative have no log label and
  * are dropped from the supervised rows (np.log would emit NaN there).
  *
  * Spark-native choices: the model is MLlib's `GBTRegressionModel` (the
  * reference's dask-xgboost path collapses into MLlib's GBT, SURVEY §2.10
  * M8), trained by [[GbtTrainer]], which reproduces `GBTRegressor` bit for
  * bit on the rows of one task, instead of ~100 MLlib jobs per
  * `GBTRegressor.fit` (the bounded series is one partition either way, so
  * MLlib's distribution bought nothing here). `newGbt` stays the params
  * holder and validator, and the result is a real MLlib model, so
  * `predict` and `featureImportances` are unchanged. Save and load run no
  * Spark job: the trees are stored in a compact file beside params.json
  * ([[GbtTrainer.Ensemble]]) and rebuilt on load, not passed through
  * MLlib's writer and reader. The recursive loop runs on the driver
  * against the LOCAL `GBTRegressionModel.predict(Vector)` — h is small, no
  * per-step Spark job.
  *
  * DRIVER BOUND of a fit: no series row reaches the driver. The job
  * returns each fold's score (two doubles), the full fit's trees (at most
  * maxIter · (2^(maxDepth+1) − 1) nodes), its residual σ and the forecast
  * state (the last `lags` values, the last row's exog and text, its ts and
  * the interval); the NLP vocabularies hold `nlpVocabSize` terms each.
  * None of it grows with the series length. */
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
    model = GbtModel.model(GbtModel.newGbt(params), e)
  }

  /** The fitted MLlib model. */
  private[graft] def gbtModel: GBTRegressionModel = model

  def fit(df: DataFrame, tsSchema: TsSchema, cv: Int, h: Int): CvScores =
    fitCandidates(Seq(params), df, tsSchema, cv, h)._3

  /** The fit over `cands`, which share this model's lags, logY, vocabulary
    * size and z, in one Spark job ([[GbtModel.Job]]). Returns the fitted
    * winner (this model when its own params win), its params and its fold
    * scores. */
  private def fitCandidates(cands: Seq[GbtParams], df: DataFrame, schema: TsSchema,
                            cv: Int, h: Int): (GbtModel, GbtParams, CvScores) = {
    val in = MlCore.inputs(df, schema, lags, s"${schema.target}_lag", nlpVocabSize)
    val raw = MlCore.raw(df, in, col(schema.target))
    require(raw.partitions.nonEmpty, GbtModel.noRows(lags))
    val job = GbtModel.Job(in, logY, cv, h)
    val (best, scores, fitted) =
      if (cands.size == 1) job.fixed(raw, GbtModel.Cand(cands.head))
      else job.search(raw, cands.flatMap(p => Try(GbtModel.Cand(p)).toOption))
    val winner = if (best == params) this
      else new GbtModel(lags, best.maxIter, best.maxDepth, best.stepSize, logY, nlpVocabSize, z)
    winner.setEnsemble(fitted.ensemble)
    winner.residSigma = fitted.sigma
    winner.state = fitted.state
    (winner, best, scores)
  }

  /** [[GbtModel.fitSearched]] from this model's lags, logY, vocabulary size
    * and z. RandomizedSearchCV analogue: sample with a fixed seed, dedupe.
    * This model's params are always candidate zero, so the searched result
    * is never worse than the fixed-parameter model under the shared folds. */
  private[models] def search(df: DataFrame, tsSchema: TsSchema, cv: Int, h: Int,
                             nIter: Int, seed: Long): GbtModel.SearchResult = {
    val (m, p, s) = fitCandidates(GbtModel.candidates(params, nIter, seed), df, tsSchema, cv, h)
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

  /** The params holder and validator of a fit with `p`. */
  private def newGbt(p: GbtParams) = new GBTRegressor()
    .setLabelCol("y_fit").setFeaturesCol("features")
    .setMaxIter(p.maxIter).setMaxDepth(p.maxDepth).setStepSize(p.stepSize).setSeed(42)

  private def model(gbt: GBTRegressor, e: GbtTrainer.Ensemble): GBTRegressionModel =
    TreeBridge.model(gbt, e.trees.toSeq, e.weights, e.numFeatures)

  private def noRows(lags: Int): String =
    s"GbtModel: 0 rows to train on: every row of the series lacks one of its lags = $lags " +
      s"lagged values or has a null; the series needs more than $lags rows"

  /** The fit label under `logY`: ln of the target, zeros remapped to 1e-15
    * first and negatives without one (NaN drops the row) — Spark's
    * `log(when(y === 0, 1e-15).otherwise(y))`, StrictMath included. */
  private[models] def logLabel(y: Double): Double =
    if (y == 0.0) StrictMath.log(1e-15) else if (y < 0) Double.NaN else StrictMath.log(y)

  /** `first`, then `nIter` (maxDepth, maxIter, stepSize) triples drawn
    * with `seed`, duplicates dropped: the search's candidates. */
  private[models] def candidates(first: GbtParams, nIter: Int, seed: Long): Seq[GbtParams] = {
    val rnd = new scala.util.Random(seed)
    val depths = Array(2, 3, 4, 5)
    val iters  = Array(20, 40, 60, 80)
    val steps  = Array(0.05, 0.1, 0.15, 0.2)
    (first +: Seq.fill(nIter)(GbtParams(
      depths(rnd.nextInt(depths.length)),
      iters(rnd.nextInt(iters.length)),
      steps(rnd.nextInt(steps.length))))).distinct
  }

  /** One candidate as a fit task reads it; building it validates `p`. */
  private final case class Cand(p: GbtParams, gbt: GBTRegressor, cfg: GbtTrainer.Config)
  private object Cand {
    def apply(p: GbtParams): Cand = { val gbt = newGbt(p); Cand(p, gbt, GbtTrainer.Config.of(gbt)) }
  }

  /** A full fit: its trees, residual σ and forecast state. */
  private final case class Fitted(ensemble: GbtTrainer.Ensemble, sigma: Double,
                                  state: MlCore.State)

  /** The search's pick. Like RandomizedSearchCV's error_score=nan, a
    * failing (candidate × fold) fit drops its candidate, which must score
    * EVERY fold (partial coverage would bias its mean down); the lowest
    * mean fold RMSE wins, ties by depth, iterations, step. Returns the
    * winner and its fold scores. */
  private def select(scored: Seq[(GbtParams, Try[(Double, Double)])]): (GbtParams, Seq[(Double, Double)]) = {
    val complete = scored.groupBy(_._1).toSeq.collect {
      case (p, xs) if xs.forall(_._2.isSuccess) => (p, xs.map(_._2.get))
    }
    require(complete.nonEmpty, "every search candidate failed to fit")
    complete.minBy { case (p, s) =>
      (s.map(_._1).sum / s.length, p.maxDepth, p.maxIter, p.stepSize)
    }
  }

  /** One fit's Spark job, over the raw rows [[MlCore.raw]] reads. Every
    * task sorts the rows and builds the supervised rows itself ([[build]]),
    * and returns only scores, or the winner's trees, σ and state. A
    * failure inside a task comes back as the task's result and is rethrown
    * on the driver as it was raised. */
  private final case class Job(in: MlCore.Inputs, logY: Boolean, cv: Int, h: Int) {

    /** The sorted raw rows and their supervised rows; none is an error. */
    def build(rows: Iterator[Row]): (Array[Row], MlCore.Supervised) = {
      val sorted = MlCore.sorted(in, rows)
      val sup = MlCore.supervised(in, sorted)(if (logY) logLabel else identity)
      require(sup.n > 0, noRows(in.lags))
      (sorted, sup)
    }

    /** Fold k's (rmse, normalized rmse) of `c`, None when the series is
      * too short for fold k. Scored in ORIGINAL units (predictions exp'd
      * back under logY), so fold RMSEs stay comparable across families
      * and log settings. */
    def fold(sup: MlCore.Supervised, c: Cand, k: Int): Option[(Double, Double)] =
      graft.cv.ExpandingWindowSplit.folds(sup.n, cv, h).find(_.k == k).map { f =>
        val (trainEnd, testEnd) = (f.trainEnd.toInt, f.testEnd.toInt)
        val m = model(c.gbt, GbtTrainer.fit(sup.x.take(trainEnd), sup.label.take(trainEnd), c.cfg))
        LocalSeries.score(sup.y.slice(trainEnd, testEnd),
          sup.x.slice(trainEnd, testEnd).map(v => back(logY, m.predict(v))))
      }

    /** `c` fit on every supervised row. Residual σ for the CI columns
      * (reference emits NaN CIs for ML, `build_ml.py:674-683`; we do
      * better with the in-sample residual std): sqrt(avg(pow(y −
      * prediction, 2))) as Spark evaluates it, a row-order sum, with
      * Spark's StrictMath exp and pow. */
    def full(sorted: Array[Row], sup: MlCore.Supervised, c: Cand): Fitted = {
      val ens = GbtTrainer.fit(sup.x, sup.label, c.cfg)
      val m = model(c.gbt, ens)
      var sq = 0.0
      for (i <- 0 until sup.n) {
        val p = m.predict(sup.x(i))
        sq += StrictMath.pow(sup.y(i) - (if (logY) StrictMath.exp(p) else p), 2)
      }
      Fitted(ens, math.sqrt(sq / sup.n), MlCore.stateOf(in, sorted))
    }

    /** The fixed-params fit: tasks 0 until cv score fold task + 1, task cv
      * fits the full series. The first failure, in fold order and then
      * the full fit, is rethrown. */
    def fixed(raw: RDD[Row], c: Cand): (GbtParams, CvScores, Fitted) = {
      val outs = MlCore.perCell(raw, cv + 1) { (j, rows) =>
        Try {
          val (sorted, sup) = build(rows)
          if (j < cv) (fold(sup, c, j + 1), None) else (None, Some(full(sorted, sup, c)))
        }
      }.collect().map(_.get)
      (c.p, CvScores.of(outs.init.flatMap(_._1).toSeq), outs.last._2.get)
    }

    /** The search: task j scores fold j % cv + 1 of candidate j / cv; one
      * last task of the same job picks the winner ([[select]]) and fits it
      * on the full series. */
    def search(raw: RDD[Row], cands: Seq[Cand]): (GbtParams, CvScores, Fitted) =
      MlCore.perCellThen(raw, cands.size * cv) { (j, rows) =>
        Try(fold(build(rows)._2, cands(j / cv), j % cv + 1))
      } { (cells, rows) =>
        Try {
          val (sorted, sup) = build(rows)
          val (best, scores) = select(cells.indices.flatMap { j =>
            cells(j) match {
              case Success(None) => None
              case t => Some(cands(j / cv).p -> t.map(_.get))
            }
          })
          (best, CvScores.of(scores), full(sorted, sup, cands.find(_.p == best).get))
        }
      }.get
  }

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
    * It is one Spark job ([[GbtModel]]): one task per (candidate × fold)
    * fit, each building the supervised rows from the raw series, then one
    * task that refits the winner. */
  def fitSearched(df: DataFrame, tsSchema: TsSchema, cv: Int, h: Int,
                  nIter: Int = 15, seed: Long = 42): SearchResult =
    new GbtModel().search(df, tsSchema, cv, h, nIter, seed)
}
