package graft.models

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Schema contract for every model (SURVEY §1.3): explicit event-time
  * column, one target, remaining columns exogenous. */
case class TsSchema(tsCol: String, target: String, exog: Seq[String] = Nil)

/** A fitted model's CV outcome: per-fold RMSEs + normalized RMSEs
  * (reference keeps both, `build_arima_base.py:193-199`). */
case class CvScores(foldRmse: Seq[Double], foldNormRmse: Seq[Double]) {
  def meanRmse: Double =
    if (foldRmse.isEmpty) Double.PositiveInfinity else foldRmse.sum / foldRmse.size
  def meanNormRmse: Double =
    if (foldNormRmse.isEmpty) Double.PositiveInfinity else foldNormRmse.sum / foldNormRmse.size
}

object CvScores {
  /** Per-fold (rmse, normalized rmse) pairs, in fold order. */
  def of(folds: Seq[(Double, Double)]): CvScores = CvScores(folds.map(_._1), folds.map(_._2))

  /** The fold loop of every local family: `score(trainEnd, testEnd)` over
    * the expanding-window folds of an n-point series. */
  def expanding(n: Int, cv: Int, h: Int)(score: (Int, Int) => (Double, Double)): CvScores =
    of(LocalSeries.foldBounds(n, cv, h).map { case (trainEnd, testEnd) => score(trainEnd, testEnd) })
}

/** The reference's model contract (`models/build_base.py:8-91`): fit with
  * expanding-window CV, refit on the full series, forecast h steps ahead
  * returning the S5 sink schema (ts, yhat, mean_se, mean_ci_lower,
  * mean_ci_upper — `build_ml.py:674-683`). */
trait ModelBuild {
  def name: String

  /** Fit with `cv` expanding folds of horizon `h`; returns CV scores and
    * leaves the model refit on the full series. */
  def fit(df: DataFrame, schema: TsSchema, cv: Int, h: Int): CvScores

  /** Forecast `h` periods past the end of the training series. Exogenous
    * future values, when the model uses them, come from `future`. The
    * forecast is computed on the driver and returned as a local relation
    * ([[ForecastFrame]]), so predict and a collect of its result run no
    * Spark job unless `future` is given: that frame is the caller's and
    * is collected once ([[FutureExog.collect]], bounded by h). h = 0
    * returns an empty frame; a negative h fails with an
    * `IllegalArgumentException` naming h. */
  def predict(spark: SparkSession, h: Int, future: Option[DataFrame] = None): DataFrame

  /** Persist the FITTED state to `dir` so predict survives the session
    * (reference `saved_model` at predict, `__init__.py:953-956`). Reload
    * with [[ModelIO.load]] — predictions are row-identical. */
  def save(dir: String): Unit
}

object FutureExog {
  /** Collect a future frame's exog columns in ts order (shared by every
    * model that supports known-future exog at predict time), through
    * [[LocalSeries.byTime]]. Bounded by the forecast horizon. */
  def collect(f: DataFrame, tsCol: String, exog: Seq[String]): Array[Array[Double]] =
    LocalSeries.byTime(f, tsCol, exog).map(_._2)
}

/** Collected bounded series (the unit local estimators work on — the
  * reference is single-series; at scale the same math runs once per
  * series inside flatMapGroups). */
case class LocalSeries(ts: Array[Long], y: Array[Double], exog: Array[Array[Double]]) {
  def n: Int = y.length
  def intervalMs: Long = LocalSeries.interval(ts)
}

object LocalSeries {
  import org.apache.spark.sql.functions._

  /** Collect one bounded series to the driver, ordered by time, through
    * [[byTime]]. Deliberately mirrors the reference contract (pandas
    * in-memory); the many-series scale path goes through flatMapGroups
    * instead. */
  def collect(df: DataFrame, schema: TsSchema): LocalSeries = {
    val rows = byTime(df, schema.tsCol, schema.target +: schema.exog)
    LocalSeries(rows.map(_._1), rows.map(_._2(0)), rows.map(_._2.drop(1)))
  }

  /** `df`'s rows as (epoch ms of `tsCol`, `cols` cast to double), in time
    * order. ONE Spark job: a plain collect of the bounded frame, then a
    * stable sort by epoch ms on the driver (a Spark `orderBy` would add
    * range-partition sampling jobs). A NULL, or a value that does not
    * cast, fails with an `IllegalArgumentException` naming its column. */
  private[models] def byTime(df: DataFrame, tsCol: String,
                             cols: Seq[String]): Array[(Long, Array[Double])] = {
    val names = tsCol +: cols
    val rows = df.select(col(tsCol).cast("timestamp").cast("double") * 1000 +:
                         cols.map(c => col(c).cast("double")): _*).collect()
    rows.map { r =>
      names.indices.find(r.isNullAt).foreach { i =>
        throw new IllegalArgumentException(s"column '${names(i)}' has a NULL value (or one that " +
          s"does not cast to ${if (i == 0) "a timestamp" else "double"}); a local model needs a " +
          "value in every row")
      }
      (r.getDouble(0).toLong, Array.tabulate(cols.size)(i => r.getDouble(1 + i)))
    }.sortBy(_._1)
  }

  /** The step every family forecasts with: ts(1) − ts(0) of a time-ordered
    * series, one day when it has fewer than two points. */
  def interval(ts: Array[Long]): Long = if (ts.length >= 2) ts(1) - ts(0) else 86400000L

  /** RMSE + normalized RMSE of a forecast against actuals. */
  def score(actual: Array[Double], pred: Array[Double]): (Double, Double) = {
    val n = actual.length
    val rmse = math.sqrt(actual.zip(pred).map { case (a, p) => (a - p) * (a - p) }.sum / n)
    val mean = actual.sum / n
    val sd = math.sqrt(actual.map(a => (a - mean) * (a - mean)).sum / math.max(n - 1, 1))
    (rmse, if (sd > 0) rmse / sd else rmse)
  }

  /** Expanding-window fold boundaries on a local array (same arithmetic
    * as graft.cv.ExpandingWindowSplit). */
  def foldBounds(n: Int, cv: Int, h: Int): Seq[(Int, Int)] =
    graft.cv.ExpandingWindowSplit.folds(n, cv, h)
      .map(f => (f.trainEnd.toInt, f.testEnd.toInt))
}
