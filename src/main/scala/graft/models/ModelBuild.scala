package graft.models

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

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

/** A family that fits on the driver from a [[LocalSeries.Read]]:
  * `fit(df, …)` is one [[LocalSeries.read]] (one Spark job) followed by
  * [[fitLocal]], so [[graft.automl.AutoTimeseries]] can read the series
  * once and hand the same read to every such family. */
trait LocalModelBuild extends ModelBuild {
  /** [[fit]] from a read of the series: takes the family's columns from it
    * ([[LocalSeries.Read.series]]) and runs no Spark job of its own, apart
    * from any compute fan-out the family does. */
  def fitLocal(series: LocalSeries.Read, schema: TsSchema, cv: Int, h: Int): CvScores

  final def fit(df: DataFrame, schema: TsSchema, cv: Int, h: Int): CvScores =
    fitLocal(LocalSeries.read(df, schema), schema, cv, h)
}

object LocalSeries {
  import org.apache.spark.sql.functions._

  /** One collect of a bounded series frame: per row, in collect order,
    * the epoch seconds of `tsCol` (`cast("timestamp").cast("double")`)
    * and each of `cols` cast to double. NULLs stay in the rows, so each
    * reader checks only the columns it uses: a Row's null bits are the
    * per-column NULL mask. `df` is kept for a column the read did not
    * cast ([[series]]). */
  final class Read(val df: DataFrame, val tsCol: String, cols: Seq[String],
                   rows: Array[Row]) {
    def n: Int = rows.length

    /** Fails naming the first of `idx` (row positions, 0 = the ts) that
      * is NULL in `r`. */
    private def requireValues(r: Row, idx: Seq[Int], names: Seq[String]): Unit =
      idx.indices.find(i => r.isNullAt(idx(i))).foreach { i =>
        throw new IllegalArgumentException(s"column '${names(i)}' has a NULL value (or one that " +
          s"does not cast to ${if (idx(i) == 0) "a timestamp" else "double"}); a local model " +
          "needs a value in every row")
      }

    /** The epoch seconds of every row; a NULL fails naming `tsCol`. */
    def seconds: Array[Double] = rows.map { r =>
      requireValues(r, Seq(0), Seq(tsCol)); r.getDouble(0)
    }

    /** (epoch ms of `tsCol`, `use` as doubles) per row, in time order (a
      * stable sort by epoch ms). Every `use` column must be one of the
      * read's; a NULL in the ts or a `use` column fails naming it, the
      * first such row in collect order first. */
    private[models] def byTime(use: Seq[String]): Array[(Long, Array[Double])] = {
      val idx = 0 +: use.map(c => 1 + cols.indexOf(c))
      rows.map { r =>
        requireValues(r, idx, tsCol +: use)
        ((r.getDouble(0) * 1000).toLong, Array.tabulate(use.size)(i => r.getDouble(idx(i + 1))))
      }.sortBy(_._1)
    }

    /** The [[LocalSeries]] of `schema`'s target and exog. A column this
      * read did not cast (a non-numeric one) is read again through
      * [[collect]], so it fails or casts exactly as a one-family fit does. */
    def series(schema: TsSchema): LocalSeries = {
      val use = schema.target +: schema.exog
      if (schema.tsCol != tsCol || !use.forall(cols.contains)) collect(df, schema)
      else {
        val rows = byTime(use)
        LocalSeries(rows.map(_._1), rows.map(_._2(0)), rows.map(_._2.drop(1)))
      }
    }
  }

  /** `df`'s rows read ONCE (one Spark job, a plain collect of the bounded
    * frame; ordering happens on the driver, where a Spark `orderBy` would
    * add range-partition sampling jobs): the timestamp and `cols`, with
    * NULLs kept. */
  def read(df: DataFrame, tsCol: String, cols: Seq[String]): Read =
    new Read(df, tsCol, cols, df.select(col(tsCol).cast("timestamp").cast("double") +:
      cols.map(c => col(c).cast("double")): _*).collect())

  /** The read a local family fits from: the timestamp and the numeric
    * columns among `schema`'s target and exog (a cast that cannot fail). */
  def read(df: DataFrame, schema: TsSchema): Read =
    read(df, schema.tsCol, (schema.target +: schema.exog).filter(c => df.schema.exists(f =>
      f.name == c && f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])))

  /** Collect one bounded series to the driver, ordered by time, in one
    * Spark job ([[read]]). Deliberately mirrors the reference contract
    * (pandas in-memory); the many-series scale path goes through
    * flatMapGroups instead. A NULL, or a value that does not cast, fails
    * with an `IllegalArgumentException` naming its column. */
  def collect(df: DataFrame, schema: TsSchema): LocalSeries =
    read(df, schema.tsCol, schema.target +: schema.exog).series(schema)

  /** `df`'s rows as (epoch ms of `tsCol`, `cols` cast to double), in time
    * order, in one Spark job; NULLs fail as in [[collect]]. */
  private[models] def byTime(df: DataFrame, tsCol: String,
                             cols: Seq[String]): Array[(Long, Array[Double])] =
    read(df, tsCol, cols).byTime(cols)

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
