package graft.models

import breeze.linalg.{DenseMatrix, DenseVector, inv}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** M5 — the "Prophet-like" decomposable model
  * (`models/build_prophet.py:82-346`): ŷ(t) = linear trend + Fourier
  * seasonality + exogenous regressors, fitted by ridge regression (MAP
  * approximation of Prophet's Stan model — SURVEY §7.3: exact Stan parity
  * is out of scope; correctness bar is metric bounds).
  *
  * Seasonality: `fourierOrder` harmonics at `seasonalPeriod` observations
  * per cycle (reference's freq→(fourier_order, prior_scale) table,
  * `build_prophet.py:587-649`).
  *
  * Holidays: `holidays` is an explicit epoch-ms date list (the reference's
  * Prophet holiday/special-day regressors, `build_prophet.py:139-151` —
  * the user supplies past AND future occurrences, exactly like Prophet's
  * holidays frame). Each observation whose timestamp is in the set gets a
  * 0/1 dummy column in the design matrix; future rows are matched against
  * the same set via the calendar-aware `ForecastFrame.nextTs` step, so a
  * December spike is carried into December forecasts.
  *
  * Trend: linear by default; `nChangepoints > 0` adds Prophet's
  * piecewise-linear trend (hinge basis at `n_changepoints` uniform
  * positions over the first `changepoint_range` of history, ridge-shrunk
  * slope deltas ≈ MAP of the Laplace-prior δ; forecasts extrapolate the
  * last fitted slope, as Prophet's trend does).
  *
  * Intervals: `intervalMode = "analytic"` (default) emits the residual-σ
  * ±1.96σ band; `"bootstrap"` emits Prophet-parity simulated intervals
  * (`build_prophet.py:433-452`) — empirical quantiles over
  * `uncertaintySamples` PARAMETRIC residual-bootstrap paths (refit per
  * path, so trend/changepoint parameter uncertainty widens the band
  * with horizon, plus one observation-noise draw per step) at
  * `intervalWidth` nominal coverage, deterministic under the fixed
  * `seed`. */
class DecomposableModel(seasonalPeriod: Int, fourierOrder: Int = 3,
                        ridgeLambda: Double = 1.0,
                        holidays: Set[Long] = Set.empty,
                        intervalMode: String = "analytic",
                        uncertaintySamples: Int = 500,
                        intervalWidth: Double = 0.95,
                        seed: Long = 42L,
                        nChangepoints: Int = 0,
                        changepointRange: Double = 0.8,
                        seasonalityMode: String = "additive") extends LocalModelBuild {
  require(intervalMode == "analytic" || intervalMode == "bootstrap",
    s"intervalMode must be analytic|bootstrap, got $intervalMode")
  require(seasonalityMode == "additive" || seasonalityMode == "multiplicative",
    s"seasonalityMode must be additive|multiplicative, got $seasonalityMode")
  require(!(seasonalityMode == "multiplicative" && intervalMode == "bootstrap"),
    "bootstrap intervals are implemented for the additive decomposition only")
  private val multiplicative = seasonalityMode == "multiplicative"
  val name = "Prophet"

  private var series: LocalSeries = _
  private var beta: DenseVector[Double] = _
  private var sigma: Double = _
  private var resid: Array[Double] = Array.empty
  private var cpsFinal: Array[Double] = Array.empty
  private var intervalMs: Long = _
  private var nExog: Int = _
  private var tsColName: String = _
  private var exogNames: Seq[String] = Nil

  /** Piecewise-linear trend changepoints (Prophet's potential-changepoint
    * grid, `n_changepoints` uniform over the first `changepoint_range`
    * fraction of history): slope-change hinge positions for a training
    * length. The hinge DELTAS are ridge-shrunk like every non-intercept
    * column — the MAP stand-in for Prophet's Laplace prior on δ, same
    * approximation this class makes for the rest of the Stan model. */
  private def changepointsFor(trainN: Int): Array[Double] = {
    // negative = auto: Prophet defaults to 25 potential changepoints; on
    // short series that exceeds the data, so auto caps at one hinge per
    // ~10 observations (the ridge shrinkage keeps unused deltas near 0)
    val nCp = if (nChangepoints < 0) math.min(25, trainN / 10) else nChangepoints
    if (nCp <= 0) Array.empty
    else Array.tabulate(nCp)(j =>
      math.floor((j + 1).toDouble * changepointRange * trainN / (nCp + 1)))
  }

  /** Design row: [1, t/n, hinge((t−c)/n)…, sin/cos(2πkt/m) for k=1..K,
    * holiday?, exog...]. Beyond the last changepoint the hinges keep
    * growing linearly, so forecasts extrapolate the LAST fitted slope —
    * Prophet's trend extrapolation (future changepoints are not added). */
  private def designRow(t: Int, nScale: Double, hol: Double,
                        exog: Array[Double], cps: Array[Double]): Array[Double] = {
    val base = Array.newBuilder[Double]
    base += 1.0
    base += t / nScale
    cps.foreach(c => base += math.max(0.0, (t - c) / nScale))
    var k = 1
    while (k <= fourierOrder) {
      val ang = 2.0 * math.Pi * k * t / seasonalPeriod
      base += math.sin(ang); base += math.cos(ang)
      k += 1
    }
    if (holidays.nonEmpty) base += hol
    exog.foreach(base += _)
    base.result()
  }

  private def holAt(tsMs: Long): Double = if (holidays.contains(tsMs)) 1.0 else 0.0

  // --- multiplicative decomposition (Prophet seasonality_mode =
  // 'multiplicative', handled by the reference at `build_prophet.py:73`):
  // y(t) = g(t)·(1 + s(t)) with g the (piecewise-)linear trend and s the
  // Fourier/holiday/exog block — NO constant term, exactly as Prophet's
  // seasonal component: the trend alone carries the level, otherwise the
  // multiplicative scale is unidentified and the stages fight. Fitted by
  // 2 backfitting rounds (trend on y/(1+s), then s on y/g − 1): the
  // first-round trend is biased by the trend-modulated seasonal swing,
  // and one refit on the seasonally-adjusted series removes it — a
  // deterministic stand-in for Prophet's joint Stan MAP, same
  // approximation class as the additive path's ridge. β is stored as the
  // concatenation [bTrend ++ bSeas]; the split index is a pure function
  // of the changepoint grid, so persistence carries one vector.

  private val backfitRounds = 2

  private def trendRow(t: Int, nScale: Double, cps: Array[Double]): Array[Double] = {
    val b = Array.newBuilder[Double]
    b += 1.0
    b += t / nScale
    cps.foreach(c => b += math.max(0.0, (t - c) / nScale))
    b.result()
  }

  private def seasRow(hol: Double, exog: Array[Double], t: Int): Array[Double] = {
    val b = Array.newBuilder[Double]
    var k = 1
    while (k <= fourierOrder) {
      val ang = 2.0 * math.Pi * k * t / seasonalPeriod
      b += math.sin(ang); b += math.cos(ang)
      k += 1
    }
    if (holidays.nonEmpty) b += hol
    exog.foreach(b += _)
    b.result()
  }

  private def nTrendCols(cps: Array[Double]): Int = 2 + cps.length

  /** A trend value too close to 0 makes the ratio y/g explode; clamp at a
    * small fraction of the series scale (Prophet's multiplicative mode has
    * the same implicit positive-trend assumption). */
  private def clampG(g: Double, scale: Double): Double = {
    val eps = math.max(scale * 1e-6, 1e-12)
    if (math.abs(g) < eps) (if (g < 0) -eps else eps) else g
  }

  private def ridgeSolve(rows: IndexedSeq[Array[Double]], yv: DenseVector[Double],
                         exemptIntercept: Boolean = true): DenseVector[Double] = {
    val x = DenseMatrix(rows: _*)
    val k = x.cols
    val reg = DenseMatrix.eye[Double](k) *:* ridgeLambda
    if (exemptIntercept) reg(0, 0) = 0.0 // don't shrink the intercept
    inv(x.t * x + reg) * (x.t * yv)
  }

  private def dotA(b: DenseVector[Double], off: Int, row: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < row.length) { s += b(off + i) * row(i); i += 1 }
    s
  }

  /** ŷ at index t for either mode (β layout per [[fitLocal]]). */
  private def predictAt(b: DenseVector[Double], t: Int, nScale: Double,
                        hol: Double, exog: Array[Double],
                        cps: Array[Double], yScale: Double): Double =
    if (multiplicative) {
      val nT = nTrendCols(cps)
      val g = dotA(b, 0, trendRow(t, nScale, cps))
      val s = dotA(b, nT, seasRow(hol, exog, t))
      clampG(g, yScale) * (1.0 + s)
    } else
      b dot DenseVector(designRow(t, nScale, hol, exog, cps))

  private def fitLocal(ts: Array[Long], y: Array[Double], exog: Array[Array[Double]],
                       nScale: Double, cps: Array[Double]): (DenseVector[Double], Double) = {
    val yv = DenseVector(y)
    val yScale = y.map(math.abs).sum / math.max(y.length, 1)
    val b =
      if (multiplicative) {
        val trendRows = y.indices.map(t => trendRow(t, nScale, cps))
        val seasRows = y.indices.map(t => seasRow(holAt(ts(t)), exog(t), t))
        val kS = if (seasRows.isEmpty) 0 else seasRows.head.length
        var sArr = Array.fill(y.length)(0.0)
        var bT = DenseVector.zeros[Double](nTrendCols(cps))
        var bS = DenseVector.zeros[Double](kS)
        var r = 0
        while (r < backfitRounds) {
          // 1+s can graze 0 on pathological fits; the clamp keeps the
          // adjusted series finite (inactive on any sane decomposition)
          val yAdj = DenseVector.tabulate(y.length)(t =>
            y(t) / math.max(1.0 + sArr(t), 0.1))
          bT = ridgeSolve(trendRows, yAdj)
          if (kS > 0) {
            val ratio = DenseVector.tabulate(y.length)(t =>
              y(t) / clampG(dotA(bT, 0, trendRows(t)), yScale) - 1.0)
            bS = ridgeSolve(seasRows, ratio, exemptIntercept = false)
            sArr = y.indices.map(t => dotA(bS, 0, seasRows(t))).toArray
          }
          r += 1
        }
        DenseVector(bT.toArray ++ bS.toArray)
      } else
        ridgeSolve(y.indices.map(t => designRow(t, nScale, holAt(ts(t)), exog(t), cps)), yv)
    val fitted = y.indices.map(t =>
      predictAt(b, t, nScale, holAt(ts(t)), exog(t), cps, yScale))
    val sse = y.indices.map(t => { val e = y(t) - fitted(t); e * e }).sum
    val dof = math.max(y.length - b.length, 1)
    (b, math.sqrt(sse / dof))
  }

  private def forecastLocal(b: DenseVector[Double], from: Int, h: Int,
                            nScale: Double, tsAt: Int => Long,
                            exog: Int => Array[Double],
                            cps: Array[Double]): Array[Double] = {
    val yScale = if (series != null && series.n > 0)
      series.y.map(math.abs).sum / series.n else 1.0
    Array.tabulate(h) { i =>
      val t = from + i
      predictAt(b, t, nScale, holAt(tsAt(t)), exog(t), cps, yScale)
    }
  }

  def fitLocal(read: LocalSeries.Read, schema: TsSchema, cv: Int, h: Int): CvScores = {
    series = read.series(schema)
    nExog = schema.exog.size
    tsColName = schema.tsCol
    exogNames = schema.exog
    intervalMs = series.intervalMs
    val nScale = series.n.toDouble
    // in-sample fold timestamps are observed; test-fold rows too (the fold
    // bound never exceeds n), so tsAt reads straight from the series
    val tsAt: Int => Long = t =>
      if (t < series.n) series.ts(t)
      else ForecastFrame.nextTs(series.ts.last, intervalMs, t - series.n + 1)
    val scores = CvScores.expanding(series.n, cv, h) { (trainEnd, testEnd) =>
      // changepoint grid recomputed per fold from the TRAIN length only —
      // a fold must not place hinges in its own test window
      val foldCps = changepointsFor(trainEnd)
      val (b, _) = fitLocal(series.ts.take(trainEnd), series.y.take(trainEnd),
                            series.exog.take(trainEnd), nScale, foldCps)
      val pred = forecastLocal(b, trainEnd, testEnd - trainEnd, nScale, tsAt,
                               t => series.exog(t), foldCps)
      LocalSeries.score(series.y.slice(trainEnd, testEnd), pred)
    }
    cpsFinal = changepointsFor(series.n)
    val (f, nf) = fitLocal(series.ts, series.y, series.exog, nScale, cpsFinal)
    beta = f; sigma = nf
    // in-sample residuals of the final fit — the bootstrap's noise pool
    val yScale = series.y.map(math.abs).sum / math.max(series.n, 1)
    resid = series.y.indices.map { t =>
      series.y(t) - predictAt(f, t, nScale, holAt(series.ts(t)),
        series.exog(t), cpsFinal, yScale)
    }.toArray
    scores
  }

  def predict(spark: SparkSession, h: Int, future: Option[DataFrame] = None): DataFrame = {
    ForecastFrame.requireHorizon(h)
    val nScale = series.n.toDouble
    val lastExog = if (series.n > 0 && nExog > 0) series.exog.last else Array.empty[Double]
    // known future exog when supplied (reference add_regressor semantics,
    // `build_prophet.py:403-431`); otherwise hold the last observed values
    val futureExog: Array[Array[Double]] = future match {
      case Some(f) if nExog > 0 => FutureExog.collect(f, tsColName, exogNames)
      case _ => Array.empty
    }
    val exogAt: Int => Array[Double] = t => {
      val i = t - series.n
      if (i >= 0 && i < futureExog.length) futureExog(i) else lastExog
    }
    // future timestamps step exactly as the emitted forecast frame does,
    // so the holiday dummy aligns with the output rows
    val tsAt: Int => Long = t =>
      ForecastFrame.nextTs(series.ts.last, intervalMs, t - series.n + 1)
    val pred = forecastLocal(beta, series.n, h, nScale, tsAt, exogAt, cpsFinal)
    if (intervalMode == "bootstrap" && resid.nonEmpty) {
      require(uncertaintySamples >= 2,
        s"bootstrap needs >= 2 uncertainty samples, got $uncertaintySamples")
      // Prophet's posterior-SIMULATION intervals (`build_prophet.py:
      // 433-452` returns yhat_lower/upper from `uncertainty_samples`
      // sampled paths), re-expressed as a PARAMETRIC residual bootstrap:
      // each of `uncertaintySamples` paths (i) resamples the in-sample
      // residuals onto the fitted values and REFITS the regression
      // (beta* = M·y*, M precomputed), capturing trend/seasonal/
      // changepoint PARAMETER uncertainty — which grows with horizon,
      // exactly the component Prophet's sampled trends contribute — and
      // (ii) adds one observation-noise residual per horizon. The
      // interval is the empirical (α/2, 1−α/2) quantile per horizon.
      // Fixed-seed PRNG — deterministic output.
      val rng = new scala.util.Random(seed)
      val nObs = series.n
      val xRows = (0 until nObs).map(t => breeze.linalg.DenseVector(
        designRow(t, nScale, holAt(series.ts(t)), series.exog(t), cpsFinal)))
      val x = breeze.linalg.DenseMatrix(xRows.map(_.toArray): _*)
      val k = x.cols
      val reg = breeze.linalg.DenseMatrix.eye[Double](k) *:* ridgeLambda
      reg(0, 0) = 0.0
      val m = breeze.linalg.inv(x.t * x + reg) * x.t // k×n refit operator
      val fitted = x * beta
      val fRows = (0 until h).map { i =>
        val t = nObs + i
        breeze.linalg.DenseVector(designRow(t, nScale, holAt(tsAt(t)), exogAt(t), cpsFinal))
      }
      val draws = Array.fill(uncertaintySamples, h)(0.0)
      for (b <- 0 until uncertaintySamples) {
        val yStar = breeze.linalg.DenseVector.tabulate(nObs)(t =>
          fitted(t) + resid(rng.nextInt(resid.length)))
        val betaStar = m * yStar
        for (i <- 0 until h)
          draws(b)(i) = (betaStar dot fRows(i)) + resid(rng.nextInt(resid.length))
      }
      val alpha = (1.0 - intervalWidth) / 2.0
      def quantile(sorted: Array[Double], p: Double): Double = {
        // type-7 (linear interpolation), matching numpy's default
        val idx = p * (sorted.length - 1)
        val lo = idx.toInt; val frac = idx - lo
        if (lo + 1 < sorted.length) sorted(lo) * (1 - frac) + sorted(lo + 1) * frac
        else sorted(lo)
      }
      val (se, lo, hi) = (new Array[Double](h), new Array[Double](h), new Array[Double](h))
      for (i <- 0 until h) {
        val col = Array.tabulate(uncertaintySamples)(b => draws(b)(i))
        java.util.Arrays.sort(col)
        val mu = col.sum / col.length
        se(i) = math.sqrt(col.map(v => (v - mu) * (v - mu)).sum / (col.length - 1))
        lo(i) = quantile(col, alpha); hi(i) = quantile(col, 1.0 - alpha)
      }
      ForecastFrame.buildBands(spark, series.ts.last, intervalMs, pred, se, lo, hi)
    } else
      ForecastFrame.build(spark, series.ts.last, intervalMs, pred, sigma,
        ForecastFrame.zFor(intervalWidth))
  }

  /** params-JSON + coefficient arrays: β, changepoints, residual pool,
    * and the bounded series (bootstrap intervals refit from it, so the
    * reloaded model reproduces them bit-for-bit — fixed seed). */
  def save(dir: String): Unit = {
    import org.json4s.JsonDSL._
    Persist.writeJson(dir,
      ("type" -> "prophet") ~ ("seasonalPeriod" -> seasonalPeriod) ~
      ("fourierOrder" -> fourierOrder) ~ ("ridgeLambda" -> ridgeLambda) ~
      ("holidays" -> holidays.toList.sorted) ~ ("intervalMode" -> intervalMode) ~
      ("uncertaintySamples" -> uncertaintySamples) ~
      ("intervalWidth" -> intervalWidth) ~ ("seed" -> seed) ~
      ("nChangepoints" -> nChangepoints) ~ ("changepointRange" -> changepointRange) ~
      ("seasonalityMode" -> seasonalityMode) ~
      ("series" -> Persist.seriesJson(series)) ~
      ("beta" -> beta.toArray.toList) ~ ("sigma" -> sigma) ~
      ("resid" -> resid.toList) ~ ("cps" -> cpsFinal.toList) ~
      ("intervalMs" -> intervalMs) ~ ("nExog" -> nExog) ~
      ("tsColName" -> tsColName) ~ ("exogNames" -> exogNames.toList))
  }
}

object DecomposableModel {
  import Persist.formats

  def load(dir: String): DecomposableModel = {
    val j = Persist.readJson(dir)
    val m = new DecomposableModel(
      (j \ "seasonalPeriod").extract[Int], (j \ "fourierOrder").extract[Int],
      (j \ "ridgeLambda").extract[Double],
      (j \ "holidays").extract[List[Long]].toSet,
      (j \ "intervalMode").extract[String],
      (j \ "uncertaintySamples").extract[Int],
      (j \ "intervalWidth").extract[Double], (j \ "seed").extract[Long],
      (j \ "nChangepoints").extract[Int], (j \ "changepointRange").extract[Double],
      (j \ "seasonalityMode").extract[String])
    m.series = Persist.seriesFrom(j \ "series")
    m.beta = DenseVector((j \ "beta").extract[Array[Double]])
    m.sigma = (j \ "sigma").extract[Double]
    m.resid = (j \ "resid").extract[Array[Double]]
    m.cpsFinal = (j \ "cps").extract[Array[Double]]
    m.intervalMs = (j \ "intervalMs").extract[Long]
    m.nExog = (j \ "nExog").extract[Int]
    m.tsColName = (j \ "tsColName").extract[String]
    m.exogNames = (j \ "exogNames").extract[Seq[String]]
    m
  }
}

/** S5 forecast sink schema builder (ts, yhat, mean_se, mean_ci_lower,
  * mean_ci_upper — `build_ml.py:674-683`). Future timestamps step
  * calendar-aware when the observed delta is a month/quarter/year
  * (a fixed-ms step would drift: Jan 1 + 31d = Feb 1, +31d = Mar 4…);
  * sub-monthly deltas step by the exact observed milliseconds.
  *
  * DRIVER BOUND: h rows, computed on the driver and returned as a local
  * relation, so collecting a forecast (or a `select` over it, which the
  * optimizer folds into the relation) runs no Spark job. */
object ForecastFrame {
  private val Day = 86400000L

  val Schema: StructType = StructType(Seq(
    StructField("ts", TimestampType), StructField("yhat", DoubleType),
    StructField("mean_se", DoubleType),
    StructField("mean_ci_lower", DoubleType), StructField("mean_ci_upper", DoubleType)))

  /** Every family's predict checks its horizon first: h = 0 is an empty
    * forecast, a negative h a named error. */
  def requireHorizon(h: Int): Unit =
    require(h >= 0, s"forecast horizon h must be >= 0, got h = $h")

  def nextTs(lastMs: Long, intervalMs: Long, step: Int): Long = {
    val base = java.time.Instant.ofEpochMilli(lastMs).atZone(java.time.ZoneOffset.UTC)
    val days = intervalMs.toDouble / Day
    val shifted =
      if (days >= 28 && days < 89) base.plusMonths(step.toLong)
      else if (days >= 89 && days < 178) base.plusMonths(3L * step)
      else if (days >= 178 && days < 360) base.plusMonths(6L * step)
      else if (days >= 360) base.plusYears(step.toLong)
      else return lastMs + step * intervalMs
    shifted.toInstant.toEpochMilli
  }

  /** `z` scales the analytic CI half-width; the default keeps the
    * conventional ±1.96σ the oracle twins hash-check. Callers honoring a
    * non-default `conf_int` pass [[zFor]] of their width. */
  def build(spark: SparkSession, lastTsMs: Long, intervalMs: Long,
            yhat: Array[Double], sigma: Double, z: Double = 1.96): DataFrame =
    buildBands(spark, lastTsMs, intervalMs, yhat, yhat.map(_ => sigma),
      yhat.map(p => p - z * sigma), yhat.map(p => p + z * sigma))

  /** Two-sided normal critical value for an interval width. 0.95 maps to
    * the conventional 1.96 (pinned so every recorded golden and twin
    * stays bit-identical); other widths use the exact quantile. */
  def zFor(intervalWidth: Double): Double =
    if (intervalWidth == 0.95) 1.96
    else math.sqrt(2.0) * breeze.numerics.erfinv(intervalWidth)

  /** Same frame with per-horizon se / lower / upper (simulation-derived
    * bands — see DecomposableModel's bootstrap interval mode). */
  def buildBands(spark: SparkSession, lastTsMs: Long, intervalMs: Long,
                 yhat: Array[Double], se: Array[Double],
                 lower: Array[Double], upper: Array[Double]): DataFrame = {
    val rows = java.util.Arrays.asList(yhat.indices.map { i =>
      Row(new java.sql.Timestamp(nextTs(lastTsMs, intervalMs, i + 1)),
          yhat(i), se(i), lower(i), upper(i))
    }: _*)
    spark.createDataFrame(rows, Schema)
  }
}
