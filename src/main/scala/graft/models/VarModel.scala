package graft.models

import breeze.linalg.{DenseMatrix, DenseVector, inv, det}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** M4 — VAR(p): vector autoregression over (target, exog...) fitted by
  * per-equation OLS (`models/ar_based/build_var.py:53-160`; VAR estimation
  * by equation-wise least squares is the standard closed form). Order p
  * selected by AIC over 1..maxP, mirroring the reference's (p≤3) grid
  * (`build_var.py:208-267`). Forecasts are recursive.
  *
  * `seasonalM` > 1 adds m−1 seasonal dummy columns (deterministic
  * terms, phase = row index mod m) to every equation — VAR(p≤3) cannot
  * express a period-12 cycle through its lag polynomial alone; dummies
  * are the standard VARX deterministic-seasonality treatment and extend
  * exactly into the forecast horizon. */
class VarModel(maxP: Int = 3, minP: Int = 1, seasonalM: Int = 1,
               z: Double = 1.96) extends LocalModelBuild {
  val name = "VAR"

  private var series: LocalSeries = _
  private var intervalMs: Long = _
  private var dim: Int = _
  private var bestP: Int = _
  private var coefs: DenseMatrix[Double] = _ // (1 + dim*p) x dim
  private var sigmaTarget: Double = _

  /** z_t rows: target + exog stacked. */
  private def zRows(y: Array[Double], exog: Array[Array[Double]]): Array[Array[Double]] =
    y.indices.map(i => y(i) +: exog(i)).toArray

  /** OLS fit of VAR(p); returns (coef matrix, residual covariance det,
    * per-equation residual std of the target equation). */
  // number of seasonal dummy columns actually used by the FITTED model
  // (fitLocal may fall back to 0 per call; predict must match the fit)
  private var fittedDummies: Int = if (seasonalM > 1) seasonalM - 1 else 0

  /** Lagged design (x, y) for VAR(p) with nd seasonal dummies — shared
    * by the per-order fits and the final residual-covariance readout so
    * the two always see the identical regression. */
  private def design(z: Array[Array[Double]], p: Int,
                     nd: Int): (DenseMatrix[Double], DenseMatrix[Double]) = {
    val k = z(0).length
    val rows = z.length - p
    val cols = 1 + k * p + nd
    val x = DenseMatrix.zeros[Double](rows, cols)
    val yMat = DenseMatrix.zeros[Double](rows, k)
    for (i <- 0 until rows) {
      val t = i + p
      x(i, 0) = 1.0
      for (lag <- 1 to p; j <- 0 until k)
        x(i, 1 + (lag - 1) * k + j) = z(t - lag)(j)
      if (nd > 0) {
        val ph = t % seasonalM
        if (ph < nd) x(i, 1 + k * p + ph) = 1.0
      }
      for (j <- 0 until k) yMat(i, j) = z(t)(j)
    }
    (x, yMat)
  }

  private def fitP(z: Array[Array[Double]], p: Int, nd: Int): (DenseMatrix[Double], Double, Double) = {
    val k = z(0).length
    val rows = z.length - p
    val (x, yMat) = design(z, p, nd)
    val xtxInv = inv(x.t * x)
    val b = xtxInv * (x.t * yMat) // cols x k
    val resid = yMat - x * b
    val sigmaU = (resid.t * resid) /:/ rows.toDouble
    val detS = math.max(det(sigmaU), 1e-300)
    val sTarget = math.sqrt(sigmaU(0, 0))
    (b, detS, sTarget)
  }

  private def aic(detS: Double, k: Int, p: Int, t: Int): Double =
    math.log(detS) + 2.0 * (k * k * p + k) / t

  /** Returns (p, coefs, targetSigma, nDummiesUsed). The seasonal-dummy
    * fallback is PER CALL: a degenerate fold drops dummies only for that
    * fold, not for later folds or the final fit. */
  private def fitLocal(z: Array[Array[Double]]): (Int, DenseMatrix[Double], Double, Int) = {
    val k = z(0).length
    def attempt(nd: Int): Seq[(Int, DenseMatrix[Double], Double, Double)] =
      (minP to maxP)
        .filter(p => z.length - p > 1 + k * p + nd + 2)
        .flatMap { p =>
          // singular designs (e.g. a dummy phase never observed) are
          // skipped rather than failing the whole fit
          scala.util.Try {
            val (b, detS, s) = fitP(z, p, nd)
            (p, b, s, aic(detS, k, p, z.length - p))
          }.toOption
        }
    val ndWanted = if (seasonalM > 1) seasonalM - 1 else 0
    val (fits, ndUsed) = {
      val first = attempt(ndWanted)
      if (first.nonEmpty) (first, ndWanted) else (attempt(0), 0)
    }
    require(fits.nonEmpty, s"series too short for VAR: n=${z.length}")
    val best = fits.minBy(_._4)
    (best._1, best._2, best._3, ndUsed)
  }

  private def forecastLocal(z: Array[Array[Double]], b: DenseMatrix[Double],
                            p: Int, h: Int, nd: Int): Array[Double] = {
    val k = z(0).length
    val hist = scala.collection.mutable.ArrayBuffer(z.toIndexedSeq: _*)
    (0 until h).map { _ =>
      val t = hist.length
      val next = Array.tabulate(k) { j =>
        var v = b(0, j)
        for (lag <- 1 to p; jj <- 0 until k)
          v += b(1 + (lag - 1) * k + jj, j) * hist(t - lag)(jj)
        if (nd > 0) {
          val ph = t % seasonalM
          if (ph < nd) v += b(1 + k * p + ph, j)
        }
        v
      }
      hist += next
      next(0)
    }.toArray
  }

  def fitLocal(read: LocalSeries.Read, schema: TsSchema, cv: Int, h: Int): CvScores = {
    require(schema.exog.nonEmpty, "VAR needs at least one companion column (reference rejects univariate VAR)")
    series = read.series(schema)
    dim = 1 + schema.exog.size
    intervalMs = series.intervalMs
    val z = zRows(series.y, series.exog)
    val scores = CvScores.expanding(series.n, cv, h) { (trainEnd, testEnd) =>
      val (p, b, _, nd) = fitLocal(z.take(trainEnd))
      val pred = forecastLocal(z.take(trainEnd), b, p, testEnd - trainEnd, nd)
      LocalSeries.score(series.y.slice(trainEnd, testEnd), pred)
    }
    val (p, b, s, nd) = fitLocal(z)
    bestP = p; coefs = b; sigmaTarget = s; fittedDummies = nd
    // DoF-adjusted residual covariance of the FINAL fit (Lütkepohl 2005
    // eq. 3.2.19, Σ̂u = Û'Û/(T − Kp − 1 − nd) — the estimator the
    // reference's statsmodels surface reports as sigma_u and feeds the
    // orthogonalized impulse responses)
    sigmaU = {
      val (x, yMat) = design(z, p, nd)
      val resid = yMat - x * b
      val dof = math.max(1, x.rows - x.cols)
      (resid.t * resid) /:/ dof.toDouble
    }
    scores
  }

  /** Fitted coefficient matrix ((1 + dim·p + dummies) × dim) and chosen
    * order — exposed so the VAR(1) closed-form oracle twin (m4_var1) can
    * hash-check the fit itself against per-equation OLS in SQL. */
  def fittedCoefs: DenseMatrix[Double] = coefs
  def fittedOrder: Int = bestP

  private var sigmaU: DenseMatrix[Double] = _
  /** Σ̂u of the final fit (dim × dim, DoF-adjusted). */
  def residualCovariance: DenseMatrix[Double] = sigmaU

  /** Impulse-response matrices Θ_0..Θ_h (Lütkepohl 2005 §2.3.2): Ψ_h is
    * the top-left k×k block of the companion matrix's h-th power (the
    * MA(∞) coefficients); `orthogonalized = true` right-multiplies by
    * P = chol(Σ̂u) — the reference framework's readout
    * (`models/ar_based/build_var.py` calls
    * `irf.orth_irfs` via `impulse_responses(..., orthogonalized=True)`),
    * which answers "a one-STD-DEV structural shock to variable j moves
    * variable i by Θ_h[i,j] after h steps" and differs from the plain
    * Ψ_h whenever residuals are cross-correlated. Θ_0 = I (plain) or P
    * (orthogonalized: the impact response). Element order: row =
    * responding variable, col = shocked variable, variables ordered
    * (target, exog...) — the Cholesky identification is order-dependent
    * by construction. */
  /** Forecast-error variance decomposition (Lütkepohl 2005 §2.3.3):
    * FEVD_H[i,j] = Σ_{l<H} Θ_l[i,j]² / Σ_j Σ_{l<H} Θ_l[i,j]² — the share
    * of variable i's H-step forecast-error variance attributable to
    * orthogonalized shocks in variable j (rows sum to 1). Returns one
    * k×k matrix per horizon H = 1..maxH. Shares the Cholesky
    * identification (and its variable-order dependence) with
    * [[impulseResponses]]. */
  def fevd(maxH: Int): Seq[DenseMatrix[Double]] = {
    val thetas = impulseResponses(maxH - 1, orthogonalized = true)
    val k = dim
    val cum = DenseMatrix.zeros[Double](k, k)
    thetas.map { th =>
      for (i <- 0 until k; j <- 0 until k) cum(i, j) += th(i, j) * th(i, j)
      val out = DenseMatrix.zeros[Double](k, k)
      for (i <- 0 until k) {
        val tot = (0 until k).map(j => cum(i, j)).sum
        for (j <- 0 until k) out(i, j) = if (tot > 0) cum(i, j) / tot else 0.0
      }
      out
    }
  }

  def impulseResponses(h: Int, orthogonalized: Boolean = false): Seq[DenseMatrix[Double]] = {
    val k = dim; val p = bestP
    val comp = DenseMatrix.zeros[Double](k * p, k * p)
    for (lag <- 1 to p; i <- 0 until k; j <- 0 until k)
      comp(i, (lag - 1) * k + j) = coefs(1 + (lag - 1) * k + j, i)
    for (r <- k until k * p) comp(r, r - k) = 1.0
    val pMat = if (orthogonalized) breeze.linalg.cholesky(sigmaU)
               else DenseMatrix.eye[Double](k)
    var cur = DenseMatrix.eye[Double](k * p)
    (0 to h).map { _ =>
      val theta = (cur(0 until k, 0 until k) * pMat).toDenseMatrix
      cur = comp * cur
      theta
    }
  }

  def predict(spark: SparkSession, h: Int, future: Option[DataFrame] = None): DataFrame = {
    ForecastFrame.requireHorizon(h)
    val hist = zRows(series.y, series.exog)
    val pred = forecastLocal(hist, coefs, bestP, h, fittedDummies)
    ForecastFrame.build(spark, series.ts.last, intervalMs, pred, sigmaTarget, z)
  }

  /** params-JSON + the coefficient matrix (row-major nested arrays). */
  def save(dir: String): Unit = {
    import org.json4s.JsonDSL._
    val rows = (0 until coefs.rows).map(i =>
      (0 until coefs.cols).map(j => coefs(i, j)).toList).toList
    Persist.writeJson(dir,
      ("type" -> "var") ~ ("maxP" -> maxP) ~ ("minP" -> minP) ~
      ("seasonalM" -> seasonalM) ~ ("z" -> z) ~ ("intervalMs" -> intervalMs) ~
      ("series" -> Persist.seriesJson(series)) ~ ("dim" -> dim) ~
      ("bestP" -> bestP) ~ ("coefs" -> rows) ~
      ("sigmaTarget" -> sigmaTarget) ~ ("fittedDummies" -> fittedDummies))
  }
}

object VarModel {
  import Persist.formats

  def load(dir: String): VarModel = {
    val j = Persist.readJson(dir)
    val m = new VarModel((j \ "maxP").extract[Int], (j \ "minP").extract[Int],
      (j \ "seasonalM").extract[Int], (j \ "z").extract[Double])
    m.series = Persist.seriesFrom(j \ "series")
    m.intervalMs = (j \ "intervalMs").extract[Long]
    m.dim = (j \ "dim").extract[Int]
    m.bestP = (j \ "bestP").extract[Int]
    val rows = (j \ "coefs").extract[Array[Array[Double]]]
    m.coefs = DenseMatrix.tabulate(rows.length, rows(0).length)((i, jj) => rows(i)(jj))
    m.sigmaTarget = (j \ "sigmaTarget").extract[Double]
    m.fittedDummies = (j \ "fittedDummies").extract[Int]
    m
  }
}
