package graft.models

import breeze.linalg.{DenseMatrix, DenseVector, norm}
import breeze.math.MutableInnerProductModule
import breeze.optimize.{ApproximateGradientFunction, DiffFunction, LBFGS, LineSearch,
  StepSizeUnderflow, StrongWolfeLineSearch}
import breeze.util.LazyLogger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.slf4j.helpers.NOPLogger

/** M1–M3 — ARIMA(p,d,q)(P,D,Q)m by conditional sum of squares (CSS) +
  * two-stage grid search.
  *
  * The reference grid-searches itertools.product(p≤3, d≤1, q≤3) fitting
  * statsmodels ARIMA per cell with min AIC/BIC and a 100-fit cap
  * (`models/ar_based/build_arima.py:37-186`), then a second seasonal
  * stage picks (P,D,Q,m) (`param_finder.py:18-143`). Here the objective
  * is the CSS innovations recursion over the EXACT multiplicative
  * seasonal polynomial — (1−Σφ_i B^i)(1−ΣΦ_I B^(Im)) expanded to regular,
  * seasonal and cross lags, the cross coefficients CONSTRAINED to the
  * products φ_i·Φ_I of the p+P (resp. q+Q) free parameters, the same
  * parameterization statsmodels SARIMAX estimates (CSS rather than
  * state-space likelihood) — minimized with L-BFGS (Breeze). A search's
  * cells are independent fits, run as ONE Spark job ([[fanOut]]: the cells
  * dealt over at most `defaultParallelism` tasks, results in cell order),
  * which is how the search scales on a cluster; a caller with several
  * searches over the same series (`ArimaModel.fit`'s CV folds and its
  * full-series search) runs all their cells in that one job
  * ([[runSearches]]). */
object ArimaCss {

  /** Breeze's `LBFGS(maxIter = 200, m = 7)` with its logging off, for the
    * ARIMA fitters: a cell whose CSS objective goes non-finite makes the
    * line search and the minimizer log an ERROR per failed step (about
    * 1,460 lines per AutoML lifecycle), although the cell's failure is the
    * expected outcome and [[fitCell]] drops it. `determineStepSize` is
    * Breeze's own (`StrongWolfeLineSearch(10, 10)`, first step 1/‖dir‖,
    * underflow below 1e-10), with the line search's logger off too, so
    * every fit is unchanged. */
  private final class QuietLbfgs(implicit space: MutableInnerProductModule[DenseVector[Double], Double])
      extends LBFGS[DenseVector[Double]](200, 7) {
    override protected def logger: LazyLogger = Quiet

    override protected def determineStepSize(state: State, f: DiffFunction[DenseVector[Double]],
                                             dir: DenseVector[Double]): Double = {
      val ff = LineSearch.functionFromSearchDirection(f, state.x, dir)
      val search = new StrongWolfeLineSearch(maxZoomIter = 10, maxLineSearchIter = 10) {
        override protected def logger: LazyLogger = Quiet
      }
      val alpha = search.minimize(ff, if (state.iter == 0.0) 1.0 / norm(dir)(space.normImpl) else 1.0)
      if (alpha * norm(state.grad)(space.normImpl) < 1e-10) throw new StepSizeUnderflow
      alpha
    }
  }

  private val Quiet = new LazyLogger(NOPLogger.NOP_LOGGER)

  /** Order spec. arLags/maLags are the lags of the EXPANDED multiplicative
    * polynomial (1−Σφᵢᵢ)(1−ΣΦᵢᵐ): regular lags 1..p, seasonal lags m..Pm,
    * and the cross lags i+Im contributed by the product — coefficients at
    * those lags are CONSTRAINED functions of the p+P free parameters
    * (fitted by [[fitOne]]'s multiplicative path), not free subset
    * coefficients. nParams counts the FREE parameters. */
  case class Spec(p: Int, d: Int, q: Int, sP: Int = 0, sD: Int = 0, sQ: Int = 0, m: Int = 1) {
    def arLags: Array[Int] =
      ((1 to p) ++ (1 to sP).map(_ * m) ++
        (for (i <- 1 to p; j <- 1 to sP) yield i + j * m)).distinct.sorted.toArray
    def maLags: Array[Int] =
      ((1 to q) ++ (1 to sQ).map(_ * m) ++
        (for (i <- 1 to q; j <- 1 to sQ) yield i + j * m)).distinct.sorted.toArray
    def nParams: Int = p + sP + q + sQ + 1
    override def toString = s"ARIMA($p,$d,$q)($sP,$sD,$sQ)[$m]"
  }

  case class Fit(spec: Spec, phi: Array[Double], theta: Array[Double],
                 c: Double, sigma2: Double, aic: Double, n: Int,
                 beta: Array[Double] = Array.empty) {
    def p: Int = spec.p; def d: Int = spec.d; def q: Int = spec.q
  }

  /** CSS objective over subset lag sets:
    * e_t = w_t − c − Σ φ_i w_{t−arLag_i} − Σ θ_j e_{t−maLag_j}. */
  private def cssResiduals(w: Array[Double], c: Double,
                           arLags: Array[Int], phi: Array[Double],
                           maLags: Array[Int], theta: Array[Double]): Array[Double] = {
    val n = w.length
    val start = if (arLags.isEmpty) 0 else arLags.max
    val e = new Array[Double](n)
    var t = start
    while (t < n) {
      var pred = c
      var i = 0
      while (i < arLags.length) { pred += phi(i) * w(t - arLags(i)); i += 1 }
      var j = 0
      while (j < maLags.length) {
        val tj = t - maLags(j)
        if (tj >= start) pred += theta(j) * e(tj)
        j += 1
      }
      e(t) = w(t) - pred
      t += 1
    }
    e.drop(start)
  }

  private def diff1(y: Array[Double], lag: Int): Array[Double] =
    Array.tabulate(y.length - lag)(i => y(i + lag) - y(i))

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** The spec's differencing ladder applied row-wise to exogenous
    * regressor rows — regression-with-SARIMA-errors differences BOTH
    * sides of the mean equation (statsmodels SARIMAX `exog` semantics,
    * the object the reference constructs at
    * `models/ar_based/build_arima_base.py:275,298`). */
  private def ladderRows(xs: Array[Array[Double]], spec: Spec): Array[Array[Double]] = {
    def diffR(a: Array[Array[Double]], lag: Int): Array[Array[Double]] =
      Array.tabulate(a.length - lag)(i =>
        Array.tabulate(a(0).length)(k => a(i + lag)(k) - a(i)(k)))
    var cur = xs
    var i = 0
    while (i < spec.sD) { cur = diffR(cur, spec.m); i += 1 }
    i = 0
    while (i < spec.d) { cur = diffR(cur, 1); i += 1 }
    cur
  }

  /** Differencing ladder: seasonal D times at lag m, then regular d times.
    * Returns every intermediate level (needed for exact inversion). */
  private def ladder(y: Array[Double], spec: Spec): (Seq[Array[Double]], Seq[Array[Double]]) = {
    val sLevels = Seq.iterate(y, spec.sD + 1)(cur => diff1(cur, spec.m))
    val rLevels = Seq.iterate(sLevels.last, spec.d + 1)(cur => diff1(cur, 1))
    (sLevels, rLevels)
  }

  /** Pure-AR CSS is CONDITIONAL LEAST SQUARES — a linear regression of
    * w_t on its lags — so the cell is solved exactly by QR instead of
    * iterating L-BFGS on a quadratic (statsmodels special-cases AR the
    * same way). Roughly half of every (p,d,q) grid has q=0, so this both
    * removes the iteration cost from those tasks and makes the result
    * deterministic to machine precision (the `m1_ar1` oracle twin
    * hash-checks this path against closed-form SQL). */
  private def fitPureAr(w: Array[Double], spec: Spec): Fit = {
    val arLags = spec.arLags
    val start = if (arLags.isEmpty) 0 else arLags.max
    val ne = w.length - start
    val k = arLags.length + 1
    val x = DenseMatrix.zeros[Double](ne, k)
    val yv = DenseVector.zeros[Double](ne)
    var r = 0
    while (r < ne) {
      val t = start + r
      x(r, 0) = 1.0
      var i = 0
      while (i < arLags.length) { x(r, i + 1) = w(t - arLags(i)); i += 1 }
      yv(r) = w(t)
      r += 1
    }
    val beta = x \ yv // QR least squares
    val c = beta(0)
    val phi = Array.tabulate(arLags.length)(i => beta(i + 1))
    val e = cssResiduals(w, c, arLags, phi, Array.empty, Array.empty)
    val sigma2 = e.map(v => v * v).sum / ne
    val aic = ne * math.log(math.max(sigma2, 1e-300)) + 2.0 * (spec.nParams + 1)
    Fit(spec, phi, Array.empty, c, sigma2, aic, ne)
  }

  /** Coefficients of the expanded multiplicative polynomial, aligned to
    * `lags` (the spec's expanded lag list): regular coefficient at lag i,
    * seasonal at Im, crossSign·(reg·seas) at i+Im, summed where lags
    * collide (small m). crossSign = −1 for AR ((1−φ)(1−Φ) cross term is
    * +φΦ on the polynomial ⇒ −φΦ on the recursion side), +1 for MA. */
  private def expandAligned(lags: Array[Int], reg: Array[Double],
                            seas: Array[Double], m: Int,
                            crossSign: Double): Array[Double] = {
    val acc = scala.collection.mutable.HashMap.empty[Int, Double]
    for (i <- reg.indices)
      acc(i + 1) = acc.getOrElse(i + 1, 0.0) + reg(i)
    for (j <- seas.indices)
      acc((j + 1) * m) = acc.getOrElse((j + 1) * m, 0.0) + seas(j)
    for (i <- reg.indices; j <- seas.indices) {
      val l = i + 1 + (j + 1) * m
      acc(l) = acc.getOrElse(l, 0.0) + crossSign * reg(i) * seas(j)
    }
    lags.map(l => acc.getOrElse(l, 0.0))
  }

  private def invertibilityGate(maLags: Array[Int], theta: Array[Double], spec: Spec): Unit =
    if (maLags.nonEmpty) {
      val deg = maLags.max
      val maCoeffs = new Array[Double](deg)
      var j = 0
      while (j < maLags.length) { maCoeffs(maLags(j) - 1) = -theta(j); j += 1 }
      if (!graft.stats.StatTests.rootsOutsideUnitCircle(maCoeffs))
        throw new IllegalStateException(s"non-invertible MA fit rejected for $spec")
    }

  /** Seasonal cells: CSS over the exact multiplicative polynomial. The
    * free parameters are (c, φ_1..p, Φ_1..P, θ_1..q, Θ_1..Q); the
    * recursion sees the EXPANDED coefficient vectors, so cross-lag
    * coefficients are constrained products, exactly as in statsmodels'
    * SARIMAX parameterization. Bilinear in the parameters (φ·Φ cross
    * terms), hence L-BFGS even for pure-AR seasonal cells. The returned
    * Fit carries the expanded coefficients aligned to spec.arLags/maLags,
    * so [[cssResiduals]] and [[forecast]] consume it unchanged. */
  private def fitMultiplicative(w: Array[Double], spec: Spec): Fit = {
    val p = spec.p; val sP = spec.sP; val q = spec.q; val sQ = spec.sQ; val m = spec.m
    val arLags = spec.arLags; val maLags = spec.maLags
    val n = w.length
    def split(x: DenseVector[Double]) = (
      x(0),
      Array.tabulate(p)(i => x(1 + i)),
      Array.tabulate(sP)(i => x(1 + p + i)),
      Array.tabulate(q)(i => x(1 + p + sP + i)),
      Array.tabulate(sQ)(i => x(1 + p + sP + q + i)))
    def residuals(x: DenseVector[Double]): Array[Double] = {
      val (c, phiR, phiS, thR, thS) = split(x)
      cssResiduals(w, c,
        arLags, expandAligned(arLags, phiR, phiS, m, -1.0),
        maLags, expandAligned(maLags, thR, thS, m, +1.0))
    }
    val obj = new DiffFunction[DenseVector[Double]] {
      private val inner = new ApproximateGradientFunction[Int, DenseVector[Double]](
        (x: DenseVector[Double]) => { val e = residuals(x); 0.5 * e.map(v => v * v).sum })
      def calculate(x: DenseVector[Double]): (Double, DenseVector[Double]) = inner.calculate(x)
    }
    val init = DenseVector.zeros[Double](1 + p + sP + q + sQ)
    init(0) = w.sum / n
    val xOpt = new QuietLbfgs().minimize(obj, init)
    val (c, phiR, phiS, thR, thS) = split(xOpt)
    val phi = expandAligned(arLags, phiR, phiS, m, -1.0)
    val theta = expandAligned(maLags, thR, thS, m, +1.0)
    invertibilityGate(maLags, theta, spec)
    val e = residuals(xOpt)
    val ne = e.length
    val sigma2 = e.map(v => v * v).sum / ne
    val aic = ne * math.log(math.max(sigma2, 1e-300)) + 2.0 * (spec.nParams + 1)
    Fit(spec, phi, theta, c, sigma2, aic, ne)
  }

  /** Fit one cell: exact CLS for pure-AR cells, CSS/L-BFGS otherwise.
    * Cells where BOTH factors of a polynomial are non-trivial (p>0 and
    * P>0, or q>0 and Q>0) have constrained cross-lag products and route
    * through the multiplicative path; when one factor is trivial the
    * expanded polynomial has no cross terms and the free-coefficient
    * paths below ARE the exact model — in particular a pure seasonal AR
    * (0,d,0)(P,D,0) stays on the exact QR solve (hash-checked by the
    * `m2_sar1` oracle twin). */
  def fitOne(y: Array[Double], spec: Spec): Fit = {
    val w = ladder(y, spec)._2.last
    val n = w.length
    val maxLag = (spec.arLags ++ spec.maLags).foldLeft(0)(math.max)
    require(n > maxLag + spec.nParams + 2, s"series too short for $spec")
    if (spec.m > 1 && ((spec.p > 0 && spec.sP > 0) || (spec.q > 0 && spec.sQ > 0)))
      return fitMultiplicative(w, spec)
    if (spec.maLags.isEmpty) return fitPureAr(w, spec)
    val arLags = spec.arLags; val maLags = spec.maLags
    val np = arLags.length; val nq = maLags.length
    val obj = new DiffFunction[DenseVector[Double]] {
      private val inner = new ApproximateGradientFunction[Int, DenseVector[Double]](
        (x: DenseVector[Double]) => {
          val c = x(0)
          val phi = Array.tabulate(np)(i => x(1 + i))
          val theta = Array.tabulate(nq)(j => x(1 + np + j))
          val e = cssResiduals(w, c, arLags, phi, maLags, theta)
          0.5 * e.map(v => v * v).sum
        })
      def calculate(x: DenseVector[Double]): (Double, DenseVector[Double]) = inner.calculate(x)
    }
    val init = DenseVector.zeros[Double](1 + np + nq)
    init(0) = w.sum / n // start intercept at the mean
    val xOpt = new QuietLbfgs().minimize(obj, init)
    val c = xOpt(0)
    val phi = Array.tabulate(np)(i => xOpt(1 + i))
    val theta = Array.tabulate(nq)(j => xOpt(1 + np + j))
    // INVERTIBILITY GATE: unconstrained CSS can walk the MA polynomial
    // inside the unit circle, where the e_t feedback "explains" in-sample
    // noise and sigma2 (hence AIC) is spuriously small — on pure white
    // noise an unconstrained (2,0,2) beats (0,0,0) by ~17 AIC with
    // |theta| > 1. statsmodels/pmdarima reject such fits; so do we: the
    // cell is discarded (fitCell drops it) and the search keeps the
    // invertible candidates.
    invertibilityGate(maLags, theta, spec)
    val e = cssResiduals(w, c, arLags, phi, maLags, theta)
    val ne = e.length
    val sigma2 = e.map(v => v * v).sum / ne
    val aic = ne * math.log(math.max(sigma2, 1e-300)) + 2.0 * (spec.nParams + 1)
    Fit(spec, phi, theta, c, sigma2, aic, ne)
  }

  /** Back-compat non-seasonal entry. */
  def fitOne(y: Array[Double], p: Int, d: Int, q: Int): Fit =
    fitOne(y, Spec(p, d, q))

  /** Exact QR for the regression-only cell ((0,d,0) with exog): with no
    * ARMA terms the CSS objective IS ordinary least squares of the
    * differenced target on [1, differenced exog] — deterministic to
    * machine precision (the `m1x_exog` oracle twin hash-checks this path
    * against closed-form SQL). */
  private def fitRegressionX(w: Array[Double], v: Array[Array[Double]], spec: Spec): Fit = {
    val n = w.length
    val k = v(0).length
    val x = DenseMatrix.zeros[Double](n, k + 1)
    val yv = DenseVector.zeros[Double](n)
    var r = 0
    while (r < n) {
      x(r, 0) = 1.0
      var i = 0
      while (i < k) { x(r, i + 1) = v(r)(i); i += 1 }
      yv(r) = w(r)
      r += 1
    }
    val b = x \ yv
    val c = b(0)
    val beta = Array.tabulate(k)(i => b(i + 1))
    val e = Array.tabulate(n)(t => w(t) - c - dot(beta, v(t)))
    val sigma2 = e.map(ev => ev * ev).sum / n
    val aic = n * math.log(math.max(sigma2, 1e-300)) + 2.0 * (spec.nParams + k + 1)
    Fit(spec, Array.empty, Array.empty, c, sigma2, aic, n, beta)
  }

  /** ARIMAX cell — regression with SARIMA errors, the model statsmodels
    * estimates when the reference passes `exog=data[self.original_preds]`
    * (`models/ar_based/build_arima_base.py:265-298`): the mean equation
    * is w_t = β'v_t + u_t with u_t following the (seasonal) ARMA
    * recursion, BOTH sides on the differenced scale. The free parameters
    * (c, β, φ, Φ, θ, Θ) are minimized jointly by L-BFGS on the CSS
    * objective with the same multiplicative cross-lag constraints as the
    * exog-free path, warm-started from the pure-regression QR solution.
    * Empty exog delegates to [[fitOne]] unchanged. */
  def fitOneX(y: Array[Double], xs: Array[Array[Double]], spec: Spec): Fit = {
    if (xs.isEmpty || xs(0).isEmpty) return fitOne(y, spec)
    require(xs.length == y.length, s"exog rows ${xs.length} != series length ${y.length}")
    val k = xs(0).length
    val w = ladder(y, spec)._2.last
    val v = ladderRows(xs, spec)
    val n = w.length
    val maxLag = (spec.arLags ++ spec.maLags).foldLeft(0)(math.max)
    require(n > maxLag + spec.nParams + k + 2, s"series too short for $spec with $k exog")
    if (spec.arLags.isEmpty && spec.maLags.isEmpty) return fitRegressionX(w, v, spec)
    val p = spec.p; val sP = spec.sP; val q = spec.q; val sQ = spec.sQ; val m = spec.m
    val arLags = spec.arLags; val maLags = spec.maLags
    def split(xv: DenseVector[Double]) = (
      xv(0),
      Array.tabulate(k)(i => xv(1 + i)),
      Array.tabulate(p)(i => xv(1 + k + i)),
      Array.tabulate(sP)(i => xv(1 + k + p + i)),
      Array.tabulate(q)(i => xv(1 + k + p + sP + i)),
      Array.tabulate(sQ)(i => xv(1 + k + p + sP + q + i)))
    def residuals(xv: DenseVector[Double]): Array[Double] = {
      val (c, beta, phiR, phiS, thR, thS) = split(xv)
      val u = Array.tabulate(n)(t => w(t) - dot(beta, v(t)))
      cssResiduals(u, c,
        arLags, expandAligned(arLags, phiR, phiS, m, -1.0),
        maLags, expandAligned(maLags, thR, thS, m, +1.0))
    }
    val obj = new DiffFunction[DenseVector[Double]] {
      private val inner = new ApproximateGradientFunction[Int, DenseVector[Double]](
        (xv: DenseVector[Double]) => { val e = residuals(xv); 0.5 * e.map(ev => ev * ev).sum })
      def calculate(xv: DenseVector[Double]): (Double, DenseVector[Double]) = inner.calculate(xv)
    }
    val ols = fitRegressionX(w, v, spec)
    val init = DenseVector.zeros[Double](1 + k + p + sP + q + sQ)
    init(0) = ols.c
    var bi = 0
    while (bi < k) { init(1 + bi) = ols.beta(bi); bi += 1 }
    val xOpt = new QuietLbfgs().minimize(obj, init)
    val (c, beta, phiR, phiS, thR, thS) = split(xOpt)
    val phi = expandAligned(arLags, phiR, phiS, m, -1.0)
    val theta = expandAligned(maLags, thR, thS, m, +1.0)
    invertibilityGate(maLags, theta, spec)
    val e = residuals(xOpt)
    val ne = e.length
    val sigma2 = e.map(ev => ev * ev).sum / ne
    val aic = ne * math.log(math.max(sigma2, 1e-300)) + 2.0 * (spec.nParams + k + 1)
    Fit(spec, phi, theta, c, sigma2, aic, ne, beta)
  }

  /** One cell of a search: `spec` fitted on (y, xs). With a holdout
    * (`valY` non-empty) the fit's forecast over (valY, valX) is scored by
    * RMSE; without one `rmse` is NaN. */
  private[graft] final case class Cell(y: Array[Double], xs: Array[Array[Double]], spec: Spec,
                                        valY: Array[Double] = Array.empty,
                                        valX: Array[Array[Double]] = Array.empty)

  /** A cell's fit and its holdout RMSE. */
  private[graft] final case class Scored(fit: Fit, rmse: Double)

  /** A cell's outcome: None when the fit fails (too short, non-invertible,
    * no convergence) or its holdout RMSE is not finite. */
  private def fitCell(c: Cell): Option[Scored] =
    try {
      val f = fitOneX(c.y, c.xs, c.spec)
      if (c.valY.isEmpty) Some(Scored(f, Double.NaN))
      else {
        val pred = forecastX(c.y, c.xs, f, c.valY.length, c.valX)
        val rmse = math.sqrt(pred.zip(c.valY)
          .map { case (a, b) => (a - b) * (a - b) }.sum / pred.length)
        if (rmse.isNaN || rmse.isInfinite) None else Some(Scored(f, rmse))
      }
    } catch { case _: Throwable => None }

  /** `f` over independent `cells` as ONE Spark job (SURVEY §4: the
    * parallel-estimator scheduler): the cells are dealt round-robin over at
    * most `defaultParallelism` tasks, so a grid sorted by cost spreads its
    * dear cells evenly, and the results come back in cell order. No cells,
    * no job. */
  private[graft] def fanOut[A, B](spark: SparkSession, cells: Seq[A])(f: A => B): Seq[B] = {
    val sc = spark.sparkContext
    val k = math.min(cells.size, sc.defaultParallelism)
    if (k == 0) return Seq.empty
    val dealt = Seq.tabulate(k)(t => (t until cells.size by k).map(i => i -> cells(i)))
    sc.parallelize(dealt, k)
      .map(_.map { case (i, c) => (i, f(c)) })
      .collect().toSeq.flatten.sortBy(_._1).map(_._2)
  }

  /** Every cell's outcome, in cell order, from one [[fanOut]] job. */
  private def fitCells(spark: SparkSession, cells: Seq[Cell]): Seq[Option[Scored]] =
    fanOut(spark, cells)(fitCell)

  /** A search as its cells and the selection over their outcomes (in cell
    * order), so several searches run their cells as one job
    * ([[runSearches]]). */
  private[graft] final case class Search(cells: Seq[Cell], select: Seq[Option[Scored]] => Fit)

  /** The cells of all `searches` as ONE Spark job, then each search's
    * selection, in order. */
  private[graft] def runSearches(spark: SparkSession, searches: Seq[Search]): Seq[Fit] = {
    val out = fitCells(spark, searches.flatMap(_.cells))
    val offsets = searches.scanLeft(0)(_ + _.cells.size)
    searches.zip(offsets).map { case (s, from) => s.select(out.slice(from, from + s.cells.size)) }
  }

  /** Non-seasonal grid search (min-AIC, first cell in grid order on a tie,
    * 100-fit budget like `param_finder.py:94-99`). Non-empty `xs` makes
    * every cell an ARIMAX regression-with-ARMA-errors fit. */
  private[graft] def gridPlan(y: Array[Double], maxP: Int = 3, maxD: Int = 1, maxQ: Int = 3,
                               budget: Int = 100,
                               xs: Array[Array[Double]] = Array.empty): Search = {
    // the (0,d,0) intercept-only cell is a legal candidate (the reference
    // grids p,q from 0, `build_arima.py:77-112`): on white-noise-after-
    // differencing series it should win rather than force a spurious term
    val grid = (for {
      p <- 0 to maxP; d <- 0 to maxD; q <- 0 to maxQ
      if y.length - d > p + q + 8
    } yield Spec(p, d, q)).take(budget)
    Search(grid.map(Cell(y, xs, _)), { out =>
      val fits = out.flatten.map(_.fit)
      require(fits.nonEmpty, "no ARIMA cell converged")
      fits.minBy(_.aic)
    })
  }

  /** [[gridPlan]] as one Spark job. */
  def gridSearch(spark: SparkSession, y: Array[Double],
                 maxP: Int = 3, maxD: Int = 1, maxQ: Int = 3,
                 budget: Int = 100,
                 xs: Array[Array[Double]] = Array.empty): Fit =
    runSearches(spark, Seq(gridPlan(y, maxP, maxD, maxQ, budget, xs))).head

  private def stddev(x: Array[Double]): Double = {
    val mu = x.sum / x.length
    math.sqrt(x.map(v => (v - mu) * (v - mu)).sum / math.max(x.length - 1, 1))
  }

  /** Seasonal order search. D ∈ {0,1} comes from seasonal strength
    * (variance ratio of the lag-m difference — the OCSB-test stand-in in
    * auto-arima, `build_autoarimax.py:16-88`); then the joint (p,d,q,P,Q)
    * grid is fitted, each cell scored by h-step RMSE on the held-out TAIL
    * of the series. Selection by held-out forecast error (AIC as
    * tie-break, then grid order) rather than raw AIC: AIC values are
    * incomparable across differencing levels (different ne) and overfit
    * badly on reference-sized samples, whereas tail RMSE is the quantity
    * the AutoML is actually judged on. The winner is refit on the full
    * series on the driver. A series too short for a season, a grid where
    * no cell scores, or a winner whose refit fails falls back to
    * [[gridSearch]] (a job of its own). */
  private[graft] def seasonalPlan(spark: SparkSession, y: Array[Double], m: Int,
                                   maxP: Int = 3, maxD: Int = 1, maxQ: Int = 3,
                                   budget: Int = 100, holdout: Int = 8,
                                   xs: Array[Array[Double]] = Array.empty): Search = {
    // need at least one full season beyond the seasonal difference;
    // individually infeasible cells are rejected inside fitOne
    if (m <= 1 || y.length < 2 * m + 4) return gridPlan(y, maxP, maxD, maxQ, budget, xs)
    val sD = if (stddev(diff1(y, m)) < 0.9 * stddev(y)) 1 else 0
    val h = math.min(holdout, y.length / 5)
    val train = y.dropRight(h)
    val value = y.takeRight(h)
    val trainX = if (xs.isEmpty) xs else xs.dropRight(h)
    val valX = if (xs.isEmpty) xs else xs.takeRight(h)
    val grid = (for {
      p <- 0 to math.min(maxP, 2); q <- 0 to math.min(maxQ, 2)
      d <- 0 to maxD
      sP <- 0 to 1; sQ <- 0 to 1
    } yield Spec(p, d, q, sP, sD, sQ, m))
      .sortBy(_.nParams).take(budget)
    def fallback = gridSearch(spark, y, maxP, maxD, maxQ, budget, xs)
    Search(grid.map(Cell(train, trainX, _, value, valX)), { out =>
      val scored = out.flatten
      if (scored.isEmpty) fallback
      else {
        val bestSpec = scored.minBy(s => (s.rmse, s.fit.aic)).fit.spec
        scala.util.Try(fitOneX(y, xs, bestSpec)).getOrElse(fallback)
      }
    })
  }

  /** [[seasonalPlan]] as one Spark job. */
  def gridSearchSeasonal(spark: SparkSession, y: Array[Double], m: Int,
                         maxP: Int = 3, maxD: Int = 1, maxQ: Int = 3,
                         budget: Int = 100, holdout: Int = 8,
                         xs: Array[Array[Double]] = Array.empty): Fit =
    runSearches(spark, Seq(seasonalPlan(spark, y, m, maxP, maxD, maxQ, budget, holdout, xs))).head

  /** Lag-polynomial coefficient vector (index = lag − 1) from subset
    * lags + their fitted coefficients. */
  private def lagCoeffs(lags: Array[Int], v: Array[Double]): Array[Double] =
    if (lags.isEmpty) Array.empty
    else {
      val out = new Array[Double](lags.max)
      var i = 0
      while (i < lags.length) { out(lags(i) - 1) = v(i); i += 1 }
      out
    }

  /** Stationarity check on the fitted AR polynomial 1 − Σφᵢzⁱ — the
    * `arroots` validation of `ts_model_validation` (`utils/val.py:163`):
    * true iff every root lies outside the unit circle (vacuously true at
    * order 0, matching the reference). */
  def arRootsOk(f: Fit): Boolean =
    graft.stats.StatTests.rootsOutsideUnitCircle(lagCoeffs(f.spec.arLags, f.phi))

  /** Invertibility check on the fitted MA polynomial 1 + Σθⱼzʲ — the
    * `maroots` validation (`utils/val.py:165`). Always true for fits from
    * [[fitOne]], which rejects non-invertible MA solutions, but exposed
    * so callers can re-validate models from any source. */
  def maRootsOk(f: Fit): Boolean =
    graft.stats.StatTests.rootsOutsideUnitCircle(lagCoeffs(f.spec.maLags, f.theta).map(-_))

  /** AICc — AIC with the small-sample correction (pmdarima's default
    * information criterion for stepwise selection). */
  private def aicc(f: Fit): Double = {
    val k = f.spec.nParams + 1
    f.aic + 2.0 * k * (k + 1) / math.max(f.n - k - 1, 1)
  }

  /** AICc of `f` recomputed on residuals over a COMMON burn-in window:
    * residuals e_t for t ≥ `burn` of the shared differenced series `w`
    * (all specs in a stepwise search share one (d, sD), so `w` is
    * identical across them). A fit's own conditioning start is its
    * largest AR lag, so candidates with different (p, sP) natively score
    * on slightly different effective n — which makes the log-likelihood
    * terms of an AICc comparison sums over different data. Rescoring
    * every candidate from the same `burn` index makes each round's
    * comparison an equal-n likelihood comparison, the way statsmodels'
    * `loglike` conditions every candidate on the same `k_ar` burn-in when
    * orders are compared. Returns (score, effective n). */
  private[graft] def aiccAt(w: Array[Double], f: Fit, burn: Int,
                            v: Array[Array[Double]] = Array.empty): (Double, Int) = {
    val ownStart = if (f.spec.arLags.isEmpty) 0 else f.spec.arLags.max
    val u = if (f.beta.isEmpty || v.isEmpty) w
            else Array.tabulate(w.length)(t => w(t) - dot(f.beta, v(t)))
    val e = cssResiduals(u, f.c, f.spec.arLags, f.phi, f.spec.maLags, f.theta)
    val e2 = if (burn > ownStart) e.drop(burn - ownStart) else e
    val ne = math.max(e2.length, 1)
    val sigma2 = math.max(e2.map(ev => ev * ev).sum / ne, 1e-300)
    val k = f.spec.nParams + f.beta.length + 1
    val aic = ne * math.log(sigma2) + 2.0 * k
    (aic + 2.0 * k * (k + 1) / math.max(ne - k - 1, 1), ne)
  }

  /** Largest conditioning lag over a set of specs — the shared burn-in
    * index that makes their residual windows identical. */
  private[graft] def commonBurn(specs: Iterable[Spec]): Int =
    specs.map(s => ((s.arLags ++ s.maLags) :+ 0).max).foldLeft(0)(math.max)

  /** M3 — stepwise Hyndman–Khandakar auto-ARIMA (the reference wraps
    * pmdarima's stepwise `auto_arima`, `build_autoarimax.py:16-88`).
    *
    * The seasonal order D is chosen FIRST (when m>1) by the
    * seasonal-strength variance ratio, then d by differencing the
    * (seasonally-differenced, if D=1) series until the ADF test rejects a
    * unit root at 5% (the reference's `test_stationarity`
    * repeat-after-diff loop, `utils/eda.py:204-314`), capped at 2 — the
    * same D-before-d ordering as Hyndman–Khandakar/pmdarima, so a strong
    * seasonal cycle can't masquerade as a regular unit root. Fixing the
    * differencing up front removes the dominant sample-size shift from
    * the AICc comparison, and each round rescores all candidates on
    * residuals over a SHARED burn-in window ([[aiccAt]]) so every
    * comparison is exactly equal-n. The search then starts from the four
    * canonical seeds and hill-climbs over ±1 neighbors in (p, q, sP,
    * sQ); each round's unseen neighbors are fitted as ONE Spark job
    * ([[fanOut]]). Typically converges in 3-6 rounds ≈ 20-40 fits vs the 100-fit
    * full grid, and wall-clock on a cluster is O(rounds · slowest fit),
    * not O(grid). */
  def stepwiseSearch(spark: SparkSession, y: Array[Double], m: Int = 1,
                     maxP: Int = 5, maxQ: Int = 5, maxOrder: Int = 5,
                     maxRounds: Int = 10,
                     xs: Array[Array[Double]] = Array.empty): Fit = {
    val kx = if (xs.isEmpty) 0 else xs(0).length
    // D first (seasonal-strength ratio on the raw series), then the ADF
    // repeat-after-diff loop runs on the seasonally-differenced series —
    // Hyndman-Khandakar's ordering, so the unit-root test never sees the
    // seasonal cycle it would mistake for a regular unit root.
    val seasonal = m > 1 && y.length >= 2 * m + 4
    val sD = if (seasonal && stddev(diff1(y, m)) < 0.9 * stddev(y)) 1 else 0
    var d = 0
    var w = if (sD == 1) diff1(y, m) else y
    while (d < 2 && w.length >= 10 && !graft.stats.StatTests.adf(w).stationary) {
      w = diff1(w, 1); d += 1
    }
    val seeds =
      if (seasonal) Seq(
        Spec(2, d, 2, 1, sD, 1, m), Spec(0, d, 0, 0, sD, 0, m),
        Spec(1, d, 0, 1, sD, 0, m), Spec(0, d, 1, 0, sD, 1, m))
      else Seq(Spec(2, d, 2), Spec(0, d, 0), Spec(1, d, 0), Spec(0, d, 1))

    // Note no minimum-order condition: the (0,d,0) random-walk/white-noise
    // spec is a legitimate candidate (pmdarima always seeds it) — the CSS
    // fitter handles it as an intercept-only regression, and on a series
    // that is pure noise after differencing it SHOULD win.
    def feasible(s: Spec): Boolean =
      s.p >= 0 && s.q >= 0 && s.sP >= 0 && s.sQ >= 0 &&
      s.p <= maxP && s.q <= maxQ && s.sP <= 2 && s.sQ <= 2 &&
      s.p + s.q + s.sP + s.sQ <= maxOrder &&
      y.length - d - sD * m > s.nParams + kx +
        (s.arLags ++ s.maLags).foldLeft(0)(math.max) + 2

    val attempted = scala.collection.mutable.Set.empty[Spec]
    val fits = scala.collection.mutable.Map.empty[Spec, Fit]
    def fitBatch(specs: Seq[Spec]): Unit = {
      val todo = specs.distinct.filter(s => feasible(s) && !attempted(s))
      attempted ++= todo
      fitCells(spark, todo.map(Cell(y, xs, _))).flatten.foreach(o => fits(o.fit.spec) = o.fit)
    }
    fitBatch(seeds)
    require(fits.nonEmpty, "no stepwise seed converged")
    // Every comparison (this round's minBy AND the improved-vs-best test)
    // rescores ALL fitted candidates on residuals from one shared burn-in
    // — the largest conditioning lag attempted so far — so each round's
    // AICc ranking is an equal-n likelihood comparison (see [[aiccAt]]).
    // All specs share (d, sD) fixed above, so `w` (and the identically
    // differenced exog rows `vw`) is the common frame.
    val vw = if (xs.isEmpty) xs else ladderRows(xs, Spec(0, d, 0, 0, sD, 0, math.max(m, 1)))
    def score(f: Fit): Double = aiccAt(w, f, commonBurn(fits.keys), vw)._1
    var best = fits.values.minBy(score)
    var improved = true
    var round = 0
    while (improved && round < maxRounds) {
      val b = best.spec
      fitBatch(Seq(
        b.copy(p = b.p + 1), b.copy(p = b.p - 1),
        b.copy(q = b.q + 1), b.copy(q = b.q - 1),
        b.copy(p = b.p + 1, q = b.q + 1), b.copy(p = b.p - 1, q = b.q - 1),
        b.copy(p = b.p + 1, q = b.q - 1), b.copy(p = b.p - 1, q = b.q + 1)) ++
        (if (seasonal) Seq(
          b.copy(sP = b.sP + 1), b.copy(sP = b.sP - 1),
          b.copy(sQ = b.sQ + 1), b.copy(sQ = b.sQ - 1)) else Nil))
      val cand = fits.values.minBy(score)
      improved = score(cand) < score(best) - 1e-9
      if (improved) best = cand
      round += 1
    }
    best
  }

  /** Recursive h-step forecast on the fully-differenced scale, then exact
    * inversion back up the differencing ladder (regular cumsum levels,
    * then seasonal restore against the last m values of each level). */
  def forecast(y: Array[Double], fit: Fit, h: Int): Array[Double] =
    forecastX(y, Array.empty, fit, h, Array.empty)

  /** ARIMAX h-step forecast: the ARMA recursion runs on the error series
    * u_t = w_t − β'v_t, the regression part β'v is added back from the
    * FUTURE exog rows (differenced through the same ladder, jointly with
    * the training rows so the boundary differences are exact), and the
    * result is inverted up the differencing ladder. The reference
    * requires exog at predict (`build_arima_base.py:350`
    * `get_forecast(..., exog=testdata)`); when fewer than h future rows
    * are supplied the last observed exog row is held flat — the
    * documented fallback, matching `predict(simple=True)`'s
    * last-value-carry semantics rather than erroring. */
  def forecastX(y: Array[Double], xs: Array[Array[Double]], fit: Fit, h: Int,
                futureX: Array[Array[Double]] = Array.empty): Array[Double] = {
    val spec = fit.spec
    val (sLevels, rLevels) = ladder(y, spec)
    val w = rLevels.last
    val useX = fit.beta.nonEmpty && xs.nonEmpty
    // error series the ARMA recursion sees + future regression offsets
    val (u, offFut) =
      if (!useX) (w, Array.fill(h)(0.0))
      else {
        val fx = Array.tabulate(h)(i => if (i < futureX.length) futureX(i) else xs.last)
        val vAll = ladderRows(xs ++ fx, spec)
        val nW = w.length
        val vTrain = vAll.take(nW)
        val vFut = vAll.slice(nW, nW + h)
        (Array.tabulate(nW)(t => w(t) - dot(fit.beta, vTrain(t))),
         vFut.map(r => dot(fit.beta, r)))
      }
    val arLags = spec.arLags; val maLags = spec.maLags
    val start = if (arLags.isEmpty) 0 else arLags.max
    val e = cssResiduals(u, fit.c, arLags, fit.phi, maLags, fit.theta)
    val uBuf = scala.collection.mutable.ArrayBuffer(u.toIndexedSeq: _*)
    val eBuf = scala.collection.mutable.ArrayBuffer((Array.fill(start)(0.0) ++ e).toIndexedSeq: _*)
    val out = new Array[Double](h)
    for (i <- 0 until h) {
      val t = uBuf.length
      var pred = fit.c
      for (j <- arLags.indices; if t - arLags(j) >= 0) pred += fit.phi(j) * uBuf(t - arLags(j))
      for (j <- maLags.indices; if t - maLags(j) >= 0 && t - maLags(j) < eBuf.length)
        pred += fit.theta(j) * eBuf(t - maLags(j))
      uBuf += pred
      eBuf += 0.0 // future innovations have expectation 0
      out(i) = pred + offFut(i) // back to the w-scale: û + β'v_future
    }
    // invert regular differences (innermost level first)
    var cur = out
    for (lvl <- (spec.d - 1) to 0 by -1) {
      var anchor = rLevels(lvl).last
      cur = cur.map { dv => anchor += dv; anchor }
    }
    // invert seasonal differences against the last m values of each level
    for (lvl <- (spec.sD - 1) to 0 by -1) {
      val buf = scala.collection.mutable.ArrayBuffer(sLevels(lvl).takeRight(spec.m).toIndexedSeq: _*)
      cur = cur.map { v => val restored = v + buf(buf.length - spec.m); buf += restored; restored }
    }
    cur
  }
}

/** ModelBuild wrapper: auto-SARIMA (two-stage grid-searched CSS) with
  * expanding CV. `seasonalM` ≤ 1 disables the seasonal stage. */
class ArimaModel(maxP: Int = 3, maxD: Int = 1, maxQ: Int = 3,
                 seasonalM: Int = 1, z: Double = 1.96) extends LocalModelBuild {
  val name = "auto_SARIMAX"

  private var series: LocalSeries = _
  private var intervalMs: Long = _
  private var best: ArimaCss.Fit = _
  private var tsSchema: TsSchema = _

  private def xsAll: Array[Array[Double]] =
    if (tsSchema != null && tsSchema.exog.nonEmpty) series.exog else Array.empty

  private def search(spark: SparkSession, y: Array[Double],
                     xs: Array[Array[Double]]): ArimaCss.Search =
    if (seasonalM > 1) ArimaCss.seasonalPlan(spark, y, seasonalM, maxP, maxD, maxQ, xs = xs)
    else ArimaCss.gridPlan(y, maxP, maxD, maxQ, xs = xs)

  /** Numeric exog columns become ARIMAX regressors (regression with SARIMA
    * errors — the `exog=data[self.original_preds]` path of
    * `build_arima_base.py:265-298`); non-numeric columns are dropped from
    * this model's schema (statsmodels requires numeric exog; the ML leg
    * handles NLP columns instead). CV folds forecast with the ACTUAL
    * in-sample exog of the fold window, the reference's backtest shape
    * (`build_arima_base.py:149-157` passes ts_test's exog at predict). */
  def fitLocal(read: LocalSeries.Read, schema: TsSchema, cv: Int, h: Int): CvScores = {
    val numExog = schema.exog.filter(c =>
      read.df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    tsSchema = schema.copy(exog = numExog)
    series = read.series(tsSchema)
    intervalMs = series.intervalMs
    val spark = read.df.sparkSession
    val xs = xsAll
    val folds = LocalSeries.foldBounds(series.n, cv, h)
    // every fold's search and the full-series search: one Spark job
    val fits = ArimaCss.runSearches(spark,
      folds.map { case (trainEnd, _) => search(spark, series.y.take(trainEnd), xs.take(trainEnd)) } :+
        search(spark, series.y, xs))
    best = fits.last
    CvScores.of(folds.zip(fits).map { case ((trainEnd, testEnd), f) =>
      val pred = ArimaCss.forecastX(series.y.take(trainEnd), xs.take(trainEnd), f,
        testEnd - trainEnd, xs.slice(trainEnd, testEnd))
      LocalSeries.score(series.y.slice(trainEnd, testEnd), pred)
    })
  }

  def predict(spark: SparkSession, h: Int, future: Option[DataFrame] = None): DataFrame = {
    ForecastFrame.requireHorizon(h)
    val futX = future match {
      case Some(f) if tsSchema != null && tsSchema.exog.nonEmpty =>
        FutureExog.collect(f, tsSchema.tsCol, tsSchema.exog)
      case _ => Array.empty[Array[Double]]
    }
    val pred = ArimaCss.forecastX(series.y, xsAll, best, h, futX)
    ForecastFrame.build(spark, series.ts.last, intervalMs, pred, math.sqrt(best.sigma2), z)
  }

  def bestOrder: (Int, Int, Int) = (best.p, best.d, best.q)
  def bestSpec: ArimaCss.Spec = best.spec
  def bestBeta: Array[Double] = best.beta

  /** params-JSON + coefficient arrays: the entire fitted state is the
    * chosen spec, φ/θ/c/σ², and the bounded training series tail the
    * recursive forecast seeds from. */
  def save(dir: String): Unit = {
    import org.json4s.JsonDSL._
    val s = best.spec
    Persist.writeJson(dir,
      ("type" -> "arima") ~ ("maxP" -> maxP) ~ ("maxD" -> maxD) ~
      ("maxQ" -> maxQ) ~ ("seasonalM" -> seasonalM) ~ ("z" -> z) ~
      ("intervalMs" -> intervalMs) ~ ("series" -> Persist.seriesJson(series)) ~
      ("schema" -> Persist.schemaJson(
        if (tsSchema != null) tsSchema else TsSchema("ts", "y"))) ~
      ("spec" -> (("p" -> s.p) ~ ("d" -> s.d) ~ ("q" -> s.q) ~
                  ("sP" -> s.sP) ~ ("sD" -> s.sD) ~ ("sQ" -> s.sQ) ~ ("m" -> s.m))) ~
      ("phi" -> best.phi.toList) ~ ("theta" -> best.theta.toList) ~
      ("beta" -> best.beta.toList) ~
      ("c" -> best.c) ~ ("sigma2" -> best.sigma2) ~ ("aic" -> best.aic) ~
      ("n" -> best.n))
  }
}

object ArimaModel {
  import Persist.formats

  def load(dir: String): ArimaModel = {
    val j = Persist.readJson(dir)
    val m = new ArimaModel((j \ "maxP").extract[Int], (j \ "maxD").extract[Int],
      (j \ "maxQ").extract[Int], (j \ "seasonalM").extract[Int],
      (j \ "z").extract[Double])
    m.series = Persist.seriesFrom(j \ "series")
    m.intervalMs = (j \ "intervalMs").extract[Long]
    m.tsSchema = Persist.schemaFrom(j \ "schema")
    val sj = j \ "spec"
    m.best = ArimaCss.Fit(
      ArimaCss.Spec((sj \ "p").extract[Int], (sj \ "d").extract[Int],
        (sj \ "q").extract[Int], (sj \ "sP").extract[Int],
        (sj \ "sD").extract[Int], (sj \ "sQ").extract[Int],
        (sj \ "m").extract[Int]),
      (j \ "phi").extract[Array[Double]], (j \ "theta").extract[Array[Double]],
      (j \ "c").extract[Double], (j \ "sigma2").extract[Double],
      (j \ "aic").extract[Double], (j \ "n").extract[Int],
      (j \ "beta").extract[Array[Double]])
    m
  }
}
