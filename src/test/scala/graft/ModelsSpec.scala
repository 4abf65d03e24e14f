package graft

import org.apache.spark.sql.functions._
import graft.automl.AutoTimeseries
import graft.infer.DatetimeFormatInfer
import graft.models._

/** Estimator accuracy held to metric bounds on the reference fixture
  * (BASELINE.md: reference goldens on Sales_and_Marketing are RMSE
  * 71.8 (ML), 94.5 (ML cv=2), 112.5 (VAR), 128-148 (SARIMAX),
  * 53.6-116.4 (Prophet folds) at train=40/h=8). Our estimators are
  * re-implementations, not ports — the bar is "competitive", i.e. mean CV
  * RMSE within 2x of the worst reference golden. */
class ModelsSpec extends SparkTestBase {

  lazy val sales = DatetimeFormatInfer.loadCsv(
    spark, "/root/reference/example_datasets/Sales_and_Marketing.csv", "Time Period")
    .withColumnRenamed("Time Period", "ts")
    .withColumnRenamed("Marketing Expense", "marketing")

  test("S1: csv load parses the ts column") {
    assert(sales.schema("ts").dataType.typeName == "timestamp")
    assert(sales.count() == 48)
  }

  test("fit accepts a CSV path directly (reference filename-dispatch parity)") {
    val at = new AutoTimeseries(cv = 1, forecastPeriod = 8, modelTypes = Seq("ML"))
    at.fit(spark, "/root/reference/example_datasets/Sales_and_Marketing.csv",
      "Time Period", "Sales", ",")
    assert(at.bestName == "ML")
    assert(at.leaderboard(spark).count() == 1)
  }

  test("AutoTimeseries end-to-end on the reference fixture") {
    val at = new AutoTimeseries(cv = 2, forecastPeriod = 8,
      modelTypes = Seq("ML", "Prophet", "VAR", "auto_SARIMAX"))
    at.fit(sales, "ts", "Sales")
    val lb = at.leaderboard(spark).collect()
    assert(lb.nonEmpty, "leaderboard empty")
    val bestRmse = lb.head.getDouble(1)
    // measured r2: SARIMAX 25.8, VAR 47.4, Prophet-like 52.0, ML 86.9;
    // reference cv=2 goldens: ML 94.5, Prophet≈61.4, VAR 112.5, SARIMAX 268.2.
    // Our BEST must beat the reference's best golden (94.5) — it does (52).
    assert(bestRmse < 50, s"best rmse $bestRmse worse than the reference's best golden")
    val byName = lb.map(r => r.getString(0) -> r.getDouble(1)).toMap
    // per-family regression guards (observed + headroom)
    byName.get("Prophet").foreach(r => assert(r < 80, s"Prophet rmse $r"))
    byName.get("ML").foreach(r => assert(r < 130, s"ML rmse $r"))
    byName.get("VAR").foreach(r => assert(r < 80, s"VAR rmse $r"))
    byName.get("auto_SARIMAX").foreach(r => assert(r < 60, s"SARIMAX rmse $r"))
    val fc = at.predict(spark, 8).collect()
    assert(fc.length == 8)
    assert(fc.forall(r => !r.getDouble(1).isNaN))
    // CI cols sane
    assert(fc.forall(r => r.getDouble(3) <= r.getDouble(1) && r.getDouble(1) <= r.getDouble(4)))
  }

  test("GbtModel log_y: log label wins on a spiky log-normal target, zero targets guarded") {
    import spark.implicits._
    // stationary multiplicative series with huge unpredictable spikes in
    // the TRAINING region only (the reference's log_y use case: a heavily
    // right-skewed target destabilizes the squared-loss fit in raw units;
    // in log space the spikes are mild). One y=0 row exercises the
    // reference's zero→1e-15 guard (`ml_models.py:117`).
    var st = 7L
    def lcg(): Double = {
      st = st * 6364136223846793005L + 1442695040888963407L
      (st >>> 11).toDouble / 9007199254740992.0 - 0.5
    }
    val rows = (0 until 72).map { t =>
      val base = math.exp(1.0 + 0.8 * lcg())
      val spike = if (t < 48 && t % 11 == 3) math.exp(6.0) else 0.0
      val y = if (t == 10) 0.0 else base + spike
      (java.sql.Timestamp.from(
         java.time.LocalDate.of(2015, 1, 1).plusMonths(t.toLong)
           .atStartOfDay(java.time.ZoneOffset.UTC).toInstant), y)
    }
    val df = rows.toDF("ts", "y")
    val sLog = new GbtModel(lags = 2, logY = true).fit(df, TsSchema("ts", "y"), cv = 2, h = 8)
    val sRaw = new GbtModel(lags = 2).fit(df, TsSchema("ts", "y"), cv = 2, h = 8)
    assert(sLog.foldRmse.forall(r => !r.isNaN), s"log_y folds NaN: ${sLog.foldRmse}")
    assert(sLog.meanRmse < 0.7 * sRaw.meanRmse,
      s"log_y ${sLog.meanRmse} not clearly below raw ${sRaw.meanRmse}")
    // forecasts come back in ORIGINAL units: positive, spike-free scale
    val mLog = new GbtModel(lags = 2, logY = true)
    mLog.fit(df, TsSchema("ts", "y"), cv = 1, h = 8)
    val fc = mLog.predict(spark, 8).select(col("yhat")).collect().map(_.getDouble(0))
    assert(fc.forall(v => v > 0 && v < 50), s"yhat not in original units: ${fc.toSeq}")
  }

  test("GbtModel NLP features: bag-of-words over a text predictor beats dropping it") {
    import spark.implicits._
    // the +40 promo lift is announced ONLY in the text column (promo
    // months follow t%7, invisible to calendar/lag features); the bag-of-
    // words route must recover it — `ml_models.py:22,470`
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
    // the note column is NLP-classified (string, >2 distinct, mean length >= 30)
    assert(graft.models.NlpFeatures.detect(df, Seq("note")) == Seq("note"))
    val sWith = new GbtModel(lags = 2).fit(df, TsSchema("ts", "y", Seq("note")), cv = 2, h = 8)
    val sDrop = new GbtModel(lags = 2).fit(df.drop("note"), TsSchema("ts", "y"), cv = 2, h = 8)
    assert(sWith.foldRmse.forall(r => !r.isNaN))
    assert(sWith.meanRmse < 0.5 * sDrop.meanRmse,
      s"text features ${sWith.meanRmse} not clearly below dropped ${sDrop.meanRmse}")
    // feature importances (reference top-10 print, ml_models.py:160-177):
    // the signal IS the text, so the TOP importance must be a bag-of-words
    // feature carrying a class-separating token — a word exclusive to one
    // of the two document templates (either direction separates equally)
    val m = new GbtModel(lags = 2)
    m.fit(df, TsSchema("ts", "y", Seq("note")), cv = 1, h = 8)
    val top = m.featureImportances(spark, 5).collect()
    assert(top.length == 5 && top.forall(r => r.getDouble(1) >= 0))
    val separating = Set(
      "big", "promotion", "event", "announced", "heavy", "discounts", "across", "stores",
      "ordinary", "trading", "conditions", "continued", "no", "notable", "commercial", "events")
    val topF = top.head.getString(0)
    assert(topF.startsWith("note_bow_") &&
      separating.contains(topF.stripPrefix("note_bow_")),
      s"top importance is not a separating bow feature: ${top.map(_.getString(0)).toSeq}")
  }

  test("ML predict consumes known future exog when provided") {
    import spark.implicits._
    val m = new GbtModel(lags = 2)
    m.fit(sales, TsSchema("ts", "Sales", Seq("marketing")), cv = 1, h = 8)
    val future = (1 to 8).map(i => (s"2017-0$i-01", 500.0 + i * 10))
      .toDF("d", "marketing")
      .withColumn("ts", to_timestamp($"d")).drop("d")
    val withExog = m.predict(spark, 8, Some(future)).collect()
    val without = m.predict(spark, 8).collect()
    assert(withExog.length == 8 && without.length == 8)
    assert(withExog.forall(r => !r.getDouble(1).isNaN))
  }

  test("holiday regressor lifts December spikes out of the trend residual") {
    import spark.implicits._
    // 44 monthly points (2015-01..2018-08): linear trend + a +40 spike
    // every December (reference add-holiday regressors,
    // build_prophet.py:139-151); h=8 horizon covers 2018-12
    val rows = (0 until 44).map { t =>
      val d = java.time.LocalDate.of(2015, 1, 1).plusMonths(t.toLong)
      val spike = if (d.getMonthValue == 12) 40.0 else 0.0
      (java.sql.Timestamp.from(d.atStartOfDay(java.time.ZoneOffset.UTC).toInstant),
       100.0 + 2.0 * t + spike + math.sin(t * 0.7))
    }
    val df = rows.toDF("ts", "y")
    val hol = (2015 to 2020).map { y =>
      java.time.LocalDate.of(y, 12, 1).atStartOfDay(java.time.ZoneOffset.UTC)
        .toInstant.toEpochMilli
    }.toSet
    val plain = new DecomposableModel(seasonalPeriod = 12, fourierOrder = 0, ridgeLambda = 0.0)
    val withHol = new DecomposableModel(seasonalPeriod = 12, fourierOrder = 0,
                                        ridgeLambda = 0.0, holidays = hol)
    val rP = plain.fit(df, TsSchema("ts", "y"), cv = 2, h = 8)
    val rH = withHol.fit(df, TsSchema("ts", "y"), cv = 2, h = 8)
    assert(rH.foldRmse.sum / rH.foldRmse.size < 0.5 * (rP.foldRmse.sum / rP.foldRmse.size),
      s"holiday rmse ${rH.foldRmse} not clearly below plain ${rP.foldRmse}")
    // the future December (2018-12, 4 steps past 2018-08) gets the spike
    val fc = withHol.predict(spark, 8).collect()
    val dec = fc.find(_.getTimestamp(0).toInstant.atZone(java.time.ZoneOffset.UTC)
      .getMonthValue == 12)
    assert(dec.isDefined, "no December row in the forecast horizon")
    val nov = fc.find(_.getTimestamp(0).toInstant.atZone(java.time.ZoneOffset.UTC)
      .getMonthValue == 11).get
    assert(dec.get.getDouble(1) - nov.getDouble(1) > 30.0,
      s"December forecast ${dec.get.getDouble(1)} not spiked vs Nov ${nov.getDouble(1)}")
  }

  test("ARIMA CSS recovers AR(1) coefficient") {
    val rnd = graft.core.DetRandom.doubles(42L)
    val n = 300
    val y = new Array[Double](n)
    for (i <- 1 until n) y(i) = 0.6 * y(i - 1) + rnd()
    val fit = ArimaCss.fitOne(y, p = 1, d = 0, q = 0)
    assert(math.abs(fit.phi(0) - 0.6) < 0.15, s"phi=${fit.phi(0)}")
  }

  test("pure-AR closed form sits at the CSS minimum (perturbation check)") {
    val rnd = graft.core.DetRandom.doubles(99L)
    val n = 200
    val y = new Array[Double](n)
    for (i <- 2 until n) y(i) = 0.5 * y(i - 1) - 0.3 * y(i - 2) + 1.0 + rnd()
    val fit = ArimaCss.fitOne(y, p = 2, d = 0, q = 0)
    def ssr(c: Double, p1: Double, p2: Double): Double = {
      var acc = 0.0
      for (t <- 2 until n) { val e = y(t) - c - p1 * y(t - 1) - p2 * y(t - 2); acc += e * e }
      acc
    }
    val atOpt = ssr(fit.c, fit.phi(0), fit.phi(1))
    assert(math.abs(atOpt / (n - 2) - fit.sigma2) < 1e-9)
    for (d <- Seq(1e-4, -1e-4)) {
      assert(ssr(fit.c + d, fit.phi(0), fit.phi(1)) > atOpt)
      assert(ssr(fit.c, fit.phi(0) + d, fit.phi(1)) > atOpt)
      assert(ssr(fit.c, fit.phi(0), fit.phi(1) + d) > atOpt)
    }
  }

  test("ARIMA grid search runs as a Spark job and picks a finite-AIC cell") {
    val rnd = graft.core.DetRandom.doubles(7L)
    val y = Array.iterate(0.0, 120)(v => 0.5 * v + 1.0) .map(_ + rnd())
    val fit = ArimaCss.gridSearch(spark, y, maxP = 2, maxD = 1, maxQ = 1)
    assert(!fit.aic.isNaN && !fit.aic.isInfinite)
    val fc = ArimaCss.forecast(y, fit, 5)
    assert(fc.length == 5 && fc.forall(v => !v.isNaN))
  }

  test("stepwise search converges, matches grid's cell quality on AR(1)") {
    val rnd = graft.core.DetRandom.doubles(11L)
    // genuine AR(1): noise INSIDE the recursion (an earlier fixture added
    // noise after iterating to the fixed point, i.e. white noise around 5,
    // on which the parsimony-correct stepwise answer is (0,0,0) and the
    // AIC-min grid legitimately overfits past the tolerance)
    val n = 150
    val y = new Array[Double](n); y(0) = 5.0
    for (i <- 1 until n) y(i) = 2.0 + 0.6 * y(i - 1) + rnd()
    val sw = ArimaCss.stepwiseSearch(spark, y)
    assert(!sw.aic.isNaN && !sw.aic.isInfinite)
    // the hill-climb must not land on a worse cell than the full grid's
    // winner at the same differencing (both AIC-comparable: d agrees)
    val grid = ArimaCss.gridSearch(spark, y, maxP = 3, maxD = 0, maxQ = 3)
    assert(sw.spec.d == 0, s"ADF should find the AR(1) stationary, got d=${sw.spec.d}")
    assert(sw.aic <= grid.aic + 2.0, s"stepwise aic ${sw.aic} vs grid ${grid.aic}")
    val fc = ArimaCss.forecast(y, sw, 5)
    assert(fc.length == 5 && fc.forall(v => !v.isNaN))
  }

  test("ARIMAX: recovers beta, and known-future exog beats the exog-blind forecast") {
    // y_t = 1 + 2·x_t + u_t with u_t = 0.6·u_{t−1} + e_t — regression
    // with AR(1) errors, the statsmodels object the reference constructs
    // when original_preds are passed (`build_arima_base.py:265-298`).
    val nz = graft.core.DetRandom.doubles(4242L)
    val n = 240; val h = 24
    val x = new Array[Double](n); val y = new Array[Double](n)
    var xv = 0.0; var u = 0.0
    for (t <- 0 until n) {
      xv = 0.8 * xv + nz() * 4.0 // smooth, strongly-identified regressor
      u = 0.6 * u + nz()
      x(t) = xv
      y(t) = 1.0 + 2.0 * xv + u
    }
    val xs = x.map(Array(_))
    val trainY = y.dropRight(h); val trainX = xs.dropRight(h)
    val fx = ArimaCss.gridSearch(spark, trainY, maxP = 2, maxD = 1, maxQ = 1, xs = trainX)
    assert(fx.beta.length == 1, s"expected 1 beta, got ${fx.beta.length}")
    assert(math.abs(fx.beta(0) - 2.0) < 0.2, s"beta=${fx.beta(0)}")
    def rmse(p: Array[Double]): Double =
      math.sqrt(p.zip(y.takeRight(h)).map { case (a, b) => (a - b) * (a - b) }.sum / h)
    val withX = rmse(ArimaCss.forecastX(trainY, trainX, fx, h, xs.takeRight(h)))
    val f0 = ArimaCss.gridSearch(spark, trainY, maxP = 2, maxD = 1, maxQ = 1)
    val blind = rmse(ArimaCss.forecast(trainY, f0, h))
    assert(withX < blind,
      s"ARIMAX with known future exog ($withX) should beat exog-blind ARIMA ($blind)")
    // stepwise with exog lands on a parsimonious error model and keeps beta
    val sw = ArimaCss.stepwiseSearch(spark, trainY, xs = trainX)
    assert(sw.beta.length == 1 && math.abs(sw.beta(0) - 2.0) < 0.2,
      s"stepwise beta=${sw.beta.toSeq}")
  }

  test("ARIMAX via ArimaModel: schema exog consumed, future frame moves the forecast") {
    import spark.implicits._
    val nz = graft.core.DetRandom.doubles(77L)
    val rows = (0 until 48).map { t =>
      val x = (t % 12).toDouble
      (java.sql.Timestamp.from(
         java.time.LocalDate.of(2015, 1, 1).plusMonths(t.toLong)
           .atStartOfDay(java.time.ZoneOffset.UTC).toInstant),
       10.0 + 3.0 * x + nz(), x)
    }
    val df = rows.toDF("ts", "y", "x")
    val m = new ArimaModel(maxP = 1, maxD = 1, maxQ = 1)
    m.fit(df, TsSchema("ts", "y", Seq("x")), cv = 1, h = 4)
    assert(m.bestBeta.nonEmpty, "ARIMAX fit should carry a beta")
    val futLow = (0 until 4).map(i => (
      java.sql.Timestamp.from(java.time.LocalDate.of(2019, 1, 1).plusMonths(i.toLong)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant), 0.0)).toDF("ts", "x")
    val futHigh = futLow.withColumn("x", lit(11.0))
    val pLow = m.predict(spark, 4, Some(futLow)).select("yhat").as[Double].collect()
    val pHigh = m.predict(spark, 4, Some(futHigh)).select("yhat").as[Double].collect()
    // β≈3 ⇒ the x=11 future sits ≈33 above the x=0 future on every step
    pLow.zip(pHigh).foreach { case (lo, hi) =>
      assert(hi - lo > 20.0, s"future exog ignored: lo=$lo hi=$hi") }
  }

  test("common-burn AICc: candidates in a round score on IDENTICAL effective n") {
    val rnd = graft.core.DetRandom.doubles(7L)
    val n = 120
    val y = new Array[Double](n); y(0) = 3.0
    for (i <- 1 until n) y(i) = 1.0 + 0.5 * y(i - 1) + rnd()
    // a round's candidate set with heterogeneous conditioning lags:
    // native Fit.n differs (burn-in = own max AR lag), but rescoring at
    // the round's commonBurn must put every candidate on the same n
    val specs = Seq(ArimaCss.Spec(0, 0, 0), ArimaCss.Spec(1, 0, 0),
                    ArimaCss.Spec(3, 0, 0), ArimaCss.Spec(2, 0, 1))
    val fits = specs.map(sp => ArimaCss.fitOne(y, sp))
    assert(fits.map(_.n).distinct.size > 1, "fixture must exercise unequal native n")
    val burn = ArimaCss.commonBurn(fits.map(_.spec))
    assert(burn == 3)
    val scored = fits.map(f => ArimaCss.aiccAt(y, f, burn))
    assert(scored.map(_._2).distinct.size == 1,
      s"equal-n violated: ${scored.map(_._2)}")
    assert(scored.head._2 == n - burn)
    assert(scored.forall(v => !v._1.isNaN && !v._1.isInfinite))
  }

  test("multiplicative seasonality: amplitude-growing series fits better than additive") {
    import spark.implicits._
    // y_t = (20 + 0.8t)·(1 + 0.3·sin(2πt/12)) — the seasonal swing grows
    // with the trend, Prophet's canonical multiplicative shape
    val rows = (0 until 60).map { t =>
      (java.sql.Timestamp.from(
         java.time.LocalDate.of(2014, 1, 1).plusMonths(t.toLong)
           .atStartOfDay(java.time.ZoneOffset.UTC).toInstant),
       (20.0 + 0.8 * t) * (1.0 + 0.3 * math.sin(2 * math.Pi * t / 12.0)))
    }
    val df = rows.toDF("ts", "y")
    def cvRmse(mode: String): Double = {
      val m = new DecomposableModel(seasonalPeriod = 12, fourierOrder = 2,
        ridgeLambda = 0.0, seasonalityMode = mode)
      m.fit(df, TsSchema("ts", "y"), cv = 2, h = 12).meanRmse
    }
    val mult = cvRmse("multiplicative")
    val add = cvRmse("additive")
    assert(mult < add * 0.7,
      s"multiplicative ($mult) should clearly beat additive ($add) here")
    // the forecast's seasonal swing keeps growing with the trend
    val m = new DecomposableModel(seasonalPeriod = 12, fourierOrder = 2,
      ridgeLambda = 0.0, seasonalityMode = "multiplicative")
    m.fit(df, TsSchema("ts", "y"), cv = 1, h = 6)
    val fc = m.predict(spark, 24).select("yhat").as[Double].collect()
    val swing1 = fc.take(12).max - fc.take(12).min
    val swing2 = fc.drop(12).max - fc.drop(12).min
    assert(swing2 > swing1 * 1.05,
      s"second-year swing $swing2 should exceed first-year $swing1")
  }

  test("changepoint trend: captures a slope break and extrapolates the LAST slope") {
    import spark.implicits._
    // slope 1 for 60 months, then slope 3 — a single linear trend cannot
    // follow this; Prophet's piecewise trend can (hinge at the break)
    val n = 100
    val y = Array.tabulate(n)(t =>
      (if (t < 60) t.toDouble else 60.0 + 3.0 * (t - 60)) + math.sin(t * 0.9) * 0.3)
    val ts = (0 until n).map(t => java.sql.Timestamp.from(
      java.time.LocalDate.of(2000, 1, 1).plusMonths(t.toLong)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant))
    val df = ts.zip(y).toDF("ts", "y")
    val plain = new DecomposableModel(seasonalPeriod = 12, fourierOrder = 0,
                                      ridgeLambda = 0.0)
    val piecewise = new DecomposableModel(seasonalPeriod = 12, fourierOrder = 0,
                                          ridgeLambda = 0.0, nChangepoints = 8)
    val rP = plain.fit(df, TsSchema("ts", "y"), cv = 2, h = 8)
    val rC = piecewise.fit(df, TsSchema("ts", "y"), cv = 2, h = 8)
    assert(rC.foldRmse.sum < 0.5 * rP.foldRmse.sum,
      s"piecewise ${rC.foldRmse} not clearly below plain ${rP.foldRmse}")
    // extrapolation continues the LAST (post-break) slope: truth at n-1+h
    val fc = piecewise.predict(spark, 8).collect()
    for ((r, i) <- fc.zipWithIndex) {
      val truth = 60.0 + 3.0 * (n - 1 + (i + 1) - 60)
      assert(math.abs(r.getDouble(1) - truth) < 3.0,
        s"h=${i + 1}: forecast ${r.getDouble(1)} vs trend-truth $truth")
    }
    // auto mode (-1) places hinges and also beats the single trend
    val auto = new DecomposableModel(seasonalPeriod = 12, fourierOrder = 0,
                                     ridgeLambda = 0.0, nChangepoints = -1)
    val rA = auto.fit(df, TsSchema("ts", "y"), cv = 2, h = 8)
    assert(rA.foldRmse.sum < 0.5 * rP.foldRmse.sum,
      s"auto-changepoint ${rA.foldRmse} not clearly below plain ${rP.foldRmse}")
  }

  test("bootstrap intervals: empirical coverage ≈ nominal on a simulated series") {
    import spark.implicits._
    val rnd = graft.core.DetRandom.doubles(31L)
    // trend + annual cycle + uniform(-1.5, 1.5) noise, 160 monthly points
    val n = 160
    val truthNoise = Array.fill(n)(rnd() * 3.0)
    val y = Array.tabulate(n)(t =>
      10.0 + 0.05 * t + 2.0 * math.sin(2 * math.Pi * t / 12.0) + truthNoise(t))
    val ts = (0 until n).map(t => java.sql.Timestamp.from(
      java.time.LocalDate.of(2000, 1, 1).plusMonths(t.toLong)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant))
    def dfUpTo(end: Int) = ts.take(end).zip(y.take(end)).toDF("ts", "y")
    // rolling-origin coverage count at 95% nominal: 6 origins × h=8 = 48
    // out-of-sample actuals
    var hit = 0; var total = 0; var bootWidth = 0.0; var anaWidth = 0.0
    for (trainEnd <- Seq(100, 110, 120, 130, 140, 150)) {
      // λ=0: the test isolates INTERVAL semantics — with ridge shrinkage
      // the point forecast is biased and noise-only bands under-cover
      val boot = new DecomposableModel(seasonalPeriod = 12, ridgeLambda = 0.0,
                                       intervalMode = "bootstrap")
      boot.fit(dfUpTo(trainEnd), TsSchema("ts", "y"), cv = 1, h = 8)
      val ana = new DecomposableModel(seasonalPeriod = 12, ridgeLambda = 0.0)
      ana.fit(dfUpTo(trainEnd), TsSchema("ts", "y"), cv = 1, h = 8)
      val bfc = boot.predict(spark, 8).collect()
      val afc = ana.predict(spark, 8).collect()
      for (i <- 0 until 8) {
        val actual = y(trainEnd + i)
        val (lo, hi) = (bfc(i).getDouble(3), bfc(i).getDouble(4))
        assert(lo < hi, "degenerate bootstrap band")
        if (lo <= actual && actual <= hi) hit += 1
        total += 1
        bootWidth += hi - lo
        anaWidth += afc(i).getDouble(4) - afc(i).getDouble(3)
      }
    }
    val coverage = hit.toDouble / total
    assert(coverage >= 0.85, s"bootstrap coverage $coverage below nominal 0.95 band")
    // uniform residuals: the empirical 95% band sits a bit INSIDE the
    // Gaussian ±1.96σ band — bootstrap width must track the analytic one
    assert(bootWidth / anaWidth > 0.6 && bootWidth / anaWidth < 1.1,
      s"bootstrap/analytic width ratio ${bootWidth / anaWidth} implausible")
  }

  test("modelTypes accepts the reference's allowed_models vocabulary") {
    import spark.implicits._
    val df = (0 until 30).map { t =>
      (java.sql.Timestamp.from(java.time.LocalDate.of(2020, 1, 1)
         .plusMonths(t.toLong).atStartOfDay(java.time.ZoneOffset.UTC).toInstant),
       10.0 + t)
    }.toDF("ts", "y")
    // lowercase alias resolves to the family (test_passing_list_instead_of_str)
    val atMl = new AutoTimeseries(cv = 1, forecastPeriod = 5, modelTypes = Seq("ml"))
    atMl.fit(df, "ts", "y")
    assert(atMl.bestName == "ML")
    // 'arima' → SARIMAX family
    val atArima = new AutoTimeseries(cv = 1, forecastPeriod = 5, modelTypes = Seq("arima"))
    atArima.fit(df, "ts", "y")
    assert(atArima.bestName == "auto_SARIMAX")
    // 'best' expands to every family and fits more than one
    val atBest = new AutoTimeseries(cv = 1, forecastPeriod = 5, modelTypes = Seq("best"))
    atBest.fit(df, "ts", "y")
    assert(atBest.leaderboard(spark).count() >= 2)
    // unknown names fail loudly at construction, not silently at fit
    val err = intercept[IllegalArgumentException] {
      new AutoTimeseries(modelTypes = Seq("xgboost"))
    }
    assert(err.getMessage.contains("xgboost"))
    // simple=true projects to the point-forecast series (reference
    // predict(simple=True) semantics)
    val fc = atMl.predict(spark, 5, simple = true)
    assert(fc.columns.toSeq == Seq("ts", "yhat") && fc.count() == 5)
    // named-model getters and the model dict (get_model_build/get_ml_dict)
    assert(atMl.model("ML") eq atMl.bestModel)
    assert(atBest.models.keySet.size >= 2 && atBest.models.contains(atBest.bestName))
    // leaderboard(ascending = false) reverses the RANKING — compare the
    // (name, rmse) rows sorted with a name tiebreak, so equal scores
    // (where Spark's sort is not stable) cannot fail the test spuriously
    def rows(asc: Boolean) = atBest.leaderboard(spark, ascending = asc)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val (asc, desc) = (rows(true), rows(false))
    assert(asc.sortBy(identity) == desc.sortBy(identity), "same row set")
    assert(asc.map(_._2) == asc.map(_._2).sorted && desc.map(_._2) == desc.map(_._2).sorted.reverse)
  }

  test("normalized_rmse score_type: leaderboard head IS the selected best model") {
    import spark.implicits._
    val df = (0 until 40).map { t =>
      (java.sql.Timestamp.from(java.time.LocalDate.of(2019, 1, 1)
         .plusMonths(t.toLong).atStartOfDay(java.time.ZoneOffset.UTC).toInstant),
       50.0 + 2.0 * t + math.sin(t * 0.8) * 3.0)
    }.toDF("ts", "y")
    val at = new AutoTimeseries(cv = 2, forecastPeriod = 6,
      modelTypes = Seq("ML", "Prophet", "auto_SARIMAX"),
      scoreType = "normalized_rmse")
    at.fit(df, "ts", "y")
    val lb = at.leaderboard(spark).collect()
    // the ranking key is the CONFIGURED score: head == bestName, and the
    // norm_rmse column is ascending
    assert(lb.head.getString(0) == at.bestName,
      s"leaderboard head ${lb.head.getString(0)} != best ${at.bestName}")
    val norms = lb.map(_.getDouble(2)).toSeq
    assert(norms == norms.sorted, s"norm_rmse not ascending: $norms")
  }

  test("m9_decision: the winner's margin is structural, not noise") {
    import spark.implicits._
    // the oracle pins WHO wins; this pins WHY it cannot flip — on a
    // threshold-exog fixture the tree family must beat every linear-in-
    // exog family by a wide multiple (the step residual is irreducible
    // for them, the noise floor is reachable for trees)
    val rnd = graft.core.DetRandom.doubles(7L)
    val rows = (0 until 150).map { t =>
      val x = rnd() + 0.5
      (java.sql.Timestamp.from(java.time.LocalDate.of(2000, 1, 1)
         .plusMonths(t.toLong).atStartOfDay(java.time.ZoneOffset.UTC).toInstant),
       10.0 + 20.0 * (if (x > 0.5) 1.0 else 0.0) + 0.3 * rnd(), x)
    }
    val at = new AutoTimeseries(cv = 2, forecastPeriod = 8,
      modelTypes = Seq("ML", "Prophet", "auto_SARIMAX", "VAR"))
    at.fit(rows.toDF("ts", "y", "x"), "ts", "y")
    val lb = at.leaderboard(spark).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(at.bestName == "ML", s"leaderboard: $lb")
    val runnerUp = (lb - "ML").values.min
    assert(lb("ML") < 0.35 * runnerUp,
      s"ML margin not structural: ${lb("ML")} vs runner-up $runnerUp ($lb)")
  }

  test("m3_decision: stepwise recovers the generating orders (AR(2), SAR(1)[12])") {
    val rows = graft.queries.ModelQueries2.queries("m3_decision")(spark, "unused")
      .collect().map(r => r.getString(0) ->
        (1 to 6).map(r.getLong).mkString(",")).toMap
    assert(rows("ar2") == "2,0,0,0,0,0", s"ar2 decision ${rows("ar2")}")
    assert(rows("sar1") == "0,0,0,1,0,0", s"sar1 decision ${rows("sar1")}")
  }

  test("univariate end-to-end: VAR self-rejects, leaderboard bounded (ts_2 shape)") {
    // the reference's univariate fixture (test_auto_ts.py:1007, ts_2.csv:
    // 486 monthly rows, DATE + UMCSENT) re-created synthetically: level
    // ~80, annual cycle, AR(1) disturbance — same shape, our own values
    val n = 486
    val rnd = graft.core.DetRandom.doubles(77L)
    val y = new Array[Double](n)
    y(0) = 80.0
    for (t <- 1 until n)
      y(t) = 80.0 + 8.0 * math.sin(2 * math.Pi * t / 12.0) +
        0.6 * (y(t - 1) - 80.0 - 8.0 * math.sin(2 * math.Pi * (t - 1) / 12.0)) + 2.0 * rnd()
    val dir = new java.io.File("target/ts2_fixture"); dir.mkdirs()
    val f = new java.io.File(dir, "ts2.csv")
    val pw = new java.io.PrintWriter(f)
    pw.println("DATE,UMCSENT")
    for (t <- 0 until n)
      pw.println(f"${1978 + t / 12}%d-${t % 12 + 1}%02d-01,${y(t)}%.2f")
    pw.close()

    val ats = new AutoTimeseries(cv = 1, forecastPeriod = 8)
      .fit(spark, f.getPath, "DATE", "UMCSENT", ",")
    val lb = ats.leaderboard(spark).collect()
    // VAR self-rejects on no-exog data (reference: "No VAR model created
    // since no explanatory variables given", univar VAR build is None,
    // test_var.py:276)
    assert(!lb.map(_.getString(0)).contains("VAR"), lb.map(_.getString(0)).mkString(","))
    assert(lb.nonEmpty && lb.map(_.getString(0)).toSet.subsetOf(Set("ML", "Prophet", "auto_SARIMAX")))
    // leaderboard ascending by rmse, and the winner beats a 2x-noise bound
    val rmses = lb.map(_.getDouble(1))
    assert(rmses.sameElements(rmses.sorted))
    assert(rmses.head < 5.0, s"best univariate rmse ${rmses.head}")
    // predict with the rejected VAR name raises (reference returns None;
    // raising is our documented deviation - the caller named a model that
    // was never built)
    intercept[IllegalArgumentException] { ats.predict(spark, 8, model = "VAR") }
    // best-model forecast is finite and the right length
    val fc = ats.predict(spark, 8).collect()
    assert(fc.length == 8 && fc.forall(r => !r.getDouble(1).isNaN))
  }

  test("AutoTimeseries searchMl runs the searched ML family end to end") {
    import spark.implicits._
    val rows = (0 until 60).map { t =>
      val ts = java.sql.Timestamp.valueOf(f"20${20 + t / 12}%d-${t % 12 + 1}%02d-01 00:00:00")
      (ts, 50.0 + 1.5 * t + 10.0 * (t % 12))
    }
    val df = rows.toDF("ts", "y")
    val ats = new AutoTimeseries(cv = 1, forecastPeriod = 6,
      modelTypes = Seq("ML"), searchMl = true).fit(df, "ts", "y")
    val lb = ats.leaderboard(spark).collect()
    assert(lb.length == 1 && lb.head.getString(0) == "ML" && lb.head.getDouble(1) > 0)
    val fc = ats.predict(spark, 6).collect()
    assert(fc.length == 6 && fc.forall(r => !r.getDouble(1).isNaN))
  }

  test("GBT hyperparameter search scores no worse than the fixed defaults") {
    import spark.implicits._
    // seasonal sawtooth + trend: depth/iterations matter, so the search
    // has a real gradient to follow
    val rows = (0 until 72).map { t =>
      val ts = java.sql.Timestamp.valueOf(f"20${20 + t / 12}%d-${t % 12 + 1}%02d-01 00:00:00")
      (ts, 100.0 + 2.0 * t + 15.0 * (t % 12) + math.sin(t * 1.7) * 3.0)
    }
    val df = rows.toDF("ts", "y")
    val schema = graft.models.TsSchema("ts", "y")
    val fixed = new graft.models.GbtModel()
    val fixedScores = fixed.fit(df, schema, 2, 6)
    val sr = graft.models.GbtModel.fitSearched(df, schema, cv = 2, h = 6, nIter = 8)
    val (bestP, searchedRmse) = (sr.params, sr.meanRmse)
    val fixedRmse = fixedScores.foldRmse.sum / fixedScores.foldRmse.length
    // the incumbent default is always candidate zero of the search, and
    // both paths fit the same cached frame on the same folds with the same
    // deterministic trainer, so the search scores the default exactly as
    // fit() does and can only tie or win
    assert(searchedRmse <= fixedRmse,
      s"searched=$searchedRmse fixed=$fixedRmse params=$bestP")
  }

  test("stepwise search can select the (0,d,0) naive spec on pure noise") {
    // pmdarima always seeds (0,d,0); on white noise no AR/MA term earns
    // its AICc penalty, so the search must be ALLOWED to return it (the
    // zero-order spec fits as an intercept-only regression)
    val rnd = graft.core.DetRandom.doubles(23L)
    val wn = Array.fill(200)(rnd())
    val sw = ArimaCss.stepwiseSearch(spark, wn)
    assert(sw.spec.p == 0 && sw.spec.q == 0,
      s"white noise should select (0,d,0), got ${sw.spec}")
    val fc = ArimaCss.forecast(wn, sw, 3)
    assert(fc.forall(v => math.abs(v) < 0.5), s"noise forecast should be ~mean 0: ${fc.toSeq}")
  }

  test("grid search admits and selects (0,1,0) on a pure random walk") {
    // random walk: after one difference the series is white noise, so no
    // AR/MA term earns its AIC penalty — the PLAIN GRID (not just the
    // stepwise path) must be able to return the intercept-only cell
    val rnd = graft.core.DetRandom.doubles(99L)
    val rw = Array.fill(200)(rnd()).scanLeft(0.0)(_ + _).tail // cumsum of noise
    val fit = ArimaCss.gridSearch(spark, rw, maxP = 2, maxD = 1, maxQ = 2)
    assert(fit.spec.p == 0 && fit.spec.d == 1 && fit.spec.q == 0,
      s"random walk should select (0,1,0) through the grid, got ${fit.spec}")
  }

  test("multiplicative seasonal AR: cross-lag coefficient is the constrained product") {
    // simulate (1 - 0.5B)(1 - 0.6B^12) y = e  =>
    //   y_t = 0.5 y_{t-1} + 0.6 y_{t-12} - 0.3 y_{t-13} + e_t
    val rnd = graft.core.DetRandom.doubles(31L)
    val n = 400
    val y = new Array[Double](n)
    for (t <- 13 until n)
      y(t) = 0.5 * y(t - 1) + 0.6 * y(t - 12) - 0.3 * y(t - 13) + rnd()
    val spec = ArimaCss.Spec(1, 0, 0, 1, 0, 0, 12)
    val f = ArimaCss.fitOne(y, spec)
    // expanded lags are [1, 12, 13]; coefficients must satisfy the
    // multiplicative constraint EXACTLY (coeff13 = -phi1*Phi1 by
    // construction) and recover the generating parameters approximately
    assert(spec.arLags.sameElements(Array(1, 12, 13)))
    assert(math.abs(f.phi(2) + f.phi(0) * f.phi(1)) < 1e-12,
      s"cross coeff not constrained: ${f.phi.toSeq}")
    assert(math.abs(f.phi(0) - 0.5) < 0.12, s"phi1=${f.phi(0)}")
    assert(math.abs(f.phi(1) - 0.6) < 0.12, s"Phi1=${f.phi(1)}")
    // free-parameter count drives AIC: 1(c) + 1(phi) + 1(Phi)
    assert(spec.nParams == 3)
    // forecasts stay finite and track the persistent seasonal pattern
    val fc = ArimaCss.forecast(y, f, 12)
    assert(fc.forall(v => !v.isNaN && math.abs(v) < 50))
  }

  test("stepwise search picks up a strong seasonal pattern (m=12)") {
    val y = Array.tabulate(120)(t => 50.0 + 10.0 * math.sin(2 * math.Pi * t / 12.0) + 0.1 * t)
    val sw = ArimaCss.stepwiseSearch(spark, y, m = 12)
    val fc = ArimaCss.forecast(y, sw, 12)
    // a seasonal-capable fit of a pure seasonal+trend series must track
    // the next season closely (well under one amplitude of error)
    val truth = Array.tabulate(12)(i => { val t = 120 + i; 50.0 + 10.0 * math.sin(2 * math.Pi * t / 12.0) + 0.1 * t })
    val rmse = math.sqrt(fc.zip(truth).map { case (a, b) => (a - b) * (a - b) }.sum / 12)
    assert(rmse < 5.0, s"seasonal stepwise rmse $rmse")
  }

  test("VAR forecast tracks a deterministic coupled system") {
    import spark.implicits._
    // x drives y with lag 1: y_t = 0.8*x_{t-1}; x = slow ramp + wiggle
    val n = 120
    val xs = Array.tabulate(n)(t => 10.0 + 0.1 * t + math.sin(t / 3.0))
    val ys = Array.tabulate(n)(t => if (t == 0) 8.0 else 0.8 * xs(t - 1))
    val df = (0 until n).map(t =>
      (java.sql.Timestamp.valueOf(f"2020-01-01 00:00:00").toInstant.plusSeconds(t * 86400L), ys(t), xs(t)))
      .map { case (i, y, x) => (java.sql.Timestamp.from(i), y, x) }
      .toDF("ts", "y", "x")
    val m = new VarModel(maxP = 2)
    val scores = m.fit(df, TsSchema("ts", "y", Seq("x")), cv = 2, h = 5)
    assert(scores.meanRmse < 1.0, s"VAR rmse ${scores.meanRmse}")
  }

  test("ClassWeights: balanced-integer weights match the reference formula") {
    import spark.implicits._
    // counts 90/10: raw = 100/(2*90)=0.556, 100/(2*10)=5 -> min<1 ->
    // divide by min -> (1.0, 9.0) -> int (1, 9); the rare class's weight
    // is what get_scale_pos_weight returns (ml_models.py:426-457)
    val df = (Seq.fill(90)("common") ++ Seq.fill(10)("rare")).toDF("y")
    val w = ClassWeights.balanced(df, "y").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(w == Map("common" -> (90L, 1L), "rare" -> (10L, 9L)), w.toString)
    assert(ClassWeights.scalePosWeight(df, "y") == 9L)
    // already-balanced labels: raw weights 1.0 -> stay 1
    val bal = (Seq.fill(50)("a") ++ Seq.fill(50)("b")).toDF("y")
    assert(ClassWeights.balanced(bal, "y").collect().forall(_.getLong(2) == 1L))
  }

  test("GbtClassify: binary and multi-class recover a separable rule") {
    import spark.implicits._
    val rows = (0 until 300).map { i =>
      val x1 = (i % 17).toDouble; val x2 = (i % 23).toDouble
      (x1, x2, if (x1 + x2 > 20) "hi" else "lo",
       if (x1 < 6) "red" else if (x2 < 12) "green" else "blue")
    }
    val df = rows.toDF("x1", "x2", "bin", "tri")
    val b = new GbtClassify(maxIter = 20, maxDepth = 4)
      .fit(df, Seq("x1", "x2"), "bin")
    assert(b.accuracy(df) > 0.95, s"binary train accuracy ${b.accuracy(df)}")
    assert(b.classes == Seq("hi", "lo"))
    val m = new GbtClassify(maxIter = 20, maxDepth = 5)
      .fit(df, Seq("x1", "x2"), "tri")
    assert(m.accuracy(df) > 0.8, s"multi train accuracy ${m.accuracy(df)}")
    assert(m.classes == Seq("blue", "green", "red"))
    // local scoring agrees with distributed scoring on every row
    val dist = m.transform(df).select(col("x1"), col("x2"), col("prediction")).collect()
    dist.foreach { r =>
      assert(m.predictLocal(Array(r.getDouble(0), r.getDouble(1))) == r.getDouble(2))
    }
  }

  test("numeric low-cardinality target stays a REGRESSION (units preserved)") {
    import spark.implicits._
    // integer counts with <= 30 distinct values: ProblemType's tabular
    // heuristic says Multi_Classification, but a numeric SERIES must
    // forecast in its own units — the ML family must stay a regressor
    val df = (0 until 60).map { t =>
      (java.sql.Timestamp.from(
         java.time.LocalDate.of(2015, 1, 1).plusMonths(t.toLong)
           .atStartOfDay(java.time.ZoneOffset.UTC).toInstant),
       (10L + (t % 12)) * 10) // values 100..210, 12 distinct
    }.toDF("ts", "count")
    assert(graft.infer.ProblemType.analyze(df, "count") == "Multi_Classification")
    val at = new AutoTimeseries(cv = 1, forecastPeriod = 8, modelTypes = Seq("ML"))
    at.fit(df, "ts", "count")
    assert(at.bestModel.isInstanceOf[GbtModel],
      s"numeric target must stay regression, got ${at.bestModel.getClass}")
    // forecasts come back in target units, not class indices
    val fc = at.predict(spark, 8).select(col("yhat")).collect().map(_.getDouble(0))
    assert(fc.forall(v => v > 50 && v < 300), s"yhat not in target units: ${fc.toSeq}")
  }

  test("AutoTimeseries dispatches a categorical target to the classifier (M6 branch)") {
    import spark.implicits._
    val seasons = Array("winter", "winter", "spring", "spring", "spring", "summer",
                        "summer", "summer", "autumn", "autumn", "autumn", "winter")
    val df = (0 until 72).map { t =>
      (java.sql.Timestamp.from(
         java.time.LocalDate.of(2015, 1, 1).plusMonths(t)
           .atStartOfDay(java.time.ZoneOffset.UTC).toInstant),
       seasons(t % 12))
    }.toDF("ts", "season")
    val at = new AutoTimeseries(cv = 2, forecastPeriod = 8, modelTypes = Seq("ML"))
    at.fit(df, "ts", "season")
    val clf = at.bestModel
    assert(clf.isInstanceOf[GbtClassifyTs],
      s"categorical target should get the classifier, got ${clf.getClass}")
    // cv error rate on the seasonal pattern must be small
    val err = at.leaderboard(spark).head().getDouble(1)
    assert(err <= 0.25, s"seasonal classification fold error $err")
    // the forecast classes must match the TRUE season of each future month
    val m = clf.asInstanceOf[GbtClassifyTs]
    val fc = at.predict(spark, 8).select(col("ts"), col("yhat")).collect()
    val good = fc.count { r =>
      val month = r.getTimestamp(0).toInstant.atZone(java.time.ZoneOffset.UTC).getMonthValue
      val truth = seasons(month - 1)
      m.classes(r.getDouble(1).toInt) == truth
    }
    assert(good >= 7, s"future seasons matched $good/8")
  }

  test("reference constructor knobs: non_seasonal_pdq, seasonality, lag, time_interval, conf_int") {
    import spark.implicits._
    val rows = (0 until 48).map { t =>
      (java.sql.Timestamp.from(
         java.time.LocalDate.of(2015, 1, 1).plusMonths(t.toLong)
           .atStartOfDay(java.time.ZoneOffset.UTC).toInstant),
       100.0 + 2.0 * t + 8.0 * math.sin(t * math.Pi / 6) + (t % 5) * 0.5)
    }
    val df = rows.toDF("ts", "y")
    // non_seasonal_pdq caps the grid; seasonality=false (the reference's
    // DEFAULT) disables the seasonal stage; time_interval='Q' overrides
    // the inferred monthly period
    val at = new AutoTimeseries(cv = 1, forecastPeriod = 6,
      modelTypes = Seq("auto_SARIMAX"), nonSeasonalPdq = Some((1, 0, 1)),
      seasonality = false, timeInterval = Some("Q"))
    at.fit(df, "ts", "y")
    val spec = at.model("auto_SARIMAX").asInstanceOf[ArimaModel].bestSpec
    assert(spec.p <= 1 && spec.d == 0 && spec.q <= 1, s"grid cap violated: $spec")
    assert(spec.m == 1 && spec.sP == 0 && spec.sQ == 0, s"seasonal stage ran: $spec")
    assert(at.resolvedSeasonalPeriod == 4, s"time_interval Q should impute m=4, got ${at.resolvedSeasonalPeriod}")
    // lag threads into the ML path (clamped [2,10]): 7 lags + 4 calendar
    // features and no exog = 11 features in the fitted ensemble
    val ml = new AutoTimeseries(cv = 1, forecastPeriod = 6,
      modelTypes = Seq("ML"), lag = 7)
    ml.fit(df, "ts", "y")
    assert(ml.bestModel.asInstanceOf[GbtModel]
      .featureImportances(spark, 50).count() == 11)
    // conf_int: an 80% interval is narrower than the default 95% by the
    // normal-quantile ratio z(.80)/1.96 = 1.2816/1.96
    def width(ci: Double): Double = {
      val a = new AutoTimeseries(cv = 1, forecastPeriod = 6,
        modelTypes = Seq("Prophet"), confInt = ci)
      a.fit(df, "ts", "y")
      val r = a.predict(spark, 6).select(col("mean_ci_upper") - col("mean_ci_lower"))
        .head().getDouble(0)
      r
    }
    val ratio = width(0.80) / width(0.95)
    assert(math.abs(ratio - 1.2816 / 1.96) < 0.01, s"CI width ratio $ratio")
  }

  test("model persistence: fit -> save -> load -> predict row-identical on every family") {
    import spark.implicits._
    import graft.models.ModelIO
    val rows = (0 until 48).map { t =>
      (java.sql.Timestamp.from(
         java.time.LocalDate.of(2015, 1, 1).plusMonths(t.toLong)
           .atStartOfDay(java.time.ZoneOffset.UTC).toInstant),
       100.0 + 2.0 * t + 10.0 * math.sin(t * math.Pi / 6) + (t % 5) * 0.7,
       50.0 + (t % 7).toDouble)
    }
    val df = rows.toDF("ts", "y", "x")
    val schema = TsSchema("ts", "y", Seq("x"))
    def render(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().map(_.mkString("|")).toSeq
    val base = java.nio.file.Files.createTempDirectory("graft-models").toString
    val families: Seq[(String, ModelBuild)] = Seq(
      "ml"      -> new GbtModel(lags = 2, logY = true),
      "prophet" -> new DecomposableModel(seasonalPeriod = 12,
                     intervalMode = "bootstrap", uncertaintySamples = 50),
      "var"     -> new VarModel(seasonalM = 12),
      "arima"   -> new ArimaModel())
    families.foreach { case (tag, m) =>
      m.fit(df, schema, cv = 1, h = 4)
      val before = render(m.predict(spark, 6))
      m.save(s"$base/$tag")
      val after = render(ModelIO.load(s"$base/$tag").predict(spark, 6))
      assert(before == after, s"$tag round-trip diverged:\n$before\nvs\n$after")
    }
    // classification family round-trips too (OVR multi-class ensembles)
    val seasons = Array("winter", "winter", "spring", "spring", "spring", "summer",
                        "summer", "summer", "autumn", "autumn", "autumn", "winter")
    val cdf = (0 until 48).map { t =>
      (java.sql.Timestamp.from(
         java.time.LocalDate.of(2015, 1, 1).plusMonths(t.toLong)
           .atStartOfDay(java.time.ZoneOffset.UTC).toInstant),
       seasons(t % 12))
    }.toDF("ts", "season")
    val clf = new GbtClassifyTs(lags = 2)
    clf.fit(cdf, TsSchema("ts", "season"), cv = 1, h = 4)
    val beforeC = render(clf.predict(spark, 6))
    clf.save(s"$base/clf")
    val loadedC = ModelIO.load(s"$base/clf")
    assert(render(loadedC.predict(spark, 6)) == beforeC)
    assert(loadedC.asInstanceOf[GbtClassifyTs].classes == clf.classes)
    // the AutoML wrapper: leaderboard + best-model predict survive reload
    val at = new AutoTimeseries(cv = 2, forecastPeriod = 6,
      modelTypes = Seq("ML", "Prophet"))
    at.fit(df, "ts", "y")
    val lbBefore = render(at.leaderboard(spark))
    val fcBefore = render(at.predict(spark, 6))
    at.save(s"$base/automl")
    val at2 = AutoTimeseries.load(s"$base/automl")
    assert(at2.bestName == at.bestName)
    assert(render(at2.leaderboard(spark)) == lbBefore)
    assert(render(at2.predict(spark, 6)) == fcBefore)
  }

  test("AutoTimeseries drops regression families when a categorical target triggers classify") {
    import spark.implicits._
    val seasons = Array("winter", "winter", "spring", "spring", "spring", "summer",
                        "summer", "summer", "autumn", "autumn", "autumn", "winter")
    val df = (0 until 72).map { t =>
      (java.sql.Timestamp.from(
         java.time.LocalDate.of(2015, 1, 1).plusMonths(t)
           .atStartOfDay(java.time.ZoneOffset.UTC).toInstant),
       seasons(t % 12))
    }.toDF("ts", "season")
    // 'best' expands to every family, but a string target can only be
    // fitted by the classifier — the others must be dropped up front, not
    // crash mid-fit or rank error rates against RMSEs
    val at = new AutoTimeseries(cv = 2, forecastPeriod = 8, modelTypes = Seq("best"))
    at.fit(df, "ts", "season")
    assert(at.models.keySet == Set("ML"),
      s"expected only the classifier fitted, got ${at.models.keySet}")
    assert(at.bestModel.isInstanceOf[GbtClassifyTs])
  }

  /** 72 monthly points of trend + sawtooth, the GBT search fixture. */
  private def sawtooth = {
    import spark.implicits._
    (0 until 72).map { t =>
      val ts = java.sql.Timestamp.valueOf(f"20${20 + t / 12}%d-${t % 12 + 1}%02d-01 00:00:00")
      (ts, 100.0 + 2.0 * t + 15.0 * (t % 12) + math.sin(t * 1.7) * 3.0)
    }.toDF("ts", "y")
  }

  private def rows(d: org.apache.spark.sql.DataFrame): Seq[String] =
    d.collect().map(_.mkString("|")).toSeq

  test("AutoTimeseries searchMl honours lag and conf_int in the saved ML model") {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val at = new AutoTimeseries(cv = 1, forecastPeriod = 6, modelTypes = Seq("ML"),
      searchMl = true, lag = 4, confInt = 0.8)
    at.fit(sawtooth.limit(48), "ts", "y")
    val dir = java.nio.file.Files.createTempDirectory("graft-searched").toString
    at.save(dir)
    val j = org.json4s.jackson.JsonMethods.parse(
      java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "ML", "params.json")))
    assert((j \ "lags").extract[Int] == 4)
    assert((j \ "z").extract[Double] == ForecastFrame.zFor(0.8))
  }

  test("GbtModel fit: driver-bound result bytes do not grow with the series length") {
    import spark.implicits._
    def driverBytes(n: Int): Long = {
      // monthly, so every calendar feature takes all its values at both
      // lengths and the split candidates (capped by the bins) match
      val df = (0 until n).map { t =>
        (java.sql.Timestamp.from(java.time.LocalDate.of(1940, 1, 1).plusMonths(t.toLong)
           .atStartOfDay(java.time.ZoneOffset.UTC).toInstant),
         50.0 + (t % 9) * 3.0 + math.sin(t * 0.3), 10.0 + (t % 5))
      }.toDF("ts", "y", "x")
      jobsOf("gbt-driver-bound")(
        new GbtModel(lags = 2, maxIter = 5).fit(df, TsSchema("ts", "y", Seq("x")), cv = 2, h = 6))._2
    }
    val small = driverBytes(60)
    val large = driverBytes(960)
    assert(small > 0)
    assert(large <= small + 1024,
      s"driver-bound bytes grow with n: $small at n=60, $large at n=960")
  }

  test("GbtModel fit: the fold fits and the full fit are one Spark job") {
    val (jobs, _) = jobsOf("gbt-job-count")(
      new GbtModel(lags = 2).fit(sawtooth, TsSchema("ts", "y"), cv = 2, h = 6))
    assert(jobs == 1, s"$jobs Spark jobs for one fit with cv = 2")
  }

  test("GbtModel on a series too short for its lags fails with a named error") {
    val e = intercept[IllegalArgumentException](
      new GbtModel(lags = 2).fit(sawtooth.limit(2), TsSchema("ts", "y"), 2, 6))
    assert(e.getMessage.contains("0 rows") && e.getMessage.contains("lags = 2"), e.getMessage)
  }

  test("fitSearched with no sampled candidates equals the fixed GbtModel fit") {
    val schema = TsSchema("ts", "y")
    val fixed = new GbtModel()
    val s = fixed.fit(sawtooth, schema, 2, 6)
    val sr = GbtModel.fitSearched(sawtooth, schema, cv = 2, h = 6, nIter = 0)
    assert(sr.params == GbtModel.GbtParams(2, 50, 0.1))
    assert(sr.foldRmse == s.foldRmse && sr.foldNormRmse == s.foldNormRmse,
      s"searched $sr vs fixed $s")
    assert(rows(sr.model.predict(spark, 6)) == rows(fixed.predict(spark, 6)))
  }

  test("fitting the same GbtModel twice gives identical scores and forecast") {
    val schema = TsSchema("ts", "y")
    val m = new GbtModel(lags = 3)
    val a = m.fit(sawtooth, schema, 2, 6)
    val fa = rows(m.predict(spark, 6))
    val b = m.fit(sawtooth, schema, 2, 6)
    assert(a == b, s"$a vs $b")
    assert(rows(m.predict(spark, 6)) == fa)
  }

  test("a fixed-params GbtModel fit that fails surfaces its own error") {
    val e = intercept[IllegalArgumentException](
      new GbtModel(maxDepth = 31).fit(sawtooth, TsSchema("ts", "y"), 2, 6))
    assert(e.getMessage.contains("maxDepth"), e.getMessage)
    assert(!e.getMessage.contains("every search candidate"), e.getMessage)
  }

  /** 48 monthly points of trend + season with one exog column. */
  private def exogSeries = {
    import spark.implicits._
    (0 until 48).map { t =>
      (java.sql.Timestamp.from(
         java.time.LocalDate.of(2015, 1, 1).plusMonths(t.toLong)
           .atStartOfDay(java.time.ZoneOffset.UTC).toInstant),
       100.0 + 2.0 * t + 10.0 * math.sin(t * math.Pi / 6) + (t % 5) * 0.7,
       50.0 + (t % 7).toDouble)
    }.toDF("ts", "y", "x")
  }

  /** Every family fitted once: on [[exogSeries]], the classifier on a
    * monthly season label. */
  private lazy val fitted: Map[String, ModelBuild] = {
    import spark.implicits._
    val regressors = Seq(
      "GbtModel" -> new GbtModel(lags = 2),
      "SearchedGbtModel" -> new SearchedGbtModel(lags = 2),
      "ArimaModel" -> new ArimaModel(maxP = 1, maxD = 1, maxQ = 1),
      "VarModel" -> new VarModel(seasonalM = 12),
      "DecomposableModel" -> new DecomposableModel(seasonalPeriod = 12),
      "DecomposableModel bootstrap" -> new DecomposableModel(seasonalPeriod = 12,
        intervalMode = "bootstrap", uncertaintySamples = 50))
    regressors.foreach(_._2.fit(exogSeries, TsSchema("ts", "y", Seq("x")), cv = 1, h = 4))
    val seasons = Array("winter", "spring", "spring", "summer", "autumn", "winter")
    val labels = (0 until 48).map { t =>
      (java.sql.Timestamp.from(java.time.LocalDate.of(2015, 1, 1).plusMonths(t.toLong)
         .atStartOfDay(java.time.ZoneOffset.UTC).toInstant), seasons(t / 2 % 6))
    }.toDF("ts", "season")
    val clf = new GbtClassifyTs(lags = 2, maxIter = 5)
    clf.fit(labels, TsSchema("ts", "season"), cv = 1, h = 4)
    (regressors :+ ("GbtClassifyTs" -> clf)).toMap
  }

  Seq("GbtModel", "GbtClassifyTs", "ArimaModel", "VarModel", "DecomposableModel").foreach { tag =>
    test(s"$tag predict: a negative horizon fails with a named error, h = 0 is an empty sink frame") {
      val e = intercept[IllegalArgumentException](fitted(tag).predict(spark, -1))
      assert(e.getMessage.contains("forecast horizon") && e.getMessage.contains("h = -1"),
        e.getMessage)
      val empty = fitted(tag).predict(spark, 0)
      assert(empty.schema == ForecastFrame.Schema)
      assert(empty.collect().isEmpty)
    }
  }

  test("predict(...).collect() runs no Spark job on any fitted family") {
    fitted.foreach { case (tag, m) =>
      val (jobs, _) = jobsOf(s"predict-jobs-$tag")(assert(m.predict(spark, 6).collect().length == 6))
      assert(jobs == 0, s"$tag: $jobs Spark jobs for predict(6).collect()")
    }
  }

  test("AutoTimeseries predict (best, named, simple, reloaded) and leaderboard run no Spark job") {
    val at = new AutoTimeseries(cv = 1, forecastPeriod = 6, modelTypes = Seq("ML", "VAR"))
    at.fit(exogSeries, "ts", "y")
    val other = at.models.keySet.find(_ != at.bestName).get
    val dir = java.nio.file.Files.createTempDirectory("graft-serve").toString
    at.save(dir)
    val loaded = AutoTimeseries.load(dir)
    val calls: Seq[(String, () => Array[org.apache.spark.sql.Row])] = Seq(
      "best" -> (() => at.predict(spark, 6).collect()),
      "named" -> (() => at.predict(spark, 6, model = other).collect()),
      "simple" -> (() => at.predict(spark, 6, simple = true).collect()),
      "loaded" -> (() => loaded.predict(spark, 6).collect()),
      "leaderboard" -> (() => at.leaderboard(spark).collect()),
      "loaded leaderboard" -> (() => loaded.leaderboard(spark, ascending = false).collect()))
    calls.foreach { case (tag, call) =>
      val (jobs, _) = jobsOf(s"automl-jobs-$tag")(assert(call().nonEmpty))
      assert(jobs == 0, s"$tag: $jobs Spark jobs")
    }
    assert(at.predict(spark, 6, simple = true).columns.toSeq == Seq("ts", "yhat"))
    assert(rows(loaded.predict(spark, 6)) == rows(at.predict(spark, 6)))
  }

  test("ForecastFrame frames equal the parallelize-built frames in schema and rows") {
    import spark.implicits._
    // the frames as they were built before, on a one-partition RDD
    def viaRdd(lastTsMs: Long, intervalMs: Long, yhat: Array[Double], se: Array[Double],
               lo: Array[Double], hi: Array[Double]) = {
      val rows = yhat.indices.map { i =>
        org.apache.spark.sql.Row(
          new java.sql.Timestamp(ForecastFrame.nextTs(lastTsMs, intervalMs, i + 1)),
          yhat(i), se(i), lo(i), hi(i))
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), ForecastFrame.Schema)
    }
    def render(d: org.apache.spark.sql.DataFrame) =
      d.select(col("ts").cast("long"), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSS"),
        col("yhat"), col("mean_se"), col("mean_ci_lower"), col("mean_ci_upper")).collect().toSeq
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Unit = {
      assert(a.schema == b.schema, s"${a.schema} vs ${b.schema}")
      assert(a.schema.map(_.nullable) == b.schema.map(_.nullable))
      val (ra, rb) = (a.collect().toSeq, b.collect().toSeq)
      assert(ra == rb, s"$ra vs $rb")
      assert(ra.map(_.getTimestamp(0).getTime) == rb.map(_.getTimestamp(0).getTime))
      for (zone <- Seq("UTC", "America/Los_Angeles", "Asia/Kolkata")) {
        spark.conf.set("spark.sql.session.timeZone", zone)
        try assert(render(a) == render(b), zone) finally spark.conf.set("spark.sql.session.timeZone", "UTC")
      }
    }
    val yhat = Array(1.5, -2.25, 1e300, Double.NaN, 0.1 + 0.2, -0.0, 7.0)
    val monthEnd = java.time.Instant.parse("2019-01-31T00:00:00Z").toEpochMilli
    val dstEve = java.time.Instant.parse("2021-03-13T09:30:00.123Z").toEpochMilli
    for ((last, step) <- Seq(monthEnd -> 31L * 86400000L, dstEve -> 3600000L,
                             dstEve -> 86400000L, monthEnd -> 366L * 86400000L)) {
      for ((sigma, z) <- Seq(2.5 -> 1.96, Double.NaN -> 1.96, 0.75 -> ForecastFrame.zFor(0.8)))
        same(ForecastFrame.build(spark, last, step, yhat, sigma, z),
          viaRdd(last, step, yhat, yhat.map(_ => sigma),
            yhat.map(p => p - z * sigma), yhat.map(p => p + z * sigma)))
      val se = yhat.indices.map(i => 0.5 * i).toArray
      val lo = yhat.map(_ - 3.0)
      val hi = yhat.map(_ + 4.0)
      same(ForecastFrame.buildBands(spark, last, step, yhat, se, lo, hi),
        viaRdd(last, step, yhat, se, lo, hi))
    }
    same(ForecastFrame.build(spark, monthEnd, 86400000L, Array.empty, 1.0),
      viaRdd(monthEnd, 86400000L, Array.empty, Array.empty, Array.empty, Array.empty))
  }

  test("leaderboard sorts in Spark's order: NaN largest, +Inf before it, ties in entry order") {
    import spark.implicits._
    val nan = Double.NaN
    val scored = Seq(
      "a" -> CvScores(Seq(3.0), Seq(0.3)),
      "b" -> CvScores(Seq(nan), Seq(0.1)),
      "c" -> CvScores(Nil, Nil), // no folds: +Inf in both slots
      "d" -> CvScores(Seq(1.0, 5.0), Seq(0.5, nan)),
      "e" -> CvScores(Seq(-0.0), Seq(0.0)),
      "f" -> CvScores(Seq(0.0), Seq(-0.0)),
      "g" -> CvScores(Seq(nan), Seq(0.2)))
    val expected = Map(
      (false, true) -> "efadcbg", (false, false) -> "bgcadef",
      (true, true) -> "efbgacd", (true, false) -> "dcagbef")
    // Spark's own sort of the same rows, with the entry index as tie-break
    val oracle = scored.zipWithIndex
      .map { case ((n, s), i) => (n, s.meanRmse, s.meanNormRmse, i) }
      .toDF("name", "rmse", "norm_rmse", "i")
    for (normalized <- Seq(false, true); ascending <- Seq(true, false)) {
      val key = col(if (normalized) "norm_rmse" else "rmse")
      val want = oracle.orderBy(if (ascending) key else key.desc, col("i"))
        .drop("i").collect().toSeq
      val board = AutoTimeseries.board(spark, scored, normalized, ascending)
      val (jobs, _) = jobsOf(s"board-$normalized-$ascending")(
        assert(board.collect().toSeq == want, s"normalized $normalized, ascending $ascending"))
      assert(jobs == 0, s"$jobs Spark jobs for a leaderboard collect")
      assert(board.collect().map(_.getString(0)).mkString == expected((normalized, ascending)))
      assert(board.schema == oracle.drop("i").schema)
    }
  }

  /** The perfbench series (80 monthly rows, target price, exog n_orders)
    * as a parquet scan, so a collect of it is a Spark job. Reading the
    * file's schema is a job too, so take the frame before counting. */
  private lazy val monthly = spark.read.parquet("perfbench/fixtures/orders_monthly.parquet")
  private val monthlySchema = TsSchema("ts", "price", Seq("n_orders"))

  test("ArimaModel.fit with cv = 2 runs its series collect and one grid job, seasonal or not") {
    val df = monthly
    for (m <- Seq(12, 1)) {
      val (jobs, _) = jobsOf(s"arima-jobs-$m")(
        new ArimaModel(seasonalM = m).fit(df, monthlySchema, cv = 2, h = 8))
      assert(jobs <= 2, s"seasonalM = $m: $jobs Spark jobs")
    }
  }

  test("AutoTimeseries.fit reads the series once: at most 3 Spark jobs over all four families") {
    val df = monthly
    var at: AutoTimeseries = null
    val (jobs, _) = jobsOf("automl-fit-jobs") {
      at = new AutoTimeseries(cv = 2, forecastPeriod = 8).fit(df, "ts", "price")
    }
    assert(at.models.keySet == Set("ML", "Prophet", "VAR", "auto_SARIMAX"))
    // the series collect, the GBT's job and the ARIMA grid's job
    assert(jobs <= 3, s"$jobs Spark jobs for one AutoTimeseries.fit")
  }

  test("VarModel.fit and DecomposableModel.fit collect the series in one job") {
    val df = monthly
    for (mb <- Seq(new VarModel(seasonalM = 12), new DecomposableModel(seasonalPeriod = 12))) {
      val (jobs, _) = jobsOf(s"local-jobs-${mb.name}")(mb.fit(df, monthlySchema, cv = 2, h = 8))
      assert(jobs == 1, s"${mb.name}: $jobs Spark jobs")
    }
  }

  test("the ARIMA fan-out deals cells round-robin over the tasks of one job, results in cell order") {
    val k = spark.sparkContext.defaultParallelism
    assert(k > 1)
    val cells = 0 until 3 * k + 1
    var out: Seq[(Int, Int)] = Nil
    val (jobs, _) = jobsOf("fan-out") {
      out = ArimaCss.fanOut(spark, cells) { i =>
        // later cells finish first, so arrival order is not cell order
        Thread.sleep(5L * (cells.size - i))
        (i, org.apache.spark.TaskContext.getPartitionId())
      }
    }
    assert(jobs == 1, s"$jobs Spark jobs")
    assert(out.map(_._1) == cells)
    assert(out.forall { case (i, task) => task == i % k }, out)
    assert(ArimaCss.fanOut(spark, Seq.empty[Int])(identity).isEmpty)
  }

  test("an ARIMA grid with two equal-score cells picks the first, in either search") {
    val rnd = graft.core.DetRandom.doubles(5L)
    val y = Array.tabulate(60)(t => 10.0 + 3.0 * math.sin(t * math.Pi / 6) + rnd())
    // no AR or MA lags and no differencing: m does not enter the fit, so
    // both cells fit the same model with the same score
    val (a, b) = (ArimaCss.Spec(0, 0, 0), ArimaCss.Spec(0, 0, 0, m = 12))
    val grid = ArimaCss.gridPlan(y)
    for (first <- Seq(a, b)) {
      val second = if (first == a) b else a
      val cells = Seq(first, second).map(ArimaCss.Cell(y, Array.empty, _))
      assert(ArimaCss.runSearches(spark, Seq(grid.copy(cells = cells))).head.spec == first)
      val (train, held) = (y.dropRight(8), y.takeRight(8))
      val seasonal = ArimaCss.seasonalPlan(spark, y, 12)
      val scored = Seq(first, second).map(ArimaCss.Cell(train, Array.empty, _, held))
      assert(ArimaCss.runSearches(spark, Seq(seasonal.copy(cells = scored))).head.spec == first)
    }
  }

  /** The model's trees (uid dropped), weights and importances. */
  private def ensembleOf(m: GbtModel): (Seq[String], Seq[Double], Seq[Double]) = {
    val g = m.gbtModel
    (g.trees.toSeq.map(_.toDebugString.replaceFirst("uid=[^,]*, ", "")),
     g.treeWeights.toSeq, g.featureImportances.toArray.toSeq)
  }

  /** Every file under `dir` by relative path, with its bytes. */
  private def files(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.filter(java.nio.file.Files.isRegularFile(_)).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .map(p => root.relativize(p).toString -> java.nio.file.Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  /** A text-driven series: the promo lift is announced only in `note`. */
  private def noteSeries = {
    import spark.implicits._
    (0 until 48).map { t =>
      val promo = t % 7 == 2
      (java.sql.Timestamp.from(java.time.LocalDate.of(2015, 1, 1).plusMonths(t.toLong)
         .atStartOfDay(java.time.ZoneOffset.UTC).toInstant),
       50.0 + (if (promo) 40.0 else 0.0) + (t % 5) * 0.7,
       (if (promo) "big promotion event announced with heavy discounts"
        else "ordinary trading conditions continued as before") + s" batch $t")
    }.toDF("ts", "y", "note")
  }

  test("GBT save -> load keeps trees, weights, importances and predictions bit-identical, no Spark job") {
    val logNlp = new GbtModel(lags = 2, logY = true)
    logNlp.fit(noteSeries, TsSchema("ts", "y", Seq("note")), cv = 1, h = 4)
    val searched = fitted("SearchedGbtModel").asInstanceOf[SearchedGbtModel]
    val models: Seq[(String, ModelBuild, GbtModel)] = Seq(
      ("GbtModel", fitted("GbtModel"), fitted("GbtModel").asInstanceOf[GbtModel]),
      ("GbtModel logY NLP", logNlp, logNlp),
      ("SearchedGbtModel", searched, searched.winner))
    for ((tag, mb, gbt) <- models) {
      val dir = java.nio.file.Files.createTempDirectory("graft-gbt-io").toString
      val before = mb.predict(spark, 6).collect().toSeq
      var loaded: GbtModel = null
      var after: Seq[org.apache.spark.sql.Row] = Nil
      val (jobs, _) = jobsOf(s"gbt-io-$tag") {
        mb.save(dir)
        loaded = ModelIO.load(dir).asInstanceOf[GbtModel]
        after = loaded.predict(spark, 6).collect().toSeq
      }
      assert(jobs == 0, s"$tag: $jobs Spark jobs for save, load and predict")
      assert(after == before, s"$tag: predictions differ")
      assert(ensembleOf(loaded) == ensembleOf(gbt), s"$tag: trees, weights or importances differ")
      assert(files(dir).keySet == Set("params.json", "ensemble.bin"), s"$tag: ${files(dir).keySet}")
    }
  }

  test("two saves of one fit are byte-identical on every regression family") {
    fitted.filter(_._1 != "GbtClassifyTs").foreach { case (tag, m) =>
      val Seq(a, b) = Seq.fill(2)(java.nio.file.Files.createTempDirectory("graft-det").toString)
      m.save(a); m.save(b)
      val (fa, fb) = (files(a), files(b))
      assert(fa.nonEmpty && fa == fb, s"$tag: the two saves differ")
    }
  }

  test("a GbtModel directory whose trees MLlib's writer saved loads, predicts and re-saves") {
    val m = fitted("GbtModel").asInstanceOf[GbtModel]
    val Seq(current, legacy, resaved) =
      Seq.fill(3)(java.nio.file.Files.createTempDirectory("graft-legacy").toString)
    m.save(current)
    // the earlier layout: the same params.json, the trees under gbt/
    java.nio.file.Files.copy(java.nio.file.Paths.get(current, "params.json"),
      java.nio.file.Paths.get(legacy, "params.json"))
    m.gbtModel.write.save(s"$legacy/gbt")
    val loaded = ModelIO.load(legacy).asInstanceOf[GbtModel]
    assert(rows(loaded.predict(spark, 6)) == rows(m.predict(spark, 6)))
    assert(ensembleOf(loaded) == ensembleOf(m))
    loaded.save(resaved)
    assert(files(resaved) == files(current))
  }

  /** [[exogSeries]] with a NULL in `column` at row 30. */
  private def withNull(column: String) = {
    val df = exogSeries
    val i = df.columns.indexOf(column)
    spark.createDataFrame(
      java.util.Arrays.asList(df.collect().zipWithIndex.map { case (r, t) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq.updated(i, if (t == 30) null else r.get(i)))
      }: _*),
      org.apache.spark.sql.types.StructType(df.schema.map(_.copy(nullable = true))))
  }

  test("AutoTimeseries.fit: a NULL timestamp is a named error, a NULL target or exog drops the families that read it") {
    val e = intercept[IllegalArgumentException](
      new AutoTimeseries(cv = 2, forecastPeriod = 8).fit(withNull("ts"), "ts", "y"))
    assert(e.getMessage.contains("column 'ts' has a NULL value"), e.getMessage)
    // the GBT drops the rows a NULL reaches; the local families fail on
    // their own columns and leave the leaderboard (values as before the
    // series was read once per fit)
    for ((c, board) <- Seq("y" -> ("ML", 9.384711235302127, 1.08851628278897),
                           "x" -> ("ML", 9.303274683239849, 1.03480306548429))) {
      val at = new AutoTimeseries(cv = 2, forecastPeriod = 8).fit(withNull(c), "ts", "y")
      val got = at.leaderboard(spark).collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      assert(got.toSeq == Seq(board), s"NULL $c: ${got.toSeq}")
    }
  }

  // VAR forecasts its exog itself and reads no future frame
  Seq[(String, () => ModelBuild, Boolean)](
    ("ArimaModel", () => new ArimaModel(maxP = 1, maxD = 1, maxQ = 1), true),
    ("VarModel", () => new VarModel(seasonalM = 12), false),
    ("DecomposableModel", () => new DecomposableModel(seasonalPeriod = 12), true)).foreach {
    case (tag, make, readsFuture) =>
      test(s"$tag: a NULL timestamp, target or exog value fails naming its column") {
        val schema = TsSchema("ts", "y", Seq("x"))
        for (c <- Seq("ts", "y", "x")) {
          val e = intercept[IllegalArgumentException](make().fit(withNull(c), schema, cv = 1, h = 4))
          assert(e.getMessage.contains(s"column '$c' has a NULL value"), e.getMessage)
        }
        if (readsFuture) {
          val m = make()
          m.fit(exogSeries, schema, cv = 1, h = 4)
          for (c <- Seq("ts", "x")) {
            val e = intercept[IllegalArgumentException](m.predict(spark, 4, Some(withNull(c))))
            assert(e.getMessage.contains(s"column '$c' has a NULL value"), e.getMessage)
          }
        }
      }
  }
}
