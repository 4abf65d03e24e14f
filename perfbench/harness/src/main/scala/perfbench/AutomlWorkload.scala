package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.automl.AutoTimeseries
import graft.cv.ExpandingWindowSplit
import graft.infer.FreqInfer
import graft.models._
import Main._

/** The paper's lifecycle on one monthly series, by one caller:
  * fit (every family) → leaderboard → predict(h) → save → load → predict(h). */
object AutomlWorkload {
  val Families = Seq("GbtModel", "ArimaModel", "DecomposableModel", "VarModel")

  // the lifecycle's fixed settings: m9_leaderboard's cv and horizon, and
  // how many predict calls serve from each fitted object
  val Cv = 2
  val Horizon = 8
  val PredictCalls = 50
  val SeriesFile = "orders_monthly.parquet"

  private def r4(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4

  def run(ctx: Ctx, t0Ms: Long): Unit = {
    val spark = ctx.spark
    val series = spark.read.parquet(s"${ctx.fixtures}/$SeriesFile")
    series.count() // first scan of the fixture

    if (ctx.record) {
      val at = new AutoTimeseries(cv = Cv, forecastPeriod = Horizon).fit(series, "ts", "price")
      val board = at.leaderboard(spark).collect()
        .map(r => s"""["${r.getString(0)}",${r4(r.getDouble(1))}]""").mkString(",")
      val yhat = at.predict(spark, Horizon).collect().map(r => r4(r.getAs[Double]("yhat"))).mkString(",")
      println(s"""{"automl":{"leaderboard":[$board],"yhat":[$yhat]}}""")
      return
    }
    val want = ctx.expected \ "automl"
    val wantBoard = (want \ "leaderboard").children.map(e =>
      (e(0).extract[String], e(1).extract[Double]))
    val wantYhat = (want \ "yhat").extract[Seq[Double]]
    def checkBoard(what: String, board: Seq[(String, Double)]): Unit =
      ctx.check(s"$what leaderboard") {
        val got = board.map { case (n, r) => (n, r4(r)) }
        if (got != wantBoard) System.err.println(s"[perfbench] leaderboard $got, expected $wantBoard")
        got == wantBoard
      }
    def checkForecast(what: String, rows: Seq[Row]): Unit =
      ctx.check(s"$what forecast") {
        val got = rows.map(r => r4(r.getAs[Double]("yhat")))
        if (got != wantYhat) System.err.println(s"[perfbench] yhat $got, expected $wantYhat")
        got == wantYhat
      }
    // No warm-up iteration: one costs as much as the measured one, and a
    // run has room for only one. Every iteration measured is thus the
    // first in a fresh session, JIT and codegen included.
    setupDone(ctx, t0Ms)

    if (ctx.trace) {
      val rows = traced(ctx)((tr, i) => replay(ctx, tr, series, i, checkBoard, checkForecast))
      report(ctx, rows)
      return
    }
    val plain = loop(ctx.seconds) { i =>
      val dir = ctx.out.resolve(s"model-$i")
      val i0 = System.nanoTime()
      val at = new AutoTimeseries(cv = Cv, forecastPeriod = Horizon)
      at.fit(series, "ts", "price")
      val board = at.leaderboard(spark).collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      val lat = (1 to PredictCalls).map { _ =>
        val p0 = System.nanoTime(); val rows = at.predict(spark, Horizon).collect().toSeq
        (seconds(p0), rows)
      }
      at.save(dir.toString)
      val served = AutoTimeseries.load(dir.toString).predict(spark, Horizon).collect().toSeq
      val wall = seconds(i0)
      System.err.println(f"[perfbench] iteration $i: $wall%.3f s")
      checkBoard("automl", board)
      checkForecast("automl", lat.head._2)
      ctx.check("predictions repeat")(lat.forall(_._2 == lat.head._2))
      ctx.check("loaded predictions row-identical")(served == lat.head._2)
      rmTree(dir)
      (wall, lat.map(_._1))
    }
    ctx.metrics("iter_s") = (median(plain.map(_._1)), "s")
    ctx.metrics("op_p50_s") = (median(plain.flatMap(_._2)), "s")
  }

  /** `AutoTimeseries.fit`'s steps replayed through their public functions,
    * one span per step, followed by the same leaderboard, predict and
    * save/load/predict as the untraced lifecycle. The save writes what
    * `AutoTimeseries.save` writes (every family plus automl.json), so the
    * load is the program's own `AutoTimeseries.load`. */
  def replay(ctx: Ctx, tr: Tracer, series: DataFrame, i: Int,
             checkBoard: (String, Seq[(String, Double)]) => Unit,
             checkForecast: (String, Seq[Row]) => Unit): Unit = {
    val spark = ctx.spark
    val dir = ctx.out.resolve(s"traced-$i")
    val (best, board, preds, loaded, served) = tr.span("iteration") {
      val freq = tr.span("infer.freq")(FreqInfer.inferFromFirstTwo(series, "ts"))
      val n = tr.span("automl.count")(series.count())
      val horizon = ExpandingWindowSplit.clampHorizon(n, Cv, Horizon)
      val m = freq.seasonalPeriod
      val z = ForecastFrame.zFor(0.95)
      val exog = series.columns.filterNot(c => c == "ts" || c == "price").toSeq
      val schema = TsSchema("ts", "price", exog)
      // same families, settings and order as AutoTimeseries' defaults
      val models: Seq[ModelBuild] = Seq(
        new GbtModel(lags = 2, z = z),
        new DecomposableModel(m, nChangepoints = -1, intervalWidth = 0.95, seasonalityMode = "additive")) ++
        (if (exog.nonEmpty && n <= 1000) Seq(new VarModel(seasonalM = m, z = z)) else Nil) ++
        Seq(new ArimaModel(3, 1, 3, seasonalM = m, z = z))
      val fitted = models.map { mb =>
        mb -> tr.span(s"models.${mb.getClass.getSimpleName}.fit")(mb.fit(series, schema, Cv, horizon))
      }
      val (best, board) = tr.span("automl.select") {
        val sorted = fitted.sortBy(_._2.meanRmse)
        (sorted.head._1, sorted.map { case (mb, s) => (mb.name, s.meanRmse) })
      }
      val preds = tr.span("models.predict")(best.predict(spark, Horizon).collect().toSeq)
      tr.span("models.save")(save(dir, best.name, fitted))
      val loaded = tr.span("models.load")(AutoTimeseries.load(dir.toString))
      val served = tr.span("models.predict_loaded")(loaded.predict(spark, Horizon).collect().toSeq)
      (best, board, preds, loaded, served)
    }
    checkBoard("traced", board)
    checkForecast("traced", preds)
    ctx.check("traced load keeps the best family")(loaded.bestName == best.name)
    checkBoard("traced loaded", loaded.leaderboard(spark).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq)
    ctx.check("traced loaded predictions row-identical")(served == preds)
    ctx.metrics("models.saved_bytes") = (treeBytes(dir).toDouble, "bytes")
    rmTree(dir)
  }

  /** Writes what `AutoTimeseries.save` writes for these fitted families:
    * one directory per family and automl.json with the CV scores. */
  def save(dir: Path, bestName: String, fitted: Seq[(ModelBuild, CvScores)]): Unit = {
    val entries = fitted.map { case (mb, s) =>
      mb.save(dir.resolve(mb.name).toString)
      ("name" -> mb.name) ~ ("fold_rmse" -> s.foldRmse.toList) ~
        ("fold_norm_rmse" -> s.foldNormRmse.toList)
    }.toList
    Files.writeString(dir.resolve("automl.json"), compact(render(
      ("best" -> bestName) ~ ("score_type" -> "rmse") ~ ("cv" -> Cv) ~
        ("forecast_period" -> Horizon) ~ ("entries" -> entries))))
  }

  def report(ctx: Ctx, rows: Seq[Trace.Row]): Unit = {
    def med(name: String)(f: Trace.Row => Double): Double =
      median(rows.filter(_.span.name == name).map(f))
    ctx.metrics("infer.freq_s") = (med("infer.freq")(_.span.seconds), "s")
    for (f <- Families) {
      val n = s"models.$f.fit"
      ctx.metrics(s"models.$f.fit_s") = (med(n)(_.span.seconds), "s")
      ctx.metrics(s"models.$f.jobs") = (med(n)(_.work.jobs.toDouble), "count")
      ctx.metrics(s"models.$f.gap_s") = (med(n)(_.gapS), "s")
      ctx.metrics(s"models.$f.task_cpu_s") = (med(n)(_.work.cpuNs / 1e9), "s")
    }
    ctx.metrics("automl.select_s") = (med("automl.select")(_.span.seconds), "s")
    ctx.metrics("models.predict_s") = (med("models.predict")(_.span.seconds), "s")
    ctx.metrics("models.save_s") = (med("models.save")(_.span.seconds), "s")
    ctx.metrics("models.load_s") = (med("models.load")(_.span.seconds), "s")
    ctx.metrics("spark.jobs") = (med("iteration")(_.work.jobs.toDouble), "count")
    ctx.metrics("spark.gap_s") = (med("iteration")(_.gapS), "s")
  }
}
