package graft.models

import java.nio.file.{Files, Paths}
import java.time.{LocalDate, ZoneId, ZoneOffset}

import scala.util.Try

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.graftbridge.TreeBridge
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.regression.GBTRegressor
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._

import graft.SparkTestBase

/** [[GbtModel]]'s one-job fit against the frame-based fit it replaced, as
  * an in-JVM oracle: the supervised rows its tasks build equal
  * [[MlCore.frame]]'s rows (features, fit label, target, rn), and its fold
  * scores, trees, residual σ and forecast state equal those of the frame
  * pipeline (the cached frame → [[GbtTrainer]] per fold and on the whole
  * frame → [[MlCore.state]]), bit for bit, under UTC. */
class GbtParitySpec extends SparkTestBase {
  import spark.implicits._

  private def month(t: Int, zone: ZoneId = ZoneOffset.UTC) = java.sql.Timestamp.from(
    LocalDate.of(2015, 1, 1).plusMonths(t.toLong).atStartOfDay(zone).toInstant)

  private def monthly = spark.read.parquet("perfbench/fixtures/orders_monthly.parquet")
  private val monthlySchema = TsSchema("ts", "price", Seq("n_orders"))

  /** 48 monthly points of trend + season with one exog column. */
  private def exogSeries = (0 until 48).map { t =>
    (month(t), 100.0 + 2.0 * t + 10.0 * math.sin(t * math.Pi / 6) + (t % 5) * 0.7,
     50.0 + (t % 7).toDouble)
  }.toDF("ts", "y", "x")
  private val exogSchema = TsSchema("ts", "y", Seq("x"))

  /** A text-driven series with a zero target (log label remapped) and a
    * negative one (no log label: the row is dropped, its value still lags). */
  private def noteSeries = (0 until 48).map { t =>
    val promo = t % 7 == 2
    val y = if (t == 10) 0.0 else if (t == 20) -5.0 else 50.0 + (if (promo) 40.0 else 0.0) + (t % 5) * 0.7
    (month(t), y, (if (promo) "big promotion event announced with heavy discounts"
                   else "ordinary trading conditions continued as before") + s" batch $t")
  }.toDF("ts", "y", "note")
  private val noteSchema = TsSchema("ts", "y", Seq("note"))

  /** [[exogSeries]] with a NULL target at row 30. */
  private def nullTarget = exogSeries.select(col("ts"),
    when(col("ts") === lit(month(30)), lit(null).cast("double")).otherwise(col("y")).as("y"), col("x"))

  /** 60 daily points crossing a month and a year end. */
  private def daily = (0 until 60).map { t =>
    (java.sql.Timestamp.from(java.time.Instant.parse("2019-12-01T00:00:00Z").plusSeconds(86400L * t)),
     10.0 + (t % 7) * 1.5 + t * 0.1)
  }.toDF("ts", "y")

  private def inputs(df: DataFrame, schema: TsSchema) =
    MlCore.inputs(df, schema, 2, s"${schema.target}_lag", 50)

  private def bits(a: Seq[Double]): Seq[Long] = a.map(java.lang.Double.doubleToRawLongBits)

  /** One supervised row: features, fit label, target, rn. */
  private type Sup = (Seq[Long], Long, Long, Int)

  /** [[MlCore.frame]]'s rows with the label a [[GbtModel]] fit uses,
    * assembled, in rn order, with the feature vectors as MLlib assembled them. */
  private def frameRows(df: DataFrame, in: MlCore.Inputs, logY: Boolean): Seq[(Vector, Double, Double, Int)] = {
    val y = col(in.schema.target).cast("double")
    val label = if (logY) log(when(y === 0.0, lit(1e-15)).otherwise(y)) else y
    val (f, _) = MlCore.frame(df, in, y, Seq(y.as(in.schema.target), label.as("y_fit")))
    try new VectorAssembler().setInputCols(in.featureCols.toArray).setOutputCol("features")
      .transform(f).orderBy("rn").select(col("features"), col("y_fit"), col(in.schema.target), col("rn"))
      .collect().toSeq.map(r => (r.getAs[Vector](0), r.getDouble(1), r.getDouble(2), r.getInt(3)))
    finally f.unpersist()
  }

  /** The rows [[GbtModel]]'s fit tasks build, through the same functions. */
  private def taskRows(df: DataFrame, in: MlCore.Inputs, logY: Boolean): MlCore.Supervised = {
    val label: Double => Double = if (logY) GbtModel.logLabel else identity
    MlCore.raw(df, in, col(in.schema.target)).coalesce(1)
      .mapPartitions(rows => Iterator(MlCore.supervised(in, MlCore.sorted(in, rows))(label)))
      .collect().head
  }

  private def asSup(rows: Seq[(Vector, Double, Double, Int)]): Seq[Sup] =
    rows.map { case (x, l, y, rn) => (bits(x.toArray.toSeq), bits(Seq(l)).head, bits(Seq(y)).head, rn) }

  private def asSup(s: MlCore.Supervised): Seq[Sup] =
    s.x.indices.map(i => (bits(s.x(i).toArray.toSeq), bits(Seq(s.label(i))).head,
                          bits(Seq(s.y(i))).head, i + 1))

  private val cases: Seq[(String, () => DataFrame, TsSchema, Boolean)] = Seq(
    ("perfbench series", () => monthly, monthlySchema, false),
    ("exog series", () => exogSeries, exogSchema, false),
    ("NLP series, logY", () => noteSeries, noteSchema, true),
    ("NULL target", () => nullTarget, exogSchema, false),
    ("daily series, logY", () => daily, TsSchema("ts", "y"), true))

  for ((tag, df, schema, logY) <- cases)
    test(s"$tag: the fit tasks' supervised rows equal MlCore.frame's rows") {
      val in = inputs(df(), schema)
      val want = asSup(frameRows(df(), in, logY))
      assert(want.nonEmpty)
      assert(asSup(taskRows(df(), in, logY)) == want)
    }

  test("the NLP series drops its negative-target row and its first two rows, nothing else") {
    val rn = taskRows(noteSeries, inputs(noteSeries, noteSchema), logY = true)
    assert(rn.n == 48 - 2 - 1)
    assert(rn.y.count(_ == 0.0) == 1 && !rn.y.exists(_ < 0))
    val nulls = taskRows(nullTarget, inputs(nullTarget, exogSchema), logY = false)
    assert(nulls.n == 48 - 2 - 3, "the NULL row and the two rows that lag it are dropped")
  }

  /** The fixed GBT's settings for `p`. */
  private def gbt(p: GbtModel.GbtParams) = new GBTRegressor()
    .setLabelCol("y_fit").setFeaturesCol("features")
    .setMaxIter(p.maxIter).setMaxDepth(p.maxDepth).setStepSize(p.stepSize).setSeed(42)

  /** What a fit leaves: fold scores, ensemble file bytes, forecast state
    * and σ as params.json holds them. */
  private case class Outcome(params: GbtModel.GbtParams, rmse: Seq[Long], norm: Seq[Long],
                             ensemble: Seq[Byte], state: Map[String, JValue])

  /** The frame-based fit over `cands`: every (candidate × fold) fit on the
    * frame's rows, the search's pick (lowest mean fold RMSE; ties by
    * depth, iterations, step; a candidate with a failing fold dropped),
    * the winner on the whole frame, σ, and [[MlCore.state]]. */
  private def oracle(df: DataFrame, schema: TsSchema, cands: Seq[GbtModel.GbtParams], cv: Int,
                     h: Int, logY: Boolean): Outcome = {
    val in = inputs(df, schema)
    val rows = frameRows(df, in, logY)
    val (x, label, y) = (rows.map(_._1).toArray, rows.map(_._2).toArray, rows.map(_._3).toArray)
    def back(p: Double) = if (logY) math.exp(p) else p
    def train(p: GbtModel.GbtParams, n: Int) =
      GbtTrainer.fit(x.take(n), label.take(n), GbtTrainer.Config.of(gbt(p)))
    def model(p: GbtModel.GbtParams, e: GbtTrainer.Ensemble) =
      TreeBridge.model(gbt(p), e.trees.toSeq, e.weights, e.numFeatures)
    val scored = for (p <- cands; (a, b) <- LocalSeries.foldBounds(x.length, cv, h)) yield p -> Try {
      val m = model(p, train(p, a))
      LocalSeries.score(y.slice(a, b), x.slice(a, b).map(v => back(m.predict(v))))
    }
    val (best, scores) = scored.groupBy(_._1).toSeq
      .collect { case (p, s) if s.forall(_._2.isSuccess) => (p, s.map(_._2.get)) }
      .minBy { case (p, s) => (s.map(_._1).sum / s.length, p.maxDepth, p.maxIter, p.stepSize) }
    val ens = train(best, x.length)
    val m = model(best, ens)
    val sq = x.indices.map { i =>
      val p = m.predict(x(i)); StrictMath.pow(y(i) - (if (logY) StrictMath.exp(p) else p), 2)
    }.sum
    val state = MlCore.state(df, in, df, col(schema.target).cast("double"))
    val file = Files.createTempFile("graft-oracle", ".bin")
    GbtTrainer.Ensemble.write(ens, file)
    Outcome(best, bits(scores.map(_._1)), bits(scores.map(_._2)), Files.readAllBytes(file).toSeq,
      state.json("tailY", Some(math.sqrt(sq / x.length))).obj.toMap)
  }

  /** A fitted model's outcome, read back from what it saves. */
  private def outcome(m: GbtModel, p: GbtModel.GbtParams, rmse: Seq[Double], norm: Seq[Double],
                      keys: Set[String]): Outcome = {
    val dir = Files.createTempDirectory("graft-parity").toString
    m.save(dir)
    val j = org.json4s.jackson.JsonMethods.parse(Files.readString(Paths.get(dir, "params.json")))
    Outcome(p, bits(rmse), bits(norm), Files.readAllBytes(Paths.get(dir, "ensemble.bin")).toSeq,
      j.asInstanceOf[JObject].obj.toMap.filter { case (k, _) => keys(k) })
  }

  for ((tag, df, schema, logY) <- cases)
    test(s"$tag: fold scores, trees, σ and forecast state equal the frame-based fit's") {
      val fixed = GbtModel.GbtParams(2, 50, 0.1)
      val want = oracle(df(), schema, Seq(fixed), 2, 8, logY)
      val m = new GbtModel(lags = 2, logY = logY)
      val s = m.fit(df(), schema, cv = 2, h = 8)
      assert(outcome(m, fixed, s.foldRmse, s.foldNormRmse, want.state.keySet) == want)
    }

  test("fitSearched(nIter = 8): the pick, its fold scores, trees, σ and state equal the frame-based search's") {
    for ((tag, df, schema) <- Seq(("perfbench series", () => monthly, monthlySchema),
                                  ("exog series", () => exogSeries, exogSchema))) {
      val cands = GbtModel.candidates(GbtModel.GbtParams(2, 50, 0.1), 8, 42)
      val want = oracle(df(), schema, cands, 2, 8, logY = false)
      val r = GbtModel.fitSearched(df(), schema, cv = 2, h = 8, nIter = 8)
      assert(outcome(r.model, r.params, r.foldRmse, r.foldNormRmse, want.state.keySet) == want, tag)
    }
  }

  /** A monthly series at local midnight in `zone`. */
  private def localMonthly(zone: ZoneId) = (0 until 40).map { t =>
    (month(t, zone), 20.0 + (t % 12) * 2.5 + t * 0.3)
  }.toDF("ts", "y")

  test("under a non-UTC session zone the training calendar is calendarLocal of the same instants") {
    val tokyo = ZoneId.of("Asia/Tokyo")
    val df = localMonthly(tokyo)
    val key = "spark.sql.session.timeZone"
    val saved = Seq(new GbtModel(lags = 2), new GbtModel(lags = 2)).zip(Seq("Asia/Tokyo", "UTC")).map {
      case (m, zone) =>
        spark.conf.set(key, zone)
        try {
          val in = inputs(df, TsSchema("ts", "y"))
          val sup = taskRows(df, in, logY = false)
          val instants = df.collect().map(_.getTimestamp(0).getTime).sorted.drop(2)
          assert(sup.n == instants.length)
          for (i <- 0 until sup.n)
            assert(sup.x(i).toArray.slice(2, 6).toSeq == MlCore.calendarLocal(instants(i)).toSeq,
              s"$zone, row ${i + 1}")
          // the first training row, 1 March 2015 at midnight in Tokyo, is
          // 28 February in UTC
          assert(sup.x.head.toArray.slice(2, 6).toSeq == Seq(2.0, 1.0, 5.0, 28.0))
          m.fit(df, TsSchema("ts", "y"), cv = 2, h = 6)
          val dir = Files.createTempDirectory("graft-zone").toString
          m.save(dir)
          Seq("params.json", "ensemble.bin").map(f => Files.readAllBytes(Paths.get(dir, f)).toSeq)
        } finally spark.conf.set(key, "UTC")
    }
    assert(spark.conf.get(key) == "UTC")
    assert(saved(0) == saved(1), "the fit depends on the session time zone")
  }

  test("under a non-UTC session zone the classifier's training calendar is calendarLocal of the same instants") {
    // GbtClassifyTs trains on MlCore.frame, and forecasts with calendarLocal
    val df = localMonthly(ZoneId.of("Asia/Tokyo"))
    val key = "spark.sql.session.timeZone"
    spark.conf.set(key, "Asia/Tokyo")
    try {
      val (f, n) = MlCore.frame(df, inputs(df, TsSchema("ts", "y")), col("y"), Seq(col("y")))
      try {
        val rows = f.orderBy("rn").select(unix_micros(col("ts")) +: MlCore.Calendar.map(col): _*).collect()
        assert(n == 38 && rows.length == n)
        for ((r, i) <- rows.zipWithIndex)
          assert((1 to 4).map(r.getDouble) == MlCore.calendarLocal(r.getLong(0) / 1000L).toSeq,
            s"row ${i + 1}")
        // 1 March 2015 at midnight in Tokyo is 28 February in UTC
        assert((1 to 4).map(rows.head.getDouble) == Seq(2.0, 1.0, 5.0, 28.0))
      } finally f.unpersist()
    } finally spark.conf.set(key, "UTC")
    assert(spark.conf.get(key) == "UTC")
  }
}
