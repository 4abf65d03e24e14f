package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Time-series reshaping operators — the core dataflow surface of the
  * reference (SURVEY §2.3/§2.6; `auto_ts/utils/etl.py:248-317` supervised
  * reshape, `auto_ts/__init__.py:347-351` differencing,
  * `auto_ts/models/build_ml.py:732-786` calendar features).
  *
  * Spark has no implicit row index, so every operator takes an explicit
  * event-time column (`tsCol`), optional series-identity columns
  * (`seriesCols` → `Window.partitionBy`), and optional deterministic
  * tie-break columns for duplicate timestamps (the reference's positional
  * `shift` is undefined there — SURVEY §7.4). At scale, `seriesCols`
  * non-empty is the contract: a window with no partition keys collapses to
  * a single task and is only acceptable for one bounded series.
  */
object TimeSeriesOps {

  /** partitionBy(seriesCols).orderBy(tsCol, tieBreak*) */
  def seriesWindow(tsCol: String, seriesCols: Seq[String],
                   tieBreak: Seq[String] = Nil): WindowSpec = {
    val base =
      if (seriesCols.isEmpty) Window.partitionBy()
      else Window.partitionBy(seriesCols.map(col): _*)
    base.orderBy((tsCol +: tieBreak).map(col): _*)
  }

  /** T1 — lag features `col_lag{i}` for i=1..maxLag (reference `var(t-i)`,
    * `utils/etl.py:285`). */
  def addLags(df: DataFrame, valueCols: Seq[String], maxLag: Int,
              tsCol: String, seriesCols: Seq[String] = Nil,
              tieBreak: Seq[String] = Nil): DataFrame = {
    val w = seriesWindow(tsCol, seriesCols, tieBreak)
    val lagCols = for (c <- valueCols; i <- 1 to maxLag)
      yield lag(col(c), i).over(w).as(s"${c}_lag$i")
    df.select(df.columns.toSeq.map(col) ++ lagCols: _*)
  }

  /** T2 — lead features `col_lead{i}` for i=1..maxLead (reference
    * `var(t+i)`, `utils/etl.py:291-294`). */
  def addLeads(df: DataFrame, valueCols: Seq[String], maxLead: Int,
               tsCol: String, seriesCols: Seq[String] = Nil,
               tieBreak: Seq[String] = Nil): DataFrame = {
    val w = seriesWindow(tsCol, seriesCols, tieBreak)
    val leadCols = for (c <- valueCols; i <- 1 to maxLead)
      yield lead(col(c), i).over(w).as(s"${c}_lead$i")
    df.select(df.columns.toSeq.map(col) ++ leadCols: _*)
  }

  /** T1+T2 — the reference's `convert_timeseries_dataframe_to_supervised`
    * (`utils/etl.py:248-317`): lags of every column + leads of the target,
    * rows with incomplete windows dropped. */
  def toSupervised(df: DataFrame, featureCols: Seq[String], targetCol: String,
                   nIn: Int, nOut: Int, tsCol: String,
                   seriesCols: Seq[String] = Nil,
                   tieBreak: Seq[String] = Nil): DataFrame = {
    val lagged = addLags(df, featureCols, nIn, tsCol, seriesCols, tieBreak)
    val led    = if (nOut > 0) addLeads(lagged, Seq(targetCol), nOut, tsCol, seriesCols, tieBreak) else lagged
    led.na.drop()
  }

  /** T4 — k-th order differencing: `col - lag(col, 1)` applied `order`
    * times (`auto_ts/__init__.py:347-351`). Emits `col_diff`. */
  def diff(df: DataFrame, valueCol: String, order: Int,
           tsCol: String, seriesCols: Seq[String] = Nil,
           tieBreak: Seq[String] = Nil): DataFrame = {
    val w = seriesWindow(tsCol, seriesCols, tieBreak)
    // d-th difference = repeated (x - lag(x)) over the same ordered window
    var out = df
    var name = valueCol
    for (i <- 1 to order) {
      val newName = if (i == order) s"${valueCol}_diff" else s"${valueCol}_d$i"
      out = out.withColumn(newName, col(name) - lag(col(name), 1).over(w))
      name = newName
    }
    out
  }

  /** T5 — inverse differencing: running cumulative sum restoring a
    * differenced series given its anchor (`models/build_pyflux.py:91-106`).
    * cumsum over the ordered window + anchor. */
  def cumsumRestore(df: DataFrame, diffCol: String, anchor: Double,
                    tsCol: String, seriesCols: Seq[String] = Nil,
                    tieBreak: Seq[String] = Nil,
                    outCol: String = "restored"): DataFrame = {
    val w = seriesWindow(tsCol, seriesCols, tieBreak)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(outCol, lit(anchor) + sum(coalesce(col(diffCol), lit(0.0))).over(w))
  }

  /** T5 (many-series form) — inverse differencing where the anchor is the
    * series' own first value of `anchorCol`: restored = first(anchor) +
    * cumsum(diff). One partitioned window pass, works across millions of
    * series (the scalar-anchor form above is the single-series case). */
  def cumsumRestorePerSeries(df: DataFrame, diffCol: String, anchorCol: String,
                             tsCol: String, seriesCols: Seq[String] = Nil,
                             tieBreak: Seq[String] = Nil,
                             outCol: String = "restored"): DataFrame = {
    val w = seriesWindow(tsCol, seriesCols, tieBreak)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(outCol,
      first(col(anchorCol)).over(w) + sum(coalesce(col(diffCol), lit(0.0))).over(w))
  }

  /** W6/P5 — forward fill: last non-null over the ordered window
    * (`models/build_ml.py:720`). */
  def forwardFill(df: DataFrame, valueCols: Seq[String], tsCol: String,
                  seriesCols: Seq[String] = Nil,
                  tieBreak: Seq[String] = Nil): DataFrame = {
    val w = seriesWindow(tsCol, seriesCols, tieBreak)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    valueCols.foldLeft(df) { (d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
  }

  /** T6 — the reference's 10 calendar features
    * (`models/build_ml.py:732-786`): hour, minute, dayofweek (0=Monday,
    * pandas convention `build_ml.py:763`), quarter, month, year, dayofyear,
    * dayofmonth, weekofyear (ISO), weekend indicator. */
  def calendarFeatures(df: DataFrame, tsCol: String, prefix: String = ""): DataFrame = {
    val ts = col(tsCol)
    df.withColumns(Map(
      s"${prefix}hour"       -> hour(ts),
      s"${prefix}minute"     -> minute(ts),
      s"${prefix}dayofweek"  -> weekday(ts), // 0 = Monday, matches pandas
      s"${prefix}quarter"    -> quarter(ts),
      s"${prefix}month"      -> month(ts),
      s"${prefix}year"       -> year(ts),
      s"${prefix}dayofyear"  -> dayofyear(ts),
      s"${prefix}dayofmonth" -> dayofmonth(ts),
      s"${prefix}weekofyear" -> weekofyear(ts),
      s"${prefix}weekend"    -> when(weekday(ts) >= 5, 1).otherwise(0)
    ))
  }

  /** T10 — resample to a coarser grain with mean of the value columns
    * (README.md:187 contract). `unit` is a `date_trunc` unit
    * (year|quarter|month|week|day|hour|minute). Aggregation is partial
    * (map-side combine) — one shuffle on the truncated key. */
  def resampleMean(df: DataFrame, tsCol: String, unit: String,
                   valueCols: Seq[String],
                   seriesCols: Seq[String] = Nil): DataFrame = {
    val keys = seriesCols.map(col) :+ date_trunc(unit, col(tsCol)).as("ts_bucket")
    val aggs = valueCols.map(c => avg(col(c)).as(s"${c}_mean")) :+ count(lit(1)).as("n")
    df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** T10b — gap-fill to a REGULAR grid (the upsample direction of the
    * reference's resampling contract, README.md:187 — pandas
    * `asfreq().ffill()`): bucket observations to `unit` grain, generate
    * every grid point between each series' first and last bucket
    * (`sequence` + `explode` — a map-side generator, no UDTF), left-join
    * the observed buckets back and forward-fill the holes. `n_obs` = 0
    * marks synthesized rows. Scales: both the bucketing aggregation and
    * the grid⋈obs join shuffle on the series key, so a skewed/huge series
    * set behaves like any keyed aggregation (AQE-handled); grid size is
    * bounded by span/unit per series, independent of event density. */
  def gapFill(df: DataFrame, tsCol: String, unit: String,
              valueCol: String, seriesCols: Seq[String]): DataFrame = {
    val binned = resampleMean(df, tsCol, unit, Seq(valueCol), seriesCols)
    val sc = seriesCols.map(col)
    val step = expr(s"INTERVAL 1 $unit")
    val grid = binned.groupBy(sc: _*)
      .agg(min(col("ts_bucket")).as("_t0"), max(col("ts_bucket")).as("_t1"))
      .select(sc :+ explode(sequence(col("_t0"), col("_t1"), step)).as("ts_bucket"): _*)
    val joined = grid.join(binned, seriesCols :+ "ts_bucket", "left")
      .withColumn("n_obs", coalesce(col("n"), lit(0L))).drop("n")
    forwardFill(joined, Seq(s"${valueCol}_mean"), "ts_bucket", seriesCols)
  }

  /** W3 — rolling mean/std over the trailing `window` rows
    * (`utils/eda.py:237-238`). */
  def rollingStats(df: DataFrame, valueCol: String, windowRows: Int,
                   tsCol: String, seriesCols: Seq[String] = Nil,
                   tieBreak: Seq[String] = Nil): DataFrame = {
    val w = seriesWindow(tsCol, seriesCols, tieBreak)
      .rowsBetween(-(windowRows - 1), Window.currentRow)
    df.withColumn(s"${valueCol}_rollmean", avg(col(valueCol)).over(w))
      .withColumn(s"${valueCol}_rollstd", stddev_samp(col(valueCol)).over(w))
  }

  /** T11 — future timestamp generation (`make_future_dataframe`
    * equivalent, `models/build_prophet.py:256`): k periods past the max
    * timestamp at a calendar interval, via `sequence` + `explode`
    * (generator built-ins, no UDTF). */
  def futureTimestamps(df: DataFrame, tsCol: String, periods: Int,
                       interval: String): DataFrame = {
    val step = expr(s"INTERVAL $interval")
    df.agg(max(col(tsCol)).as("ts_max"))
      .select(explode(sequence(col("ts_max") + step,
                               col("ts_max") + expr(s"INTERVAL ${periods * intervalCount(interval)} ${intervalUnit(interval)}"),
                               step)).as(tsCol))
  }

  private def intervalCount(interval: String): Int =
    interval.trim.split("\\s+")(0).toInt
  private def intervalUnit(interval: String): String =
    interval.trim.split("\\s+")(1)

  /** T13 — last `lags` train rows prepended to the test frame for
    * recursive forecasting (`models/build_ml.py:84,394,411,526`).
    * `tieBreak` makes the tail deterministic on duplicate timestamps
    * (same contract as every other operator in this module). */
  /** Trailing TIME-RANGE rolling aggregates: count/sum/avg of the value
    * over the last `windowSec` seconds per series — the time-correct
    * sibling of [[rollingStats]] (a ROWS frame silently changes meaning
    * on irregular cadence: "last 5 rows" is not "last hour"; a RANGE
    * frame on epoch seconds is). Peers at the same second share one
    * frame in any engine, so the result is tie-safe by construction.
    *
    * Determinism: the value quantizes to the 1e-6 grid and the frame
    * sum is an exact BIGINT (windowed double sums are
    * association-order-dependent across engines — the `Det.moneySum`
    * discipline). Shape: ONE series-keyed window exchange; the frame is
    * evaluated with a sliding two-pointer over the sorted partition,
    * O(n) per series.
    *
    * `seriesCols = Nil` builds an UNPARTITIONED window — a single-task
    * global sort over the whole input. That form is for BOUNDED inputs
    * only (a single already-reduced series, a driver-sized table); on a
    * corpus-sized frame always pass series keys. The require below makes
    * the contract explicit: callers must opt in with
    * `allowUnpartitioned = true` rather than fall into a global sort by
    * passing Nil accidentally (ADVICE r10). */
  def timeWindowAgg(df: DataFrame, valueCol: String, tsCol: String,
                    seriesCols: Seq[String], windowSec: Long,
                    allowUnpartitioned: Boolean = false): DataFrame = {
    require(windowSec >= 1, s"need windowSec >= 1, got $windowSec")
    require(seriesCols.nonEmpty || allowUnpartitioned,
      "seriesCols is empty: an unpartitioned RANGE window is a single-task " +
      "global sort — pass series keys, or allowUnpartitioned = true for a " +
      "bounded input")
    val w = seriesCols match {
      case Nil => Window.orderBy(col("__sec"))
      case s   => Window.partitionBy(s.map(col): _*).orderBy(col("__sec"))
    }
    val frame = w.rangeBetween(-windowSec, Window.currentRow)
    df.withColumn("__sec", col(tsCol).cast("long"))
      .withColumn("__y6", floor(col(valueCol).cast("double") * 1e6 + 0.5).cast("long"))
      .withColumn("roll_n", count(lit(1)).over(frame))
      .withColumn("roll_sum", sum(col("__y6")).over(frame) / 1e6)
      .withColumn("roll_avg",
        (sum(col("__y6")).over(frame) / 1e6) / count(lit(1)).over(frame))
      .drop("__sec", "__y6")
  }

  /** Fourier seasonal features (the Prophet/harmonic-regression basis —
    * the smooth alternative to one-hot calendar dummies for ML models,
    * `build_ml.py`'s calendar block re-expressed): per series,
    * sin/cos(2πk·t/m) for k = 1..K on the row index t. The phase is
    * computed on t mod m BEFORE the multiply, so the trig arguments
    * stay in [0, 2πK) regardless of series length — unreduced large
    * arguments are where cross-engine libm drift lives. One series
    * window for the index; the features themselves are pure map-side
    * expressions. Appends t and sin_k/cos_k columns. */
  def fourierFeatures(df: DataFrame, tsCol: String, seriesCols: Seq[String],
                      m: Int, harmonics: Int,
                      tieBreak: Seq[String] = Nil): DataFrame = {
    require(m >= 2 && harmonics >= 1, s"need m >= 2, K >= 1, got $m/$harmonics")
    val w = seriesWindow(tsCol, seriesCols, tieBreak)
    val base = df.withColumn("t", (row_number().over(w) - 1).cast("long"))
      .withColumn("__ph", pmod(col("t"), lit(m)).cast("double") / m)
    (1 to harmonics).foldLeft(base) { (d, k) =>
      d.withColumn(s"sin_$k", sin(lit(2 * math.Pi * k) * col("__ph")))
        .withColumn(s"cos_$k", cos(lit(2 * math.Pi * k) * col("__ph")))
    }.drop("__ph")
  }

  def prependBuffer(train: DataFrame, test: DataFrame, lags: Int,
                    tsCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val ord = (tsCol +: tieBreak).map(c => col(c).desc)
    val tail = train.orderBy(ord: _*).limit(lags)
    tail.unionByName(test, allowMissingColumns = true)
      .orderBy((tsCol +: tieBreak).map(col): _*)
  }
}
