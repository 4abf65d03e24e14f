package graft.infer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** T8/T9 — frequency inference + seasonal-period imputation.
  *
  * The reference infers the series interval from the delta of the first two
  * timestamps (`auto_ts/__init__.py:399-453`) and maps the alias to a
  * seasonal period m (`auto_ts/__init__.py:489-510`, README.md:119-131).
  * We keep the same bucket boundaries but compute the delta with an
  * aggregate over ALL consecutive deltas (median is far more robust on
  * irregular data and costs one window + one percentile_approx — the
  * 2-row probe is also provided for strict parity). */
object FreqInfer {

  /** Frequency aliases, mirroring the reference's vocabulary. */
  sealed trait Freq { def alias: String; def seasonalPeriod: Int; def sparkInterval: String }
  case object Minutely  extends Freq { val alias = "MIN"; val seasonalPeriod = 60; val sparkInterval = "1 minute" }
  case object Hourly    extends Freq { val alias = "H";   val seasonalPeriod = 24; val sparkInterval = "1 hour" }
  case object Daily     extends Freq { val alias = "D";   val seasonalPeriod = 30; val sparkInterval = "1 day" }
  case object Weekly    extends Freq { val alias = "W";   val seasonalPeriod = 52; val sparkInterval = "1 week" }
  case object Monthly   extends Freq { val alias = "M";   val seasonalPeriod = 12; val sparkInterval = "1 month" }
  case object Quarterly extends Freq { val alias = "Q";   val seasonalPeriod = 4;  val sparkInterval = "3 month" }
  case object SemiAnnual extends Freq { val alias = "S";  val seasonalPeriod = 2;  val sparkInterval = "6 month" }
  case object Annual    extends Freq { val alias = "Y";   val seasonalPeriod = 1;  val sparkInterval = "1 year" }

  /** Bucket upper bounds in seconds, in precedence order — THE single
    * source of the boundary table (mirrors `auto_ts/__init__.py:412-445`:
    * <1h minutely, <1d hourly, <7d daily, 7–27d weekly, 28–88d monthly,
    * 89–177d quarterly, 178–359d semiannual, ≥360d annual). Everything
    * else (local bucket(), the Column form, the SQL twin) derives from
    * this list so the thresholds can never drift apart. */
  val bucketBounds: Seq[(Long, Freq)] = Seq(
    3600L -> Minutely, 86400L -> Hourly, 7L * 86400 -> Daily,
    28L * 86400 -> Weekly, 89L * 86400 -> Monthly,
    178L * 86400 -> Quarterly, 360L * 86400 -> SemiAnnual)

  /** Bucket a delta (in seconds) into a frequency alias. */
  def bucket(deltaSeconds: Double): Freq =
    bucketBounds.collectFirst { case (b, f) if deltaSeconds < b => f }
      .getOrElse(Annual)

  /** The same bucketing as a codegen'd Column over a delta-seconds column. */
  def freqColumn(deltaS: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    bucketBounds.foldRight(lit(Annual.alias)) { case ((b, f), acc) =>
      when(deltaS < b, f.alias).otherwise(acc)
    }

  /** SQL twin of [[freqColumn]] for the DuckDB oracle. */
  def freqCaseSql(expr: String): String =
    bucketBounds.map { case (b, f) => s"WHEN $expr < $b THEN '${f.alias}'" }
      .mkString("CASE ", " ", s" ELSE '${Annual.alias}' END")

  /** Per-series frequency: the delta of each series' first two ordered
    * rows (reference semantics, `__init__.py:402`) bucketed through
    * [[freqColumn]] — one partitioned window pass for ALL series.
    * Returns (seriesCol, freq). */
  def freqPerSeries(df: DataFrame, tsCol: String, seriesCol: String,
                    tieBreak: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(seriesCol))
      .orderBy((tsCol +: tieBreak).map(col): _*)
    df.withColumn("rn", row_number().over(w))
      .withColumn("delta_s",
        col(tsCol).cast("double") - lag(col(tsCol).cast("double"), 1).over(w))
      .filter(col("rn") === 2)
      .select(col(seriesCol), freqColumn(col("delta_s")).as("freq"))
  }

  /** SQL twin of [[freqPerSeries]] (DuckDB oracle): a `WITH d AS (...)
    * SELECT seriesCol, freq FROM d WHERE rn = 2` block. */
  def freqPerSeriesSql(table: String, tsCol: String, seriesCol: String,
                       tieBreak: Seq[String] = Nil): String = {
    val ord = (tsCol +: tieBreak).mkString(", ")
    val w = s"(PARTITION BY $seriesCol ORDER BY $ord)"
    s"""SELECT $seriesCol, ${freqCaseSql("delta_s")} AS freq FROM (
       |  SELECT $seriesCol,
       |         row_number() OVER $w AS rn,
       |         epoch_us($tsCol)/1000000.0 - lag(epoch_us($tsCol)/1000000.0,1) OVER $w AS delta_s
       |  FROM $table) WHERE rn = 2""".stripMargin
  }

  /** Strict reference parity: delta of the first two ordered timestamps
    * (`auto_ts/__init__.py:402`). */
  def inferFromFirstTwo(df: DataFrame, tsCol: String): Freq =
    ofFirstTwo(df.select(col(tsCol).cast("double"))
      .orderBy(col(tsCol)).limit(2).collect().map(_.getDouble(0)))

  /** [[inferFromFirstTwo]] over timestamps already on the driver: the
    * delta of the two earliest of `seconds` (epoch seconds, any order). */
  def ofFirstTwo(seconds: Array[Double]): Freq = {
    val two = seconds.sorted(Ordering.Double.TotalOrdering).take(2)
    require(two.length == 2, s"need >=2 rows to infer frequency")
    bucket(two(1) - two(0))
  }

  /** Robust variant: median of all consecutive deltas (one aggregate job,
    * scales to many series with groupBy(seriesId)). */
  def inferMedianDelta(df: DataFrame, tsCol: String): Freq = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy().orderBy(col(tsCol))
    val deltas = df.select(
      (col(tsCol).cast("double") - lag(col(tsCol).cast("double"), 1).over(w)).as("d"))
      .na.drop()
    val med = deltas.agg(percentile_approx(col("d"), lit(0.5), lit(10000)).as("m"))
      .head().getDouble(0)
    bucket(med)
  }
}
