package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.{TimeSeriesOps => TS, CleanOps, JoinOps, Encoders}
import graft.cv.ExpandingWindowSplit
import graft.infer.{DatetimeFormatInfer, FreqInfer}
import graft.queries.Det._

/** Second batch of oracle-checked queries — the SURVEY §2 operators not
  * covered by [[CoreQueries]]: projection/rename/filter cleanup (P2/P4/
  * P7/P9), exog alignment + inverse differencing + zero-variance +
  * seasonality (T3/T5/T7/T9), column zip + as-of join (J3/J5), profiling
  * and CV-score aggregates (A6/A8/A9), encoders/scalers (E1/E4),
  * datetime-format round-trip (S1 infer), CSV scan (S1), regex token
  * counting (§2.8). */
object CoreQueries2 {

  type Q = (SparkSession, String) => DataFrame

  private val W = "(PARTITION BY user_id ORDER BY ts, event_id)"

  // ---- P2: duplicate-column drop -----------------------------------------

  private def p2DedupeCols: Q = (s, d) => {
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name").as("dup"), col("c_acctbal").as("dup"))
    CleanOps.dedupeColumns(c)
  }

  private val p2Sql = "SELECT c_custkey, c_name AS dup FROM customer"

  // ---- P4: row NA-drop ----------------------------------------------------

  private def p4NaDrop: Q = (s, d) => {
    val e = Tables.events(s, d)
      .withColumn("v1", when(col("event_type") === "error", lit(null)).otherwise(col("value")))
      .withColumn("v2", when(col("event_type") === "signup", lit(null)).otherwise(col("value")))
    e.na.drop(Seq("v1", "v2"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
  }

  private val p4Sql =
    """SELECT event_type, count(*) AS n FROM events
      |WHERE event_type NOT IN ('error', 'signup') GROUP BY event_type""".stripMargin

  // ---- P7: column rename (Prophet ds/y contract) ---------------------------

  private def p7Rename: Q = (s, d) => {
    val m = TS.resampleMean(Tables.orders(s, d), "o_orderdate", "month", Seq("o_totalprice"))
    m.withColumnRenamed("ts_bucket", "ds")
      .withColumnRenamed("o_totalprice_mean", "y")
      .select(tsStr(col("ds")).as("ds"), dround(col("y"), 4).as("y"))
  }

  private val p7Sql =
    s"""SELECT ${tsStrSql("date_trunc('month', o_orderdate)")} AS ds,
       | ${droundSql("avg(o_totalprice)", 4)} AS y
       |FROM orders GROUP BY date_trunc('month', o_orderdate)""".stripMargin

  // ---- P9: predicate filter (weekend mask) ----------------------------------

  private def p9Filter: Q = (s, d) => {
    val e = Tables.events(s, d)
    e.filter(weekday(col("ts")) >= 5 && col("value") > 10)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total"))
  }

  private val p9Sql =
    s"""SELECT event_type, count(*) AS n, ${moneySumSql("value")} AS total
       |FROM events WHERE isodow(ts) - 1 >= 5 AND value > 10
       |GROUP BY event_type""".stripMargin

  // ---- T3: exogenous lag-alignment ------------------------------------------

  private def t3ExogAlign: Q = (s, d) => {
    val e = Tables.events(s, d)
      .withColumn("x", length(col("event_type")).cast("double"))
    TS.addLags(e, Seq("x"), 1, "ts", Seq("user_id"), Seq("event_id"))
      .na.drop(Seq("x_lag1"))
      .select(col("event_id"), col("user_id"), col("x_lag1").cast("long").as("x_lag1"))
  }

  private val t3Sql =
    s"""SELECT event_id, user_id, CAST(x_lag1 AS BIGINT) AS x_lag1 FROM (
       |  SELECT event_id, user_id,
       |         lag(CAST(length(event_type) AS DOUBLE), 1) OVER $W AS x_lag1
       |  FROM events) WHERE x_lag1 IS NOT NULL""".stripMargin

  // ---- T5: inverse differencing (per-series restore) -------------------------

  private def t5Restore: Q = (s, d) => {
    val e = Tables.events(s, d)
    val diffed = TS.diff(e, "value", 1, "ts", Seq("user_id"), Seq("event_id"))
    TS.cumsumRestorePerSeries(diffed, "value_diff", "value", "ts",
        Seq("user_id"), Seq("event_id"))
      .select(col("event_id"), col("user_id"), dround(col("restored"), 4).as("restored"))
  }

  private val t5RestoreSql =
    s"""WITH dd AS (
       |  SELECT event_id, user_id, ts,  value,
       |         value - lag(value, 1) OVER $W AS vd
       |  FROM events)
       |SELECT event_id, user_id,
       | ${droundSql("first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + sum(coalesce(vd, 0)) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 4)} AS restored
       |FROM dd""".stripMargin

  // ---- T7: zero-variance column drop -----------------------------------------

  private def t7ZeroVar: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    val e = Tables.events(s, d)
      .withColumn("const1", lit(7.0))
      .withColumn("const2", lit(0.0))
    val candidates = Seq("value", "const1", "const2")
    val kept = CleanOps.dropZeroVariance(e, candidates)
      .columns.filter(candidates.contains).sorted
    kept.toSeq.toDF("kept_col")
  }

  private val t7Sql =
    """SELECT kept_col FROM (
      |  SELECT 'value' AS kept_col, stddev_samp(value) AS sd FROM events
      |  UNION ALL SELECT 'const1', stddev_samp(7.0) FROM events
      |  UNION ALL SELECT 'const2', stddev_samp(0.0) FROM events)
      |WHERE sd IS NOT NULL AND sd <> 0 ORDER BY kept_col""".stripMargin

  // ---- T9: seasonal-period imputation ------------------------------------------

  /** T8's per-series freq alias mapped through the reference's seasonal
    * table (`auto_ts/__init__.py:489-510`); the CASE is generated from
    * [[FreqInfer]]'s Freq objects so code and oracle share one table. */
  private val freqTable: Seq[(String, Int)] = Seq(
    FreqInfer.Minutely, FreqInfer.Hourly, FreqInfer.Daily, FreqInfer.Weekly,
    FreqInfer.Monthly, FreqInfer.Quarterly, FreqInfer.SemiAnnual, FreqInfer.Annual)
    .map(f => f.alias -> f.seasonalPeriod)

  private def t9Seasonality: Q = (s, d) => {
    val freq = FreqInfer.freqPerSeries(Tables.events(s, d), "ts", "user_id", Seq("event_id"))
    val m = freqTable.foldLeft(lit(null).cast("int")) { case (acc, (alias, p)) =>
      when(col("freq") === alias, lit(p)).otherwise(acc)
    }
    freq.withColumn("m", m.cast("long"))
  }

  private val t9Sql = {
    val cases = freqTable.map { case (a, p) => s"WHEN '$a' THEN $p" }.mkString(" ")
    s"""WITH f AS (
       |${FreqInfer.freqPerSeriesSql("events", "ts", "user_id", Seq("event_id"))})
       |SELECT user_id, freq, CAST(CASE freq $cases END AS BIGINT) AS m FROM f""".stripMargin
  }

  // ---- J3: column zip (index-aligned concat) ------------------------------------

  private def j3Zip: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val a = o.select(col("o_orderkey"), col("o_totalprice"))
    val b = o.select(col("o_orderkey"), col("o_orderdate"))
    a.join(b, Seq("o_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice"),
              tsStr(col("o_orderdate")).as("o_date"))
  }

  private val j3Sql =
    s"""SELECT a.o_orderkey, a.o_totalprice, ${tsStrSql("b.o_orderdate")} AS o_date
       |FROM orders a JOIN orders b ON a.o_orderkey = b.o_orderkey""".stripMargin

  // ---- J5: as-of join --------------------------------------------------------------

  /** Each event joined as-of (backward) to the user's latest purchase at
    * or before its timestamp. */
  private def j5Asof: Q = (s, d) => {
    val e = Tables.events(s, d)
    val purchases = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pvalue"))
    JoinOps.asofJoin(e, purchases, "ts", "ts", Seq("user_id"), Seq("pvalue"))
      .select(col("event_id"), col("user_id"),
              dround(col("asof_pvalue"), 4).as("last_purchase_value"))
  }

  private val j5Sql =
    s"""WITH p AS (
       |  SELECT user_id, ts, max(value) AS pvalue FROM events
       |  WHERE event_type = 'purchase' GROUP BY user_id, ts)
       |SELECT e.event_id, e.user_id,
       | ${droundSql("p.pvalue", 4)} AS last_purchase_value
       |FROM events e ASOF LEFT JOIN p
       |  ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin

  // ---- J6: second star shape over part/supplier ----------------------------------

  /** Revenue by part brand and supplier nation — the other star arm
    * (lineitem ⋈ part ⋈ supplier ⋈ nation), both dims broadcast. */
  private def j6PartStar: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val p  = Tables.part(s, d)
    val su = Tables.supplier(s, d)
    val n  = Tables.nation(s, d)
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("p_brand"), col("n_name"))
      .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
           count(lit(1)).as("n_items"))
  }

  private val j6Sql =
    s"""SELECT p_brand, n_name,
       | ${moneySumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       | count(*) AS n_items
       |FROM lineitem
       |JOIN part     ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation   ON s_nationkey = n_nationkey
       |GROUP BY p_brand, n_name""".stripMargin

  // ---- A6: column profiling ---------------------------------------------------------

  private def a6Profile: Q = (s, d) =>
    CleanOps.profileColumns(Tables.customer(s, d), Seq("c_mktsegment", "c_nationkey"))

  private val a6Sql = {
    def part(c: String) =
      s"""SELECT '$c' AS col_name,
         |  (SELECT count(*) FROM customer WHERE $c IS NULL) AS n_nulls,
         |  (SELECT count(DISTINCT $c) FROM customer) AS n_distinct,
         |  max(CASE WHEN rk = 1 THEN value END) AS top1,
         |  max(CASE WHEN rk = 1 THEN cnt END) AS top1_n,
         |  max(CASE WHEN rk = 2 THEN value END) AS top2,
         |  max(CASE WHEN rk = 2 THEN cnt END) AS top2_n
         |FROM (
         |  SELECT CAST($c AS VARCHAR) AS value, count(*) AS cnt,
         |         row_number() OVER (ORDER BY count(*) DESC, CAST($c AS VARCHAR) ASC) AS rk
         |  FROM customer GROUP BY CAST($c AS VARCHAR))""".stripMargin
    Seq("c_mktsegment", "c_nationkey").map(part).mkString("\nUNION ALL\n")
  }

  // ---- A8/A9: mean + weighted CV score aggregates --------------------------------------

  /** Per-user expanding-window CV with a lag-1 forecaster: rmse per fold,
    * then mean (A8) and index-weighted mean (A9, `utils/val.py:108`). */
  private def a8CvScores: Q = (s, d) => {
    val e = Tables.events(s, d)
    val w = TS.seriesWindow("ts", Seq("user_id"), Seq("event_id"))
    val withPred = e.withColumn("yhat", lag(col("value"), 1).over(w))
    val folded = ExpandingWindowSplit.assignFolds(withPred, "ts", Seq("user_id"), 3, 20, Seq("event_id"))
    val perFold = folded
      .filter(col("fold") >= 1 && col("yhat").isNotNull)
      .groupBy(col("user_id"), col("fold"))
      .agg(sqrt(avg(pow(col("value") - col("yhat"), 2))).as("rmse"))
    perFold.groupBy(col("user_id"))
      .agg(dround(avg(col("rmse")), 6).as("mean_cv_rmse"),
           dround(sum(col("fold") * col("rmse")) / sum(col("fold")), 6).as("weighted_cv_rmse"))
  }

  private val a8Sql =
    s"""WITH p AS (
       |  SELECT user_id, ts, event_id, value, lag(value,1) OVER $W AS yhat
       |  FROM events),
       |f AS (
       |  SELECT user_id, value, yhat,
       |         row_number() OVER $W AS rn,
       |         count(*) OVER (PARTITION BY user_id) AS n
       |  FROM p),
       |g AS (
       |  SELECT user_id, value, yhat,
       |    CASE WHEN 3 - floor((n - rn) / 20.0) BETWEEN 1 AND 3
       |         THEN CAST(3 - floor((n - rn) / 20.0) AS BIGINT) ELSE 0 END AS fold
       |  FROM f),
       |t AS (
       |  SELECT user_id, fold, sqrt(avg((value - yhat)*(value - yhat))) AS rmse
       |  FROM g WHERE fold >= 1 AND yhat IS NOT NULL GROUP BY user_id, fold)
       |SELECT user_id,
       | ${droundSql("avg(rmse)", 6)} AS mean_cv_rmse,
       | ${droundSql("sum(fold * rmse) / sum(fold)", 6)} AS weighted_cv_rmse
       |FROM t GROUP BY user_id""".stripMargin

  // ---- E1: label encoding ---------------------------------------------------------------

  private def e1LabelEncode: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val dict = Encoders.labelDictionary(c, "c_mktsegment")
    Encoders.labelEncode(c, "c_mktsegment", dict, "seg_code")
      .select(col("c_custkey"), col("c_mktsegment"), col("seg_code").cast("long").as("seg_code"))
  }

  private val e1Sql =
    """SELECT c_custkey, c_mktsegment,
      | CAST(dense_rank() OVER (ORDER BY c_mktsegment) - 1 AS BIGINT) AS seg_code
      |FROM customer""".stripMargin

  // ---- E3: spark.ml column-transformer pipeline ----------------------------------------------

  /** The reference's eval-built sklearn ColumnTransformer
    * (`ml_models.py:463-568`) as a REAL `ml.Pipeline`: StringIndexer
    * (frequencyDesc, ties alphabetical — deterministic) + VectorAssembler
    * + MaxAbsScaler; the vector is unpacked back to columns so the result
    * stays oracle-checkable. */
  private def e3Pipeline: Q = (s, d) => {
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.ml.feature.{StringIndexer, VectorAssembler, MaxAbsScaler}
    import org.apache.spark.ml.functions.vector_to_array
    val c = Tables.customer(s, d)
    val pipe = new Pipeline().setStages(Array(
      new StringIndexer().setInputCol("c_mktsegment").setOutputCol("seg_idx")
        .setStringOrderType("frequencyDesc"),
      new VectorAssembler().setInputCols(Array("c_acctbal")).setOutputCol("raw"),
      new MaxAbsScaler().setInputCol("raw").setOutputCol("scaled")))
    pipe.fit(c).transform(c)
      .select(col("c_custkey"), col("seg_idx").cast("long").as("seg_idx"),
        dround(element_at(vector_to_array(col("scaled")), 1), 6).as("scaled_bal"))
  }

  private val e3Sql =
    s"""WITH cnt AS (
       |  SELECT c_mktsegment, count(*) AS n FROM customer GROUP BY c_mktsegment),
       |idx AS (
       |  SELECT c_mktsegment,
       |         row_number() OVER (ORDER BY n DESC, c_mktsegment ASC) - 1 AS seg_idx
       |  FROM cnt),
       |mx AS (SELECT max(abs(c_acctbal)) AS m FROM customer)
       |SELECT c_custkey, CAST(seg_idx AS BIGINT) AS seg_idx,
       | ${droundSql("c_acctbal / mx.m", 6)} AS scaled_bal
       |FROM customer JOIN idx USING (c_mktsegment) CROSS JOIN mx""".stripMargin

  // ---- E4: scaler family -------------------------------------------------------------------

  private def e4Scalers: Q = (s, d) =>
    Encoders.scaled(Tables.events(s, d), "value", Seq("user_id"))
      .select(col("event_id"), col("user_id"),
        dround(col("value_std"), 6).as("std_scaled"),
        dround(col("value_minmax"), 6).as("minmax_scaled"),
        dround(col("value_maxabs"), 6).as("maxabs_scaled"))

  private val e4Sql =
    s"""SELECT event_id, user_id,
       | ${droundSql("(value - avg(value) OVER u) / stddev_samp(value) OVER u", 6)} AS std_scaled,
       | ${droundSql("(value - min(value) OVER u) / (max(value) OVER u - min(value) OVER u)", 6)} AS minmax_scaled,
       | ${droundSql("value / max(abs(value)) OVER u", 6)} AS maxabs_scaled
       |FROM events WINDOW u AS (PARTITION BY user_id)""".stripMargin

  // ---- S1/i2: datetime format inference round-trip -------------------------------------------

  private def i2DatetimeParse: Q = (s, d) => {
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"),
              date_format(col("o_orderdate"), "MM/dd/yyyy HH:mm").as("sdt"))
    DatetimeFormatInfer.parseTimestamp(o, "sdt", "parsed")
      .select(col("o_orderkey"), tsStr(col("parsed")).as("parsed_ts"))
  }

  private val i2Sql =
    s"""SELECT o_orderkey, ${tsStrSql("o_orderdate")} AS parsed_ts FROM orders""".stripMargin

  /** Multi-format round trip (separate from i2 so that query keeps its
    * recorded single-format cost): the same timestamp rendered in seven
    * distinct string vocabularies (24h slash, 12h AM/PM month-name,
    * ISO-T, compact `%d%b%Y`, time-only, numeric-offset `%z`, and the
    * `%Z%z` zone-name leg), each independently run through format
    * INFERENCE + parse — every leg must land back on the original value
    * (day-truncated for the date-only leg). Two-digit-year formats are
    * inference-covered in CoreOpsSpec but excluded here: the `yy` pivot
    * cannot round-trip 1990s data. */
  private def i3DatetimeMulti: Q = (s, d) => {
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"),
              date_format(col("o_orderdate"), "MM/dd/yyyy HH:mm").as("s1"),
              date_format(col("o_orderdate"), "dd-MMM-yyyy hh:mm:ss a").as("s2"),
              date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss").as("s3"),
              date_format(col("o_orderdate"), "ddMMMyyyy").as("s4"),
              // time-only (is_time family, `utils/etl.py:359-362`):
              // a varying wall-clock time derived from the key
              date_format(timestamp_seconds(col("o_orderkey") % 86400), "HH:mm:ss").as("s5"),
              // numeric-offset leg (`'%d %b %Y %T %z'`, r9 sweep): UTC
              // session renders +0000; the parse must honor the offset
              date_format(col("o_orderdate"), "dd MMM yyyy HH:mm:ss Z").as("s6"),
              // zone-NAME leg (`'%Y-%m-%d %H:%M:%S %Z%z'`, utils/etl.py:
              // 383): name validated+stripped, instant from the offset
              concat(date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"),
                     lit(" UTC"), date_format(col("o_orderdate"), "Z")).as("s7"))
    val parsed = Seq("s1", "s2", "s3", "s4", "s5", "s6", "s7").foldLeft(o) { (df, c) =>
      DatetimeFormatInfer.parseTimestamp(df, c, s"p_$c")
    }
    parsed.select(col("o_orderkey"),
      tsStr(col("p_s1")).as("parsed_24h"),
      tsStr(col("p_s2")).as("parsed_ampm"),
      tsStr(col("p_s3")).as("parsed_iso"),
      tsStr(col("p_s4")).as("parsed_compact"),
      tsStr(col("p_s5")).as("parsed_time"), // anchored on the epoch date
      tsStr(col("p_s6")).as("parsed_offset"),
      tsStr(col("p_s7")).as("parsed_zname"))
  }

  private val i3Sql =
    s"""SELECT o_orderkey,
       | ${tsStrSql("o_orderdate")} AS parsed_24h,
       | ${tsStrSql("o_orderdate")} AS parsed_ampm,
       | ${tsStrSql("o_orderdate")} AS parsed_iso,
       | ${tsStrSql("date_trunc('day', o_orderdate)")} AS parsed_compact,
       | ${tsStrSql("TIMESTAMP '1970-01-01' + (o_orderkey % 86400) * INTERVAL 1 SECOND")} AS parsed_time,
       | ${tsStrSql("o_orderdate")} AS parsed_offset,
       | ${tsStrSql("o_orderdate")} AS parsed_zname
       |FROM orders""".stripMargin

  // ---- S1: CSV scan with datetime parsing ------------------------------------------------------

  /** Path for a once-per-source materialized sink, keyed on the source
    * parquet's (mtime, length) fingerprint — a source regenerated in
    * place under the same directory name, or two sf dirs sharing a
    * basename, can never alias to a stale sink (they fingerprint to
    * different paths and trigger a fresh write). The one-time write is
    * paid by whichever pass arrives first; Bench's rotated min-of-3
    * keeps it out of the recorded timing. */
  private def sinkPath(kind: String, d: String, srcTable: String): String = {
    val f = new java.io.File(d, s"$srcTable.parquet")
    // for a parquet DIRECTORY, the dir's own mtime only changes when
    // entries are added/removed — fold every contained file's
    // (name, mtime, length) in so an in-place rewrite of the same part
    // files also changes the fingerprint
    def fpOf(x: java.io.File): Long =
      if (x.isDirectory)
        // listFiles is null if the dir vanishes between check and listing
        // (concurrent regeneration) — an empty fingerprint is fine, the
        // next call sees the new content and re-materializes
        Option(x.listFiles()).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName).foldLeft(x.getName.hashCode.toLong) {
            (acc, c) => acc * 1000003L ^ fpOf(c)
          }
      else x.getName.hashCode.toLong ^ x.lastModified() ^ (x.length() * 1000003L)
    s"target/$kind/${new java.io.File(d).getName}-${java.lang.Long.toHexString(fpOf(f))}"
  }

  /** The orders columns the S1/S2 scans round-trip, with the order date
    * as a plain string; read only when a one-time copy is written. */
  private def ordersScanCopy(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"), col("o_orderstatus"))
      .withColumn("o_orderdate", date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))

  /** Round-trips orders through a pipe-separated CSV (written under
    * target/) and reads it back via the S1 loader (header, custom sep,
    * dedupe, datetime parse) — the oracle is the original parquet table. */
  private def s1CsvScan: Q = (s, d) => {
    val path = sinkPath("csv_scan", d, "orders")
    // the CSV copy of the testdata is materialized once per source
    // fingerprint — the operator under test is the SCAN + datetime
    // parse, not the export
    if (!new java.io.File(s"$path/_SUCCESS").isFile)
      ordersScanCopy(s, d).coalesce(4).write.mode("overwrite")
        .option("header", "true").option("sep", "|").csv(path)
    DatetimeFormatInfer.loadCsv(s, path, "o_orderdate", "|")
      .select(col("o_orderkey"), tsStr(col("o_orderdate")).as("o_date"),
              col("o_totalprice"), col("o_orderstatus"))
  }

  private val s1Sql =
    s"""SELECT o_orderkey, ${tsStrSql("o_orderdate")} AS o_date,
       | o_totalprice, o_orderstatus FROM orders""".stripMargin

  // ---- S1 variant: JSON lines scan (beyond the reference's CSV) ---------------

  /** JSON-lines round-trip: same contract as the CSV scan — materialize
    * once per sf dir, then the measured operator is the scan + schema
    * application + datetime parse. */
  private def s2JsonScan: Q = (s, d) => {
    val path = sinkPath("json_scan", d, "orders")
    if (!new java.io.File(s"$path/_SUCCESS").isFile)
      ordersScanCopy(s, d).coalesce(4).write.mode("overwrite").json(path)
    s.read.schema("o_orderkey BIGINT, o_orderdate STRING, o_totalprice DOUBLE, o_orderstatus STRING")
      .json(path)
      .select(col("o_orderkey"),
              tsStr(to_timestamp(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss")).as("o_date"),
              col("o_totalprice"), col("o_orderstatus"))
  }

  private val s2JsonSql =
    s"""SELECT o_orderkey, ${tsStrSql("o_orderdate")} AS o_date,
       | o_totalprice, o_orderstatus FROM orders""".stripMargin

  // ---- S3: partitioned parquet sink + pruned re-read --------------------------

  /** Partitioned-sink round-trip: events written `partitionBy(event_type)`
    * once per sf dir, then the measured operator is the PRUNED read —
    * the filter on the partition key resolves at planning time
    * (`PartitionFilters`, asserted in PlanAuditSpec), so only the
    * `purchase` directory is listed and scanned. */
  private def s3PartScan: Q = (s, d) => {
    val path = sinkPath("part_sink", d, "events")
    if (!new java.io.File(s"$path/_SUCCESS").isFile)
      graft.sources.PartitionedSink.write(Tables.events(s, d), "event_type", path)
    graft.sources.PartitionedSink.read(s, path)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), dround(sum(col("value")), 4).as("total_value"))
      .filter(col("n") >= 3)
  }

  private val s3PartSql =
    s"""SELECT user_id, count(*) AS n, ${droundSql("sum(value)", 4)} AS total_value
       |FROM events WHERE event_type = 'purchase'
       |GROUP BY user_id HAVING count(*) >= 3""".stripMargin

  // ---- §2.8: regex (BPE-ish) token counting -----------------------------------------------------

  private val tokPattern = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"

  private def x4TokenCount: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(tokPattern), lit(0))).cast("long").as("n_tok"))

  private val x4Sql =
    s"""SELECT doc_id,
       | CAST(len(regexp_extract_all(text, '$tokPattern')) AS BIGINT) AS n_tok
       |FROM documents""".stripMargin

  // ---- E6: deterministic CountVectorizer bag-of-words -------------------------

  /** The ML path's NLP vectorization (`ml_models.py:22,470` — see
    * [[graft.models.NlpFeatures]]): a frozen top-10 vocabulary (count
    * desc, token asc) over the documents corpus, then the REAL
    * `ml.feature.CountVectorizerModel` transform, emitted long-form as
    * (doc_id, term, cnt>0). Hash-checks both the vocabulary selection and
    * the per-document term counts the GBT feature vectors are built
    * from. */
  private def e6Bow: Q = (s, d) => {
    import graft.models.NlpFeatures
    val docs = Tables.documents(s, d)
    val vocab = NlpFeatures.vocabulary(docs, "text", 10)
    val vocabArr = array(vocab.toSeq.map(lit): _*)
    NlpFeatures.withBow(docs, "text", vocab, "bow")
      .select(col("doc_id"),
        posexplode(org.apache.spark.ml.functions.vector_to_array(col("bow"))))
      .filter(col("col") > 0.0)
      .select(col("doc_id"), element_at(vocabArr, col("pos") + 1).as("term"),
              col("col").cast("long").as("cnt"))
  }

  private val e6Sql =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '${graft.models.NlpFeatures.TokenPattern}')) AS tok
       |  FROM documents),
       |c AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
       |v AS (SELECT tok FROM c ORDER BY cnt DESC, tok ASC LIMIT 10)
       |SELECT doc_id, tok AS term, count(*) AS cnt
       |FROM toks JOIN v USING (tok)
       |GROUP BY doc_id, tok""".stripMargin

  // =====================  registry  =====================

  val queries: Map[String, Q] = Map(
    "p2_dedupe_cols" -> p2DedupeCols,
    "p4_nadrop"      -> p4NaDrop,
    "p7_rename"      -> p7Rename,
    "p9_filter"      -> p9Filter,
    "t3_exog_align"  -> t3ExogAlign,
    "t5_restore"     -> t5Restore,
    "t7_zerovar"     -> t7ZeroVar,
    "t9_seasonality" -> t9Seasonality,
    "j3_zip"         -> j3Zip,
    "j5_asof"        -> j5Asof,
    "j6_part_star"   -> j6PartStar,
    "a6_profile"     -> a6Profile,
    "a8_cv_scores"   -> a8CvScores,
    "e1_label_encode"-> e1LabelEncode,
    "e3_pipeline"    -> e3Pipeline,
    "e4_scalers"     -> e4Scalers,
    "e6_bow"         -> e6Bow,
    "i2_datetime_parse" -> i2DatetimeParse,
    "i3_datetime_multi" -> i3DatetimeMulti,
    "s1_csv_scan"    -> s1CsvScan,
    "s2_json_scan"   -> s2JsonScan,
    "s3_part_scan"   -> s3PartScan,
    "x4_token_count" -> x4TokenCount
  )

  val oracle: Map[String, String] = Map(
    "p2_dedupe_cols" -> p2Sql,
    "p4_nadrop"      -> p4Sql,
    "p7_rename"      -> p7Sql,
    "p9_filter"      -> p9Sql,
    "t3_exog_align"  -> t3Sql,
    "t5_restore"     -> t5RestoreSql,
    "t7_zerovar"     -> t7Sql,
    "t9_seasonality" -> t9Sql,
    "j3_zip"         -> j3Sql,
    "j5_asof"        -> j5Sql,
    "j6_part_star"   -> j6Sql,
    "a6_profile"     -> a6Sql,
    "a8_cv_scores"   -> a8Sql,
    "e1_label_encode"-> e1Sql,
    "e3_pipeline"    -> e3Sql,
    "e4_scalers"     -> e4Sql,
    "e6_bow"         -> e6Sql,
    "i2_datetime_parse" -> i2Sql,
    "i3_datetime_multi" -> i3Sql,
    "s1_csv_scan"    -> s1Sql,
    "s2_json_scan"   -> s2JsonSql,
    "s3_part_scan"   -> s3PartSql,
    "x4_token_count" -> x4Sql
  )
}
