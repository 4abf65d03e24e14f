package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Projection / filtering / cleaning operators (SURVEY §2.2).
  * References: `auto_ts/utils/etl.py:87-94` (dedupe columns),
  * `models/build_ml.py:959-960` (low-information drop),
  * `models/build_ml.py:715-719` (missing flags),
  * `utils/etl.py:448-503` (numeric downcasting). */
object CleanOps {

  /** P1 — target-first column ordering (`models/build_ml.py:416-427`).
    * Column order is part of the prediction contract. */
  def orderColumns(df: DataFrame, target: String, preds: Seq[String]): DataFrame =
    df.select((target +: preds).map(col): _*)

  /** P2 — drop duplicated column names keeping the first occurrence
    * (`utils/etl.py:87-94`; case-sensitive like pandas `duplicated()`).
    * Positional select via a unique temporary naming, since duplicate
    * names are ambiguous to resolve by name. Schema-only, no job. */
  def dedupeColumns(df: DataFrame): DataFrame = {
    val names = df.columns
    val seen = scala.collection.mutable.HashSet[String]()
    val keep = names.zipWithIndex.filter { case (c, _) => seen.add(c) }
    if (keep.length == names.length) df
    else {
      val tmp = names.indices.map(i => s"__c$i")
      df.toDF(tmp: _*)
        .select(keep.map { case (_, i) => col(s"__c$i") }.toSeq: _*)
        .toDF(keep.map(_._1).toSeq: _*)
    }
  }

  /** Per-column (distinctCount, nullFraction) in ONE aggregate pass —
    * the stats behind P3 and the column classifier. */
  def columnStats(df: DataFrame, cols: Seq[String]): Map[String, (Long, Double)] = {
    val aggs = cols.flatMap { c =>
      Seq(countDistinct(col(c)).as(s"${c}__nd"),
          (count(when(col(c).isNull, lit(1))) / count(lit(1))).as(s"${c}__nf"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.map { c =>
      c -> (row.getAs[Long](s"${c}__nd"), row.getAs[Double](s"${c}__nf"))
    }.toMap
  }

  /** P3 — drop columns with ≤1 distinct value or ≥`nullFracLimit` nulls
    * (`models/build_ml.py:959-960`). */
  def dropLowInfoColumns(df: DataFrame, nullFracLimit: Double = 0.90): DataFrame = {
    val stats = columnStats(df, df.columns.toSeq)
    val keep = df.columns.filter { c =>
      val (nd, nf) = stats(c); nd > 1 && nf < nullFracLimit
    }
    df.select(keep.map(col).toSeq: _*)
  }

  /** T7 — drop numeric columns whose standard deviation is 0 (or null —
    * single row / all-null), `models/build_ml.py:844-845`. One aggregate
    * pass over all candidate columns. */
  def dropZeroVariance(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.map(c => stddev_samp(col(c).cast("double")).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val drop = cols.filter { c =>
      val sd = Option(row.getAs[java.lang.Double](c)); sd.forall(_ == 0.0)
    }
    df.drop(drop: _*)
  }

  /** A6 — per-column profile (`marthas_columns`, `build_ml.py:914-932`):
    * null count, distinct count, top-2 values by (count desc, value asc).
    * The rank window runs on the per-column VALUE COUNTS — bounded by
    * cardinality, not table size. */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = cols.map { c =>
      val counts = df.groupBy(col(c).cast("string").as("value"))
        .agg(count(lit(1)).as("cnt"))
      val ranked = counts.withColumn("rk",
        row_number().over(Window.orderBy(col("cnt").desc, col("value").asc)))
      val top = ranked.filter(col("rk") <= 2).agg(
        max(when(col("rk") === 1, col("value"))).as("top1"),
        max(when(col("rk") === 1, col("cnt"))).as("top1_n"),
        max(when(col("rk") === 2, col("value"))).as("top2"),
        max(when(col("rk") === 2, col("cnt"))).as("top2_n"))
      val base = df.agg(
        count(when(col(c).isNull, lit(1))).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"))
      base.join(top)
        .select(lit(c).as("col_name"), col("n_nulls"), col("n_distinct"),
                col("top1"), col("top1_n"), col("top2"), col("top2_n"))
    }
    parts.reduce(_ unionByName _)
  }

  /** P6 — `<col>_Missing_Flag` = 1 where null (`models/build_ml.py:715-719`). */
  def missingFlags(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      d.withColumn(s"${c}_Missing_Flag", when(col(c).isNull, 1).otherwise(0))
    }

  /** J4 — list difference used pervasively as column anti-projection
    * (`utils/etl.py:241-246`). */
  def leftSubtract(left: Seq[String], right: Seq[String]): Seq[String] = {
    val r = right.toSet; left.filterNot(r)
  }

  /** P8 — numeric downcast decision (`reduce_mem_usage`,
    * `utils/etl.py:448-503`): narrowest integer/float type containing the
    * observed min/max. One min/max aggregate over all numeric columns;
    * returns (column -> chosen DataType). */
  def downcastDecision(df: DataFrame): Map[String, DataType] = {
    val numeric = df.schema.fields.collect {
      case f if Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType) => (f.name, true)
      case f if f.dataType == DoubleType || f.dataType == FloatType => (f.name, false)
    }
    if (numeric.isEmpty) return Map.empty
    val aggs = numeric.flatMap { case (c, _) =>
      Seq(min(col(c).cast(DoubleType)).as(s"${c}__min"),
          max(col(c).cast(DoubleType)).as(s"${c}__max"))
    }
    val row = df.agg(aggs.head, aggs.tail.toSeq: _*).head()
    numeric.map { case (c, isInt) =>
      val lo = Option(row.getAs[java.lang.Double](s"${c}__min")).map(_.toDouble).getOrElse(0.0)
      val hi = Option(row.getAs[java.lang.Double](s"${c}__max")).map(_.toDouble).getOrElse(0.0)
      val t: DataType =
        if (isInt) {
          if (lo >= Byte.MinValue && hi <= Byte.MaxValue) ByteType
          else if (lo >= Short.MinValue && hi <= Short.MaxValue) ShortType
          else if (lo >= Int.MinValue && hi <= Int.MaxValue) IntegerType
          else LongType
        } else {
          if (lo >= Float.MinValue.toDouble && hi <= Float.MaxValue.toDouble) FloatType
          else DoubleType
        }
      c -> t
    }.toMap
  }

  /** P8 — apply a downcast decision. */
  def applyDowncast(df: DataFrame, decision: Map[String, DataType]): DataFrame =
    decision.foldLeft(df) { case (d, (c, t)) => d.withColumn(c, col(c).cast(t)) }

  /** A5 — min/max of a column plus the key of the extreme rows
    * (`find_max_min_value_in_a_dataframe`, `utils/etl.py:319-327`).
    * Tie-break: smallest key (deterministic).
    *
    * Numeric keys: ONE aggregate via min/max_by (the argmax tie-break
    * negates the key inside the ordering struct — numeric-only trick).
    * Non-numeric keys (string/timestamp): two aggregates — extremes
    * first, then a conditional min over the matching rows. Still no sort
    * and both scans are full map-side parallel. */
  def minMaxWithKeys(df: DataFrame, valueCol: String, keyCol: String): DataFrame = {
    val keyIsNumeric = df.schema(keyCol).dataType.isInstanceOf[NumericType]
    if (keyIsNumeric)
      df.agg(
        min(col(valueCol)).as("min_value"),
        max(col(valueCol)).as("max_value"),
        min_by(col(keyCol), struct(col(valueCol), col(keyCol))).as("argmin_key"),
        max_by(col(keyCol), struct(col(valueCol), col(keyCol).unary_-)).as("argmax_key")
      )
    else {
      val mm = df.agg(min(col(valueCol)).as("min_value"),
                      max(col(valueCol)).as("max_value"))
      df.join(broadcast(mm))
        .agg(
          first(col("min_value")).as("min_value"),
          first(col("max_value")).as("max_value"),
          min(when(col(valueCol) === col("min_value"), col(keyCol))).as("argmin_key"),
          min(when(col(valueCol) === col("max_value"), col(keyCol))).as("argmax_key"))
    }
  }
}
