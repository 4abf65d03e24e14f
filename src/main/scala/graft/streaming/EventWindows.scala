package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming showcase (SURVEY §7.1 step 5): windowed event
  * aggregation the batch reference lacks. The SAME aggregation runs in
  * batch (oracle-checkable) and as a streaming query with watermarking —
  * the logical plan is shared, which is the point: `readStream` on the
  * same source + identical transforms. */
object EventWindows {

  /** Tumbling-window aggregation, batch form. */
  def tumblingBatch(events: DataFrame, windowLen: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
              col("n"), col("total_value"))

  /** Sliding-window aggregation, batch form: each event lands in
    * `windowLen / slide` overlapping windows (Spark's `window` generator
    * replicates rows map-side — no extra shuffle vs tumbling; state per
    * key grows by the same factor, bounded by the watermark in the
    * streaming twin). */
  def slidingBatch(events: DataFrame, windowLen: String = "1 hour",
                   slide: String = "30 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
              col("n"), col("total_value"))

  /** The same aggregation as a streaming query over the parquet source,
    * with a watermark bounding state. Returns the completed in-memory
    * result table (processAllAvailable drains the source synchronously —
    * local smoke harness for what runs against Kafka/files in prod). */
  def tumblingStreaming(spark: SparkSession, sfDir: String,
                        windowLen: String = "1 hour"): DataFrame = {
    graft.Tables.requireNanosAsLong(spark)
    // the file stream source needs a DIRECTORY; select just the events
    // table out of the shared sf dir with a glob filter
    val stream = graft.Tables.normalizeEventTs(spark.readStream
      .schema(graft.Tables.parquet(spark, s"$sfDir/events.parquet").schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir))
    val agg = stream
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
              col("n"), col("total_value"))
    val name = s"events_windows_${System.nanoTime()}"
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  /** Sessionization-style stateful aggregation: per-user event counts and
    * value totals in activity sessions split on `gapMinutes` of silence —
    * the mapGroupsWithState-class computation, expressed here in batch
    * form with a window (session id = cumulative count of gap-exceeding
    * steps). Deterministic and oracle-checkable. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("gap_s", col("ts").cast("double") - lag(col("ts").cast("double"), 1).over(w))
      .withColumn("new_session",
        when(col("gap_s").isNull || col("gap_s") > gapMinutes * 60, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(wCum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"),
           min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
  }
}
