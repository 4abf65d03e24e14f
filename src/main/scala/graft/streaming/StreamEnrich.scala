package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Stream-static enrichment: join an unbounded event stream against a
  * static dimension table, then aggregate. The canonical "enrich the
  * firehose" shape — Spark plans the static side as a broadcast hash
  * join per micro-batch, so the stream side never shuffles for the join
  * (state exists only in the aggregation, bounded by the grouping-key
  * cardinality — one row per nation, not by a watermark).
  * The batch form shares the logical plan and is oracle-checkable.
  *
  * The reference has no streams at all (batch pandas only —
  * `auto_ts/utils/etl.py:17-61`); this is north-star scale surface. */
object StreamEnrich {

  /** Batch form: events ⋈ customer (broadcast) → per-nation totals. */
  def enrichBatch(events: DataFrame, customer: DataFrame): DataFrame =
    events
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
            events("user_id") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))

  /** Streaming twin: the same join + aggregation over `readStream`.
    * outputMode(complete) retains the full aggregate state, which is
    * fine here: the state is one row per c_nationkey (25 rows), bounded
    * by key cardinality rather than any watermark. Drains the source
    * with AvailableNow and returns the completed result table (local
    * harness for what runs continuously against Kafka/files in prod). */
  def enrichStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    graft.Tables.requireNanosAsLong(spark)
    val schema = graft.Tables.parquet(spark, s"$sfDir/events.parquet").schema
    val raw = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    val stream = graft.Tables.normalizeEventTs(raw)
    val customer = graft.Tables.customer(spark, sfDir)
    val agg = stream
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
            col("user_id") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
    val name = s"events_enrich_${System.nanoTime()}"
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }
}
