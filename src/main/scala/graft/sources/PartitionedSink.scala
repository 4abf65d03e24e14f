package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Partitioned parquet sink + pruned re-read — the write half of the
  * source/sink surface (SURVEY §2.1; the reference's only sinks are
  * in-memory frames, `models/build_ml.py:674-683`).
  *
  * At 100 TB the layout IS the optimization: partitioning the sink by
  * the dominant filter key means every downstream reader that filters on
  * it scans only matching directories (partition pruning happens at
  * planning time — `PartitionFilters` in the scan node — so unneeded
  * files are never listed into tasks). Hive-style `partitionBy` also
  * makes the dataset self-describing: the key is recoverable from paths
  * without reading a footer. PlanAuditSpec asserts the pruned plan. */
object PartitionedSink {

  /** Write `df` partitioned by `partCol` (hive-style directories). */
  def write(df: DataFrame, partCol: String, outDir: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(outDir)

  /** Read the partitioned dataset back. Filters on `partCol` applied by
    * the caller prune at planning time. */
  def read(spark: SparkSession, outDir: String): DataFrame =
    graft.Tables.parquet(spark, outDir)
}
