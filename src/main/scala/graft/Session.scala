package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one session factory of the mains (`graft.Bench`, `graft.Verify`,
  * `graft.tools.Probe`, `graft.tools.GenScale`): one set of settings, so
  * a probe timing measures the session the bench runs.
  * `perfbench/workloads.json`'s `session` block mirrors [[conf]], and
  * `SessionSpec` holds the two equal. */
object Session {

  /** The session settings on local[`cpus`]. Each is applied with
    * `setIfMissing`, so a `-Dspark.…` system property (or `spark-submit
    * --conf`) overrides it for an A/B run. */
  def conf(cpus: Int): SparkConf = {
    val c = new SparkConf()
    Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.adaptive.enabled" -> "true",
      // AQE starts at the session partition count and coalesces by
      // runtime stats. Lifting initialPartitionNum fits a session whose
      // cluster has many more cores; at bench scale the lift is pure
      // overhead — measured at sf0.1: 32→44.8s, 64→51.4s, 256→54.9s total
      // (the map-side shuffle-block count grows with the initial
      // partition number while every post-coalesce plan is identical).
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // Join strategy (guide §3.1/§9): let the planner use shuffled-hash
      // joins where a build side fits per partition instead of always
      // sorting both sides, and let AQE rewrite SMJ→SHJ at runtime when
      // every post-shuffle partition is under the threshold. Measured on
      // the 30-heaviest-query probe set at sf0.1: 62.3 s → 57.7 s
      // (−7.5%), no regressions beyond noise, results identical (join
      // strategy never changes semantics). Scale-safe by construction:
      // the AQE rewrite checks ACTUAL per-partition sizes, and 64 MB of
      // per-partition build map is far inside executor memory at any
      // cluster size.
      "spark.sql.join.preferSortMergeJoin" -> "false",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m",
      "spark.ui.enabled" -> "false"
    ).foreach { case (k, v) => c.setIfMissing(k, v) }
    c
  }

  /** Local cores: `SPARK_GRAFT_CPUS` when set, else every core the JVM
    * sees. */
  def cpus(raw: Option[String] = sys.env.get("SPARK_GRAFT_CPUS")): Int =
    raw.fold(Runtime.getRuntime.availableProcessors) { s =>
      s.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
    }

  /** The session of [[conf]] at [[cpus]]. Idempotent: a live session is
    * returned as it is (`getOrCreate`). */
  def apply(app: String): SparkSession = {
    val s = SparkSession.builder().config(conf(cpus())).appName(app).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
