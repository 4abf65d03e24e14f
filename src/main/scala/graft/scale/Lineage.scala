package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ContextBridge

/** Lineage truncation — the one place graft writes a reliable
  * checkpoint or touches the SparkContext checkpoint dir. Used by the
  * single-shot materialization sites (globalRank, rfm, budgetSelect,
  * triangleStats) and by [[Dedup.componentsStats]]' per-round loop.
  *
  * `checkpointDir = None` → `localCheckpoint(true)`: executor-memory
  * blocks, the fastest truncation, but the blocks die with their
  * executor, so on a cluster with executor churn a long job would abort
  * (guide §5). `Some(dir)` (HDFS/object store) → a reliable checkpoint
  * that survives executor loss. Results are identical on either path —
  * parity is spec-pinned.
  *
  * Checkpoint file ownership: the caller owns `dir`. Each scope writes
  * only under its own `dir/graft-ckpt-<uuid>` subdirectory, one round
  * subdirectory per truncation. A round is deleted as soon as the next
  * round of the same scope is durable; the newest round backs the
  * returned frame and is left in place for the caller to remove with
  * `dir`. The SparkContext checkpoint dir is global state: it is set
  * only while a scope runs and restored exactly on exit, unset
  * included. A concurrent checkpointing job in the same context can
  * still interleave with a running scope — that race is inherent to
  * the global setting. */
object Lineage {

  /** Materialize `df` eagerly and cut its lineage (one-round scope). */
  def truncate(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    scoped(df.sparkSession, checkpointDir)(t => t(df))

  /** Run `body` with a truncation function whose rounds share one
    * per-call subdirectory; each round supersedes the one before it
    * (see the object doc for what is deleted and what is kept). */
  private[scale] def scoped[T](spark: SparkSession, checkpointDir: Option[String])(
      body: (DataFrame => DataFrame) => T): T = checkpointDir match {
    case None => body(_.localCheckpoint(eager = true))
    case Some(dir) =>
      val sc = spark.sparkContext
      val base = s"$dir/graft-ckpt-${java.util.UUID.randomUUID()}"
      val prior = sc.getCheckpointDir
      var newest: Option[String] = None
      def truncate(df: DataFrame): DataFrame = {
        sc.setCheckpointDir(base) // installs a fresh round subdir of base
        val out = df.checkpoint(eager = true) // durable before any delete
        newest.foreach { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          scala.util.Try(p.getFileSystem(sc.hadoopConfiguration).delete(p, true))
        }
        newest = sc.getCheckpointDir
        out
      }
      try body(truncate) finally ContextBridge.restoreCheckpointDir(sc, prior)
  }
}
