package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** SparkContext state that public API can set but not put back.
  * `setCheckpointDir` always installs a fresh UUID subdirectory and has
  * no way to return to "unset"; restoring a caller's prior value exactly
  * needs the `private[spark]` field. */
object ContextBridge {
  def restoreCheckpointDir(sc: SparkContext, dir: Option[String]): Unit =
    sc.checkpointDir = dir
}
