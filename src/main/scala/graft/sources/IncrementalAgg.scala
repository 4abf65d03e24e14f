package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental aggregation state — the 100-TB rollup pattern: aggregate
  * each arriving increment (a day's partition) ONCE into a small
  * mergeable partial, then answer "totals over all history" by merging
  * partials — never rescanning history. Correct because every statistic
  * carried is COMMUTATIVE + ASSOCIATIVE: counts, integer sums, min/max,
  * and an HLL++ sketch for distincts.
  *
  * Determinism contract: the value sum is quantized to the 1e-6 grid
  * and carried as BIGINT — float partial sums would make "incremental"
  * and "full recompute" differ in the last ulp depending on how history
  * happened to be sliced, which is exactly the non-reproducibility this
  * operator exists to rule out. With integer sums, merge(partial(S₁),
  * partial(S₂)) == partial(S₁ ∪ S₂) EXACTLY, for any slicing, any
  * merge order (spec-pinned, and the a20 oracle recomputes from raw).
  *
  * The HLL sketch is the approximate member: `hll_union_agg` merges
  * losslessly (sketch union is associative too), estimates carry the
  * standard ±~2% HLL++ error — spec-bounded, excluded from the
  * hash-checked columns. */
object IncrementalAgg {

  /** One increment → its partial: (keys…, cnt, sum6, vmin, vmax,
    * hll). Run this per arriving partition and persist the result —
    * it is |keys| rows, not data. */
  def partial(df: DataFrame, keyCols: Seq[String], valueCol: String,
              distinctCol: String): DataFrame =
    df.withColumn("v6",
        floor(col(valueCol).cast("double") * 1e6 + 0.5).cast("long"))
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"),
           sum(col("v6")).as("sum6"),
           min(col("v6")).as("min6"),
           max(col("v6")).as("max6"),
           hll_sketch_agg(col(distinctCol)).as("hll"))

  /** Merge any number of partials (any order, any grouping) into one
    * partial of the union. Pure re-aggregation of |keys|·|parts| rows. */
  def merge(parts: Seq[DataFrame]): DataFrame = {
    require(parts.nonEmpty, "need at least one partial")
    val all = parts.reduce(_ unionByName _)
    val keyCols = all.columns.filterNot(
      Set("cnt", "sum6", "min6", "max6", "hll"))
    all.groupBy(keyCols.toSeq.map(col): _*)
      .agg(sum(col("cnt")).as("cnt"),
           sum(col("sum6")).as("sum6"),
           min(col("min6")).as("min6"),
           max(col("max6")).as("max6"),
           hll_union_agg(col("hll")).as("hll"))
  }

  /** Human units: mean back on the value scale, the HLL distinct
    * estimate surfaced. The exact columns (cnt/sum/min/max/avg) are the
    * hash-checked surface; distinct_est is approximate by contract. */
  def finalize(partialDf: DataFrame): DataFrame =
    partialDf
      .withColumn("total", col("sum6") / 1e6)
      .withColumn("vmin", col("min6") / 1e6)
      .withColumn("vmax", col("max6") / 1e6)
      .withColumn("avg", col("sum6").cast("double") / col("cnt") / 1e6)
      .withColumn("distinct_est", hll_sketch_estimate(col("hll")))
      .drop("sum6", "min6", "max6", "hll")
}
