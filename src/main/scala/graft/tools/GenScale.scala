package graft.tools

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Scale-soak data generator: writes a `factor`× replica of a TESTDATA
  * star-schema directory, preserving per-replica semantics so operator
  * cost scales the way it would on a genuinely larger corpus.
  *
  * Design (what "10× the data" must mean for each table family):
  *   - Keys are offset per replica by (max(key)+1), with ONE offset per
  *     key DOMAIN taken from the referenced table (custkey from
  *     customer, partkey from part, …) and applied to both sides of
  *     every FK edge — join fan-outs stay exactly what they were: 10×
  *     rows, 10× join output, never 100× and never orphaned keys.
  *     `region`/`nation` stay fixed (TPC-H semantics: only fact-side
  *     tables scale with SF).
  *   - `documents.text` in replica k>0 is rewritten by a per-replica
  *     TOKEN BIJECTION (every token suffixed with `~k`): a renaming is
  *     similarity-preserving WITHIN a replica (near-dup docs stay
  *     near-dups at exactly their original Jaccard) while across
  *     replicas the shingle vocabularies are DISJOINT — the pairing
  *     join never generates a cross-replica candidate. Pair volumes
  *     grow ~10×, not 100× — the growth profile of a real 10× crawl,
  *     where new content arrives with its own duplication structure.
  *   - `embeddings.embedding` in replica k>0 gets a deterministic
  *     per-replica sign-flip pattern (component i multiplied by ±1
  *     from xxhash64(k, i) — roughly half the components per replica,
  *     a DIFFERENT half for every k, no periodicity in k). A sign flip
  *     is an orthogonal transform: norms and all within-replica
  *     cosines are preserved exactly, and cross-replica cosines
  *     DECORRELATE to mean |cos| ≈ 1/√d (≈0.125 at d=64 — measured
  *     0.14). Note what this does and doesn't claim: in a fixed-dim
  *     space, R replicas cannot be made mutually orthogonal, so at a
  *     fixed cosine threshold some cross-replica coincidences survive
  *     — exactly as they would when a REAL corpus drawn from the same
  *     distribution grows 10× in the same space (near-threshold pair
  *     count is a property of the geometry, and grows with n²·P(cos≥τ)
  *     for same-distribution growth). The TEXT modality carries the
  *     "new content with its own duplication structure" regime
  *     (disjoint vocabularies ⇒ exactly 10× pairs); the embedding
  *     modality carries the "same space, more points" regime. Both are
  *     realistic 10× scale-ups; the soak reports them separately.
  *   - `events` offsets user_id as well as event_id: 10× users at the
  *     original per-user event density, so sessionization state and
  *     per-key window sizes stay constant.
  *   - Replica 0 is byte-identical to the source, so id-anchored
  *     queries (fixed ANN query ids, a10's target row) still find
  *     their rows and the sf0.1 workload is a strict subset.
  *
  * Usage: runMain graft.tools.GenScale <srcDir> <dstDir> [factor=10]
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GenScale <srcDir> <dstDir> [factor]")
    val src = args(0); val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session("graft-genscale")
    run(spark, src, dst, factor)
    spark.stop()
  }

  /** One scan per table: cross-join with the replica ids (broadcast — it
    * is `factor` rows) and rewrite keys/payloads per replica. */
  def run(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    val reps = broadcast(spark.range(factor).select(col("id").cast("long").as("rep")))

    // one offset per key DOMAIN, read from the table that OWNS the key —
    // FK columns reuse the owner's offset so every edge stays consistent
    def keyMax(name: String, c: String): Long =
      Tables.t(spark, src, name).agg(max(col(c))).head().getLong(0)
    val okOff = keyMax("orders", "o_orderkey") + 1
    val ckOff = keyMax("customer", "c_custkey") + 1
    val pkOff = keyMax("part", "p_partkey") + 1
    val skOff = keyMax("supplier", "s_suppkey") + 1
    val evOff = keyMax("events", "event_id") + 1
    val uvOff = keyMax("events", "user_id") + 1
    val dkOff = keyMax("documents", "doc_id") + 1
    val vkOff = keyMax("embeddings", "vec_id") + 1

    def shift(c: String, off: Long): (String, Column) =
      c -> (col(c) + col("rep") * off)

    def write(name: String, parts: Int)(cols: (String, Column)*): Unit = {
      val base = Tables.t(spark, src, name)
      val out = cols.foldLeft(base.crossJoin(reps)) { case (df, (c, e)) =>
        df.withColumn(c, e)
      }.drop("rep")
      out.repartition(parts)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[genscale] $name x$factor done")
    }

    // fixed dimensions: verbatim copy
    Seq("region", "nation").foreach { n =>
      Tables.t(spark, src, n).coalesce(1)
        .write.mode("overwrite").parquet(s"$dst/$n.parquet")
      println(s"[genscale] $n copied")
    }

    write("customer", 4)(shift("c_custkey", ckOff))
    write("supplier", 1)(shift("s_suppkey", skOff))
    write("part", 2)(shift("p_partkey", pkOff))
    write("orders", 8)(shift("o_orderkey", okOff), shift("o_custkey", ckOff))
    write("lineitem", 32)(shift("l_orderkey", okOff), shift("l_partkey", pkOff),
                          shift("l_suppkey", skOff))
    write("events", 8)(shift("event_id", evOff), shift("user_id", uvOff))

    // documents: per-replica token bijection (k>0 only — see scaladoc).
    // n_chars is derived from col("text") AFTER the text rewrite (the
    // fold replaces "text" first), so the n_chars == len(text) invariant
    // holds without re-applying the suffix expression.
    val renamed = array_join(
      transform(split(col("text"), " "),
        t => concat(t, lit("~"), col("rep"))), " ")
    write("documents", 8)(
      "text" -> when(col("rep") === 0, col("text")).otherwise(renamed),
      "n_chars" -> length(col("text")).cast("long"),
      shift("doc_id", dkOff))

    // embeddings: per-replica deterministic sign flips (orthogonal — see
    // scaladoc); replica 0 untouched
    val flipped = transform(col("embedding"),
      (x, i) => when(col("rep") === 0, x)
        .otherwise(x * when(pmod(xxhash64(col("rep"), i), lit(2)) === 0, lit(1.0f))
                        .otherwise(lit(-1.0f))))
    write("embeddings", 4)(
      "embedding" -> flipped,
      shift("vec_id", vkOff))
  }
}
