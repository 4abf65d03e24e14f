package graft.scale

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-quantization ANN (Jégou, Douze, Schmid, "Product Quantization
  * for Nearest Neighbor Search", IEEE TPAMI 2011): split each embedding
  * into `m` subspaces, learn a small per-subspace codebook, store every
  * vector as `m` code ids, and answer queries by asymmetric distance
  * computation (ADC) — a per-query m×ks lookup table of exact
  * query-to-codeword distances, summed over the stored codes.
  *
  * This is the memory-bound scale path the similarity family was
  * missing: at 100 TB the scored corpus is m bytes per vector instead
  * of 8·dim (a 128× scan reduction at dim=64, m=4), while training and
  * query state stay bounded (m·ks·(dim/m) codebook doubles on the
  * driver, |queries|·m·ks LUT entries broadcast). Codebook training is
  * distributed k-means per subspace — one corpus scan per Lloyd
  * iteration covers ALL subspaces at once via a (sub, code, pos)
  * partial aggregation; the corpus is never collected.
  *
  * Determinism discipline: per-subspace squared distances quantize to
  * the 1e-9 grid as LONGS before any comparison (argmin ties break on
  * the lower code id) and ADC totals are exact integer sums of those
  * grid longs, so ranking is reproducible across engines — the
  * seed-codebook form (`lloydIters = 0`) is fully hash-checkable
  * against a SQL oracle.
  *
  * Extends the reference's similarity surface (no ANN exists in
  * auto_ts); the operator family contract is SURVEY §2-extensions. */
object ProductQuant {

  /** codebooks(sub)(code) = centroid slice of length dim/m. */
  private type Codebooks = Array[Array[Array[Double]]]

  /** Deterministic seeds: the `ks` lowest-id vectors, sliced. */
  private def seedCodebooks(v: DataFrame, m: Int, ks: Int): Codebooks = {
    val seeds = v.orderBy(col("vid")).limit(ks).collect()
      .map(_.getSeq[Double](1).toArray)
    require(seeds.length == ks, s"corpus smaller than ks=$ks")
    val w = seeds.head.length / m
    Array.tabulate(m)(s => seeds.map(e => e.slice(s * w, (s + 1) * w)))
  }

  /** Squared L2 between a sub-slice and a codeword, on the 1e-9 grid. */
  private def subDist9(vec: Seq[Double], off: Int, cw: Array[Double]): Long = {
    var d = 0.0; var j = 0
    while (j < cw.length) { val t = vec(off + j) - cw(j); d += t * t; j += 1 }
    math.floor(d * 1e9 + 0.5).toLong
  }

  /** Map-side encode: per subspace the argmin-distance code (grid-long
    * compare, ties to the lower code id). */
  private def withCodes(v: DataFrame, cbs: Codebooks): DataFrame = {
    val bc = v.sparkSession.sparkContext.broadcast(cbs)
    val enc = udf { (vec: Seq[Double]) =>
      val cb = bc.value; val m = cb.length; val w = vec.length / m
      (0 until m).map { s =>
        var best = 0; var bestD = Long.MaxValue
        var c = 0
        while (c < cb(s).length) {
          val dq = subDist9(vec, s * w, cb(s)(c))
          if (dq < bestD) { bestD = dq; best = c }
          c += 1
        }
        best
      }
    }
    v.withColumn("codes", enc(col("v")))
  }

  /** One distributed Lloyd refinement over every subspace at once:
    * assign codes map-side, then mean per (sub, code, pos) — the only
    * aggregate is bounded by m·ks·(dim/m) cells. Empty cells keep their
    * previous codeword (the kmeansAssign discipline). */
  private def lloydStep(v: DataFrame, cbs: Codebooks, m: Int): Codebooks = {
    val w = cbs(0)(0).length
    val means = withCodes(v, cbs)
      .select(col("v"), posexplode(col("codes")).as(Seq("sub", "code")))
      .withColumn("slice", slice(col("v"), col("sub") * lit(w) + lit(1), lit(w)))
      .select(col("sub"), col("code"), posexplode(col("slice")).as(Seq("j", "x")))
      .groupBy(col("sub"), col("code"), col("j")).agg(avg(col("x")).as("mu"))
      .groupBy(col("sub"), col("code"))
      .agg(array_sort(collect_list(struct(col("j"), col("mu")))).as("jm"))
      .select(col("sub"), col("code"), expr("transform(jm, p -> p.mu)").as("cw"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray)
      .toMap
    Array.tabulate(m)(s =>
      cbs(s).indices.map(c => means.getOrElse((s, c), cbs(s)(c))).toArray)
  }

  /** PQ/ADC top-k for each query id: (qid, rank, vid, adist) with adist
    * the approximate squared L2, 1e-6-grid. `lloydIters = 0` keeps the
    * deterministic seed codebooks (the hash-checkable form); positive
    * iterations refine them distributed. */
  def pqTopK(corpus: DataFrame, queryIds: Seq[Long], k: Int,
             vecCol: String, idCol: String, m: Int = 4, ks: Int = 16,
             lloydIters: Int = 1): DataFrame = {
    val spark = corpus.sparkSession
    require(m >= 1 && ks >= 1, s"need m, ks >= 1, got $m, $ks")
    val v = corpus.select(col(idCol).cast("long").as("vid"),
                          col(vecCol).cast("array<double>").as("v")).cache()
    val cbs = (0 until math.max(lloydIters, 0))
      .foldLeft(seedCodebooks(v, m, ks))((c, _) => lloydStep(v, c, m))
    // per-query ADC lookup tables: exact query-to-codeword grid longs,
    // bounded |queries|·m·ks — computed driver-side, broadcast once
    val qVecs = v.filter(col("vid").isin(queryIds: _*)).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val w = cbs(0)(0).length
    val luts: Map[Long, Array[Array[Long]]] = qVecs.map { case (qid, qv) =>
      val q = ArraySeq.unsafeWrapArray(qv)
      qid -> Array.tabulate(m)(s => cbs(s).map(cw => subDist9(q, s * w, cw)))
    }.toMap
    val bc = spark.sparkContext.broadcast(luts)
    // exact 1e-9-grid ADC total: the ranking key (ties broken by vid)
    // matches the oracle's ORDER BY t, vid — never the rounded double,
    // which can merge distinct totals into one 1e-6 bucket
    val adc9 = udf { (qid: Long, codes: Seq[Int]) =>
      val lut = bc.value(qid)
      var t = 0L; var s = 0
      while (s < codes.length) { t += lut(s)(codes(s)); s += 1 }
      t
    }
    import spark.implicits._
    val qDf = qVecs.map(_._1).toSeq.toDF("qid")
    val scored = withCodes(v, cbs)
      .join(broadcast(qDf), col("vid") =!= col("qid"))
      .withColumn("t9", adc9(col("qid"), col("codes")))
      .withColumn("adist", expr("((t9 + 500L) div 1000L) / 1e6"))
    val wk = Window.partitionBy(col("qid")).orderBy(col("t9"), col("vid"))
    val result = scored.withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"),
              col("vid"), col("adist"))
    Similarity.localized(result, { v.unpersist(); () })
  }

  /** IVF+PQ — the composed big-corpus ANN layout (IVFADC in Jégou et
    * al. 2011 §V, raw-vector variant): a coarse k-means router prunes
    * the corpus to each query's `nProbe` nearest cells, and only those
    * cells' PQ codes are ADC-scored. At 100 TB this is the architecture
    * that works: the index scan touches nProbe/nCells of the corpus and
    * reads m bytes per touched vector — both knobs independent of
    * corpus size — while every unbounded structure (cell assignment,
    * code table) stays partitioned; driver/broadcast state is
    * nCells·dim + m·ks·(dim/m) + |queries|·(m·ks + nProbe). */
  def ivfPqTopK(corpus: DataFrame, queryIds: Seq[Long], k: Int,
                vecCol: String, idCol: String,
                nCells: Int = 8, nProbe: Int = 2,
                m: Int = 4, ks: Int = 16, lloydIters: Int = 1): DataFrame = {
    val spark = corpus.sparkSession
    require(nProbe >= 1 && nProbe <= nCells, s"need 1 <= nProbe <= nCells")
    val v = corpus.select(col(idCol).cast("long").as("vid"),
                          col(vecCol).cast("array<double>").as("v")).cache()
    val cents = Similarity.trainCentroids(v, nCells, lloydIters)
    val cbs = (0 until math.max(lloydIters, 0))
      .foldLeft(seedCodebooks(v, m, ks))((c, _) => lloydStep(v, c, m))
    val qVecs = v.filter(col("vid").isin(queryIds: _*)).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    // probe plan: each query's nProbe max-cosine cells (driver-side;
    // queryIds bounded, cents tiny) — the ivfTopK routing discipline
    val probes = qVecs.flatMap { case (qid, qv) =>
      cents.zipWithIndex.map { case (cent, c) =>
        var dot = 0.0; var nc = 0.0; var j = 0
        val lim = math.min(qv.length, cent.length)
        while (j < lim) { dot += cent(j) * qv(j); nc += cent(j) * cent(j); j += 1 }
        (qid, c, if (nc == 0) Double.NegativeInfinity else dot / math.sqrt(nc))
      }.sortBy(-_._3).take(nProbe).map { case (q, c, _) => (q, c) }
    }
    val w = cbs(0)(0).length
    val luts: Map[Long, Array[Array[Long]]] = qVecs.map { case (qid, qv) =>
      val q = ArraySeq.unsafeWrapArray(qv)
      qid -> Array.tabulate(m)(s => cbs(s).map(cw => subDist9(q, s * w, cw)))
    }.toMap
    val bc = spark.sparkContext.broadcast(luts)
    // rank on the exact 1e-9-grid total (see pqTopK) — rounded adist is
    // display-only
    val adc9 = udf { (qid: Long, codes: Seq[Int]) =>
      val lut = bc.value(qid)
      var t = 0L; var s = 0
      while (s < codes.length) { t += lut(s)(codes(s)); s += 1 }
      t
    }
    import spark.implicits._
    val probeDf = probes.toSeq.toDF("qid", "cell")
    val scored = withCodes(Similarity.assignCells(v, cents), cbs)
      .join(broadcast(probeDf), Seq("cell"))
      .filter(col("vid") =!= col("qid"))
      .withColumn("t9", adc9(col("qid"), col("codes")))
      .withColumn("adist", expr("((t9 + 500L) div 1000L) / 1e6"))
    val wk = Window.partitionBy(col("qid")).orderBy(col("t9"), col("vid"))
    val result = scored.withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"),
              col("vid"), col("adist"))
    Similarity.localized(result, { v.unpersist(); () })
  }
}
