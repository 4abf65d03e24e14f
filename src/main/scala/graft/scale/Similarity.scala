package graft.scale

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (north star). Two paths:
  * brute-force exact top-k (the baseline — one broadcast of the bounded
  * query set against a full scan, no index), and a random-hyperplane LSH
  * bucketed variant (the scale path — candidates only within matching
  * buckets, trading recall for a >10x candidate reduction). */
object Similarity {

  /** Exact cosine top-k for each query id. Query side is small →
    * broadcast; the corpus scan stays partitioned (no shuffle of the big
    * side). Ranking is deterministic: (rounded cosine desc, vid). */
  def bruteForceTopK(corpus: DataFrame, queryIds: Seq[Long], k: Int,
                     vecCol: String, idCol: String): DataFrame = {
    val v = corpus.select(col(idCol).cast("long").as("vid"),
                          col(vecCol).cast("array<double>").as("v"))
      .withColumn("norm", graft.functions.VectorOps.l2norm(col("v")))
    val q = v.filter(col("vid").isin(queryIds: _*))
      .select(col("vid").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
    val scored = v.join(broadcast(q), col("vid") =!= col("qid"))
      .withColumn("dot", graft.functions.VectorOps.dot(col("v"), col("qv")))
      .withColumn("cosine", floor(col("dot") / (col("norm") * col("qnorm")) * 1e6 + 0.5) / 1e6)
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("vid"), col("cosine"))
  }

  /** Hard-negative mining for contrastive training: for each anchor, the
    * top-k corpus vectors whose cosine falls in the band [lo, hi) —
    * similar enough to be informative negatives, below the near-duplicate
    * line so they aren't false negatives (the in-batch/mined-negative
    * recipe of DPR, Karpukhin et al. 2020 §4.2, and SimCSE-style
    * pipelines). The band filter runs BEFORE the per-anchor top-k, so
    * near-dups never occupy negative slots.
    *
    * Same 100-TB shape as [[bruteForceTopK]]: bounded anchor set
    * broadcast against a partitioned corpus scan, one per-anchor window
    * over band survivors. For corpus-wide mining (every doc an anchor),
    * route through the IVF cells ([[ivfTopK]]) instead — this form is the
    * exact oracle twin. Ranking deterministic: (rounded cosine desc, vid). */
  def hardNegatives(corpus: DataFrame, queryIds: Seq[Long], k: Int,
                    lo: Double, hi: Double,
                    vecCol: String, idCol: String): DataFrame = {
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    val v = corpus.select(col(idCol).cast("long").as("vid"),
                          col(vecCol).cast("array<double>").as("v"))
      .withColumn("norm", graft.functions.VectorOps.l2norm(col("v")))
    val q = v.filter(col("vid").isin(queryIds: _*))
      .select(col("vid").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
    val scored = v.join(broadcast(q), col("vid") =!= col("qid"))
      .withColumn("dot", graft.functions.VectorOps.dot(col("v"), col("qv")))
      .withColumn("cosine", floor(col("dot") / (col("norm") * col("qnorm")) * 1e6 + 0.5) / 1e6)
      .filter(col("cosine") >= lo && col("cosine") < hi)
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("vid"), col("cosine"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    * per anchor, greedily select k results maximizing
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s) — the standard
    * diversity-aware top-k for retrieval-augmented pipelines (a plain
    * top-k returns k near-copies when the corpus has duplicate clusters;
    * MMR spends the slots on distinct regions).
    *
    * Shape: the candidate pool is the bounded brute-force/IVF top-`candN`
    * per anchor; candidate vectors join back broadcast (|anchors|·candN
    * rows), and the O(candN²·k) greedy runs LOCALLY per anchor inside one
    * flatMapGroups — the corpus is scanned once and never re-shuffled.
    * Determinism: all cosines round to the 1e-6 grid before comparison
    * and ties break by vid, so the greedy is engine-reproducible;
    * sequential argmax still isn't one SQL window, so the query contract
    * is ✖est with the λ=1 ≡ top-k identity and cluster-alternation
    * properties spec-pinned. Returns (qid, sel_rank, vid, mmr6). */
  def mmrTopK(corpus: DataFrame, queryIds: Seq[Long], k: Int,
              lambda: Double, candN: Int,
              vecCol: String, idCol: String): DataFrame = {
    require(k >= 1 && candN >= k, s"need 1 <= k <= candN, got k=$k candN=$candN")
    require(lambda >= 0.0 && lambda <= 1.0, s"need lambda in [0,1], got $lambda")
    val spark = corpus.sparkSession
    import spark.implicits._
    val v = corpus.select(col(idCol).cast("long").as("vid"),
                          col(vecCol).cast("array<double>").as("v"))
      .withColumn("norm", graft.functions.VectorOps.l2norm(col("v")))
    val cands = bruteForceTopK(corpus, queryIds, candN, vecCol, idCol)
    val withVec = cands.join(v.hint("broadcast"), Seq("vid"))
      .select(col("qid"), col("vid"), col("cosine"), col("v"), col("norm"))
      .as[(Long, Long, Double, Array[Double], Double)]
    withVec.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val cs = it.toArray.sortBy(t => (-t._3, t._2)) // (rel desc, vid)
      def sim(a: Int, b: Int): Double = {
        var acc = 0.0; val x = cs(a)._4; val y = cs(b)._4
        var i = 0; val n = math.min(x.length, y.length)
        while (i < n) { acc += x(i) * y(i); i += 1 }
        math.floor(acc / (cs(a)._5 * cs(b)._5) * 1e6 + 0.5) / 1e6
      }
      val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
      val out = Seq.newBuilder[(Long, Long, Long, Double)]
      var r = 1
      while (r <= math.min(k, cs.length)) {
        var best = -1; var bestScore = Double.NegativeInfinity
        var c = 0
        while (c < cs.length) {
          if (!selected.contains(c)) {
            val maxSim = if (selected.isEmpty) 0.0 else selected.map(sim(c, _)).max
            val score =
              math.floor((lambda * cs(c)._3 - (1 - lambda) * maxSim) * 1e6 + 0.5) / 1e6
            if (score > bestScore ||
                (score == bestScore && best >= 0 && cs(c)._2 < cs(best)._2)) {
              best = c; bestScore = score
            }
          }
          c += 1
        }
        selected += best
        out += ((qid, r.toLong, cs(best)._2, bestScore))
        r += 1
      }
      out.result().iterator
    }.toDF("qid", "sel_rank", "vid", "mmr6")
  }

  /** A10 (row-transpose form) — top-k rows most Pearson-correlated to one
    * selected row (`utils/eda.py:124-191` `top_correlation_to_name`: rows
    * are entities — stocks/funds/products — columns are time periods; the
    * reference transposes and runs `.T.corr()` against the selected row).
    *
    * Spark-native: the row-major layout is (id, array<double>); the ONE
    * selected row is collected (bounded by contract) and enters every
    * comparison as a literal, so the corpus is never shuffled — Pearson
    * closes over sums computed with codegen'd higher-order array
    * functions, and top-k is a TakeOrdered. The reference keeps the
    * selected row itself at rank 1 (corr 1.0); so do we. */
  def rowCorrTopK(df: DataFrame, idCol: String, vecCol: String,
                  targetId: Long, k: Int): DataFrame = {
    val v = df.select(col(idCol).cast("long").as("rid"),
                      col(vecCol).cast("array<double>").as("v"))
    val target = v.filter(col("rid") === targetId).select(col("v")).head().getSeq[Double](0)
    val q = lit(target.toArray)
    // the target row's own sums are scalars — computed once here, not
    // re-folded over the literal array for every corpus row
    val sy = target.sum
    val syy = target.map(x => x * x).sum
    val n = col("nn")
    val scored = v
      .withColumn("nn", size(col("v")).cast("double"))
      .withColumn("sx", aggregate(col("v"), lit(0.0), (a, x) => a + x))
      .withColumn("sxx", aggregate(col("v"), lit(0.0), (a, x) => a + x * x))
      .withColumn("sxy", aggregate(zip_with(col("v"), q, (x, y) => x * y),
                                   lit(0.0), (a, x) => a + x))
      .withColumn("sy", lit(sy))
      .withColumn("syy", lit(syy))
      .withColumn("pearson", {
        // zero-variance rows have no defined correlation: a 0 denominator
        // would yield NaN, which Spark sorts ABOVE every double in DESC
        // order (DuckDB differs) — null it out so NULLS LAST applies
        // identically in both engines
        val dx = n * col("sxx") - col("sx") * col("sx")
        val dy = n * col("syy") - col("sy") * col("sy")
        when(dx > 0 && dy > 0,
          floor((n * col("sxy") - col("sx") * col("sy")) /
            (sqrt(dx) * sqrt(dy)) * 1e6 + 0.5) / 1e6)
      })
    scored.orderBy(col("pearson").desc_nulls_last, col("rid")).limit(k)
      .select(col("rid"), col("pearson"))
  }

  /** Deterministic pseudo-random hyperplanes (xorshift), `nPlanes` x dim.
    * Distinct `seed`s give statistically independent plane sets (the
    * verification sketch must not reuse the banding planes: shared planes
    * make colliding pairs' sketch distance optimistically biased). */
  private[scale] def hyperplanes(nPlanes: Int, dim: Int,
                                 seed: Long = 0x853C49E6748FEA9BL): Array[Array[Double]] = {
    var s = seed
    def next(): Double = { s ^= s << 13; s ^= s >>> 7; s ^= s << 17; (s >>> 11).toDouble / (1L << 53) - 0.5 }
    Array.fill(nPlanes)(Array.fill(dim)(next()))
  }

  /** Embedding dimensionality, read from the first non-null vector (one
    * tiny job — the schema carries no array length). */
  def inferDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol)).as("d")).filter(col("d") > 0).head().getInt(0)

  /** Random-hyperplane LSH bucket id per vector: sign bit per plane.
    * `dim` ≤ 0 ⇒ inferred from the data; the dot product clamps to
    * min(vector length, plane length) so ragged vectors can't index past
    * the plane array. */
  def lshBuckets(df: DataFrame, vecCol: String, idCol: String,
                 nPlanes: Int = 8, dim: Int = -1): DataFrame = {
    val d0 = if (dim > 0) dim else inferDim(df, vecCol)
    val planes = hyperplanes(nPlanes, d0)
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(planes)
    val dotSign = udf { (v: Seq[Double]) =>
      val ps = bc.value
      var bucket = 0L
      var i = 0
      while (i < ps.length) {
        val lim = math.min(v.length, ps(i).length)
        var d = 0.0; var j = 0
        while (j < lim) { d += ps(i)(j) * v(j); j += 1 }
        if (d > 0) bucket |= (1L << i)
        i += 1
      }
      bucket
    }
    df.select(col(idCol).cast("long").as("vid"),
              col(vecCol).cast("array<double>").as("v"))
      .withColumn("bucket", dotSign(col("v")))
  }

  /** Max-cosine index of `vec` over `cs`, optionally restricted to the
    * centroid indices in `ids` (null = all). Strict `>` keeps the lowest
    * index on ties — identical in the flat and two-level paths. */
  private def bestCell(vec: Seq[Double], cs: Array[Array[Double]],
                       ids: Array[Int]): Int = {
    val m = if (ids == null) cs.length else ids.length
    var best = -1; var bestScore = Double.NegativeInfinity
    var k = 0
    while (k < m) {
      val c = if (ids == null) k else ids(k)
      val cent = cs(c)
      val lim = math.min(vec.length, cent.length)
      var dot = 0.0; var nc = 0.0; var j = 0
      while (j < lim) { dot += cent(j) * vec(j); nc += cent(j) * cent(j); j += 1 }
      val score = if (nc == 0) Double.NegativeInfinity else dot / math.sqrt(nc)
      if (score > bestScore || best < 0 ||
          (score == bestScore && c < best)) { bestScore = score; best = c }
      k += 1
    }
    math.max(best, 0)
  }

  /** Centroid count at which [[assignCells]] switches from the flat scan
    * to the two-level (coarse-then-refine) scheme: below it the flat
    * C·dim per-row cost already beats √C·(1+probe)·dim plus the group
    * bookkeeping. 64 puts the crossover right where nCells ∝ n starts to
    * matter (the d12 rule reaches 64 cells at ~160k vectors).
    *
    * Asymptotics: with C ∝ n the two-level assignment is n·√C ≈ n^1.5
    * total flops (vs the flat scan's n²) — measured ≤ 10×/decade through
    * sf10 (SOAK_r15). If a further decade ever pushes past the ~12×
    * bar, the same grouping recurses (a 3-level C^⅓ tree → n^{4/3});
    * nothing at the probed scales needs it. */
  private[scale] val twoLevelMin = 64

  /** Driver-side k-means ON THE CENTROIDS: groups the C cell centroids
    * into `nGroups` super-groups (deterministic seeds = first centroids,
    * `iters` Lloyd steps over C points — trivial driver work, C × dim
    * state). Returns (groupCentroids, memberIdsPerGroup). This is the
    * coarse level of the two-level assignment. */
  private[scale] def groupCentroids(cents: Array[Array[Double]], nGroups: Int,
                                    iters: Int = 3): (Array[Array[Double]], Array[Array[Int]]) = {
    val dim = cents.map(_.length).max
    var groups = Array.tabulate(nGroups)(g => java.util.Arrays.copyOf(cents(g), dim))
    var assign = cents.map(c => bestCell(ArraySeq.unsafeWrapArray(c), groups, null))
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nGroups)(new Array[Double](dim))
      val cnts = new Array[Int](nGroups)
      var i = 0
      while (i < cents.length) {
        val g = assign(i); val c = cents(i)
        var j = 0
        while (j < c.length) { sums(g)(j) += c(j); j += 1 }
        cnts(g) += 1; i += 1
      }
      groups = Array.tabulate(nGroups) { g =>
        if (cnts(g) == 0) groups(g) // an emptied group keeps its centroid
        else { val s = sums(g); val out = new Array[Double](dim)
               var j = 0
               while (j < dim) { out(j) = s(j) / cnts(g); j += 1 }; out }
      }
      assign = cents.map(c => bestCell(ArraySeq.unsafeWrapArray(c), groups, null))
      it += 1
    }
    val members = Array.fill(nGroups)(scala.collection.mutable.ArrayBuffer.empty[Int])
    assign.indices.foreach(i => members(assign(i)) += i)
    (groups, members.map(_.toArray))
  }

  /** Assign every vector to its max-cosine centroid (broadcast, one scan).
    *
    * Flat scan is C·dim flops per row — fine for bounded C, but under the
    * nCells ∝ n rule (semDedup/SemDeDup) that term is O(n²) total. Past
    * [[twoLevelMin]] centroids the assignment goes TWO-LEVEL (the IVF
    * coarse-quantizer pattern applied to the assignment itself): the
    * centroids are k-means-grouped driver-side into ⌈√C⌉ super-groups,
    * each vector scores the √C group centroids, then refines over only
    * its 2 best groups' members — ~3·√C·dim flops per row, so the total
    * is n·√C instead of n·C. The refinement is approximate in the usual
    * IVF sense (the true max-cosine centroid can live in an unprobed
    * group); a spec pins agreement with the flat scan on clustered
    * fixtures. Everything stays map-side against broadcast state. */
  private[scale] def assignCells(v: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    val cellOf =
      if (centroids.length < twoLevelMin) {
        val bc = v.sparkSession.sparkContext.broadcast(centroids)
        udf { (vec: Seq[Double]) => bestCell(vec, bc.value, null) }
      } else {
        val nGroups = math.ceil(math.sqrt(centroids.length.toDouble)).toInt
        val (gCents, members) = groupCentroids(centroids, nGroups)
        val bc = v.sparkSession.sparkContext.broadcast((centroids, gCents, members))
        udf { (vec: Seq[Double]) =>
          val (cs, gs, mem) = bc.value
          // top-2 coarse groups without a sort
          var g1 = 0; var s1 = Double.NegativeInfinity
          var g2 = 0; var s2 = Double.NegativeInfinity
          var g = 0
          while (g < gs.length) {
            val cent = gs(g)
            val lim = math.min(vec.length, cent.length)
            var dot = 0.0; var nc = 0.0; var j = 0
            while (j < lim) { dot += cent(j) * vec(j); nc += cent(j) * cent(j); j += 1 }
            val score = if (nc == 0) Double.NegativeInfinity else dot / math.sqrt(nc)
            if (score > s1) { s2 = s1; g2 = g1; s1 = score; g1 = g }
            else if (score > s2) { s2 = score; g2 = g }
            g += 1
          }
          val ids = if (g2 == g1) mem(g1) else mem(g1) ++ mem(g2)
          if (ids.isEmpty) bestCell(vec, cs, null) else bestCell(vec, cs, ids)
        }
      }
    v.withColumn("cell", cellOf(col("v")))
  }

  /** Deterministic k-means cell assignment — the IVF coarse quantizer as
    * a standalone operator (seeds = lowest-id vectors, `lloydIters`
    * distributed Lloyd refinements, broadcast centroids). Returns
    * (vid, v, cell). The centroids are computed EAGERLY here (bounded
    * nCells × dim state on the driver), so re-evaluating the returned
    * frame repeats only the map-side assignment, never the clustering —
    * callers can consume it twice without caching the corpus. */
  def kmeansAssign(corpus: DataFrame, vecCol: String, idCol: String,
                   nCells: Int = 8, lloydIters: Int = 1): DataFrame = {
    val v = corpus.select(col(idCol).cast("long").as("vid"),
                          col(vecCol).cast("array<double>").as("v"))
    assignCells(v, trainCentroids(v, nCells, lloydIters))
  }

  /** The shared coarse quantizer: deterministic seeds (lowest-id
    * vectors) refined by `lloydIters` distributed Lloyd steps — per-cell
    * means via a (cell, position) partial aggregation, never collecting
    * the corpus; a cell that loses all members keeps its previous
    * centroid. Expects `v` as (vid, v: array<double>). Bounded driver
    * state: nCells × dim. */
  private[scale] def trainCentroids(v: DataFrame, nCells: Int,
                                    lloydIters: Int): Array[Array[Double]] = {
    // pin only across the Lloyd scans below — and only if the caller
    // hasn't already cached v (unpersisting a borrowed cache would cost
    // the caller its pinned corpus)
    val weOwnCache = v.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val vc = if (weOwnCache) v.cache() else v
    val seeds = vc.orderBy(col("vid")).limit(nCells).collect()
      .map(_.getSeq[Double](1).toArray)
    def lloydStep(prev: Array[Array[Double]]): Array[Array[Double]] = {
      val means = assignCells(vc, prev)
        .select(col("cell"), posexplode(col("v")))
        .groupBy(col("cell"), col("pos")).agg(avg(col("col")).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"), expr("transform(pm, x -> x.m)").as("centroid"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      prev.indices.map(c => means.getOrElse(c, prev(c))).toArray
    }
    val cents = (0 until math.max(lloydIters, 0)).foldLeft(seeds)((c, _) => lloydStep(c))
    if (weOwnCache) vc.unpersist()
    cents
  }

  /** IVF-style ANN: coarse-quantize the corpus into `nCells` cells
    * (deterministic seeds = lowest ids, one distributed Lloyd refinement),
    * then each query searches only its `nProbe` nearest cells. The
    * centroid table is tiny (nCells × dim) and lives broadcast; the corpus
    * is scanned, never collected — the standard big-corpus ANN layout
    * (inverted file), trading recall for a ~nCells/nProbe candidate
    * reduction. Approximate ⇒ rows-only; recall is property-tested. */
  /** [[hardNegatives]] routed through the IVF cells — the corpus-scale
    * production path the exact-twin form documents: candidates come from
    * the query's nProbe cells (nProbe/nCells of the corpus scored, not
    * all of it), the band filter applies before the per-anchor top-k.
    * Recall is the IVF contract (probabilistic, cell-routing); precision
    * is exact — every returned pair carries its true cosine. */
  def hardNegativesIvf(corpus: DataFrame, queryIds: Seq[Long], k: Int,
                       lo: Double, hi: Double, vecCol: String, idCol: String,
                       nCells: Int = 8, nProbe: Int = 2,
                       lloydIters: Int = 1): DataFrame = {
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    ivfTopK(corpus, queryIds, k, vecCol, idCol, nCells, nProbe, lloydIters,
            band = Some((lo, hi)))
  }

  def ivfTopK(corpus: DataFrame, queryIds: Seq[Long], k: Int,
              vecCol: String, idCol: String,
              nCells: Int = 8, nProbe: Int = 2,
              lloydIters: Int = 1,
              band: Option[(Double, Double)] = None): DataFrame = {
    val spark = corpus.sparkSession
    val v = corpus.select(col(idCol).cast("long").as("vid"),
                          col(vecCol).cast("array<double>").as("v")).cache()
    val cents = trainCentroids(v, nCells, lloydIters)
    val assigned = assignCells(v, cents)
      .withColumn("norm", graft.functions.VectorOps.l2norm(col("v"))).cache()
    // probe plan: per query, its nProbe max-cosine cells (driver-side —
    // queryIds is bounded, cents is tiny)
    val qVecs = assigned.filter(col("vid").isin(queryIds: _*))
      .select(col("vid"), col("v"), col("norm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    val probes = qVecs.flatMap { case (qid, qv, _) =>
      cents.zipWithIndex.map { case (cent, c) =>
        val lim = math.min(qv.length, cent.length)
        var dot = 0.0; var nc = 0.0; var j = 0
        while (j < lim) { dot += cent(j) * qv(j); nc += cent(j) * cent(j); j += 1 }
        (qid, c, if (nc == 0) Double.NegativeInfinity else dot / math.sqrt(nc))
      }.sortBy(-_._3).take(nProbe).map { case (q, c, _) => (q, c) }
    }
    import spark.implicits._
    val probeDf = probes.toSeq.toDF("qid", "cell")
    val qDf = qVecs.toSeq.map { case (qid, qv, n) => (qid, qv.toSeq, n) }
      .toDF("qid", "qv", "qnorm")
    val scored = assigned
      .join(broadcast(probeDf), Seq("cell"))
      .filter(col("vid") =!= col("qid"))
      .join(broadcast(qDf), Seq("qid"))
      .withColumn("dot", graft.functions.VectorOps.dot(col("v"), col("qv")))
      .withColumn("cosine", floor(col("dot") / (col("norm") * col("qnorm")) * 1e6 + 0.5) / 1e6)
    val banded = band match {
      case Some((lo, hi)) => scored.filter(col("cosine") >= lo && col("cosine") < hi)
      case None           => scored
    }
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vid"))
    val result = banded.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("vid"), col("cosine"))
    // the top-k result is bounded (|queries|·k rows): materialize it, then
    // release both corpus caches so they don't pin executor memory for
    // the rest of the session
    localized(result, { v.unpersist(); assigned.unpersist(); () })
  }

  /** Collect a BOUNDED result (one job) and rebuild it as a local
    * relation, so the caches its lineage depended on can be released
    * immediately and collecting the returned frame runs no second job. */
  private[scale] def localized(df: DataFrame, release: => Unit): DataFrame = {
    val rows = df.collect()
    release
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** ANN top-k: exact ranking restricted to the query's LSH bucket
    * (single-probe). Approximate — documented recall tradeoff; increase
    * nPlanes→smaller buckets, decrease→higher recall. `dim` ≤ 0 ⇒ inferred. */
  def lshTopK(corpus: DataFrame, queryIds: Seq[Long], k: Int,
              vecCol: String, idCol: String, nPlanes: Int = 6,
              dim: Int = -1): DataFrame = {
    val b = lshBuckets(corpus, vecCol, idCol, nPlanes, dim).cache()
    val withNorm = b.withColumn("norm", graft.functions.VectorOps.l2norm(col("v")))
    val q = withNorm.filter(col("vid").isin(queryIds: _*))
      .select(col("vid").as("qid"), col("v").as("qv"),
              col("norm").as("qnorm"), col("bucket").as("qbucket"))
    val scored = withNorm.join(broadcast(q),
        col("bucket") === col("qbucket") && col("vid") =!= col("qid"))
      .withColumn("dot", graft.functions.VectorOps.dot(col("v"), col("qv")))
      .withColumn("cosine", floor(col("dot") / (col("norm") * col("qnorm")) * 1e6 + 0.5) / 1e6)
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vid"))
    val result = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("vid"), col("cosine"))
    localized(result, { b.unpersist(); () })
  }

  /** Per-label embedding centroids in long form (label, dim, mean, n) —
    * the class-prototype computation behind IVF seeding, label-centroid
    * classification, and embedding-drift monitoring. `posexplode` is a
    * map-side generator (dim rows per vector); ONE shuffle on
    * (label, dim) with partial aggregation, so the reduce-side volume is
    * |labels|·dim regardless of corpus size. Floats are widened to
    * double BEFORE summation (float partial sums would drift per
    * partitioning). */
  def labelCentroids(df: DataFrame, vecCol: String, labelCol: String): DataFrame =
    df.select(col(labelCol).as("label"),
              posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("label"), (col("dim") + 1).as("dim"))
      .agg(avg(col("x")).as("mean"), count(lit(1)).as("n"))

  // ---- PCA / whitening (embedding preprocessing) -----------------------

  /** Exact second-moment table of the embedding matrix: one row per
    * dimension pair (i ≤ j, 1-based) with the population covariance.
    * The input coordinates are quantized to 6 decimals and accumulated
    * in EXACT fixed-point arithmetic (the Det.moneySum discipline at
    * embedding precision — integer lattice sums, scale-shifted exactly
    * before the double cast), so the sums — and therefore the
    * covariance — are bit-identical in any engine regardless of
    * summation order.
    *
    * 100-TB shape: the per-row upper-triangular outer product is a pure
    * map-side higher-order transform (d(d+1)/2 entries per vector, no
    * join, no corpus shuffle); the only exchanges carry partial
    * aggregates keyed by the d²/2 pair space, which is independent of
    * corpus size. Rows whose vector length ≠ dim are excluded. */
  def covarianceMoments(df: DataFrame, vecCol: String, dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim else inferDim(df, vecCol)
    // Coordinates quantize to the 1e-6 grid as INTEGERS (q6 = round(x·1e6)):
    // per-row products and every partial sum are then compact BIGINT
    // codegen arithmetic instead of non-compact DECIMAL(37,12) BigDecimal
    // multiply+add per pair per row (the former hot cost — d(d+1)/2
    // decimal ops per vector). The exact decimal values are recovered by
    // an exact scale shift (decimal × exact decimal literal, precision ≤
    // 38 so no rounding) before the double cast, so the resulting doubles
    // are bit-identical to the DECIMAL(18,6) accumulation the oracle
    // replays. Exactness envelope: Σ q6_i·q6_j must stay below 2^63 —
    // n·(1e6·max|x|)² < 9.2e18, i.e. ~9M rows of unit-scale coordinates
    // (pre-scale or shard the sum beyond that). The envelope is ENFORCED
    // below: each (i,j) aggregate also tracks max|p| and the covariance
    // nulls out when n·max|p| could have overflowed a partial sum.
    val q = df.select(col(vecCol).cast("array<double>").as("e"))
      .filter(size(col("e")) === d)
      .select(expr(
        "transform(e, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))")
        .as("q"))
    val nDf = q.groupBy().agg(count(lit(1)).as("n"))
    val marg = q.select(posexplode(col("q")).as(Seq("i0", "x")))
      .groupBy((col("i0") + 1).as("i"))
      .agg(expr("CAST(CAST(sum(x) AS DECIMAL(20,0)) " +
        "* CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE)").as("s"))
    // ENVELOPE GUARD (ADVICE r15): the BIGINT pair sums are exact only
    // while every partial sum stays under 2^63 — |Σ p| ≤ n·max|p|, so
    // tracking max|p| in the same codegen buffer (one extra compare per
    // row) bounds every partial exactly. Outside the envelope the
    // covariance is emitted as NULL — fail-to-null, never a wrapped value
    // and never Spark's ARITHMETIC_OVERFLOW under ANSI: the product (past
    // |x| ≈ 3034) and the sum (past n·max|p| ≈ 2^63) are the try_ forms,
    // NULL on overflow, and an overflowed product reads as BIGINT's max,
    // so its max|p| fails the guard (a NULL coordinate still gives a NULL
    // product, skipped as before). The 9.0e18 literal sits 2.4% under
    // 2^63 to absorb the double-compare rounding.
    val pairs = q.select(explode(expr(
        s"flatten(transform(sequence(1, $d), i -> " +
        s"transform(sequence(i, $d), j -> named_struct('i', i, 'j', j, " +
        s"'p', coalesce(try_multiply(element_at(q, i), element_at(q, j)), " +
        s"IF(element_at(q, i) IS NULL OR element_at(q, j) IS NULL, NULL, 9223372036854775807L))))))"))
        .as("t"))
      .select(col("t.i").as("i"), col("t.j").as("j"), col("t.p").as("p"))
      .groupBy(col("i"), col("j"))
      .agg(expr("CAST(CAST(try_sum(p) AS DECIMAL(20,0)) " +
        "* CAST(0.000000000001 AS DECIMAL(13,12)) AS DOUBLE)").as("sp"),
        max(abs(col("p").cast("double"))).as("mxp"))
    pairs
      .join(broadcast(marg.select(col("i"), col("s").as("si"))), Seq("i"))
      .join(broadcast(marg.select(col("i").as("j"), col("s").as("sj"))), Seq("j"))
      .crossJoin(broadcast(nDf))
      .select(col("i"), col("j"),
        when(col("n").cast("double") * col("mxp") < 9.0e18,
          col("sp") / col("n") -
          (col("si") / col("n")) * (col("sj") / col("n"))).as("cov"))
  }

  /** PCA projection with optional whitening — the standard embedding
    * preprocessing before ANN / SemDeDup (decorrelate, equalize
    * variance; whitened cosine ≈ Mahalanobis). The d×d covariance comes
    * from [[covarianceMoments]] (bounded: d²/2 rows collected — driver
    * state is O(d²), never O(corpus)); its symmetric eigendecomposition
    * runs on the driver (Breeze `eigSym`, the same boundary where IVF
    * keeps its centroids); the top-k component matrix broadcasts back
    * and projection is one map-side pass. Deterministic: exact-decimal
    * covariance, then a fixed sign convention (each component's
    * largest-|loading| coordinate is made positive; ties → lowest index).
    * Whitening divides each component by √λ (λ floored at 1e-12), so the
    * projected population covariance is the k×k identity. */
  def pcaWhiten(df: DataFrame, vecCol: String, idCol: String, k: Int,
                whiten: Boolean = true, dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim else inferDim(df, vecCol)
    require(k >= 1 && k <= d, s"need 1 <= k <= $d, got $k")
    val momRows = covarianceMoments(df, vecCol, d).collect()
    val mean = {
      // recover the mean from the moments input is not possible (cov only),
      // so take one more bounded agg: d rows of per-dim averages
      val m = df.select(col(vecCol).cast("array<double>").as("e"))
        .filter(size(col("e")) === d)
        .select(posexplode(expr(
          "transform(e, x -> CAST(floor(x * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6)))"))
          .as(Seq("i0", "x")))
        .groupBy(col("i0")).agg(avg(col("x")).cast("double").as("m"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      Array.tabulate(d)(m(_))
    }
    val cov = breeze.linalg.DenseMatrix.zeros[Double](d, d)
    momRows.foreach { r =>
      if (r.isNullAt(2)) throw new IllegalArgumentException(
        s"pcaWhiten: covariance (${r.getInt(0)},${r.getInt(1)}) is outside " +
        "covarianceMoments' exactness envelope (n·max|x_i·x_j|·1e12 must " +
        "stay under ~9e18); pre-scale the vectors or shard the input")
      val (i, j, c) = (r.getInt(0) - 1, r.getInt(1) - 1, r.getDouble(2))
      cov(i, j) = c; cov(j, i) = c
    }
    val es = breeze.linalg.eigSym(cov)
    // eigSym returns ascending eigenvalues; take the top k, largest first
    val order = (0 until d).sortBy(i => -es.eigenvalues(i)).take(k)
    val w = Array.tabulate(k, d) { (r, c) =>
      val v = es.eigenvectors(::, order(r))
      // sign convention: largest-|loading| coordinate positive
      val pivot = (0 until d).maxBy(i => (math.abs(v(i)), -i))
      val s = if (v(pivot) < 0) -1.0 else 1.0
      val scale = if (whiten) 1.0 / math.sqrt(math.max(es.eigenvalues(order(r)), 1e-12)) else 1.0
      v(c) * s * scale
    }
    val spark = df.sparkSession
    val bcW = spark.sparkContext.broadcast(w)
    val bcMean = spark.sparkContext.broadcast(mean)
    val project = udf { (v: Seq[Double]) =>
      val ww = bcW.value; val mu = bcMean.value
      Array.tabulate(ww.length) { r =>
        var s = 0.0; var i = 0
        val lim = math.min(v.length, mu.length)
        while (i < lim) { s += ww(r)(i) * (v(i) - mu(i)); i += 1 }
        s
      }
    }
    df.select(col(idCol).cast("long").as("vid"),
              col(vecCol).cast("array<double>").as("v"))
      .filter(size(col("v")) === d)
      .withColumn("proj", project(col("v")))
      .select(col("vid"), col("proj"))
  }

  /** Symmetric int8 quantization audit — the 4× embedding-storage cut
    * every 100-TB vector corpus takes, with its error measured: per
    * vector, scale = 127/max|x|, q_i = floor(x_i·scale + 0.5) (the
    * pinned rounding rule, replayable in any engine), and the
    * dequantization error x − q/scale reported as EXACT integers on the
    * 1e-9 grid (sum of |err|, max |err|, count of saturated lanes) —
    * no float accumulation, so the audit is bit-identical cross-engine.
    * Pure map-side lambda work over the in-row array; zero shuffle. */
  def int8Quantize(df: DataFrame, vecCol: String, idCol: String): DataFrame = {
    val gen =
      s"""inline(transform(array(transform($vecCol, x -> CAST(x AS DOUBLE))), e ->
            element_at(transform(array(127.0 / array_max(transform(e, x -> abs(x)))), s ->
              element_at(transform(array(transform(e, x ->
                  x - CAST(floor(x * s + 0.5) AS BIGINT) / s)), err ->
                named_struct(
                  'scale6', floor(s * 1e6 + 0.5) / 1e6,
                  'n_sat', CAST(size(filter(e, x ->
                    abs(CAST(floor(x * s + 0.5) AS BIGINT)) >= 127)) AS BIGINT),
                  'sum_abs_err9', aggregate(err, CAST(0 AS BIGINT),
                    (a, x) -> a + abs(CAST(floor(x * 1e9 + 0.5) AS BIGINT))),
                  'max_abs_err9', aggregate(err, CAST(0 AS BIGINT),
                    (a, x) -> greatest(a, abs(CAST(floor(x * 1e9 + 0.5) AS BIGINT)))))), 1)), 1)))"""
    df.filter(expr(s"array_max(transform($vecCol, x -> abs(CAST(x AS DOUBLE)))) > 0"))
      .select(col(idCol), expr(gen))
  }

  /** Matryoshka truncation audit: how much ANN quality survives keeping
    * only the first `subDim` coordinates (Kusupati et al. 2022 — MRL
    * embeddings are trained so prefixes work; this measures it on YOUR
    * vectors). For each of the first `nProbes` ids: exact cosine top-k
    * in full space vs in the renormalized prefix space, reported as
    * recall@k. Scores rank on a 1e-9-quantized grid with id tiebreak, so
    * the sets — and the recall — are deterministic cross-engine.
    *
    * The all-pairs probe join is the d5-style bounded oracle twin
    * (nProbes·|corpus| rows — probes are a constant, so this is a linear
    * scan per probe); the production path at scale is the LSH/IVF
    * family, truncated the same way. */
  def matryoshkaRecall(df: DataFrame, vecCol: String, idCol: String,
                       subDim: Int, k: Int = 10, nProbes: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).cast("long").as("vid"),
      expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("e"))
    // dot and norms accumulate as 1e-12-quantized BIGINTs (order-free,
    // exact) so the ranking grid is bit-identical in any engine
    def s12(a: String, b: String): String =
      s"aggregate(zip_with($a, $b, (x, y) -> CAST(floor(x * y * 1e12 + 0.5) AS BIGINT)), " +
      "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    def cos9(a: String, b: String): Column =
      floor(expr(s"(${s12(a, b)} / 1e12) / sqrt(${s12(a, a)} / 1e12) / sqrt(${s12(b, b)} / 1e12)") *
        1e9 + 0.5).cast("long")
    def topk(vecs: DataFrame): DataFrame = {
      val probes = vecs.filter(col("vid") < nProbes)
        .select(col("vid").as("pid"), col("e").as("pe"))
      val w = Window.partitionBy(col("pid")).orderBy(col("c9").desc, col("vid"))
      vecs.crossJoin(broadcast(probes))
        .filter(col("vid") =!= col("pid"))
        .select(col("pid"), col("vid"), cos9("e", "pe").as("c9"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("pid"), col("vid"))
    }
    val full = topk(base)
    val trunc = topk(base.select(col("vid"), expr(s"slice(e, 1, $subDim)").as("e")))
    full.join(trunc.withColumn("hit", lit(1L)), Seq("pid", "vid"), "left")
      .groupBy(col("pid"))
      .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") / k).as("recall"))
      .select(col("pid"), (floor(col("recall") * 1e6 + 0.5) / 1e6).as("recall"))
  }

  /** Recall@k-vs-nProbe curve for the IVF index — the evaluation harness
    * that picks an ANN operating point (every production vector-search
    * deployment runs exactly this sweep before fixing nProbe): for each
    * probe budget 1..nCells, the fraction of the exact brute-force top-k
    * the IVF path recovers, averaged over the anchor set. The nCells
    * point is provably 1.0 (the s4 exhaustive-probe identity); the curve
    * between is the recall the cell geometry actually buys.
    *
    * ✖est contract (recall depends on the Lloyd geometry), pinned by the
    * monotone + endpoint spec. Cost: nCells bounded IVF probes over the
    * SAME cached assignment each (train repeats deterministically). */
  def ivfRecallCurve(corpus: DataFrame, queryIds: Seq[Long], k: Int,
                     vecCol: String, idCol: String,
                     nCells: Int = 8, lloydIters: Int = 1): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val exact = bruteForceTopK(corpus, queryIds, k, vecCol, idCol)
      .select(col("qid"), col("vid"))
    // ONE training + ONE assignment + ONE scoring pass serve every probe
    // level: a candidate in the query's rc-th closest cell participates
    // in all levels p >= rc (an explode bounded by nCells), and recall@p
    // reads off a (qid, p)-ranked window — vs nCells independent IVF
    // runs each re-running Lloyd and re-scanning the corpus.
    val v = corpus.select(col(idCol).cast("long").as("vid"),
                          col(vecCol).cast("array<double>").as("v")).cache()
    val cents = trainCentroids(v, nCells, lloydIters)
    val assigned = assignCells(v, cents)
      .withColumn("norm", graft.functions.VectorOps.l2norm(col("v")))
    val qVecs = assigned.filter(col("vid").isin(queryIds: _*))
      .select(col("vid"), col("v"), col("norm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    // per (query, cell): the cell's closeness rank rc
    val cellRank = qVecs.flatMap { case (qid, qv, _) =>
      cents.zipWithIndex.map { case (cent, c) =>
        var dot = 0.0; var nc = 0.0; var j = 0
        val lim = math.min(qv.length, cent.length)
        while (j < lim) { dot += cent(j) * qv(j); nc += cent(j) * cent(j); j += 1 }
        (qid, c, if (nc == 0) Double.NegativeInfinity else dot / math.sqrt(nc))
      }.sortBy(-_._3).zipWithIndex
        .map { case ((q, c, _), i) => (q, c, (i + 1).toLong) }
    }.toSeq.toDF("qid", "cell", "rc")
    val qDf = qVecs.toSeq.map { case (qid, qv, n) => (qid, qv.toSeq, n) }
      .toDF("qid", "qv", "qnorm")
    val hits = assigned
      .join(broadcast(cellRank), Seq("cell"))
      .filter(col("vid") =!= col("qid"))
      .join(broadcast(qDf), Seq("qid"))
      .withColumn("dot", graft.functions.VectorOps.dot(col("v"), col("qv")))
      .withColumn("cosine",
        floor(col("dot") / (col("norm") * col("qnorm")) * 1e6 + 0.5) / 1e6)
      .select(col("qid"), col("vid"), col("cosine"),
        explode(expr(s"sequence(rc, ${nCells}L)")).as("p"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"), col("p"))
          .orderBy(col("cosine").desc, col("vid"))))
      .filter(col("rank") <= k)
      .select(col("p"), col("qid"), col("vid")).withColumn("hit", lit(1L))
    val levels = broadcast(
      spark.range(1, nCells + 1).select(col("id").as("p")))
    val out = exact.crossJoin(levels)
      .join(hits, Seq("p", "qid", "vid"), "left")
      .groupBy(col("p"))
      .agg((sum(coalesce(col("hit"), lit(0L))).cast("double")
        / count(lit(1))).as("r"))
      .select(col("p").as("n_probe"),
              (floor(col("r") * 1e6 + 0.5) / 1e6).as("recall"))
    localized(out, { v.unpersist(); () })
  }

  /** Margin-based parallel-pair mining (Artetxe & Schwenk 2019, "Margin-
    * based Parallel Corpus Mining with Multilingual Sentence Embeddings",
    * ACL — the LASER/CCMatrix bitext scoring rule): raw cosine over-fires
    * in dense neighborhoods, so each candidate pair is scored by its
    * cosine RELATIVE to both sides' local neighborhood density,
    *   margin(x,y) = cos(x,y) / ((avgNN_k(x→Y) + avgNN_k(y→X)) / 2)
    * and each anchor keeps its best-margin match. Here the two "sides"
    * are the anchor set and every corpus vector with a DIFFERENT label
    * (the cross-corpus stand-in the synthetic table affords).
    *
    * Scale shape: bounded anchors broadcast against one partitioned
    * corpus scan (the s13 contract); the forward-NN means reduce to
    * |anchors| rows; the backward-NN means are a shuffle of ~24 B/row
    * (qid, vid, cos) tuples — never the vectors. All cosines live on the
    * 1e-6 grid, means divide exact integer sums, ties break by vid —
    * fully hash-checkable. For corpus×corpus mining both sides route
    * through IVF cells first; this form is the exact oracle twin. */
  def bitextMargin(corpus: DataFrame, anchorIds: Seq[Long], k: Int,
                   vecCol: String, idCol: String,
                   labelCol: String): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val v = corpus.select(col(idCol).cast("long").as("vid"),
                          col(labelCol).cast("long").as("lbl"),
                          col(vecCol).cast("array<double>").as("v"))
      .withColumn("norm", graft.functions.VectorOps.l2norm(col("v")))
    val q = v.filter(col("vid").isin(anchorIds: _*))
      .select(col("vid").as("qid"), col("lbl").as("qlbl"),
              col("v").as("qv"), col("norm").as("qnorm"))
    val scored = v.join(broadcast(q),
        col("vid") =!= col("qid") && col("lbl") =!= col("qlbl"))
      .withColumn("dot", graft.functions.VectorOps.dot(col("v"), col("qv")))
      .withColumn("cos6",
        floor(col("dot") / (col("norm") * col("qnorm")) * 1e6 + 0.5) / 1e6)
      .select(col("qid"), col("vid"), col("cos6"))
    // forward neighborhood density: mean of each anchor's top-k cosines
    val wQ = Window.partitionBy(col("qid")).orderBy(col("cos6").desc, col("vid"))
    val fwd = scored.withColumn("rk", row_number().over(wQ))
      .filter(col("rk") <= k)
      .groupBy(col("qid"))
      .agg(((sum(floor(col("cos6") * 1e6 + 0.5).cast("long")).cast("double")
        / count(lit(1))) / 1e6).as("a_fwd"))
    // backward density: each candidate's top-k cosines over the anchors
    val wV = Window.partitionBy(col("vid")).orderBy(col("cos6").desc, col("qid"))
    val bwd = scored.withColumn("rk", row_number().over(wV))
      .filter(col("rk") <= k)
      .groupBy(col("vid"))
      .agg(((sum(floor(col("cos6") * 1e6 + 0.5).cast("long")).cast("double")
        / count(lit(1))) / 1e6).as("a_bwd"))
    scored.join(broadcast(fwd), Seq("qid")).join(bwd, Seq("vid"))
      .withColumn("margin6",
        floor(col("cos6") / ((col("a_fwd") + col("a_bwd")) / 2.0) * 1e6 + 0.5) / 1e6)
      .groupBy(col("qid"))
      .agg(max(struct(col("margin6"), (-col("vid")).as("nv"), col("vid"),
                      col("cos6"))).as("m"))
      .select(col("qid"), col("m.vid").as("vid"), col("m.cos6").as("cos6"),
              col("m.margin6").as("margin"))
  }

  // ---- clustering-quality diagnostics ------------------------------------

  /** Simplified (centroid-based) silhouette of the label partition
    * (Rousseeuw 1987; the centroid form is the O(n·k) variant every
    * large-scale evaluator uses instead of the O(n²) pairwise original):
    * per vector, a = euclidean distance to the OWN label centroid, b =
    * the nearest OTHER centroid, s = (b − a)/max(a, b); reported as the
    * per-label mean. s near 1 = compact and separated; near 0 =
    * boundary; negative = likely mislabeled — the quality gate on any
    * partition (labels, k-means cells) before it drives dedup keeps or
    * mixture splits.
    *
    * Determinism: centroid means round to the 1e-6 grid FIRST (both
    * engines then consume identical anchors), squared-difference terms
    * fold on the 1e-9 grid, one sqrt per (vector, label) pair. Shape:
    * one (label, dim) reduce for centroids (k·d rows, broadcast), one
    * n·d explode joined to it (n·d·k 8-byte terms, map-side partials),
    * one (vid, label') reduce, one per-label reduce. */
  def labelSilhouette(df: DataFrame, vecCol: String, labelCol: String,
                      idCol: String): DataFrame = {
    val cents = labelCentroids(df, vecCol, labelCol)
      .select(col("label").as("label2"), col("dim"),
        (floor(col("mean") * 1e6 + 0.5) / 1e6).as("m6"))
    val dims = df.select(col(idCol).cast("long").as("vid"),
        col(labelCol).cast("long").as("label"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim0", "x")))
      .select(col("vid"), col("label"), (col("dim0") + 1).as("dim"), col("x"))
    val d2 = dims.join(broadcast(cents), Seq("dim"))
      .withColumn("t9", floor((col("x") - col("m6")) * (col("x") - col("m6"))
        * lit(1e9) + lit(0.5)).cast("long"))
      .groupBy(col("vid"), col("label"), col("label2"))
      .agg(sum(col("t9")).as("d9"))
    val ab = d2.groupBy(col("vid"), col("label"))
      .agg(max(when(col("label") === col("label2"), col("d9"))).as("a9"),
           min(when(col("label") =!= col("label2"), col("d9"))).as("b9"))
      .filter(col("a9").isNotNull && col("b9").isNotNull)
      .withColumn("a", sqrt(col("a9") / 1e9))
      .withColumn("b", sqrt(col("b9") / 1e9))
      .filter(greatest(col("a"), col("b")) > 0)
      .withColumn("s",
        (col("b") - col("a")) / greatest(col("a"), col("b")))
    ab.groupBy(col("label"))
      .agg(count(lit(1)).cast("long").as("n"),
           sum(floor(col("s") * lit(1e9) + lit(0.5)).cast("long")).as("s9"))
      .withColumn("mean_sil", col("s9") / 1e9 / col("n"))
      .select(col("label"), col("n"), col("mean_sil"))
  }

  /** Pairwise cosine similarity between per-label embedding centroids —
    * the label-geometry audit behind [[labelSilhouette]] (which labels
    * are embedding-confusable) and the drift monitor between corpus
    * slices. Centroid coordinates are built EXACTLY: per (label, dim)
    * the coordinate sum folds as 1e-9-grid BIGINTs, the mean is one
    * division, and the mean re-quantizes to the 1e-6 grid so every
    * dot/norm term is a product of exact integers — the whole matrix is
    * bit-identical cross-engine. Emits upper-triangular pairs
    * (label_a, label_b, cos).
    *
    * Scale shape: one posexplode reduce to |labels|·dim rows, then all
    * pair arithmetic happens on that tiny table (broadcast self-join).
    * Contract: |m6| ≤ ~9·10^5 per coordinate (unit-scale embeddings),
    * so dot terms stay far inside BIGINT. */
  def centroidSimilarity(df: DataFrame, vecCol: String,
                         labelCol: String): DataFrame = {
    val coords = df
      .select(col(labelCol).as("label"),
        posexplode(expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))"))
          .as(Seq("d", "v")))
      .groupBy(col("label"), col("d"))
      .agg(sum(floor(col("v") * lit(1e9) + lit(0.5)).cast("long")).as("s9"),
           count(lit(1)).cast("long").as("n"))
      .withColumn("m6",
        floor(col("s9").cast("double") / col("n") / lit(1e3) + lit(0.5))
          .cast("long"))
      .select(col("label"), col("d"), col("m6"))
    val a = coords.select(col("label").as("label_a"), col("d"),
      col("m6").as("ma"))
    val b = coords.select(col("label").as("label_b"), col("d"),
      col("m6").as("mb"))
    a.join(b, Seq("d"))
      .filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum(col("ma") * col("mb")).as("dot"),
           sum(col("ma") * col("ma")).as("na"),
           sum(col("mb") * col("mb")).as("nb"))
      .withColumn("cos",
        when(col("na") > 0 && col("nb") > 0,
          col("dot").cast("double")
            / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))))
      .select(col("label_a"), col("label_b"), col("cos"))
  }

  /** Johnson–Lindenstrauss random projection (Achlioptas 2003,
    * "Database-friendly random projections") with a DETERMINISTIC
    * Rademacher (±1) matrix: out_j = Σ_i sign(i,j)·v_i, where
    * sign(i,j) = +1 iff the HIGH bit of LCG(i·outDim + j) is set, using
    * the classic glibc LCG (a = 1103515245, c = 12345, mod 2^31 —
    * products fit in a long for any realistic dim). The high bit, not
    * the low: with odd a and odd c the low bit of a*k+c is just the
    * parity of k+1, so sign(i,j) would depend only on (i·outDim+j) mod 2
    * — for even outDim that is a rank-1 matrix (every column equal up to
    * sign) that preserves no pairwise distance. The top bit of a single
    * LCG step is equidistributed across k. No stored projection matrix, no RNG
    * state: the matrix is a pure function both engines (and every
    * executor) evaluate identically, so the projection of a vector is
    * reproducible forever — the property a 100-TB embedding store needs
    * to project incrementally without shipping a matrix.
    *
    * Determinism: each input coordinate is quantized to the 1e-9 grid
    * FIRST (a BIGINT), then the signed sum folds exactly — projection
    * values are bit-identical under any addition order. Pure map-side
    * scalar expression over the vector column: zero shuffle, one scan,
    * dimensionality (and downstream ANN cost) drops dim→outDim. */
  def randomProject(df: DataFrame, vecCol: String, idCol: String,
                    outDim: Int): DataFrame = {
    require(outDim >= 1, s"need outDim >= 1, got $outDim")
    val gen =
      s"""transform(sequence(0, ${outDim - 1}), j ->
            aggregate(sequence(0, size($vecCol) - 1), CAST(0 AS BIGINT),
              (a, i) -> a +
                (CASE WHEN (1103515245L * CAST(i * $outDim + j AS BIGINT) + 12345L)
                        % 2147483648L >= 1073741824L
                      THEN 1L ELSE -1L END)
                * CAST(floor(CAST(element_at($vecCol, i + 1) AS DOUBLE)
                             * 1e9 + 0.5) AS BIGINT)))"""
    df.select(col(idCol), expr(gen).as("proj9"))
  }
}
