package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family for large-scale corpus pipelines (north star:
  * BASELINE.json §6). All operators are pure DataFrame transforms —
  * shuffles only on content keys, so they scale horizontally:
  * exact dedup = one hash-shuffle; near-dup = shingle-explode (map),
  * shuffle on shingle/bucket, bounded candidate verify. */
object Dedup {

  /** Exact dedup: hash(text) groups, keep the smallest id (deterministic
    * canonical representative). One shuffle on the 128-bit content hash. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Incremental exact dedup — the ingest-time form of [[exact]]: a NEW
    * batch checked against the EXISTING corpus (and against itself, in
    * id order). A new doc survives iff its content hash appears nowhere
    * in the corpus and it is the first occurrence within the batch —
    * the "only add novel documents" rule every continuously-ingesting
    * pipeline runs, without ever re-deduplicating the corpus.
    *
    * Shape: the corpus contributes only its DISTINCT hash set (at rest
    * this is the stored fingerprint index, not a text scan); the batch
    * left-anti-joins that set on the hash, then keeps min-id per
    * surviving hash. Both joins are hash-equi on md5 — corpus text never
    * moves, batch text never shuffles (only its 16-byte hashes do).
    * Returns the surviving (id, text_hash) pairs. */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame,
                       textCol: String, idCol: String): DataFrame = {
    val corpusHashes = corpus.select(md5(col(textCol)).as("text_hash")).distinct()
    batch.select(col(idCol).cast("long").as("id"),
                 md5(col(textCol)).as("text_hash"))
      .join(corpusHashes, Seq("text_hash"), "left_anti")
      .groupBy(col("text_hash")).agg(min(col("id")).as("id"))
      .select(col("id"), col("text_hash"))
  }

  /** Exact dedup with a QUALITY policy: within each duplicate cluster
    * keep the row maximizing `scoreCol` (ties → smallest id) — the
    * curation variant of [[exact]] ("keep the best copy", e.g. longest /
    * highest-quality). One shuffle on the content hash; the argmax is a
    * window over the clustered rows, so it shares that exchange. */
  def exactKeepBest(df: DataFrame, textCol: String, idCol: String,
                    scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byHash = Window.partitionBy(col("text_hash"))
    val ranked = df.withColumn("text_hash", md5(col(textCol)))
      .withColumn("rn", row_number().over(
        byHash.orderBy(col(scoreCol).desc, col(idCol).asc)))
      .withColumn("n_dups", count(lit(1)).over(byHash))
    ranked.filter(col("rn") === 1)
      .select(col("text_hash"), col(idCol).as("keep_id"),
              col(scoreCol).as("best_score"), col("n_dups"))
  }

  /** (id, shingle) rows before dedup — the explode is map-side. */
  private def rawShingles(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("sid"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("sid"), explode(expr(
        s"transform(sequence(1, size(w) - ${n - 1}), i -> " +
        (1 to n).map(j => s"element_at(w, i + ${j - 1})").mkString("concat_ws(' ', ", ", ", ")") + ")"
      )).as("s"))

  /** Distinct word n-gram shingles: (id, shingle). */
  def shingles(df: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame =
    rawShingles(df, textCol, idCol, n).distinct()

  /** Undeduped 64-bit shingle hashes: (sid, h). Each word is hashed once
    * and the n-gram hash combines the n word hashes (`xxhash64(h1..hn)`)
    * — no per-shingle string concatenation, and each word is hashed once
    * instead of n times. Distinct n-grams map to distinct hash tuples, so
    * set semantics match the string shingles (64-bit collisions are
    * negligible at corpus scale: P ≈ m²/2⁶⁵). */
  private def rawShingleHashes(df: DataFrame, textCol: String, idCol: String, n: Int,
                               widen: Boolean = true): DataFrame =
    (if (widen) graft.core.Par.widen(df) else df).select(col(idCol).as("sid"),
        expr(s"transform(split(`$textCol`, ' '), x -> xxhash64(x))").as("wh"))
      .filter(size(col("wh")) >= n)
      .select(col("sid"), explode(expr(
        s"transform(sequence(1, size(wh) - ${n - 1}), i -> " +
        (0 until n).map(j => s"element_at(wh, i + $j)").mkString("xxhash64(", ", ", ")") + ")"
      )).as("h"))

  /** Distinct 64-bit shingle hashes: (sid, h). The join/aggregation keys
    * downstream are 8-byte longs instead of n-word strings — ~4× less
    * shuffle volume, same set semantics. The hash is applied BEFORE the
    * distinct, so only one shuffle materializes the set. */
  def shingleHashes(df: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame =
    rawShingleHashes(df, textCol, idCol, n).distinct()

  /** Exact n-gram Jaccard near-dup pairs: |A∩B| / |A∪B| ≥ threshold.
    * Intersection via shingle self-join (only docs SHARING a shingle are
    * ever paired — no quadratic blowup on non-overlapping corpora). */
  /** `maxDf`: optional document-frequency cap — shingles appearing in more
    * than `maxDf` docs are excluded from the PAIRING join (denominator
    * sizes stay exact). At corpus scale this is the standard skew guard
    * (a stop-shingle shared by k docs alone creates k² candidate rows);
    * the computed Jaccard becomes a lower bound, so pairs can only be
    * missed, never invented. Default None = exact (oracle-checked)
    * semantics; residual skew inside the cap is AQE skew-join territory. */
  def ngramJaccard(df: DataFrame, textCol: String, idCol: String,
                   n: Int = 3, threshold: Double = 0.5,
                   maxDf: Option[Int] = None): DataFrame =
    shinglePairs(df, textCol, idCol, n, maxDf)
      .withColumn("jaccard", col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** One-sided n-gram CONTAINMENT (Broder 1997's resemblance companion):
    * c(A→B) = |A∩B| / |A| — the measure Jaccard structurally cannot see:
    * a short document wholly quoted inside a long one has tiny Jaccard
    * (the union is dominated by the long doc) but containment 1.0. The
    * quote/subset/excerpt detector a dedup pipeline runs NEXT TO d2.
    * Emits pairs where EITHER direction clears the threshold, with both
    * directions reported. Identical plan shape to [[ngramJaccard]] —
    * same single shingle aggregation, same hash-equi pair join. */
  def ngramContainment(df: DataFrame, textCol: String, idCol: String,
                       n: Int = 3, threshold: Double = 0.8,
                       maxDf: Option[Int] = None): DataFrame =
    shinglePairs(df, textCol, idCol, n, maxDf)
      .withColumn("cont_a", col("i").cast("double") / col("na"))
      .withColumn("cont_b", col("i").cast("double") / col("nb"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select(col("id_a"), col("id_b"), col("cont_a"), col("cont_b"))

  /** Prefix-filtered n-gram Jaccard join (Chaudhuri–Ganti–Kaushik 2006 /
    * Bayardo et al. 2007 "Scaling Up All Pairs" prefix filtering): the
    * LOSSLESS scale upgrade to [[ngramJaccard]]'s full inverted-index
    * join. Under a global (df, h) token order, any pair with J ≥ t has
    * |A∩B| ≥ ⌈t·|A|⌉, so A's intersection cannot fit inside its last
    * ⌈t·|A|⌉ − 1 ordered tokens — its PREFIX of length
    * |A| − ⌈t·|A|⌉ + 1 must hit B. Candidates therefore come from
    * prefix(left) ⨝ full(right): at t = 0.5 the probing side shrinks
    * ~2×, and because prefixes are the RAREST tokens (df-ascending
    * order), the candidate blow-up from boilerplate shingles collapses —
    * the frequent tokens that generate O(df²) pairs in d2's join never
    * probe. Verification computes the exact intersection from the two
    * docs' shingle arrays map-side (candidate-pair-sized shuffle of
    * sets, never the corpus).
    *
    * Prefix filtering is EXACT: the output equals [[ngramJaccard]]
    * row-for-row, which is this operator's oracle (the d2 hash twin). */
  def ngramJaccardPrefix(df: DataFrame, textCol: String, idCol: String,
                         n: Int = 3, threshold: Double = 0.5,
                         cacheInputBytesMax: Long = 32L << 20): DataFrame = {
    // (sid, hs, nsh) is consumed THREE ways (prefix build + both verify
    // joins) and expression-id drift defeats ReuseExchange — unchecked,
    // the tokenize→shingle→collect_set subtree runs FIVE times (measured
    // in the physical plan: five identical scan→Generate→OHA chains, zero
    // ReusedExchange). Materialize it once. persist() (columnar,
    // compressed) rather than localCheckpoint: the payload is the
    // corpus's shingle-set ARRAYS, and checkpointing them as deserialized
    // row objects regressed the sf1 soak
    // (11.6 s un-materialized → 17+ s checkpointed isolated-equivalent)
    // while the compact cache measured 4.5 s there. Variants measured
    // isolated at sf1/sf10: none 11.6/59.1, persist() 4.5/67.9,
    // DISK_ONLY 4.9/85.5 — the cache wins 2.6× at sf1 (and at sf0.1,
    // where the driver benches) and costs +15% at sf10 where the
    // candidate join dominates everything. SIZE-KEYED (r16, the verdict's
    // d20 policy ask): the cache engages only below `cacheInputBytesMax`
    // of estimated input bytes (32 MB ≈ sf5 documents — between the
    // measured sf1 win and the sf10 loss), so both regimes get their
    // measured-best plan. CACHE LIFETIME (ADVICE r15): the returned frame
    // is lazy, so the operator cannot unpersist for you — the cache lives
    // until the caller's session clears it (the bench clears after every
    // query; long-lived sessions own `spark.sharedState.cacheManager` /
    // `unpersist` hygiene).
    val cacheIt = df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      BigInt(cacheInputBytesMax)
    val docTok0 = rawShingleHashes(df, textCol, idCol, n)
      .groupBy(col("sid"))
      .agg(collect_set(col("h")).as("hs"))
      .select(col("sid"), col("hs"), size(col("hs")).as("nsh"))
    val docTok = if (cacheIt) docTok0.persist() else docTok0
    prefixCandidates(docTok, threshold)
      .join(docTok.select(col("sid").as("id_a"), col("hs").as("hsa"),
        col("nsh").as("na")), Seq("id_a"))
      .join(docTok.select(col("sid").as("id_b"), col("hs").as("hsb"),
        col("nsh").as("nb")), Seq("id_b"))
      .withColumn("i", size(array_intersect(col("hsa"), col("hsb"))).cast("long"))
      .withColumn("jaccard",
        col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** The candidate-pair sub-plan of [[ngramJaccardPrefix]], exposed for
    * observability (the componentsStats pattern): (id_a, id_b) pairs
    * where one of A's prefix tokens appears anywhere in B. On a
    * boilerplate-skewed corpus this is ORDERS OF MAGNITUDE below the
    * full inverted-index pairing (the df² blow-up never probes);
    * spec-demonstrated. On uniform-df synthetic data the prefix plan's
    * extra df pass costs more than it saves (measured 3.4 s vs d2's
    * 2.1 s at sf0.1) — the operator exists for the skewed regime real
    * corpora live in. Input: (sid, hs, nsh) doc shingle-set rows. */
  def prefixCandidates(docTok: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"need t in (0,1], got $threshold")
    val exploded = docTok.select(col("sid"), col("nsh"),
        explode(col("hs")).as("h"))
    val dfreq = exploded.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val ordered = exploded.join(dfreq, Seq("h"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("sid")).orderBy(col("df"), col("h"))))
      // prefix length |A| − ⌈t·|A|⌉ + 1
      .withColumn("plen",
        col("nsh") - ceil(lit(threshold) * col("nsh")).cast("long") + 1L)
    val prefix = ordered.filter(col("rk") <= col("plen"))
      .select(col("sid").as("id_a"), col("h"))
    val full = exploded.select(col("sid").as("id_b"), col("h"))
    prefix.join(full, Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Shared pair-intersection core for [[ngramJaccard]] and
    * [[ngramContainment]]: (id_a, id_b, i, na, nb) for every id-ordered
    * pair sharing at least one shingle. ONE aggregation builds each
    * doc's distinct shingle set AND its size (dedup folded into
    * collect_set — a document's shingle set is bounded by the document
    * length, so the per-group buffer is safe at any corpus scale); the
    * explode re-emitting (sid, h, nsh) is map-side. vs. the distinct +
    * separate-sizes + broadcast-join formulation this drops one
    * full-corpus shuffle, the cache, and the broadcast build, and the
    * two pairing sides are identical subtrees up to the join exchange,
    * so ReuseExchange materializes the set only once. */
  private def shinglePairs(df: DataFrame, textCol: String, idCol: String,
                           n: Int, maxDf: Option[Int]): DataFrame = {
    val docSets = rawShingleHashes(df, textCol, idCol, n)
      .groupBy(col("sid"))
      .agg(collect_set(col("h")).as("hs"))
      .select(col("sid"), explode(col("hs")).as("h"), size(col("hs")).as("nsh"))
    val sh2 = maxDf match {
      case None => docSets
      case Some(cap) =>
        val hot = docSets.groupBy(col("h")).agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select(col("h"))
        docSets.join(hot, Seq("h"), "left_anti")
    }
    val a = sh2.select(col("sid").as("id_a"), col("h"), col("nsh").as("na"))
    val b = sh2.select(col("sid").as("id_b"), col("h"), col("nsh").as("nb"))
    a.join(b, Seq("h")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("i"), first(col("na")).as("na"),
           first(col("nb")).as("nb"))
  }

  /** MinHash signatures: k independent hashes h_i(x) = (a_i·x + b_i) mod p
    * over the (31-bit-reduced) shingle hash, minimized per doc. p = 2^31-1
    * keeps every product < 2^62 — no long overflow under ANSI arithmetic.
    * Deterministic (fixed xorshift-derived a_i, b_i). Input: (sid, h)
    * shingle-hash rows; duplicates are harmless (min over a multiset
    * equals min over its set), so callers can feed raw undeduped rows
    * and skip a full-corpus distinct. Returns (sid, sig). */
  def minHashSignatures(sh: DataFrame, k: Int = 16): DataFrame = {
    val p = 2147483647L // 2^31 - 1 (Mersenne prime)
    val coef = hashCoefficients(k, p)
    val hashCols = coef.zipWithIndex.map { case ((a, b), i) =>
      min((col("x") * lit(a) + lit(b)) % lit(p)).as(s"h$i")
    }
    sh.withColumn("x", pmod(col("h"), lit(p)))
      .groupBy(col("sid"))
      .agg(hashCols.head, hashCols.tail: _*)
      .select(col("sid"), array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
  }

  private def pmod(c: Column, m: Column): Column = ((c % m) + m) % m

  /** Deterministic hash coefficients in [1, p) (xorshift) — shared with
    * the single-pass [[graft.functions.MinHashSig]] expression so both
    * signature paths are bit-identical. */
  private[graft] def hashCoefficients(k: Int, p: Long): Seq[(Long, Long)] = {
    var s = 0x9E3779B97F4A7C15L
    def next(): Long = { s ^= s << 13; s ^= s >>> 7; s ^= s << 17; (s >>> 33) % (p - 1) + 1 }
    Seq.fill(k)((next(), next()))
  }

  /** MinHash + LSH near-dup: band the signatures (bandsCount bands of
    * k/bandsCount rows), bucket-join within bands → candidate pairs →
    * verify with exact Jaccard. Approximate (recall < 1 by design) —
    * hence ✖est/rows-only; the exact variant above is the oracle-checked
    * twin. Scales: candidates only form inside identical-band buckets. */
  def minHashLsh(df: DataFrame, textCol: String, idCol: String,
                 n: Int = 3, k: Int = 16, bands: Int = 8,
                 threshold: Double = 0.5): DataFrame = {
    // signatures come from the single-pass MinHashSig expression —
    // entirely map-side (no shingle explode, no shuffle); a doc with
    // fewer than n words has no shingles and drops out, matching the
    // aggregation path's semantics
    // widen first: the signature expression is the CPU cost of this
    // operator and must not run single-threaded off a one-row-group scan
    val sig = graft.core.Par.widen(df).select(col(idCol).as("sid"),
        graft.functions.MinHashSig(col(textCol), n, k).as("sig"))
      .filter(col("sig").isNotNull)
    val rows = k / bands
    val banded = sig.select(col("sid"), posexplode(expr(
      s"transform(sequence(0, ${bands - 1}), b -> hash(b, slice(sig, b * $rows + 1, $rows)))")))
      .toDF("sid", "band", "bucket")
    val cand = banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
        col("l.sid") < col("r.sid"))
      .select(col("l.sid").as("id_a"), col("r.sid").as("id_b")).distinct()
      // cand feeds both the id-filter and the final pair join; it is tiny
      // (LSH-bounded pair count), so pinning it avoids recomputing the
      // whole signature pipeline per consumer
      .cache()
    // verify candidates with exact jaccard: the shingle hash is part of
    // the second equi-join key, so only MATCHING shingles pair up —
    // |A∩B| rows per candidate, not |A|×|B| rows filtered afterwards.
    // Only docs that appear in a candidate pair are verified: a broadcast
    // semi-join on the DOCUMENT table re-shingles just that (LSH-bounded)
    // subset, so verification cost — including the shingling itself —
    // scales with the candidate count, not the corpus.
    val ids = cand.select(explode(array(col("id_a"), col("id_b"))).as("cand_id")).distinct()
    val candDocs = df.join(broadcast(ids), col(idCol) === col("cand_id")).drop("cand_id")
    // widen = false: candDocs is a join subtree, not a raw scan — the
    // Par.widen width probe would force a second full physical planning
    // of it; the broadcast join already inherits the scan's parallelism
    val sh2 = rawShingleHashes(candDocs, textCol, idCol, n, widen = false)
      .groupBy(col("sid"))
      .agg(collect_set(col("h")).as("hs"))
      .select(col("sid"), explode(col("hs")).as("h"), size(col("hs")).as("nsh"))
    cand
      .join(sh2.toDF("id_a", "h", "na"), Seq("id_a"))
      .join(sh2.toDF("id_b", "h", "nb"), Seq("id_b", "h"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("i"), first(col("na")).as("na"), first(col("nb")).as("nb"))
      .withColumn("jaccard", col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** r = 1 corner of [[minHashLsh]] over the engine-portable md5 shingle
    * hash (r11 task #6b): with bands = k (one signature row per band)
    * the LSH candidate rule degenerates to "ANY of the k permutation
    * mins agree" — fully SQL-replayable, so the whole candidate + verify
    * pipeline hash-checks cross-engine. Same [[hashCoefficients]]
    * permutation family and the same band-bucket-join / exact-jaccard
    * verify shape as the production path; only the base shingle hash is
    * md5 instead of xxhash64 (DuckDB has no xxhash64). Returns
    * (id_a, id_b, jaccard ≥ threshold). */
  def minHashLshR1(df: DataFrame, textCol: String, idCol: String,
                   n: Int = 3, k: Int = 16,
                   threshold: Double = 0.5): DataFrame = {
    val p = 2147483647L
    val coef = hashCoefficients(k, p)
    val words = graft.core.Par.widen(df)
      .select(col(idCol).as("sid"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= n)
    val shing = words.select(col("sid"), explode(expr(
        s"transform(sequence(1, size(w) - ${n - 1}), i -> concat_ws(' ', slice(w, i, $n)))")).as("g"))
      .select(col("sid"),
        (conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long") % p).as("x"))
    // one aggregation builds each doc's DISTINCT shingle-hash set + size
    // (the ngramJaccard discipline); both the signature mins and the
    // verify join read from this exploded set
    val sets = shing.groupBy(col("sid")).agg(collect_set(col("x")).as("hs"))
      .select(col("sid"), explode(col("hs")).as("x"), size(col("hs")).as("nsh"))
      .cache()
    val sigCols = coef.zipWithIndex.map { case ((a, b), i) =>
      min((col("x") * lit(a) + lit(b)) % lit(p)).as(s"h$i") }
    val sig = sets.groupBy(col("sid")).agg(sigCols.head, sigCols.tail: _*)
    val bandRows = sig.select(col("sid"),
      posexplode(array((0 until k).map(i => col(s"h$i")): _*)).as(Seq("band", "v")))
    val cand = bandRows.as("l").join(bandRows.as("r"),
        col("l.band") === col("r.band") && col("l.v") === col("r.v") &&
        col("l.sid") < col("r.sid"))
      .select(col("l.sid").as("id_a"), col("r.sid").as("id_b")).distinct()
    cand
      .join(sets.toDF("id_a", "x", "na"), Seq("id_a"))
      .join(sets.toDF("id_b", "x", "nb"), Seq("id_b", "x"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("i"), first(col("na")).as("na"), first(col("nb")).as("nb"))
      .withColumn("jaccard", col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Typed SimHash aggregator (SURVEY §2.11 UDAF surface): buffer = 64
    * bit-counters, reduce = one tight loop per token hash — a single
    * partial+final aggregation pass instead of 64 separate sum(when)
    * aggregate expressions. */
  private class SimHashAgg extends org.apache.spark.sql.expressions.Aggregator[Long, Array[Int], Long] {
    def zero: Array[Int] = new Array[Int](64)
    def reduce(b: Array[Int], h: Long): Array[Int] = {
      var i = 0
      while (i < 64) { b(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1); i += 1 }
      b
    }
    def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      var i = 0
      while (i < 64) { a(i) += b(i); i += 1 }
      a
    }
    def finish(b: Array[Int]): Long = {
      var out = 0L
      var i = 0
      while (i < 64) { if (b(i) > 0) out |= (1L << i); i += 1 }
      out
    }
    def bufferEncoder = org.apache.spark.sql.Encoders.kryo[Array[Int]]
    def outputEncoder = org.apache.spark.sql.Encoders.scalaLong
  }

  /** SimHash: 64-bit fingerprint — per token-hash bit, sum ±1 weights,
    * take the sign. Near-dups = pairs with hamming distance ≤ maxHamming.
    * The fingerprint is the single-pass [[graft.functions.SimHashSig]]
    * expression (map-side, no token explode or shuffle); the pair scan
    * joins on 16-bit blocks (standard 4-block split — pigeonhole
    * guarantees recall for hamming ≤ 3). */
  def simHash(df: DataFrame, textCol: String, idCol: String): DataFrame =
    graft.core.Par.widen(df).select(col(idCol).as("sid"),
              graft.functions.SimHashSig(col(textCol)).as("simhash"))

  /** The explode + typed-Aggregator formulation of [[simHash]] — kept as
    * the cross-check twin (FunctionsSpec asserts bit-equality) and as the
    * shape to use when tokens arrive already exploded. */
  def simHashViaAgg(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val simhashUdaf = udaf(new SimHashAgg(), org.apache.spark.sql.Encoders.scalaLong)
    df.select(col(idCol).as("sid"),
              explode(split(col(textCol), " ")).as("t"))
      .select(col("sid"), xxhash64(col("t")).as("h"))
      .groupBy(col("sid"))
      .agg(simhashUdaf(col("h")).as("simhash"))
  }

  /** Generic Hamming near-dup pairs over ANY 64-bit signature column —
    * the 4-block pigeonhole matcher factored out of [[simHashPairs]] so
    * it serves every 64-bit perceptual key (text SimHash, image dHash
    * — `Multimodal.dHash` — audio chromaprints…). For maxHamming ≤ 3
    * the pigeonhole is EXACT, not probabilistic: hamming ≤ 3 across 4
    * blocks forces at least one identical 16-bit block, so the bucketed
    * join provably finds every qualifying pair and the exact
    * `bit_count` filter discards the rest. One (block, key) self-join —
    * bucketed, never all-pairs. */
  def hammingPairs(df: DataFrame, hashCol: String, idCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val sh = df.select(col(idCol).cast("long").as("sid"),
                       col(hashCol).cast("long").as("__sig"))
    val blocked = sh.select(col("sid"), col("__sig"), posexplode(expr(
      "transform(sequence(0, 3), b -> (__sig >> (b * 16)) & 65535)")))
      .toDF("sid", "__sig", "block", "key")
    blocked.as("l").join(blocked.as("r"),
        col("l.block") === col("r.block") && col("l.key") === col("r.key") &&
        col("l.sid") < col("r.sid"))
      .select(col("l.sid").as("id_a"), col("r.sid").as("id_b"),
              expr("bit_count(l.__sig ^ r.__sig)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs via 4-block LSH (hamming ≤ 3 ⇒ at least one
    * identical 16-bit block — pigeonhole). */
  def simHashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3): DataFrame =
    hammingPairs(simHash(df, textCol, idCol), "simhash", "sid", maxHamming)

  /** Near-dup CLUSTERS from a pair list — the production step after any
    * pair generator ([[ngramJaccard]], [[minHashLsh]], [[simHashPairs]]):
    * connected components by iterative min-label propagation, so "keep
    * one doc per duplicate cluster" becomes a groupBy(component).
    *
    * Each round is one shuffle (labels joined to the edge list, min-agg);
    * labels only DECREASE, so the fixpoint check is a cheap monotone
    * aggregate compare, and the loop stops after the graph diameter many
    * rounds (near-dup clusters are near-cliques — diameter is small; the
    * `maxIter` cap guards pathological chains). Output: (id, component)
    * for every id that appears in a pair; component = min id reachable.
    * Deterministic.
    *
    * Every round is truncated through [[Lineage.scoped]]: by default
    * `localCheckpoint`; with `checkpointDir` (HDFS/object store, for a
    * cluster where an executor loss would kill the truncated lineage
    * mid-loop) a reliable checkpoint. The caller owns `checkpointDir`;
    * superseded rounds are deleted as the loop advances and only the
    * newest round's subdirectory — which backs the returned frame — is
    * left under it. */
  def components(pairs: DataFrame, aCol: String, bCol: String,
                 maxIter: Int = 50, checkpointDir: Option[String] = None): DataFrame =
    componentsStats(pairs, aCol, bCol, maxIter, checkpointDir)._1

  /** [[components]] plus the number of doubling rounds the fixpoint loop
    * actually ran — the scale-soak observable: at 10× data the near-dup
    * graph's diameter (and so the round count) should hold roughly
    * constant, which is what makes the O(log D) claim measurable.
    * Checkpoint ownership as in [[components]]. */
  def componentsStats(pairs: DataFrame, aCol: String, bCol: String,
                      maxIter: Int = 50,
                      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    // the pair list may be an expensive subplan (sm14/pipe4 feed a full
    // near-dup join in here). Symmetrization is a MAP-SIDE explode of
    // each pair into both directions — ONE execution of the pair
    // generator, no materialization needed (the r15 union-of-two-legs
    // form had to eagerly localCheckpoint the pair subplan so the second
    // leg wouldn't recompute it, which serialized a stage AQE had been
    // overlapping — the sm14 regression in the r15 artifact)
    val edges = pairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .select(explode(array(
        struct(col("a").as("s"), col("b").as("t")),
        struct(col("b").as("s"), col("a").as("t")))).as("st"))
      .select(col("st.s").as("s"), col("st.t").as("t"))
      .distinct().cache()
    // empty pair list => empty component map (the sum-based fixpoint
    // check below would otherwise read a null aggregate)
    if (edges.count() == 0L) {
      edges.unpersist()
      return (pairs.sparkSession.emptyDataFrame
        .select(lit(0L).as("id"), lit(0L).as("component")).limit(0), 0)
    }
    val (labels, it, converged) =
      Lineage.scoped(pairs.sparkSession, checkpointDir) { truncate =>
        // label(v) starts at min(v, min neighbor).
        // Each round's result is plan-truncated: `next` references
        // `labels` TWICE (union + join), so without truncation the
        // logical plan doubles per round — exponential analyzer/explain
        // cost long before any execution problem. Checkpointing makes
        // every round's plan a fresh leaf.
        def sumOf(df: DataFrame): java.math.BigDecimal =
          df.agg(sum(col("label")).cast("decimal(38,0)")).head().getDecimal(0)
        var labels = truncate(edges.groupBy(col("s")).agg(min(col("t")).as("mn"))
          .select(col("s"), least(col("s"), col("mn")).as("label")))
        var labelSum = sumOf(labels)
        // one round = hop step (label(v) <- min over neighbors' labels) then
        // pointer-jump step (label(v) <- min(label(v), label(label(v)))):
        // min-labels chase their component's root at doubling speed, so a
        // diameter-D chain converges in O(log D) rounds rather than the O(D)
        // of plain propagation (the failure mode on the long similarity
        // chains templated web text produces)
        def round(cur: DataFrame): DataFrame = {
          val viaNeighbor = edges.as("e")
            .join(cur.as("l"), col("e.t") === col("l.s"))
            .select(col("e.s").as("s"), col("l.label").as("label"))
          // checkpointed before the self-join: the jump references `hopped`
          // twice (probe side + lookup side), and without truncation the hop
          // aggregation would be planned and executed twice per round
          val hopped = truncate(cur.unionByName(viaNeighbor)
            .groupBy(col("s")).agg(min(col("label")).as("label")))
          // fresh projection (new attribute ids) for the lookup side of the
          // self-join — aliasing alone trips ambiguous-attribute resolution
          val lookup = hopped.select(col("s").as("ls"), col("label").as("llabel"))
          truncate(hopped
            .join(lookup, col("label") === col("ls"), "left")
            .select(col("s"),
                    least(col("label"), coalesce(col("llabel"), col("label"))).as("label")))
        }
        var it = 0
        var converged = false
        while (it < maxIter && !converged) {
          val next = round(labels)
          val nextSum = sumOf(next)
          labels.unpersist()
          labels = next
          converged = nextSum.compareTo(labelSum) == 0 // labels shrink monotonically
          labelSum = nextSum
          it += 1
        }
        if (!converged) {
          // the loop may have REACHED the fixpoint on its final round without
          // a confirming round to observe it — probe once more before
          // declaring failure (labels only decrease, so an unchanged sum is a
          // true fixpoint)
          val probe = round(labels)
          converged = sumOf(probe).compareTo(labelSum) == 0
          labels.unpersist()
          labels = probe
        }
        (labels, it, converged)
      }
    edges.unpersist()
    // with pointer jumping, non-convergence in maxIter rounds means a
    // component of diameter ~2^maxIter — at the default that is not a
    // real graph, it's a bug or adversarial input. Returning the partial
    // labels would silently split clusters, so fail loudly.
    require(converged,
      s"components did not converge in $maxIter doubling rounds " +
      s"(component diameter on the order of 2^$maxIter); raise maxIter")
    (labels.select(col("s").as("id"), col("label").as("component")), it)
  }

  /** Embedding-cosine near-dup: pairs with cosine ≥ threshold.
    *
    * ==EXACT ORACLE TWIN, NOT A PRODUCTION PATH==: the self-join is an
    * all-pairs cartesian — O(n²) pairs. It exists to bound the approximate
    * operators in tests, so it REFUSES inputs above `maxRows` (counted
    * before the join; the count is one cheap pass over a projected
    * column). For real corpora use [[simHashPairs]] (blocked Hamming) or
    * [[graft.scale.Similarity.lshTopK]]/`ivfTopK` (bucketed ANN), which
    * shuffle candidates, never the n² pair space. */
  /** Embedding cosine near-dup AT SCALE (SemDeDup-class) — the
    * production path [[cosineNearDup]]'s row cap points to. `bands`
    * independent random-hyperplane signatures of `planesPerBand` sign
    * bits each (Charikar 2002: two vectors agree on one sign bit with
    * p = 1 − θ/π); vectors sharing ANY band bucket become candidates and
    * every candidate is verified with the exact cosine, so PRECISION IS
    * EXACT and only recall is probabilistic: 1 − (1 − p^r)^b (defaults
    * r=4, b=16 target the low-threshold regime; raise r for tight
    * thresholds to shrink buckets).
    *
    * 100-TB shape: signatures are one map-side UDF over the broadcast
    * plane matrix (no explode of the vector); candidates cost one
    * (band, bucket) self-join — bucketed, never all-pairs; verification
    * joins vectors back on the candidate ids only, so its cost scales
    * with the LSH-bounded candidate count, not n². Past 100k vectors the
    * verify stage runs a SKETCH-THEN-VERIFY cascade: candidates are
    * screened against a 128-bit sign sketch (16 B payload, codegen
    * bit_count) and only the survivors — deduped across bands — carry
    * the full dim·8 B vectors through a join, cutting the verify
    * shuffle from ~0.55 KB/candidate to 16 B/candidate (measured 2.1×
    * on the sf10 soak, second-decade wall ratio 19× → 7.4×, recall
    * byte-identical). */
  /** The candidate stage of [[cosineNearDupLsh]] alone — (id_a, id_b)
    * pairs sharing any band bucket, pre-verification and undeduped.
    * Public so scale soaks can MEASURE the candidate volume (the
    * linearity invariant: ≈ bands·n·targetBucket/2) instead of inferring
    * it from wall time.
    *
    * @param maxBucket occupancy cap per (band, bucket); -1 (the default)
    *   resolves to 64·targetBucket. A bucket above the cap carries no
    *   locality information (degenerate mass: exact-dup embeddings, zero
    *   vectors) and is DROPPED from the candidate stream — so a
    *   legitimate near-dup cluster larger than the cap that collides in
    *   every band disappears from this operator's results entirely.
    *   Run [[lshBucketProfile]] with the same maxBucket pre-flight: it
    *   reports exactly how many buckets/signatures/pairs the cap will
    *   drop. Exact-dup mass belongs to d1/d5 upstream; pass
    *   maxBucket = Int.MaxValue to opt out of the cap. */
  def cosineLshCandidates(df: DataFrame, vecCol: String, idCol: String,
                          bands: Int = 16, planesPerBand: Int = 4,
                          dim: Int = -1, targetBucket: Int = 32,
                          knownRows: Long = -1L,
                          maxBucket: Int = -1): DataFrame =
    lshStages(df, vecCol, idCol, bands, planesPerBand, dim, targetBucket,
              knownRows,
              if (maxBucket > 0) maxBucket else 64 * targetBucket)._1

  /** @param maxBucket per-(band,bucket) occupancy cap, default (-1) =
    *   64·targetBucket — see [[cosineLshCandidates]] for the drop
    *   semantics and the [[lshBucketProfile]] pre-flight that quantifies
    *   what the cap removes. */
  def cosineNearDupLsh(df: DataFrame, vecCol: String, idCol: String,
                       threshold: Double, bands: Int = 16,
                       planesPerBand: Int = 4, dim: Int = -1,
                       targetBucket: Int = 32,
                       knownRows: Long = -1L,
                       maxBucket: Int = -1,
                       sketchMinRows: Long = 100000L): DataFrame = {
    import graft.functions.VectorOps
    val (cand, base, d0, n) = lshStages(df, vecCol, idCol, bands, planesPerBand,
                                        dim, targetBucket, knownRows,
                                        if (maxBucket > 0) maxBucket
                                        else 64 * targetBucket)
    val withNorm = base.withColumn("norm", VectorOps.l2norm(col("v")))
    // SKETCH-THEN-VERIFY cascade (the r15 fix for the verify stage's
    // super-linear wall): the candidate stream is bands·n·targetBucket/2
    // rows, and dragging the FULL vector (dim·8 B ≈ 0.5 KB) through the
    // second lookup shuffle was the dominant cost at the sf10 soak
    // (148.7M candidates × ~0.55 KB ≈ 80 GB of shuffle). Instead,
    // candidates are first screened with a 128-bit sign sketch (2 longs,
    // 16 B — Charikar 2002: E[hamming]/128 = θ/π), entirely in
    // whole-stage codegen (`bit_count(a ^ b)`), and only survivors see
    // the full-vector join. The cutoff allows the mean sketch distance
    // of a pair AT the threshold plus a ≥4.9σ guard band, so the
    // probability of screening out a true ≥-threshold pair is < 1e-6 —
    // precision stays EXACT (survivors are verified with the true
    // cosine), recall loss is the guard-band tail. Sketch planes use a
    // distinct seed: reusing the banding planes would bias colliding
    // pairs' sketch distance optimistically (they already agree on those
    // sign bits).
    // The cascade pays ~8 extra plan stages of flat overhead, a loss
    // below the scale where the vector payload dominates (measured on
    // the d11 fixture, full-query wall: n=4k 4.1s→7.5s, n=40k
    // 12.4s→15.4s, n=400k 235s→114s) — so it engages at n ≥ 100k and
    // the direct full-vector verify stays the small-corpus path.
    // RECALL CONTRACT of the cascade (pinned r16): above `sketchMinRows`
    // the operator's result is no longer the bit-identical direct-verify
    // function — a true ≥-threshold pair is screened out only if its
    // 128-bit sketch distance exceeds the mean-at-threshold by the
    // ≥4.9σ guard band (probability < 1e-6 per pair). Precision stays
    // exact (survivors verify with the true cosine). The parameter
    // exists so the parity spec can force the cascade at small n and
    // assert pair-set equality with the direct path (ScaleSpec7).
    val useSketch = n >= sketchMinRows
    val pairsToVerify = if (!useSketch) cand else {
      val skPlanes = Similarity.hyperplanes(128, d0, seed = 0x9E3779B97F4A7C15L)
      val bcSk = df.sparkSession.sparkContext.broadcast(skPlanes)
      val skU = udf { (v: Seq[Double]) =>
        val ps = bcSk.value
        val out = new Array[Long](2)
        var i = 0
        while (i < 128) {
          val p = ps(i)
          val lim = math.min(v.length, p.length)
          var s = 0.0; var j = 0
          while (j < lim) { s += p(j) * v(j); j += 1 }
          if (s > 0) out(i >> 6) |= 1L << (i & 63)
          i += 1
        }
        out
      }
      // 24 B/row sketch table, consumed by BOTH lookup sides of the
      // screen join — materialized so the 128·d-multiply skU UDF (and
      // the corpus scan under it) runs once, not per side (measured: the
      // d11 fixture with the cascade forced, sf0.1, 4 cores, 4.28 s vs
      // 6.35 s min-of-3 without it)
      val sk = Lineage.truncate(base.withColumn("sk", skU(col("v")))
        .select(col("vid"), col("sk").getItem(0).as("sk0"),
                col("sk").getItem(1).as("sk1")), checkpointDir = None)
      val maxH = math.min(128,
        math.ceil(128.0 * math.acos(math.max(-1.0, math.min(1.0, threshold)))
          / math.Pi + 20.0).toInt)
      val skBytes = n * 40L
      val skHint = if (skBytes < (8L << 20)) "broadcast" else "shuffle_hash"
      cand
        .join(sk.select(col("vid").as("id_a"), col("sk0").as("a0"),
                        col("sk1").as("a1")).hint(skHint), Seq("id_a"))
        .join(sk.select(col("vid").as("id_b"), col("sk0").as("b0"),
                        col("sk1").as("b1")).hint(skHint), Seq("id_b"))
        .filter(expr(s"bit_count(a0 ^ b0) + bit_count(a1 ^ b1) <= $maxH"))
        .select(col("id_a"), col("id_b"))
        // survivors are dominated by TRUE near-dups, which collide in
        // MANY bands (a tight pair agrees per band with prob p^r ≈ 0.4,
        // so ~6 of 16 bands each) — dedup HERE, where rows are 16 B, so
        // the full-vector join verifies each pair exactly once
        .distinct()
    }
    // the lookups must never SORT-MERGE: SMJ sorts the candidate stream
    // — bands·n·targetBucket/2 rows × ~0.5 KB of carried vector payload
    // — twice, and that sort is what turned super-linear at the 20× soak
    // point (34.8 s → 23 s with hash lookups). Small vector tables
    // broadcast (the planner's own choice, kept explicit so the hint
    // can't suppress it); big ones build per-partition hash maps via
    // SHUFFLE_HASH.
    val vecBytes = n * (d0 * 8L + 24L)
    val lookupHint = if (vecBytes < (8L << 20)) "broadcast" else "shuffle_hash"
    val verified = pairsToVerify
      .join(withNorm.select(col("vid").as("id_a"), col("v").as("va"),
                            col("norm").as("na")).hint(lookupHint),
            Seq("id_a"))
      .join(withNorm.select(col("vid").as("id_b"), col("v").as("vb"),
                            col("norm").as("nb")).hint(lookupHint),
            Seq("id_b"))
      .withColumn("cosine", VectorOps.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
    // on the direct path candidate pairs reach the verify UNDEDUPED (a
    // pair agreeing on k bands is verified k times — bounded by `bands`)
    // and collapse in ONE distinct AFTER the threshold filter, when the
    // set is near-dup-sized; on the sketch path survivors are already
    // distinct
    if (useSketch) verified else verified.distinct()
  }

  /** The banded-signature stage shared by [[lshStages]] (candidate
    * generation) and [[lshBucketProfile]] (occupancy diagnostics):
    * (banded, base, dim, n). */
  private def bandedSigs(df: DataFrame, vecCol: String, idCol: String,
                         bands: Int, planesPerBand: Int, dim: Int,
                         targetBucket: Int,
                         knownRows: Long): (DataFrame, DataFrame, Int, Long) = {
    val d0 = if (dim > 0) dim else Similarity.inferDim(df, vecCol)
    // ADAPTIVE bucket resolution — the scale-critical knob: with a FIXED
    // planesPerBand the band has 2^r buckets forever, occupancy grows
    // linearly with n and candidate pairs QUADRATICALLY (measured: 22.9×
    // wall at 10× data before this). Growing r with log2(n/targetBucket)
    // pins expected occupancy at ~targetBucket, so candidates stay
    // ≈ bands·n·targetBucket/2 — linear in n. The recall trade is
    // explicit: each extra plane multiplies per-band match odds by
    // p = 1−θ/π, so this operator is for the NEAR-DUP regime (high
    // threshold ⇒ p close to 1; at cos ≥ 0.9, 16 bands hold recall
    // > 0.95 up to r ≈ 11 ⇒ n ≈ 65M·targetBucket). For low-threshold
    // "broadly similar" mining (p ≪ 1) no hyperplane scheme is cheap —
    // route to [[semDedup]]/IVF, which candidate-generate by clustering
    // instead. The n lookup is one count() over a projected column —
    // callers who already know n (or whose input lineage is expensive to
    // recompute) pass `knownRows` and the extra pass disappears; the
    // plan stays a lazy builder in that form.
    val n = math.max(1L,
      if (knownRows > 0) knownRows else df.select(col(idCol)).count())
    val ppb = lshPlanesPerBand(n, planesPerBand, targetBucket)
    val planes = Similarity.hyperplanes(bands * ppb, d0)
    val bc = df.sparkSession.sparkContext.broadcast(planes)
    val nb = bands
    val sigU = udf { (v: Seq[Double]) =>
      val ps = bc.value
      Array.tabulate(nb) { b =>
        var bucket = 0L
        var i = 0
        while (i < ppb) {
          val p = ps(b * ppb + i)
          val lim = math.min(v.length, p.length)
          var d = 0.0; var j = 0
          while (j < lim) { d += p(j) * v(j); j += 1 }
          if (d > 0) bucket |= 1L << i
          i += 1
        }
        bucket
      }
    }
    val base = df.select(col(idCol).cast("long").as("vid"),
                         col(vecCol).cast("array<double>").as("v"))
    val banded = base.withColumn("sig", sigU(col("v")))
      .select(col("vid"), posexplode(col("sig"))).toDF("vid", "band", "bucket")
    (banded, base, d0, n)
  }

  /** The adaptive bucket resolution of [[cosineLshCandidates]] at `n`
    * rows: log2(n/targetBucket) planes per band, at least
    * `planesPerBand`. */
  def lshPlanesPerBand(n: Long, planesPerBand: Int = 4, targetBucket: Int = 32): Int =
    math.max(planesPerBand,
      math.ceil(math.log(n.toDouble / math.max(1, targetBucket)) / math.log(2)).toInt)

  private def lshStages(df: DataFrame, vecCol: String, idCol: String,
                        bands: Int, planesPerBand: Int, dim: Int,
                        targetBucket: Int, knownRows: Long,
                        maxBucket: Int): (DataFrame, DataFrame, Int, Long) = {
    val (banded, base, d0, n) = bandedSigs(df, vecCol, idCol, bands,
      planesPerBand, dim, targetBucket, knownRows)
    // the bucket join EXPANDS ~|bucket| rows per probe row, so the probe
    // side must be spread across cores BEFORE the expansion — a
    // single-file corpus otherwise runs the whole candidate pipeline on
    // one partition (the downstream joins broadcast and pipeline, so
    // this is the only place parallelism can enter)
    //
    // MEGA-BUCKET CAP (the r14 sf10 finding): the adaptive resolution
    // pins the AVERAGE occupancy, but degenerate mass — exact-duplicate
    // embeddings, tight clusters no hyperplane separates, zero vectors —
    // can put an unbounded fraction of the corpus into ONE (band,
    // bucket). The per-bucket self-join is quadratic in occupancy, so a
    // single such bucket dominates everything (measured: 200k vectors at
    // sf10 produced a 36 GB candidate shuffle and a >38-minute stall
    // before this guard). A bucket with occupancy > maxBucket (default
    // 64x the design occupancy) carries no locality information — it is
    // the d2/adamicAdar maxDf discipline applied to hyperplane space —
    // and is dropped from THIS operator's candidate stream; exact-dup
    // mass belongs to d1/d5 upstream. The occupancy pass is a bucket-
    // partitioned window (linear, never quadratic) on the same exchange
    // the join needs anyway.
    val wbb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket"))
    // the capped table feeds both sides of the candidate self-join, but
    // an eager materialization of it measured no win beyond run-to-run
    // noise on d11 (isolated A/B, sf0.1, 4 cores), so it stays lazy
    val capped = banded
      .withColumn("occ", count(lit(1)).over(wbb))
      .filter(col("occ") <= maxBucket.toLong)
      .drop("occ")
    val probe = capped.repartition(col("vid"))
    val cand = probe.as("l").join(capped.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
        col("l.vid") < col("r.vid"))
      .select(col("l.vid").as("id_a"), col("r.vid").as("id_b"))
    (cand, base, d0, n)
  }

  /** Occupancy diagnostic for the [[cosineLshCandidates]] bucket space —
    * the ops readout that says whether the adaptive resolution is
    * holding (mean occupancy ~ targetBucket) and whether degenerate
    * mega-buckets exist (max_occ >> targetBucket drives the candidate
    * volume Σ occ·(occ−1)/2 quadratically — the sum this emits IS the
    * uncapped candidate count per band set). One reduce over the banded
    * signature table; emits one row.
    *
    * `maxBucket` (default -1 resolves to the candidate stage's own
    * default, 64·targetBucket) adds the CAPPED view — what
    * [[cosineLshCandidates]] at that cap will actually do: how many
    * buckets/signatures the cap drops and the candidate count that
    * survives it. A non-zero dropped_sigs is the ADVICE-r14 recall
    * signal: some over-dense cluster is about to vanish from the LSH
    * operator's results and should be routed to d1/d5 upstream. */
  def lshBucketProfile(df: DataFrame, vecCol: String, idCol: String,
                       bands: Int = 16, planesPerBand: Int = 4,
                       dim: Int = -1, targetBucket: Int = 32,
                       knownRows: Long = -1L,
                       maxBucket: Int = -1): DataFrame = {
    val banded = bandedSigs(df, vecCol, idCol, bands, planesPerBand, dim,
      targetBucket, knownRows)._1
    val cap = (if (maxBucket > 0) maxBucket else 64 * targetBucket).toLong
    banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("occ"))
      .agg(count(lit(1)).as("n_buckets"),
           sum(col("occ")).as("n_sigs"),
           max(col("occ")).as("max_occ"),
           sum(expr("occ*(occ-1) div 2")).as("cand_pairs"),
           sum(when(col("occ") > cap, 1L).otherwise(0L))
             .as("dropped_buckets"),
           sum(when(col("occ") > cap, col("occ")).otherwise(0L))
             .as("dropped_sigs"),
           sum(when(col("occ") <= cap, expr("occ*(occ-1) div 2"))
             .otherwise(0L)).as("capped_pairs"))
  }

  def cosineNearDup(df: DataFrame, vecCol: String, idCol: String,
                    threshold: Double, maxRows: Long = 100000L): DataFrame = {
    import graft.functions.VectorOps
    val v = df.select(col(idCol).as("vid"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("norm", VectorOps.l2norm(col("v")))
    val n = v.count()
    require(n <= maxRows,
      s"cosineNearDup is the exact all-pairs oracle twin (O(n^2) pairs) and is " +
      s"capped at maxRows=$maxRows, got $n rows. Use Dedup.simHashPairs or " +
      s"Similarity.lshTopK/ivfTopK for corpora at scale.")
    v.as("l").join(v.as("r"), col("l.vid") < col("r.vid"))
      .withColumn("cosine",
        VectorOps.dot(col("l.v"), col("r.v")) / (col("l.norm") * col("r.norm")))
      .filter(col("cosine") >= threshold)
      .select(col("l.vid").as("id_a"), col("r.vid").as("id_b"), col("cosine"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic dedup by
    * cluster-then-prune: k-means the embedding space
    * ([[Similarity.kmeansAssign]], deterministic lowest-id seeds +
    * distributed Lloyd), then within each cluster drop every vector whose
    * cosine to a LOWER-id cluster-mate reaches the threshold (the paper's
    * upper-triangular keep-one rule with a deterministic representative).
    * Returns every input id with its cell and a `kept` flag.
    *
    * Cross-cluster near-dups are invisible by design — that trade IS the
    * algorithm: candidate pairs are generated per cell, so the pair space
    * is Σ|cell|² (bounded by choosing nCells ∝ corpus size, the paper
    * runs k≈11k on LAION), never the global n². 100-TB shape: centroids
    * are bounded driver state computed once; assignment is one map-side
    * pass over broadcast centroids; the only shuffle is the per-cell
    * self-join, keyed on cell, and the drop set joins back as a
    * left-join on id. No corpus cache: re-evaluating the assignment
    * repeats a cheap map-side UDF, not the clustering.
    *
    * Cost model under the k ∝ n rule (SOAK_r14): per-cell pair work is
    * flat, but FLAT-assignment flops are n·nCells·dim — itself
    * super-linear once nCells scales with n (measured 26.8× at a 10×
    * decade with 10× the cells). So past [[Similarity.twoLevelMin]]
    * centroids the assignment automatically goes TWO-LEVEL
    * (coarse-quantize to ⌈√nCells⌉ centroid groups, refine within the 2
    * best groups — the [[Similarity]] IVF pattern applied to assignment),
    * cutting the term to ~3·n·√nCells; everything stays map-side
    * against broadcast centroids either way. */
  def semDedup(df: DataFrame, vecCol: String, idCol: String,
               threshold: Double, nCells: Int = 8,
               lloydIters: Int = 1): DataFrame = {
    import graft.functions.VectorOps
    val assigned = Similarity.kmeansAssign(df, vecCol, idCol, nCells, lloydIters)
      .withColumn("norm", VectorOps.l2norm(col("v")))
    val l = assigned.select(col("cell"), col("vid").as("id_a"),
                            col("v").as("va"), col("norm").as("na"))
    val r = assigned.select(col("cell"), col("vid").as("id_b"),
                            col("v").as("vb"), col("norm").as("nb"))
    val drops = l.join(r, Seq("cell")).filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        VectorOps.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_b").as("vid")).distinct()
      .withColumn("dropped", lit(true))
    assigned.join(drops, Seq("vid"), "left")
      .select(col("vid"), col("cell"),
              coalesce(!col("dropped"), lit(true)).as("kept"))
  }

  // ---- Exact duplicated-substring detection (span dedup) ---------------

  /** Positional L-token gram hashes: (sid, pos, h), pos 1-based, one row
    * per WINDOW (not distinct — position is the payload). Each word is
    * hashed once; the L-gram hash combines the word hashes, so the
    * shuffle key is an 8-byte long, never the gram string. */
  private def positionalGramHashes(df: DataFrame, textCol: String,
                                   idCol: String, L: Int): DataFrame =
    graft.core.Par.widen(df).select(col(idCol).as("sid"),
        expr(s"transform(split(`$textCol`, ' '), x -> xxhash64(x))").as("wh"))
      .filter(size(col("wh")) >= L)
      .select(col("sid"), posexplode(expr(
        s"transform(sequence(1, size(wh) - ${L - 1}), i -> " +
        (0 until L).map(j => s"element_at(wh, i + $j)").mkString("xxhash64(", ", ", ")") + ")"
      )))
      .select(col("sid"), (col("pos") + 1).as("pos"), col("col").as("h"))

  /** Exact duplicated-span detection — the substring half of the dedup
    * family (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499: remove any text run appearing ≥ 2
    * times in the corpus). The suffix-array of the paper is replaced by
    * the shuffle-native equivalent: every positional L-token window is
    * fingerprinted, windows whose fingerprint occurs ≥ `minCount` times
    * corpus-wide are duplicated, and overlapping duplicated windows merge
    * into maximal spans (two hits at p₁ < p₂ join iff p₂ − p₁ ≤ L). A
    * span [a, b] therefore means every L-window inside it is duplicated —
    * the same "duplicated region of ≥ L tokens" the suffix array yields,
    * found with joins instead of a giant sorted array.
    *
    * Returns one row per maximal span: (sid, span_start, span_end,
    * span_tokens), token positions 1-based inclusive.
    *
    * 100-TB shape: the gram explode is map-side; occurrence counting is
    * one partial-agg shuffle on the 8-byte fingerprint; the hit join
    * reuses the same key (identical subtrees up to the exchange →
    * ReuseExchange); the island merge is one window shuffle on doc id.
    * `maxDf` caps pathological stop-grams (boilerplate shared by millions
    * of docs): grams above the cap are still *counted* but excluded from
    * span building, so spans can only be missed, never invented. */
  def duplicatedSpans(df: DataFrame, textCol: String, idCol: String,
                      L: Int = 8, minCount: Int = 2,
                      maxDf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = positionalGramHashes(df, textCol, idCol, L)
    val occ = grams.groupBy(col("h")).agg(count(lit(1)).as("occ"))
    val dup = maxDf.foldLeft(occ.filter(col("occ") >= minCount)) {
      (d, cap) => d.filter(col("occ") <= cap)
    }.select(col("h"))
    val hits = grams.join(dup, Seq("h")).select(col("sid"), col("pos"))
    val w = Window.partitionBy(col("sid")).orderBy(col("pos"))
    val runs = Window.partitionBy(col("sid")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hits
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) <= L, 0L).otherwise(1L))
      .withColumn("island", sum(col("brk")).over(runs))
      .groupBy(col("sid"), col("island"))
      .agg(min(col("pos")).as("span_start"),
           (max(col("pos")) + lit(L - 1)).as("span_end"))
      .select(col("sid"), col("span_start"), col("span_end"),
              (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** Measurement companion to [[duplicatedSpans]] for scale soaks: the
    * same gram → occurrence → hit pipeline, reduced to the three volume
    * counters that drive its cost — total positional grams (map-side
    * explode volume), duplicated fingerprints after the minCount/maxDf
    * filters, and HIT rows (the gram⋈dup join output, the quantity whose
    * growth under duplicate-density stress the maxDf cap is there to
    * bound). Actions inside — a probe, not a plan builder. */
  def spanDedupStats(df: DataFrame, textCol: String, idCol: String,
                     L: Int = 8, minCount: Int = 2,
                     maxDf: Option[Long] = None): (Long, Long, Long) = {
    val grams = positionalGramHashes(df, textCol, idCol, L).cache()
    val nGrams = grams.count()
    val occ = grams.groupBy(col("h")).agg(count(lit(1)).as("occ"))
    val dup = maxDf.foldLeft(occ.filter(col("occ") >= minCount)) {
      (d, cap) => d.filter(col("occ") <= cap)
    }.select(col("h")).cache()
    val nDupFps = dup.count()
    val nHits = grams.join(dup, Seq("h")).count()
    grams.unpersist(); dup.unpersist()
    (nGrams, nDupFps, nHits)
  }

  /** Removal companion to [[duplicatedSpans]]: rebuild each document with
    * its duplicated spans cut out (the paper's ExactSubstr-cut policy).
    * Documents with no duplicated span pass through untouched. Returns
    * (sid, n_tokens, n_dup_tokens, clean_text).
    *
    * The span table is grouped to one array row per affected doc (spans
    * per doc are bounded by len/L), joined back on the id key, and the
    * cut itself is a map-side higher-order filter over the token array —
    * the corpus text is never shuffled, only the id-keyed span rows. */
  def stripDuplicatedSpans(df: DataFrame, textCol: String, idCol: String,
                           L: Int = 8, minCount: Int = 2,
                           maxDf: Option[Long] = None): DataFrame = {
    val spans = duplicatedSpans(df, textCol, idCol, L, minCount, maxDf)
      .groupBy(col("sid"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"),
           sum(col("span_tokens")).as("n_dup_tokens"))
    df.select(col(idCol).as("sid"), split(col(textCol), " ").as("w"))
      .join(spans, Seq("sid"), "left")
      .select(col("sid"), size(col("w")).cast("long").as("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        when(col("spans").isNull, array_join(col("w"), " ")).otherwise(
          array_join(expr(
            "filter(transform(w, (x, i) -> IF(exists(spans, s -> " +
            "i + 1 >= s.span_start AND i + 1 <= s.span_end), NULL, x)), " +
            "x -> x IS NOT NULL)"), " ")).as("clean_text"))
  }

  /** Cross-group n-gram overlap matrix — the corpus-governance view of
    * contamination: for every ordered pair of groups (sources, dumps,
    * datasets), how many DISTINCT L-gram fingerprints they share and
    * what fraction of the first group's fingerprint set that is
    * (containment). The per-pair containment is what mixture designers
    * read before unioning two crawls, and what eval-set governance reads
    * as "source A contains X% of source B's n-grams".
    *
    * 100-TB shape: grams are 8-byte xxhash64 fingerprints built map-side
    * (the corpus text never shuffles); ONE distinct shuffle on
    * (group, h); the pair join is the inverted-index self-join on h —
    * both sides are the same distinct subtree, so ReuseExchange scans it
    * once — and each fingerprint contributes at most |groups|²/2 join
    * rows (stop-gram blowup is bounded by the group count, not the
    * corpus). Output is |groups|² rows. The oracle replays with raw gram
    * strings; 64-bit fingerprints make the distinct-count difference
    * vanishingly improbable (~n²/2⁶⁵). */
  def crossGroupOverlap(df: DataFrame, textCol: String, groupCol: String,
                        L: Int = 6): DataFrame = {
    val gram = (0 until L).map(j => s"element_at(wh, i + $j)")
      .mkString("xxhash64(", ", ", ")")
    val grams = graft.core.Par.widen(df)
      .select(col(groupCol).as("src"),
        expr(s"transform(split(`$textCol`, ' '), x -> xxhash64(x))").as("wh"))
      .filter(size(col("wh")) >= L)
      .select(col("src"), explode(
        expr(s"transform(sequence(1, size(wh) - ${L - 1}), i -> $gram)")).as("h"))
      .distinct()
    val cnt = grams.groupBy(col("src")).agg(count(lit(1)).as("n_grams"))
    grams.as("a")
      .join(grams.as("b"), col("a.h") === col("b.h") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(cnt.withColumnRenamed("src", "src_a")
        .withColumnRenamed("n_grams", "n_a")), Seq("src_a"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        (floor(col("n_shared").cast("double") / col("n_a") * 1e6 + 0.5) / 1e6)
          .as("containment_a"))
  }
}
