package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.scale.{Curation, Sampling}

/** Corpus-curation operators round 10: temperature source mixing, Bloom
  * decontamination, and the fused end-to-end curation pipeline. */
object ScaleQueries3 {

  type Q = (SparkSession, String) => DataFrame

  /** SM7 — temperature-smoothed source mixing at α=0.5: per-source kept
    * counts plus the applied permille rate (XLM-R rebalancing; the
    * smallest source keeps everything, bigger sources keep
    * sqrt(n_min/n_s)). Deterministic mod rule → hash-checkable. */
  private def sm7Temperature: Q = (s, d) =>
    Sampling.temperatureSample(Tables.documents(s, d), "source", "doc_id", 0.5)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
           max(col("permille")).cast("long").as("permille"),
           max(col("n_src")).as("n_src"))

  private val sm7Sql =
    """WITH c AS (SELECT source, count(*) AS n_src FROM documents GROUP BY source),
      |m AS (SELECT min(n_src) AS n_min FROM c),
      |r AS (SELECT source, n_src,
      |        CAST(floor(sqrt(CAST(n_min AS DOUBLE)/CAST(n_src AS DOUBLE))*1000 + 0.5) AS INT) AS permille
      |      FROM c, m)
      |SELECT d.source, count(*) AS n_kept,
      |  CAST(max(r.permille) AS BIGINT) AS permille, max(r.n_src) AS n_src
      |FROM documents d JOIN r USING (source)
      |WHERE d.doc_id % 1000 < r.permille
      |GROUP BY d.source""".stripMargin

  /** D10 — Bloom-filter decontamination, same train/eval split as
    * d7_decontam (✖est: the sketch is deterministic but not replayable
    * in SQL; the superset-of-exact property is spec-pinned). */
  private def d10DecontamBloom: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Curation.decontaminateBloom(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"),
      "text", "doc_id", n = 4)
  }

  /** PIPE1 — the fused curation pipeline: length gate → exact dedup
    * keeping the longest copy → drop eval-contaminated survivors.
    * One plan; hash-checked end to end as a CTE chain. */
  private def pipe1Curation: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Curation.curate(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"),
      "text", "doc_id", scoreCol = "n_chars", minChars = 100, ngram = 4)
      .select(col("doc_id"), col("source"), col("n_dups"))
  }

  private val pipe1Sql = {
    val parts = (0 until 4).map(j => s"w[i+$j]").mkString(" || ' ' || ")
    s"""WITH gated AS (
       |  SELECT doc_id, source, text, n_chars FROM documents
       |  WHERE source <> 'src0' AND len(text) >= 100),
       |dd AS (
       |  SELECT doc_id, source, text,
       |    row_number() OVER (PARTITION BY md5(text) ORDER BY n_chars DESC, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY md5(text)) AS n_dups
       |  FROM gated),
       |kept AS (SELECT doc_id, source, text, n_dups FROM dd WHERE rn = 1),
       |trg AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1,len(w)-3),
       |          i -> $parts)) AS s
       |        FROM (SELECT doc_id, string_split(text,' ') AS w FROM kept) WHERE len(w)>=4),
       |evg AS (SELECT DISTINCT unnest(list_transform(generate_series(1,len(w)-3),
       |          i -> $parts)) AS s
       |        FROM (SELECT string_split(text,' ') AS w FROM documents WHERE source='src0')
       |        WHERE len(w)>=4),
       |hits AS (SELECT DISTINCT doc_id FROM trg JOIN evg USING (s))
       |SELECT doc_id, source, n_dups FROM kept
       |WHERE doc_id NOT IN (SELECT doc_id FROM hits)""".stripMargin
  }

  /** X13 — learned linear quality classifier (fastText-class, CCNet's
    * classifier half): fit on a deterministic length-tier label (the
    * documents' lang/source labels are synthetic noise with a shared
    * vocabulary — no learnable signal), report the confusion summary
    * (✖est: LBFGS coefficient bits are not SQL-replayable; accuracy
    * bounds are spec-pinned on a vocabulary-distinct fixture). */
  private def x13QualityLr: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .withColumn("tier", when(col("n_chars") >= 120, "long").otherwise("short"))
    val m = graft.scale.QualityClassifier.fit(docs, "text", "tier",
      vocabSize = 200, maxIter = 50)
    graft.scale.QualityClassifier.score(docs, m, "text", "doc_id")
      .join(docs.select(col("doc_id"), col("tier")), "doc_id")
      .groupBy(col("tier"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
  }

  /** D11 — embedding cosine near-dup via banded hyperplane LSH +
    * exact-cosine verify, in the NEAR-DUP regime the operator is built
    * for: the corpus is the embeddings table UNIONED with a
    * deterministic multiplicative perturbation of itself (±30% per
    * alternating coordinate ⇒ cos(v, v′) ≈ 0.957 — the augmented-copy
    * detection scenario), threshold 0.9. High threshold ⇒ per-plane
    * match odds p = 1−θ/π ≈ 0.86, so the adaptive bucket resolution can
    * grow with n at held recall — the linear-candidates path (✖est: the
    * xorshift plane matrix is not SQL-replayable; subset-of-exact
    * precision and a recall floor are spec-pinned against d5's
    * brute-force twin; low-threshold mining routes to d12/SemDeDup). */
  private def d11CosineLsh: Q = (s, d) => {
    val (fixture, n) = d11Fixture(s, d)
    graft.scale.Dedup.cosineNearDupLsh(fixture, "embedding", "vec_id", 0.9,
        knownRows = n)
      .select(col("id_a"), col("id_b"), Det.dround(col("cosine"), 6).as("cosine"))
  }

  /** D11's input: the embeddings table (`vec_id`, `embedding` as
    * array<double>) unioned with its ±30% twins (`vec_id` + 2^40), plus
    * its row count. The count is exactly 2× the base table's, and a raw
    * parquet count() is metadata-cheap, so the union+transform lineage is
    * never computed twice (ADVICE r10). */
  def d11Fixture(s: SparkSession, d: String): (DataFrame, Long) = {
    val em = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val twins = em.select((col("vec_id") + (1L << 40)).as("vec_id"),
      expr("transform(embedding, (x, j) -> x * CASE WHEN j % 2 = 0 THEN 1.3 ELSE 0.7 END)")
        .as("embedding"))
    (em.unionByName(twins), 2L * Tables.embeddings(s, d).count())
  }

  /** D12 — SemDeDup: k-means cluster-then-prune semantic dedup over the
    * embeddings table; per-cell kept/dropped counts (✖est: Lloyd
    * centroids aren't SQL-replayable; the drop rule's exactness — every
    * dropped id has a lower-id cluster-mate at ≥ threshold, and no kept
    * pair within a cell reaches it — is spec-pinned against the
    * brute-force twin). */
  private def d12SemDedup: Q = (s, d) => {
    // nCells ∝ corpus — the SemDeDup paper's own scaling rule (k ≈ 11k
    // on LAION): per-cell pair space is (n/nCells)², so a FIXED cell
    // count gets quadratically heavier per cell as data grows (the r14
    // sf10 probe). ~2500 vectors/cell keeps the per-cell self-join flat;
    // ≤ sf1 resolves to the same 8 cells the query always used.
    val n = Tables.embeddings(s, d).count()
    val cells = math.max(8L, n / 2500L).toInt
    graft.scale.Dedup.semDedup(Tables.embeddings(s, d),
        "embedding", "vec_id", 0.4, nCells = cells, lloydIters = 1)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
           sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
  }

  // ---- D13/D14: exact duplicated-substring (span) dedup ----------------

  /** D13 — exact duplicated-span detection (Lee et al. 2022 ExactSubstr,
    * arXiv:2107.06499): maximal token runs whose every 6-token window
    * occurs ≥ 2 times corpus-wide. See [[graft.scale.Dedup.duplicatedSpans]]. */
  private def d13SpanDedup: Q = (s, d) =>
    graft.scale.Dedup.duplicatedSpans(Tables.documents(s, d), "text", "doc_id", L = 6)
      .select(col("sid").as("doc_id"),
              col("span_start").cast("long").as("span_start"),
              col("span_end").cast("long").as("span_end"),
              col("span_tokens").cast("long").as("span_tokens"))

  private val spanL = 6
  private def spanGram = (0 until spanL).map(j => s"w[pos+$j]").mkString(" || ' ' || ")
  private def spanCte =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |we AS (SELECT doc_id, w FROM w WHERE len(w) >= $spanL),
       |g AS (SELECT doc_id, unnest(generate_series(1, len(w) - ${spanL - 1})) AS pos, w FROM we),
       |g2 AS (SELECT doc_id, pos, $spanGram AS s FROM g),
       |c AS (SELECT s FROM g2 GROUP BY s HAVING count(*) >= 2),
       |hits AS (SELECT doc_id, pos FROM g2 JOIN c USING (s)),
       |brk AS (SELECT doc_id, pos,
       |          CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $spanL
       |               THEN 0 ELSE 1 END AS b
       |        FROM hits),
       |isl AS (SELECT doc_id, pos, sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM brk),
       |spans AS (SELECT doc_id, min(pos) AS span_start, max(pos) + ${spanL - 1} AS span_end
       |          FROM isl GROUP BY doc_id, island)""".stripMargin

  private val d13Sql =
    s"""WITH $spanCte
       |SELECT doc_id, span_start, span_end,
       |  span_end - span_start + 1 AS span_tokens
       |FROM spans""".stripMargin

  /** D14 — removal companion: documents rebuilt with duplicated spans cut
    * out (the ExactSubstr-cut policy). */
  private def d14SpanStrip: Q = (s, d) =>
    graft.scale.Dedup.stripDuplicatedSpans(Tables.documents(s, d), "text", "doc_id", L = 6)
      .select(col("sid").as("doc_id"), col("n_tokens"),
              col("n_dup_tokens"), col("clean_text"))

  private val d14Sql =
    s"""WITH $spanCte,
       |tok AS (SELECT doc_id, unnest(generate_series(1, len(w))) AS pos, w FROM w),
       |tok2 AS (SELECT doc_id, pos, w[pos] AS t FROM tok),
       |cov AS (SELECT t2.doc_id, t2.pos FROM tok2 t2
       |        JOIN spans s ON t2.doc_id = s.doc_id AND t2.pos BETWEEN s.span_start AND s.span_end),
       |kept AS (SELECT t2.doc_id, t2.pos, t2.t FROM tok2 t2 ANTI JOIN cov USING (doc_id, pos)),
       |clean AS (SELECT doc_id, string_agg(t, ' ' ORDER BY pos) AS txt FROM kept GROUP BY doc_id),
       |dupn AS (SELECT doc_id, count(*) AS n FROM cov GROUP BY doc_id)
       |SELECT w.doc_id, CAST(len(w.w) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(d.n, 0) AS BIGINT) AS n_dup_tokens,
       |  coalesce(c.txt, '') AS clean_text
       |FROM w LEFT JOIN clean c USING (doc_id) LEFT JOIN dupn d USING (doc_id)""".stripMargin

  // ---- PIPE2: fused pretraining prep -----------------------------------

  /** PIPE2 — ExactSubstr-cut → min-length gate (cleaned tokens ≥ 20) →
    * Gopher repetition gate → md5-fence train/val/test split; per-split
    * doc and token totals, the whole chain one plan and one oracle. */
  private def pipe2Pretrain: Q = (s, d) =>
    Curation.pretrainPrep(Tables.documents(s, d), "text", "doc_id",
        spanL = 6, minTokens = 20)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_clean")).as("n_tokens"))

  private val pipe2Sql =
    s"""WITH $spanCte,
       |tok AS (SELECT doc_id, unnest(generate_series(1, len(w))) AS pos, w FROM w),
       |tok2 AS (SELECT doc_id, pos, w[pos] AS t FROM tok),
       |cov AS (SELECT t2.doc_id, t2.pos FROM tok2 t2
       |        JOIN spans s ON t2.doc_id = s.doc_id AND t2.pos BETWEEN s.span_start AND s.span_end),
       |kept AS (SELECT t2.doc_id, t2.pos, t2.t FROM tok2 t2 ANTI JOIN cov USING (doc_id, pos)),
       |clean AS (SELECT doc_id, string_agg(t, ' ' ORDER BY pos) AS txt FROM kept GROUP BY doc_id),
       |dupn AS (SELECT doc_id, count(*) AS n FROM cov GROUP BY doc_id),
       |docs2 AS (SELECT w.doc_id,
       |    CAST(len(w.w) AS BIGINT) - CAST(coalesce(d.n, 0) AS BIGINT) AS n_clean,
       |    coalesce(c.txt, '') AS ct
       |  FROM w LEFT JOIN clean c USING (doc_id) LEFT JOIN dupn d USING (doc_id)),
       |g0 AS (SELECT doc_id, n_clean, string_split(ct, ' ') AS cw
       |       FROM docs2 WHERE n_clean >= 20),
       |gg AS (SELECT doc_id, n_clean,
       |    list_transform(generate_series(1, len(cw) - 1), i -> cw[i] || ' ' || cw[i+1]) AS bi,
       |    list_transform(generate_series(1, len(cw) - 2), i -> cw[i] || ' ' || cw[i+1] || ' ' || cw[i+2]) AS tri
       |  FROM g0),
       |f AS (SELECT doc_id, n_clean,
       |    CASE WHEN len(bi) > 0 THEN
       |      CAST(list_aggregate(list_transform(list_distinct(bi),
       |        u -> len(list_filter(bi, x -> x = u))), 'max') AS DOUBLE) / len(bi)
       |    ELSE 0.0 END AS tb,
       |    CASE WHEN len(tri) > 0 THEN
       |      1.0 - CAST(len(list_distinct(tri)) AS DOUBLE) / len(tri)
       |    ELSE 0.0 END AS dt
       |  FROM gg),
       |k AS (SELECT doc_id, n_clean FROM f WHERE tb <= 0.18 AND dt <= 0.30),
       |sp AS (SELECT doc_id, n_clean,
       |    CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'cccc' THEN 'train'
       |         WHEN md5(CAST(doc_id AS VARCHAR)) < 'e666' THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM k)
       |SELECT split, count(*) AS n_docs, CAST(sum(n_clean) AS BIGINT) AS n_tokens
       |FROM sp GROUP BY split""".stripMargin

  // ---- X14/A14: normalization + rollup profiling -----------------------

  /** X14 — canonical text normalization (lowercase → punctuation to
    * spaces → collapse runs → trim); the character class is the portable
    * Java∩RE2 subset so both engines run the identical regexes. To make
    * the normalization observable on the all-lowercase fixture, the doc
    * text is first roughed up deterministically (upper-case every doc
    * whose id is 0 mod 3, comma-join every 0 mod 7). */
  private def x14Normalize: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .withColumn("text",
        when(col("doc_id") % 3 === 0, upper(col("text")))
          .otherwise(col("text")))
      .withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(lit("  "), regexp_replace(col("text"), " ", ", "), lit("!  ")))
          .otherwise(col("text")))
    graft.scale.TextAnalysis.normalize(docs, "text")
      .select(col("doc_id"), col("norm_text"), col("n_chars_raw"), col("n_chars_norm"))
  }

  private val x14Sql =
    """WITH roughed AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN
      |      '  ' || regexp_replace(CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END, ' ', ', ', 'g') || '!  '
      |    ELSE CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END END AS text
      |  FROM documents)
      |SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), '  +', ' ', 'g')) AS norm_text,
      |  CAST(length(text) AS BIGINT) AS n_chars_raw,
      |  CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), '  +', ' ', 'g'))) AS BIGINT) AS n_chars_norm
      |FROM roughed""".stripMargin

  /** A14 — hierarchical corpus profile via ROLLUP(lang, source): doc
    * counts and char sums at every aggregation level in one pass (the
    * grouping-sets shape a corpus-audit dashboard runs at 100 TB — one
    * shuffle, partial aggs per grouping set). */
  private def a14Rollup: Q = (s, d) =>
    Tables.documents(s, d)
      .rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))

  private val a14Sql =
    """SELECT lang, source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY ROLLUP (lang, source)""".stripMargin

  // ---- X15/S7: char entropy + BM25 retrieval ---------------------------

  /** X15 — Shannon character entropy per document (quality gate: both
    * entropy tails are filter targets). Run-length over the sorted char
    * array, 1e-9-quantized terms summed exactly — see
    * [[graft.scale.TextAnalysis.charEntropy]]. */
  private def x15Entropy: Q = (s, d) =>
    graft.scale.TextAnalysis.charEntropy(Tables.documents(s, d), "text")
      .select(col("doc_id"), col("n_chars_obs"), col("char_entropy"))

  private val x15Sql =
    """WITH ch AS (
      |  SELECT doc_id, unnest(string_split_regex(text, '')) AS c FROM documents
      |), f AS (
      |  SELECT doc_id, c, count(*) AS n FROM ch WHERE c <> '' GROUP BY 1, 2
      |), agg AS (
      |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chars_obs,
      |    CAST(sum(CAST(floor(n * log2(n) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS s9
      |  FROM f GROUP BY 1)
      |SELECT doc_id, n_chars_obs,
      |  floor((log2(n_chars_obs) - (CAST(s9 AS DOUBLE) / 1e9) / n_chars_obs) * 1e6 + 0.5) / 1e6
      |    AS char_entropy
      |FROM agg""".stripMargin

  /** The fixed probe queries for s7 — corpus-vocabulary terms, shared
    * verbatim with the oracle's VALUES list. */
  private val bm25Queries: Seq[(Long, String)] = Seq(
    (0L, "spark join performance"), (1L, "window agg order"),
    (2L, "customer value table"))

  /** S7 — BM25 lexical top-k retrieval (Lucene-default scoring; the
    * lexical complement to the s1–s4 embedding ANN family). Only
    * query-term hits shuffle; see [[graft.scale.TextAnalysis.bm25TopK]]. */
  private def s7Bm25: Q = (s, d) =>
    graft.scale.TextAnalysis.bm25TopK(Tables.documents(s, d), "text", "doc_id",
      bm25Queries, k = 10)

  private val s7Sql =
    """WITH queries(query_id, qtext) AS (VALUES
      |  (0, 'spark join performance'), (1, 'window agg order'), (2, 'customer value table')),
      |qterm AS (SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS t FROM queries),
      |dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
      |stats AS (SELECT count(*)::DOUBLE AS n, (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
      |tf AS (
      |  SELECT d.doc_id, tok.t, count(*)::DOUBLE AS tf
      |  FROM documents d, unnest(string_split(d.text, ' ')) AS tok(t)
      |  WHERE tok.t IN (SELECT DISTINCT t FROM qterm)
      |  GROUP BY 1, 2),
      |df AS (SELECT t, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT q.query_id, tf.doc_id,
      |    CAST(floor(
      |      ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0) *
      |      (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
      |      * 1e9 + 0.5) AS BIGINT) AS s9
      |  FROM qterm q JOIN tf ON q.t = tf.t
      |  JOIN df ON df.t = q.t JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats),
      |agg AS (SELECT query_id, doc_id, CAST(sum(s9) AS BIGINT) AS s9 FROM scored GROUP BY 1, 2),
      |rk AS (SELECT query_id, doc_id,
      |         floor((CAST(s9 AS DOUBLE) / 1e9) * 1e6 + 0.5) / 1e6 AS score,
      |         row_number() OVER (PARTITION BY query_id ORDER BY s9 DESC, doc_id) AS rk
      |       FROM agg)
      |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, CAST(rk AS BIGINT) AS rank
      |FROM rk WHERE rk <= 10""".stripMargin

  // ---- S8/S9: embedding compression audits -----------------------------

  /** S8 — symmetric int8 quantization audit: per-vector scale, saturated
    * lanes, and exact 1e-9-grid dequantization error (the 4× storage cut
    * measured, not assumed). Map-side only. */
  private def s8Int8: Q = (s, d) =>
    graft.scale.Similarity.int8Quantize(Tables.embeddings(s, d), "embedding", "vec_id")

  private val s8Sql =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |           FROM embeddings),
      |f AS (SELECT vec_id, e, 127.0 / list_max(list_transform(e, x -> abs(x))) AS s
      |      FROM e WHERE list_max(list_transform(e, x -> abs(x))) > 0),
      |err AS (SELECT vec_id, s, e,
      |          list_transform(e, x -> x - CAST(floor(x * s + 0.5) AS BIGINT) / s) AS err
      |        FROM f)
      |SELECT vec_id,
      |  floor(s * 1e6 + 0.5) / 1e6 AS scale6,
      |  CAST(len(list_filter(e, x -> abs(CAST(floor(x * s + 0.5) AS BIGINT)) >= 127)) AS BIGINT) AS n_sat,
      |  CAST(list_sum(list_transform(err, x -> abs(CAST(floor(x * 1e9 + 0.5) AS BIGINT)))) AS BIGINT) AS sum_abs_err9,
      |  CAST(list_max(list_transform(err, x -> abs(CAST(floor(x * 1e9 + 0.5) AS BIGINT)))) AS BIGINT) AS max_abs_err9
      |FROM err""".stripMargin

  /** S9 — Matryoshka truncation audit: recall@10 of prefix-16 cosine
    * top-k against full-64, per probe vector. Deterministic via the
    * 1e-9 score grid. */
  private def s9Matryoshka: Q = (s, d) =>
    graft.scale.Similarity.matryoshkaRecall(Tables.embeddings(s, d), "embedding",
      "vec_id", subDim = 16, k = 10, nProbes = 5)

  private val s9Sql = {
    def leg(normDim: String, dotDim: String, name: String) =
      s"""norm_$name AS (
         |  SELECT vec_id, CAST(sum(CAST(floor(e[i.i] * e[i.i] * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS n12
         |  FROM base, lateral (SELECT unnest(generate_series(1, $normDim)) AS i) i GROUP BY vec_id),
         |dot_$name AS (
         |  SELECT p.vec_id AS pid, b.vec_id AS vid,
         |    CAST(sum(CAST(floor(b.e[i.i] * p.e[i.i] * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS dot12
         |  FROM base b JOIN probes p ON b.vec_id <> p.vec_id,
         |       lateral (SELECT unnest(generate_series(1, $dotDim)) AS i) i
         |  GROUP BY 1, 2),
         |top_$name AS (
         |  SELECT pid, vid FROM (
         |    SELECT d.pid, d.vid,
         |      row_number() OVER (PARTITION BY d.pid ORDER BY
         |        CAST(floor((d.dot12 / 1e12) / sqrt(nb.n12 / 1e12) / sqrt(np.n12 / 1e12) * 1e9 + 0.5) AS BIGINT) DESC,
         |        d.vid) AS rk
         |    FROM dot_$name d JOIN norm_$name nb ON nb.vec_id = d.vid
         |         JOIN norm_$name np ON np.vec_id = d.pid)
         |  WHERE rk <= 10)""".stripMargin
    s"""WITH base AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |              FROM embeddings),
       |probes AS (SELECT vec_id, e FROM base WHERE vec_id < 5),
       |${leg("len(e)", "len(b.e)", "full")},
       |${leg("16", "16", "tr")}
       |SELECT f.pid, floor(CAST(count(t.vid) AS DOUBLE) / 10 * 1e6 + 0.5) / 1e6 AS recall
       |FROM top_full f LEFT JOIN top_tr t ON t.pid = f.pid AND t.vid = f.vid
       |GROUP BY f.pid""".stripMargin
  }

  // ---- ST_TOPK: heavy hitters (batch twin of StreamTopK) ---------------

  /** ST_TOPK — exact token top-20 over the corpus (count desc, token
    * asc): the batch twin / oracle for [[graft.streaming.StreamTopK]]'s
    * sharded Space-Saving sketch; parity and error bounds are pinned in
    * StreamingSpec. */
  private def stTopK: Q = (s, d) =>
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(20)

  private val stTopKSql =
    """SELECT tok, cnt FROM (
      |  SELECT tok, count(*) AS cnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY 1)
      |ORDER BY cnt DESC, tok LIMIT 20""".stripMargin

  // ---- T16/T17: per-series diagnostics ---------------------------------

  /** T16 — Hampel rolling-median/MAD anomaly flags over every user's
    * event series (±5 window, 3.5 MAD): the robust outlier audit run
    * before pointing estimators at a series. Lower-median convention
    * pins both engines to the same element. */
  private def t16Anomaly: Q = (s, d) =>
    graft.scale.SeriesDiagnostics.rollingMadAnomaly(
        Tables.events(s, d), "value", "ts", Seq("user_id"),
        halfWin = 5, nSigmas = 3.5, tieBreak = Seq("event_id"))
      .filter(col("is_anomaly"))
      .select(col("user_id"), col("event_id"),
        Det.dround(col("y"), 6).as("y"),
        Det.dround(col("med"), 6).as("med"),
        Det.dround(col("mad"), 6).as("mad"))

  private val t16Sql =
    s"""WITH s AS (
       |  SELECT user_id, event_id, CAST(value AS DOUBLE) AS y,
       |    list(CAST(value AS DOUBLE)) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS arr
       |  FROM events),
       |m AS (SELECT user_id, event_id, y,
       |        list_sort(arr)[(len(arr) + 1) // 2] AS med, arr FROM s),
       |d AS (SELECT user_id, event_id, y, med,
       |        list_sort(list_transform(arr, x -> abs(x - med)))[(len(arr) + 1) // 2] AS mad
       |      FROM m)
       |SELECT user_id, event_id, ${Det.droundSql("y", 6)} AS y,
       |  ${Det.droundSql("med", 6)} AS med, ${Det.droundSql("mad", 6)} AS mad
       |FROM d WHERE mad > 0 AND abs(y - med) > 3.5 * mad""".stripMargin

  /** T17 — CUSUM mean-shift changepoint per series (Page 1954): position
    * of the |cumsum| peak, all-integer on the 1e-6 grid (no float
    * accumulation — engines associate window sums differently). */
  private def t17Cusum: Q = (s, d) =>
    graft.scale.SeriesDiagnostics.cusumChangepoint(
        Tables.events(s, d), "value", "ts", Seq("user_id"), Seq("event_id"))

  private val t17Sql =
    """WITH s AS (
      |  SELECT user_id,
      |    CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS y6,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS t,
      |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT))
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run6,
      |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
      |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT))
      |      OVER (PARTITION BY user_id) AS BIGINT) AS tot6
      |  FROM events),
      |c AS (SELECT user_id, n, t, n * run6 - t * tot6 AS s6 FROM s),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY abs(s6) DESC, t) AS rk
      |       FROM c)
      |SELECT user_id, n, t AS cp_t, CAST(abs(s6) AS BIGINT) AS cusum6,
      |  CAST(CASE WHEN s6 > 0 THEN 1 WHEN s6 < 0 THEN -1 ELSE 0 END AS BIGINT) AS direction
      |FROM rk WHERE rk = 1""".stripMargin

  // ---- A18/A19: funnel + cohort retention ------------------------------

  /** A18 — ordered funnel view → click → purchase (earliest-completion
    * greedy, strict timestamp order) with conversion from step 1. */
  private def a18Funnel: Q = (s, d) =>
    graft.scale.EventAnalytics.funnel(
        Tables.events(s, d), "event_type", "ts", "user_id",
        Seq("view", "click", "purchase"))
      .select(col("step"), col("step_type"), col("users"),
        Det.dround(col("conversion"), 6).as("conversion"))

  private val a18Sql =
    s"""WITH t1 AS (SELECT user_id, min(ts) AS t FROM events
       |            WHERE event_type = 'view' GROUP BY 1),
       |t2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
       |       JOIN t1 ON e.user_id = t1.user_id
       |       WHERE e.event_type = 'click' AND e.ts > t1.t GROUP BY 1),
       |t3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
       |       JOIN t2 ON e.user_id = t2.user_id
       |       WHERE e.event_type = 'purchase' AND e.ts > t2.t GROUP BY 1),
       |c AS (SELECT 1 AS step, 'view' AS step_type,
       |        CAST((SELECT count(*) FROM t1) AS BIGINT) AS users
       |      UNION ALL SELECT 2, 'click', CAST((SELECT count(*) FROM t2) AS BIGINT)
       |      UNION ALL SELECT 3, 'purchase', CAST((SELECT count(*) FROM t3) AS BIGINT))
       |SELECT step, step_type, users,
       |  ${Det.droundSql("CAST(users AS DOUBLE) / (SELECT users FROM c WHERE step = 1)", 6)} AS conversion
       |FROM c""".stripMargin

  /** A19 — weekly cohort retention over 8 periods: cohort by first-seen
    * week, active = distinct (user, week) before any join. */
  private def a19Retention: Q = (s, d) =>
    graft.scale.EventAnalytics.retention(
        Tables.events(s, d), "ts", "user_id",
        periodSeconds = 604800L, maxPeriods = 8)
      .select(col("cohort"), col("k"), col("active"), col("cohort_size"),
        Det.dround(col("retention"), 6).as("retention"))

  private val a19Sql =
    s"""WITH p AS (SELECT user_id, CAST(floor(epoch(ts)/604800.0) AS BIGINT) AS p FROM events),
       |fs AS (SELECT user_id, min(p) AS cohort FROM p GROUP BY 1),
       |a AS (SELECT DISTINCT user_id, p FROM p),
       |sz AS (SELECT cohort, count(*) AS cohort_size FROM fs GROUP BY 1),
       |r AS (SELECT fs.cohort, CAST(a.p - fs.cohort AS INT) AS k,
       |        count(*) AS active
       |      FROM a JOIN fs USING (user_id)
       |      WHERE a.p - fs.cohort BETWEEN 0 AND 8 GROUP BY 1, 2)
       |SELECT r.cohort, r.k, r.active, sz.cohort_size,
       |  ${Det.droundSql("CAST(active AS DOUBLE) / cohort_size", 6)} AS retention
       |FROM r JOIN sz USING (cohort)""".stripMargin

  // ---- T18/A17: seasonality triage + lead-lag audit --------------------

  /** T18 — seasonal strength at period 7 for every user series (ANOVA
    * of OLS-detrended values over phase means): the pre-fit triage that
    * routes series to the seasonal model family. */
  private def t18Seasonal: Q = (s, d) =>
    graft.scale.SeriesDiagnostics.seasonalStrength(
        Tables.events(s, d), "value", "ts", Seq("user_id"), m = 7,
        tieBreak = Seq("event_id"))
      .select(col("user_id"), col("n"), Det.dround(col("strength"), 6).as("strength"))

  private val t18Sql =
    s"""WITH s AS (
       |  SELECT user_id,
       |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS DOUBLE) AS t,
       |    CAST(value AS DOUBLE) AS y
       |  FROM events),
       |a AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS nn, sum(t) AS st,
       |        sum(t*t) AS stt, sum(y) AS sy, sum(t*y) AS sty
       |      FROM s GROUP BY 1),
       |f AS (SELECT user_id,
       |        CASE WHEN nn > 1 THEN (nn*sty - st*sy)/(nn*stt - st*st) ELSE 0.0 END AS slope,
       |        sy, st, nn FROM a),
       |f2 AS (SELECT user_id, slope, (sy - slope*st)/nn AS icept FROM f),
       |dd AS (SELECT s.user_id, y - (icept + slope*t) AS d,
       |         CAST(CAST(t AS BIGINT) % 7 AS BIGINT) AS phase
       |       FROM s JOIN f2 USING (user_id)),
       |p AS (SELECT user_id, phase, CAST(count(*) AS DOUBLE) AS np,
       |        sum(d) AS sd, sum(d*d) AS sdd FROM dd GROUP BY 1, 2),
       |g AS (SELECT user_id, sum(np) AS n, sum(sdd) AS sstot_raw, sum(sd) AS sdall,
       |        sum(sdd - sd*sd/np) AS ssw FROM p GROUP BY 1),
       |h AS (SELECT user_id, n, ssw, sstot_raw - sdall*sdall/n AS sstot FROM g)
       |SELECT user_id, CAST(n AS BIGINT) AS n,
       |  ${Det.droundSql("CASE WHEN sstot > 1e-9 THEN greatest(0.0, 1.0 - ssw/sstot) ELSE 0.0 END", 6)} AS strength
       |FROM h""".stripMargin

  /** A17 — lead-lag CCF between the hourly `click` and `purchase` value
    * series, lags 0..6: the exogenous-regressor audit before T3
    * alignment feeds ARIMAX/VAR. */
  private def a17Ccf: Q = (s, d) => {
    val ev = Tables.events(s, d)
    graft.scale.SeriesDiagnostics.crossCorrelation(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        "value", "ts", maxLag = 6)
      .select(col("lag"), col("n"), Det.dround(col("r"), 6).as("r"))
  }

  private val a17Sql =
    s"""WITH ax AS (SELECT CAST(floor(epoch(ts)/3600.0) AS BIGINT) AS b,
       |              avg(CAST(value AS DOUBLE)) AS x
       |            FROM events WHERE event_type = 'click' GROUP BY 1),
       |byy AS (SELECT CAST(floor(epoch(ts)/3600.0) AS BIGINT) AS b2,
       |          avg(CAST(value AS DOUBLE)) AS y
       |        FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |j AS (SELECT lag, x, y
       |      FROM ax CROSS JOIN generate_series(0, 6) AS g(lag)
       |      INNER JOIN byy ON b2 = b + lag),
       |a AS (SELECT lag, CAST(count(*) AS DOUBLE) AS nn, sum(x) AS sx,
       |        sum(x*x) AS sxx, sum(y) AS sy, sum(y*y) AS syy, sum(x*y) AS sxy
       |      FROM j GROUP BY 1),
       |d AS (SELECT lag, nn, nn*sxy - sx*sy AS num,
       |        sqrt((nn*sxx - sx*sx)*(nn*syy - sy*sy)) AS den FROM a)
       |SELECT CAST(lag AS INT) AS lag, CAST(nn AS BIGINT) AS n,
       |  ${Det.droundSql("CASE WHEN den > 0 THEN num/den ELSE NULL END", 6)} AS r
       |FROM d""".stripMargin

  // ---- T19: classical decomposition ------------------------------------

  /** T19 — per-row additive decomposition (trend/seasonal/remainder) at
    * period 7, 1-in-10 user subset (the operator is subset-free). */
  private def t19Decompose: Q = (s, d) =>
    graft.scale.SeriesDiagnostics.decompose(
        Tables.events(s, d).filter(col("user_id") % 10 === 5),
        "value", "ts", Seq("user_id"), m = 7, tieBreak = Seq("event_id"))
      .select(col("user_id"), col("t"), Det.dround(col("y"), 6).as("y"),
        Det.dround(col("trend"), 6).as("trend"),
        Det.dround(col("seasonal"), 6).as("seasonal"),
        Det.dround(col("remainder"), 6).as("remainder"))

  private val t19Sql =
    s"""WITH e AS (SELECT * FROM events WHERE user_id % 10 = 5),
       |s AS (SELECT user_id,
       |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS DOUBLE) AS t,
       |    CAST(value AS DOUBLE) AS y
       |  FROM e),
       |a AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS nn, sum(t) AS st,
       |        sum(t*t) AS stt, sum(y) AS sy, sum(t*y) AS sty
       |      FROM s GROUP BY 1),
       |f AS (SELECT user_id,
       |        CASE WHEN nn > 1 THEN (nn*sty - st*sy)/(nn*stt - st*st) ELSE 0.0 END AS slope,
       |        sy, st, nn FROM a),
       |f2 AS (SELECT user_id, slope, (sy - slope*st)/nn AS icept FROM f),
       |dd AS (SELECT s.user_id, t, y, icept + slope*t AS trend,
       |         y - (icept + slope*t) AS d,
       |         CAST(CAST(t AS BIGINT) % 7 AS BIGINT) AS phase
       |       FROM s JOIN f2 USING (user_id)),
       |p AS (SELECT user_id, phase, sum(d)/count(*) AS seasonal
       |      FROM dd GROUP BY 1, 2)
       |SELECT dd.user_id, CAST(t AS BIGINT) AS t, ${Det.droundSql("y", 6)} AS y,
       |  ${Det.droundSql("trend", 6)} AS trend,
       |  ${Det.droundSql("seasonal", 6)} AS seasonal,
       |  ${Det.droundSql("dd.d - seasonal", 6)} AS remainder
       |FROM dd JOIN p USING (user_id, phase)""".stripMargin

  // ---- SM11/SM12: training order + leakage-safe split ------------------

  /** SM11 — deterministic global shuffle (reproducible training order):
    * exact global rank in md5(id:seed) order, computed with fixed
    * hex-prefix range buckets — no global window, no sampled range
    * boundaries. */
  private def sm11Shuffle: Q = (s, d) =>
    Sampling.deterministicShuffle(Tables.documents(s, d), "doc_id", seed = 42L)
      .select(col("doc_id"), col("position"))

  private val sm11Sql =
    """SELECT doc_id,
      |  CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) - 1 AS BIGINT) AS position
      |FROM documents""".stripMargin

  /** SM12 — leakage-safe GROUP split: hash-fence splitting keyed on the
    * GROUP (source), not the row, so every document of a source lands in
    * the same fold — the GroupKFold discipline that stops near-dup
    * train/test leakage through shared boilerplate. Same md5 fences as
    * sm6_hash_split. */
  private def sm12GroupSplit: Q = (s, d) =>
    Sampling.hashSplit(Tables.documents(s, d), "source", 80, 10)
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n"))

  private val sm12Sql =
    """SELECT source,
      |  CASE WHEN md5(source) < 'cccc' THEN 'train'
      |       WHEN md5(source) < 'e666' THEN 'val'
      |       ELSE 'test' END AS split,
      |  count(*) AS n
      |FROM documents GROUP BY 1, 2""".stripMargin

  // ---- A15/A16: split-drift audits -------------------------------------

  /** A15 — PSI drift audit between the `purchase` and `view` event
    * populations over 10 shared fixed-width value bins (pooled min/max
    * edges, Laplace-smoothed shares). One row per bin so every term is
    * exactly replayable; Σpsi is the caller's 10-row sum. */
  private def a15Psi: Q = (s, d) =>
    graft.stats.DriftAudit.psiBins(
        Tables.events(s, d).filter(col("event_type").isin("purchase", "view")),
        "value", "event_type", bins = 10)
      .select(col("bin"), col("n_a"), col("n_b"),
        Det.dround(col("p_a"), 6).as("p_a"), Det.dround(col("p_b"), 6).as("p_b"),
        Det.dround(col("psi"), 6).as("psi"))

  private val a15Sql =
    s"""WITH e AS (SELECT event_type AS sp, CAST(value AS DOUBLE) AS v
       |           FROM events WHERE event_type IN ('purchase', 'view')),
       |mm AS (SELECT min(v) AS lo, max(v) AS hi FROM e),
       |bn AS (SELECT sp, CASE WHEN hi = lo THEN 0
       |         ELSE least(CAST(floor((v - lo) / (hi - lo) * 10) AS INT), 9) END AS bin
       |       FROM e, mm),
       |c AS (SELECT bin,
       |        CAST(sum(CASE WHEN sp = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |        CAST(sum(CASE WHEN sp = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
       |      FROM bn GROUP BY bin),
       |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS tot_a,
       |             CAST(sum(n_b) AS BIGINT) AS tot_b FROM c),
       |p AS (SELECT bin, n_a, n_b,
       |        (n_a + 0.5) / (tot_a + 0.5 * 10) AS p_a,
       |        (n_b + 0.5) / (tot_b + 0.5 * 10) AS p_b
       |      FROM c, t)
       |SELECT bin, n_a, n_b, ${Det.droundSql("p_a", 6)} AS p_a,
       |  ${Det.droundSql("p_b", 6)} AS p_b,
       |  ${Det.droundSql("(p_a - p_b) * ln(p_a / p_b)", 6)} AS psi
       |FROM p""".stripMargin

  /** A16 — exact two-sample Kolmogorov–Smirnov distance between the
    * same two populations: D as a ratio of integer counts (no float
    * accumulation), CDF gaps evaluated after ties. */
  private def a16Ks: Q = (s, d) =>
    graft.stats.DriftAudit.ksStatistic(
        Tables.events(s, d).filter(col("event_type").isin("purchase", "view")),
        "value", "event_type")
      .select(Det.dround(col("ks_d"), 6).as("ks_d"), col("d_num"), col("d_den"))

  private val a16Sql =
    s"""WITH e AS (SELECT event_type AS sp, CAST(value AS DOUBLE) AS v
       |           FROM events WHERE event_type IN ('purchase', 'view')),
       |c AS (SELECT v AS x,
       |        CAST(sum(CASE WHEN sp = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |        CAST(sum(CASE WHEN sp = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cb
       |      FROM e GROUP BY v),
       |r AS (SELECT x,
       |        CAST(sum(ca) OVER (ORDER BY x) AS BIGINT) AS ra,
       |        CAST(sum(cb) OVER (ORDER BY x) AS BIGINT) AS rb FROM c),
       |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM c)
       |SELECT ${Det.droundSql("CAST(max(abs(ra*nb - rb*na)) AS DOUBLE) / CAST(na*nb AS DOUBLE)", 6)} AS ks_d,
       |  CAST(max(abs(ra*nb - rb*na)) AS BIGINT) AS d_num,
       |  CAST(max(na*nb) AS BIGINT) AS d_den
       |FROM r, t GROUP BY na, nb""".stripMargin

  // ---- F7: Theta-method forecast ---------------------------------------

  /** F7 — Theta(0,2) per-series forecast (the M3-competition winner):
    * average of the OLS-trend extension and the SES(α=0.5) level of the
    * doubled-curvature theta=2 line, all from ONE window+agg pass.
    * Exactly replayable: dyadic α, 1e-9 BIGINT term sums for the SES
    * parts, the f4 OLS sums for the trend. */
  private def f7Theta: Q = (s, d) =>
    graft.scale.PerSeriesForecast.thetaForecast(
        Tables.events(s, d), "value", "ts", Seq("user_id"), 3, 0.5, Seq("event_id"))
      .select(col("user_id"), col("h"), Det.dround(col("yhat"), 6).as("yhat"))

  private val f7Sql =
    s"""WITH s AS (
       |  SELECT user_id,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t1,
       |    count(*) OVER (PARTITION BY user_id) AS n,
       |    CAST(value AS DOUBLE) AS y
       |  FROM events),
       |w AS (SELECT user_id, CAST(t1 - 1 AS DOUBLE) AS t, y,
       |        CASE WHEN t1 = 1 THEN pow(0.5, n - 1)
       |             ELSE 0.5 * pow(0.5, n - t1) END AS wgt
       |      FROM s),
       |a AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS nn,
       |        sum(t) AS st, sum(t*t) AS stt, sum(y) AS sy, sum(t*y) AS sty,
       |        CAST(sum(CAST(floor(y * wgt * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS swy9,
       |        CAST(sum(CAST(floor(t * wgt * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS swt9,
       |        CAST(sum(CAST(floor(wgt * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS sw9
       |      FROM w GROUP BY user_id),
       |b AS (SELECT *, CASE WHEN nn > 1 THEN (nn*sty - st*sy)/(nn*stt - st*st)
       |                     ELSE 0.0 END AS slope
       |      FROM a),
       |c AS (SELECT *, (sy - slope*st)/nn AS icept FROM b),
       |l AS (SELECT *, 2.0*swy9/1e9 - icept*sw9/1e9 - slope*swt9/1e9 AS lvl2 FROM c)
       |SELECT user_id, h,
       |  ${Det.droundSql("(icept + slope*(nn - 1 + h) + lvl2) / 2", 6)} AS yhat
       |FROM l, generate_series(1, 3) AS g(h)""".stripMargin

  // ---- ST: streaming drift monitor (batch twin) ------------------------

  /** ST — per-day PSI drift against the `view` population's value
    * distribution on a fixed [0, 500]·10 grid: the streaming drift
    * monitor's batch twin (`streaming/StreamDrift`); the stream side is
    * one watermarked (window, bin) count plus this exact fold. */
  private def stDrift: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val ref = graft.streaming.StreamDrift.referenceShares(
      ev.filter(col("event_type") === "view"), "value", 0.0, 500.0, 10)
    graft.streaming.StreamDrift.psiPerDayBatch(ev, "value", "ts", ref, 0.0, 500.0, 10)
      .select(col("day"), col("n_events"), Det.dround(col("psi"), 6).as("psi"),
        col("drifted"))
  }

  private val stDriftSql =
    s"""WITH rb AS (SELECT least(greatest(
       |      CAST(floor((CAST(value AS DOUBLE) - 0.0)/(500.0 - 0.0)*10) AS INT), 0), 9) AS bin
       |    FROM events WHERE event_type = 'view'),
       |rc AS (SELECT bin, count(*) AS n FROM rb GROUP BY 1),
       |rt AS (SELECT count(*) AS tot FROM rb),
       |q AS (SELECT g.bin, (coalesce(rc.n, 0) + 0.5)/(rt.tot + 0.5*10) AS q
       |      FROM generate_series(0, 9) AS g(bin) LEFT JOIN rc USING (bin), rt),
       |ev AS (SELECT CAST(floor(epoch(ts)/86400.0) AS BIGINT) AS day,
       |         least(greatest(
       |           CAST(floor((CAST(value AS DOUBLE) - 0.0)/(500.0 - 0.0)*10) AS INT), 0), 9) AS bin
       |       FROM events),
       |c AS (SELECT day, bin, count(*) AS cnt FROM ev GROUP BY 1, 2),
       |days AS (SELECT DISTINCT day FROM c),
       |f AS (SELECT d.day, g.bin, coalesce(c.cnt, 0) AS n
       |      FROM days d CROSS JOIN generate_series(0, 9) AS g(bin)
       |      LEFT JOIN c ON c.day = d.day AND c.bin = g.bin),
       |t AS (SELECT day, CAST(sum(n) AS BIGINT) AS tot FROM f GROUP BY 1),
       |terms AS (SELECT f.day, t.tot,
       |    CAST(floor(((f.n + 0.5)/(t.tot + 0.5*10) - q.q)
       |      * ln(((f.n + 0.5)/(t.tot + 0.5*10))/q.q) * 1e9 + 0.5) AS BIGINT) AS term9
       |  FROM f JOIN t USING (day) JOIN q USING (bin))
       |SELECT day, CAST(max(tot) AS BIGINT) AS n_events,
       |  ${Det.droundSql("sum(term9)/1e9", 6)} AS psi,
       |  sum(term9)/1e9 > 0.25 AS drifted
       |FROM terms GROUP BY day""".stripMargin

  // ---- ST: streaming expanding z-score (batch twin) --------------------

  /** ST — expanding z-score anomaly flags per user series (the causal,
    * O(1)-state streaming complement to the Hampel filter): each event
    * scored against the exact-decimal prior mean/σ. Batch twin of
    * `streaming/StreamAnomaly.flags`; streaming==batch parity is
    * spec-pinned under random micro-batch splits. */
  private def stZscore: Q = (s, d) =>
    graft.streaming.StreamAnomaly.flagsBatch(
        Tables.events(s, d), "value", "ts", Seq("user_id"), Seq("event_id"), 3.0)
      .select(col("user_id"), col("event_id"),
        Det.dround(col("z"), 6).as("z"), col("is_anomaly"))

  private val stZscoreSql =
    s"""WITH s AS (SELECT user_id, event_id, ts,
       |    CAST(floor(CAST(value AS DOUBLE)*100 + 0.5)/100 AS DECIMAL(18,2)) AS v2
       |  FROM events),
       |w AS (SELECT user_id, event_id, CAST(v2 AS DOUBLE) AS y2,
       |    row_number() OVER win AS rn,
       |    CAST(sum(v2) OVER winp AS DOUBLE) AS sy,
       |    CAST(sum(CAST(v2*v2 AS DECIMAL(38,4))) OVER winp AS DOUBLE) AS syy
       |  FROM s
       |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id),
       |         winp AS (PARTITION BY user_id ORDER BY ts, event_id
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |c AS (SELECT user_id, event_id, y2, rn, sy, syy,
       |        CAST(rn - 1 AS DOUBLE) AS n FROM w),
       |z AS (SELECT user_id, event_id, y2, rn, n,
       |        (syy - sy*sy/n)/(n - 1.0) AS varr, sy/n AS mean FROM c)
       |SELECT user_id, event_id,
       |  ${Det.droundSql("CASE WHEN rn >= 3 AND varr > 0 THEN (y2 - mean)/sqrt(varr) ELSE NULL END", 6)} AS z,
       |  coalesce(CASE WHEN rn >= 3 AND varr > 0
       |             THEN abs((y2 - mean)/sqrt(varr)) > 3.0 ELSE NULL END, false) AS is_anomaly
       |FROM z""".stripMargin

  // ---- F8: Croston intermittent demand ---------------------------------

  /** F8 — Croston's method per user over the INTERMITTENT demand series
    * "purchase value, else zero": separate SES levels for demand size
    * and inter-demand interval, flat rate forecast z/q. */
  private def f8Croston: Q = (s, d) =>
    graft.scale.PerSeriesForecast.crostonForecast(
        Tables.events(s, d).withColumn("demand",
          when(col("event_type") === "purchase", col("value")).otherwise(lit(0.0))),
        "demand", "ts", Seq("user_id"), 2, 0.5, Seq("event_id"))
      .select(col("user_id"), col("h"), Det.dround(col("yhat"), 6).as("yhat"),
        col("n_demands"))

  private val f8Sql =
    s"""WITH s AS (SELECT user_id,
       |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS t,
       |    CASE WHEN event_type = 'purchase' THEN CAST(value AS DOUBLE) ELSE 0.0 END AS y
       |  FROM events),
       |nz AS (SELECT user_id, t, y,
       |    row_number() OVER (PARTITION BY user_id ORDER BY t) AS i,
       |    count(*) OVER (PARTITION BY user_id) AS nnz,
       |    CAST(t - coalesce(lag(t) OVER (PARTITION BY user_id ORDER BY t), 0) AS DOUBLE) AS q
       |  FROM s WHERE y <> 0.0),
       |w AS (SELECT user_id, nnz,
       |    CASE WHEN i = 1 THEN pow(0.5, nnz - 1)
       |         ELSE 0.5 * pow(0.5, nnz - i) END AS wgt, y, q
       |  FROM nz),
       |a AS (SELECT user_id,
       |    CAST(sum(CAST(floor(y * wgt * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS z9,
       |    CAST(sum(CAST(floor(q * wgt * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS q9,
       |    CAST(max(nnz) AS BIGINT) AS n_demands
       |  FROM w GROUP BY 1)
       |SELECT user_id, h, ${Det.droundSql("(z9/1e9)/(q9/1e9)", 6)} AS yhat, n_demands
       |FROM a, generate_series(1, 2) AS g(h)""".stripMargin

  // ---- F9: Holt linear-trend forecast ----------------------------------

  /** F9 — Holt's linear method per user (α=.5, β=.25): the general
    * coupled level/trend recursion, one flatMapGroups pass. ✖est (the
    * coupled recursion has no SQL form); the β=0 twin below is the
    * hash-checked anchor and ScaleSpec2 pins the general fold. */
  private def f9Holt: Q = (s, d) =>
    graft.scale.PerSeriesForecast.holtForecast(
        Tables.events(s, d), "value", "ts", "user_id", 3, 0.5, 0.25,
        Some("event_id"))
      .select(col("user_id"), col("h"), Det.dround(col("yhat"), 4).as("yhat"))

  /** F9b — the β=0 cross-implementation twin: the SAME Scala recursion
    * (β=0) vs DuckDB's closed form — Holt(β=0) level is exactly a SES
    * over z_t = y_t − b₁(t−1), so ŷ = SES(z) + b₁(n−1) + h·b₁. Checks
    * the recursion itself, not a replay of the same algebra. 4-decimal
    * round: recursion-vs-closed-form float drift is ~1e-12, far inside
    * the grid. */
  private def f9Holt0: Q = (s, d) =>
    graft.scale.PerSeriesForecast.holtForecast(
        Tables.events(s, d), "value", "ts", "user_id", 3, 0.5, 0.0,
        Some("event_id"))
      .select(col("user_id"), col("h"), Det.dround(col("yhat"), 4).as("yhat"))

  private val f9Holt0Sql =
    s"""WITH s AS (SELECT user_id,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
       |    count(*) OVER (PARTITION BY user_id) AS n,
       |    CAST(value AS DOUBLE) AS y
       |  FROM events),
       |ab AS (SELECT user_id, max(CASE WHEN rn = 1 THEN y END) AS y1,
       |         max(CASE WHEN rn = 2 THEN y END) AS y2 FROM s GROUP BY 1),
       |z AS (SELECT s.user_id, rn, n, y - (y2 - y1)*(rn - 1) AS z
       |      FROM s JOIN ab USING (user_id) WHERE n >= 2),
       |w AS (SELECT user_id, n,
       |        z * (CASE WHEN rn = 1 THEN pow(0.5, n - 1)
       |             ELSE 0.5 * pow(0.5, n - rn) END) AS term
       |      FROM z),
       |m AS (SELECT user_id, sum(term) AS lvl, CAST(max(n) AS BIGINT) AS n
       |      FROM w GROUP BY 1),
       |j AS (SELECT m.user_id, lvl, n, (y2 - y1) AS b1 FROM m JOIN ab USING (user_id)),
       |un AS (SELECT user_id, h, lvl + b1*(n - 1) + h*b1 AS yhat
       |       FROM j, generate_series(1, 3) AS g(h)
       |       UNION ALL
       |       SELECT user_id, h, y AS yhat
       |       FROM s, generate_series(1, 3) AS g(h) WHERE n = 1)
       |SELECT user_id, h, ${Det.droundSql("yhat", 4)} AS yhat FROM un""".stripMargin

  /** MM6 — perceptual image hash (dHash) over the REAL codec path: the
    * mm5 PNG fixtures (ImageIO encode → ImageIO decode) hashed to 64
    * gradient bits; the oracle replays the LCG pixel stream and the
    * integer-NN 9×8 luma grid in SQL — codec-true, like mm5. The output
    * hash is the image-side SimHash key: Hamming matching via the
    * d4/StreamDedup block machinery applies verbatim. */
  private def mm6Phash: Q = (s, d) => {
    val toPng = org.apache.spark.sql.functions.udf { (id: Long) =>
      graft.scale.Multimodal.encodePng(
        (8 + id % 8).toInt, (8 + (id * 3) % 8).toInt, seed = id)
    }
    val ph = org.apache.spark.sql.functions.udf { (bytes: Array[Byte]) =>
      graft.scale.Multimodal.dHash(bytes).map(java.lang.Long.valueOf).orNull
    }
    Tables.documents(s, d).select(col("doc_id"))
      .withColumn("dhash", ph(toPng(col("doc_id"))))
  }

  private val mm6Sql =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, CAST(8 + doc_id % 8 AS INTEGER) AS w,
      |         CAST(8 + (doc_id * 3) % 8 AS INTEGER) AS h
      |  FROM documents),
      |init AS (
      |  SELECT doc_id, w, h, CAST(w AS BIGINT) * h AS np,
      |    (CAST(doc_id AS HUGEINT) * 6364136223846793005 + 1442695040888963407)
      |      % 18446744073709551616 AS s0
      |  FROM d),
      |px(doc_id, i, s) AS (
      |  SELECT doc_id, CAST(1 AS BIGINT),
      |    (s0 * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
      |  FROM init
      |  UNION ALL
      |  SELECT p.doc_id, p.i + 1,
      |    (p.s * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
      |  FROM px p JOIN init q ON p.doc_id = q.doc_id
      |  WHERE p.i < q.np),
      |pix AS (SELECT doc_id, i, (s // 1099511627776) % 16777216 AS p FROM px),
      |grid AS (SELECT d.doc_id, gx.x, gy.y,
      |           (CAST(gy.y AS BIGINT) * d.h // 8) * d.w
      |             + (CAST(gx.x AS BIGINT) * d.w // 9) + 1 AS i
      |         FROM d
      |         CROSS JOIN generate_series(0, 8) AS gx(x)
      |         CROSS JOIN generate_series(0, 7) AS gy(y)),
      |lum AS (SELECT g.doc_id, g.x, g.y,
      |          299*(p.p // 65536) + 587*((p.p // 256) % 256) + 114*(p.p % 256) AS l
      |        FROM grid g JOIN pix p ON p.doc_id = g.doc_id AND p.i = g.i),
      |bits AS (SELECT a.doc_id, CAST(a.y*8 + a.x AS INT) AS bit,
      |           CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS v
      |         FROM lum a
      |         JOIN lum b ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
      |         WHERE a.x < 8),
      |halves AS (SELECT doc_id,
      |             CAST(sum(CASE WHEN bit < 32
      |               THEN v * (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS lo,
      |             CAST(sum(CASE WHEN bit >= 32
      |               THEN v * (CAST(1 AS BIGINT) << (bit - 32)) ELSE 0 END) AS BIGINT) AS hi
      |           FROM bits GROUP BY 1),
      |h2 AS (SELECT doc_id, CAST(hi AS HUGEINT)*4294967296 + lo AS hu FROM halves)
      |SELECT doc_id,
      |  CAST(CASE WHEN hu >= 9223372036854775808 THEN hu - 18446744073709551616
      |            ELSE hu END AS BIGINT) AS dhash
      |FROM h2""".stripMargin

  /** D16 — image near-dup END TO END: the mm6 corpus plus a clamped
    * +10-brightness variant of every image (dHash-invariant except
    * where a channel clamps), dHashed through the REAL codec and
    * matched with the 4-block pigeonhole Hamming join — EXACT at
    * maxHamming ≤ 3, so Spark's bucketed matcher and the oracle's
    * naive all-pairs `bit_count` filter must agree pair-for-pair. */
  private def d16PhashPairs: Q = (s, d) => {
    val png = org.apache.spark.sql.functions.udf { (id: Long, shift: Int) =>
      graft.scale.Multimodal.encodePng(
        (8 + id % 8).toInt, (8 + (id * 3) % 8).toInt, seed = id, shift = shift)
    }
    val ph = org.apache.spark.sql.functions.udf { (bytes: Array[Byte]) =>
      graft.scale.Multimodal.dHash(bytes).map(java.lang.Long.valueOf).orNull
    }
    val ids = Tables.documents(s, d).select(col("doc_id"))
    val both = ids.select(col("doc_id"), col("doc_id").as("vid"), lit(0).as("shift"))
      .unionByName(ids.select(col("doc_id"),
        (col("doc_id") + lit(1L << 40)).as("vid"), lit(10).as("shift")))
    // the (vid, dhash) signature table is 16 B/row but its PNG
    // encode+decode UDF chain is the expensive part — materialize it once
    // so hammingPairs' two join sides (and their union legs) read blocks,
    // not re-encoded images (the before-plan ran the codec chain 8×)
    val sigs = both.withColumn("dhash", ph(png(col("doc_id"), col("shift"))))
      .localCheckpoint(true)
    graft.scale.Dedup.hammingPairs(sigs, "dhash", "vid", maxHamming = 3)
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
  }

  /** Shared CTE prefix for d16/pipe4: LCG pixel stream → NN grid →
    * per-variant luma → gradient bits → packed signed-64 dhash (`hh`). */
  private val phashCte =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, CAST(8 + doc_id % 8 AS INTEGER) AS w,
      |         CAST(8 + (doc_id * 3) % 8 AS INTEGER) AS h
      |  FROM documents),
      |init AS (
      |  SELECT doc_id, w, h, CAST(w AS BIGINT) * h AS np,
      |    (CAST(doc_id AS HUGEINT) * 6364136223846793005 + 1442695040888963407)
      |      % 18446744073709551616 AS s0
      |  FROM d),
      |px(doc_id, i, s) AS (
      |  SELECT doc_id, CAST(1 AS BIGINT),
      |    (s0 * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
      |  FROM init
      |  UNION ALL
      |  SELECT p.doc_id, p.i + 1,
      |    (p.s * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
      |  FROM px p JOIN init q ON p.doc_id = q.doc_id
      |  WHERE p.i < q.np),
      |pix AS (SELECT doc_id, i, (s // 1099511627776) % 16777216 AS p FROM px),
      |grid AS (SELECT d.doc_id, gx.x, gy.y,
      |           (CAST(gy.y AS BIGINT) * d.h // 8) * d.w
      |             + (CAST(gx.x AS BIGINT) * d.w // 9) + 1 AS i
      |         FROM d
      |         CROSS JOIN generate_series(0, 8) AS gx(x)
      |         CROSS JOIN generate_series(0, 7) AS gy(y)),
      |variants AS (SELECT doc_id, doc_id AS vid, 0 AS shift FROM d
      |             UNION ALL
      |             SELECT doc_id, doc_id + 1099511627776, 10 FROM d),
      |lum AS (SELECT v.vid, g.x, g.y,
      |          299*least(p.p // 65536 + v.shift, 255)
      |        + 587*least((p.p // 256) % 256 + v.shift, 255)
      |        + 114*least(p.p % 256 + v.shift, 255) AS l
      |        FROM grid g
      |        JOIN pix p ON p.doc_id = g.doc_id AND p.i = g.i
      |        JOIN variants v ON v.doc_id = g.doc_id),
      |bits AS (SELECT a.vid, CAST(a.y*8 + a.x AS INT) AS bit,
      |           CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS v
      |         FROM lum a
      |         JOIN lum b ON b.vid = a.vid AND b.y = a.y AND b.x = a.x + 1
      |         WHERE a.x < 8),
      |halves AS (SELECT vid,
      |             CAST(sum(CASE WHEN bit < 32
      |               THEN v * (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS lo,
      |             CAST(sum(CASE WHEN bit >= 32
      |               THEN v * (CAST(1 AS BIGINT) << (bit - 32)) ELSE 0 END) AS BIGINT) AS hi
      |           FROM bits GROUP BY 1),
      |hh AS (SELECT vid,
      |         CAST(CASE WHEN CAST(hi AS HUGEINT)*4294967296 + lo >= 9223372036854775808
      |                   THEN CAST(hi AS HUGEINT)*4294967296 + lo - 18446744073709551616
      |                   ELSE CAST(hi AS HUGEINT)*4294967296 + lo END AS BIGINT) AS dhash
      |       FROM halves)""".stripMargin

  private val d16Sql =
    s"""$phashCte
       |SELECT a.vid AS id_a, b.vid AS id_b,
       |  CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
       |FROM hh a JOIN hh b ON a.vid < b.vid
       |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""".stripMargin

  /** PIPE4 — image curation end-to-end: real-codec dHash → pigeonhole
    * Hamming pairs → connected components → keep the min-id
    * representative per cluster. The image sibling of pipe1 (text) and
    * pipe3 (forecast): the COMPOSITION is under oracle, replayed as
    * pixel stream → bit packing → bit_count join → recursive-CTE
    * closure → per-component counts. */
  private def pipe4Image: Q = (s, d) => {
    val png = org.apache.spark.sql.functions.udf { (id: Long, shift: Int) =>
      graft.scale.Multimodal.encodePng(
        (8 + id % 8).toInt, (8 + (id * 3) % 8).toInt, seed = id, shift = shift)
    }
    val ph = org.apache.spark.sql.functions.udf { (bytes: Array[Byte]) =>
      graft.scale.Multimodal.dHash(bytes).map(java.lang.Long.valueOf).orNull
    }
    val ids = Tables.documents(s, d).select(col("doc_id"))
    val both = ids.select(col("doc_id"), col("doc_id").as("vid"), lit(0).as("shift"))
      .unionByName(ids.select(col("doc_id"),
        (col("doc_id") + lit(1L << 40)).as("vid"), lit(10).as("shift")))
    // same materialization as d16: the codec UDF chain must run once, not
    // once per hammingPairs side per components union leg
    val sigs = both.withColumn("dhash", ph(png(col("doc_id"), col("shift"))))
      .localCheckpoint(true)
    val pairs = graft.scale.Dedup.hammingPairs(sigs, "dhash", "vid",
      maxHamming = 3)
    graft.scale.Dedup.components(pairs, "id_a", "id_b")
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"), min(col("id")).as("keep_id"))
  }

  private val pipe4Sql =
    s"""$phashCte,
       |pairs AS (SELECT a.vid AS id_a, b.vid AS id_b
       |          FROM hh a JOIN hh b ON a.vid < b.vid
       |          WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
       |e AS (SELECT id_a AS src, id_b AS t FROM pairs
       |      UNION SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM e)
       |  UNION
       |  SELECT reach.id, e.t FROM reach JOIN e ON reach.r = e.src),
       |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
       |SELECT component, CAST(count(*) AS BIGINT) AS n_members,
       |  min(id) AS keep_id
       |FROM comp GROUP BY 1""".stripMargin

  /** SM14 — dedup-aware split: hashSplit keyed on the near-dup
    * component (same pair source as `d8_components`), so near-copies
    * never straddle the train/test fence. Output: per-split counts,
    * replayed end-to-end (recursive-CTE closure + md5 fences). */
  private def sm14ClusterSplit: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val pairs = graft.scale.Dedup.ngramJaccard(docs, "text", "doc_id", 3, 0.5)
    graft.scale.Sampling.clusterSplit(docs, "doc_id", pairs, "id_a", "id_b")
      .groupBy(col("split")).agg(count(lit(1)).as("n"))
  }

  private val sm14Sql =
    s"""WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, len(w) - 2),
       |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
       |       FROM toks WHERE len(w) >= 3),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |pairs AS (SELECT id_a, id_b
       |          FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
       |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
       |e AS (SELECT id_a AS src, id_b AS t FROM pairs
       |      UNION SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM e)
       |  UNION
       |  SELECT reach.id, e.t FROM reach JOIN e ON reach.r = e.src),
       |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
       |k AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS skey
       |      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
       |SELECT CASE WHEN md5(CAST(skey AS VARCHAR)) < 'cccc' THEN 'train'
       |            WHEN md5(CAST(skey AS VARCHAR)) < 'e666' THEN 'val'
       |            ELSE 'test' END AS split,
       |  CAST(count(*) AS BIGINT) AS n
       |FROM k GROUP BY 1""".stripMargin

  /** A28 — exact AUC of the deterministic quality score against the
    * is-English outcome: the threshold-free twin of `a25_calibration`
    * (same score, same label — gap says "is 0.8 really 80%?", AUC says
    * "does the score rank English above non-English at all?"). */
  private def a28Auc: Q = (s, d) =>
    graft.stats.Metrics.binaryAuc(
        graft.scale.TextAnalysis.qualityScore(Tables.documents(s, d), "text")
          .select(Det.dround(col("quality"), 6).as("q"),
                  (col("lang") === "en").cast("int").as("is_en")),
        "q", "is_en")
      .select(col("n_pos"), col("n_neg"), Det.dround(col("auc"), 6).as("auc"))

  private val a28Sql = {
    val stop = graft.scale.TextAnalysis.qualityStopwordsSql
    s"""WITH st AS (
       |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
       |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
       |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stop))) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS stopword_ratio
       |  FROM documents),
       |q AS (
       |  SELECT pos, ${Det.droundSql(
            "CASE WHEN n_tokens >= 20 THEN 0.4 ELSE n_tokens / 50 END " +
            "+ CASE WHEN punct_ratio <= 0.1 THEN 0.3 ELSE 0.0 END " +
            "+ CASE WHEN stopword_ratio BETWEEN 0.05 AND 0.6 THEN 0.3 ELSE 0.0 END", 6)} AS x
       |  FROM st),
       |g AS (SELECT x, CAST(count(*) AS BIGINT) AS cnt,
       |        CAST(sum(pos) AS BIGINT) AS np
       |      FROM q GROUP BY 1),
       |r AS (SELECT *, CAST(sum(cnt) OVER (ORDER BY x) AS BIGINT) AS cum FROM g),
       |u AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
       |        CAST(sum(cnt) - sum(np) AS BIGINT) AS n_neg,
       |        CAST(sum(np * (2*cum - cnt + 1)) AS BIGINT) AS u2
       |      FROM r)
       |SELECT n_pos, n_neg,
       |  ${Det.droundSql(
            "CASE WHEN n_pos > 0 AND n_neg > 0 THEN " +
            "CAST(u2 - n_pos*(n_pos + 1) AS DOUBLE) / (2*n_pos*n_neg) END", 6)} AS auc
       |FROM u""".stripMargin
  }

  /** T23 — Fourier seasonal features at period 7, K=3 harmonics: the
    * smooth calendar basis for seasonal ML (phase reduced mod m before
    * the trig, so arguments never grow with series length). */
  private def t23Fourier: Q = (s, d) =>
    graft.core.TimeSeriesOps.fourierFeatures(
        Tables.events(s, d), "ts", Seq("user_id"), m = 7, harmonics = 3,
        tieBreak = Seq("event_id"))
      .select(Seq(col("user_id"), col("event_id"), col("t")) ++
        (1 to 3).flatMap(k => Seq(
          Det.dround(col(s"sin_$k"), 6).as(s"sin_$k"),
          Det.dround(col(s"cos_$k"), 6).as(s"cos_$k"))): _*)

  private val t23Sql = {
    val cols = (1 to 3).flatMap(k => Seq(
      Det.droundSql(s"sin(2*pi()*$k * phase)", 6) + s" AS sin_$k",
      Det.droundSql(s"cos(2*pi()*$k * phase)", 6) + s" AS cos_$k")).mkString(",\n|  ")
    s"""WITH s AS (SELECT user_id, event_id,
       |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS BIGINT) AS t
       |  FROM events),
       |p AS (SELECT user_id, event_id, t, CAST(t % 7 AS DOUBLE) / 7 AS phase FROM s)
       |SELECT user_id, event_id, t,
       |  $cols
       |FROM p""".stripMargin
  }

  /** X21 — language-ID confusion matrix: the deterministic stopword
    * classifier (x2) scored against the corpus lang label — per (true,
    * predicted) counts, the eval every curation langid gate needs. */
  private def x21LangConfusion: Q = (s, d) =>
    graft.scale.TextAnalysis.languageId(Tables.documents(s, d), "text")
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))

  private val x21Sql = {
    val langs = graft.scale.TextAnalysis.stopwordLists.keys.toSeq.sorted
    val hits = langs.map { l =>
      val list = graft.scale.TextAnalysis.stopwordLists(l).map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(lower(text), ' '), x -> x IN ($list))) AS hits_$l"
    }.mkString(",\n    ")
    val m = langs.map(l => s"hits_$l").mkString("greatest(", ", ", ")")
    val caseChain = langs.map(l => s"WHEN hits_$l = m THEN '$l'").mkString(" ")
    s"""WITH h AS (SELECT lang,
       |    $hits
       |  FROM documents),
       |g AS (SELECT lang, $m AS m, * FROM h)
       |SELECT lang, CASE $caseChain END AS pred_lang,
       |  CAST(count(*) AS BIGINT) AS n
       |FROM g GROUP BY 1, 2""".stripMargin
  }

  /** A30 — RFM segmentation per user with deterministic quintile scores
    * (recency to the corpus frontier, frequency, 1e-6-grid monetary;
    * rank-pinned scores, never ntile). */
  private def a30Rfm: Q = (s, d) =>
    graft.scale.EventAnalytics.rfm(Tables.events(s, d), "user_id", "ts", "value")
      .select(col("user_id"), col("recency_s"), col("frequency"),
        Det.dround(col("monetary"), 6).as("monetary"),
        col("r_score"), col("f_score"), col("m_score"))

  private val a30Sql =
    s"""WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
       |             CAST(floor(CAST(value AS DOUBLE)*1e6 + 0.5) AS BIGINT) AS v6
       |           FROM events),
       |u AS (SELECT user_id, max(sec) AS last_sec,
       |        CAST(count(*) AS BIGINT) AS frequency,
       |        CAST(sum(v6) AS BIGINT) AS m6
       |      FROM e GROUP BY 1),
       |fr AS (SELECT max(sec) AS frontier FROM e),
       |p AS (SELECT user_id, frontier - last_sec AS recency_s, frequency, m6
       |      FROM u CROSS JOIN fr),
       |sc AS (SELECT *,
       |  CAST(ceil(5.0 * row_number() OVER (ORDER BY recency_s DESC, user_id)
       |       / count(*) OVER ()) AS INT) AS r_score,
       |  CAST(ceil(5.0 * row_number() OVER (ORDER BY frequency, user_id)
       |       / count(*) OVER ()) AS INT) AS f_score,
       |  CAST(ceil(5.0 * row_number() OVER (ORDER BY m6, user_id)
       |       / count(*) OVER ()) AS INT) AS m_score
       |  FROM p)
       |SELECT user_id, recency_s, frequency,
       |  ${Det.droundSql("CAST(m6 AS DOUBLE)/1e6", 6)} AS monetary,
       |  r_score, f_score, m_score
       |FROM sc""".stripMargin

  /** J8 — semi/anti-join surface on the TPC-H side: customers that DID
    * order but never urgently, counted per market segment — `LEFT SEMI`
    * + `LEFT ANTI` as first-class relational citizens (EXISTS /
    * NOT EXISTS in the oracle; the urgent-priority predicate keeps the
    * result non-empty at every test SF, unlike returned-line variants
    * that saturate on dense data). */
  private def j8SemiAnti: Q = (s, d) => {
    val cust = Tables.customer(s, d)
    val ord = Tables.orders(s, d)
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    cust
      .join(ord.select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
  }

  private val j8Sql =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      |GROUP BY 1""".stripMargin

  /** D17 — semantic eval decontamination: every non-eval embedding
    * scored against the broadcast eval set (vec_id % 20 = 0), flagged
    * at cosine ≥ 0.4 — the paraphrase-leakage complement of d7's
    * n-gram overlap. */
  private def d17SemDecontam: Q = (s, d) => {
    val em = Tables.embeddings(s, d)
    graft.scale.Curation.semDecontaminate(
        em.filter(col("vec_id") % 20 =!= 0),
        em.filter(col("vec_id") % 20 === 0),
        "embedding", threshold = 0.4)
      .select(col("vec_id"), Det.dround(col("max_eval_cos"), 6).as("max_eval_cos"),
        col("contaminated"))
  }

  private val d17Sql =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |ev AS (SELECT e FROM v WHERE vec_id % 20 = 0),
       |tr AS (SELECT vec_id, e FROM v WHERE vec_id % 20 <> 0),
       |m AS (SELECT tr.vec_id,
       |        max(list_dot_product(tr.e, ev.e) /
       |            (sqrt(list_dot_product(tr.e, tr.e)) * sqrt(list_dot_product(ev.e, ev.e)))) AS mc
       |      FROM tr CROSS JOIN ev GROUP BY 1)
       |SELECT vec_id, ${Det.droundSql("mc", 6)} AS max_eval_cos,
       |  mc >= 0.4 AS contaminated
       |FROM m""".stripMargin

  /** A29 — cumulative gains/lift curve of the quality score against
    * is-English: the threshold-planning view (what does "keep ≥ c" buy
    * in recall/precision/lift), one row per distinct score cutoff. */
  private def a29Gains: Q = (s, d) =>
    graft.stats.Metrics.gainsCurve(
        graft.scale.TextAnalysis.qualityScore(Tables.documents(s, d), "text")
          .select(Det.dround(col("quality"), 6).as("q"),
                  (col("lang") === "en").cast("int").as("is_en")),
        "q", "is_en")
      .select(col("cutoff"), col("cum_n"), col("cum_pos"),
        Det.dround(col("recall"), 6).as("recall"),
        Det.dround(col("precision"), 6).as("precision"),
        Det.dround(col("lift"), 6).as("lift"))

  private val a29Sql = {
    val stop = graft.scale.TextAnalysis.qualityStopwordsSql
    s"""WITH st AS (
       |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
       |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
       |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stop))) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS stopword_ratio
       |  FROM documents),
       |q AS (
       |  SELECT pos, ${Det.droundSql(
            "CASE WHEN n_tokens >= 20 THEN 0.4 ELSE n_tokens / 50 END " +
            "+ CASE WHEN punct_ratio <= 0.1 THEN 0.3 ELSE 0.0 END " +
            "+ CASE WHEN stopword_ratio BETWEEN 0.05 AND 0.6 THEN 0.3 ELSE 0.0 END", 6)} AS x
       |  FROM st),
       |g AS (SELECT x, CAST(count(*) AS BIGINT) AS cnt,
       |        CAST(sum(pos) AS BIGINT) AS np
       |      FROM q GROUP BY 1),
       |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tot,
       |        CAST(sum(np) AS BIGINT) AS pos_tot FROM g),
       |r AS (SELECT x, CAST(sum(cnt) OVER (ORDER BY x DESC) AS BIGINT) AS cum_n,
       |        CAST(sum(np) OVER (ORDER BY x DESC) AS BIGINT) AS cum_pos
       |      FROM g)
       |SELECT x AS cutoff, cum_n, cum_pos,
       |  ${Det.droundSql("CASE WHEN pos_tot > 0 THEN CAST(cum_pos AS DOUBLE)/pos_tot END", 6)} AS recall,
       |  ${Det.droundSql("CAST(cum_pos AS DOUBLE)/cum_n", 6)} AS precision,
       |  ${Det.droundSql("CASE WHEN pos_tot > 0 THEN (CAST(cum_pos AS DOUBLE)/cum_n)/(CAST(pos_tot AS DOUBLE)/n_tot) END", 6)} AS lift
       |FROM r CROSS JOIN t""".stripMargin
  }

  /** A27 — per-series ACF at lags 1..6: the m10_acf statistic for every
    * series at once (seasonality triage / SARIMA order screening input
    * at warehouse scale). */
  private def a27AcfSeries: Q = (s, d) =>
    graft.scale.SeriesDiagnostics.acfPerSeries(
        Tables.events(s, d), "value", "ts", Seq("user_id"), maxLag = 6,
        tieBreak = Seq("event_id"))
      .select(Seq(col("user_id"), col("n")) ++
        (1 to 6).map(k => Det.dround(col(s"r$k"), 6).as(s"r$k")): _*)

  private val a27Sql = {
    val lagCols = (1 to 6).map(k =>
      s"lag(y, $k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS yl$k").mkString(",\n|    ")
    val sumCols = (1 to 6).map(k =>
      s"""sum(y*yl$k) AS p$k, sum(CASE WHEN yl$k IS NOT NULL THEN y END) AS a$k,
         |        sum(yl$k) AS b$k, CAST(count(yl$k) AS DOUBLE) AS c$k""".stripMargin)
      .mkString(",\n|        ")
    val rCols = (1 to 6).map(k => Det.droundSql(
      s"CASE WHEN c$k > 0 AND denom > 1e-12 THEN (p$k - ybar*(a$k + b$k) + c$k*ybar*ybar)/denom END", 6) +
      s" AS r$k").mkString(",\n|  ")
    s"""WITH s AS (SELECT user_id, CAST(value AS DOUBLE) AS y,
       |    $lagCols
       |  FROM events),
       |g AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS nn,
       |        sum(y) AS sy, sum(y*y) AS ss,
       |        $sumCols
       |      FROM s GROUP BY 1),
       |f AS (SELECT *, sy/nn AS ybar, ss - sy*sy/nn AS denom FROM g)
       |SELECT user_id, CAST(nn AS BIGINT) AS n,
       |  $rCols
       |FROM f""".stripMargin
  }

  /** ST_HW — per-event one-step-ahead Holt–Winters forecasts (m=7) via
    * the batch one-shot twin of the streaming fold (✖est: the recursion
    * is not SQL-expressible; streaming==fold parity, micro-batch-split
    * invariance, and frontier==batch-estimator-h1 are spec-pinned, and
    * the estimator itself is hash-checked through `f11_hw0`). */
  private def stHw: Q = (s, d) =>
    graft.streaming.StreamHoltWinters.oneStepBatch(
        Tables.events(s, d), "value", "ts", "user_id", "event_id", m = 7)
      .toDF()
      .filter(col("yhat").isNotNull)
      .select(col("userId").as("user_id"), col("eventId").as("event_id"),
        Det.dround(col("y"), 6).as("y"),
        Det.dround(col("yhat"), 4).as("yhat"))

  /** E7 — out-of-fold target encoding of event_type against value
    * (m-estimate smoothing, leave-fold-out): shown as the distinct
    * (category, fold, encoding) table the broadcast join carries. */
  private def e7TargetEncode: Q = (s, d) =>
    graft.core.Encoders.targetEncode(
        Tables.events(s, d), "event_type", "value", "event_id",
        folds = 5, smoothing = 20.0)
      .select(col("event_type"), col("__fold").as("fold"),
        Det.dround(col("event_type_te"), 6).as("te"))
      .distinct()

  private val e7Sql =
    s"""WITH c AS (SELECT event_type, CAST(event_id % 5 AS INT) AS fold,
       |             sum(CAST(floor(CAST(value AS DOUBLE)*1e6 + 0.5) AS BIGINT)) AS s6,
       |             CAST(count(*) AS BIGINT) AS cn
       |           FROM events GROUP BY 1, 2),
       |t AS (SELECT event_type, sum(s6) AS cs6, sum(cn) AS ccn FROM c GROUP BY 1),
       |p AS (SELECT sum(s6)/1e6/sum(cn) AS prior FROM c)
       |SELECT c.event_type, fold,
       |  ${Det.droundSql("((cs6 - s6)/1e6 + 20.0*prior) / (CAST(ccn - cn AS DOUBLE) + 20.0)", 6)} AS te
       |FROM c JOIN t USING (event_type) CROSS JOIN p""".stripMargin

  /** J7 — bucketized range join: every event joined to the [p25, p75]
    * IQR band of every event type its value falls inside (pinned
    * order-statistic quantiles), counted per (type, band). The join
    * runs through [[graft.core.JoinOps.rangeJoin]]'s bucket
    * decomposition — a hash equi-join on the bucket id, never a
    * nested-loop — while the oracle states the naive BETWEEN join. */
  private def j7RangeJoin: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value").cast("double").as("v"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_type")).orderBy(col("v"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_type"))
    val bands = ev.select(col("event_type").as("band_type"), col("v"))
      .withColumn("r", row_number().over(wOrd).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .groupBy(col("band_type"))
      .agg(min(when(col("r") === ceil(lit(0.25) * col("n")), col("v"))).as("lo"),
           max(when(col("r") === ceil(lit(0.75) * col("n")), col("v"))).as("hi"))
    graft.core.JoinOps.rangeJoin(ev, "v", bands, "lo", "hi", bucketWidth = 50.0)
      .groupBy(col("event_type"), col("band_type"))
      .agg(count(lit(1)).as("n_in"))
  }

  private val j7Sql =
    """WITH e AS (SELECT event_id, event_type, CAST(value AS DOUBLE) AS v FROM events),
      |r AS (SELECT event_type AS band_type, v,
      |        row_number() OVER (PARTITION BY event_type ORDER BY v) AS r,
      |        count(*) OVER (PARTITION BY event_type) AS n
      |      FROM e),
      |b AS (SELECT band_type,
      |        min(CASE WHEN r = CAST(ceil(0.25*n) AS BIGINT) THEN v END) AS lo,
      |        max(CASE WHEN r = CAST(ceil(0.75*n) AS BIGINT) THEN v END) AS hi
      |      FROM r GROUP BY 1)
      |SELECT e.event_type, b.band_type, CAST(count(*) AS BIGINT) AS n_in
      |FROM e JOIN b ON e.v >= b.lo AND e.v <= b.hi
      |GROUP BY 1, 2""".stripMargin

  /** T22 — trailing 1-hour TIME-RANGE rolling aggregates per user: the
    * time-correct rolling window (`w3_rolling`'s ROWS frame means "last
    * k events"; this means "last hour" regardless of cadence). */
  private def t22TimeWindow: Q = (s, d) =>
    graft.core.TimeSeriesOps.timeWindowAgg(
        Tables.events(s, d), "value", "ts", Seq("user_id"), windowSec = 3600L)
      .select(col("user_id"), col("event_id"), col("roll_n"),
        Det.dround(col("roll_sum"), 6).as("roll_sum"),
        Det.dround(col("roll_avg"), 6).as("roll_avg"))

  private val t22Sql =
    s"""WITH s AS (SELECT user_id, event_id,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS sec,
       |    CAST(floor(CAST(value AS DOUBLE)*1e6 + 0.5) AS BIGINT) AS y6
       |  FROM events)
       |SELECT user_id, event_id,
       |  CAST(count(*) OVER w AS BIGINT) AS roll_n,
       |  ${Det.droundSql("sum(y6) OVER w / 1e6", 6)} AS roll_sum,
       |  ${Det.droundSql("(sum(y6) OVER w / 1e6) / (count(*) OVER w)", 6)} AS roll_avg
       |FROM s
       |WINDOW w AS (PARTITION BY user_id ORDER BY sec
       |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin

  /** A26 — trend-strength triage per series at period 7 (the companion
    * of `t18_seasonal`: together they place every series on the
    * tsfeatures trend×seasonal map before any estimator runs). */
  private def a26TrendStrength: Q = (s, d) =>
    graft.scale.SeriesDiagnostics.trendStrength(
        Tables.events(s, d), "value", "ts", Seq("user_id"), m = 7,
        tieBreak = Seq("event_id"))
      .select(col("user_id"), col("n"),
        Det.dround(col("strength"), 6).as("strength"))

  private val a26Sql =
    s"""WITH s AS (SELECT user_id,
       |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS DOUBLE) AS t,
       |    CAST(value AS DOUBLE) AS y
       |  FROM events),
       |a AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS nn, sum(t) AS st,
       |        sum(t*t) AS stt, sum(y) AS sy, sum(t*y) AS sty
       |      FROM s GROUP BY 1),
       |f AS (SELECT user_id,
       |        CASE WHEN nn > 1 THEN (nn*sty - st*sy)/(nn*stt - st*st) ELSE 0.0 END AS slope,
       |        sy, st, nn FROM a),
       |f2 AS (SELECT user_id, slope, (sy - slope*st)/nn AS icept FROM f),
       |dd AS (SELECT s.user_id, t, y,
       |         y - (icept + slope*t) AS d,
       |         CAST(CAST(t AS BIGINT) % 7 AS BIGINT) AS phase
       |       FROM s JOIN f2 USING (user_id)),
       |p AS (SELECT user_id, phase, sum(d)/count(*) AS seasonal
       |      FROM dd GROUP BY 1, 2),
       |j AS (SELECT dd.user_id, dd.d - p.seasonal AS r, dd.y - p.seasonal AS ta
       |      FROM dd JOIN p USING (user_id, phase)),
       |g AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS nn,
       |        sum(r) AS sr, sum(r*r) AS srr,
       |        sum(ta) AS sa, sum(ta*ta) AS saa
       |      FROM j GROUP BY 1)
       |SELECT user_id, CAST(nn AS BIGINT) AS n,
       |  ${Det.droundSql(
           "CASE WHEN nn*saa - sa*sa > 1e-9 THEN greatest(0.0, 1.0 - (nn*srr - sr*sr)/(nn*saa - sa*sa)) ELSE 0.0 END", 6)} AS strength
       |FROM g""".stripMargin

  /** F12 — rolling-origin 3-fold CV per series (h=3): the reference's
    * expanding-window model selection (T12+A8) distributed, K fold fits
    * as conditional agg columns in one series-keyed pass. */
  private def f12RollingCv: Q = (s, d) =>
    graft.scale.PerSeriesForecast.rollingOriginCv(
        Tables.events(s, d), "value", "ts", Seq("user_id"), h = 3,
        folds = 3, alpha = 0.5, tieBreak = Seq("event_id"))
      .select(col("user_id"), col("n"),
        Det.dround(col("mae_naive"), 6).as("mae_naive"),
        Det.dround(col("mae_drift"), 6).as("mae_drift"),
        Det.dround(col("mae_ses"), 6).as("mae_ses"),
        col("winner"))

  private val f12Sql = {
    def ntr(k: Int) = s"(n - 3*${3 - k + 1})"
    def sesTerm(k: Int) =
      s"""sum(CASE WHEN rn <= ${ntr(k)} THEN CAST(floor(y * (
         |      CASE WHEN rn = 1 THEN pow(0.5, ${ntr(k)} - 1)
         |           ELSE 0.5 * pow(0.5, ${ntr(k)} - rn) END) * 1e9 + 0.5) AS BIGINT) END)""".stripMargin
    def byK(f: Int => String) =
      s"CASE k WHEN 1 THEN ${f(1)} WHEN 2 THEN ${f(2)} ELSE ${f(3)} END"
    s"""WITH s AS (SELECT user_id,
       |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn,
       |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
       |    CAST(value AS DOUBLE) AS y
       |  FROM events),
       |i AS (SELECT * FROM s WHERE n >= 3*3 + 2),
       |f AS (SELECT user_id, max(n) AS n,
       |        max(CASE WHEN rn = ${ntr(1)} THEN y END) AS last_1,
       |        max(CASE WHEN rn = ${ntr(2)} THEN y END) AS last_2,
       |        max(CASE WHEN rn = ${ntr(3)} THEN y END) AS last_3,
       |        ${sesTerm(1)} AS ses9_1,
       |        ${sesTerm(2)} AS ses9_2,
       |        ${sesTerm(3)} AS ses9_3,
       |        max(CASE WHEN rn = 1 THEN y END) AS first_y
       |      FROM i GROUP BY user_id),
       |ho AS (SELECT i.user_id, i.rn, i.y,
       |         CAST(3 - floor((i.n - i.rn)/3) AS INT) AS k,
       |         f.n, f.last_1, f.last_2, f.last_3,
       |         f.ses9_1, f.ses9_2, f.ses9_3, f.first_y
       |       FROM i JOIN f USING (user_id) WHERE i.rn > i.n - 9),
       |x AS (SELECT user_id, n, rn, y,
       |        ${byK(k => s"last_$k")} AS last_y,
       |        ${byK(k => s"ses9_$k/1e9")} AS ses,
       |        ${byK(ntr)} AS ntr, first_y
       |      FROM ho),
       |e AS (SELECT user_id, n,
       |        CAST(floor(abs(y - last_y) * 1e9 + 0.5) AS BIGINT) AS e_naive,
       |        CAST(floor(abs(y - (last_y + CAST(rn - ntr AS DOUBLE) * (last_y - first_y) / (ntr - 1))) * 1e9 + 0.5) AS BIGINT) AS e_drift,
       |        CAST(floor(abs(y - ses) * 1e9 + 0.5) AS BIGINT) AS e_ses
       |      FROM x),
       |g AS (SELECT user_id, CAST(max(n) AS BIGINT) AS n,
       |        CAST(sum(e_naive) AS BIGINT) AS s_naive,
       |        CAST(sum(e_drift) AS BIGINT) AS s_drift,
       |        CAST(sum(e_ses) AS BIGINT) AS s_ses
       |      FROM e GROUP BY 1)
       |SELECT user_id, n,
       |  ${Det.droundSql("CAST(s_naive AS DOUBLE)/9/1e9", 6)} AS mae_naive,
       |  ${Det.droundSql("CAST(s_drift AS DOUBLE)/9/1e9", 6)} AS mae_drift,
       |  ${Det.droundSql("CAST(s_ses AS DOUBLE)/9/1e9", 6)} AS mae_ses,
       |  CASE WHEN s_naive <= s_drift AND s_naive <= s_ses THEN 'naive'
       |       WHEN s_drift <= s_ses THEN 'drift' ELSE 'ses' END AS winner
       |FROM g""".stripMargin
  }

  /** PIPE3 — the fused forecasting pipeline: Hampel-clean → per-series
    * model selection → winner refit + h-step forecast, one plan,
    * hash-checked END TO END as a CTE chain (the forecasting sibling of
    * `pipe1_curation`: composition, not just components, is under
    * oracle). */
  private def pipe3Forecast: Q = (s, d) =>
    graft.scale.PerSeriesForecast.cleanSelectForecast(
        Tables.events(s, d), "value", "ts", Seq("user_id"), h = 3,
        halfWin = 5, nSigmas = 3.5, alpha = 0.5, tieBreak = Seq("event_id"))
      .select(col("user_id"), col("winner"), col("h"),
        Det.dround(col("yhat"), 6).as("yhat"))

  private val pipe3Sql =
    s"""WITH s0 AS (
       |  SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS y,
       |    list(CAST(value AS DOUBLE)) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS arr
       |  FROM events),
       |m AS (SELECT user_id, ts, event_id, y,
       |        list_sort(arr)[(len(arr) + 1) // 2] AS med, arr FROM s0),
       |c AS (SELECT user_id, ts, event_id, y, med,
       |        list_sort(list_transform(arr, x -> abs(x - med)))[(len(arr) + 1) // 2] AS mad
       |      FROM m),
       |cl AS (SELECT user_id, ts, event_id,
       |         CASE WHEN mad > 0 AND abs(y - med) > 3.5*mad THEN med ELSE y END AS y
       |       FROM c),
       |s AS (SELECT user_id,
       |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn,
       |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n, y
       |  FROM cl),
       |i AS (SELECT user_id, rn, n, y, n - 3 AS ntr FROM s WHERE n - 3 >= 2),
       |f AS (SELECT user_id, max(ntr) AS ntr,
       |        max(CASE WHEN rn = ntr THEN y END) AS last_y,
       |        max(CASE WHEN rn = 1 THEN y END) AS first_y,
       |        CAST(sum(CAST(floor(y * (CASE WHEN rn = 1 THEN pow(0.5, ntr - 1)
       |             ELSE 0.5 * pow(0.5, ntr - rn) END) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS ses9
       |      FROM i WHERE rn <= ntr GROUP BY user_id),
       |t AS (SELECT i.user_id, CAST(i.rn - f.ntr AS DOUBLE) AS k, i.y,
       |        f.ntr, f.last_y, f.first_y, f.ses9
       |      FROM i JOIN f USING (user_id) WHERE i.rn > f.ntr),
       |e AS (SELECT user_id, ntr,
       |        CAST(floor(abs(y - last_y) * 1e9 + 0.5) AS BIGINT) AS e_naive,
       |        CAST(floor(abs(y - (last_y + k * (last_y - first_y) / (ntr - 1))) * 1e9 + 0.5) AS BIGINT) AS e_drift,
       |        CAST(floor(abs(y - ses9/1e9) * 1e9 + 0.5) AS BIGINT) AS e_ses
       |      FROM t),
       |g AS (SELECT user_id,
       |        CAST(sum(e_naive) AS BIGINT) AS s_naive,
       |        CAST(sum(e_drift) AS BIGINT) AS s_drift,
       |        CAST(sum(e_ses) AS BIGINT) AS s_ses
       |      FROM e GROUP BY 1),
       |w AS (SELECT user_id,
       |        CASE WHEN s_naive <= s_drift AND s_naive <= s_ses THEN 'naive'
       |             WHEN s_drift <= s_ses THEN 'drift' ELSE 'ses' END AS winner
       |      FROM g),
       |ff AS (SELECT user_id, max(n) AS n,
       |        max(CASE WHEN rn = n THEN y END) AS last_y,
       |        max(CASE WHEN rn = 1 THEN y END) AS first_y,
       |        CAST(sum(CAST(floor(y * (CASE WHEN rn = 1 THEN pow(0.5, n - 1)
       |             ELSE 0.5 * pow(0.5, n - rn) END) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS ses9
       |      FROM i GROUP BY user_id)
       |SELECT ff.user_id, winner, h,
       |  ${Det.droundSql(
             "CASE winner WHEN 'naive' THEN last_y " +
             "WHEN 'drift' THEN last_y + h*(last_y - first_y)/(n - 1) " +
             "ELSE ses9/1e9 END", 6)} AS yhat
       |FROM ff JOIN w USING (user_id)
       |CROSS JOIN generate_series(1, 3) AS gs(h)""".stripMargin

  /** A24 — scaled forecast errors (MASE + τ=0.9 pinball) per series on
    * a 3-point holdout: the scale-free yardstick that makes error
    * comparable ACROSS a million series of different magnitudes
    * (Hyndman & Koehler 2006 — `f10_backtest`'s MAEs can rank models
    * within a series but not series against each other). */
  private def a24Mase: Q = (s, d) =>
    graft.stats.Metrics.scaledBacktest(
        Tables.events(s, d), "value", "ts", Seq("user_id"), h = 3,
        tau = 0.9, tieBreak = Seq("event_id"))
      .select(col("user_id"), col("n_train"),
        Det.dround(col("mase"), 6).as("mase"),
        Det.dround(col("pinball"), 6).as("pinball"))

  private val a24Sql =
    s"""WITH s AS (SELECT user_id,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
       |    count(*) OVER (PARTITION BY user_id) AS n,
       |    CAST(value AS DOUBLE) AS y
       |  FROM events),
       |g AS (SELECT *, n - 3 AS ntr FROM s WHERE n - 3 >= 2),
       |tr AS (SELECT *, lag(y) OVER (PARTITION BY user_id ORDER BY rn) AS prev
       |       FROM g WHERE rn <= ntr),
       |fit AS (SELECT user_id, max(ntr) AS ntr, max_by(y, rn) AS last_y,
       |          sum(CASE WHEN rn > 1
       |                THEN CAST(floor(abs(y - prev)*1e9 + 0.5) AS BIGINT) END) AS sd9
       |        FROM tr GROUP BY 1),
       |qs AS (SELECT user_id, y AS q,
       |         row_number() OVER (PARTITION BY user_id ORDER BY y) AS qr
       |       FROM tr),
       |qq AS (SELECT qs.user_id, q FROM qs JOIN fit USING (user_id)
       |       WHERE qr = greatest(1, CAST(ceil(0.9 * ntr) AS BIGINT))),
       |ho AS (SELECT g.user_id, y, last_y, q, fit.ntr, sd9
       |       FROM g JOIN fit USING (user_id) JOIN qq USING (user_id)
       |       WHERE rn > g.ntr),
       |a AS (SELECT user_id, max(ntr) AS n_train, max(sd9) AS sd9,
       |        sum(CAST(floor(abs(y - last_y)*1e9 + 0.5) AS BIGINT)) AS se9,
       |        sum(CAST(floor(greatest(0.9*(y - q), (0.9 - 1)*(y - q))*1e9 + 0.5) AS BIGINT)) AS spb9
       |      FROM ho GROUP BY 1)
       |SELECT user_id, n_train,
       |  ${Det.droundSql("CASE WHEN sd9 > 0 THEN (CAST(se9 AS DOUBLE)/3) / (CAST(sd9 AS DOUBLE)/(n_train - 1)) END", 6)} AS mase,
       |  ${Det.droundSql("spb9/1e9/3", 6)} AS pinball
       |FROM a""".stripMargin

  /** A25 — calibration-reliability audit of the deterministic quality
    * score against the is-English outcome (the score's stopword battery
    * IS an English-ness heuristic, so calibration against `lang='en'`
    * is the meaningful check): 10 fixed-width bins, per-bin mean
    * predicted probability vs observed fraction, gap, Brier. */
  private def a25Calibration: Q = (s, d) =>
    graft.stats.DriftAudit.calibrationBins(
        graft.scale.TextAnalysis.qualityScore(Tables.documents(s, d), "text")
          .withColumn("is_en", (col("lang") === "en").cast("int")),
        "quality", "is_en", bins = 10)
      .select(col("bin"), col("n"),
        Det.dround(col("mean_p"), 6).as("mean_p"),
        Det.dround(col("frac_pos"), 6).as("frac_pos"),
        Det.dround(col("gap"), 6).as("gap"),
        Det.dround(col("brier"), 6).as("brier"))

  private val a25Sql = {
    val stop = graft.scale.TextAnalysis.qualityStopwordsSql
    s"""WITH st AS (
       |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
       |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
       |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stop))) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS stopword_ratio
       |  FROM documents),
       |q AS (
       |  SELECT pos, (CASE WHEN n_tokens >= 20 THEN 0.4 ELSE n_tokens / 50 END
       |        + CASE WHEN punct_ratio <= 0.1 THEN 0.3 ELSE 0.0 END
       |        + CASE WHEN stopword_ratio BETWEEN 0.05 AND 0.6 THEN 0.3 ELSE 0.0 END) AS p
       |  FROM st),
       |b AS (SELECT CAST(least(floor(p * 10), 9) AS INT) AS bin,
       |        CAST(floor(p*1e9 + 0.5) AS BIGINT) AS p9, pos,
       |        CAST(floor(pow(p - pos, 2)*1e9 + 0.5) AS BIGINT) AS sq9
       |      FROM q),
       |a AS (SELECT bin, CAST(count(*) AS BIGINT) AS n, sum(p9) AS sp9,
       |        CAST(sum(pos) AS BIGINT) AS n_pos, sum(sq9) AS ssq9
       |      FROM b GROUP BY 1)
       |SELECT bin, n, ${Det.droundSql("sp9/1e9/n", 6)} AS mean_p,
       |  ${Det.droundSql("CAST(n_pos AS DOUBLE)/n", 6)} AS frac_pos,
       |  ${Det.droundSql("abs(sp9/1e9/n - CAST(n_pos AS DOUBLE)/n)", 6)} AS gap,
       |  ${Det.droundSql("ssq9/1e9/n", 6)} AS brier
       |FROM a""".stripMargin
  }

  /** X18 — BPE merge step 1 at corpus scale: the top-20 adjacent
    * character pairs over the lower-cased word-frequency table, weighted
    * by word count — the statistic the first tokenizer merge is chosen
    * from (Sennrich 2016). Deterministic order (count desc, pair asc). */
  private def x18BpePairs: Q = (s, d) =>
    graft.scale.TextAnalysis.bpePairCounts(Tables.documents(s, d), "text", 20)

  private val x18Sql =
    """WITH toks AS (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents),
      |words AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt
      |          FROM toks WHERE length(w) >= 2 GROUP BY 1),
      |pairs AS (SELECT unnest(list_transform(generate_series(1, length(w) - 1),
      |                   i -> substr(w, CAST(i AS INT), 2))) AS pair, cnt
      |          FROM words)
      |SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
      |FROM pairs GROUP BY 1 ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin

  /** X19 — iterative BPE merge learning, 6 rounds over the corpus
    * word-count table. Hash-checked since r12: the train loop IS
    * SQL-expressible — [[graft.queries.BpeSql]] unrolls each round as
    * (pair-count → top-1 → `list_reduce` string-accumulator fold) and
    * the full 6-round merge table matches bit-for-bit. (Also
    * spec-pinned on the classic Sennrich fixture.) */
  private def x19BpeMerges: Q = (s, d) =>
    graft.scale.TextAnalysis.bpeLearn(Tables.documents(s, d), "text", 6)

  /** X20 — tokenize the corpus with the 6 learned BPE merges and count
    * tokens: the train→apply round trip (x19 learns the artifact, this
    * consumes it). Hash-checked since r12 via the same
    * [[graft.queries.BpeSql]] fold replay; the Sennrich-fixture spec
    * stays as the independent pin. */
  private def x20BpeTokens: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val merges = graft.scale.TextAnalysis.bpeLearn(docs, "text", 6)
    graft.scale.TextAnalysis.bpeTokenCounts(docs, "text", merges, 20)
  }

  /** F11 — Holt–Winters additive seasonal (ETS(A,A,A)) per series at
    * period 7, the seasonal completion of the ETS ladder (✖est: the
    * coupled 3-state recursion has no closed form; spec-pinned against
    * an independent local fold + the exact-reconstruction property on a
    * purely seasonal series, with the β=γ=0 reduction hash-checked as
    * `f11_hw0`). */
  private def f11Hw: Q = (s, d) =>
    graft.scale.PerSeriesForecast.holtWintersForecast(
        Tables.events(s, d), "value", "ts", "user_id", 3, 7,
        0.5, 0.25, 0.25, Some("event_id"))
      .select(col("user_id"), col("h"), Det.dround(col("yhat"), 4).as("yhat"))

  /** F11b — the β=γ=0 reduction of [[f11Hw]]: trend frozen at b₀ and
    * seasonals frozen at the first-cycle profile make the level EXACTLY
    * a SES over ζ_t = (y_t − s_phase) − b₀(t−m+1) (derivation in the
    * [[graft.scale.PerSeriesForecast.holtWintersForecast]] scaladoc) —
    * the closed form below checks the Scala RECURSION
    * cross-implementation, initialization included. */
  private def f11Hw0: Q = (s, d) =>
    graft.scale.PerSeriesForecast.holtWintersForecast(
        Tables.events(s, d), "value", "ts", "user_id", 3, 7,
        0.5, 0.0, 0.0, Some("event_id"))
      .select(col("user_id"), col("h"), Det.dround(col("yhat"), 4).as("yhat"))

  private val f11Hw0Sql =
    s"""WITH s AS (SELECT user_id,
       |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS BIGINT) AS t,
       |    count(*) OVER (PARTITION BY user_id) AS n,
       |    CAST(floor(CAST(value AS DOUBLE)*1e9 + 0.5) AS BIGINT) AS y9
       |  FROM events),
       |g AS (SELECT * FROM s WHERE n >= 14),
       |lm AS (SELECT user_id, CAST(sum(y9) AS DOUBLE)/7/1e9 AS lmv
       |       FROM g WHERE t < 7 GROUP BY 1),
       |bb AS (SELECT a.user_id, CAST(sum(b.y9 - a.y9) AS DOUBLE)/49/1e9 AS b0v
       |       FROM g a JOIN g b ON b.user_id = a.user_id AND b.t = a.t + 7
       |       WHERE a.t < 7 GROUP BY 1),
       |sea AS (SELECT g.user_id, t AS phase, y9/1e9 - lmv AS sv
       |        FROM g JOIN lm USING (user_id) WHERE t < 7),
       |z AS (SELECT g.user_id, g.t, g.n,
       |        (g.y9/1e9 - sea.sv) - bb.b0v*(g.t - 6) AS zeta
       |      FROM g
       |      JOIN sea ON sea.user_id = g.user_id AND sea.phase = g.t % 7
       |      JOIN bb ON bb.user_id = g.user_id
       |      WHERE g.t >= 7),
       |w AS (SELECT user_id, CAST(max(n) AS BIGINT) AS n,
       |        sum(zeta * 0.5 * pow(0.5, n - 1 - t)) AS acc
       |      FROM z GROUP BY user_id),
       |lvl AS (SELECT w.user_id, w.n,
       |          pow(0.5, w.n - 7)*lm.lmv + w.acc + bb.b0v*(w.n - 7) AS ln,
       |          bb.b0v AS b0v
       |        FROM w JOIN lm USING (user_id) JOIN bb USING (user_id))
       |SELECT lvl.user_id, h,
       |  ${Det.droundSql("ln + h*b0v + sea.sv", 4)} AS yhat
       |FROM lvl CROSS JOIN generate_series(1, 3) AS g2(h)
       |JOIN sea ON sea.user_id = lvl.user_id AND sea.phase = (lvl.n - 1 + h) % 7""".stripMargin

  // ---- A22/A23: Markov transitions + inter-event cadence ---------------

  /** A22 — first-order transition matrix over user event sequences:
    * P(next | current) from one lead window + one pair count. */
  private def a22Transitions: Q = (s, d) =>
    graft.scale.EventAnalytics.transitionMatrix(
        Tables.events(s, d), "event_type", "ts", "user_id", Seq("event_id"))
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        Det.dround(col("p"), 6).as("p"))

  private val a22Sql =
    s"""WITH pr AS (SELECT event_type AS from_type,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
       |  FROM events),
       |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
       |      FROM pr WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |r AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM c GROUP BY 1)
       |SELECT c.from_type, c.to_type, n, n_from,
       |  ${Det.droundSql("CAST(n AS DOUBLE)/n_from", 6)} AS p
       |FROM c JOIN r USING (from_type)""".stripMargin

  /** A23 — inter-event cadence per type: mean/p50/p90 seconds between a
    * user's consecutive same-type events (exact percentiles, the q2
    * approx contract at 100 TB). */
  private def a23Gaps: Q = (s, d) =>
    graft.scale.EventAnalytics.gapProfile(
        Tables.events(s, d), "event_type", "ts", "user_id", Seq("event_id"))
      .select(col("event_type"), col("n_gaps"),
        Det.dround(col("mean_gap"), 4).as("mean_gap"),
        Det.dround(col("p50_gap"), 4).as("p50_gap"),
        Det.dround(col("p90_gap"), 4).as("p90_gap"))

  private val a23Sql =
    s"""WITH g AS (SELECT event_type,
       |    epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id, event_type
       |                                     ORDER BY ts, event_id) AS gap
       |  FROM events)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
       |  ${Det.droundSql("avg(gap)", 4)} AS mean_gap,
       |  ${Det.droundSql("quantile_cont(gap, 0.5)", 4)} AS p50_gap,
       |  ${Det.droundSql("quantile_cont(gap, 0.9)", 4)} AS p90_gap
       |FROM g WHERE gap IS NOT NULL GROUP BY 1""".stripMargin

  // ---- A21/SM13: chi-square independence + weighted sampling -----------

  /** A21 — χ² independence of (event_type × epoch-weekday): observed
    * cells one shuffle, expected grid broadcast arithmetic, unobserved
    * cells grid-completed, 1e-9 BIGINT term sums. */
  private def a21Chi2: Q = (s, d) =>
    graft.stats.DriftAudit.chiSquareIndependence(
        Tables.events(s, d).withColumn("dow",
          pmod(floor(col("ts").cast("double") / 86400.0).cast("long"), lit(7))),
        "event_type", "dow")
      .select(col("n"), col("r"), col("c"), col("dof"),
        Det.dround(col("chi2"), 6).as("chi2"))

  private val a21Sql =
    s"""WITH e AS (SELECT event_type AS a,
       |    CAST(floor(epoch(ts)/86400.0) AS BIGINT) % 7 AS b FROM events),
       |obs AS (SELECT a, b, CAST(count(*) AS BIGINT) AS o FROM e GROUP BY 1, 2),
       |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM obs GROUP BY 1),
       |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM obs GROUP BY 1),
       |t AS (SELECT CAST(sum(o) AS BIGINT) AS n,
       |        CAST(count(DISTINCT a) AS BIGINT) AS r,
       |        CAST(count(DISTINCT b) AS BIGINT) AS c FROM obs),
       |g AS (SELECT rt.a, ct.b, ra, cb FROM rt CROSS JOIN ct),
       |cells AS (SELECT g.a, g.b, ra, cb, coalesce(obs.o, 0) AS o
       |          FROM g LEFT JOIN obs USING (a, b)),
       |terms AS (SELECT CAST(floor((o - e)*(o - e)/e*1e9 + 0.5) AS BIGINT) AS term9
       |          FROM (SELECT o, ra*cb/CAST(n AS DOUBLE) AS e FROM cells, t))
       |SELECT n, r, c, CAST((r - 1)*(c - 1) AS BIGINT) AS dof,
       |  ${Det.droundSql("sum(term9)/1e9", 6)} AS chi2
       |FROM terms, t GROUP BY n, r, c""".stripMargin

  /** SM13 — Efraimidis–Spirakis weighted sample without replacement:
    * 100 docs weight-proportional to n_chars, reproducible from the
    * seed, TakeOrdered — no global sort. */
  private def sm13Weighted: Q = (s, d) =>
    Sampling.weightedSample(Tables.documents(s, d), "doc_id", "n_chars",
        k = 100, seed = 7L)
      .select(col("doc_id"), col("n_chars"))

  private val sm13Sql =
    """WITH u AS (SELECT doc_id, n_chars,
      |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 13))::BIGINT + 0.5)
      |      / 4503599627370496.0 AS u
      |  FROM documents WHERE n_chars > 0)
      |SELECT doc_id, n_chars FROM u
      |ORDER BY -ln(u)/CAST(n_chars AS DOUBLE), doc_id LIMIT 100""".stripMargin

  // ---- X17: typo-pair mining (SymSpell distance-1) ---------------------

  /** X17 — corpus token pairs within edit distance 1 via deletion-
    * neighborhood candidates + exact levenshtein verify: the vocabulary
    * normalization pass. len ≥ 4, support ≥ 3. The corpus vocabulary is
    * clean (zero natural dist-1 pairs at any support), so every 20th
    * doc gets its first token's 2nd-char-dropped typo appended 3×
    * (deterministic, mirrored in the oracle) — the stNearDup injection
    * pattern: the operator needs real work to prove itself on. */
  private def x17Typos: Q = (s, d) => {
    val w1 = element_at(split(col("text"), " "), 1)
    val typo = concat(substring(w1, 1, 1), substring(w1, 3, 1000000))
    val aug = Tables.documents(s, d).withColumn("text",
      when(col("doc_id") % 20 === 0,
        concat_ws(" ", col("text"), typo, typo, typo)).otherwise(col("text")))
    graft.scale.TextAnalysis.typoPairs(aug, "text", "doc_id")
      .select(col("tok_a"), col("tok_b"), col("cnt_a"), col("cnt_b"))
  }

  private val x17Sql =
    """WITH aug AS (SELECT CASE WHEN doc_id % 20 = 0 THEN
      |    text || ' ' ||
      |    repeat(substr(string_split(text, ' ')[1], 1, 1) || substr(string_split(text, ' ')[1], 3) || ' ', 2) ||
      |    substr(string_split(text, ' ')[1], 1, 1) || substr(string_split(text, ' ')[1], 3)
      |  ELSE text END AS text FROM documents),
      |toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM aug),
      |v AS (SELECT tok, count(*) AS cnt FROM toks WHERE length(tok) >= 4
      |      GROUP BY 1 HAVING count(*) >= 3),
      |d AS (SELECT DISTINCT tok, cnt,
      |        unnest(list_transform(generate_series(0, length(tok)), j ->
      |          CASE WHEN j = 0 THEN tok
      |               ELSE substr(tok, 1, j - 1) || substr(tok, j + 1) END)) AS variant
      |      FROM v),
      |p AS (SELECT DISTINCT a.tok AS tok_a, b.tok AS tok_b,
      |        a.cnt AS cnt_a, b.cnt AS cnt_b
      |      FROM d a JOIN d b USING (variant) WHERE a.tok < b.tok)
      |SELECT tok_a, tok_b, cnt_a, cnt_b FROM p
      |WHERE levenshtein(tok_a, tok_b) <= 1""".stripMargin

  // ---- A20: incremental aggregation (merge == full recompute) ----------

  /** A20 — incremental rollup: events sliced by day parity into two
    * increments, each partial-aggregated, merged, finalized — and the
    * ORACLE recomputes directly from raw rows, so the hash check IS the
    * merge==full-recompute theorem on real data. Exact-integer sums
    * make it slicing-invariant; the HLL distinct estimate is excluded
    * (approx by contract, spec-bounded). */
  private def a20Incremental: Q = (s, d) => {
    import graft.sources.IncrementalAgg
    val ev = Tables.events(s, d)
    val day = floor(col("ts").cast("double") / 86400.0).cast("long")
    val p1 = IncrementalAgg.partial(
      ev.filter(pmod(day, lit(2)) === 0), Seq("event_type"), "value", "user_id")
    val p2 = IncrementalAgg.partial(
      ev.filter(pmod(day, lit(2)) === 1), Seq("event_type"), "value", "user_id")
    IncrementalAgg.finalize(IncrementalAgg.merge(Seq(p1, p2)))
      .select(col("event_type"), col("cnt"),
        Det.dround(col("total"), 6).as("total"),
        Det.dround(col("vmin"), 6).as("vmin"),
        Det.dround(col("vmax"), 6).as("vmax"),
        Det.dround(col("avg"), 6).as("avg"))
  }

  private val a20Sql =
    s"""WITH v AS (SELECT event_type,
       |    CAST(floor(CAST(value AS DOUBLE)*1e6 + 0.5) AS BIGINT) AS v6
       |  FROM events)
       |SELECT event_type, count(*) AS cnt,
       |  ${Det.droundSql("sum(v6)/1e6", 6)} AS total,
       |  ${Det.droundSql("min(v6)/1e6", 6)} AS vmin,
       |  ${Det.droundSql("max(v6)/1e6", 6)} AS vmax,
       |  ${Det.droundSql("CAST(sum(v6) AS DOUBLE)/count(*)/1e6", 6)} AS avg
       |FROM v GROUP BY 1""".stripMargin

  // ---- T20: Syntetos-Boylan demand categorization ----------------------

  /** T20 — SBC triage over the purchase-else-zero demand series: ADI ×
    * CV² cut at (1.32, 0.49) routes each user to SES-class or Croston.
    * The gate in front of f8. */
  private def t20Sbc: Q = (s, d) =>
    graft.scale.SeriesDiagnostics.sbcClassify(
        Tables.events(s, d).withColumn("demand",
          when(col("event_type") === "purchase", col("value")).otherwise(lit(0.0))),
        "demand", "ts", Seq("user_id"))
      .select(col("user_id"), col("n"), col("n_demands"),
        Det.dround(col("adi"), 6).as("adi"), Det.dround(col("cv2"), 6).as("cv2"),
        col("class"), col("recommended"))

  private val t20Sql =
    s"""WITH s AS (SELECT user_id,
       |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
       |    CASE WHEN event_type = 'purchase' THEN CAST(value AS DOUBLE) ELSE 0.0 END AS y
       |  FROM events),
       |a AS (SELECT user_id, CAST(max(n) AS BIGINT) AS n,
       |        CAST(count(*) AS BIGINT) AS n_demands,
       |        sum(y) AS sz, sum(y*y) AS szz
       |      FROM s WHERE y <> 0.0 GROUP BY 1),
       |b AS (SELECT user_id, n, n_demands,
       |        CAST(n AS DOUBLE) / n_demands AS adi,
       |        sz / n_demands AS mu, szz, sz FROM a),
       |c AS (SELECT user_id, n, n_demands, adi,
       |        (szz / n_demands - mu * mu) / (mu * mu) AS cv2 FROM b)
       |SELECT user_id, n, n_demands, ${Det.droundSql("adi", 6)} AS adi,
       |  ${Det.droundSql("cv2", 6)} AS cv2,
       |  CASE WHEN adi < 1.32 AND cv2 < 0.49 THEN 'smooth'
       |       WHEN adi >= 1.32 AND cv2 < 0.49 THEN 'intermittent'
       |       WHEN adi < 1.32 THEN 'erratic'
       |       ELSE 'lumpy' END AS class,
       |  CASE WHEN adi >= 1.32 THEN 'croston' ELSE 'ses' END AS recommended
       |FROM c""".stripMargin

  // ---- F10: per-series backtest + model selection ----------------------

  /** F10 — the AutoML leaderboard decision at warehouse scale, over the
    * FULL model zoo (r10 verdict #8): hold out each user series' last 5
    * points, fit naive/drift/SES(.5)/Holt(β=0)/Theta/Croston/HW(m=7) —
    * plus SBA and TSB where the Syntetos–Boylan ADI/CV² quadrant gate
    * routes them in (ADI ≥ 1.32, compared exactly in integers) — on
    * the rest, winner = lowest holdout MAE on an exact 1e-9 integer grid
    * (ties break to the simpler model); the quadrant label is emitted. One groupByKey fold for every
    * series in the warehouse; the oracle replays Croston/Theta through
    * the same closed forms and the HW recursion through a recursive
    * CTE. */
  private def f10Backtest: Q = (s, d) =>
    graft.scale.PerSeriesForecast.backtestZoo(
        Tables.events(s, d), "value", "ts", "user_id", h = 5, m = 7,
        alpha = 0.5, beta = 0.25, gamma = 0.25, tieBreak = Some("event_id"))
      .select(col("user_id"), col("n_train"),
        Det.dround(col("mae_naive"), 6).as("mae_naive"),
        Det.dround(col("mae_drift"), 6).as("mae_drift"),
        Det.dround(col("mae_ses"), 6).as("mae_ses"),
        Det.dround(col("mae_holt"), 6).as("mae_holt"),
        Det.dround(col("mae_damped"), 6).as("mae_damped"),
        Det.dround(col("mae_theta"), 6).as("mae_theta"),
        Det.dround(col("mae_croston"), 6).as("mae_croston"),
        Det.dround(col("mae_hw"), 6).as("mae_hw"),
        Det.dround(col("mae_sba"), 6).as("mae_sba"),
        Det.dround(col("mae_tsb"), 6).as("mae_tsb"),
        col("quadrant"), col("winner"))

  /** F24 — the winner-table SINK round-trip (r12 ask #7): the zoo
    * winner/quadrant table is WRITTEN to parquet (the artifact a nightly
    * selection job publishes) and read back, and the READ-BACK rows are
    * what this query emits — the correctness gate therefore hash-checks
    * the persisted artifact itself against the oracle's recomputed
    * winners, pinning that the sink/source round trip preserves the
    * decision table exactly. Sink path derives from the SF dir (one
    * artifact per SF), overwrite-idempotent; the write is an action at
    * construction (PlanAuditSpec sweep-skipped like the other eager
    * constructions). */
  private def f24WinnerRt: Q = (s, d) => {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_winner_rt_" +
      java.lang.Integer.toHexString(d.hashCode)
    graft.scale.PerSeriesForecast.backtestZoo(
        Tables.events(s, d), "value", "ts", "user_id", h = 5, m = 7,
        alpha = 0.5, beta = 0.25, gamma = 0.25, tieBreak = Some("event_id"))
      .select(col("user_id"), col("quadrant"), col("winner"))
      .write.mode("overwrite").parquet(out)
    Tables.parquet(s, out)
  }

  private val f10Sql =
    s"""WITH RECURSIVE s AS (SELECT user_id,
       |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn,
       |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
       |    CAST(floor(CAST(value AS DOUBLE)*1e9 + 0.5) AS BIGINT) AS y9
       |  FROM events),
       |i AS (SELECT user_id, rn, n, y9, y9/1e9 AS yq, n - 5 AS ntr FROM s WHERE n - 5 >= 2),
       |ph(k, p, cum) AS (
       |  SELECT CAST(1 AS BIGINT), CAST(0.8 AS DOUBLE), CAST(0.8 AS DOUBLE)
       |  UNION ALL
       |  SELECT k + 1, p * CAST(0.8 AS DOUBLE), cum + p * CAST(0.8 AS DOUBLE) FROM ph
       |  WHERE k < (SELECT greatest(max(ntr), 5) FROM i)),
       |tr AS (SELECT *,
       |    CASE WHEN rn = 1 THEN pow(0.5, ntr - 1) ELSE 0.5*pow(0.5, ntr - rn) END AS w
       |  FROM i WHERE rn <= ntr),
       |te AS (SELECT user_id, rn, yq, ntr, CAST(rn - ntr AS DOUBLE) AS k FROM i WHERE rn > ntr),
       |f AS (SELECT user_id, max(ntr) AS ntr,
       |        max(CASE WHEN rn = ntr THEN yq END) AS last_y,
       |        max(CASE WHEN rn = 1 THEN yq END) AS first_y,
       |        max(CASE WHEN rn = 2 THEN yq END) - max(CASE WHEN rn = 1 THEN yq END) AS b1,
       |        CAST(sum(CAST(floor(yq * w * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS ses9
       |      FROM tr GROUP BY user_id),
       |hz AS (SELECT tr.user_id,
       |        CAST(sum(CAST(floor((tr.yq - f.b1*(tr.rn - 1)) * tr.w * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS hz9
       |      FROM tr JOIN f USING (user_id) GROUP BY tr.user_id),
       |th AS (SELECT user_id, max(ntr) AS ntr,
       |        CAST(sum(rn - 1) AS BIGINT) AS st,
       |        CAST(sum((rn - 1)*(rn - 1)) AS BIGINT) AS stt,
       |        sum(CAST(y9 AS HUGEINT)) AS sy9,
       |        sum(CAST(rn - 1 AS HUGEINT) * y9) AS sty9,
       |        CAST(sum(CAST(floor(yq * w * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS swy9,
       |        CAST(sum(CAST(floor((rn - 1) * w * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS swt9,
       |        CAST(sum(CAST(floor(w * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS sw9
       |      FROM tr GROUP BY user_id),
       |thp AS (SELECT user_id, ntr,
       |        CASE WHEN ntr > 1 THEN
       |          CAST(ntr*sty9 - st*sy9 AS DOUBLE) / CAST(ntr*stt - st*st AS DOUBLE) / 1e9
       |        ELSE 0.0 END AS slope,
       |        (CAST(sy9 AS DOUBLE)/1e9) AS sy, st, swy9, swt9, sw9
       |      FROM th),
       |thq AS (SELECT user_id, ntr, slope,
       |        (sy - slope*st)/ntr AS icept, swy9, swt9, sw9 FROM thp),
       |thf AS (SELECT user_id, slope, icept,
       |        2.0*swy9/1e9 - icept*sw9/1e9 - slope*swt9/1e9 AS lvl2 FROM thq),
       |nz AS (SELECT user_id, rn, yq,
       |        CAST(row_number() OVER (PARTITION BY user_id ORDER BY rn) AS BIGINT) AS i,
       |        CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS nnz,
       |        rn - coalesce(lag(rn) OVER (PARTITION BY user_id ORDER BY rn), 0) AS g
       |      FROM tr WHERE yq <> 0),
       |cr AS (SELECT user_id,
       |        CAST(sum(CAST(floor(yq * w2 * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS z9,
       |        CAST(sum(CAST(floor(g * w2 * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS g9
       |      FROM (SELECT *, CASE WHEN i = 1 THEN pow(0.5, nnz - 1)
       |                           ELSE 0.5*pow(0.5, nnz - i) END AS w2 FROM nz)
       |      GROUP BY user_id),
       |dr AS (SELECT tr.user_id,
       |        CAST(sum(CASE WHEN tr.rn >= 2
       |          THEN CAST(floor(0.5 * f.b1 * ph.p * pow(0.5, tr.ntr - tr.rn) * 1e9 + 0.5) AS BIGINT)
       |          ELSE 0 END) AS BIGINT) AS dr9
       |      FROM tr JOIN f USING (user_id) LEFT JOIN ph ON ph.k = tr.rn - 1
       |      GROUP BY tr.user_id),
       |gq AS (SELECT user_id,
       |        CAST(count(*) FILTER (yq <> 0) AS BIGINT) AS nnz,
       |        CAST(max(ntr) AS BIGINT) AS len,
       |        coalesce(sum(CAST(y9 AS HUGEINT)) FILTER (yq <> 0), 0) AS gz,
       |        coalesce(sum(CAST(y9 AS HUGEINT)*y9) FILTER (yq <> 0), 0) AS gzz
       |      FROM tr GROUP BY user_id),
       |gt AS (SELECT user_id,
       |        (nnz = 0 OR 100*len >= 132*nnz) AS adi_high,
       |        (nnz > 0 AND 100*CAST(nnz AS HUGEINT)*gzz >= 149*gz*gz) AS cv_high
       |      FROM gq),
       |tp AS (SELECT user_id,
       |        CAST(sum(CAST(floor((CASE WHEN yq <> 0 THEN 1.0 ELSE 0.0 END)
       |          * (CASE WHEN rn = 1 THEN pow(0.75, ntr - 1)
       |                  ELSE 0.25*pow(0.75, ntr - rn) END) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS p9
       |      FROM tr GROUP BY user_id),
       |hw0 AS (SELECT user_id, max(ntr) AS ntr,
       |        CAST(sum(CASE WHEN rn <= 7 THEN y9 ELSE 0 END) AS BIGINT) AS sum9,
       |        CAST(sum(CASE WHEN rn > 7 AND rn <= 14 THEN y9 ELSE -y9 END)
       |             FILTER (rn <= 14) AS BIGINT) AS diff9
       |      FROM tr WHERE ntr >= 14 GROUP BY user_id),
       |hwb AS (SELECT hw0.user_id, hw0.ntr,
       |        CAST(sum9 AS DOUBLE)/7/1e9 AS l0, CAST(diff9 AS DOUBLE)/49/1e9 AS b0
       |      FROM hw0),
       |hws AS (SELECT hwb.user_id,
       |        list(tr.yq - hwb.l0 ORDER BY tr.rn) AS s0
       |      FROM hwb JOIN tr ON tr.user_id = hwb.user_id AND tr.rn <= 7
       |      GROUP BY hwb.user_id),
       |hwrec AS (
       |  SELECT hwb.user_id, CAST(7 AS BIGINT) AS t, hwb.ntr, hwb.l0 AS l,
       |         hwb.b0 AS b, hws.s0 AS sl
       |  FROM hwb JOIN hws USING (user_id)
       |  UNION ALL
       |  SELECT r.user_id, r.t + 1, r.ntr,
       |    0.5*(tr.yq - r.sl[CAST(r.t % 7 AS INT) + 1]) + 0.5*(r.l + r.b) AS l,
       |    0.25*((0.5*(tr.yq - r.sl[CAST(r.t % 7 AS INT) + 1]) + 0.5*(r.l + r.b)) - r.l) + 0.75*r.b AS b,
       |    list_concat(list_concat(
       |      CASE WHEN r.t % 7 = 0 THEN [] ELSE r.sl[1:CAST(r.t % 7 AS INT)] END,
       |      [0.25*(tr.yq - (0.5*(tr.yq - r.sl[CAST(r.t % 7 AS INT) + 1]) + 0.5*(r.l + r.b)))
       |        + 0.75*r.sl[CAST(r.t % 7 AS INT) + 1]]),
       |      CASE WHEN r.t % 7 = 6 THEN [] ELSE r.sl[CAST(r.t % 7 AS INT) + 2:7] END) AS sl
       |  FROM hwrec r JOIN tr ON tr.user_id = r.user_id AND tr.rn = r.t + 1
       |  WHERE r.t < r.ntr),
       |hwf AS (SELECT user_id, l, b, sl FROM hwrec WHERE t = ntr),
       |er AS (SELECT te.user_id,
       |    CAST(sum(CAST(floor(abs(te.yq - f.last_y)*1e9 + 0.5) AS BIGINT)) AS BIGINT) AS e_naive,
       |    CAST(sum(CAST(floor(abs(te.yq - (f.last_y + te.k*(f.last_y - f.first_y)/(f.ntr - 1)))*1e9 + 0.5) AS BIGINT)) AS BIGINT) AS e_drift,
       |    CAST(sum(CAST(floor(abs(te.yq - f.ses9/1e9)*1e9 + 0.5) AS BIGINT)) AS BIGINT) AS e_ses,
       |    CAST(sum(CAST(floor(abs(te.yq - (hz.hz9/1e9 + f.b1*(f.ntr - 1) + te.k*f.b1))*1e9 + 0.5) AS BIGINT)) AS BIGINT) AS e_holt,
       |    CAST(sum(CAST(floor(abs(te.yq - ((f.ses9 + dr.dr9)/1e9 + f.b1*phn.p*phk.cum))*1e9 + 0.5) AS BIGINT)) AS BIGINT) AS e_damped,
       |    CAST(sum(CAST(floor(abs(te.yq - (thf.icept + thf.slope*(f.ntr - 1 + te.k) + thf.lvl2)/2)*1e9 + 0.5) AS BIGINT)) AS BIGINT) AS e_theta,
       |    CAST(sum(CAST(floor(abs(te.yq - (cr.z9/1e9)/(cr.g9/1e9))*1e9 + 0.5) AS BIGINT)) AS BIGINT) AS e_cro,
       |    CAST(sum(CAST(floor(abs(te.yq - (hwf.l + te.k*hwf.b + hwf.sl[CAST((f.ntr - 1 + CAST(te.k AS BIGINT)) % 7 AS INT) + 1]))*1e9 + 0.5) AS BIGINT)) AS BIGINT) AS e_hw,
       |    CAST(sum(CAST(floor(abs(te.yq - (cr.z9/1e9)/(cr.g9/1e9)*0.75)*1e9 + 0.5) AS BIGINT)) AS BIGINT) AS e_sba,
       |    CAST(sum(CAST(floor(abs(te.yq - (tp.p9/1e9)*(cr.z9/1e9))*1e9 + 0.5) AS BIGINT)) AS BIGINT) AS e_tsb,
       |    max(CASE WHEN gt.adi_high THEN 1 ELSE 0 END) AS gate,
       |    max(CASE WHEN gt.adi_high AND gt.cv_high THEN 'lumpy'
       |             WHEN gt.adi_high THEN 'intermittent'
       |             WHEN gt.cv_high THEN 'erratic' ELSE 'smooth' END) AS quadrant,
       |    max(CASE WHEN cr.user_id IS NULL THEN 0 ELSE 1 END) AS has_cro,
       |    max(CASE WHEN hwf.user_id IS NULL THEN 0 ELSE 1 END) AS has_hw,
       |    CAST(max(f.ntr) AS BIGINT) AS n_train
       |  FROM te JOIN f USING (user_id) JOIN hz USING (user_id)
       |    JOIN thf USING (user_id) JOIN dr USING (user_id)
       |    JOIN gt USING (user_id) JOIN tp USING (user_id)
       |    JOIN ph AS phn ON phn.k = f.ntr - 1
       |    JOIN ph AS phk ON phk.k = CAST(te.k AS BIGINT)
       |    LEFT JOIN cr ON cr.user_id = te.user_id
       |    LEFT JOIN hwf ON hwf.user_id = te.user_id
       |  GROUP BY te.user_id),
       |wn AS (SELECT *,
       |    coalesce(e_cro, 9223372036854775807) AS ec,
       |    coalesce(e_hw, 9223372036854775807) AS eh,
       |    coalesce(CASE WHEN gate = 1 THEN e_sba END, 9223372036854775807) AS eb,
       |    coalesce(CASE WHEN gate = 1 THEN e_tsb END, 9223372036854775807) AS ez
       |  FROM er)
       |SELECT user_id, n_train,
       |  ${Det.droundSql("CAST(e_naive AS DOUBLE)/5/1e9", 6)} AS mae_naive,
       |  ${Det.droundSql("CAST(e_drift AS DOUBLE)/5/1e9", 6)} AS mae_drift,
       |  ${Det.droundSql("CAST(e_ses AS DOUBLE)/5/1e9", 6)} AS mae_ses,
       |  ${Det.droundSql("CAST(e_holt AS DOUBLE)/5/1e9", 6)} AS mae_holt,
       |  ${Det.droundSql("CAST(e_damped AS DOUBLE)/5/1e9", 6)} AS mae_damped,
       |  ${Det.droundSql("CAST(e_theta AS DOUBLE)/5/1e9", 6)} AS mae_theta,
       |  CASE WHEN has_cro = 1 THEN ${Det.droundSql("CAST(e_cro AS DOUBLE)/5/1e9", 6)} END AS mae_croston,
       |  CASE WHEN has_hw = 1 THEN ${Det.droundSql("CAST(e_hw AS DOUBLE)/5/1e9", 6)} END AS mae_hw,
       |  CASE WHEN gate = 1 AND has_cro = 1 THEN ${Det.droundSql("CAST(e_sba AS DOUBLE)/5/1e9", 6)} END AS mae_sba,
       |  CASE WHEN gate = 1 AND has_cro = 1 THEN ${Det.droundSql("CAST(e_tsb AS DOUBLE)/5/1e9", 6)} END AS mae_tsb,
       |  quadrant,
       |  CASE
       |    WHEN e_naive <= e_drift AND e_naive <= e_ses AND e_naive <= e_holt
       |     AND e_naive <= e_damped AND e_naive <= e_theta AND e_naive <= ec
       |     AND e_naive <= eh AND e_naive <= eb AND e_naive <= ez THEN 'naive'
       |    WHEN e_drift <= e_ses AND e_drift <= e_holt AND e_drift <= e_damped
       |     AND e_drift <= e_theta AND e_drift <= ec AND e_drift <= eh
       |     AND e_drift <= eb AND e_drift <= ez THEN 'drift'
       |    WHEN e_ses <= e_holt AND e_ses <= e_damped AND e_ses <= e_theta
       |     AND e_ses <= ec AND e_ses <= eh AND e_ses <= eb AND e_ses <= ez THEN 'ses'
       |    WHEN e_holt <= e_damped AND e_holt <= e_theta AND e_holt <= ec
       |     AND e_holt <= eh AND e_holt <= eb AND e_holt <= ez THEN 'holt'
       |    WHEN e_damped <= e_theta AND e_damped <= ec AND e_damped <= eh
       |     AND e_damped <= eb AND e_damped <= ez THEN 'damped'
       |    WHEN e_theta <= ec AND e_theta <= eh AND e_theta <= eb
       |     AND e_theta <= ez THEN 'theta'
       |    WHEN ec <= eh AND ec <= eb AND ec <= ez THEN 'croston'
       |    WHEN eh <= eb AND eh <= ez THEN 'hw'
       |    WHEN eb <= ez THEN 'sba'
       |    ELSE 'tsb' END AS winner
       |FROM wn""".stripMargin

  private val f24Sql =
    s"SELECT user_id, quadrant, winner FROM ($f10Sql)"

  // ---- PIPE3_ZOO: clean -> full-zoo select -> winner refit --------------

  /** The eight-candidate fit CTE block over `$tr` (rows 1..`$len` of
    * each cleaned series with SES weight `w`), names suffixed `$tag` —
    * shared between the SELECT stage (len = ntr) and the REFIT stage
    * (len = n) of the pipe3_zoo oracle, mirroring how the Scala side
    * shares [[graft.scale.PerSeriesForecast.zooFit]] between selection
    * and refit. HW is the recursive-CTE replay of the batch recursion
    * (the f10 discipline); m = 7 fixed. */
  private def zooFitCtes(tag: String, tr: String, len: String): String =
    s"""f$tag AS (SELECT user_id, max($len) AS len,
       |        max(CASE WHEN rn = $len THEN yq END) AS last_y,
       |        max(CASE WHEN rn = 1 THEN yq END) AS first_y,
       |        max(CASE WHEN rn = 2 THEN yq END) - max(CASE WHEN rn = 1 THEN yq END) AS b1,
       |        CAST(sum(CAST(floor(yq * w * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS ses9
       |      FROM $tr GROUP BY user_id),
       |hz$tag AS (SELECT $tr.user_id,
       |        CAST(sum(CAST(floor(($tr.yq - f$tag.b1*($tr.rn - 1)) * $tr.w * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS hz9
       |      FROM $tr JOIN f$tag USING (user_id) GROUP BY $tr.user_id),
       |th$tag AS (SELECT user_id, max($len) AS len,
       |        CAST(sum(rn - 1) AS BIGINT) AS st,
       |        CAST(sum((rn - 1)*(rn - 1)) AS BIGINT) AS stt,
       |        sum(CAST(y9 AS HUGEINT)) AS sy9,
       |        sum(CAST(rn - 1 AS HUGEINT) * y9) AS sty9,
       |        CAST(sum(CAST(floor(yq * w * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS swy9,
       |        CAST(sum(CAST(floor((rn - 1) * w * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS swt9,
       |        CAST(sum(CAST(floor(w * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS sw9
       |      FROM $tr GROUP BY user_id),
       |thp$tag AS (SELECT user_id, len,
       |        CASE WHEN len > 1 THEN
       |          CAST(len*sty9 - st*sy9 AS DOUBLE) / CAST(len*stt - st*st AS DOUBLE) / 1e9
       |        ELSE 0.0 END AS slope,
       |        (CAST(sy9 AS DOUBLE)/1e9) AS sy, st, swy9, swt9, sw9
       |      FROM th$tag),
       |thf$tag AS (SELECT user_id, slope,
       |        (sy - slope*st)/len AS icept,
       |        2.0*swy9/1e9 - ((sy - slope*st)/len)*sw9/1e9 - slope*swt9/1e9 AS lvl2
       |      FROM thp$tag),
       |nz$tag AS (SELECT user_id, rn, yq,
       |        CAST(row_number() OVER (PARTITION BY user_id ORDER BY rn) AS BIGINT) AS i,
       |        CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS nnz,
       |        rn - coalesce(lag(rn) OVER (PARTITION BY user_id ORDER BY rn), 0) AS g
       |      FROM $tr WHERE yq <> 0),
       |cr$tag AS (SELECT user_id,
       |        CAST(sum(CAST(floor(yq * w2 * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS z9,
       |        CAST(sum(CAST(floor(g * w2 * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS g9
       |      FROM (SELECT *, CASE WHEN i = 1 THEN pow(0.5, nnz - 1)
       |                           ELSE 0.5*pow(0.5, nnz - i) END AS w2 FROM nz$tag)
       |      GROUP BY user_id),
       |dr$tag AS (SELECT $tr.user_id,
       |        CAST(sum(CASE WHEN $tr.rn >= 2
       |          THEN CAST(floor(0.5 * f$tag.b1 * ph.p * pow(0.5, $tr.$len - $tr.rn) * 1e9 + 0.5) AS BIGINT)
       |          ELSE 0 END) AS BIGINT) AS dr9
       |      FROM $tr JOIN f$tag USING (user_id) LEFT JOIN ph ON ph.k = $tr.rn - 1
       |      GROUP BY $tr.user_id),
       |hw0$tag AS (SELECT user_id, max($len) AS len,
       |        CAST(sum(CASE WHEN rn <= 7 THEN y9 ELSE 0 END) AS BIGINT) AS sum9,
       |        CAST(sum(CASE WHEN rn > 7 AND rn <= 14 THEN y9 ELSE -y9 END)
       |             FILTER (rn <= 14) AS BIGINT) AS diff9
       |      FROM $tr WHERE $len >= 14 GROUP BY user_id),
       |hwb$tag AS (SELECT hw0$tag.user_id, hw0$tag.len,
       |        CAST(sum9 AS DOUBLE)/7/1e9 AS l0, CAST(diff9 AS DOUBLE)/49/1e9 AS b0
       |      FROM hw0$tag),
       |hws$tag AS (SELECT hwb$tag.user_id,
       |        list($tr.yq - hwb$tag.l0 ORDER BY $tr.rn) AS s0
       |      FROM hwb$tag JOIN $tr ON $tr.user_id = hwb$tag.user_id AND $tr.rn <= 7
       |      GROUP BY hwb$tag.user_id),
       |hwrec$tag AS (
       |  SELECT hwb$tag.user_id, CAST(7 AS BIGINT) AS t, hwb$tag.len, hwb$tag.l0 AS l,
       |         hwb$tag.b0 AS b, hws$tag.s0 AS sl
       |  FROM hwb$tag JOIN hws$tag USING (user_id)
       |  UNION ALL
       |  SELECT r.user_id, r.t + 1, r.len,
       |    0.5*($tr.yq - r.sl[CAST(r.t % 7 AS INT) + 1]) + 0.5*(r.l + r.b) AS l,
       |    0.25*((0.5*($tr.yq - r.sl[CAST(r.t % 7 AS INT) + 1]) + 0.5*(r.l + r.b)) - r.l) + 0.75*r.b AS b,
       |    list_concat(list_concat(
       |      CASE WHEN r.t % 7 = 0 THEN [] ELSE r.sl[1:CAST(r.t % 7 AS INT)] END,
       |      [0.25*($tr.yq - (0.5*($tr.yq - r.sl[CAST(r.t % 7 AS INT) + 1]) + 0.5*(r.l + r.b)))
       |        + 0.75*r.sl[CAST(r.t % 7 AS INT) + 1]]),
       |      CASE WHEN r.t % 7 = 6 THEN [] ELSE r.sl[CAST(r.t % 7 AS INT) + 2:7] END) AS sl
       |  FROM hwrec$tag r JOIN $tr ON $tr.user_id = r.user_id AND $tr.rn = r.t + 1
       |  WHERE r.t < r.len),
       |hwf$tag AS (SELECT user_id, l, b, sl FROM hwrec$tag WHERE t = len),
       |gq$tag AS (SELECT user_id,
       |        CAST(count(*) FILTER (yq <> 0) AS BIGINT) AS nnz,
       |        CAST(max($len) AS BIGINT) AS len,
       |        coalesce(sum(CAST(y9 AS HUGEINT)) FILTER (yq <> 0), 0) AS gz,
       |        coalesce(sum(CAST(y9 AS HUGEINT)*y9) FILTER (yq <> 0), 0) AS gzz
       |      FROM $tr GROUP BY user_id),
       |gt$tag AS (SELECT user_id,
       |        (nnz = 0 OR 100*len >= 132*nnz) AS adi_high,
       |        (nnz > 0 AND 100*CAST(nnz AS HUGEINT)*gzz >= 149*gz*gz) AS cv_high
       |      FROM gq$tag),
       |tp$tag AS (SELECT user_id,
       |        CAST(sum(CAST(floor((CASE WHEN yq <> 0 THEN 1.0 ELSE 0.0 END)
       |          * (CASE WHEN rn = 1 THEN pow(0.75, $len - 1)
       |                  ELSE 0.25*pow(0.75, $len - rn) END) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS p9
       |      FROM $tr GROUP BY user_id)""".stripMargin

  /** PIPE3_ZOO — the fused pipeline widened to the full model zoo (r11
    * task #7): Hampel-clean → 10-candidate holdout selection (SBA/TSB intermittency-gated) → WINNER
    * refit on the full cleaned series → h-step forecast, one plan, one
    * hash. The oracle chains the pipe3 clean CTEs into TWO copies of
    * [[zooFitCtes]] (select at ntr, refit at n) plus the f10 winner
    * CASE — proving selection and refit are the same estimator at two
    * train lengths, HW recursion included. */
  private def pipe3Zoo: Q = (s, d) =>
    graft.scale.PerSeriesForecast.cleanSelectForecastZoo(
        Tables.events(s, d), "value", "ts", "user_id", h = 3, m = 7,
        alpha = 0.5, beta = 0.25, gamma = 0.25, halfWin = 5, nSigmas = 3.5,
        tieBreak = Some("event_id"))
      .select(col("user_id"), col("n"), col("winner"), col("h"),
        Det.dround(col("yhat"), 6).as("yhat"))

  private val pipe3ZooSql =
    s"""WITH RECURSIVE s0 AS (
       |  SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS y,
       |    list(CAST(value AS DOUBLE)) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS arr
       |  FROM events),
       |mm AS (SELECT user_id, ts, event_id, y,
       |        list_sort(arr)[(len(arr) + 1) // 2] AS med, arr FROM s0),
       |cc AS (SELECT user_id, ts, event_id, y, med,
       |        list_sort(list_transform(arr, x -> abs(x - med)))[(len(arr) + 1) // 2] AS mad
       |      FROM mm),
       |cl AS (SELECT user_id, ts, event_id,
       |         CASE WHEN mad > 0 AND abs(y - med) > 3.5*mad THEN med ELSE y END AS y
       |       FROM cc),
       |sq AS (SELECT user_id,
       |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn,
       |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
       |    CAST(floor(y*1e9 + 0.5) AS BIGINT) AS y9
       |  FROM cl),
       |i AS (SELECT user_id, rn, n, y9, y9/1e9 AS yq, n - 3 AS ntr
       |      FROM sq WHERE n - 3 >= 2),
       |ph(k, p, cum) AS (
       |  SELECT CAST(1 AS BIGINT), CAST(0.8 AS DOUBLE), CAST(0.8 AS DOUBLE)
       |  UNION ALL
       |  SELECT k + 1, p * CAST(0.8 AS DOUBLE), cum + p * CAST(0.8 AS DOUBLE) FROM ph
       |  WHERE k < (SELECT greatest(max(n), 3) FROM i)),
       |trA AS (SELECT *,
       |    CASE WHEN rn = 1 THEN pow(0.5, ntr - 1) ELSE 0.5*pow(0.5, ntr - rn) END AS w
       |  FROM i WHERE rn <= ntr),
       |trB AS (SELECT *,
       |    CASE WHEN rn = 1 THEN pow(0.5, n - 1) ELSE 0.5*pow(0.5, n - rn) END AS w
       |  FROM i),
       |te AS (SELECT user_id, rn, yq, ntr, CAST(rn - ntr AS DOUBLE) AS k
       |       FROM i WHERE rn > ntr),
       |${zooFitCtes("A", "trA", "ntr")},
       |${zooFitCtes("B", "trB", "n")},
       |er AS (SELECT te.user_id,
       |    CAST(sum(CAST(floor(abs(te.yq - fA.last_y)*1e9 + 0.5) AS BIGINT)) AS BIGINT) AS e_naive,
       |    CAST(sum(CAST(floor(abs(te.yq - (fA.last_y + te.k*(fA.last_y - fA.first_y)/(fA.len - 1)))*1e9 + 0.5) AS BIGINT)) AS BIGINT) AS e_drift,
       |    CAST(sum(CAST(floor(abs(te.yq - fA.ses9/1e9)*1e9 + 0.5) AS BIGINT)) AS BIGINT) AS e_ses,
       |    CAST(sum(CAST(floor(abs(te.yq - (hzA.hz9/1e9 + fA.b1*(fA.len - 1) + te.k*fA.b1))*1e9 + 0.5) AS BIGINT)) AS BIGINT) AS e_holt,
       |    CAST(sum(CAST(floor(abs(te.yq - ((fA.ses9 + drA.dr9)/1e9 + fA.b1*phn.p*phk.cum))*1e9 + 0.5) AS BIGINT)) AS BIGINT) AS e_damped,
       |    CAST(sum(CAST(floor(abs(te.yq - (thfA.icept + thfA.slope*(fA.len - 1 + te.k) + thfA.lvl2)/2)*1e9 + 0.5) AS BIGINT)) AS BIGINT) AS e_theta,
       |    CAST(sum(CAST(floor(abs(te.yq - (crA.z9/1e9)/(crA.g9/1e9))*1e9 + 0.5) AS BIGINT)) AS BIGINT) AS e_cro,
       |    CAST(sum(CAST(floor(abs(te.yq - (hwfA.l + te.k*hwfA.b + hwfA.sl[CAST((fA.len - 1 + CAST(te.k AS BIGINT)) % 7 AS INT) + 1]))*1e9 + 0.5) AS BIGINT)) AS BIGINT) AS e_hw,
       |    CAST(sum(CAST(floor(abs(te.yq - (crA.z9/1e9)/(crA.g9/1e9)*0.75)*1e9 + 0.5) AS BIGINT)) AS BIGINT) AS e_sba,
       |    CAST(sum(CAST(floor(abs(te.yq - (tpA.p9/1e9)*(crA.z9/1e9))*1e9 + 0.5) AS BIGINT)) AS BIGINT) AS e_tsb,
       |    max(CASE WHEN gtA.adi_high THEN 1 ELSE 0 END) AS gate,
       |    max(CASE WHEN crA.user_id IS NULL THEN 0 ELSE 1 END) AS has_cro,
       |    max(CASE WHEN hwfA.user_id IS NULL THEN 0 ELSE 1 END) AS has_hw
       |  FROM te JOIN fA USING (user_id) JOIN hzA USING (user_id)
       |    JOIN thfA USING (user_id) JOIN drA USING (user_id)
       |    JOIN gtA USING (user_id) JOIN tpA USING (user_id)
       |    JOIN ph AS phn ON phn.k = fA.len - 1
       |    JOIN ph AS phk ON phk.k = CAST(te.k AS BIGINT)
       |    LEFT JOIN crA ON crA.user_id = te.user_id
       |    LEFT JOIN hwfA ON hwfA.user_id = te.user_id
       |  GROUP BY te.user_id),
       |wn AS (SELECT user_id,
       |    CASE
       |      WHEN e_naive <= e_drift AND e_naive <= e_ses AND e_naive <= e_holt
       |       AND e_naive <= e_damped AND e_naive <= e_theta AND e_naive <= ec
       |       AND e_naive <= eh AND e_naive <= eb AND e_naive <= ez THEN 'naive'
       |      WHEN e_drift <= e_ses AND e_drift <= e_holt AND e_drift <= e_damped
       |       AND e_drift <= e_theta AND e_drift <= ec AND e_drift <= eh
       |       AND e_drift <= eb AND e_drift <= ez THEN 'drift'
       |      WHEN e_ses <= e_holt AND e_ses <= e_damped AND e_ses <= e_theta
       |       AND e_ses <= ec AND e_ses <= eh AND e_ses <= eb
       |       AND e_ses <= ez THEN 'ses'
       |      WHEN e_holt <= e_damped AND e_holt <= e_theta AND e_holt <= ec
       |       AND e_holt <= eh AND e_holt <= eb AND e_holt <= ez THEN 'holt'
       |      WHEN e_damped <= e_theta AND e_damped <= ec AND e_damped <= eh
       |       AND e_damped <= eb AND e_damped <= ez THEN 'damped'
       |      WHEN e_theta <= ec AND e_theta <= eh AND e_theta <= eb
       |       AND e_theta <= ez THEN 'theta'
       |      WHEN ec <= eh AND ec <= eb AND ec <= ez THEN 'croston'
       |      WHEN eh <= eb AND eh <= ez THEN 'hw'
       |      WHEN eb <= ez THEN 'sba'
       |      ELSE 'tsb' END AS winner
       |  FROM (SELECT *,
       |          coalesce(e_cro, 9223372036854775807) AS ec,
       |          coalesce(e_hw, 9223372036854775807) AS eh,
       |          coalesce(CASE WHEN gate = 1 THEN e_sba END, 9223372036854775807) AS eb,
       |          coalesce(CASE WHEN gate = 1 THEN e_tsb END, 9223372036854775807) AS ez
       |        FROM er)),
       |fc AS (SELECT fB.user_id, fB.len AS n, wn.winner, gs.h,
       |    CASE wn.winner
       |      WHEN 'naive' THEN fB.last_y
       |      WHEN 'drift' THEN fB.last_y + gs.h*(fB.last_y - fB.first_y)/(fB.len - 1)
       |      WHEN 'ses' THEN fB.ses9/1e9
       |      WHEN 'holt' THEN hzB.hz9/1e9 + fB.b1*(fB.len - 1) + gs.h*fB.b1
       |      WHEN 'damped' THEN (fB.ses9 + drB.dr9)/1e9 + fB.b1*phn.p*phk.cum
       |      WHEN 'theta' THEN (thfB.icept + thfB.slope*(fB.len - 1 + gs.h) + thfB.lvl2)/2
       |      WHEN 'croston' THEN (crB.z9/1e9)/(crB.g9/1e9)
       |      WHEN 'sba' THEN (crB.z9/1e9)/(crB.g9/1e9)*0.75
       |      WHEN 'tsb' THEN (tpB.p9/1e9)*(crB.z9/1e9)
       |      ELSE hwfB.l + gs.h*hwfB.b + hwfB.sl[CAST((fB.len - 1 + gs.h) % 7 AS INT) + 1]
       |    END AS yhat
       |  FROM fB JOIN wn USING (user_id) JOIN hzB USING (user_id)
       |    JOIN thfB USING (user_id) JOIN drB USING (user_id)
       |    JOIN tpB USING (user_id)
       |    LEFT JOIN crB ON crB.user_id = fB.user_id
       |    LEFT JOIN hwfB ON hwfB.user_id = fB.user_id
       |  CROSS JOIN generate_series(1, 3) AS gs(h)
       |  JOIN ph AS phn ON phn.k = fB.len - 1
       |  JOIN ph AS phk ON phk.k = gs.h)
       |SELECT user_id, CAST(n AS BIGINT) AS n, winner, CAST(h AS BIGINT) AS h,
       |  ${Det.droundSql("yhat", 6)} AS yhat
       |FROM fc""".stripMargin

  // ---- X16: bigram LM with Stupid Backoff ------------------------------

  /** X16 — bigram Stupid-Backoff LM quality score (Brants et al. 2007):
    * the stronger perplexity proxy layered on x11's pruned-vocabulary
    * unigram. Mean log-prob per doc, 4-decimal. */
  private def x16BigramLm: Q = (s, d) =>
    graft.scale.TextAnalysis.bigramLogProb(Tables.documents(s, d), "text", "doc_id",
        alpha = 0.5, topV = 100000, topB = 200000, backoff = 0.4)
      .select(col("doc_id"), Det.dround(col("mean_logp"), 4).as("mean_logp"),
              col("n_tokens"))

  private val x16Sql =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |toks AS (SELECT doc_id, unnest(w) AS tok FROM w),
       |uc AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
       |topv AS (SELECT tok, cnt FROM uc ORDER BY cnt DESC, tok LIMIT 100000),
       |tot AS (SELECT (SELECT sum(cnt) FROM uc) AS n,
       |               (SELECT sum(cnt) FROM topv) AS kept,
       |               (SELECT count(*) FROM topv) AS v),
       |prm AS (SELECT CAST(n AS DOUBLE) AS n, CAST(n - kept AS DOUBLE) AS oov,
       |               CAST(n AS DOUBLE) + 0.5 * (v + 1) AS denom FROM tot),
       |pairs AS (SELECT doc_id, w[i.i - 1] AS u, w[i.i] AS v
       |          FROM w, lateral (SELECT unnest(generate_series(2, len(w))) AS i) i
       |          WHERE len(w) >= 2),
       |bc AS (SELECT u, v, count(*) AS cnt FROM pairs GROUP BY 1, 2),
       |bcv AS (SELECT b.u, b.v, b.cnt, tu.cnt AS cu FROM bc b
       |        JOIN topv tu ON tu.tok = b.u JOIN topv tv ON tv.tok = b.v),
       |topb AS (SELECT u, v, ln(CAST(cnt AS DOUBLE) / cu) AS lr FROM bcv
       |         ORDER BY cnt DESC, u, v LIMIT 200000),
       |stream AS (SELECT doc_id, CAST(NULL AS VARCHAR) AS u, w[1] AS v FROM w WHERE len(w) >= 1
       |           UNION ALL SELECT doc_id, u, v FROM pairs),
       |scored AS (SELECT s.doc_id,
       |    CASE WHEN tb.lr IS NOT NULL THEN tb.lr
       |         WHEN s.u IS NULL THEN ln((coalesce(tv.cnt, prm.oov) + 0.5) / prm.denom)
       |         ELSE ln(0.4) + ln((coalesce(tv.cnt, prm.oov) + 0.5) / prm.denom) END AS lp
       |  FROM stream s LEFT JOIN topb tb ON tb.u = s.u AND tb.v = s.v
       |  LEFT JOIN topv tv ON tv.tok = s.v CROSS JOIN prm)
       |SELECT doc_id, ${Det.droundSql("avg(lp)", 4)} AS mean_logp,
       |  count(*) AS n_tokens
       |FROM scored GROUP BY doc_id""".stripMargin

  // ---- SM10/D15: mixture waterfill + cross-source overlap --------------

  /** The sm10 target mixture — heavy weight on five sources so the
    * waterfill visibly caps and redistributes; shared verbatim with the
    * oracle's CASE. */
  private val wfWeights: Map[String, Double] =
    (0 to 19).map(i => s"src$i" -> (if (i <= 4) 0.15 else 0.0125)).toMap

  /** SM10 — pretraining-mixture waterfill: 20k-token budget across the
    * 20 sources at the wfWeights targets, 3 redistribution rounds. */
  private def sm10Waterfill: Q = (s, d) =>
    Sampling.waterfillMixture(Tables.documents(s, d), "source", "text",
      wfWeights, budget = 20000L, rounds = 3)

  private val sm10Sql =
    s"""WITH c AS (SELECT source, CAST(sum(len(regexp_extract_all(text, '${graft.scale.Packing.tokPattern}'))) AS BIGINT) AS n_avail
      |           FROM documents GROUP BY 1),
      |base AS (SELECT c.source, c.n_avail,
      |           CAST(CASE WHEN c.source IN ('src0','src1','src2','src3','src4')
      |                     THEN 0.15 ELSE 0.0125 END AS DOUBLE) AS wgt FROM c),
      |s1 AS (SELECT floor((20000.0 - 0) / sum(wgt) * 1e6 + 0.5) / 1e6 AS scale FROM base),
      |r1 AS (SELECT b.source, b.n_avail, b.wgt,
      |         least(b.n_avail, CAST(floor(b.wgt * s1.scale) AS BIGINT)) AS alloc,
      |         b.n_avail <= CAST(floor(b.wgt * s1.scale) AS BIGINT) AS capped
      |       FROM base b CROSS JOIN s1),
      |s2 AS (SELECT floor((20000.0 - sum(CASE WHEN capped THEN alloc ELSE 0 END))
      |         / nullif(sum(CASE WHEN NOT capped THEN wgt ELSE 0 END), 0) * 1e6 + 0.5) / 1e6 AS scale FROM r1),
      |r2 AS (SELECT r1.source, r1.n_avail, r1.wgt,
      |         CASE WHEN r1.capped THEN r1.alloc
      |              ELSE least(r1.n_avail, CAST(floor(r1.wgt * s2.scale) AS BIGINT)) END AS alloc,
      |         r1.capped OR r1.n_avail <= CAST(floor(r1.wgt * s2.scale) AS BIGINT) AS capped
      |       FROM r1 CROSS JOIN s2),
      |s3 AS (SELECT floor((20000.0 - sum(CASE WHEN capped THEN alloc ELSE 0 END))
      |         / nullif(sum(CASE WHEN NOT capped THEN wgt ELSE 0 END), 0) * 1e6 + 0.5) / 1e6 AS scale FROM r2),
      |r3 AS (SELECT r2.source, r2.n_avail, r2.wgt,
      |         CASE WHEN r2.capped THEN r2.alloc
      |              ELSE least(r2.n_avail, CAST(floor(r2.wgt * s3.scale) AS BIGINT)) END AS alloc,
      |         r2.capped OR r2.n_avail <= CAST(floor(r2.wgt * s3.scale) AS BIGINT) AS capped
      |       FROM r2 CROSS JOIN s3)
      |SELECT source, n_avail, CAST(alloc AS BIGINT) AS alloc_tokens, capped,
      |  CAST(floor(CAST(alloc AS DOUBLE) / n_avail * 1000 + 0.5) AS BIGINT) AS rate_permille
      |FROM r3""".stripMargin

  /** D15 — cross-source 6-gram overlap matrix (containment of source A's
    * distinct gram set in each B): the corpus-governance companion to
    * d7/d10 decontamination. Spark fingerprints with xxhash64; the
    * oracle replays on raw gram strings. */
  private def d15Overlap: Q = (s, d) =>
    graft.scale.Dedup.crossGroupOverlap(Tables.documents(s, d), "text", "source", L = 6)

  private val d15Sql =
    """WITH w AS (SELECT source, doc_id, string_split(text, ' ') AS w FROM documents),
      |we AS (SELECT source, doc_id, w FROM w WHERE len(w) >= 6),
      |g0 AS (SELECT source, doc_id, unnest(generate_series(1, len(w) - 5)) AS pos, w FROM we),
      |g AS (SELECT DISTINCT source,
      |        w[pos] || ' ' || w[pos+1] || ' ' || w[pos+2] || ' ' ||
      |        w[pos+3] || ' ' || w[pos+4] || ' ' || w[pos+5] AS s
      |      FROM g0),
      |cnt AS (SELECT source, count(*) AS n FROM g GROUP BY 1),
      |pair AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
      |         FROM g a JOIN g b ON a.s = b.s AND a.source < b.source GROUP BY 1, 2)
      |SELECT p.src_a, p.src_b, CAST(p.n_shared AS BIGINT) AS n_shared,
      |  floor(CAST(p.n_shared AS DOUBLE) / ca.n * 1e6 + 0.5) / 1e6 AS containment_a
      |FROM pair p JOIN cnt ca ON ca.source = p.src_a""".stripMargin

  // ---- A13: HLL vocabulary profile -------------------------------------

  /** A13 — per-source vocabulary profile: exact distinct tokens next to
    * the HLL++ sketch estimate (✖est: sketch bits are engine-specific;
    * the ≤5% relative-error bound is spec-pinned; the exact columns are
    * covered by the a7/x-family oracles). */
  private def a13VocabProfile: Q = (s, d) =>
    graft.scale.TextAnalysis.vocabProfile(Tables.documents(s, d), "text", "source")

  // ---- S6: embedding covariance + PCA whitening ------------------------

  /** S6a — exact covariance table of the embedding matrix (the input to
    * PCA): one row per dimension pair i ≤ j. Coordinates quantize to 6
    * decimals and accumulate in exact decimal, so both engines see
    * bit-identical sums (see [[graft.scale.Similarity.covarianceMoments]]). */
  private def s6EmbedCov: Q = (s, d) =>
    graft.scale.Similarity.covarianceMoments(Tables.embeddings(s, d), "embedding", dim = 64)
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
              Det.dround(col("cov"), 6).as("cov"))

  private val s6CovSql =
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x ->
       |      CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6))) AS q
       |  FROM embeddings WHERE len(embedding) = 64),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
       |idx AS (SELECT unnest(generate_series(1, 64)) AS i),
       |g AS (SELECT e.vec_id, idx.i, e.q[idx.i] AS x FROM e CROSS JOIN idx),
       |m AS (SELECT i, CAST(sum(x) AS DOUBLE) AS s FROM g GROUP BY i),
       |p AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS DOUBLE) AS sp
       |      FROM g a JOIN g b ON a.vec_id = b.vec_id AND a.i <= b.i
       |      GROUP BY a.i, b.i)
       |SELECT CAST(p.i AS BIGINT) AS i, CAST(p.j AS BIGINT) AS j,
       |  ${Det.droundSql("sp / nn.n - (mi.s / nn.n) * (mj.s / nn.n)", 6)} AS cov
       |FROM p JOIN m mi ON mi.i = p.i JOIN m mj ON mj.i = p.j CROSS JOIN nn""".stripMargin

  /** S6b — PCA whitening check: per-component variance of the whitened
    * 8-dim projection (≈ 1.0 by construction; ✖est — eigenvectors are
    * not SQL-replayable; identity-covariance property is spec-pinned). */
  private def s6PcaWhiten: Q = (s, d) =>
    graft.scale.Similarity.pcaWhiten(Tables.embeddings(s, d), "embedding", "vec_id", k = 8)
      .select(posexplode(col("proj")).as(Seq("comp", "x")))
      .groupBy((col("comp") + 1).cast("long").as("comp"))
      .agg(Det.dround(avg(col("x") * col("x")) - avg(col("x")) * avg(col("x")), 4)
             .as("variance"),
           count(lit(1)).as("n"))

  // ---- SM9: CCNet perplexity tiers -------------------------------------

  /** SM9 — CCNet head/middle/tail split by unigram-LM score (topV=20 as
    * x11, ⅓/⅔ ORDER-STATISTIC cuts — the ⌈n/3⌉-th/⌈2n/3⌉-th smallest
    * score, values present in the data so both engines agree exactly —
    * tiered keep at 1000/500/100‰ by the id-mod rule). Per-tier totals +
    * kept counts, fully SQL-replayable. */
  private def sm9Tiers: Q = (s, d) =>
    graft.scale.TextAnalysis.qualityTiers(Tables.documents(s, d), "text", "doc_id",
        topV = 20)
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n"),
           sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))

  private val sm9Sql =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |c AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
       |top AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok ASC LIMIT 20),
       |t AS (SELECT CAST((SELECT sum(cnt) FROM c) AS DOUBLE) AS n,
       |             CAST((SELECT count(*) FROM top) AS DOUBLE) AS v,
       |             CAST((SELECT sum(cnt) FROM c) AS DOUBLE)
       |               - CAST((SELECT sum(cnt) FROM top) AS DOUBLE) AS oov),
       |s AS (SELECT doc_id,
       |        ln((coalesce(top.cnt, t.oov) + 0.5) / (t.n + 0.5 * (t.v + 1))) AS logp
       |      FROM toks LEFT JOIN top USING (tok) CROSS JOIN t),
       |sc AS (SELECT doc_id, ${Det.droundSql("avg(logp)", 4)} AS score
       |       FROM s GROUP BY doc_id),
       |-- order-statistic cuts (⌈n/3⌉-th / ⌈2n/3⌉-th smallest score):
       |-- values PRESENT in the data, so both engines agree bit-for-bit
       |ranked AS (SELECT score, row_number() OVER (ORDER BY score) AS r,
       |                  count(*) OVER () AS n
       |           FROM sc),
       |cut AS (SELECT
       |    (SELECT score FROM ranked WHERE r = CAST(ceil(n/3.0) AS BIGINT) LIMIT 1) AS c33,
       |    (SELECT score FROM ranked WHERE r = CAST(ceil(2.0*n/3.0) AS BIGINT) LIMIT 1) AS c66),
       |tiered AS (SELECT doc_id, score,
       |    CASE WHEN score >= c66 THEN 'head'
       |         WHEN score >= c33 THEN 'middle'
       |         ELSE 'tail' END AS tier
       |  FROM sc CROSS JOIN cut)
       |SELECT tier, count(*) AS n,
       |  CAST(sum(CASE WHEN doc_id % 1000 <
       |        (CASE tier WHEN 'head' THEN 1000 WHEN 'middle' THEN 500 ELSE 100 END)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM tiered GROUP BY tier""".stripMargin

  // ---- ST: streaming online per-series forecast (batch twin) -----------

  /** ST_FORECAST — one-step-ahead expanding-OLS trend forecast for every
    * event (the deterministic batch twin of
    * [[graft.streaming.OnlineForecast.forecast]]; the streaming form is
    * spec-pinned to agree with this on any in-order micro-batch split).
    * Both engines accumulate the running sums in the same (ts, event_id)
    * order; dround(4) absorbs window-aggregation-tree ulp amplified by the
    * slope cancellation. */
  private def stForecast: Q = (s, d) =>
    graft.streaming.OnlineForecast.expandingTrendBatch(
        Tables.events(s, d), "value", "ts", Seq("user_id"), Seq("event_id"))
      .select(col("event_id"), col("user_id"),
              Det.dround(col("yhat"), 4).as("yhat"))

  private val stForecastSql =
    s"""WITH r AS (SELECT event_id, user_id, value,
       |             row_number() OVER w AS rn
       |           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |s AS (SELECT event_id, user_id, rn,
       |        CAST(sum(CAST(${Det.droundSql("value", 2)} AS DECIMAL(18,2))) OVER pw AS DOUBLE) AS sy,
       |        CAST(sum(CAST(${Det.droundSql("value", 2)} AS DECIMAL(18,2)) * rn) OVER pw AS DOUBLE) AS sty
       |      FROM r WINDOW pw AS (PARTITION BY user_id ORDER BY rn
       |                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |f AS (SELECT event_id, user_id, rn, sy, sty,
       |        CAST(rn - 1 AS DOUBLE) AS n,
       |        (rn - 1) * rn / 2.0 AS st,
       |        (rn - 1) * rn * (2 * rn - 1) / 6.0 AS stt
       |      FROM s),
       |g AS (SELECT event_id, user_id, rn, sy, st, n,
       |        (n * sty - st * sy) / (n * stt - st * st) AS slope
       |      FROM f)
       |SELECT event_id, user_id,
       |  CASE WHEN rn = 1 THEN NULL
       |       WHEN rn = 2 THEN ${Det.droundSql("sy", 4)}
       |       ELSE ${Det.droundSql("(sy - slope * st) / n + slope * CAST(rn AS DOUBLE)", 4)}
       |  END AS yhat
       |FROM g""".stripMargin

  // ---- SM8: DSIR importance-resampling scores --------------------------

  /** SM8 — DSIR log importance weights (Xie et al. 2023): every raw doc
    * (source ≠ src0) scored against the src0 target distribution under
    * hashed unigram+bigram bag-of-ngrams models, 1024 buckets. The md5
    * bucket hash is engine-portable, so the whole model — counts,
    * smoothing, log-ratio, per-doc sum — is replayed in SQL. */
  private def sm8Dsir: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Sampling.dsirLogWeights(docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), "text", "doc_id", buckets = 1024)
      .select(col("fid").as("doc_id"), Det.dround(col("logw"), 4).as("logw"),
              col("n_feats"))
  }

  private val sm8Sql = {
    val bigrams = "list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])"
    val bucket = "('0x' || substr(md5(f), 1, 4))::BIGINT % 1024"
    s"""WITH tw AS (SELECT string_split(text, ' ') AS w FROM documents WHERE source = 'src0'),
       |tf AS (SELECT unnest(list_concat(w, $bigrams)) AS f FROM tw),
       |tb AS (SELECT $bucket AS b FROM tf),
       |tc AS (SELECT b, count(*) AS tc FROM tb GROUP BY b),
       |rw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE source <> 'src0'),
       |rf AS (SELECT doc_id, unnest(list_concat(w, $bigrams)) AS f FROM rw),
       |rb AS (SELECT doc_id, $bucket AS b FROM rf),
       |rc AS (SELECT b, count(*) AS rc FROM rb GROUP BY b),
       |t AS (SELECT CAST((SELECT count(*) FROM tb) AS DOUBLE) AS tn,
       |             CAST((SELECT count(*) FROM rb) AS DOUBLE) AS rn),
       |sp AS (SELECT unnest(generate_series(0, 1023)) AS b),
       |lr AS (SELECT sp.b,
       |         ln((coalesce(tc.tc, 0) + 0.5) / (t.tn + 512.0))
       |         - ln((coalesce(rc.rc, 0) + 0.5) / (t.rn + 512.0)) AS lw
       |       FROM sp LEFT JOIN tc USING (b) LEFT JOIN rc USING (b) CROSS JOIN t)
       |SELECT doc_id, ${Det.droundSql("sum(lw)", 4)} AS logw, count(*) AS n_feats
       |FROM rb JOIN lr USING (b) GROUP BY doc_id""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "sm7_temperature"    -> sm7Temperature,
    "d10_decontam_bloom" -> d10DecontamBloom,
    "pipe1_curation"     -> pipe1Curation,
    "x13_quality_lr"     -> x13QualityLr,
    "d11_cosine_lsh"     -> d11CosineLsh,
    "d12_semdedup"       -> d12SemDedup,
    "d13_span_dedup"     -> d13SpanDedup,
    "d14_span_strip"     -> d14SpanStrip,
    "sm8_dsir"           -> sm8Dsir,
    "sm9_ppl_tiers"      -> sm9Tiers,
    "st_forecast"        -> stForecast,
    "s6_embed_cov"       -> s6EmbedCov,
    "s6_pca_whiten"      -> s6PcaWhiten,
    "pipe2_pretrain"     -> pipe2Pretrain,
    "a13_vocab_profile"  -> a13VocabProfile,
    "x14_normalize"      -> x14Normalize,
    "a14_rollup"         -> a14Rollup,
    "x15_entropy"        -> x15Entropy,
    "s7_bm25"            -> s7Bm25,
    "sm10_waterfill"     -> sm10Waterfill,
    "d15_overlap"        -> d15Overlap,
    "x16_bigram_lm"      -> x16BigramLm,
    "s8_int8"            -> s8Int8,
    "s9_matryoshka"      -> s9Matryoshka,
    "t16_anomaly"        -> t16Anomaly,
    "t17_cusum"          -> t17Cusum,
    "st_topk"            -> stTopK,
    "f7_theta"           -> f7Theta,
    "a15_psi"            -> a15Psi,
    "a16_ks"             -> a16Ks,
    "sm11_shuffle"       -> sm11Shuffle,
    "sm12_group_split"   -> sm12GroupSplit,
    "t18_seasonal"       -> t18Seasonal,
    "a17_ccf"            -> a17Ccf,
    "a18_funnel"         -> a18Funnel,
    "a19_retention"      -> a19Retention,
    "f8_croston"         -> f8Croston,
    "t19_decompose"      -> t19Decompose,
    "st_zscore"          -> stZscore,
    "st_drift"           -> stDrift,
    "f9_holt"            -> f9Holt,
    "f9_holt0"           -> f9Holt0,
    "f10_backtest"       -> f10Backtest,
    "f24_winner_rt"      -> f24WinnerRt,
    "t20_sbc"            -> t20Sbc,
    "a20_incremental"    -> a20Incremental,
    "x17_typos"          -> x17Typos,
    "a21_chi2"           -> a21Chi2,
    "sm13_weighted"      -> sm13Weighted,
    "a22_transitions"    -> a22Transitions,
    "a23_gaps"           -> a23Gaps,
    "f11_hw"             -> f11Hw,
    "f11_hw0"            -> f11Hw0,
    "x18_bpe_pairs"      -> x18BpePairs,
    "x19_bpe_merges"     -> x19BpeMerges,
    "a24_mase"           -> a24Mase,
    "a25_calibration"    -> a25Calibration,
    "pipe3_forecast"     -> pipe3Forecast,
    "pipe3_zoo"          -> pipe3Zoo,
    "f12_rolling_cv"     -> f12RollingCv,
    "t22_time_window"    -> t22TimeWindow,
    "a26_trend_strength" -> a26TrendStrength,
    "j7_range_join"      -> j7RangeJoin,
    "e7_target_encode"   -> e7TargetEncode,
    "st_hw"              -> stHw,
    "a27_acf_series"     -> a27AcfSeries,
    "sm14_cluster_split" -> sm14ClusterSplit,
    "a28_auc"            -> a28Auc,
    "mm6_phash"          -> mm6Phash,
    "d16_phash_pairs"    -> d16PhashPairs,
    "a29_gains"          -> a29Gains,
    "x20_bpe_tokens"     -> x20BpeTokens,
    "d17_sem_decontam"   -> d17SemDecontam,
    "pipe4_image"        -> pipe4Image,
    "a30_rfm"            -> a30Rfm,
    "j8_semi_anti"       -> j8SemiAnti,
    "t23_fourier"        -> t23Fourier,
    "x21_lang_confusion" -> x21LangConfusion
  )

  val oracle: Map[String, String] = Map(
    "sm9_ppl_tiers"   -> sm9Sql,
    "s6_embed_cov"    -> s6CovSql,
    "pipe2_pretrain"  -> pipe2Sql,
    "x14_normalize"   -> x14Sql,
    "a14_rollup"      -> a14Sql,
    "x15_entropy"     -> x15Sql,
    "s7_bm25"         -> s7Sql,
    "sm10_waterfill"  -> sm10Sql,
    "d15_overlap"     -> d15Sql,
    "x16_bigram_lm"   -> x16Sql,
    "s8_int8"         -> s8Sql,
    "s9_matryoshka"   -> s9Sql,
    "t16_anomaly"     -> t16Sql,
    "t17_cusum"       -> t17Sql,
    "st_topk"         -> stTopKSql,
    "f7_theta"        -> f7Sql,
    "a15_psi"         -> a15Sql,
    "a16_ks"          -> a16Sql,
    "sm11_shuffle"    -> sm11Sql,
    "sm12_group_split" -> sm12Sql,
    "t18_seasonal"    -> t18Sql,
    "a17_ccf"         -> a17Sql,
    "a18_funnel"      -> a18Sql,
    "a19_retention"   -> a19Sql,
    "f8_croston"      -> f8Sql,
    "t19_decompose"   -> t19Sql,
    "st_zscore"       -> stZscoreSql,
    "st_drift"        -> stDriftSql,
    "f9_holt0"        -> f9Holt0Sql,
    "f10_backtest"    -> f10Sql,
    "f24_winner_rt"   -> f24Sql,
    "t20_sbc"         -> t20Sql,
    "a20_incremental" -> a20Sql,
    "x17_typos"       -> x17Sql,
    "a21_chi2"        -> a21Sql,
    "sm13_weighted"   -> sm13Sql,
    "a22_transitions" -> a22Sql,
    "a23_gaps"        -> a23Sql,
    "st_forecast"     -> stForecastSql,
    "sm7_temperature" -> sm7Sql,
    "pipe1_curation"  -> pipe1Sql,
    "d13_span_dedup"  -> d13Sql,
    "d14_span_strip"  -> d14Sql,
    "sm8_dsir"        -> sm8Sql,
    "f11_hw0"         -> f11Hw0Sql,
    "x18_bpe_pairs"   -> x18Sql,
    "a24_mase"        -> a24Sql,
    "a25_calibration" -> a25Sql,
    "pipe3_forecast"  -> pipe3Sql,
    "pipe3_zoo"       -> pipe3ZooSql,
    "f12_rolling_cv"  -> f12Sql,
    "t22_time_window" -> t22Sql,
    "a26_trend_strength" -> a26Sql,
    "j7_range_join"   -> j7Sql,
    "e7_target_encode" -> e7Sql,
    "a27_acf_series"  -> a27Sql,
    "sm14_cluster_split" -> sm14Sql,
    "a28_auc"         -> a28Sql,
    "mm6_phash"       -> mm6Sql,
    "d16_phash_pairs" -> d16Sql,
    "a29_gains"       -> a29Sql,
    "d17_sem_decontam" -> d17Sql,
    "pipe4_image"     -> pipe4Sql,
    "a30_rfm"         -> a30Sql,
    "j8_semi_anti"    -> j8Sql,
    "t23_fourier"     -> t23Sql,
    "x21_lang_confusion" -> x21Sql,
    "x19_bpe_merges"  -> BpeSql.mergesSql(6),
    "x20_bpe_tokens"  -> BpeSql.tokenCountsSql(6, 20)
  )
}
