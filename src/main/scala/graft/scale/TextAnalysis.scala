package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for corpus pipelines (north star): token
  * counting, quality scoring, language ID, document fingerprinting.
  * Everything is a codegen'd column expression — no UDFs in the hot
  * path; one full-scan, no shuffle until the final aggregate. */
object TextAnalysis {

  /** Tokens on single spaces (the corpus is single-spaced; a BPE-ish
    * regex variant is provided for rougher text). */
  def tokens(textCol: Column): Column = split(textCol, " ")

  /** Whitespace+punctuation regex tokenization (BPE-ish pre-tokenizer). */
  def tokensRegex(textCol: Column): Column =
    split(regexp_replace(textCol, "([.,!?;:])", " $1 "), "\\s+")

  /** Injection-safe query-term hit extraction: the tokens of `text`
    * that appear in `terms`, built with array_contains against a typed
    * array literal instead of a string-spliced `x IN ('a','b')` expr —
    * a term containing a quote or backslash can't break the plan. */
  private def termHits(text: Column, terms: Seq[String]): Column =
    org.apache.spark.sql.functions.filter(
      split(text, " "), x => array_contains(typedLit(terms), x))

  /** The quality/stats stopword list — single source for the Scala
    * expressions AND the DuckDB oracle twins. */
  val qualityStopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is")
  /** SQL-literal form ('the', 'a', …) shared with oracle generators. */
  def qualityStopwordsSql: String = qualityStopwords.map(s => s"'$s'").mkString(", ")

  /** Per-document stats: token count, char count, punctuation ratio,
    * stopword ratio, mean token length. */
  def docStats(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val w = tokens(t)
    val stop = qualityStopwordsSql
    df.withColumn("n_tokens", size(w).cast("long"))
      .withColumn("n_chars_obs", length(t).cast("long"))
      .withColumn("punct_ratio",
        (length(t) - length(regexp_replace(t, "[.,!?;:]", ""))).cast("double") / length(t))
      .withColumn("stopword_ratio",
        expr(s"size(filter(split($textCol, ' '), x -> x IN ($stop)))").cast("double") /
          size(w))
      .withColumn("mean_token_len",
        expr(s"aggregate(transform(split($textCol, ' '), x -> length(x)), CAST(0 AS BIGINT), (a, x) -> a + x)")
          .cast("double") / size(w))
  }

  /** Quality score in [0,1]: long enough, low punctuation noise, sane
    * stopword share (the reference-style heuristic battery). */
  def qualityScore(df: DataFrame, textCol: String): DataFrame =
    docStats(df, textCol).withColumn("quality",
      (when(col("n_tokens") >= 20, 0.4).otherwise(col("n_tokens").cast("double") / 50) +
       when(col("punct_ratio") <= 0.1, 0.3).otherwise(0.0) +
       when(col("stopword_ratio").between(0.05, 0.6), 0.3).otherwise(0.0)))

  /** Repetition filters — the Gopher-style quality family (Rae et al.
    * 2021, "Scaling Language Models", Table A1: documents dominated by a
    * repeated n-gram are removed before training), adapted to token
    * streams: per document,
    *  - `top_token_frac`  — occurrences of the most frequent token / n,
    *  - `top_bigram_frac` — occurrences of the most frequent word bigram
    *    / total bigrams (Gopher's top-2-gram fraction),
    *  - `dup_trigram_frac` — fraction of trigram OCCURRENCES that are
    *    repeats, 1 − distinct/total (occurrence form of Gopher's
    *    duplicated-3-gram character fraction),
    * plus a `keep` flag at the given thresholds.
    *
    * 100-TB shape: every statistic is an array higher-order expression
    * over the in-row token list — pure map-side, ZERO shuffle, stays
    * inside whole-stage codegen. The top-gram count is computed as the
    * longest equal-run of the SORTED gram array (one `array_sort` +
    * one linear `aggregate` pass, O(n log n) per document) rather than
    * the naive distinct×n scan — on long documents with wide
    * vocabularies that difference is 100×, and it also bounds the
    * re-evaluation cost when Catalyst inlines an expensive upstream
    * text expression (e.g. a span-stripped rebuild) into the gram
    * arrays. */
  def repetitionStats(df: DataFrame, textCol: String, idCol: String,
                      maxTopBigram: Double = 0.18,
                      maxDupTrigram: Double = 0.30): DataFrame =
    withRepetitionStats(df.select(col(idCol), col(textCol)), textCol,
      maxTopBigram, maxDupTrigram).drop(textCol)

  /** Column-preserving form of [[repetitionStats]]: appends
    * (n_tokens, top_token_frac, top_bigram_frac, dup_trigram_frac,
    * keep) to the input columns — lets a fused pipeline gate on `keep`
    * WITHOUT the id self-join that would recompute the upstream plan
    * twice (the shape [[Curation.pretrainPrep]] needs). */
  def withRepetitionStats(df: DataFrame, textCol: String,
                          maxTopBigram: Double = 0.18,
                          maxDupTrigram: Double = 0.30): DataFrame = {
    def grams(n: Int): String = {
      val parts = (0 until n).map(j => s"w[i + $j]").mkString(", ")
      s"CASE WHEN size(w) >= $n THEN transform(sequence(0, size(w) - $n), i -> concat_ws(' ', $parts)) ELSE array() END"
    }
    // max occurrence count of any element == longest equal-run of the
    // SORTED array: one pass with (prev, run, best) carried through
    // aggregate. `arr` must be a cheap reference (lambda variable /
    // struct field), referenced 3×.
    def topFrac(arr: String): String =
      s"""CASE WHEN size($arr) > 0 THEN
            CAST(aggregate(array_sort($arr),
              named_struct('prev', CAST(NULL AS STRING),
                           'run',  CAST(0 AS BIGINT),
                           'best', CAST(0 AS BIGINT)),
              (acc, x) -> named_struct(
                'prev', x,
                'run',  IF(x <=> acc.prev, acc.run + 1, CAST(1 AS BIGINT)),
                'best', greatest(acc.best,
                          IF(x <=> acc.prev, acc.run + 1, CAST(1 AS BIGINT)))),
              acc -> acc.best) AS DOUBLE) / size($arr)
          ELSE 0.0 END"""
    // Evaluation discipline, load-bearing at scale: textCol may itself be
    // an EXPENSIVE derived expression (pipe2 feeds the span-stripped text
    // rebuild in here), and HOFs are CodegenFallback — excluded from
    // Spark's per-project subexpression elimination — so any column
    // referenced twice across collapsed projections is re-EVALUATED
    // twice (measured: 27 inlined copies of the span rebuild, 30× slower
    // pipe2). Two mechanisms fix it structurally: (a) lambda variables
    // are true let-bindings — `transform(array(X), w -> f(w))` evaluates
    // X once no matter how often f references w; (b) the stats are
    // emitted through an `inline()` GENERATOR, whose outputs are
    // materialized attributes that no downstream projection can inline
    // back into expression form. One pass, still zero shuffle.
    val clash = df.columns.filter(Set("n_tokens", "top_token_frac",
      "top_bigram_frac", "dup_trigram_frac", "keep").contains)
    val gen =
      s"""inline(transform(array(split($textCol, ' ')), w ->
            element_at(transform(array(named_struct('bi', ${grams(2)}, 'tri', ${grams(3)})), g ->
              named_struct(
                'n_tokens', CAST(size(w) AS BIGINT),
                'top_token_frac', ${topFrac("w")},
                'top_bigram_frac', ${topFrac("g.bi")},
                'dup_trigram_frac',
                  CASE WHEN size(g.tri) > 0 THEN
                    1.0 - CAST(size(array_distinct(g.tri)) AS DOUBLE) / size(g.tri)
                  ELSE 0.0 END)), 1)))"""
    df.drop(clash.toSeq: _*).select(col("*"), expr(gen))
      .withColumn("keep",
        (col("top_bigram_frac") <= maxTopBigram) &&
        (col("dup_trigram_frac") <= maxDupTrigram))
  }

  /** Unigram language-model quality score — the CCNet-style perplexity
    * proxy (Wenzek et al. 2020 filter corpora by LM perplexity; the
    * unigram version is the shuffle-cheap form): per document, the mean
    * log-probability of its tokens under the CORPUS unigram distribution
    * with add-α smoothing and one OOV bucket,
    *   p(w) = (count(w) + α) / (N + α·(V+1)).
    * Documents of rare/garbled vocabulary score low; formulaic
    * high-frequency text scores high — both tails are filter targets.
    *
    * Vocabulary PRUNING (the CCNet form): only the `topV` most frequent
    * tokens keep individual counts; every pruned token scores through the
    * OOV bucket, whose count is the TOTAL residual mass
    * (n − Σ top-V counts) — so probabilities still sum to ≤1 under the
    * same denominator n + α·(V+1). Top-V selection tie-breaks
    * (count desc, token asc), so the vocabulary — and thus every score —
    * is deterministic and engine-portable.
    *
    * 100-TB shape: ONE corpus-level token-count aggregation (output is
    * vocab-sized, not corpus-sized), persisted and reduced twice — a
    * TakeOrdered(topV) for the vocabulary and a 1-row total — so the
    * corpus is scanned exactly once. Driver memory is bounded by topV
    * rows (default 100k ≈ a few MB), NOT by the corpus's distinct-token
    * count, which on raw web text is unbounded. The broadcast vocabulary
    * joins back to the exploded tokens map-side; the per-doc mean is a
    * partial agg keyed by the doc id. Same shuffle budget as TF-IDF. */
  def unigramLogProb(df: DataFrame, textCol: String, idCol: String,
                     alpha: Double = 0.5, topV: Int = 100000): DataFrame = {
    val spark = df.sparkSession
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val countsDf = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    countsDf.persist()
    try {
      // bounded collects: topV rows + one totals row
      val topRows = countsDf.orderBy(col("cnt").desc, col("tok").asc)
        .limit(topV).collect()
      if (topRows.isEmpty)
        return df.limit(0).select(col(idCol),
          lit(0.0).as("mean_logp"), lit(0L).as("n_tokens"))
      val keptMass = topRows.map(_.getLong(1)).sum
      // vocab smaller than topV ⇒ nothing was pruned: the top rows ARE the
      // whole count table, so n needs no second aggregation job
      val n = if (topRows.length < topV) keptMass
              else countsDf.agg(sum(col("cnt")).as("n")).collect()(0).getLong(0)
      val v = topRows.length.toLong // min(topV, |vocab|)
      val oovMass = n - keptMass
      val denom = n + alpha * (v + 1)
      import spark.implicits._
      val vocab = topRows.map(x => (x.getString(0), x.getLong(1))).toSeq
        .toDF("tok", "cnt")
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .withColumn("logp",
          log((coalesce(col("cnt"), lit(oovMass)) + lit(alpha)) / lit(denom)))
        .groupBy(col(idCol))
        .agg(avg(col("logp")).as("mean_logp"), count(lit(1)).as("n_tokens"))
    } finally countsDf.unpersist()
  }

  /** Language-ID heuristic: stopword-hit voting over 5 built-in lists.
    * Deterministic tie-break: higher hits, then alphabetical language. */
  val stopwordLists: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "auf", "für"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "pour", "que", "une", "dans"),
    "es" -> Seq("el", "la", "los", "que", "es", "por", "con", "para", "una", "del"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不", "这", "他"))

  def languageId(df: DataFrame, textCol: String): DataFrame = {
    val hitCols = stopwordLists.toSeq.sortBy(_._1).map { case (lang, words) =>
      val list = words.map(s => s"'$s'").mkString(", ")
      expr(s"size(filter(split(lower($textCol), ' '), x -> x IN ($list)))").as(s"hits_$lang")
    }
    val withHits = df.select((df.columns.toSeq.map(col) ++ hitCols): _*)
    val langs = stopwordLists.keys.toSeq.sorted
    // argmax with (hits desc, lang asc) tie-break via array_min of structs
    withHits.withColumn("pred_lang", expr(
      "array_min(" + langs.map(l => s"named_struct('neg', -hits_$l, 'lang', '$l')")
        .mkString("array(", ", ", ")") + ").lang"))
      .drop(langs.map(l => s"hits_$l"): _*)
  }

  /** Pattern redaction (PII scrubbing shape): replace every match of
    * `pattern` with `replacement` and count the hits. One codegen'd
    * projection — no shuffle; the pattern must stay in the portable
    * Java∩RE2 subset (no backrefs/lookahead) so the same regex runs in
    * any engine. */
  def redact(df: DataFrame, textCol: String, pattern: String,
             replacement: String): DataFrame =
    df.withColumn("clean_text", regexp_replace(col(textCol), pattern, replacement))
      .withColumn("n_hits",
        size(regexp_extract_all(col(textCol), lit(pattern), lit(0))).cast("long"))

  /** Top-k adjacent-token bigrams across the corpus. Bigram generation is
    * a per-row array transform (map-side, codegen'd); one shuffle for the
    * count; top-k via TakeOrderedAndProject (no global sort). Ties break
    * deterministically on the bigram text. */
  def topBigrams(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(tokens(col(textCol)).as("w"))
      .select(explode(when(size(col("w")) >= 2,
          expr("transform(sequence(1, size(w)-1), " +
               "i -> concat(element_at(w, i), ' ', element_at(w, i+1)))"))
        .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(k)

  /** Top-k distinctive terms per group (e.g. per language) by TF-IDF:
    * tf(t,g) = occurrences of t in group g's corpus, df(t) = number of
    * groups containing t, score = tf·ln(G/df). Three shuffles, each on a
    * progressively smaller table: the (group, term) count (map-side
    * combine over the exploded tokens — the only corpus-sized pass), a
    * term-partitioned window for df over the aggregated counts, and the
    * per-group top-k window. Ranking uses the deterministically-rounded
    * score (ties → tf desc, term asc) so the ordering is engine-portable;
    * df=G terms score exactly 0 in any libm (ln(1) = 0). */
  def tfidfTopTerms(df: DataFrame, textCol: String, groupCol: String,
                    k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // no Par.widen here: tokenize+count is light per row — measured at
    // sf0.1, the widening exchange costs more than the single-task scan
    // (+0.25s); the first aggregation's exchange parallelizes the rest
    val tf = df.select(col(groupCol).as("g"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("g"), col("term")).agg(count(lit(1)).as("tf"))
    // group count from the aggregated table, not the corpus — the corpus
    // is scanned exactly once (every token row yields ≥1 tf row per
    // group, so the group sets are identical)
    val nG = tf.agg(countDistinct(col("g")).as("n_g"))
    val scored = tf
      .withColumn("df_g", count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(nG))
      .withColumn("score",
        floor(col("tf") * log(col("n_g").cast("double") / col("df_g")) * lit(1e6) + lit(0.5)) / lit(1e6))
    val rank = Window.partitionBy(col("g"))
      .orderBy(col("score").desc, col("tf").desc, col("term").asc)
    scored.withColumn("rn", row_number().over(rank))
      .filter(col("rn") <= k)
      .select(col("g"), col("term"), col("tf"), col("df_g"), col("score"), col("rn"))
  }

  /** Document fingerprint: 31-ary polynomial rolling hash over the first
    * 64 characters, mod 2^31-1 at each step (overflow-free, bit-identical
    * in any engine with BIGINT arithmetic). */
  def fingerprint(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("fingerprint", expr(
      s"aggregate(transform(sequence(1, 64), i -> CAST(ascii(substring($textCol, i, 1)) AS BIGINT)), " +
      "CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + c) % 2147483647)"))

  /** Canonical text normalization — the first stage of every web-corpus
    * pipeline (lowercase, strip non-alphanumeric punctuation to spaces,
    * collapse whitespace runs, trim). The character class is restricted
    * to the Java∩RE2 portable subset (same discipline as [[redact]]) so
    * the DuckDB oracle replays it verbatim. Pure map-side expressions —
    * zero shuffle at any scale. Returns the input plus
    * (norm_text, n_chars_raw, n_chars_norm). */
  def normalize(df: DataFrame, textCol: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", " "), "  +", " "))
    df.withColumn("norm_text", norm)
      .withColumn("n_chars_raw", length(col(textCol)).cast("long"))
      .withColumn("n_chars_norm", length(col("norm_text")).cast("long"))
  }

  /** Per-group vocabulary profile with an HLL scale path: token count,
    * EXACT distinct-token count (the oracle-checkable twin), and the
    * HyperLogLog++ approximation (`approx_count_distinct`, rsd 2%).
    * At 100 TB the exact count is a full distinct shuffle of the token
    * stream; the sketch aggregates map-side into a fixed-size register
    * set per group — this pairing is the same exact/approx duality as
    * `Quantiles.exact/approx`, applied to cardinality profiling
    * (distinct tokens/URLs/hashes per source is a standard corpus-audit
    * metric). Returns (group, n_tokens, vocab_exact, vocab_hll). */
  def vocabProfile(df: DataFrame, textCol: String, groupCol: String,
                   rsd: Double = 0.02): DataFrame =
    df.select(col(groupCol).as("g"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_tokens"),
           countDistinct(col("tok")).as("vocab_exact"),
           approx_count_distinct(col("tok"), rsd).as("vocab_hll"))

  /** CCNet head/middle/tail perplexity tiers (Wenzek et al. 2020 §4.3:
    * split the corpus into thirds by LM score, keep the head, downsample
    * the rest). Scores come from [[unigramLogProb]] rounded to 4 decimals
    * (engine-stable), tier cuts are the ⅓/⅔ percentiles of that score,
    * and the tiered keep is the deterministic id-mod rule at the given
    * permille per tier. Returns (id, score, tier, kept).
    *
    * The cuts are ORDER STATISTICS, not interpolated percentiles: c33 is
    * the ⌈n/3⌉-th smallest score, c66 the ⌈2n/3⌉-th. An interpolated cut
    * lies between two grid scores and its value depends on the engine's
    * float arithmetic (the r10 `sm9_ppl_tiers` hash-red was exactly this:
    * Spark `percentile` vs DuckDB `quantile_cont` disagreed in the last
    * ulp and boundary docs flipped tiers); an order statistic is a value
    * PRESENT in the data, identical on any engine by construction.
    *
    * Scale: `exactCuts=true` (the oracle form) computes the k-th smallest
    * via a cumulative sum over the grouped (score → count) table — scores
    * live on a 1e-4 grid, so that table is bounded (≲ a few hundred
    * thousand rows at any corpus size) and the single-task window over it
    * is safe; the corpus itself is never globally sorted. `exactCuts=
    * false` swaps in the t-digest `approx_percentile` sketch (bounded
    * memory, no reduced table), keeping everything else identical. Either
    * way the cuts are TWO numbers broadcast back — the percentile-
    * threshold form of CCNet's split, not an ntile over one partition. */
  def qualityTiers(df: DataFrame, textCol: String, idCol: String,
                   topV: Int = 100000,
                   permille: (Int, Int, Int) = (1000, 500, 100),
                   alpha: Double = 0.5,
                   exactCuts: Boolean = true): DataFrame = {
    val scores = unigramLogProb(df, textCol, idCol, alpha, topV)
      .withColumn("score", floor(col("mean_logp") * lit(1e4) + lit(0.5)) / lit(1e4))
    val cuts =
      if (exactCuts) {
        // k-th-smallest over the bounded grouped-score table: cum counts
        // ascending by score, then the first score whose cumulative count
        // reaches ⌈n/3⌉ / ⌈2n/3⌉. ceil over doubles is exact for any
        // count below 2^52.
        import org.apache.spark.sql.expressions.Window
        val grouped = scores.groupBy(col("score")).agg(count(lit(1)).as("c"))
        val cum = grouped.withColumn("cum", sum(col("c")).over(
          Window.orderBy(col("score"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        cum.crossJoin(broadcast(cum.agg(sum(col("c")).as("n"))))
          .agg(min(when(col("cum") >= ceil(col("n") / lit(3.0)), col("score")))
                 .as("c33"),
               min(when(col("cum") >= ceil(col("n") * lit(2.0) / lit(3.0)), col("score")))
                 .as("c66"))
      } else
        scores.agg(expr(
            "approx_percentile(score, array(CAST(1.0 AS DOUBLE)/3.0, CAST(2.0 AS DOUBLE)/3.0), 10000)")
            .as("cuts"))
          .select(col("cuts")(0).as("c33"), col("cuts")(1).as("c66"))
    val rate = when(col("tier") === "head", lit(permille._1))
      .when(col("tier") === "middle", lit(permille._2))
      .otherwise(lit(permille._3))
    scores.crossJoin(broadcast(cuts))
      .withColumn("tier",
        when(col("score") >= col("c66"), "head")
          .when(col("score") >= col("c33"), "middle")
          .otherwise("tail"))
      .withColumn("kept", pmod(col(idCol), lit(1000)) < rate)
      .select(col(idCol), col("score"), col("tier"), col("kept"))
  }

  /** Bigram language-model quality score with Stupid Backoff (Brants et
    * al. 2007, "Large Language Models in Machine Translation": the
    * count-ratio score S(v|u) = c(u,v)/c(u) when the bigram is known,
    * else λ·S(v) — no normalization, which is exactly why it scales).
    * The unigram leg reuses [[unigramLogProb]]'s pruned-vocabulary
    * discipline: top-V tokens keep counts, everything else scores
    * through the OOV mass bucket with add-α smoothing. Bigrams are
    * pruned to the top-B pairs BOTH of whose tokens are in-vocabulary
    * (count desc, pair asc — deterministic). Per document the score is
    * the mean log-prob over all n positions: position 1 by the unigram
    * leg, positions ≥ 2 by S(v|u).
    *
    * 100-TB shape: two bounded driver collects (top-V + top-B rows — the
    * same contract as [[unigramLogProb]], NOT the full vocabulary),
    * broadcast back as lookup tables with the log-ratios precomputed;
    * the corpus side is one map-side pair explode, one pair-count
    * shuffle for the model build, and a map-side broadcast join for
    * scoring. Returns (idCol, mean_logp, n_tokens). */
  def bigramLogProb(df: DataFrame, textCol: String, idCol: String,
                    alpha: Double = 0.5, topV: Int = 100000,
                    topB: Int = 200000, backoff: Double = 0.4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val w = df.select(col(idCol), tokens(col(textCol)).as("w"))
    val toks = w.select(col(idCol), explode(col("w")).as("tok"))
    val uc = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    uc.persist()
    try {
      val topRows = uc.orderBy(col("cnt").desc, col("tok").asc).limit(topV).collect()
      if (topRows.isEmpty)
        return df.limit(0).select(col(idCol),
          lit(0.0).as("mean_logp"), lit(0L).as("n_tokens"))
      val vocab = topRows.map(r => r.getString(0) -> r.getLong(1)).toMap
      val keptMass = topRows.map(_.getLong(1)).sum
      val n = if (topRows.length < topV) keptMass
              else uc.agg(sum(col("cnt"))).collect()(0).getLong(0)
      val v = topRows.length.toLong
      val oovMass = n - keptMass
      val denom = n + alpha * (v + 1)
      val pairs = w.filter(size(col("w")) >= 2)
        .select(col(idCol), explode(expr(
          "transform(sequence(2, size(w)), i -> " +
          "named_struct('u', element_at(w, i - 1), 'v', element_at(w, i)))")).as("p"))
        .select(col(idCol), col("p.u").as("u"), col("p.v").as("v"))
      val uniDf = topRows.map(r => (r.getString(0), r.getLong(1))).toSeq
        .toDF("v", "vcnt")
      // vocabulary restriction as broadcast SEMI joins (top-V rows), never
      // a 100k-element IN literal in the plan
      val bigRows = pairs.groupBy(col("u"), col("v")).agg(count(lit(1)).as("cnt"))
        .join(broadcast(uniDf.select(col("v").as("u"))), Seq("u"), "left_semi")
        .join(broadcast(uniDf.select(col("v"))), Seq("v"), "left_semi")
        .orderBy(col("cnt").desc, col("u").asc, col("v").asc).limit(topB).collect()
      val bigDf = bigRows.map { r =>
        val (u, vv, c) = (r.getAs[String]("u"), r.getAs[String]("v"), r.getAs[Long]("cnt"))
        (u, vv, math.log(c.toDouble / vocab(u)))
      }.toSeq.toDF("u", "v", "lr")
      val stream = w.filter(size(col("w")) >= 1)
        .select(col(idCol), lit(null).cast("string").as("u"),
          element_at(col("w"), 1).as("v"))
        .unionByName(pairs)
      val uniLog = log((coalesce(col("vcnt"), lit(oovMass)) + lit(alpha)) / lit(denom))
      stream
        .join(broadcast(bigDf), Seq("u", "v"), "left")
        .join(broadcast(uniDf), Seq("v"), "left")
        .withColumn("lp",
          when(col("lr").isNotNull, col("lr"))
            .when(col("u").isNull, uniLog)
            .otherwise(lit(math.log(backoff)) + uniLog))
        .groupBy(col(idCol))
        .agg(avg(col("lp")).as("mean_logp"), count(lit(1)).as("n_tokens"))
    } finally uc.unpersist()
  }

  /** Character-entropy quality gate: Shannon entropy (bits) of the
    * per-document character distribution. Gibberish and key-mash text
    * sits far from natural-language entropy (≈3.5–4.5 bits for English);
    * both tails are curation filter targets (low = repeated-char spam,
    * high = base64/binary junk).
    *
    * Shape: pure map-side — `array_sort` over the in-row char list, then
    * ONE linear `aggregate` pass accumulating Σ n_c·log2(n_c) over the
    * equal-runs (same run-length discipline as [[withRepetitionStats]];
    * never the O(distinct×n) per-char count scan). Zero shuffle.
    * Cross-engine determinism: each run's n·log2(n) term is quantized to
    * 1e-9 and summed as a BIGINT (order-free, exact), so the DuckDB
    * oracle lands on the identical grid; the closed form is then
    * H = log2(N) − (Σ n_c·log2(n_c))/N. Appends `char_entropy`
    * (6-decimal) and `n_chars_obs`. */
  def charEntropy(df: DataFrame, textCol: String): DataFrame = {
    val gen =
      s"""inline(transform(array(array_sort(filter(split($textCol, ''), c -> c <> ''))), cs ->
            element_at(transform(array(aggregate(cs,
                named_struct('prev', CAST(NULL AS STRING),
                             'run',  CAST(0 AS BIGINT),
                             'acc9', CAST(0 AS BIGINT)),
                (acc, x) -> named_struct(
                  'prev', x,
                  'run',  IF(x <=> acc.prev, acc.run + 1, CAST(1 AS BIGINT)),
                  'acc9', acc.acc9 + IF(x <=> acc.prev, CAST(0 AS BIGINT),
                            IF(acc.run > 0,
                               CAST(floor(acc.run * log2(acc.run) * 1e9 + 0.5) AS BIGINT),
                               CAST(0 AS BIGINT)))),
                acc -> acc.acc9 + IF(acc.run > 0,
                         CAST(floor(acc.run * log2(acc.run) * 1e9 + 0.5) AS BIGINT),
                         CAST(0 AS BIGINT)))), s9 ->
              named_struct(
                'n_chars_obs', CAST(size(cs) AS BIGINT),
                'char_entropy',
                  CASE WHEN size(cs) > 0 THEN
                    floor((log2(size(cs)) - (CAST(s9 AS DOUBLE) / 1e9) / size(cs)) * 1e6 + 0.5) / 1e6
                  ELSE CAST(0.0 AS DOUBLE) END)), 1)))"""
    df.select(col("*"), expr(gen))
  }

  /** BM25 lexical top-k retrieval (Robertson–Spärck Jones; the
    * `ln((N−df+0.5)/(df+0.5)+1)` idf with the k1/b length-normalized tf
    * saturation — the Lucene-default scoring Spark has no native
    * operator for). Returns (query_id, doc_id, score, rank), `k` rows
    * per query.
    *
    * 100-TB shape: the query vocabulary is a driver-side constant
    * folded into a map-side `filter` over each document's token array —
    * only QUERY-TERM HITS are exploded and shuffled (corpus text never
    * moves; a 3-term query shuffles ~3 longs per matching doc). Corpus
    * stats (N, avgdl) are a one-row aggregate cross-joined broadcast;
    * per-term df is a |terms|-row aggregate joined broadcast; the final
    * top-k is a window over the (query, hit-doc) table. Per-term scores
    * are quantized to 1e-9 and summed as BIGINT so ranking and the
    * 6-decimal reported score are bit-identical cross-engine. */
  def bm25TopK(df: DataFrame, textCol: String, idCol: String,
               queries: Seq[(Long, String)], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val qterm = queries.flatMap { case (qid, qt) => qt.split(" ").distinct.map((qid, _)) }
      .toDF("query_id", "t")
    val termList = queries.flatMap(_._2.split(" ")).distinct.sorted
    val hits = df.select(col(idCol).as("doc_id"),
        size(tokens(col(textCol))).cast("long").as("dl"),
        explode(termHits(col(textCol), termList)).as("t"))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).cast("double").as("tf"), max(col("dl")).as("dl"))
    val stats = df.agg(count(lit(1)).cast("double").as("n"),
      (sum(size(tokens(col(textCol)))).cast("double") / count(lit(1))).as("avgdl"))
    val dft = hits.groupBy(col("t")).agg(count(lit(1)).cast("double").as("df"))
    val scored = hits
      .join(broadcast(dft), Seq("t"))
      .crossJoin(broadcast(stats))
      .join(broadcast(qterm), Seq("t"))
      .withColumn("s9", floor(
        log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))) * 1e9 + 0.5)
        .cast("long"))
      .groupBy(col("query_id"), col("doc_id")).agg(sum(col("s9")).as("s9"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("s9").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"),
        (floor(col("s9") / 1e9 * 1e6 + 0.5) / 1e6).as("score"), col("rank"))
  }

  /** Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty 2001
    * — the language-modeling scorer; the probabilistic complement to
    * [[bm25TopK]]'s BM25): score(q, d) = Σ_{t∈q} ln((tf_{t,d} + µ·p(t|C))
    * / (dl_d + µ)) with collection model p(t|C) = cf_t/|C|. Candidate
    * docs are those hitting ≥ 1 query term; MISSING query terms still
    * contribute their smoothed mass (the dl-dependent zero-tf leg), so
    * candidates join the full query-term list with tf defaulted to 0.
    *
    * 100-TB shape: identical to bm25TopK — query terms are a driver-side
    * constant filter, only term hits shuffle (~16 B/hit), corpus stats
    * and per-term cf are broadcast one-row/|terms|-row aggregates, the
    * zero-tf completion is a broadcast join against the candidate set,
    * top-k is a per-query window. 1e-9-grid BIGINT score folds. */
  def qldTopK(df: DataFrame, textCol: String, idCol: String,
              queries: Seq[(Long, String)], k: Int,
              mu: Double = 2000.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val qterm = queries.flatMap { case (qid, qt) => qt.split(" ").distinct.map((qid, _)) }
      .toDF("query_id", "t")
    val termList = queries.flatMap(_._2.split(" ")).distinct.sorted
    val withDl = df.select(col(idCol).as("doc_id"),
      size(tokens(col(textCol))).cast("long").as("dl"),
      col(textCol).as("__text"))
    val hits = withDl.select(col("doc_id"), col("dl"),
        explode(termHits(col("__text"), termList)).as("t"))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).cast("double").as("tf"), max(col("dl")).as("dl"))
    val stats = withDl.agg(sum(col("dl")).cast("double").as("ctot"))
    val cf = hits.groupBy(col("t")).agg(sum(col("tf")).as("cf"))
    // candidate (query, doc) pairs: any term hit
    val cand = hits.join(broadcast(qterm), Seq("t"))
      .select(col("query_id"), col("doc_id"), col("dl")).distinct()
    val scored = cand
      .join(broadcast(qterm), Seq("query_id"))
      .join(hits.select(col("doc_id"), col("t"), col("tf")), Seq("doc_id", "t"), "left")
      .join(broadcast(cf), Seq("t"))
      .crossJoin(broadcast(stats))
      .withColumn("s9", floor(
        log((coalesce(col("tf"), lit(0.0)) + lit(mu) * col("cf") / col("ctot")) /
            (col("dl").cast("double") + lit(mu))) * 1e9 + 0.5).cast("long"))
      .groupBy(col("query_id"), col("doc_id")).agg(sum(col("s9")).as("s9"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("s9").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"),
        (floor(col("s9") / 1e9 * 1e6 + 0.5) / 1e6).as("score"), col("rank"))
  }

  /** Graded term-overlap relevance: rel(q, d) = number of DISTINCT
    * query terms present in the doc — the label-free relevance proxy
    * for ranking-quality evaluation when no editorial judgments exist.
    * Only term hits shuffle (the bm25TopK scan contract). */
  def termRelevance(df: DataFrame, textCol: String, idCol: String,
                    queries: Seq[(Long, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val qterm = queries.flatMap { case (qid, qt) => qt.split(" ").distinct.map((qid, _)) }
      .toDF("query_id", "t")
    val termList = queries.flatMap(_._2.split(" ")).distinct.sorted
    df.select(col(idCol).as("doc_id"),
        explode(termHits(col(textCol), termList)).as("t"))
      .distinct()
      .join(broadcast(qterm), Seq("t"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("rel"))
  }

  /** NDCG@k of a ranked list against a graded relevance table (Järvelin
    * & Kekäläinen 2002): DCG = Σ_{r≤k} (2^rel − 1)/log₂(r+1), normalized
    * by the ideal ordering's DCG over the SAME relevance table. The
    * 1/log₂(r+1) discounts are evaluated once driver-side on the 1e-6
    * grid and injected as literals (no libm log inside either engine);
    * gain·discount terms fold on the 1e-9 grid. Both inputs are bounded
    * (top-k lists, sparse relevance), so every join here is broadcast-
    * sized. Emits (query_id, dcg, idcg, ndcg). */
  def ndcgAtK(ranked: DataFrame, rel: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = ranked.sparkSession
    import spark.implicits._
    def r6(v: Double) = math.floor(v * 1e6 + 0.5) / 1e6
    val disc = broadcast((1 to k)
      .map(r => (r.toLong, r6(math.log(2) / math.log(r + 1.0))))
      .toDF("rank", "disc"))
    def fold(withRank: DataFrame, out: String) = withRank
      .join(disc, Seq("rank"))
      .withColumn("gain",
        pow(lit(2.0), coalesce(col("rel"), lit(0L)).cast("double")) - 1.0)
      .withColumn("t9",
        floor(col("gain") * col("disc") * lit(1e9) + lit(0.5)).cast("long"))
      .groupBy(col("query_id")).agg(sum(col("t9")).as(out))
    val dcg = fold(
      ranked.filter(col("rank") <= k)
        .join(rel, Seq("query_id", "doc_id"), "left"), "dcg9")
    val wI = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("doc_id"))
    val idcg = fold(
      rel.withColumn("rank", row_number().over(wI).cast("long"))
        .filter(col("rank") <= k), "idcg9")
    dcg.join(idcg, Seq("query_id"))
      .select(col("query_id"),
        (col("dcg9") / 1e9).as("dcg"), (col("idcg9") / 1e9).as("idcg"),
        (col("dcg9").cast("double") / col("idcg9")).as("ndcg"))
  }

  /** Reciprocal-rank fusion of two rankings (Cormack, Clarke & Büttcher
    * 2009): fused(q, d) = Σ_lists 1/(c + rank) — the standard hybrid-
    * retrieval combiner (lexical BM25 + a second scorer) that needs no
    * score calibration because it only consumes RANKS. Both inputs carry
    * (query_id, doc_id, rank); docs present in one list contribute only
    * that list's term. Determinism: each reciprocal is floored onto the
    * 1e-9 grid and folded as BIGINT, so the fused ordering and the
    * reported score are bit-identical cross-engine. Scale shape: the
    * inputs are already top-k-per-query (bounded), so the outer join and
    * the final window run on |queries|·k rows. */
  def rrfFuse(r1: DataFrame, r2: DataFrame, c: Int = 60,
              k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def leg(df: DataFrame, out: String) =
      df.select(col("query_id"), col("doc_id"),
        floor(lit(1e9) / (lit(c) + col("rank"))).cast("long").as(out))
    val fused = leg(r1, "p1").join(leg(r2, "p2"),
        Seq("query_id", "doc_id"), "full_outer")
      .withColumn("s9", coalesce(col("p1"), lit(0L)) + coalesce(col("p2"), lit(0L)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("s9").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"),
        (col("s9") / 1e9).as("rrf"), col("rank"))
  }

  /** Typo-pair mining: all corpus token pairs within edit distance 1 —
    * the vocabulary-normalization pass (fold `recieve` into `receive`)
    * a cleaning pipeline runs before counting anything token-shaped.
    *
    * SymSpell candidate generation (Garbe 2012): two tokens are within
    * edit distance 1 iff their DELETION NEIGHBORHOODS (the token plus
    * every single-character deletion) intersect — so candidates come
    * from an equi-join on deletion variants, never an all-pairs scan;
    * `levenshtein` then verifies exactly (neighborhood intersection
    * over-generates at distance 1: e.g. swapped-adjacent pairs share a
    * variant but sit at distance 2). Skew guards: tokens shorter than
    * `minLen` are dropped (their neighborhoods are dense and their
    * matches are mostly real words), and only tokens with ≥ `minCount`
    * occurrences participate (support filter — pure predicate, no
    * broadcast table).
    *
    * Shape: vocab agg (one shuffle of distinct tokens), map-side
    * variant explode (len+1 rows per token), variant equi-join,
    * verify, dedup. Pair volume is Σ|neighborhood ∩| — corpus text
    * itself never joins. */
  def typoPairs(df: DataFrame, textCol: String, idCol: String,
                minLen: Int = 4, minCount: Int = 3): DataFrame = {
    val vocab = df
      .select(explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) >= minLen)
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    val dels = vocab.select(col("tok"), col("cnt"),
      explode(expr(
        """transform(sequence(0, length(tok)), j ->
          |  CASE WHEN j = 0 THEN tok
          |       ELSE concat(substring(tok, 1, j - 1), substring(tok, j + 1)) END)
          |""".stripMargin)).as("variant"))
      .distinct()
    val right = dels.toDF("tok_b", "cnt_b", "variant")
    dels.toDF("tok_a", "cnt_a", "variant")
      .join(right, "variant")
      .filter(col("tok_a") < col("tok_b"))
      .select(col("tok_a"), col("tok_b"), col("cnt_a"), col("cnt_b")).distinct()
      .filter(levenshtein(col("tok_a"), col("tok_b")) <= 1)
  }

  /** Lower-cased word-frequency table — the structure BPE tokenizer
    * training actually consumes (Sennrich et al. 2016 learn merges over
    * the WORD-COUNT table, not the raw corpus): the corpus shuffles
    * ONCE into |vocab| rows and everything downstream operates on that
    * sublinear table. */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(lower(col(textCol)))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** Adjacent character-pair statistics — BPE merge step 1 as a single
    * declarative plan: word counts (one corpus shuffle), map-side pair
    * explode over the DISTINCT-word table (≤ len−1 rows per word), pair
    * aggregate, deterministic top-k (count desc, pair asc). The top row
    * is the first merge a BPE tokenizer trained on this corpus would
    * learn. */
  def bpePairCounts(df: DataFrame, textCol: String, k: Int): DataFrame =
    wordCounts(df, textCol).filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"),
        col("cnt"))
      .groupBy(col("pair")).agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)

  /** Apply a learned BPE merge table: every word of the corpus is
    * tokenized by replaying the merges IN LEARNED ORDER with the same
    * left-to-right non-overlapping semantics [[bpeLearn]] uses — one
    * sequential pass per merge inside a single closure (NOT a chained
    * `aggregate`-HOF stack: the expression tree would be merge-count
    * deep, and a real tokenizer has 10⁴–10⁵ merges — Catalyst
    * optimization time alone blows up past a handful of layers; a
    * closure fold over the broadcast merge list is the only shape that
    * survives real vocabularies. For large k the per-word cost is the
    * rank-heap apply of production tokenizers; at small k the k-pass
    * form below is both simpler and bit-identical to training).
    *
    * Scale shape mirrors training: the corpus shuffles once into the
    * DISTINCT-word table, the k-row merge table is collected (it IS the
    * tokenizer artifact) and rides the closure, tokenization runs over
    * the vocab table only. Returns (token, n) corpus token counts in
    * deterministic top-k order. */
  def bpeTokenCounts(df: DataFrame, textCol: String, merges: DataFrame,
                     k: Int): DataFrame = {
    val spark = df.sparkSession
    val ms: Array[(String, String)] = merges
      .select(col("step").cast("int"), col("left").cast("string"),
        col("right").cast("string"))
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2)))
    val tokenize = udf { (w: String) =>
      var syms: List[String] = w.split("").toList
      ms.foreach { case (l, r) =>
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var rest = syms
        while (rest.nonEmpty) {
          rest match {
            case a :: b :: tail if a == l && b == r =>
              out += l + r; rest = tail
            case a :: tail =>
              out += a; rest = tail
            case Nil => ()
          }
        }
        syms = out.toList
      }
      syms
    }
    wordCounts(df, textCol)
      .select(explode(tokenize(col("w"))).as("token"), col("cnt"))
      .groupBy(col("token")).agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)
  }

  /** Per-document token count under a learned BPE merge table — the
    * tokenizer-aware volume a packing/budget pipeline actually needs
    * (pk1/pk2 count with the §2.8 regex; this is the trained-tokenizer
    * form: pipe9). Appends `outCol` = Σ over the doc's words of the
    * word's BPE token count, words as in [[bpeLearn]] (lower-cased,
    * whitespace-split, empties dropped).
    *
    * 100-TB shape: entirely MAP-SIDE — the merge table (the tokenizer
    * artifact, k rows) rides the closure and each task memoizes
    * word → token-count in a per-executor cache, so the corpus text
    * never shuffles and repeated words tokenize once per task. The
    * doc-explode + vocab-join alternative would shuffle every word
    * occurrence of the corpus; tokenizer CPU is the thing a cluster
    * parallelizes for free. */
  def bpeDocTokenCount(df: DataFrame, textCol: String, merges: DataFrame,
                       outCol: String = "n_tok"): DataFrame = {
    val ms: Array[(String, String)] = merges
      .select(col("step").cast("int"), col("left").cast("string"),
        col("right").cast("string"))
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2)))
    val nTokWord = (w: String) => {
      var syms: List[String] = w.split("").toList
      ms.foreach { case (l, r) =>
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var rest = syms
        while (rest.nonEmpty) {
          rest match {
            case a :: b :: tail if a == l && b == r =>
              out += l + r; rest = tail
            case a :: tail =>
              out += a; rest = tail
            case Nil => ()
          }
        }
        syms = out.toList
      }
      syms.length
    }
    val cache = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val docToks = udf { (text: String) =>
      if (text == null) 0L
      else text.toLowerCase.split(" ").iterator.filter(_.nonEmpty)
        .map(w => cache.computeIfAbsent(w, w2 => nTokWord(w2)).toLong).sum
    }
    df.withColumn(outCol, docToks(col(textCol)))
  }

  /** Per-source tokenizer FERTILITY audit — mean BPE pieces per word
    * under a learned merge table, the pre-flight metric every
    * multilingual/tokenizer change ships with (fertility ≈ 1 means the
    * vocabulary covers the source; high fertility means the source pays
    * more sequence length per word — the classic under-served-language
    * signal, cf. the XLM-R/NLLB tokenizer analyses). Also reports the
    * single-character-fallback share (words the merges never touched).
    *
    * Shape: one (source, word) aggregate (|sources|·|vocab| rows,
    * sublinear), the merge table enters as a collected closure (the
    * tokenizer artifact is KBs), pieces computed once per DISTINCT word.
    * The x20-pinned LTR fold is replayed per word, so the whole audit
    * hash-checks through the same BpeSql machinery. */
  /** The x20-pinned LTR merge fold as a piece-count UDF: the merge
    * table (a KB-scale tokenizer artifact) enters as a collected
    * closure shared by [[bpeFertility]] and [[bpeCompression]]. */
  private def bpePiecesUdf(merges: DataFrame)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val ms: Array[(String, String)] = merges
      .select(col("step").cast("int"), col("left").cast("string"),
        col("right").cast("string"))
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2)))
    udf { (w: String) =>
      var syms: List[String] = w.split("").toList
      ms.foreach { case (l, r) =>
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var rest = syms
        while (rest.nonEmpty) {
          rest match {
            case a :: b :: tail if a == l && b == r =>
              out += l + r; rest = tail
            case a :: tail =>
              out += a; rest = tail
            case Nil => ()
          }
        }
        syms = out.toList
      }
      syms.length.toLong
    }
  }

  def bpeFertility(df: DataFrame, textCol: String, sourceCol: String,
                   merges: DataFrame): DataFrame = {
    val nPieces = bpePiecesUdf(merges)
    val sw = df.select(col(sourceCol).as("source"),
        explode(tokens(lower(col(textCol)))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cnt"))
    val pieces = sw.select(col("w")).distinct()
      .withColumn("pieces", nPieces(col("w")))
    sw.join(pieces, Seq("w"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_words"),
           sum(col("cnt") * col("pieces")).as("n_pieces"),
           sum(when(col("pieces") === length(col("w")), col("cnt"))
             .otherwise(0L)).as("n_fallback"))
      .withColumn("fertility",
        floor(col("n_pieces").cast("double") / col("n_words") * 1e6 + 0.5) / 1e6)
      .withColumn("fallback_permille",
        floor(col("n_fallback").cast("double") / col("n_words") * 1000 + 0.5)
          .cast("long"))
  }

  /** Tokenizer compression audit per source — the companion readout to
    * [[bpeFertility]]: chars-per-piece (how much text each BPE piece
    * carries) and pieces-per-kchar (the cost dual). Compression is the
    * metric that prices a corpus in tokens: a source at 2 chars/piece
    * costs twice the budget of one at 4. Same shape as bpeFertility —
    * one (source, word) aggregate, pieces once per DISTINCT word, the
    * merge table a collected closure. */
  def bpeCompression(df: DataFrame, textCol: String, sourceCol: String,
                     merges: DataFrame): DataFrame = {
    val nPieces = bpePiecesUdf(merges)
    val sw = df.select(col(sourceCol).as("source"),
        explode(tokens(lower(col(textCol)))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cnt"))
    val pieces = sw.select(col("w")).distinct()
      .withColumn("pieces", nPieces(col("w")))
    sw.join(pieces, Seq("w"))
      .groupBy(col("source"))
      .agg(sum(col("cnt") * length(col("w"))).as("n_chars"),
           sum(col("cnt") * col("pieces")).as("n_pieces"))
      .withColumn("chars_per_piece",
        floor(col("n_chars").cast("double") / col("n_pieces") * 1e6 + 0.5) / 1e6)
      .withColumn("pieces_per_kchar",
        floor(col("n_pieces").cast("double") / col("n_chars") * 1000 * 1e6 + 0.5) / 1e6)
  }

  /** Per-source weight-concentration diagnostics: the Gini coefficient
    * (Σ(2i−n−1)·w_(i) / (n·Σw) over the within-source sort) and the
    * Theil T index (Σ (w/W)·ln(w/μ)) of a per-doc weight column — the
    * imbalance readout a mixture planner consults before setting
    * per-source budgets (a source whose mass sits in 1% of its docs
    * responds very differently to doc-level sampling than a uniform
    * one). Gini is pure integer arithmetic on the rank lattice (exact);
    * Theil's per-doc ln terms fold on the 1e-9 grid (the x22 contract).
    * Shape: one source-keyed window (rank + sums), one reduce. */
  def sourceConcentration(df: DataFrame, weightCol: String,
                          sourceCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("source")).orderBy(col("w"), col("id"))
    val wAll = Window.partitionBy(col("source"))
    df.select(col(sourceCol).as("source"),
        floor(col(weightCol).cast("double") + 0.5).cast("long").as("w"),
        col(idCol).as("id"))
      .filter(col("w") > 0)
      .withColumn("i", row_number().over(wOrd).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll).cast("long"))
      .withColumn("tot", sum(col("w")).over(wAll))
      .withColumn("gnum", (lit(2L) * col("i") - col("n") - 1L) * col("w"))
      .withColumn("t9", floor((col("w").cast("double") / col("tot"))
        * log(col("w").cast("double")
          / (col("tot").cast("double") / col("n"))) * lit(1e9) + lit(0.5))
        .cast("long"))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"),
           sum(col("gnum")).as("gnum"), max(col("tot")).as("tot"),
           sum(col("t9")).as("t9"))
      .withColumn("gini", col("gnum").cast("double")
        / (col("n_docs").cast("double") * col("tot")))
      .withColumn("theil", col("t9") / 1e9)
      .select(col("source"), col("n_docs"), col("gini"), col("theil"))
  }

  /** Iterative BPE merge learning (Sennrich et al. 2016, algorithm 1):
    * repeat `merges` times — count adjacent symbol pairs over the
    * word-count table, take the most frequent (ties to the
    * lexicographically smallest pair, so the sequence is deterministic),
    * fuse that pair left-to-right non-overlapping in every word. Stops
    * early when the best pair's count drops below `minCount`.
    *
    * 100-TB shape: the corpus shuffles once into the persisted
    * word-count table (|vocab| rows, sublinear in corpus size); each
    * round is ONE aggregate over that table plus a 1-row collect (the
    * winning pair), and the merge itself is a map-side `aggregate` HOF
    * fold — no UDF, no driver data beyond k winner rows. This is the
    * GPT-2/SentencePiece training access pattern verbatim.
    *
    * The left-to-right fold is expressed as an accumulator HOF: append
    * each symbol unless the accumulator's last element is `left` and the
    * incoming symbol is `right`, in which case replace the last element
    * with the fused symbol — provably equivalent to the scan-and-skip
    * formulation for non-overlapping matches. Symbols must not contain
    * U+0001 (used as the pair separator; raw corpus text never does).
    *
    * Returns (step, left, right, n) — the learned merge table, the
    * artifact a tokenizer ships. */
  def bpeLearn(df: DataFrame, textCol: String, merges: Int,
               minCount: Long = 2L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val SEP = "\u0001"
    // LINEAGE IS TRUNCATED EVERY MERGE via eager localCheckpoint (the
    // pageRankFixed discipline) — NOT persist/unpersist. The r14
    // merge-ladder measurement caught the cache chain exploding: with a
    // persist per round, unpersisting round k−1 makes the CacheManager
    // rebuild every dependent cache entry, which drops round k's
    // materialized buffers and recomputes the whole rewrite chain from
    // parquet — per-merge wall grew ×1.7 PER MERGE (0.3 s/merge at 12
    // merges, 15 s/merge at 20). Checkpointed vocab tables have no plan
    // dependencies to invalidate: per-merge cost is one bounded rewrite
    // job + one argmax job at ANY merge count (measured flat through
    // 1000 merges in SOAK_r14). Old checkpoint RDDs are unreferenced
    // after each reassignment and reclaimed by the ContextCleaner.
    var vocab = wordCounts(df, textCol)
      .select(split(col("w"), "").as("syms"), col("cnt"))
      .localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var go = merges >= 1
    while (go) {
      val best = vocab.filter(size(col("syms")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> " +
          "concat(element_at(syms, i), chr(1), element_at(syms, i + 1)))")).as("pair"),
          col("cnt"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(1).collect()
      if (best.isEmpty || best(0).getLong(1) < minCount) go = false
      else {
        val parts = best(0).getString(0).split(SEP, -1)
        val (l, r, n) = (parts(0), parts(1), best(0).getLong(1))
        out += ((step, l, r, n))
        val fused = l + r
        vocab = vocab.select(
          aggregate(col("syms"), array().cast("array<string>"),
            (acc, x) => when(size(acc) > 0 &&
                element_at(acc, lit(-1)) === lit(l) && x === lit(r),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(fused))))
              .otherwise(concat(acc, array(x)))).as("syms"),
          col("cnt")).localCheckpoint(true)
        step += 1
        if (step > merges) go = false
      }
    }
    out.toSeq.toDF("step", "left", "right", "n")
  }

  /** Per-group Zipf fit: OLS of ln(freq) on ln(rank) over the top-V
    * vocabulary — the rank–frequency power-law diagnostic (Zipf's law:
    * natural text has slope ≈ −1; templated/boilerplate corpora flatten
    * toward 0, spam steepens). A per-source slope is a cheap corpus-mix
    * health check a pretraining pipeline runs after every big filter.
    *
    * Determinism: counts are exact; the rank is a row_number over
    * (count desc, word) — total order, no ties left to the engine; each
    * OLS term (x, y, x², xy with x=ln rank, y=ln cnt) quantizes to the
    * 1e-9 grid as a BIGINT before the sum (the `term9` discipline —
    * unordered double sums differ across engines in the last ulp,
    * integer sums cannot), and the closed-form slope/intercept round to
    * 1e-6 at the end.
    *
    * Scale shape: one corpus shuffle to (group, word) counts, a window
    * over the REDUCED vocab table partitioned by group for the rank,
    * then a ≤V-row-per-group aggregate. The corpus is never sorted;
    * driver sees nothing. */
  def zipfSlope(df: DataFrame, textCol: String, groupCol: String,
                topV: Int = 200): DataFrame = {
    require(topV >= 3, s"need topV >= 3 for a 2-parameter fit, got $topV")
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(col(groupCol).as("g"), explode(tokens(lower(col(textCol)))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("g"), col("w")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("g"))
      .orderBy(col("cnt").desc, col("w"))
    val ranked = counts
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topV)
      .withColumn("x", log(col("rk").cast("double")))
      .withColumn("y", log(col("cnt").cast("double")))
      .select(col("g"),
        floor(col("x") * 1e9 + 0.5).cast("long").as("x9"),
        floor(col("y") * 1e9 + 0.5).cast("long").as("y9"),
        floor(col("x") * col("x") * 1e9 + 0.5).cast("long").as("xx9"),
        floor(col("x") * col("y") * 1e9 + 0.5).cast("long").as("xy9"))
    ranked.groupBy(col("g").as(groupCol))
      .agg(count(lit(1)).as("n_terms"),
           sum(col("x9")).as("sx"), sum(col("y9")).as("sy"),
           sum(col("xx9")).as("sxx"), sum(col("xy9")).as("sxy"))
      .withColumn("den",
        col("n_terms").cast("double") * col("sxx").cast("double") / 1e9 -
        (col("sx").cast("double") / 1e9) * (col("sx").cast("double") / 1e9))
      // den = 0 (a single distinct rank — e.g. one-word vocabulary) has
      // no 2-parameter fit: emit null rather than 0/0 = NaN, whose
      // rendering differs across engines
      .withColumn("slope", when(col("den") === 0.0, lit(null).cast("double"))
        .otherwise(graft.queries.Det.dround(
          (col("n_terms").cast("double") * col("sxy").cast("double") / 1e9 -
           (col("sx").cast("double") / 1e9) * (col("sy").cast("double") / 1e9)) /
          col("den"), 6)))
      .withColumn("intercept", graft.queries.Det.dround(
        (col("sy").cast("double") / 1e9 -
         col("slope") * col("sx").cast("double") / 1e9) /
        col("n_terms").cast("double"), 6))
      .select(col(groupCol), col("n_terms"), col("slope"), col("intercept"))
  }

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995;
    * the Chen & Goodman 1999 interpolated form with one fixed discount
    * D): over within-document adjacent token pairs,
    *   P_KN(w2|w1) = max(c(w1w2) − D, 0)/c(w1·)
    *               + D·N1+(w1·)/c(w1·) · N1+(·w2)/|bigram types|
    * where c(w1·) = Σ_x c(w1x), N1+(w1·) = |{x : c(w1x) > 0}|,
    * N1+(·w2) = |{x : c(xw2) > 0}| — the continuation-count backoff
    * that makes KN the standard n-gram smoother. Emits the `topK`
    * bigrams by count (ties by w1, w2) with their counts, continuation
    * stats and p_kn on the 1e-9 grid.
    *
    * Scale shape: the corpus explodes to bigram pairs map-side and
    * reduces ONCE to the bigram-type table; c(w1·)/N1+ are windows
    * PARTITIONED by w1 (resp. w2) over that much-smaller type table;
    * the type total is one scalar broadcast. Text never shuffles —
    * only (w1, w2, count) triples do. */
  def knBigram(df: DataFrame, textCol: String, discount: Double = 0.75,
               topK: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(discount > 0 && discount < 1, s"need 0 < D < 1, got $discount")
    val pairs = df
      .select(expr(s"filter(split($textCol, ' '), x -> x <> '')").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        """transform(slice(w, 1, size(w) - 1),
            (x, i) -> struct(x AS w1, element_at(w, i + 2) AS w2))""")).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val types = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).cast("long").as("c12"))
    val w1w = Window.partitionBy(col("w1"))
    val w2w = Window.partitionBy(col("w2"))
    val allw = Window.partitionBy()
    types
      .withColumn("c1", sum(col("c12")).over(w1w))
      .withColumn("n1p_left", count(lit(1)).over(w1w).cast("long"))
      .withColumn("n1p_right", count(lit(1)).over(w2w).cast("long"))
      .withColumn("n_types", count(lit(1)).over(allw).cast("long"))
      .withColumn("p_kn", graft.queries.Det.dround(
        (col("c12") - lit(discount)).cast("double") / col("c1")
          + lit(discount) * col("n1p_left") / col("c1")
            * (col("n1p_right").cast("double") / col("n_types")), 9))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(topK)
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
              col("n1p_left"), col("n1p_right"), col("n_types"), col("p_kn"))
  }

  /** Mean Segmental Type-Token Ratio (Johnson 1944's MSTTR; the
    * fixed-window member of the lexical-diversity family Covington &
    * McFall 2010 motivate): plain TTR = |types|/|tokens| shrinks with
    * document length, so it can't compare docs of different sizes —
    * MSTTR instead averages TTR over consecutive NON-overlapping
    * segments of exactly `window` tokens (trailing partial segment
    * dropped), giving a length-free diversity score a quality gate can
    * threshold uniformly. Emits per doc: (id, n_tokens, n_types, ttr,
    * n_segments, msttr); docs shorter than one segment get null msttr.
    *
    * Determinism: per-segment distinct counts are exact integers
    * (array_distinct over an exact slice), the two ratios are single
    * divisions. Pure map-side HOFs — zero shuffle, codegen-friendly. */
  def msttr(df: DataFrame, textCol: String, idCol: String,
            window: Int = 25): DataFrame = {
    require(window >= 2, s"need window >= 2, got $window")
    df.select(col(idCol),
        expr(s"filter(split($textCol, ' '), x -> x <> '')").as("w"))
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .withColumn("n_types", size(array_distinct(col("w"))).cast("long"))
      .withColumn("ttr",
        when(col("n_tokens") > 0,
          graft.queries.Det.dround(
            col("n_types").cast("double") / col("n_tokens"), 6)))
      .withColumn("n_segments", (col("n_tokens") / window).cast("long"))
      .withColumn("types_sum",
        // CASE guard: sequence(0, -1) would DESCEND, not be empty
        expr(s"""CASE WHEN n_segments > 0 THEN
          aggregate(sequence(0, CAST(n_segments AS INT) - 1),
            CAST(0 AS BIGINT),
            (a, k) -> a + size(array_distinct(
              slice(w, CAST(k * $window + 1 AS INT), $window))))
          ELSE CAST(0 AS BIGINT) END"""))
      .withColumn("msttr",
        when(col("n_segments") > 0,
          graft.queries.Det.dround(
            col("types_sum").cast("double")
              / (col("n_segments") * lit(window.toLong)), 6)))
      .drop("w", "types_sum")
  }

  /** Flesch reading-ease score per document (Flesch 1948; the Kincaid
    * et al. 1975 recalibration family) with the standard vowel-group
    * syllable surrogate: syllables(w) ≈ |maximal [aeiouy]+ runs|, so
    *   score = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
    * — higher is easier; the classic prose-complexity feature beside
    * the x5 quality ratios. Pure map-side regex + scalar math, zero
    * shuffle; exact integer counts under fixed-op-order doubles. Emits
    * (id…, n_words, n_sents, n_syll, flesch); null when a doc has no
    * words or sentences. */
  def readability(df: DataFrame, textCol: String): DataFrame = {
    val t = textCol
    df.withColumn("n_words",
        expr(s"size(filter(split($t, ' '), x -> x <> ''))").cast("long"))
      .withColumn("n_sents",
        expr(s"size(filter(split($t, '\\\\.'), x -> trim(x) <> ''))").cast("long"))
      .withColumn("n_syll",
        expr(s"size(regexp_extract_all(lower($t), '[aeiouy]+', 0))").cast("long"))
      .withColumn("flesch",
        when(col("n_words") > 0 && col("n_sents") > 0,
          graft.queries.Det.dround(
            lit(206.835)
              - lit(1.015) * (col("n_words").cast("double") / col("n_sents"))
              - lit(84.6) * (col("n_syll").cast("double") / col("n_words")),
            6)))
  }

  /** Pairwise Jensen–Shannon divergence between source unigram
    * distributions (Lin 1991) over the global top-V vocabulary plus an
    * OOV bucket — the symmetric, bounded [0, ln 2] distance a mixture
    * planner reads as "how different are these sources really" (the
    * cross-source complement to x21's language confusion and a15's
    * split drift):
    *   JSD(a,b) = ½·Σ p_a·ln(p_a/m) + ½·Σ p_b·ln(p_b/m),  m = (p_a+p_b)/2
    * with Laplace-smoothed shares p_s = (c + ½)/(n_s + ½(V+1)) so every
    * term is finite even when a source misses a vocab entry.
    *
    * Scale shape: corpus reduces ONCE to (source, token) counts; the
    * top-V pick is a window over the global vocab table; the complete
    * sources×(V+1) grid and all |S|²/2 pair arithmetic live on tiny
    * tables. Determinism: counts exact, shares fixed-op-order, each
    * p·ln(p/m) term folds on the 1e-9 grid. */
  def sourceJsd(df: DataFrame, textCol: String, sourceCol: String,
                topV: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(sourceCol).as("source"),
        explode(tokens(lower(col(textCol)))).as("w"))
      .filter(length(col("w")) > 0)
    val top = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("cnt").desc, col("w"))))
      .filter(col("rk") <= topV)
      .select(col("w"), lit(true).as("__top"))
    val bySrcTerm = toks
      .join(broadcast(top), Seq("w"), "left")
      .withColumn("term", when(col("__top"), col("w")).otherwise(lit("__oov")))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).cast("long").as("c"))
    val grid = bySrcTerm.select(col("source")).distinct()
      .crossJoin(broadcast(
        top.select(col("w").as("term"))
          .unionByName(toks.sparkSession.range(1)
            .select(lit("__oov").as("term")))))
    val dist = grid.join(bySrcTerm, Seq("source", "term"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("source"))))
      .withColumn("p",
        (col("c").cast("double") + 0.5)
          / (col("n").cast("double") + lit(0.5 * (topV + 1))))
      .select(col("source"), col("term"), col("p"))
    val a = dist.select(col("source").as("source_a"), col("term"),
      col("p").as("pa"))
    val b = dist.select(col("source").as("source_b"), col("term"),
      col("p").as("pb"))
    a.join(b, Seq("term"))
      .filter(col("source_a") < col("source_b"))
      .withColumn("m", (col("pa") + col("pb")) / 2.0)
      .withColumn("t9",
        floor((col("pa") * log(col("pa") / col("m"))
          + col("pb") * log(col("pb") / col("m"))) * lit(1e9) + lit(0.5))
          .cast("long"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).cast("long").as("n_terms"), sum(col("t9")).as("s9"))
      .withColumn("jsd", graft.queries.Det.dround(col("s9") / 2.0 / 1e9, 6))
      .select(col("source_a"), col("source_b"), col("n_terms"), col("jsd"))
  }

  /** Top-k vocabulary coverage curve — the tokenizer-design readout
    * (how much of the corpus does a k-entry vocab cover; the dual of
    * [[heapsLaw]]'s growth exponent and the first number a vocab-size
    * decision consults): for each k in `ks`, the fraction of ALL corpus
    * tokens whose type ranks in the top k by frequency. Emits one row
    * per k: (k, vocab_size, covered_tokens, total_tokens, coverage).
    *
    * Scale shape: the corpus reduces ONCE to the (token, count) table
    * (sublinear vocab), ranks are one window over that table, and the
    * per-k census is a |ks|-way conditional aggregate of it — the
    * corpus text never shuffles. Determinism: pure integer counts with
    * (count desc, token) rank tie-break; coverage is one division. */
  def vocabCoverage(df: DataFrame, textCol: String,
                    ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"need ks >= 1, got $ks")
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(explode(tokens(lower(col(textCol)))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("cnt").desc, col("w"))
    val ranked = counts.withColumn("rk", row_number().over(w).cast("long"))
    val kLit = array(ks.sorted.map(k => lit(k.toLong)): _*)
    ranked
      .withColumn("k", explode(kLit))
      .groupBy(col("k"))
      .agg(count(lit(1)).cast("long").as("vocab_size"),
           sum(when(col("rk") <= col("k"), col("cnt")).otherwise(0L))
             .as("covered_tokens"),
           sum(col("cnt")).as("total_tokens"))
      .withColumn("coverage", graft.queries.Det.dround(
        col("covered_tokens").cast("double") / col("total_tokens"), 6))
  }

  /** Heaps'-law vocabulary-growth fit (Heaps 1978; Herdan 1960):
    * V(N) ≈ K·N^β, estimated by OLS on ln V vs ln N over the corpus
    * prefix curve in `idCol` order — the scaling-law readout that says
    * how much NEW vocabulary another 10× of corpus will bring (β ≈ 0.5
    * for natural text; β near 0 means the source is exhausted). Sample
    * points are every `sampleEvery`-th document, so the regression
    * input is corpus-size/sampleEvery rows regardless of scale.
    *
    * The cumulative distinct count V(d) is computed WITHOUT any
    * distinct-over-window: a word contributes at its FIRST document
    * (min doc id per word — one reduce over the |vocab| table), new
    * words per doc roll up with a cumulative sum, exactly the
    * incremental-index shape. Determinism: V and N are exact integers;
    * ln terms fold on the 1e-9 grid (the zipfSlope contract). Emits one
    * row: (n_points, n_docs, vocab, tokens, beta, k). */
  def heapsLaw(df: DataFrame, textCol: String, idCol: String,
               sampleEvery: Int = 10): DataFrame = {
    require(sampleEvery >= 1, s"need sampleEvery >= 1, got $sampleEvery")
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).cast("long").as("d"),
      explode(tokens(lower(col(textCol)))).as("w"))
      .filter(length(col("w")) > 0)
    val firstDoc = toks.groupBy(col("w"))
      .agg(min(col("d")).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).cast("long").as("nw"))
    val perDoc = toks.groupBy(col("d"))
      .agg(count(lit(1)).cast("long").as("nt"))
      .join(firstDoc, Seq("d"), "left")
      .na.fill(0L, Seq("nw"))
    // Two-level cumulative sums (the sm11/pk3 bucket-offset discipline):
    // the per-document frame is DATA-sized, so one unpartitioned window
    // over it would funnel the corpus through a single task. Range-bucket
    // doc ids into ≤4097 order-preserving buckets (width from max id, one
    // scalar agg), cumulate WITHIN buckets (bucket-partitioned windows),
    // and add per-bucket offsets from one window over the bucket grid.
    val mx = perDoc.agg(max(col("d")).as("mxd"))
    val perDocB = perDoc.crossJoin(broadcast(mx))
      .withColumn("bkt", expr("d div (mxd div 4096 + 1)"))
      .drop("mxd")
    val bag = perDocB.groupBy(col("bkt"))
      .agg(sum(col("nw")).as("bnw"), sum(col("nt")).as("bnt"),
           count(lit(1)).as("bn"))
    val wOff = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = bag
      .withColumn("ovv", coalesce(sum(col("bnw")).over(wOff), lit(0L)))
      .withColumn("onn", coalesce(sum(col("bnt")).over(wOff), lit(0L)))
      .withColumn("oi", coalesce(sum(col("bn")).over(wOff), lit(0L)))
      .select(col("bkt"), col("ovv"), col("onn"), col("oi"))
    val wIn = Window.partitionBy(col("bkt")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = perDocB.join(broadcast(offs), Seq("bkt"))
      .withColumn("vv", col("ovv") + sum(col("nw")).over(wIn))
      .withColumn("nn", col("onn") + sum(col("nt")).over(wIn))
      .withColumn("i", (col("oi") + row_number().over(
        Window.partitionBy(col("bkt")).orderBy(col("d")))).cast("long"))
    val pts = curve.filter(col("i") % sampleEvery === 0L || col("i") === 1L)
      .withColumn("x", log(col("nn").cast("double")))
      .withColumn("y", log(col("vv").cast("double")))
      .select(
        floor(col("x") * 1e9 + 0.5).cast("long").as("x9"),
        floor(col("y") * 1e9 + 0.5).cast("long").as("y9"),
        floor(col("x") * col("x") * 1e9 + 0.5).cast("long").as("xx9"),
        floor(col("x") * col("y") * 1e9 + 0.5).cast("long").as("xy9"))
    val tot = curve.agg(max(col("i")).as("n_docs"), max(col("vv")).as("vocab"),
      max(col("nn")).as("tokens"))
    pts.agg(count(lit(1)).cast("long").as("n_points"),
        sum(col("x9")).as("sx"), sum(col("y9")).as("sy"),
        sum(col("xx9")).as("sxx"), sum(col("xy9")).as("sxy"))
      .crossJoin(broadcast(tot))
      .withColumn("den",
        col("n_points").cast("double") * col("sxx").cast("double") / 1e9 -
        (col("sx").cast("double") / 1e9) * (col("sx").cast("double") / 1e9))
      .withColumn("beta", when(col("den") === 0.0, lit(null).cast("double"))
        .otherwise(graft.queries.Det.dround(
          (col("n_points").cast("double") * col("sxy").cast("double") / 1e9 -
           (col("sx").cast("double") / 1e9) * (col("sy").cast("double") / 1e9)) /
          col("den"), 6)))
      .withColumn("k", graft.queries.Det.dround(
        exp((col("sy").cast("double") / 1e9 -
          col("beta") * col("sx").cast("double") / 1e9) /
          col("n_points").cast("double")), 6))
      .select(col("n_points"), col("n_docs"), col("vocab"), col("tokens"),
              col("beta"), col("k"))
  }
}
