package graft

/** Benchmark main (driver contract): runs the headline queries at
  * SPARK_GRAFT_SF_DIR on local[N], prints ONE JSON line.
  *
  * Headline set = every deterministic dataflow query (the oracle-checked
  * ones). Model-fitting queries (m1/m4/m5/m6/m9) are excluded from the
  * wall-clock metric — they are estimator benchmarks, not operator
  * throughput (BASELINE.md has no reference throughput for them either).
  * A table-scan warmup runs first so parquet footer/codegen setup isn't
  * billed to the first query. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session("graft-bench")

    // warmup: touch every table once (footer cache, codegen bootstrap)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
      .foreach(t => Tables.t(spark, sfDir, t).count())

    // estimator queries (model fitting) are excluded from the throughput
    // metric: everything in ModelQueries plus the per-series ARIMA fit and
    // the decision-equality twins (full model searches / AutoML fits —
    // selection-correctness checks, not operator throughput; the
    // closed-form siblings m1_ar1/m2_sar1/m4_var1/m5_* stay in)
    val estimators = graft.queries.ModelQueries.queries.keySet +
      "f3_series_arima" + "m3_decision" + "m9_decision"
    val headline = SparkEntry.queries.filterNot { case (k, _) => estimators(k) }

    // warmup 2: run every headline query once at the TARGET SF so
    // whole-stage-codegen compilation, AQE runtime re-planning, and JVM
    // JIT are not billed to the measured run — warming at a smaller SF
    // leaves those costs in, because AQE picks different physical shapes
    // (join strategies, coalesced partition counts) from the different
    // runtime stats and the new shapes compile fresh code. The metric is
    // steady-state throughput at the target SF, which is what matters on
    // a long-lived cluster.
    headline.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }
    spark.sharedState.cacheManager.clearCache()
    // drain warmup garbage before timing starts so collector pauses from
    // the warmup pass aren't billed to the first measured queries
    System.gc()

    // three measured passes with the query order ROTATED per pass, report
    // the per-query MIN: steady-state throughput. Single-shot timing on a
    // shared box conflates a query's cost with whatever background stall
    // happens to overlap it (observed in r4 and r6: multi-second spikes
    // smeared over a CONTIGUOUS block of queries in run order, a different
    // block every run). With the same order every pass a long stall can hit
    // the same block twice and survive the min; rotating the order by a
    // third of the list per pass puts every query in a different
    // neighbourhood each time, so a contiguous stall cannot shadow any
    // query in more than one pass. Per-pass values are persisted in the
    // output ("passes") together with the min/max spread so an anomalous
    // pass is visible instead of silently folded in.
    // Cache is cleared after each query so one query's pinned blocks
    // (e.g. LSH candidate sets) can't bloat the heap of the queries after
    // it — each query is billed for building its own caches.
    val names = headline.keys.toSeq.sorted
    def pass(order: Seq[String]): Map[String, Double] = order.map { name =>
      val t0 = System.nanoTime()
      val ok = try { headline(name)(spark, sfDir).count(); true }
               catch { case e: Throwable =>
                 System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sharedState.cacheManager.clearCache()
      name -> (if (ok) dt else -1.0)
    }.toMap
    val nPasses = 3
    val passes = (0 until nPasses).map { i =>
      val shift = i * names.length / nPasses
      pass(names.drop(shift) ++ names.take(shift))
    }
    val results = names.map { name =>
      val vs = passes.map(_(name))
      val good = vs.filter(_ >= 0)
      if (good.isEmpty) (name, -1.0, -1.0, false)
      else (name, good.min, good.max, true)
    }
    val qs = results.map { case (k, mn, _, ok) => "\"" + k + "\":" + (if (ok) mn else -1.0) }
      .mkString("{", ",", "}")
    val spread = results.map { case (k, mn, mx, _) => f""""$k":[$mn%.4f,$mx%.4f]""" }
      .mkString("{", ",", "}")
    val perPass = passes.map(p => names.map(n => f"${p(n)}%.4f").mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    val failures = results.collect { case (k, _, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // failed queries are excluded so the headline total equals the sum
    // of the reported per-query values
    val total = results.collect { case (_, mn, _, true) => mn }.sum
    // pinned ISOLATED probes (min-of-3, measured alone after the packed
    // passes) for the queries whose packed-bench timings sit in
    // AQE-exchange-noise regimes: the isolated figure in the same
    // artifact is the ground truth for scaling adjudication, so soak
    // reads stop re-deriving it every round.
    // The pinned set covers every query whose scaling adjudication used
    // to live as SOAK prose (r12 ask #8): the tokenizer-CPU packing
    // class, the deliberately-loose LSH twins, the all-pairs-capped
    // oracle twin, the bootstrap/graph heavies, and the two AQE-noise
    // regulars. SOAK tables reference these numbers instead of
    // re-deriving them.
    // These runs share the heap of the three packed passes before them
    // (~1,400 query runs), so some read high: s6_pca_whiten read 5.16 s
    // here against 3.61–3.97 s as a min-of-3 in a fresh JVM (sf0.1, 4
    // cores). The clean isolated figure is a fresh-JVM
    // `graft.tools.Probe time <sfDir> <queries> 3`.
    val isolatedSet = Seq(
      "j3_zip", "m6_logy",
      "pk1_seq_pack", "pk2_budget_select", "pk5_ffd_pack", "st_pack",
      "pipe9_bpe_pack", "pipe10_gopher_pack", "pipe11_pretrain",
      "d3_minhash_r1", "d5_cosine_neardup", "d11_cosine_lsh",
      "d12_semdedup", "a36_poisson_boot", "g1_pagerank", "g2_adamic_adar",
      "s6_pca_whiten", "s6_embed_cov", "f22_garch", "x19_bpe_merges")
    val isolated = isolatedSet.filter(headline.contains).map { name =>
      // a failed probe run must not publish its near-zero plan-build
      // time as the min — mark it -1 and exclude, like the packed pass.
      // min-of-3 (not 5): the set is 10× larger than when it held two
      // AQE-noise probes, and a min over 3 post-warmup runs pins the
      // same steady state.
      val vs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { headline(name)(spark, sfDir).count(); true }
                 catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        if (ok) dt else -1.0
      }
      val good = vs.filter(_ >= 0)
      if (good.isEmpty) s""""$name":null"""
      else f""""$name":${good.min}%.4f"""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spread,"pass_order":"rotated","pass_values":$perPass,"failures":$failures,"isolated":$isolated,"sf":"$sfDir"}"""
    println(line)
    // The driver records only the LAST ~2000 chars of stdout and parses
    // the final line as JSON — the full line above is ~20 KB at 300+
    // queries, so its head gets truncated away and parsing fails
    // (BENCH_r12/r13 "parsed": null). Print a compact, guaranteed-
    // sub-2000-char summary as the VERY LAST line; the full per-query
    // map lives in BENCH_full_latest.json / BENCH_full_history.jsonl.
    val nOk = results.count(_._4)
    val compact = f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":$nOk,"n_failed":${results.length - nOk},"failures":$failures,"isolated":$isolated,"sf":"$sfDir","full":"BENCH_full_latest.json"}"""
    println(compact)
    // the driver's BENCH_r{N}.json keeps only a tail of stdout — persist
    // the FULL line in-repo too, so cross-round per-query comparison
    // doesn't depend on what survived truncation (r8 verdict ask #6).
    // Best-effort: a read-only cwd must not fail the bench itself.
    scala.util.Try(java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_full_latest.json"),
      (line + "\n").getBytes("UTF-8")))
    // append-only history so round-over-round per-query diffs never
    // depend on the mutable "latest" file (r11 verdict ask #9)
    scala.util.Try(java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_full_history.jsonl"),
      (line + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND))
    spark.stop()
  }
}
