package perfbench

import scala.collection.mutable

import org.json4s._

import Main._

/** A frozen list of registered queries, run in closed-loop passes by one
  * caller. Each query is timed as its operator call plus `count()`. */
object QueryWorkload {
  val Modules = Seq("core", "infer", "stats", "scale", "streaming")
  val ModuleMetrics = Seq("build_s" -> "s", "exec_s" -> "s", "jobs" -> "count", "gap_s" -> "s",
                          "task_cpu_s" -> "s", "shuffle_bytes" -> "bytes")

  /** The module a query exercises: streaming and per-series forecasting
    * by name family, otherwise by the registry that holds it. */
  def module(q: String): String = {
    import graft.queries._
    if (q.startsWith("st_")) "streaming"
    else if (q.matches("f[0-9]+_.*")) "scale"
    else if (CoreQueries.queries.contains(q) || CoreQueries2.queries.contains(q)) "core"
    else if (InferQueries.queries.contains(q)) "infer"
    else if (StatQueries.queries.contains(q)) "stats"
    else "scale"
  }

  /** Passes run in set-up. On a 4-core machine the first pass after a
    * single warm-up pass ran ~30-50% slower than the passes after it. */
  val WarmupPasses = 2

  final case class Exec(query: String, latencyS: Double)

  def run(ctx: Ctx, t0Ms: Long): Unit = {
    val spark = ctx.spark
    val dir = ctx.fixtures
    val registry = graft.SparkEntry.queries
    val names = (ctx.wl \ "queries").extract[Seq[String]]
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"not registered: ${missing.mkString(",")}")
    val order = orders(names, ctx.seed)

    // set-up: first scan of every fixture table, then WarmupPasses passes,
    // the first of which also checks each query's content digest. The scan
    // queries' one-time copies (s1/s2/s3 under target/ of the working
    // directory) are written here, never in a measured pass.
    (ctx.cfg \ "tables").extract[Seq[String]].foreach(t => graft.Tables.t(spark, dir, t).count())
    phase(t0Ms, "fixture tables scanned")
    if (ctx.record) return record(ctx, names)
    for (q <- order(0)) {
      val want = ctx.expected \ "queries" \ q
      ctx.check(s"$q digest") {
        val (rows, dig) = digest(registry(q)(spark, dir))
        val ok = rows == (want \ "rows").extract[Long] && dig == (want \ "digest").extract[String]
        if (!ok) System.err.println(s"[perfbench] $q: rows=$rows digest=$dig, expected $want")
        ok
      }
      spark.sharedState.cacheManager.clearCache()
    }
    val wantRows = names.map(q => q -> (ctx.expected \ "queries" \ q \ "rows").extract[Long]).toMap
    def pass(tr: Tracer, i: Int): (Double, Seq[Exec]) = {
      val p0 = System.nanoTime()
      val execs = tr.span("pass") {
        order(i).map { q =>
          val q0 = System.nanoTime()
          ctx.check(s"$q rows") {
            tr.span(q) {
              val df = tr.span("build")(registry(q)(spark, dir))
              tr.span("exec")(df.count()) == wantRows(q)
            }
          }
          val dt = seconds(q0)
          spark.sharedState.cacheManager.clearCache()
          Exec(q, dt)
        }
      }
      val wall = seconds(p0)
      System.err.println(f"[perfbench] pass $i: $wall%.3f s " +
        execs.map(e => f"${e.query}=${e.latencyS}%.3f").mkString(" "))
      (wall, execs)
    }

    val off = new Tracer(spark.sparkContext, ctx.workload, enabled = false)
    (1 until WarmupPasses).foreach(pass(off, _))
    System.gc()
    phase(t0Ms, "warm-up passes done")
    setupDone(ctx, t0Ms)

    if (ctx.trace) {
      val rows = traced(ctx)((tr, i) => pass(tr, i + WarmupPasses))
      report(ctx, rows, names)
      return
    }
    val plain = loop(ctx.seconds)(i => pass(off, i + WarmupPasses))
    ctx.metrics("iter_s") = (median(plain.map(_._1)), "s")
    ctx.metrics("op_p50_s") = (median(plain.flatMap(_._2).map(_.latencyS)), "s")
  }

  /** Per-layer figures: sums over one traced pass, median over passes. */
  def report(ctx: Ctx, rows: Seq[Trace.Row], names: Seq[String]): Unit = {
    val passes = rows.filter(_.span.parent == 0)
    def perPass(f: Trace.Row => Seq[(String, Double)]): Map[String, Double] = {
      val sums = passes.map { p =>
        val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
        rows.filter(_.span.parent == p.span.id).foreach(q => f(q).foreach { case (k, v) => acc(k) += v })
        acc.toMap
      }
      sums.flatMap(_.keys).distinct.map(k => k -> median(sums.map(_.getOrElse(k, 0.0)))).toMap
    }
    val child = rows.groupBy(_.span.parent)
    def part(q: Trace.Row, name: String): Double =
      child.getOrElse(q.span.id, Nil).find(_.span.name == name).map(_.span.seconds).getOrElse(0.0)
    val perModule = perPass { q =>
      val m = module(q.span.name); val w = q.work
      Seq(s"$m.build_s" -> part(q, "build"), s"$m.exec_s" -> part(q, "exec"),
          s"$m.jobs" -> w.jobs.toDouble, s"$m.gap_s" -> q.gapS, s"$m.task_cpu_s" -> w.cpuNs / 1e9,
          s"$m.shuffle_bytes" -> w.shuffleRead.toDouble, s"$m.spill_bytes" -> w.spill.toDouble)
    }
    for (m <- Modules; (k, u) <- ModuleMetrics)
      ctx.metrics(s"$m.$k") = (perModule(s"$m.$k"), u)
    // only the scale layer's heavy operators can spill
    ctx.metrics("scale.spill_bytes") = (perModule("scale.spill_bytes"), "bytes")
    val perQuery = perPass(q => Seq(s"${q.span.name}.wall_s" -> q.span.seconds,
                                    s"${q.span.name}.jobs" -> q.work.jobs.toDouble))
    for (q <- names) {
      ctx.metrics(s"$q.wall_s") = (perQuery(s"$q.wall_s"), "s")
      ctx.metrics(s"$q.jobs") = (perQuery(s"$q.jobs"), "count")
    }
    ctx.metrics("spark.jobs") = (median(passes.map(_.work.jobs.toDouble)), "count")
    ctx.metrics("spark.gap_s") = (median(passes.map(_.gapS)), "s")
  }

  /** Prints each query's row count and digest, and writes its output under
    * `<out>/record/<query>` for the oracle comparison. */
  def record(ctx: Ctx, names: Seq[String]): Unit = {
    val registry = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    for (q <- names) {
      val df = registry(q)(ctx.spark, ctx.fixtures)
      val (rows, dig) = digest(df)
      df.write.mode("overwrite").parquet(ctx.out.resolve("record").resolve(q).toString)
      val sql = oracle.get(q).map(s => org.json4s.jackson.JsonMethods.compact(JString(s))).getOrElse("null")
      println(s"""{"query":"$q","rows":$rows,"digest":"$dig","oracle_sql":$sql}""")
      ctx.spark.sharedState.cacheManager.clearCache()
    }
  }
}
