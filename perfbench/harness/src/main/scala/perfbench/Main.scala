package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, pmod, sum, to_json, xxhash64}
import org.apache.spark.sql.types.MapType
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

/** Benchmark harness. It drives the program only through its public entry
  * points (`AutoTimeseries`, the `graft.models` families, `FreqInfer` and
  * the `SparkEntry.queries` registry) and prints one JSON result line.
  *
  * Started by `perfbench/run.py`, which builds it and passes
  * `--config --expected --fixtures --out --workload --seed --seconds
  * --trace --t0-ms`, plus `--record` to print fresh expected values
  * instead of checking them. */
object Main {
  implicit val formats: Formats = DefaultFormats

  final class Ctx(val spark: SparkSession, val opts: Map[String, String], val cfg: JValue,
                  val expected: JValue) {
    val workload: String = opts("workload")
    val seed: Long = opts("seed").toLong
    val seconds: Double = opts("seconds").toDouble
    val trace: Boolean = opts("trace") == "1"
    val record: Boolean = opts.contains("record")
    val fixtures: String = opts("fixtures")
    val out: Path = Paths.get(opts("out"))
    val wl: JValue = cfg \ "workloads" \ workload
    var attempted = 0L
    var failed = 0L
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

    /** One checked operation: an exception or a false result is a failure. */
    def check(what: String)(body: => Boolean): Boolean = {
      attempted += 1
      val ok = try body catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $what threw: $e"); false
      }
      if (!ok) { failed += 1; System.err.println(s"[perfbench] FAILED $what") }
      ok
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap ++ args.filter(_ == "--record").map(_.drop(2) -> "1")
    val t0Ms = opts.get("t0-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val cfg = parse(Files.readString(Paths.get(opts("config"))))
    val expected = parse(Files.readString(Paths.get(opts("expected"))))
    val spark = session(cfg \ "session", Runtime.getRuntime.availableProcessors)
    phase(t0Ms, "session ready")
    try {
      val ctx = new Ctx(spark, opts, cfg, expected)
      if (ctx.workload == "automl") AutomlWorkload.run(ctx, t0Ms) else QueryWorkload.run(ctx, t0Ms)
      if (!ctx.record) println(result(ctx))
    } finally spark.stop()
  }

  /** The session `graft.Bench` runs with, as the config's `session` block
    * gives it, with `{nproc}` replaced by `cpus`. */
  def session(conf: JValue, cpus: Int): SparkSession = {
    def v(x: JValue): String = x.extract[String].replace("{nproc}", cpus.toString)
    val b = SparkSession.builder().master(v(conf \ "master")).appName("perfbench")
    val JObject(kvs) = conf \ "conf": @unchecked
    kvs.foreach { case (k, x) => b.config(k, v(x)) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Logs how far into the run a set-up phase ended. */
  def phase(t0Ms: Long, what: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - t0Ms) / 1e3}%.3f s: $what")

  /** Ends set-up. Its time is an end-to-end metric, so a traced run only
    * logs it. */
  def setupDone(ctx: Ctx, t0Ms: Long): Unit = {
    val s = (System.currentTimeMillis() - t0Ms) / 1e3
    phase(t0Ms, "set-up done")
    if (!ctx.trace) ctx.metrics("setup_s") = (s, "s")
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Time-boxed closed loop: at least one round, then more while the
    * measured budget lasts. */
  def loop[A](budgetS: Double)(round: Int => A): Seq[A] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[A]
    while (out.isEmpty || seconds(t0) < budgetS) out += round(out.length)
    out.toSeq
  }

  /** Order-independent digest of a frame's content: row count, plus the
    * sum and the xor of one 64-bit hash per row over all its columns (map
    * columns, which Spark does not hash, enter as their JSON form). */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toIndexedSeq.map { f =>
      val c = col(s"`${f.name}`")
      if (f.dataType.isInstanceOf[MapType]) to_json(c) else c
    }
    val h = xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), sum(pmod(h, lit(2147483647L))), bit_xor(h)).head()
    val s = if (r.isNullAt(1)) 0L else r.getLong(1)
    val x = if (r.isNullAt(2)) 0L else r.getLong(2)
    (r.getLong(0), f"$s%x-$x%016x")
  }

  /** Fresh, deterministic order of a list: the seed picks the base
    * permutation and each round reshuffles from the same generator, so a
    * stall never lands on the same neighbourhood twice. */
  def orders(names: Seq[String], seed: Long): Int => Seq[String] = {
    val rnd = new Random(seed)
    val memo = mutable.ArrayBuffer.empty[Seq[String]]
    i => { while (memo.length <= i) memo += rnd.shuffle(names); memo(i) }
  }

  def result(ctx: Ctx): String = {
    val ms = ctx.metrics.map { case (k, (v, u)) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s""""$k":{"value":${java.lang.Double.toString(v)},"unit":"$u"}"""
    }.mkString(",")
    s"""{"correct":${ctx.failed == 0},"attempted":${ctx.attempted},"failed":${ctx.failed},"metrics":{$ms}}"""
  }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }

  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  /** Per-span rows for the traced rounds, written to the run's trace file. */
  def writeSpans(ctx: Ctx, rows: Seq[Trace.Row]): Unit = {
    Files.createDirectories(ctx.out)
    val f = ctx.out.resolve(s"trace-${ctx.workload}-${ctx.seed}.json")
    Files.writeString(f, rows.map(Trace.toJson).mkString("[\n", ",\n", "\n]\n"))
    System.err.println(s"[perfbench] ${rows.length} spans written to $f")
  }

  /** Runs traced rounds for the measured budget and returns their span
    * rows. Also reports each round's wall time (`trace.iter_s`, to set
    * against the untraced runs' `iter_s`) and the tracing overhead per
    * round: the time spent opening and closing spans plus the time the
    * listener spent in its callbacks. */
  def traced(ctx: Ctx)(round: (Tracer, Int) => Unit): Seq[Trace.Row] = {
    val sc = ctx.spark.sparkContext
    val listener = new SpanListener
    sc.addSparkListener(listener)
    val tr = new Tracer(sc, s"${ctx.workload}-${ctx.seed}", enabled = true)
    val walls = try loop(ctx.seconds) { i =>
      val t0 = System.nanoTime(); round(tr, i); seconds(t0)
    } finally {
      listener.drain(sc)
      sc.removeSparkListener(listener)
    }
    val spans = tr.recorded
    val rows = Trace.rows(spans, listener.workBySpan(spans))
    writeSpans(ctx, rows)
    ctx.metrics("trace.iter_s") = (median(walls), "s")
    ctx.metrics("trace.overhead_s") =
      ((tr.bookkeepingSeconds + listener.callbackSeconds) / walls.length, "s")
    ctx.metrics("trace.coverage") = (checkCoverage(ctx, spans), "ratio")
    rows
  }

  /** Checks that each root span (one traced iteration or pass) is covered
    * by its direct children to within the configured share; returns the
    * lowest coverage seen. */
  def checkCoverage(ctx: Ctx, spans: Seq[Span]): Double = {
    val need = (ctx.cfg \ "trace_coverage_min").extract[Double]
    spans.filter(_.parent == 0).map { s =>
      val c = Trace.coverage(s, spans)
      ctx.check(f"coverage of ${s.name} ${s.id}: $c%.4f >= $need")(c >= need)
      c
    }.min
  }
}
