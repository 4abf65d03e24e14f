package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One closed interval of the benchmark's own timeline. `parent` is 0 for
  * a root span; every span of one run shares `run`. */
final case class Span(id: Int, parent: Int, name: String, run: String,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span: counters summed over the jobs whose
  * submission the span enclosed, plus the jobs' wall intervals (epoch ms). */
final class SparkWork {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    intervals ++= o.intervals
  }
}

/** Listener that files every job, stage and task under the span that was
  * open when the job was submitted. The span id travels as a local
  * property, which Spark copies into each job it submits on the caller's
  * behalf; a job without it is placed later by its submission time. */
final class SpanListener extends SparkListener {
  private final class Job(val span: Int, val startMs: Long) { @volatile var endMs = -1L }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageCount = new ConcurrentHashMap[Int, java.lang.Long]()
  private val taskWork = new ConcurrentHashMap[Int, SparkWork]() // by job id
  @volatile private var drained: CountDownLatch = _
  @volatile private var drainJob = -1
  private val busyNs = new java.util.concurrent.atomic.AtomicLong()

  /** Time spent inside this listener's callbacks so far. */
  def callbackSeconds: Double = busyNs.get / 1e9

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally busyNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    if (props.exists(_.getProperty(Trace.DrainKey) != null)) drainJob = e.jobId
    else {
      val span = props.flatMap(p => Option(p.getProperty(Trace.SpanKey))).map(_.toInt).getOrElse(-1)
      jobs.put(e.jobId, new Job(span, e.time))
      e.stageIds.foreach(stageJob.put(_, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    val j = jobs.get(e.jobId)
    if (j != null) j.endMs = e.time
    else if (e.jobId == drainJob && drained != null) drained.countDown()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    stageCount.merge(e.stageInfo.stageId, 1L, (a: java.lang.Long, b: java.lang.Long) => a + b)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    if (stageJob.containsKey(e.stageId)) {
      val w = taskWork.computeIfAbsent(stageJob.get(e.stageId), _ => new SparkWork)
      val m = e.taskMetrics
      w.synchronized {
        w.tasks += 1
        if (m != null) {
          w.runMs += m.executorRunTime; w.cpuNs += m.executorCpuTime; w.gcMs += m.jvmGCTime
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Blocks until every event posted before this call has been delivered:
    * the listener bus is FIFO, so once a marker job's end arrives, so has
    * everything before it. */
  def drain(sc: SparkContext): Unit = {
    drained = new CountDownLatch(1)
    sc.setLocalProperty(Trace.DrainKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Trace.DrainKey, null)
    if (!drained.await(60, TimeUnit.SECONDS))
      System.err.println("[perfbench] listener bus did not drain within 60 s")
  }

  /** Work per span id. A job submitted without a span id goes to the
    * innermost span whose interval holds its submission time. */
  def workBySpan(spans: Seq[Span]): Map[Int, SparkWork] = {
    val bySpan = mutable.Map.empty[Int, SparkWork]
    def innermost(ms: Long): Int = {
      val hits = spans.filter(s => s.startMs <= ms && ms <= s.endMs)
      if (hits.isEmpty) -1 else hits.maxBy(_.startNs).id
    }
    for ((id, j) <- jobs.asScala) {
      val span = if (j.span >= 0) j.span else innermost(j.startMs)
      val w = bySpan.getOrElseUpdate(span, new SparkWork)
      w.jobs += 1
      w.intervals += ((j.startMs, if (j.endMs < 0) j.startMs else j.endMs))
      Option(taskWork.get(id)).foreach(w.add)
    }
    for ((stage, job) <- stageJob.asScala; j = jobs.get(job) if j != null) {
      val span = if (j.span >= 0) j.span else innermost(j.startMs)
      val n = Option(stageCount.get(stage)).map(_.longValue).getOrElse(0L)
      bySpan.getOrElseUpdate(span, new SparkWork).stages += n
    }
    bySpan.toMap
  }

}

/** In-memory span recorder. A disabled tracer runs the body and records
  * nothing, so the untraced timings carry no bookkeeping. */
final class Tracer(sc: SparkContext, run: String, enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var bookkeepingNs = 0L

  /** Time spent opening and closing spans so far. */
  def bookkeepingSeconds: Double = bookkeepingNs / 1e9

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val a0 = System.nanoTime()
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setLocalProperty(Trace.SpanKey, id.toString)
      val m0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime(); val m1 = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Trace.SpanKey, stack.headOption.map(_.toString).orNull)
        spans += Span(id, parent, name, run, t0, t1, m0, m1)
        bookkeepingNs += (t0 - a0) + (System.nanoTime() - t1)
      }
    }

  def recorded: Seq[Span] = spans.toSeq
}

object Trace {
  val SpanKey = "perfbench.span"
  val DrainKey = "perfbench.drain"

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Spans with their inclusive Spark work (own jobs plus descendants'),
    * self time and wait time, ready to aggregate or write out. */
  final case class Row(span: Span, work: SparkWork, selfS: Double, gapS: Double)

  def rows(spans: Seq[Span], own: Map[Int, SparkWork]): Seq[Row] = {
    val children = spans.groupBy(_.parent)
    val inclusive = mutable.Map.empty[Int, SparkWork]
    def incl(s: Span): SparkWork = inclusive.get(s.id) match {
      case Some(w) => w
      case None =>
        val w = new SparkWork
        own.get(s.id).foreach(w.add)
        children.getOrElse(s.id, Nil).foreach(c => w.add(incl(c)))
        inclusive(s.id) = w
        w
    }
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      val self = (s.endNs - s.startNs - covered(kids, s.startNs, s.endNs)) / 1e9
      val w = incl(s)
      val busy = covered(w.intervals, s.startMs, s.endMs)
      val gap = math.max(0.0, s.seconds - busy / 1e3)
      Row(s, w, self, gap)
    }
  }

  /** Share of a span's wall time that its direct children cover. */
  def coverage(s: Span, spans: Seq[Span]): Double = {
    val kids = spans.filter(_.parent == s.id).map(c => (c.startNs, c.endNs))
    covered(kids, s.startNs, s.endNs).toDouble / math.max(1L, s.endNs - s.startNs)
  }

  def toJson(r: Row): String = {
    val s = r.span; val w = r.work
    f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","run":"${s.run}",""" +
    f""""start_ns":${s.startNs},"end_ns":${s.endNs},"wall_s":${s.seconds}%.6f,""" +
    f""""self_s":${r.selfS}%.6f,"gap_s":${r.gapS}%.6f,"jobs":${w.jobs},"stages":${w.stages},""" +
    f""""tasks":${w.tasks},"task_run_s":${w.runMs / 1e3}%.3f,"task_cpu_s":${w.cpuNs / 1e9}%.6f,""" +
    f""""gc_s":${w.gcMs / 1e3}%.3f,"shuffle_read_bytes":${w.shuffleRead},""" +
    f""""shuffle_write_bytes":${w.shuffleWrite},"spill_bytes":${w.spill}}"""
  }
}
