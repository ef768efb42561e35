package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** One timed call. Spans of one request share `request`; `parent` is 0 at
  * the request root.
  */
final case class Span(id: Long, request: Long, parent: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. With `recording` off every wrapper just runs
  * its body, which is what the untraced in-process replay uses to measure
  * the recorder's own overhead.
  */
final class Tracer(val recording: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val counts = new ConcurrentHashMap[String, LongAdder]()
  private val stack = new ThreadLocal[List[(Long, Long)]] { // (span, request)
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private val nano0 = System.nanoTime()
  private val milli0 = System.currentTimeMillis()
  def nanosOf(epochMs: Long): Long = nano0 + (epochMs - milli0) * 1000000L

  def currentRequest: Long = stack.get.headOption.fold(0L)(_._2)
  def currentSpan: Long = stack.get.headOption.fold(0L)(_._1)

  private def timed[A](name: String, request: Long)(f: => A): A =
    if (!recording) f
    else {
      val id = ids.getAndIncrement()
      val req = if (request == 0L) id else request
      val parent = currentSpan
      stack.set((id, req) :: stack.get)
      // Spark jobs started under this span on this thread attach to it
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        sc.setLocalProperty(Tracer.SpanProp, if (parent == 0L) null else parent.toString)
        spans.add(Span(id, req, parent, name, t0, t1))
      }
    }

  /** Root span of one client request; Spark jobs the calling thread starts
    * are tagged with its id so the listener can attach them.
    */
  def request[A](name: String)(f: => A): A =
    if (!recording) f
    else timed(name, 0L) {
      sc.setLocalProperty(Tracer.RequestProp, currentRequest.toString)
      try f finally sc.setLocalProperty(Tracer.RequestProp, null)
    }

  def span[A](name: String)(f: => A): A = timed(name, currentRequest)(f)

  def count(name: String): Unit = countAdd(name, 1L)
  def countAdd(name: String, n: Long): Long = {
    if (recording) counts.computeIfAbsent(name, _ => new LongAdder).add(n)
    n
  }
  def counted(name: String): Long = Option(counts.get(name)).fold(0L)(_.sum)

  // Plan reuse: the DataFrame Statement.create returned last time for the
  // same (session, text). A repeat that returns the same instance was served
  // from PlanCache.
  private val lastPlan = new ConcurrentHashMap[(String, String), AnyRef]()
  private val seenPlans = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
  val catalystMs = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()

  /** Record plan-cache reuse and, for a DataFrame seen for the first time,
    * the Catalyst phase times its `QueryExecution.tracker` kept. Call after
    * the result was streamed, so the planning phase has run.
    */
  def planSeen(session: String, text: String, df: org.apache.spark.sql.DataFrame,
      cacheable: Boolean): Unit = if (recording) {
    if (cacheable) {
      val prev = lastPlan.put((session, text), df)
      if (prev != null) {
        count("plancache.repeats")
        if (prev eq df) count("plancache.hits")
      }
    }
    val first = seenPlans.synchronized(seenPlans.add(df))
    if (first) df.queryExecution.tracker.phases.foreach { case (phase, summary) =>
      catalystMs.computeIfAbsent(phase, _ => new ConcurrentLinkedQueue[Double]())
        .add(summary.durationMs.toDouble)
    }
  }
}

object Tracer {
  val RequestProp = "perfbench.request"
  val SpanProp = "perfbench.span"
}

/** Spark scheduler events of traced requests: one `exec.job` span per job
  * (child of the span that ran it) and one `exec.stage` span per stage,
  * plus the task-level totals the per-layer metrics need.
  */
final class ExecListener(tracer: Tracer) extends SparkListener {
  import ExecListener.JobTag
  private val jobs = new ConcurrentHashMap[Int, JobTag]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val longestTask = new ConcurrentHashMap[Int, java.lang.Long]()
  private val ids = new AtomicLong(1L << 40)
  val jobCount, stageCount, taskCount = new LongAdder
  def openJobs: Int = jobs.size
  val taskMs, stageGapMs, shuffleReadBytes, shuffleWriteBytes, spillBytes = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.RequestProp))).foreach { r =>
      val parent = Option(e.properties.getProperty(Tracer.SpanProp)).fold(0L)(_.toLong)
      jobs.put(e.jobId, JobTag(r.toLong, parent, ids.getAndIncrement(), e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobCount.increment()
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { t =>
      tracer.spans.add(Span(t.spanId, t.request, t.parent, "exec.job",
        tracer.nanosOf(t.startMs), tracer.nanosOf(e.time)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageJob.containsKey(e.stageId) && e.taskInfo != null) {
      taskCount.increment()
      taskMs.add(e.taskInfo.duration)
      longestTask.merge(e.stageId, e.taskInfo.duration, (a, b) => math.max(a, b))
      Option(e.taskMetrics).foreach { m =>
        shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
        shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.add(m.diskBytesSpilled)
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageJob.remove(info.stageId)).foreach { jobId =>
      stageCount.increment()
      for (s <- info.submissionTime; c <- info.completionTime) {
        val longest = Option(longestTask.remove(info.stageId)).fold(0L)(_.longValue)
        stageGapMs.add(math.max(0L, (c - s) - longest))
        val parent = Option(jobs.get(jobId))
        tracer.spans.add(Span(ids.getAndIncrement(), parent.fold(0L)(_.request),
          parent.fold(0L)(_.spanId), "exec.stage", tracer.nanosOf(s), tracer.nanosOf(c)))
      }
    }
  }
}

object ExecListener {
  private final case class JobTag(request: Long, parent: Long, spanId: Long, startMs: Long)
}

/** Per-layer aggregation of a finished trace. */
object Layers {
  final case class Layer(calls: Long, totalMs: Double, selfMs: Double, medianMs: Double)

  def summarize(spans: Seq[Span]): Map[String, Layer] = {
    val self = selfMsByName(spans)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> Layer(ss.size.toLong, ss.map(_.ms).sum, self(name).sum, Stats.median(ss.map(_.ms)))
    }
  }

  /** Self time = span minus the spans directly under it. */
  def selfMsByName(spans: Seq[Span]): Map[String, Seq[Double]] = {
    val childMs = spans.filter(_.parent != 0L)
      .groupMapReduce(_.parent)(_.ms)(_ + _)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => math.max(0.0, s.ms - childMs.getOrElse(s.id, 0.0)))
    }
  }

  def asJson(spans: Iterable[Span]): Iterator[String] = spans.iterator.map { s =>
    s"""{"id":${s.id},"request":${s.request},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest of p50…p99.9 with at least 10 samples beyond it. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val ps = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
    val p = ps.find(p => xs.size * (1 - p / 100) >= 10).getOrElse(50.0)
    (p, quantile(xs, p / 100))
  }
}

object Jvm {
  import java.lang.management.ManagementFactory
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).fold(0L)(_.getTotalCompilationTime)
  def resetHeapPeak(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
  /** Peak resident set of this process (`VmHWM`), MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
