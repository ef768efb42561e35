package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The traced run. The window is split in three equal phases over the same
  * workload (statement cursors restart at each phase):
  *
  *  A. over the wire, untraced — client-side time to first byte, body time
  *     and bytes, and per-statement wire latency;
  *  B. in-process with spans ([[InProcessClient]] + [[ExecListener]]) —
  *     every per-layer figure, JVM and storage deltas;
  *  C. in-process without spans — the baseline for the tracing overhead.
  *
  * B and C call the same entry points as the server's handlers, so the
  * three phases do the same engine work. Steps that run inside
  * `Statement.create` (dialect pass, parser, manifest check) are timed after
  * C, on their own, over the `/sql` texts B ran.
  *
  * Per-statement medians pair the phases: `server.overhead_ms` is wire
  * latency (A) minus traced in-process latency (B) of the same statement
  * class, `trace.overhead_pct` is B over C.
  */
object Traced {
  private def ms(ns: Long): Double = ns / 1e6
  private val ProbeTexts = 500

  private def perClass(rec: Recorder): Map[String, Double] =
    rec.ops.asScala.toVector.groupBy(_.cls).map { case (c, os) =>
      c -> Stats.median(os.map(o => ms(o.latNs)))
    }

  /** Median over statement classes present in both of `f(a, b)`. */
  private def paired(a: Map[String, Double], b: Map[String, Double])(f: (Double, Double) => Double) =
    Stats.median(a.keySet.intersect(b.keySet).toSeq.map(k => f(a(k), b(k))))

  private def files(root: Path): Map[String, (Long, Long)] =
    if (!Files.isDirectory(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally s.close()
    }

  def run(in: Inputs, spark: SparkSession, env: WireBench.Env, w: Workload,
      register: SparkSession => Unit, passwordHash: String, warm: Recorder,
      r: Result.R): Unit = {
    val phase = in.seconds / 3
    val sc = spark.sparkContext

    // A: wire, untraced
    val recA = new Recorder
    w.rebind(env.clients)
    Workload.drive(w, env.clients, phase, recA)

    // B: in-process, traced. Handshake and session bootstrap are recorded,
    // then the new sessions warm up untraced like the wire sessions did.
    val tracer = new Tracer(recording = true, sc)
    val quiet = new Tracer(recording = false, sc)
    val listener = new ExecListener(tracer)
    sc.addSparkListener(listener)
    val clients = (0 until w.clients).map(_ =>
      new InProcessClient(env.server, WireBench.Secret, passwordHash, WireBench.Password,
        WireBench.User, WireBench.InstanceId, tracer, register))
    clients.foreach(_.connect())
    clients.foreach(_.tracer = quiet)
    w.rebind(clients)
    w.warmup(clients, warm)
    clients.foreach(_.tracer = tracer)
    val warehouse = Paths.get(in.str("warehouse_dir"))
    val before = files(warehouse)
    val (gc0, jit0) = (Jvm.gcMs, Jvm.jitMs)
    Jvm.resetHeapPeak()
    val recB = new Recorder
    w.rebind(clients)
    val secondsB = Workload.drive(w, clients, phase, recB)
    val (gcMs, jitMs, heapMb) = (Jvm.gcMs - gc0, Jvm.jitMs - jit0, Jvm.heapPeakMb)
    val after = files(warehouse)
    // the listener bus is asynchronous: let it deliver the window's events
    val drainBy = System.nanoTime() + 3000000000L
    while (listener.openJobs > 0 && System.nanoTime() < drainBy) Thread.sleep(20)
    sc.removeSparkListener(listener)

    // C: the same in-process sessions, untraced
    val recC = new Recorder
    clients.foreach(_.tracer = quiet)
    w.rebind(clients)
    Workload.drive(w, clients, phase, recC)
    w.finish(clients.last, warm)
    for (c <- clients; text <- c.texts.asScala.take(ProbeTexts)) c.probe(text, tracer)
    val tableRows = w.ownedTable.map { t =>
      clients.head.sql(s"SELECT count(*) FROM $t").rows.head.head.toString.toLong
    }.getOrElse(0L)
    val parquetBytes = files(warehouse).collect {
      case (p, (size, _)) if p.endsWith(".parquet") => size
    }.sum

    val all = Seq(recA, recB, recC).flatMap(_.ops.asScala)
    r("attempted") = all.size
    r("failed") = all.count(!_.ok)
    r("errors") = all.filterNot(_.ok).map(o => s"${o.cls}: ${o.error}").distinct.take(8)
    r("stale_reads") = all.count(_.stale)

    val spans = tracer.spans.asScala.toVector
    val selfMs = Layers.selfMsByName(spans)
    val totalMs = spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.ms) }
    def med(name: String) = Stats.median(totalMs.getOrElse(name, Nil))
    def medSelf(name: String) = Stats.median(selfMs.getOrElse(name, Nil))
    def mean(name: String) = {
      val xs = totalMs.getOrElse(name, Nil); if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val opsA = recA.ops.asScala.toVector
    val opsB = recB.ops.asScala.toVector
    val nB = math.max(1, opsB.size).toDouble
    val rows = tracer.counted("arrow.rows").toDouble
    val arrowSelfS = selfMs.getOrElse("arrow.write", Nil).sum / 1000
    val written = after.filter { case (p, v) => !before.get(p).contains(v) }
    val writeOpsB = opsB.filter(o => o.kind == "write" || o.kind == "ingest")
    val userBytes = writeOpsB.map(_.bytesIn).sum.toDouble
    val wireA = perClass(recA)
    val tracedB = perClass(recB)
    val untracedC = perClass(recC)
    def catalyst(phase: String) =
      Stats.median(Option(tracer.catalystMs.get(phase)).fold(Seq.empty[Double])(_.asScala.toSeq))

    r("metrics") = mutable.LinkedHashMap[String, Double](
      "server.ttfb_ms" -> Stats.median(opsA.map(o => ms(o.ttfbNs))),
      "server.body_ms" -> Stats.median(opsA.map(o => ms(o.bodyNs))),
      "server.overhead_ms" -> paired(wireA, tracedB)(_ - _),
      "server.bytes_in" -> ratio(opsA.map(_.bytesIn).sum.toDouble, opsA.size),
      "server.bytes_out" -> ratio(opsA.map(_.bytesOut).sum.toDouble, opsA.size),
      "auth.handshake_ms" -> med("auth.handshake"),
      "auth.validate_us" -> med("auth.validate") * 1000,
      "session.bootstrap_ms" -> med("session.bootstrap"),
      "admission.wait_ms" -> mean("admission.wait"),
      "admission.rejected" -> tracer.counted("admission.rejected").toDouble,
      "statement.create_ms" -> med("statement.create"),
      "manifest.refresh_ms" -> med("manifest.refresh"),
      "plancache.hit_ratio" ->
        ratio(tracer.counted("plancache.hits").toDouble, tracer.counted("plancache.repeats").toDouble),
      "dialect.rewrite_ms" -> med("dialect.rewrite"),
      "dialect.identity_ratio" ->
        ratio(tracer.counted("dialect.identity").toDouble, tracer.counted("dialect.statements").toDouble),
      "catalyst.parse_ms" -> med("catalyst.parse"),
      "catalyst.analyze_ms" -> catalyst("analysis"),
      "catalyst.optimize_ms" -> catalyst("optimization"),
      "catalyst.plan_ms" -> catalyst("planning"),
      "exec.jobs" -> listener.jobCount.sum / nB,
      "exec.stages" -> listener.stageCount.sum / nB,
      "exec.tasks" -> listener.taskCount.sum / nB,
      "exec.task_ms" -> listener.taskMs.sum / nB,
      "exec.stage_gap_ms" -> listener.stageGapMs.sum / nB,
      "exec.shuffle_read_mb" -> listener.shuffleReadBytes.sum / 1e6 / nB,
      "exec.shuffle_write_mb" -> listener.shuffleWriteBytes.sum / 1e6 / nB,
      "exec.spill_mb" -> listener.spillBytes.sum / 1e6 / nB,
      "exec.cpu_util" -> listener.taskMs.sum / (secondsB * 1000 * sc.defaultParallelism),
      "arrow.write_ms" -> medSelf("arrow.write"),
      "arrow.rows_per_s" -> ratio(rows, arrowSelfS),
      "arrow.bytes_per_row" -> ratio(tracer.counted("arrow.bytes").toDouble, rows),
      "arrow.decode_ms" -> med("arrow.decode"),
      "ingest.commit_ms" -> med("ingest.commit"),
      "storage.bytes_written_per_user_byte" -> ratio(written.values.map(_._1).sum.toDouble, userBytes),
      "storage.files_written" -> ratio(written.size.toDouble, writeOpsB.size),
      "storage.live_bytes_per_row" -> ratio(parquetBytes.toDouble, tableRows),
      "jvm.gc_ms" -> gcMs.toDouble,
      "jvm.jit_ms" -> jitMs.toDouble,
      "jvm.heap_peak_mb" -> heapMb,
      "trace.overhead_pct" -> paired(tracedB, untracedC)((b, c) => (b / c - 1) * 100))

    r("layers") = mutable.LinkedHashMap.from(Layers.summarize(spans).toSeq.sortBy(_._1).map {
      case (n, l) => n -> mutable.LinkedHashMap[String, Any](
        "calls" -> l.calls, "total_ms" -> l.totalMs, "self_ms" -> l.selfMs, "median_ms" -> l.medianMs)
    })
    r("phase_ops") = Seq(recA, recB, recC).map(_.ops.size)
    r("trace_latency_p50_ms") = mutable.LinkedHashMap(
      "wire_untraced" -> Stats.median(opsA.map(o => ms(o.latNs))),
      "inprocess_traced" -> Stats.median(opsB.map(o => ms(o.latNs))),
      "inprocess_untraced" -> Stats.median(recC.ops.asScala.toSeq.map(o => ms(o.latNs))))
    val spanFile = Paths.get(in.str("spans_out"))
    Files.write(spanFile, Layers.asJson(spans).toSeq.asJava)
    r("spans_file") = spanFile.toString
    r("span_count") = spans.size
  }
}
