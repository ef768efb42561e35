package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The run's figures, as an ordered map that serializes to JSON. */
object Result {
  type R = mutable.LinkedHashMap[String, Any]

  def base(in: Inputs, spark: SparkSession, bootS: Double, setupS: Seq[Double],
      coldStartS: Double): R = {
    val r = new R
    r("workload") = in.str("workload")
    r("spark_default_parallelism") = spark.sparkContext.defaultParallelism
    r("jvm_max_heap_mb") = Runtime.getRuntime.maxMemory / 1048576
    val conf = spark.sparkContext.getConf
    r("spark_scratch") = mutable.LinkedHashMap(
      "spark.local.dir" -> conf.getOption("spark.local.dir").orNull,
      "spark.shuffle.compress" -> conf.get("spark.shuffle.compress", "true"),
      "spark.shuffle.spill.compress" -> conf.get("spark.shuffle.spill.compress", "true"),
      "spark.broadcast.compress" -> conf.get("spark.broadcast.compress", "true"))
    r("boot_s") = bootS
    r("setup_runs_s") = setupS
    r("setup_s") = Stats.median(setupS)
    r("cold_start_s") = coldStartS
    r
  }

  private def ms(ns: Long): Double = ns / 1e6

  /** End-to-end figures of one wire window. */
  def endToEnd(rec: Recorder, elapsedS: Double, r: R): Unit = {
    val ops = rec.ops.asScala.toVector
    val lat = ops.map(o => ms(o.latNs))
    val failed = ops.filterNot(_.ok)
    val reads = ops.filter(o => o.kind == "read" || o.kind == "export")
    r("attempted") = ops.size
    r("failed") = failed.size
    r("ops_per_s") = (ops.size - failed.size) / elapsedS
    // Statement classes differ in cost by up to 10x (a lineitem export vs an
    // embeddings export, an UPDATE vs a point read), so a plain median over
    // the mix jumps between classes as their counts shift. Latency is
    // therefore taken per class: p50 is the geometric mean of class medians,
    // and the tail scales it by a quantile of latency / class median.
    val byClass = ops.groupBy(_.cls).map { case (c, os) => c -> Stats.median(os.map(o => ms(o.latNs))) }
    val p50 = math.exp(byClass.values.map(v => math.log(math.max(v, 1e-6))).sum / byClass.size)
    val (p, tailRatio) = Stats.tail(ops.map(o => ms(o.latNs) / byClass(o.cls)))
    r("latency_p50_ms") = p50
    r("latency_tail_ms") = p50 * tailRatio
    r("latency_tail_percentile") = p
    r("latency_samples") = lat.size
    r("latency_mix_p50_ms") = Stats.median(lat)
    r("error_rate") = if (ops.isEmpty) 0.0 else failed.size.toDouble / ops.size
    r("stale_read_rate") =
      if (reads.isEmpty) 0.0 else reads.count(_.stale).toDouble / reads.size
    r("errors") = failed.map(o => s"${o.cls}: ${o.error}").distinct.take(8)
    // figures that apply to some workloads only (artifact, not gated)
    def kindP50(kind: String*) = Stats.median(ops.filter(o => kind.contains(o.kind)).map(o => ms(o.latNs)))
    def mbPerS(kind: String, bytes: Op => Long) = {
      val k = ops.filter(o => o.kind == kind && o.ok)
      val s = k.map(_.latNs).sum / 1e9
      if (s == 0) 0.0 else k.map(bytes).sum / 1e6 / s
    }
    val passes = rec.passes.asScala.toVector
    r("workload_metrics") = mutable.LinkedHashMap[String, Any](
      "pass_s" -> Stats.median(passes),
      "passes_s" -> passes,
      "read_p50_ms" -> kindP50("read", "export"),
      "write_p50_ms" -> kindP50("write", "ingest"),
      "export_mb_per_s" -> mbPerS("export", _.bytesOut),
      "ingest_mb_per_s" -> mbPerS("ingest", _.bytesIn),
      "per_class_p50_ms" -> mutable.LinkedHashMap.from(
        ops.groupBy(_.cls).toSeq.sortBy(_._1).map { case (c, os) =>
          c -> Stats.median(os.map(o => ms(o.latNs)))
        }))
  }

  def json(x: Any): String = x match {
    case null | None => "null"
    case Some(v) => json(v)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, v) => quote(k.toString) + ":" + json(v) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}
