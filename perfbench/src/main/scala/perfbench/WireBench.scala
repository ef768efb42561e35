package perfbench

import graft.GraftSession
import graft.engine.Auth
import graft.server.GraftHttpServer
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Wire-level load generator. Starts a real `GraftHttpServer` on loopback
  * in this JVM, drives one workload's closed-loop clients through it, checks
  * every answer and writes the measured figures as one JSON object.
  *
  * {{{
  * java -cp <classpath> perfbench.WireBench --inputs <inputs.json> --out <result.json>
  * }}}
  *
  * `inputs.json` (written by `run.py` from the seed) names the workload, the
  * parquet tables, the generated statements and the expected answers; with
  * `"trace": 1` the run replays the workload in-process with spans instead
  * and reports per-layer figures (see [[Traced]]).
  */
object WireBench {
  val User = "gizmosql_username"
  val Password = "perfbench-password"
  val Secret = "perfbench-secret"
  val InstanceId = "graft-instance"
  val PrimeS = 6.0

  /** A started server with the workload's clients connected. */
  final class Env(val server: GraftHttpServer, val port: Int, val clients: IndexedSeq[Client]) {
    def close(): Unit = server.close()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val in = Inputs.load(Paths.get(opts("inputs")))
    val bootStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.builder(s"local[${in.cores}]")
      .config("spark.local.dir", in.str("spark_local_dir"))
      .config("spark.sql.warehouse.dir", in.str("warehouse_dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val bootS = (System.currentTimeMillis() - bootStart) / 1000.0

    val tables = in.map("tables").map { case (k, v) => k -> v.toString }
    val register: SparkSession => Unit = s =>
      tables.foreach { case (n, p) => s.read.parquet(p).createOrReplaceTempView(n) }
    val workload = Inputs.workload(in)
    val passwordHash = Auth.hashPassword(Secret, Password)
    // warm-up and end-of-window checks: counted as attempts, not in latencies
    val warm = new Recorder

    def setUp(): Env = {
      val server = new GraftHttpServer(spark, Secret, passwordHash, username = User,
        instanceId = InstanceId, onSessionCreate = register, unrestrictedLicense = true)
      val port = server.start()
      val clients = (0 until workload.clients).map(_ => new WireClient(port, User, Password))
      // the first statement bootstraps each session: fixture views register
      clients.foreach(_.sql("SELECT 1"))
      workload.prepare(clients)
      new Env(server, port, clients)
    }

    // Set-up runs several times (each on a new server, the previous one
    // closed) and setup_s is the median; only the last one is measured. Its
    // sessions run every statement shape once (the JVM's first pass over
    // them), then keep running the workload until PrimeS have passed (all
    // checked, timed as prime_s): the window starts with warm plan caches
    // and a JIT that has settled. cold_start_s is JVM start to the end of
    // the first set-up plus that first pass: what a fresh process spends
    // before it answers at speed, without the repeat set-ups only the
    // benchmark makes.
    var env: Env = null
    var firstSetUpS = 0.0
    val setupS = (1 to in.int("setup_reps")).map { rep =>
      if (env != null) env.close()
      val t0 = System.nanoTime()
      env = setUp()
      if (rep == 1) firstSetUpS = (System.currentTimeMillis() - bootStart) / 1000.0
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    workload.warmup(env.clients, warm)
    val shapesS = (System.nanoTime() - t0) / 1e9
    if (in.int("trace") == 0 && shapesS < PrimeS)
      Workload.drive(workload, env.clients, PrimeS - shapesS, warm)
    val primeS = (System.nanoTime() - t0) / 1e9

    val result = Result.base(in, spark, bootS, setupS, firstSetUpS + shapesS)
    result("prime_s") = primeS
    try {
      if (in.int("trace") == 1)
        Traced.run(in, spark, env, workload, register, passwordHash, warm, result)
      else {
        val rec = new Recorder
        val gc0 = Jvm.gcMs
        val elapsed = Workload.drive(workload, env.clients, in.seconds, rec)
        result.put("window_s", elapsed)
        result.put("window_gc_ms", Jvm.gcMs - gc0)
        Result.endToEnd(rec, elapsed, result)
        workload.finish(env.clients.last, warm)
      }
    } finally env.close()
    val warmOps = warm.ops.asScala.toSeq
    result("attempted") = result("attempted").asInstanceOf[Int] + warmOps.size
    result("failed") = result("failed").asInstanceOf[Int] + warmOps.count(!_.ok)
    result("unwindowed_errors") = warmOps.filterNot(_.ok).map(o => s"${o.cls}: ${o.error}").distinct.take(8)
    result.put("peak_rss_mb", Jvm.peakRssMb)
    Files.writeString(Paths.get(opts("out")), Result.json(result))
    spark.stop()
  }
}

/** The inputs file, parsed with Jackson into plain maps and lists. */
final class Inputs(raw: java.util.Map[String, AnyRef]) {
  def get(k: String): AnyRef = Option(raw.get(k)).getOrElse(
    throw new IllegalArgumentException(s"inputs: missing '$k'"))
  def str(k: String): String = get(k).toString
  def int(k: String): Int = get(k).toString.toDouble.toInt
  def seconds: Double = get("seconds").toString.toDouble
  def cores: Int = int("cores")
  def map(k: String): Map[String, AnyRef] =
    get(k).asInstanceOf[java.util.Map[String, AnyRef]].asScala.toMap
  def list(k: String): IndexedSeq[AnyRef] =
    get(k).asInstanceOf[java.util.List[AnyRef]].asScala.toIndexedSeq
}

object Inputs {
  def load(p: Path): Inputs = new Inputs(new com.fasterxml.jackson.databind.ObjectMapper()
    .readValue(p.toFile, classOf[java.util.Map[String, AnyRef]]))

  private def seq(x: AnyRef): IndexedSeq[AnyRef] =
    x.asInstanceOf[java.util.List[AnyRef]].asScala.toIndexedSeq
  private def obj(x: AnyRef): Map[String, AnyRef] =
    x.asInstanceOf[java.util.Map[String, AnyRef]].asScala.toMap
  private def num(x: AnyRef): Long = x.toString.toDouble.toLong

  def workload(in: Inputs): Workload = in.str("workload") match {
    case "tpch" =>
      new TpchWorkload(in.list("queries").map { q =>
        val m = obj(q)
        (num(m("nr")).toInt, m("sql").toString,
          Files.readString(Paths.get(m("answer").toString)))
      })
    case "arrow_bulk" =>
      val exports = in.list("exports").map { e =>
        val m = obj(e)
        Export(m("cls").toString, m("sql").toString, num(m("rows")),
          seq(m("checks")).map { c =>
            val cm = obj(c)
            Checksum(cm("kind").toString, num(cm("col")).toInt, cm("value").toString)
          })
      }
      val payloads = in.list("payloads").map(obj)
      new ArrowBulkWorkload(exports,
        payloads.map(p => Files.readAllBytes(Paths.get(p("path").toString))),
        payloads.map(p => num(p("rows"))), in.str("ingest_table"))
    case "dml_serial" =>
      val d = in.map("dml")
      new DmlWorkload(d("table").toString,
        seq(d("initial")).map { kv => val s = seq(kv); (num(s(0)), num(s(1))) },
        seq(d("writes")).map { w => val s = seq(w); (s(0).toString, num(s(1)), num(s(2))) },
        seq(d("reads")).map(r => seq(r).map { x => val s = seq(x); (s(0).toString, num(s(1))) }),
        seq(d("hot_keys")).map(num))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
