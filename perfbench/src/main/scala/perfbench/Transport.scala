package perfbench

import graft.engine.{Auth, ManifestCatalog, SessionState, Statement}
import graft.server.GraftHttpServer
import graft.sources.{ArrowIO, Ingest}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader

/** What one statement returned, as the client saw it: the response body
  * (an Arrow IPC stream when `arrow`, else JSON text), the request body
  * size, client-side time to the response headers and time to read the
  * body, and the row count `/ingest` reported.
  */
final case class Reply(body: Array[Byte], arrow: Boolean, bytesIn: Long,
    ttfbNs: Long = 0L, bodyNs: Long = 0L, ingested: Long = -1L) {
  def bytesOut: Long = body.length.toLong
  /** The body as rows: decoded on first use, which is in the caller's
    * answer check, after the operation's latency was taken.
    */
  lazy val rows: Vector[Vector[Any]] =
    if (arrow) Arrow.decode(new ByteArrayInputStream(body))
    else Vector(Vector(new String(body, UTF_8)))
}

final class StatementFailed(msg: String) extends RuntimeException(msg)

/** One client's connection: a session opened by the handshake, then
  * statements. Two implementations share the workloads: [[WireClient]]
  * speaks HTTP to a running `GraftHttpServer`; [[InProcessClient]] calls the
  * same layers in the order the server's handlers do, with spans.
  */
trait Client {
  def sql(text: String): Reply
  def prepare(text: String): String
  def execute(handle: String, params: Seq[(String, Any)]): Reply
  def ingest(table: String, arrowIpc: Array[Byte]): Reply
}

object Arrow {
  /** Decode an Arrow IPC stream into rows of JVM values: numbers stay
    * numbers (decimals as BigDecimal), dates as `java.time.LocalDate`,
    * strings as String, lists as Vector.
    */
  def decode(in: InputStream): Vector[Vector[Any]] = {
    val alloc = new RootAllocator()
    val reader = new ArrowStreamReader(in, alloc)
    try {
      val root = reader.getVectorSchemaRoot
      val out = Vector.newBuilder[Vector[Any]]
      while (reader.loadNextBatch()) {
        val vecs = (0 until root.getFieldVectors.size).map(root.getVector)
        var i = 0
        while (i < root.getRowCount) {
          out += vecs.iterator.map(v => value(v, i)).toVector
          i += 1
        }
      }
      out.result()
    } finally { reader.close(); alloc.close() }
  }

  /** Ends with the IPC end-of-stream marker (0xFFFFFFFF, then length 0). */
  def complete(b: Array[Byte]): Boolean =
    b.length >= 8 && (0 until 4).forall(i => b(b.length - 8 + i) == -1) &&
      (4 until 8).forall(i => b(b.length - 8 + i) == 0)

  private def value(v: org.apache.arrow.vector.ValueVector, i: Int): Any = v match {
    case _ if v.isNull(i) => null
    case d: org.apache.arrow.vector.DateDayVector => java.time.LocalDate.ofEpochDay(d.get(i).toLong)
    case _ => cell(v.getObject(i))
  }

  private def cell(x: Any): Any = x match {
    case null => null
    case t: org.apache.arrow.vector.util.Text => t.toString
    case l: java.util.List[_] =>
      val b = Vector.newBuilder[Any]
      l.forEach(e => b += cell(e))
      b.result()
    case d: java.math.BigDecimal => BigDecimal(d)
    case ldt: java.time.LocalDateTime => ldt.toLocalDate
    case o => o
  }
}

/** HTTP client over `/auth`, `/sql`, `/prepare` + `/execute`, `/ingest`. */
final class WireClient(port: Int, user: String, password: String) extends Client {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val base = s"http://127.0.0.1:$port"

  val token: String = {
    val basic = "Basic " + Base64.getEncoder.encodeToString(s"$user:$password".getBytes(UTF_8))
    val r = http.send(HttpRequest.newBuilder(URI.create(s"$base/auth"))
      .header("Authorization", basic).POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    if (r.statusCode() != 200) throw new StatementFailed(s"auth: HTTP ${r.statusCode()} ${r.body()}")
    r.body().split("\"token\":\"")(1).split("\"")(0)
  }

  private def post(path: String, body: Array[Byte], headers: (String, String)*): Reply = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
      .header("Authorization", s"Bearer $token")
      .POST(HttpRequest.BodyPublishers.ofByteArray(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    val t0 = System.nanoTime()
    val resp = http.send(b.build(), HttpResponse.BodyHandlers.ofInputStream())
    val t1 = System.nanoTime()
    val in = resp.body()
    try {
      if (resp.statusCode() != 200) {
        val msg = new String(in.readAllBytes(), UTF_8)
        throw new StatementFailed(s"$path: HTTP ${resp.statusCode()} ${msg.take(300)}")
      }
      val arrow = resp.headers().firstValue("Content-Type").orElse("").contains("arrow")
      val bytes = in.readAllBytes()
      val bodyNs = System.nanoTime() - t1
      // A statement that fails after the 200 header truncates the chunked
      // body; only the end-of-stream marker proves completeness.
      if (arrow && !Arrow.complete(bytes))
        throw new StatementFailed(s"$path: Arrow stream truncated (no end-of-stream marker)")
      val ingested =
        if (arrow) -1L else Json.longField(new String(bytes, UTF_8), "rows").getOrElse(-1L)
      Reply(bytes, arrow, body.length.toLong, t1 - t0, bodyNs, ingested)
    } finally in.close()
  }

  def sql(text: String): Reply = post("/sql", text.getBytes(UTF_8))

  def prepare(text: String): String = {
    val r = post("/prepare", text.getBytes(UTF_8))
    r.rows.head.head.toString.split("\"handle\":\"")(1).split("\"")(0)
  }

  def execute(handle: String, params: Seq[(String, Any)]): Reply =
    post("/execute", params.map { case (k, v) => s"$k=$v" }.mkString("\n").getBytes(UTF_8),
      "X-Graft-Handle" -> handle)

  def ingest(table: String, arrowIpc: Array[Byte]): Reply =
    post("/ingest", arrowIpc, "X-Graft-Table" -> table, "X-Graft-Mode" -> "append")
}

/** The server's statement path without the socket: the same public entry
  * points `GraftHttpServer.handleSql` / `handleExecute` / `handleIngest`
  * call, in the same order, each wrapped in a span when `tracer` records.
  * Sessions, settings and admission are the running server's own.
  */
final class InProcessClient(server: GraftHttpServer, secret: String, passwordHash: String,
    password: String, user: String, instanceId: String, @volatile var tracer: Tracer,
    onSessionCreate: org.apache.spark.sql.SparkSession => Unit) extends Client {
  private def span[A](name: String)(f: => A): A = tracer.span(name)(f)

  private val token: String = span("auth.handshake") {
    if (!Auth.checkBasic(secret, password, passwordHash))
      throw new StatementFailed("in-process handshake refused")
    Auth.mintToken(secret, user, "admin", instanceId)
  }
  private var bootstrapped = false

  /** Open the session (validation + bootstrap) without a statement. */
  def connect(): Unit = tracer.request("request.connect") { session(): Unit }

  /** Bearer validation + session lookup + first-use bootstrap. */
  private def session(): SessionState = {
    val id = span("auth.validate") {
      Auth.validate(secret, token, instanceId) match {
        case Left(err) => throw new StatementFailed(err)
        case Right(id) => id
      }
    }
    if (!bootstrapped) span("session.bootstrap") {
      val s = server.sessions.getOrCreate(id.sessionId, id.username, id.role, id.catalogAccess)
      onSessionCreate(s.spark)
      Statement.registerPseudoFunctions(s, instanceId, "graft-cluster",
        server.sessions.license.editionName)
      server.observability.install(s.spark)
      bootstrapped = true
      s
    } else server.sessions.getOrCreate(id.sessionId, id.username, id.role, id.catalogAccess)
  }

  /** Admission slot + timeout worker + Arrow encoding, as `streamResult`. */
  private def stream(s: SessionState, df: org.apache.spark.sql.DataFrame, bytesIn: Long): Reply = {
    val admitted = span("admission.wait") { server.admission.acquire(false, () => s.killRequested) }
    admitted match {
      case r: server.admission.Rejected =>
        tracer.count("admission.rejected")
        throw new StatementFailed(s"admission rejected: ${r.reason}")
      case _ =>
    }
    val bytes = new ByteArrayOutputStream()
    try {
      val reqId = tracer.currentRequest
      span("arrow.write") {
        val parent = tracer.currentSpan
        Statement.executeWithTimeout(s, 0L) {
          // the timeout worker thread runs the jobs: tag them for the listener
          val sc = s.spark.sparkContext
          if (tracer.recording) {
            sc.setLocalProperty(Tracer.RequestProp, reqId.toString)
            sc.setLocalProperty(Tracer.SpanProp, parent.toString)
          }
          try tracer.countAdd("arrow.rows", ArrowIO.writeArrowStream(df, bytes))
          finally {
            sc.setLocalProperty(Tracer.RequestProp, null)
            sc.setLocalProperty(Tracer.SpanProp, null)
          }
        }
      }
    } finally server.admission.release(admitted)
    tracer.countAdd("arrow.bytes", bytes.size.toLong)
    Reply(bytes.toByteArray, arrow = true, bytesIn)
  }

  /** The `/sql` texts run while the tracer recorded, for [[probe]]. */
  val texts = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def sql(text: String): Reply = tracer.request("request.sql") {
    val s = session()
    if (tracer.recording) texts.add(text)
    // Statement.create starts with this same call. Made here first, traced
    // or not, it times the manifest step on its own (re-registering views
    // when a commit moved the manifest); create's own call then finds the
    // version unchanged, a check [[probe]] times as `manifest.check`.
    span("manifest.refresh") { ManifestCatalog.refresh(s.spark) }
    val df = span("statement.create") { Statement.create(server.sessions, s, server.global, text) }
    val reply = stream(s, df, text.length.toLong)
    tracer.planSeen(s.id, text, df, cacheable = true)
    reply
  }

  def prepare(text: String): String = tracer.request("request.prepare") {
    val s = session()
    span("statement.prepare") { s.prepare(text).handle }
  }

  def execute(handle: String, params: Seq[(String, Any)]): Reply =
    tracer.request("request.execute") {
      val s = session()
      val df = span("statement.create") { s.executePrepared(handle, params.toMap) }
      val reply = stream(s, df, params.map { case (k, v) => k.length + v.toString.length + 2 }.sum.toLong)
      tracer.planSeen(s.id, handle, df, cacheable = false)
      reply
    }

  def ingest(table: String, arrowIpc: Array[Byte]): Reply = tracer.request("request.ingest") {
    val s = session()
    val data = span("arrow.decode") { ArrowIO.fromArrowStream(s.spark, arrowIpc) }
    val res = span("ingest.commit") { Ingest.ingest(s.spark, data, table, Ingest.IfExists.Append) }
    Reply(Array.emptyByteArray, arrow = false, arrowIpc.length.toLong, ingested = res.rowsIngested)
  }

  /** Steps Statement.create runs inside its own span, timed one by one on
    * this session into `into`, outside any request: the dialect pass and
    * the parser over `text`, and the manifest check on an unmoved manifest.
    */
  def probe(text: String, into: Tracer): Unit = {
    val spark = session().spark
    val rewritten = into.span("dialect.rewrite") { graft.plans.Dialect.rewrite(text, spark) }
    into.count("dialect.statements")
    if (rewritten == text) into.count("dialect.identity")
    into.span("catalyst.parse") {
      try spark.sessionState.sqlParser.parsePlan(rewritten)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    into.span("manifest.check") { ManifestCatalog.refresh(spark) }
  }
}

/** Minimal JSON field extraction for the server's small JSON replies. */
object Json {
  def longField(txt: String, name: String): Option[Long] = {
    val k = "\"" + name + "\":"
    val i = txt.indexOf(k)
    if (i < 0) None
    else txt.substring(i + k.length).trim.takeWhile(c => c.isDigit || c == '-').toLongOption
  }
}
