package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable

/** One completed (or failed) client operation. `kind` is read, write,
  * export or ingest; `cls` names the statement template, so wire and
  * traced latencies of the same statement can be paired.
  */
final case class Op(kind: String, cls: String, latNs: Long, ok: Boolean, stale: Boolean,
    bytesIn: Long, bytesOut: Long, ttfbNs: Long, bodyNs: Long, error: String = "")

final class Recorder {
  val ops = new ConcurrentLinkedQueue[Op]()
  val passes = new ConcurrentLinkedQueue[Double]() // seconds per full TPC-H pass

  /** Time `f`, record its outcome and return whether it was right; `check`
    * returns None when the reply is right, Some("stale") for a read that
    * missed an acknowledged write, or Some(reason) for any other wrong answer.
    */
  def timed(kind: String, cls: String)(f: => Reply)(check: Reply => Option[String]): Boolean = {
    val t0 = System.nanoTime()
    try {
      val r = f
      val lat = System.nanoTime() - t0
      val verdict = check(r)
      ops.add(Op(kind, cls, lat, verdict.isEmpty, verdict.contains("stale"), r.bytesIn, r.bytesOut,
        r.ttfbNs, r.bodyNs, verdict.getOrElse("")))
      verdict.isEmpty
    } catch {
      case scala.util.control.NonFatal(e) =>
        ops.add(Op(kind, cls, System.nanoTime() - t0, ok = false, stale = false, 0L, 0L, 0L, 0L,
          Option(e.getMessage).getOrElse(e.toString).take(300)))
        false
    }
  }
}

/** A closed-loop workload: `clients` threads, each calling `step` until
  * the deadline; `step` issues one operation and records it.
  */
trait Workload {
  def clients: Int
  /** Per set-up: bench-owned tables and prepared handles, on fresh clients. */
  def prepare(cs: IndexedSeq[Client]): Unit
  def step(i: Int, c: Client, rec: Recorder): Unit
  /** Continue on other clients (a new phase); statement cursors restart. */
  def rebind(cs: IndexedSeq[Client]): Unit = ()
  /** Run every statement shape once, checked, so the window starts warm. */
  def warmup(cs: IndexedSeq[Client], rec: Recorder): Unit
  /** End-of-window checks (e.g. the ingested table's final count). */
  def finish(c: Client, rec: Recorder): Unit = ()
  /** The bench-owned table this workload writes, if any. */
  def ownedTable: Option[String] = None
}

object Workload {
  /** Run the clients until `seconds` have passed; returns the seconds taken. */
  def drive(w: Workload, cs: IndexedSeq[Client], seconds: Double, rec: Recorder): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = cs.indices.map { i =>
      val t = new Thread(() => while (System.nanoTime() < deadline) w.step(i, cs(i), rec),
        s"perfbench-client-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}

/** The 22 TPC-H queries in order, one client, checked against the answers
  * DuckDB ships for the same scale factor.
  */
final class TpchWorkload(queries: IndexedSeq[(Int, String, String)]) extends Workload {
  val clients = 1
  private var next = 0
  private var passStart = 0L
  def prepare(cs: IndexedSeq[Client]): Unit = ()
  override def rebind(cs: IndexedSeq[Client]): Unit = next = 0
  def warmup(cs: IndexedSeq[Client], rec: Recorder): Unit = {
    rebind(cs)
    queries.indices.foreach(_ => step(0, cs(0), rec))
  }
  def step(i: Int, c: Client, rec: Recorder): Unit = {
    if (next == 0) passStart = System.nanoTime()
    val (nr, sql, answer) = queries(next)
    rec.timed("read", f"q$nr%02d")(c.sql(sql))(r => Answers.compare(answer, r.rows))
    next = (next + 1) % queries.size
    if (next == 0) rec.passes.add((System.nanoTime() - passStart) / 1e9)
  }
}

/** Client 0 streams large results (lineitem slices, embedding slices) and
  * checks count + column checksums; client 1 uploads Arrow IPC payloads to
  * a bench-owned table and checks the acknowledged row count.
  */
final class ArrowBulkWorkload(exports: IndexedSeq[Export], payloads: IndexedSeq[Array[Byte]],
    payloadRows: IndexedSeq[Long], table: String) extends Workload {
  val clients = 2
  private var nextExport = 0
  private var nextPayload = 0
  private val ingested = new java.util.concurrent.atomic.AtomicLong(0L)
  def prepare(cs: IndexedSeq[Client]): Unit = {
    cs(1).sql(s"DROP TABLE IF EXISTS $table")
    ingested.set(0L)
  }
  override def ownedTable: Option[String] = Some(table)
  def warmup(cs: IndexedSeq[Client], rec: Recorder): Unit = {
    exports.indices.foreach(_ => step(0, cs(0), rec))
    step(1, cs(1), rec)
  }
  def step(i: Int, c: Client, rec: Recorder): Unit =
    if (i == 0) {
      val e = exports(nextExport)
      rec.timed("export", e.cls)(c.sql(e.sql))(r => e.check(r.rows))
      nextExport = (nextExport + 1) % exports.size
    } else {
      val k = nextPayload
      rec.timed("ingest", "ingest")(c.ingest(table, payloads(k))) { r =>
        if (r.ingested == payloadRows(k)) { ingested.addAndGet(r.ingested); None }
        else Some(s"ingest acknowledged ${r.ingested} rows, sent ${payloadRows(k)}")
      }
      nextPayload = (nextPayload + 1) % payloads.size
    }
  override def finish(c: Client, rec: Recorder): Unit = {
    val want = ingested.get
    rec.timed("read", "ingest.count")(c.sql(s"SELECT count(*) FROM $table")) { r =>
      val got = r.rows.headOption.flatMap(_.headOption).map(_.toString.toLong).getOrElse(-1L)
      if (got == want) None else Some(s"$table holds $got rows, $want acknowledged")
    }
  }
}

final case class Export(cls: String, sql: String, rows: Long, checks: Seq[Checksum]) {
  def check(got: Vector[Vector[Any]]): Option[String] =
    if (got.size.toLong != rows) Some(s"$cls: ${got.size} rows, expected $rows")
    else checks.iterator.flatMap(_.verify(got)).nextOption().map(m => s"$cls: $m")
}

/** One session on a key/value table, alternating one write with one read
  * from each of the `reads` lists in turn. The write list is fixed in
  * advance, so every table version's contents are known; a read is right
  * when it matches the version of the last acknowledged write (or of a
  * write sent but refused, whose effect is unknown), stale when it matches
  * only an older version.
  */
final class DmlWorkload(table: String, initial: IndexedSeq[(Long, Long)],
    writes: IndexedSeq[(String, Long, Long)], reads: IndexedSeq[IndexedSeq[(String, Long)]],
    hotKeys: IndexedSeq[Long]) extends Workload {
  val clients = 1
  private var turn = 0
  private var acked = 0
  private var sent = 0
  private var writerFailed = false
  private val readPos = Array.fill(reads.size)(0)
  private val handles = mutable.Map.empty[String, String]
  // count and sum of v after each version, and each key's (version, value)
  // history; version j is the state after j writes
  private val aggs: Array[(Long, Long)] = {
    val a = new Array[(Long, Long)](writes.size + 1)
    var n = initial.size.toLong
    var s = initial.map(_._2).sum
    val cur = mutable.Map.from(initial)
    a(0) = (n, s)
    writes.zipWithIndex.foreach { case ((op, k, v), j) =>
      op match {
        case "insert" => cur(k) = v; n += 1; s += v
        case "update" => s += v - cur(k); cur(k) = v
        case "delete" => s -= cur(k); cur.remove(k); n -= 1
      }
      a(j + 1) = (n, s)
    }
    a
  }
  private val history: Map[Long, IndexedSeq[(Int, Option[Long])]] = {
    val h = mutable.Map.empty[Long, mutable.ArrayBuffer[(Int, Option[Long])]]
    initial.foreach { case (k, v) => h(k) = mutable.ArrayBuffer((0, Some(v))) }
    writes.zipWithIndex.foreach { case ((op, k, v), j) =>
      h.getOrElseUpdate(k, mutable.ArrayBuffer((0, None))) +=
        ((j + 1, if (op == "delete") None else Some(v)))
    }
    h.view.mapValues(_.toIndexedSeq).toMap
  }
  private def valueAt(k: Long, version: Int): Option[Long] =
    history.get(k).flatMap(_.takeWhile(_._1 <= version).lastOption.flatMap(_._2))

  /** None = a version in `acked..sent` produces `matches`, Some("stale") =
    * only an older version does, Some(reason) = none does.
    */
  private def judge(what: String)(matches: Int => Boolean): Option[String] =
    if ((acked to sent).exists(matches)) None
    else if ((0 until acked).exists(matches)) Some("stale")
    else Some(s"$what matches no table version in 0..$sent")

  def prepare(cs: IndexedSeq[Client]): Unit = {
    val c = cs(0)
    c.sql(s"DROP TABLE IF EXISTS $table")
    c.sql(s"CREATE TABLE $table (k BIGINT, v BIGINT) USING parquet")
    c.sql(s"INSERT INTO $table VALUES " + initial.map { case (k, v) => s"($k, $v)" }.mkString(", "))
    acked = 0
    sent = 0
    writerFailed = false
    turn = 0
    java.util.Arrays.fill(readPos, 0)
    rebind(cs)
  }
  override def ownedTable: Option[String] = Some(table)

  /** Later phases continue the same write sequence on a fresh session. */
  override def rebind(cs: IndexedSeq[Client]): Unit = {
    handles.clear()
    handles("agg") = cs(0).prepare(s"SELECT count(*) AS n, coalesce(sum(v), 0) AS s FROM $table")
    handles("point") = cs(0).prepare(s"SELECT v FROM $table WHERE k = :k")
  }

  def warmup(cs: IndexedSeq[Client], rec: Recorder): Unit =
    (1 to 2 * (1 + reads.size)).foreach(_ => step(0, cs(0), rec))

  def step(i: Int, c: Client, rec: Recorder): Unit = {
    turn = (turn + 1) % (1 + reads.size)
    if (turn == 0) write(c, rec) else read(reads(turn - 1), turn - 1, c, rec)
  }

  private def write(c: Client, rec: Recorder): Unit = {
    val j = acked
    if (j >= writes.size || writerFailed) { Thread.sleep(5); return }
    val (op, k, v) = writes(j)
    val sql = op match {
      case "insert" => s"INSERT INTO $table VALUES ($k, $v)"
      case "update" => s"UPDATE $table SET v = $v WHERE k = $k"
      case "delete" => s"DELETE FROM $table WHERE k = $k"
    }
    sent = j + 1
    // UPDATE/DELETE answer with the affected-row count: one key, one row
    val ok = rec.timed("write", op)(c.sql(sql)) { r =>
      if (op == "insert") None
      else r.rows match {
        case Vector(Vector(n)) if n.toString == "1" => None
        case other => Some(s"$op of k=$k affected ${other.map(_.mkString(",")).mkString(";")}, expected 1")
      }
    }
    if (ok) acked = j + 1 else writerFailed = true
  }

  /** The next read of read list `mine` (number `n`). */
  private def read(mine: IndexedSeq[(String, Long)], n: Int, c: Client, rec: Recorder): Unit = {
    val (kind, key) = mine(readPos(n) % mine.size)
    readPos(n) += 1
    kind match {
      case "adhoc" =>
        rec.timed("read", "point.adhoc")(c.sql(s"SELECT v FROM $table WHERE k = $key")) { r =>
          pointVerdict(key, r)
        }
      case "hot" =>
        val k = hotKeys((key % hotKeys.size).toInt)
        rec.timed("read", "point.prepared")(c.execute(handles("point"), Seq("k" -> k))) { r =>
          pointVerdict(k, r)
        }
      case "agg" =>
        rec.timed("read", "agg.prepared")(c.execute(handles("agg"), Nil)) { r =>
          r.rows match {
            case Vector(Vector(n, s)) =>
              val got = (n.toString.toLong, s.toString.toLong)
              judge(s"count/sum $got")(m => aggs(m) == got)
            case other => Some(s"aggregate returned ${other.size} rows")
          }
        }
    }
  }

  private def pointVerdict(key: Long, r: Reply): Option[String] =
    r.rows match {
      case Vector() => judge(s"k=$key absent")(m => valueAt(key, m).isEmpty)
      case Vector(Vector(v)) =>
        val got = v.toString.toLong
        judge(s"k=$key v=$got")(m => valueAt(key, m).contains(got))
      case other => Some(s"k=$key returned ${other.size} rows")
    }
}
