package graft.engine

import graft.SparkTestHarness
import graft.sources.Ingest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{IntegerType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Cross-session visibility ([[TableVersions]]): a committed write or
  * redefinition is seen by the next statement of every session, including
  * statements whose plans the session has already cached; writes to one
  * table leave other tables' cached plans alone.
  */
class VisibilitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark
  private lazy val global = new GlobalSettings
  private lazy val sessions = new SessionManager(spark, global)

  private def session(id: String): SessionState = sessions.getOrCreate(id, "alice", "admin")
  private def run(s: SessionState, sql: String): DataFrame = Statement.create(sessions, s, global, sql)
  private def long(df: DataFrame): Long = df.collect().head.getLong(0)
  private def twice(s: SessionState, sql: String): Long = { long(run(s, sql)); long(run(s, sql)) }

  private def table(name: String, rows: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING parquet AS SELECT * FROM VALUES $rows AS t(k, v)")
  }

  /** Rows for an ingest, built in the ingesting session as the server
    * decodes them.
    */
  private def rowsDf(s: SessionState, rows: Seq[(Int, Int)]): DataFrame =
    s.spark.createDataFrame(rows.map { case (k, v) => Row(k, v) }.asJava,
      new StructType().add("k", IntegerType).add("v", IntegerType))

  test("an INSERT in one session is seen by another session's cached read") {
    table("vis_p1", "(1, 10), (2, 20)")
    val (a, b) = (session("vis-ins-a"), session("vis-ins-b"))
    val q = "SELECT count(*) FROM vis_p1"
    assert(twice(b, q) == 2)
    run(a, "INSERT INTO vis_p1 VALUES (3, 30)")
    assert(long(run(b, q)) == 3)
    assert(b.spark.sql(q).collect().head.getLong(0) == 3)
  }

  test("a prepared read succeeds with the new value after another session's UPDATE") {
    table("vis_p2", "(1, 10), (2, 20)")
    val (a, b) = (session("vis-upd-a"), session("vis-upd-b"))
    val h = b.prepare("SELECT sum(v) FROM vis_p2").handle
    assert(long(b.executePrepared(h)) == 30)
    assert(long(b.executePrepared(h)) == 30)
    run(a, "UPDATE vis_p2 SET v = v + 1")
    assert(long(b.executePrepared(h)) == 32)
  }

  test("an Arrow ingest is seen by its own session's cached read and by others") {
    table("vis_p3", "(1, 10)")
    val (a, b) = (session("vis-ing-a"), session("vis-ing-b"))
    val q = "SELECT count(*) FROM vis_p3"
    assert(twice(a, q) == 1 && twice(b, q) == 1)
    Ingest.ingest(a.spark, rowsDf(a, (2 to 6).map(k => (k, k * 10))), "vis_p3", Ingest.IfExists.Append)
    assert(long(run(a, q)) == 6)
    assert(long(run(b, q)) == 6)
  }

  test("a temporary ingest that replaces a session view is seen by that session's cached read") {
    val a = session("vis-temp-a")
    val q = "SELECT count(*) FROM vis_tmp"
    Ingest.ingest(a.spark, rowsDf(a, Seq((1, 10))), "vis_tmp", temporary = true)
    assert(twice(a, q) == 1)
    Ingest.ingest(a.spark, rowsDf(a, Seq((1, 10), (2, 20), (3, 30))), "vis_tmp", temporary = true)
    assert(long(run(a, q)) == 3)
  }

  test("CREATE OR REPLACE TABLE is seen by another session's cached read") {
    spark.sql("DROP TABLE IF EXISTS vis_p4")
    spark.sql("CREATE TABLE vis_p4 USING parquet AS SELECT 1 AS x")
    val (a, b) = (session("vis-cor-a"), session("vis-cor-b"))
    val q = "SELECT sum(x) FROM vis_p4"
    assert(twice(b, q) == 1)
    run(a, "CREATE OR REPLACE TABLE vis_p4 USING parquet AS SELECT 5 AS x")
    assert(long(run(b, q)) == 5)
  }

  test("a prepared INSERT is a write: another session's cached read sees it") {
    table("vis_p5", "(1, 10), (2, 20)")
    val (a, b) = (session("vis-pins-a"), session("vis-pins-b"))
    val q = "SELECT count(*) FROM vis_p5"
    assert(twice(b, q) == 2)
    val h = a.prepare("INSERT INTO vis_p5 VALUES (:k, :v)").handle
    a.executePrepared(h, Map("k" -> 3, "v" -> 30))
    assert(long(run(b, q)) == 3)
  }

  test("a TRUNCATE TABLE is a write: another session's cached read sees it") {
    table("vis_p6", "(1, 10), (2, 20)")
    val (a, b) = (session("vis-trunc-a"), session("vis-trunc-b"))
    val q = "SELECT count(*) FROM vis_p6"
    assert(twice(b, q) == 2)
    run(a, "TRUNCATE TABLE vis_p6")
    assert(long(run(b, q)) == 0)
  }

  test("writes to one table leave another table's cached plan in place") {
    table("vis_t", "(1, 10)")
    table("vis_u", "(1, 100), (2, 200)")
    val (a, b) = (session("vis-keep-a"), session("vis-keep-b"))
    val q = "SELECT count(*) FROM vis_u"
    val cached = run(b, q)
    assert(long(cached) == 2)
    run(a, "INSERT INTO vis_t VALUES (2, 20)")
    Ingest.ingest(a.spark, rowsDf(a, Seq((3, 30))), "vis_t", Ingest.IfExists.Append)
    assert(run(b, q) eq cached, "a write to vis_t must not drop the plan over vis_u")
    // An UPDATE also moves the table manifest, which flushes every session
    // at its next statement start; the plan cache's own rule keeps the plan.
    run(a, "UPDATE vis_t SET v = v + 1")
    assert(PlanCache.sql(b.spark, q) eq cached, "an UPDATE of vis_t must not stale the plan over vis_u")
    assert(long(run(b, "SELECT count(*) FROM vis_t")) == 3)
  }

  test("count plans share the 64-entry statement bound") {
    val s = spark.newSession()
    (1 to 70).foreach(i => assert(PlanCache.count(s, s"vis-count-$i")(s.range(i).toDF()) == i))
    assert(PlanCache.size(s) <= 64, s"count store holds ${PlanCache.size(s)} entries")
  }

  test("a log-catalog read sees rows the sink appended between two runs of one text") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vis-logs").toString
    val sink = new CatalogLogSink(spark, sessions.attachments, dir, catalog = "vis_logs")
    def rec(msg: String) = GraftLog.LogRecord(System.currentTimeMillis(), "INFO", msg,
      component = "test", username = "alice")
    def landed(want: Long): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      def n = spark.sql("SELECT count(*) FROM vis_logs.logs").collect().head.getLong(0)
      while (n != want && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(n == want)
    }
    try {
      val s = session("vis-logs")
      val q = "SELECT count(*) FROM vis_logs.logs"
      sink.enqueue(rec("first"))
      landed(1)
      assert(twice(s, q) == 1)
      (1 to 3).foreach(i => sink.enqueue(rec(s"more-$i")))
      landed(4)
      assert(long(run(s, q)) == 4)
    } finally {
      sink.close()
      sessions.attachments.detach(spark, "vis_logs")
      ()
    }
  }

  test("property: interleaved writes in A are seen by every read in B and C") {
    val seed = 20261018L
    val rnd = new scala.util.Random(seed)
    table("vis_prop", "(1, 10), (2, 20), (3, 30)")
    val a = session("vis-prop-a")
    val readers = Seq(session("vis-prop-b"), session("vis-prop-c"))
    // committed state: k -> v
    var model = Map(1 -> 10, 2 -> 20, 3 -> 30)
    var nextK = 4
    val insert = a.prepare("INSERT INTO vis_prop VALUES (:k, :v)").handle
    val prepared = readers.map(r =>
      r -> r.prepare("SELECT count(*), coalesce(sum(v), 0) FROM vis_prop WHERE k >= :lo").handle).toMap
    val adHoc = Seq(
      "SELECT count(*), coalesce(sum(v), 0) FROM vis_prop",
      "SELECT count(*), coalesce(sum(v), 0) FROM vis_prop WHERE k % 2 = 0")
    def expected(keep: Int => Boolean): (Long, Long) = {
      val vs = model.collect { case (k, v) if keep(k) => v.toLong }
      (vs.size.toLong, vs.sum)
    }
    val log = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(got: => DataFrame, want: (Long, Long), what: String): Unit = {
      val clue = s"seed $seed, after ${log.mkString("; ")}; $what"
      val r = try got.collect().head catch {
        case scala.util.control.NonFatal(e) => fail(clue, e)
      }
      withClue(s"$clue: ")(assert((r.getLong(0), r.getLong(1)) == want))
    }
    (1 to 120).foreach { _ =>
      rnd.nextInt(10) match {
        case 0 =>
          val (k, v) = (nextK, rnd.nextInt(100)); nextK += 1
          run(a, s"INSERT INTO vis_prop VALUES ($k, $v)")
          model += k -> v; log += s"INSERT ($k, $v)"
        case 1 =>
          val (r, d) = (rnd.nextInt(3), 1 + rnd.nextInt(5))
          run(a, s"UPDATE vis_prop SET v = v + $d WHERE k % 3 = $r")
          model = model.map { case (k, v) => k -> (if (k % 3 == r) v + d else v) }
          log += s"UPDATE k%3=$r +$d"
        case 2 =>
          val k = if (model.isEmpty) 0 else model.keys.toSeq.sorted.apply(rnd.nextInt(model.size))
          run(a, s"DELETE FROM vis_prop WHERE k = $k")
          model -= k; log += s"DELETE $k"
        case 3 =>
          val rows = (0 until 1 + rnd.nextInt(3)).map(i => (nextK + i, rnd.nextInt(100)))
          nextK += rows.size
          Ingest.ingest(a.spark, rowsDf(a, rows), "vis_prop", Ingest.IfExists.Append)
          model ++= rows; log += s"INGEST ${rows.mkString(",")}"
        case 4 if rnd.nextInt(3) == 0 =>
          run(a, "CREATE OR REPLACE TABLE vis_prop USING parquet AS " +
            "SELECT k, v * 2 AS v FROM vis_prop WHERE k % 4 <> 1")
          model = model.collect { case (k, v) if k % 4 != 1 => k -> v * 2 }
          log += "REPLACE keep k%4<>1, v*2"
        case 4 =>
          val (k, v) = (nextK, rnd.nextInt(100)); nextK += 1
          a.executePrepared(insert, Map("k" -> k, "v" -> v))
          model += k -> v; log += s"PREPARED INSERT ($k, $v)"
        case n =>
          val r = readers(n % 2)
          if (rnd.nextBoolean()) {
            val i = rnd.nextInt(adHoc.size)
            check(run(r, adHoc(i)), expected(k => i == 0 || k % 2 == 0), s"${r.id} ${adHoc(i)}")
          } else {
            val lo = rnd.nextInt(nextK + 1)
            check(r.executePrepared(prepared(r), Map("lo" -> lo)), expected(_ >= lo),
              s"${r.id} prepared lo=$lo")
          }
      }
    }
  }
}
