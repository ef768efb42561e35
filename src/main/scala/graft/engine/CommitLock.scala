package graft.engine

import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.ReentrantLock
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{DatabaseEvent, ExternalCatalogEventListener,
  ExternalCatalogWithListener, RenameTableEvent, TableEvent}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, View}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import scala.jdk.CollectionConverters._

/** Per-table commit serialization — in-process AND cross-process.
  *
  * Every path that folds data into a base table — a transaction's
  * COMMIT apply ([[TxnDml.commitApply]]), an autocommitted row-level DML
  * statement ([[graft.sources.RowDml]]), or a plain non-transactional
  * INSERT/COPY FROM — takes this lock for its target table(s) around the
  * whole journal→publish→fold→drop window. That closes the lost-update race
  * the r10 review flagged: without it, a non-transactional insert that runs
  * `unshadow` during another session's publish-to-fold window lands on the
  * base table and is then silently clobbered by the in-flight commit's fold.
  * With the lock, the insert simply waits until the fold + manifest drop
  * complete, then appends to the post-commit base.
  *
  * Two layers (r11 verdict #3 — the crash drill itself proves multiple JVMs
  * share one warehouse, so in-process locks alone left a cross-PROCESS
  * publish-to-fold race):
  *
  *   1. a JVM-wide `ReentrantLock` per table (cheap, reentrant, orders
  *      threads within one engine process), then
  *   2. an OS advisory file lock (`FileChannel.lock`) on
  *      `<warehouse>/_graft_locks/<table>.lock`, acquired only at the
  *      OUTERMOST in-process hold. A file LOCK — not an O_EXCL marker
  *      file — because the kernel releases it when the process dies, so a
  *      kill -9 mid-fold can never wedge the warehouse behind a stale
  *      lockfile that needs TTL arbitration. On a shared filesystem this is
  *      the fence; on object storage it becomes the conditional-PUT the
  *      manifest write already models.
  *
  * Readers never take the lock — visibility is the manifest's job
  * ([[ManifestCatalog]]); this lock only serializes WRITERS per table. It
  * is also where data writes move [[TableVersions]]: a window's close, even
  * a failed write's, bumps its tables.
  *
  * Deadlock-free by construction: multi-table acquisitions sort names
  * first (both layers acquire in the same sorted order in every process),
  * and no fold path acquires a second table set while holding one.
  */
object CommitLock {

  private val locks = new ConcurrentHashMap[String, ReentrantLock]()

  private def lockFor(table: String): ReentrantLock =
    locks.computeIfAbsent(table, _ => new ReentrantLock())

  private def fenceDir(spark: SparkSession): java.nio.file.Path = {
    val raw = spark.conf.get("spark.sql.warehouse.dir",
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-warehouse")
    Paths.get(raw.stripPrefix("file:")).resolve("_graft_locks")
  }

  /** Blocking-acquire the cross-process fence for `table`; returns the open
    * channel whose close releases the OS lock.
    */
  private def acquireFence(spark: SparkSession, table: String): FileChannel = {
    val dir = fenceDir(spark)
    Files.createDirectories(dir)
    val ch = FileChannel.open(dir.resolve(s"$table.lock"),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    try { ch.lock(); ch }
    catch { case t: Throwable => ch.close(); throw t }
  }

  /** Run `f` holding the commit locks for `tables` (sorted acquisition,
    * in-process then cross-process). `f` and the writer's next statement
    * read the latest committed state: the writer's session syncs its
    * [[TableVersions]] once the locks are held and again after the bump.
    */
  def withTables[T](spark: SparkSession, tables: Seq[String])(f: => T): T = {
    val names = tables.map(TableVersions.key).distinct.sorted
    val ls = names.map(lockFor)
    ls.foreach(_.lock())
    try {
      // The file lock is taken only at the outermost hold: the JVM throws
      // OverlappingFileLockException on a nested acquire of the same file,
      // and the in-process ReentrantLock already guarantees only one thread
      // per table gets here.
      val fences = names.collect {
        case n if lockFor(n).getHoldCount == 1 => acquireFence(spark, n)
      }
      TableVersions.sync(spark)
      try f finally fences.reverse.foreach(ch => try ch.close() catch { case _: Exception => })
    } finally {
      try { TableVersions.bump(names); TableVersions.sync(spark) }
      finally ls.reverse.foreach(_.unlock())
    }
  }

  /** Exclusive write window for a non-transactional insert path: take the
    * table's commit lock, then verify no in-flight commit still maps the
    * table in the manifest. Inside the lock that can only mean a FOREIGN
    * publish that will never fold in this process (a half-driven test
    * protocol or an external writer) — failing loudly beats silently racing
    * its fold (r10 review, medium).
    */
  def withExclusiveWrite[T](spark: SparkSession, table: String)(f: => T): T =
    withTables(spark, Seq(table)) {
      val name = table.split("\\.").last
      if (ManifestCatalog.read(spark)._2.contains(name))
        throw new IllegalStateException(
          s"table $name is being committed (manifest maps it to an unfolded " +
            "snapshot); retry after the commit completes")
      ManifestCatalog.unshadow(spark, table)
      f
    }
}

/** The one rule for cached plans ([[PlanCache]]) and each session's
  * relation cache (which pins file listings): either may be used only while
  * no table it reads has been written or redefined since it was built, by
  * any session. Versions move on data writes (every [[CommitLock]] window,
  * when it closes) and on catalog events (one listener per shared catalog,
  * called synchronously on the DDL's thread: a table event bumps the table,
  * a database or function event — ATTACH/DETACH — every table). Keys are
  * CommitLock's bare lower-case names (`att.t` and `t` collide, which only
  * over-invalidates); versions are values of one clock.
  */
object TableVersions {
  // Written under this object's lock after the version it hands out is
  // stored: a reader that sees clock c sees every version up to c.
  @volatile private var clock = 0L
  @volatile private var allMoved = 0L
  private val versions = new ConcurrentHashMap[String, java.lang.Long]()
  private val listening = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[ExternalCatalogWithListener, java.lang.Boolean]())
  // session -> clock value its relation cache was last synced to
  private val seen = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, Array[Long]]())

  def key(table: String): String = table.split("\\.").last.toLowerCase

  def bump(tables: Seq[String]): Unit = synchronized {
    tables.foreach(t => versions.put(key(t), clock + 1))
    clock += 1
  }

  /** True while none of `reads` ([[readsOf]]) moved after clock value `since`. */
  private[engine] def unchangedSince(since: Long, reads: Seq[String]): Boolean =
    allMoved <= since && reads.forall(versions.getOrDefault(_, 0L) <= since)

  /** Keys of the catalog relations and views an analyzed plan reads. */
  private[engine] def readsOf(plan: LogicalPlan): Seq[String] = plan.collectWithSubqueries {
    case r: LogicalRelation if r.catalogTable.isDefined => key(r.catalogTable.get.identifier.table)
    case v: View => key(v.desc.identifier.table)
  }.distinct

  private val listener: ExternalCatalogEventListener = {
    case RenameTableEvent(_, from, to) => bump(Seq(from, to))
    case t: TableEvent => bump(Seq(t.name))
    case _: DatabaseEvent => synchronized { allMoved = clock + 1; clock += 1 }
    case _ =>
  }

  /** Statement start: drop the tables that moved since this session last
    * looked from its relation cache. Returns the clock value it synced to,
    * the version a plan built next is stamped with. One counter read when
    * nothing moved.
    */
  def sync(spark: SparkSession): Long = {
    val at = seen.computeIfAbsent(spark, { s =>
      val c = s.sharedState.externalCatalog
      listening.synchronized { if (listening.add(c)) c.addListener(listener) }
      Array(0L)
    })
    at.synchronized {
      val now = clock
      if (now > at(0)) {
        val catalog = spark.sessionState.catalog
        if (allMoved > at(0)) catalog.invalidateAllCachedTables()
        else for ((t, v) <- versions.asScala if v > at(0); db <- catalog.listDatabases())
          catalog.invalidateCachedTable(TableIdentifier(t, Some(db)))
        at(0) = now
      }
      now
    }
  }
}
