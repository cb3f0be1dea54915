package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.DynamicVariable

import graft.core.TableStore
import org.apache.spark.sql.SparkSession

/** Scratch space for one query run — the only place that makes temp
  * directories or registers `spark.sql.catalog.*` keys.
  *
  * The driver loop wraps "run a query and consume its DataFrame" in
  * [[Scratch.scope]]; the query body asks [[Scratch.active]] for what it
  * needs: [[dir]] (checkpoint, replay, staging), [[store]] (a
  * [[TableStore]] over a fresh warehouse) or [[catalog]] (a fresh
  * warehouse plus a GraftCatalog registered over it). Closing the scope
  * unsets every conf key it set and deletes every dir it handed out.
  *
  * Layout: everything lives under [[root]],
  * `<java.io.tmpdir>/graft-scratch/<pid>`, one directory per scope.
  *
  * Catalog names: Spark's CatalogManager caches one catalog instance per
  * name for the session's lifetime and has no public remove, so names
  * come from a bounded pool. A scope leases the lowest free slot
  * (`gscratch0`, `gscratch1`, …) per catalog and frees it on close, so
  * the pool never outgrows the most catalogs open at once. The cached
  * [[graft.catalog.GraftCatalog]] reads its warehouse from the session
  * conf on every call, so a slot registered again by a later scope serves
  * that scope's warehouse.
  *
  * Warehouses are never reused: each `dir` is a new path that no earlier
  * scope in this JVM handed out. Path-keyed caches — `TableStore`'s
  * segment-ref cache (path only), its manifest cache (path, mtime,
  * length), `MorScan`'s delete memo (table root + delete paths) — so
  * never see a wiped-and-refilled path and cannot serve a stale entry.
  *
  * Outside any scope (a caller that invokes `SparkEntry.queries(name)`
  * directly) the process scope serves. It lives until JVM exit, when the
  * one shutdown hook removes [[root]] with it. Each unscoped query call
  * ([[perCall]]) rewinds its catalog slots, so repeated calls re-register
  * the same names over fresh warehouses; a DataFrame from an earlier call
  * keeps the table it already resolved.
  */
final class Scratch private (home: Path) {
  private val confKeys = mutable.ArrayBuffer.empty[(SparkSession, String)]
  private val slots = mutable.ArrayBuffer.empty[Int]
  private var cursor = 0
  private var closed = false

  /** A fresh empty directory named `<tag>-…`; it dies with the scope. */
  def dir(tag: String): String = synchronized {
    if (closed) throw new IllegalStateException(s"scratch scope $home is closed")
    Scratch.removeRootAtExit
    Files.createDirectories(home)
    Files.createTempDirectory(home, tag + "-").toString
  }

  /** A [[TableStore]] over a fresh warehouse. */
  def store(s: SparkSession): TableStore = new TableStore(s, dir("wh"))

  /** A fresh warehouse with a GraftCatalog registered over it on `s`:
    * `(warehouse, catalogName)`. */
  def catalog(s: SparkSession): (String, String) = synchronized {
    val wh = dir("wh")
    if (cursor == slots.size) slots += Scratch.lease()
    val name = s"gscratch${slots(cursor)}"
    cursor += 1
    def set(k: String, v: String): Unit = { s.conf.set(k, v); confKeys += (s -> k) }
    set(s"spark.sql.catalog.$name", classOf[graft.catalog.GraftCatalog].getName)
    set(s"spark.sql.catalog.$name.warehouse", wh)
    (wh, name)
  }

  private def rewind(): Unit = synchronized { cursor = 0 }

  private def close(): Unit = synchronized {
    if (!closed) {
      closed = true
      confKeys.foreach { case (s, k) => s.conf.unset(k) }
      slots.foreach(Scratch.release)
      Scratch.deleteRecursively(home)
    }
  }
}

object Scratch {

  /** This JVM's scratch root: `<java.io.tmpdir>/graft-scratch/<pid>`. */
  val root: Path = Paths.get(System.getProperty("java.io.tmpdir"),
    "graft-scratch", ProcessHandle.current().pid().toString)

  private val open = new DynamicVariable[Option[Scratch]](None)
  private val scopes = new java.util.concurrent.atomic.AtomicLong()
  private def fresh(): Scratch =
    new Scratch(root.resolve(s"scope-${scopes.incrementAndGet()}"))

  private lazy val process: Scratch = fresh()

  /** The one shutdown hook: it removes [[root]] with every scope still in
    * it, the process scope included. Registered with the first dir. */
  private lazy val removeRootAtExit: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try deleteRecursively(root) catch { case _: java.io.IOException => () }))

  /** Run `body` in a fresh scope, closed when `body` returns or throws. */
  def scope[T](body: => T): T = {
    val sc = fresh()
    val result =
      try open.withValue(Some(sc))(body)
      catch { case e: Throwable =>
        try sc.close() catch { case c: Throwable => e.addSuppressed(c) }
        throw e
      }
    sc.close()
    result
  }

  /** The innermost open scope on this thread, else the process scope. */
  def active: Scratch = open.value.getOrElse(process)

  /** One query call: outside any scope it rewinds the process scope's
    * catalog slots first, so unscoped calls reuse a bounded set of names. */
  private[graft] def perCall[T](body: => T): T = {
    if (open.value.isEmpty) process.rewind()
    body
  }

  def dir(tag: String): String = active.dir(tag)
  def store(s: SparkSession): TableStore = active.store(s)
  def catalog(s: SparkSession): (String, String) = active.catalog(s)

  private val leased = mutable.BitSet.empty
  private def lease(): Int = leased.synchronized {
    val i = Iterator.from(0).find(i => !leased(i)).get
    leased += i
    i
  }
  private def release(i: Int): Unit = leased.synchronized { leased -= i; () }

  /** Depth-first delete that never follows a symlink out of `p`.
    * `Files.list` streams are CLOSED per directory — the stream holds the
    * directory fd, and an unclosed recursive walk over a partitioned
    * warehouse (thousands of partition dirs) exhausts the process fd
    * limit, poisoning every open() that follows. */
  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.list(p)
      try s.iterator().asScala.foreach(deleteRecursively) finally s.close()
    }
    Files.deleteIfExists(p)
    ()
  }
}
