package graft.core

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The engine's one memo, in two tiers.
  *
  *  - SESSION tier ([[session]]): any value — counts, cutoffs, collected
  *    centroids, opened tables and indexes, checkpointed frames — keyed by
  *    ([[GraftSession.sessionId]], key) and evicted when the session's
  *    application ends. A later session can never be handed state whose
  *    SparkContext has died, and a regenerated input read by a new session
  *    is recomputed.
  *  - MACHINE tier ([[machine]]): a directory built once per machine and
  *    reused across JVMs. It holds only paths: the build lands in a fresh
  *    UUID dir under `java.io.tmpdir/<namespace>`, then a pointer file
  *    named by the MD5 of (input, recipe) is published create-if-absent.
  *    The race loser adopts the winner's pointer and deletes its own build.
  *    Objects opened over the path belong in the session tier.
  *
  * The key of a machine entry is everything its build depends on: the
  * input (a corpus dir) and the recipe (a tag naming the derivation plus
  * any layout identity, e.g. `#cells=…#layout=v2`); bump the recipe when
  * the build changes. Builds run outside every map lock, in a per-key
  * cell, so builds nest (a machine build may call other session or machine
  * memos) and concurrent first callers in one session run each build once;
  * across sessions and JVMs the pointer write decides. A build that throws
  * leaves nothing behind and is retried by the next call.
  */
object Memo {

  /** Computes its value at most once; concurrent readers wait on the cell,
    * never on the map. A throwing compute leaves the cell unset.
    */
  private final class Cell(compute: () => Any) {
    lazy val value: Any = compute()
  }

  private val cells = new ConcurrentHashMap[(Long, String), Cell]()
  private val listening = ConcurrentHashMap.newKeySet[Long]()

  /** `compute`, memoized per (session, key). Keys are global across the
    * engine: prefix each with the name of what it memoizes.
    */
  def session[T](s: SparkSession, key: String)(compute: => T): T = {
    val k = (evictOnEnd(s), key)
    val cell = cells.computeIfAbsent(k, _ => new Cell(() => compute))
    try cell.value.asInstanceOf[T]
    catch { case e: Throwable => cells.remove(k, cell); throw e }
  }

  /** The directory `build` writes, built at most once per machine for
    * (`input`, `recipe`) and published under `java.io.tmpdir/namespace`
    * as `kind-<md5>.path`. `build` receives a fresh, not yet created
    * directory. Returns the published directory.
    */
  def machine(s: SparkSession, namespace: String, kind: String, input: String,
              recipe: String = "")(build: Path => Unit): String = {
    val key = md5Hex(input + recipe)
    session(s, s"machine:$namespace/$kind-$key") {
      val base = Paths.get(System.getProperty("java.io.tmpdir"), namespace)
      Files.createDirectories(base)
      val pointer = base.resolve(s"$kind-$key.path")
      if (!Files.exists(pointer)) {
        val dir = base.resolve(s"$kind-$key-${java.util.UUID.randomUUID()}")
        try build(dir)
        catch { case e: Throwable => deleteQuietly(dir); throw e }
        try Files.write(pointer, dir.toString.getBytes("UTF-8"), StandardOpenOption.CREATE_NEW)
        catch { case _: FileAlreadyExistsException => deleteQuietly(dir) } // racer won
      }
      Files.readString(pointer)
    }
  }

  /** Session-tier entries currently held for `s` (observability, specs). */
  private[graft] def sessionEntries(s: SparkSession): Int = {
    val sid = GraftSession.sessionId(s)
    cells.keySet.stream.filter(_._1 == sid).count().toInt
  }

  private def md5Hex(text: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def deleteQuietly(dir: Path): Unit =
    try Fs.deleteTree(dir) catch { case NonFatal(_) => () }

  /** One application-end listener per session sweeps that session's cells. */
  private def evictOnEnd(s: SparkSession): Long = {
    val sid = GraftSession.sessionId(s)
    if (listening.add(sid))
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          cells.keySet.removeIf(_._1 == sid)
          listening.remove(sid)
        }
      })
    sid
  }
}
