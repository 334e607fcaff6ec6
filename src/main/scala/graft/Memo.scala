package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}

/** The materialize-once contract: a value is built at most once per
  * (application, sfDir, tag) and shared by every query that asks for it.
  *
  * Keys are `appId#sfDir#tag`. Entries of other applications are dropped on
  * access: their checkpointed RDDs died with their SparkContext.
  * `computeIfAbsent` only inserts a cheap per-key holder, and the build runs
  * when the holder is forced, outside the map's bin lock. So a build may
  * resolve other memo entries (a nested `computeIfAbsent` on one map throws
  * "Recursive update" when two keys share a bin). The holder's lazy val
  * makes concurrent callers wait for one build; a build that throws is not
  * cached and runs again on the next call.
  *
  * Every scratch directory lives under one root that Spark deletes when the
  * JVM shuts down.
  */
object Memo {
  private final class Cell(private var build: () => Any) {
    lazy val value: Any = { val v = build(); build = null; v }
  }

  private val cells = new ConcurrentHashMap[String, Cell]()
  private val dirs = new AtomicLong()
  // Short names on purpose: plan strings cut file locations at 100
  // characters and specs look for scratch file names in them, so the root
  // is not Spark's UUID-named temp dir; Spark's shutdown hook deletes it.
  private lazy val root: Path = {
    val d = Files.createTempDirectory("graft")
    GraftShim.deleteAtShutdown(d.toFile)
    d
  }

  def apply[T](spark: SparkSession, sfDir: String, tag: String)(build: => T): T = {
    val app = spark.sparkContext.applicationId
    cells.keySet.removeIf(k => !k.startsWith(s"$app#"))
    val key = s"$app#$sfDir#$tag"
    val cell = cells.computeIfAbsent(key, _ => new Cell(() => build))
    try cell.value.asInstanceOf[T]
    catch { case NonFatal(e) => cells.remove(key, cell); throw e }
  }

  /** A DataFrame leaf: `build`'s result cut by [[Rounds.cut]]. */
  def leaf(spark: SparkSession, sfDir: String, tag: String)(
      build: => DataFrame): DataFrame =
    apply(spark, sfDir, tag)(Rounds.cut(build))

  /** A directory written once: `write` fills a fresh scratch directory,
    * whose path is returned.
    */
  def dir(spark: SparkSession, sfDir: String, tag: String)(
      write: String => Unit): String =
    apply(spark, sfDir, tag) { val d = tempDir(tag).toString; write(d); d }

  /** A fresh, empty directory under the scratch root. */
  def tempDir(prefix: String): Path =
    Files.createDirectory(root.resolve(s"${prefix}_${dirs.incrementAndGet()}"))

  /** Deletes a scratch tree. `Files.walk` does not follow symlinks, so a
    * fixture that a scratch dir links to is never touched.
    */
  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally walk.close()
  }

  /** Test hook: forget every entry, so the next call rebuilds. */
  private[graft] def clearForTest(): Unit = cells.clear()
}
