package graft

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.graftbridge.SchedulerBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** The one owner of the engine's intermediate files: every path a row
  * writes outside its caller's sink is derived here, and its scope says
  * who deletes it.
  *
  *  - [[session]] `<tmp>/graft_<run>/s_<session>/<dir>/<name>`:
  *    artifacts published once per (session, dir) behind a memo entry
  *    (IVF index, served suffix-gram index, pipe_forget's tables,
  *    st_suffix_forget's base refcounts). Deleted by
  *    [[CacheRegistry.invalidateSession]] with the memo entries that
  *    point at them, and at JVM exit by Spark's temp-dir shutdown hook
  *    (after the SparkContext stops). Keyed by session, so no JVM or
  *    session overwrites tables another one is reading.
  *  - [[process]] `<tmp>/graft_<run>/<dir>/<name>`: per-JVM landings.
  *    Kept at exit: the oracle SQL of the [[pin]]ned rows names them
  *    and is read after the JVM has ended.
  *  - [[shared]] `<tmp>/graft_stream_<dir>/<name>`: the streaming rows'
  *    staged sources, one copy per dir across JVMs, reused while newer
  *    than their source; crash-replay runs delete their own dirs.
  *
  * Invariant: a frame a row returns must not be executed after its
  * session's `invalidateSession` — its scans may name deleted files.
  * Invalidate after the last action on the session's frames; the next
  * row republishes through the memo.
  */
object Scratch {
  private val tmp = System.getProperty("java.io.tmpdir")
  private val runRoot = s"$tmp/graft_${java.util.UUID.randomUUID().toString.take(8)}"

  /** `dir` as one path segment. */
  private def key(dir: String): String = dir.replaceAll("[^a-zA-Z0-9]", "_")

  private def sessionRoot(s: SparkSession): File =
    new File(s"$runRoot/s_${Bridge.sessionUUID(s).take(8)}")

  def session(s: SparkSession, dir: String, name: String): String = {
    val root = sessionRoot(s)
    SchedulerBridge.deleteAtExit(root)
    s"$root/${key(dir)}/$name"
  }

  def process(dir: String, name: String): String = s"$runRoot/${key(dir)}/$name"

  def shared(dir: String, name: String): String = s"$tmp/graft_stream_${key(dir)}/$name"

  /** A fresh, empty directory under the run root, deleted at JVM exit. */
  def temp(prefix: String): String = {
    val root = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(runRoot))
    val d = java.nio.file.Files.createTempDirectory(root, prefix).toFile
    SchedulerBridge.deleteAtExit(d)
    d.getPath
  }

  /** Delete `s`'s session-scope files (see [[CacheRegistry.invalidateSession]]). */
  private[graft] def dropSession(s: SparkSession): Unit = {
    val root = sessionRoot(s)
    delete(root.getPath)
    SchedulerBridge.keepAtExit(root)
  }

  /** Delete `path` and everything under it. */
  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete(); ()
    }
    rm(new File(path))
  }

  private val pins = new ConcurrentHashMap[String, String]()

  /** Record and return `path` as the landing of `kind` this process
    * last wrote — the file a row's oracle SQL reads at dump time.
    */
  def pin(kind: String, path: String): String = { pins.put(kind, path); path }

  /** The path last [[pin]]ned for `kind`; a nonexistent one when this
    * process never landed it, so an oracle read fails loudly.
    */
  def pinned(kind: String): String = pins.getOrDefault(kind, s"/graft_${kind}_never_landed")
}
