package graft

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}

import org.apache.spark.sql.SparkSession

/** Central registry for the engine's memo caches ([[Tables]]' table
  * handles, [[operators.Dedup]]'s verified pairs,
  * [[operators.Similarity]]'s trained codebooks): each cache keys
  * entries by
  * (sessionUUID, data dir, kind) and registers itself here, so the
  * staleness/lifetime controls live in ONE place:
  *
  *  - [[invalidate]](pathPrefix) drops every derived artifact built
  *    from data under that path — writers that rewrite parquet in
  *    place call [[Tables.invalidate]], which delegates here, and no
  *    consumer can read a materialization of deleted files;
  *  - [[invalidateSession]] drops a finished session's entries so its
  *    localCheckpoint blocks / executor references are not pinned for
  *    the JVM lifetime (keying by the session UUID string, not the
  *    session object, keeps the KEY itself from pinning anything;
  *    dropping the value lets the ContextCleaner reap checkpoint
  *    blocks);
  *  - a blunt [[MaxEntries]] bound (clear-all on overflow) backstops
  *    pathological many-session/many-dir JVMs — these caches hold
  *    O(10) entries in any sane run, so hitting the bound at all
  *    means the workload churns sessions and a cold rebuild is the
  *    correct price.
  *
  * At 100 TB the same seam is a snapshot catalog: artifacts keyed by
  * an immutable snapshot id, invalidation = publishing a new snapshot.
  */
object CacheRegistry {
  type Key = (String, String, String) // (sessionUUID, dir, kind)

  val MaxEntries = 256

  private val caches = new CopyOnWriteArrayList[ConcurrentHashMap[Key, AnyRef]]()

  /** A fresh memo cache, registered for global invalidation. */
  def newCache(): ConcurrentHashMap[Key, AnyRef] = {
    val m = new ConcurrentHashMap[Key, AnyRef]()
    caches.add(m)
    m
  }

  private def uuidOf(spark: SparkSession): String =
    org.apache.spark.sql.graftbridge.Bridge.sessionUUID(spark)

  /** Memoize `build` under (session, dir, kind) in `m`. */
  def cached[T <: AnyRef](m: ConcurrentHashMap[Key, AnyRef],
      spark: SparkSession, dir: String, kind: String)(build: => T): T = {
    if (m.size >= MaxEntries) m.clear()
    m.computeIfAbsent((uuidOf(spark), dir, kind), _ => build).asInstanceOf[T]
  }

  /** Drop every derived artifact built from data under `pathPrefix`
    * (all sessions, all registered caches).
    */
  def invalidate(pathPrefix: String): Unit =
    caches.forEach(_.keySet.removeIf(_._2.startsWith(pathPrefix)))

  /** Drop a session's entries across all registered caches. */
  def invalidateSession(spark: SparkSession): Unit = {
    val u = uuidOf(spark)
    caches.forEach(_.keySet.removeIf(_._1 == u))
  }
}
