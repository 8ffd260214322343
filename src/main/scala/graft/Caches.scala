package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Ownership policy for the library's shared intermediates: what is
  * kept across a session's queries, who keeps it, and how it is let go.
  *
  * Two kinds of state outlive a query:
  *
  *  - Spark's cache. Several operators persist a subtree that feeds
  *    multiple consumers in the SAME plan (both sides of a self-join) or
  *    is shared across queries through CacheManager's canonical-plan
  *    matching (shingle tables). Those persists are load-bearing, so the
  *    library does not unpersist them after the first action.
  *  - The session [[memo]]. A value whose build runs eager Spark actions
  *    (a driver collect, a learn loop) or pays per-call metadata work
  *    (a parquet relation's file listing) cannot be deduplicated by plan
  *    matching, so it is built once per session and key and handed out
  *    by identity. DataFrame values are usually persisted too.
  *
  * Both live until the caller lets them go. Short-lived jobs need do
  * nothing: both die with the session. Long-lived hosts call
  * [[clearAll]] between workloads; it is the one release. A caller that
  * rewrites a table directory mid-session then calls
  * [[graft.tables.Tables.invalidate]], which drops what was built from
  * it.
  *
  * Iterative operators that persist per-round intermediates (the
  * connected-components loop) DO unpersist internally: their plans are
  * unique per round, so nothing downstream can ever reuse them.
  */
object Caches {

  /** Persist `df` unless its canonical plan is already cached.
    *
    * `Dataset.storageLevel` consults the session CacheManager, so when a
    * rebuilt DataFrame has the same canonical plan as an earlier
    * persisted one this is a no-op instead of the "Asked to cache
    * already cached data" warning (the second `persist` would be
    * ignored anyway — this just makes the idempotence explicit).
    */
  def persistOnce(df: DataFrame,
                  level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    if (df.storageLevel == StorageLevel.NONE) df.persist(level) else df

  /** A memo entry's key: the table directories the value was built from
    * (what [[graft.tables.Tables.invalidate]] matches) and what the value
    * is, with its parameters.
    */
  final case class Key(dirs: Seq[String], what: Any)

  // Weak keys alone cannot collect an entry: DataFrame values reference
  // their session, so the value chain pins the key. Hence the sweep of
  // stopped sessions on every access.
  private val sessions = new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[Key, Any]]()

  private def live[A](f: java.util.Map[SparkSession, ConcurrentHashMap[Key, Any]] => A): A =
    sessions.synchronized {
      sessions.keySet.removeIf(_.sparkContext.isStopped)
      f(sessions)
    }

  /** The value memoized for `(dirs, what)` in session `s`, built by
    * `build` on first use.
    *
    * The build runs outside any lock: builds run eager Spark actions
    * that take seconds, and a lock held through them would stall other
    * first uses. Two threads racing one key both build, and both get
    * the value stored first. A persisted DataFrame the loser built
    * shares the winner's canonical plan, so it is the same cache entry.
    */
  def memo[V](s: SparkSession, dirs: Seq[String], what: Any)(build: => V): V = {
    val m = live(_.computeIfAbsent(s, _ => new ConcurrentHashMap[Key, Any]()))
    val key = Key(dirs, what)
    val hit = m.get(key)
    if (hit != null) hit.asInstanceOf[V]
    else {
      val built = build
      val prev = m.putIfAbsent(key, built)
      (if (prev != null) prev else built).asInstanceOf[V]
    }
  }

  /** Drop the memo entries whose key satisfies `p`, in `s` and in every
    * session that shares its Spark cache (`newSession()` siblings), and
    * unpersist each dropped DataFrame.
    */
  def drop(s: SparkSession)(p: Key => Boolean): Unit = {
    val maps = live(_.asScala.collect {
      case (k, m) if k.sharedState eq s.sharedState => m
    }.toSeq)
    for (m <- maps) m.forEach { (k, v) =>
      if (p(k) && m.remove(k, v)) v match {
        case df: Dataset[_] if df.storageLevel != StorageLevel.NONE => df.unpersist()
        case _ =>
      }
    }
  }

  /** The one release for long-lived callers: drop every memo entry and
    * every cached plan of `s` and of the sessions sharing its cache.
    * Release API: no query or main calls it (a one-shot run ends with
    * its session); it stays for sessions that outlive a workload, and
    * the specs that reset state between cases use it.
    */
  def clearAll(s: SparkSession): Unit = {
    s.catalog.clearCache()
    drop(s)(_ => true)
  }
}
