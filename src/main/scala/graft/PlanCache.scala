package graft

import java.util.concurrent.ConcurrentHashMap
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one in-memory memo: every value that is reused until the data
  * under a dir changes — persisted builds, resolved parquet scans, sizing
  * scalars, JSONL copies — lives here, keyed by the session REFERENCE
  * (not its identity hash — a GC'd session's hash can collide with a live
  * one's) plus the data dir and a tag. An entry is a value plus the
  * action that releases it (unpersist, delete a copy, or nothing).
  * Entries belonging to stopped sessions are evicted, unreleased (a
  * stopped context took its persisted blocks with it), on every access,
  * so the store stays bounded by the number of live sessions; `invalidate`
  * is the one data-changed sweep. Bucketed TABLES are not memos: their
  * registry is sources.IndexStore.derivedBucketed, and
  * IndexStore.invalidateDerived sweeps both.
  */
object PlanCache {
  /** Memoized value, its release action and the epoch snapshot it was
    * built against — lookups compare the entry's epoch to the CALLER's
    * snapshot so a chained build never mixes layers from different
    * corpus snapshots (see [[getOrBuildAt]]). Compared by identity. */
  private final class Entry(val value: Any, val epoch: Long,
      val release: () => Unit)

  private val cache =
    new ConcurrentHashMap[(SparkSession, String, String), Entry]()

  /** Bumped by every invalidate: a build that STARTED before an
    * invalidation must not install its (possibly pre-change) snapshot
    * into the cache after the sweep — the watch loop's per-batch
    * invalidate would otherwise race an in-flight build and pin a
    * stale value indefinitely (TOCTOU). The in-flight caller still gets
    * its own result (bounded staleness for that one query), released
    * like any value the store does not keep; it just doesn't become the
    * memo. */
  private val epoch = new java.util.concurrent.atomic.AtomicLong()

  /** The epoch to snapshot at the START of a multi-layer build (BFS) and
    * thread through every chained [[getOrBuildAt]] install. */
  def currentEpoch: Long = epoch.get()

  def getOrBuild(spark: SparkSession, dir: String, tag: String)
      (build: => DataFrame): DataFrame =
    getOrBuildAt(spark, dir, tag, epoch.get())(build)

  /** [[getOrBuild]] whose install AND lookup checks compare against a
    * CALLER-supplied epoch snapshot. A chained build (BFS layer h+1 built
    * from the local DataFrame of layer h) must pass the snapshot taken
    * before layer 1:
    *
    *  - Install side: with a per-call snapshot, an invalidate landing
    *    between layers suppresses layer h's install but NOT layer
    *    h+1's — which was built from the stale hop-h frontier still held
    *    in a local var — and the next query would recombine fresh early
    *    layers with stale cached late ones.
    *  - Lookup side: an entry installed under a NEWER epoch (a concurrent
    *    query re-running the chain post-invalidation) must not be
    *    returned to a caller holding an older snapshot, or the in-flight
    *    chain would join a fresh cached layer against its own stale local
    *    visited set — a mixed state matching no corpus snapshot. Such a
    *    caller rebuilds the layer from its own chain instead (and its
    *    install is then suppressed), preserving bounded-but-CONSISTENT
    *    staleness for the in-flight query.
    *
    * Entries are never newer than the live epoch, so plain [[getOrBuild]]
    * (snapshot = now) always accepts cached entries. The DataFrame is
    * persisted at build and unpersisted at release. */
  def getOrBuildAt(spark: SparkSession, dir: String, tag: String,
      asOfEpoch: Long)(build: => DataFrame): DataFrame =
    memoAt(spark, dir, tag, asOfEpoch)(build.persist())(_.unpersist())

  /** The memo for any value: `build` runs on a miss, `release` when the
    * entry is dropped or swept, and on a built value the store does not
    * keep. Same epoch rules as [[getOrBuildAt]], snapshot = now. */
  def memo[T](spark: SparkSession, dir: String, tag: String)
      (build: => T)(release: T => Unit): T =
    memoAt(spark, dir, tag, epoch.get())(build)(release)

  private def memoAt[T](spark: SparkSession, dir: String, tag: String,
      asOfEpoch: Long)(build: => T)(release: T => Unit): T = {
    cache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val key = (spark, dir, tag)
    val existing = cache.get(key)
    if (existing != null && existing.epoch <= asOfEpoch)
      existing.value.asInstanceOf[T]
    else {
      // NOT computeIfAbsent: a build closure may itself call the memo
      // for a dependency (BFS memo -> edge relation, sizing -> scan), and
      // nested computeIfAbsent on one ConcurrentHashMap throws "Recursive
      // update" depending on bin layout — and it would hold the bin lock
      // across the build's Spark job. get + putIfAbsent is reentrant; if
      // two threads race, the loser releases its duplicate build.
      val built = build
      val entry = new Entry(built, asOfEpoch, () => release(built))
      if (epoch.get() != asOfEpoch) { releaseQuietly(entry); built }
      else {
        val prev = cache.putIfAbsent(key, entry)
        if (prev != null) { releaseQuietly(entry); prev.value.asInstanceOf[T] }
        else if (epoch.get() != asOfEpoch) {
          // TOCTOU: an invalidate bumped+swept BETWEEN the check above and
          // the install — our entry landed after the sweep and would be
          // pinned as a stale memo. Conditionally remove exactly our own
          // entry (a fresher thread may already have replaced it) and
          // serve the caller its bounded-stale result uncached.
          if (cache.remove(key, entry)) releaseQuietly(entry)
          built
        } else built
      }
    }
  }

  private def releaseQuietly(e: Entry): Unit =
    try e.release() catch { case NonFatal(_) => () }

  /** The memoized value under (spark, dir, tag), if one is installed. */
  private[graft] def lookup(spark: SparkSession, dir: String,
      tag: String): Option[Any] =
    Option(cache.get((spark, dir, tag))).map(_.value)

  /** Remove and release ONE entry (e.g. per-query BFS layers released
    * after their output is materialized). No-op if absent. */
  def drop(spark: SparkSession, dir: String, tag: String): Unit = {
    val e = cache.remove((spark, dir, tag))
    if (e != null) releaseQuietly(e)
  }

  /** Release and drop every session's entries over `dir` — the call a
    * watch-loop deployment makes when that corpus dir's data changed
    * (see streaming.WatchLoop). Deliberately CROSS-SESSION: changed data
    * is stale for every session; a sibling session mid-read over a
    * released value (a deleted JSONL copy) fails and re-runs, the
    * contract Spark applies to a table whose files are swapped
    * mid-scan. Derived bucketed TABLES are swept by
    * sources.IndexStore.invalidateDerived(spark, dir), which calls this
    * too. */
  def invalidate(dir: String): Unit = {
    epoch.incrementAndGet()
    cache.forEach { (k, e) =>
      // conditional remove: release only the entry this sweep took out,
      // never a fresher one that replaced it meanwhile
      if (k._2 == dir && cache.remove(k, e)) releaseQuietly(e)
    }
  }
}
