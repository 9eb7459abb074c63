package graft

import java.util.Locale
import java.util.concurrent.ConcurrentHashMap
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, OneRowRelation, Range}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The one in-memory memo: every value that is reused until the data
  * under a dir changes — persisted builds, resolved parquet scans,
  * prepared registry queries (the analyzed plan of each
  * [[SparkEntry.queries]] entry, held only under the SQL conf it was
  * built under, see [[memoUnder]]), sizing scalars and other
  * index-wide values (BM25's corpus statistics), JSONL copies — lives
  * here, keyed by the session REFERENCE
  * (not its identity hash — a GC'd session's hash can collide with a live
  * one's) plus the data dir and a tag. An entry is a value, the action
  * that releases it (unpersist, delete a copy, or nothing) and its READ
  * SET: the tables the value was computed from (see [[Reads]]), derived
  * by the store, never declared by a caller.
  * Entries belonging to stopped sessions are evicted, unreleased (a
  * stopped context took its persisted blocks with it), on every access,
  * so the store stays bounded by the number of live sessions.
  *
  * Two sweeps say "the data changed": `invalidate(dir)` drops every entry
  * of `dir` (a corpus rewritten in place, a watch loop switched on or
  * off), and `invalidate(dir, table)` drops only the entries whose read
  * set covers `table` (the watch loop's per-batch call: an edge append
  * leaves the vector and `uses`-graph memos standing). Bucketed TABLES
  * are not memos: their registry is sources.IndexStore.derivedBucketed,
  * and IndexStore.invalidateDerived sweeps both, dir-wide.
  */
object PlanCache {
  /** A read set: normalized table keys (catalog table names, lowercased,
    * and the root paths of file scans), or None when some source of the
    * value cannot be derived — such an entry counts as reading every
    * table of its dir, so it is never staler than under a dir-wide
    * sweep.
    *
    *  - A DataFrame reads the leaf relations of its analyzed plan,
    *    subqueries included: file relations by root path, catalog tables
    *    by name (and path). A lineage cut's LogicalRDD resolves to the
    *    read set of the plan it cut ([[Checkpoints.cut]] records it);
    *    `range` and one-row leaves read nothing; any other leaf (a local
    *    relation of collected rows, a foreign RDD, a stream) is unknown.
    *  - Every memo value also reads what its build touched: the read sets
    *    of the memos (hits and builds, `Tables.load` scans included) it
    *    called, collected in a per-thread build frame. A non-DataFrame
    *    value whose build touched no memo is unknown. So a value memo
    *    must read its tables through memos — a build that lists files or
    *    reads a table behind the store's back is unknown or, if it also
    *    touched a memo, under-reported.
    */
  type Reads = Option[Set[String]]

  /** Memoized value, its release action, the epoch snapshot it was
    * built against — lookups compare the entry's epoch to the CALLER's
    * snapshot so a chained build never mixes layers from different
    * corpus snapshots (see [[getOrBuildAt]]) — its read set, and the key
    * it holds under ([[memoUnder]]; `()` for every other memo).
    * Compared by identity. */
  private final class Entry(val value: Any, val epoch: Long,
      val reads: Reads, val key: Any, val release: () => Unit)

  private val cache =
    new ConcurrentHashMap[(SparkSession, String, String), Entry]()

  /** Bumped by every invalidate. The snapshot a build takes of it orders
    * the build against the sweeps: a build is not installed if a sweep
    * covering its read set landed after its snapshot (see [[marks]]). */
  private val epoch = new java.util.concurrent.atomic.AtomicLong()

  /** The epoch of the latest sweep per (dir, table key), the dir-wide
    * sweep under table None. A build that STARTED before a sweep
    * covering its read set must not install its (possibly pre-change)
    * value after the sweep — the watch loop's per-batch sweep would
    * otherwise race an in-flight build and pin a stale value
    * indefinitely (TOCTOU). The in-flight caller still gets its own
    * result (bounded staleness for that one query), released like any
    * value the store does not keep; it just doesn't become the memo. A
    * sweep of another table or another dir does not suppress it. */
  private val marks = new ConcurrentHashMap[(String, Option[String]), Long]()

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
    *  - Install side: with a per-call snapshot, a sweep landing between
    *    layers suppresses layer h's install but NOT layer h+1's — which
    *    was built from the stale hop-h frontier still held in a local
    *    var — and the next query would recombine fresh early layers with
    *    stale cached late ones. A sweep suppresses only the layers whose
    *    read set it covers; the chain's layers read what layer 1 read.
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
    memoAt(spark, dir, tag, asOfEpoch, ())(build.persist())(_.unpersist())

  /** The memo for any value: `build` runs on a miss, `release` when the
    * entry is dropped or swept, and on a built value the store does not
    * keep. Same epoch rules as [[getOrBuildAt]], snapshot = now. */
  def memo[T](spark: SparkSession, dir: String, tag: String)
      (build: => T)(release: T => Unit): T =
    memoAt(spark, dir, tag, epoch.get(), ())(build)(release)

  /** [[memo]] of a value that holds only under `key`, compared by value
    * (a prepared registry query and the session SQL conf its operators
    * resolved their knobs from, see [[SparkEntry.queries]]). An entry
    * built under another key is a miss, and is dropped and released, so
    * the new build REPLACES it: one entry per tag, never one per key.
    * `key` is read at the lookup and again after a build, and the entry
    * keeps the latter: a build that settles the key itself (a first
    * table load sets the session's timestamp posture) is then a hit for
    * the next call. */
  def memoUnder[T](spark: SparkSession, dir: String, tag: String)
      (key: => Any)(build: => T)(release: T => Unit): T =
    memoAt(spark, dir, tag, epoch.get(), key)(build)(release)

  /** What the builds running on this thread have touched so far, one
    * frame per nested build, innermost first. */
  private final class Frame {
    var reads: Reads = Some(Set.empty)
    var touched = false
    def add(r: Reads): Unit = { touched = true; reads = union(reads, r) }
  }
  private val frames = ThreadLocal.withInitial[List[Frame]](() => Nil)

  private def union(a: Reads, b: Reads): Reads =
    for (x <- a; y <- b) yield x ++ y

  private def memoAt[T](spark: SparkSession, dir: String, tag: String,
      asOfEpoch: Long, holdsUnder: => Any)(build: => T)(release: T => Unit): T = {
    cache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val key = (spark, dir, tag)
    val existing = cache.get(key)
    val wanted = holdsUnder
    if (existing != null && existing.key != wanted &&
        cache.remove(key, existing)) releaseQuietly(existing)
    val (value, reads) =
      if (existing != null && existing.epoch <= asOfEpoch &&
          existing.key == wanted)
        (existing.value.asInstanceOf[T], existing.reads)
      else {
        // NOT computeIfAbsent: a build closure may itself call the memo
        // for a dependency (BFS memo -> edge relation, sizing -> scan), and
        // nested computeIfAbsent on one ConcurrentHashMap throws "Recursive
        // update" depending on bin layout — and it would hold the bin lock
        // across the build's Spark job. get + putIfAbsent is reentrant; if
        // two threads race, the loser releases its duplicate build.
        val frame = new Frame
        frames.set(frame :: frames.get)
        val built = try build finally frames.set(frames.get.tail)
        val reads = union(frame.reads, built match {
          case df: Dataset[_] => readsOf(df.queryExecution.analyzed)
          case _ => if (frame.touched) Some(Set.empty[String]) else None
        })
        val builtUnder = holdsUnder
        val entry = new Entry(built, asOfEpoch, reads, builtUnder,
          () => release(built))
        val out =
          if (sweptSince(dir, reads) > asOfEpoch) { releaseQuietly(entry); built }
          else {
            val prev = cache.putIfAbsent(key, entry)
            if (prev != null) {
              releaseQuietly(entry)
              if (prev.epoch <= asOfEpoch && prev.key == builtUnder)
                prev.value.asInstanceOf[T]
              else built
            } else if (sweptSince(dir, reads) > asOfEpoch) {
              // TOCTOU: a sweep marked+swept BETWEEN the check above and
              // the install — our entry landed after the sweep and would
              // be pinned as a stale memo. Conditionally remove exactly our
              // own entry (a fresher thread may already have replaced it)
              // and serve the caller its bounded-stale result uncached.
              if (cache.remove(key, entry)) releaseQuietly(entry)
              built
            } else built
          }
        (out, reads)
      }
    frames.get.headOption.foreach(_.add(reads))
    value
  }

  /** The epoch of the latest sweep of `dir` that covers `reads`: the
    * dir-wide one, or one of a table in `reads` (any table when unknown). */
  private def sweptSince(dir: String, reads: Reads): Long = {
    var at = 0L
    marks.forEach { (k, e) =>
      if (k._1 == dir && (k._2.isEmpty || reads.forall(r => k._2.exists(r))))
        at = math.max(at, e)
    }
    at
  }

  /** The read set of an analyzed plan (see [[Reads]]). */
  private[graft] def readsOf(plan: LogicalPlan): Reads =
    plan.collectWithSubqueries {
      case r: LogicalRelation =>
        val paths = r.relation match {
          case fs: HadoopFsRelation =>
            Some(fs.location.rootPaths.map(p => pathKey(p.toUri.getPath)).toSet)
          case _ => None
        }
        val name = r.catalogTable.map(t => nameKey(t.identifier.table))
        if (paths.isEmpty && name.isEmpty) None
        else Some(paths.getOrElse(Set.empty) ++ name)
      case r: LogicalRDD => Checkpoints.readsOfCut(r.rdd)
      case _: Range | _: OneRowRelation => Some(Set.empty[String])
      case l if l.children.isEmpty => None
    }.foldLeft(Some(Set.empty[String]): Reads)(union)

  private def nameKey(name: String): String = name.toLowerCase(Locale.ROOT)
  private def pathKey(path: String): String = path.stripSuffix("/")

  /** The key a sweep target names: a catalog table name, or the path of
    * a file table (any target containing a '/'), qualified through the
    * active session's file system the way a scan qualifies its root. */
  private def tableKey(table: String): String =
    if (!table.contains('/')) nameKey(table)
    else {
      val p = new org.apache.hadoop.fs.Path(table)
      val conf = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession)
        .map(_.sparkContext.hadoopConfiguration)
        .getOrElse(new org.apache.hadoop.conf.Configuration())
      pathKey(p.getFileSystem(conf).makeQualified(p).toUri.getPath)
    }

  private def releaseQuietly(e: Entry): Unit =
    try e.release() catch { case NonFatal(_) => () }

  /** The memoized value under (spark, dir, tag), if one is installed. */
  private[graft] def lookup(spark: SparkSession, dir: String,
      tag: String): Option[Any] =
    Option(cache.get((spark, dir, tag))).map(_.value)

  /** The number of entries over `dir`, every live session's. */
  private[graft] def size(dir: String): Int = {
    var n = 0
    cache.forEach { (k, _) =>
      if (k._2 == dir && !k._1.sparkContext.isStopped) n += 1
    }
    n
  }

  /** Remove and release ONE entry (e.g. per-query BFS layers released
    * after their output is materialized). No-op if absent. */
  def drop(spark: SparkSession, dir: String, tag: String): Unit = {
    val e = cache.remove((spark, dir, tag))
    if (e != null) releaseQuietly(e)
  }

  /** Release and drop every session's entries over `dir` — the call for
    * "anything under dir may have changed": a corpus rewritten in place
    * (sources.IndexStore.invalidateDerived, which also drops the derived
    * bucketed TABLES, calls this) or a watch loop switched on or off
    * (streaming.WatchLoop). Deliberately CROSS-SESSION: changed data is
    * stale for every session; a sibling session mid-read over a released
    * value (a deleted JSONL copy) fails and re-runs, the contract Spark
    * applies to a table whose files are swapped mid-scan. Returns the
    * number of entries released. */
  def invalidate(dir: String): Int = sweep(dir, None)

  /** Release and drop every session's entries over `dir` whose read set
    * covers `table` (a catalog table name, or a file table's path) or is
    * unknown — the call a watch loop makes after each batch it appends
    * to its edge table; every other entry of `dir` stays. Returns the
    * number of entries released. */
  def invalidate(dir: String, table: String): Int =
    sweep(dir, Some(tableKey(table)))

  private def sweep(dir: String, table: Option[String]): Int = {
    // mark before sweeping: an install that misses this sweep's removal
    // sees the mark on its re-check (see memoAt)
    val e = epoch.incrementAndGet()
    marks.merge((dir, table), e, (a, b) => math.max(a, b))
    var n = 0
    cache.forEach { (k, entry) =>
      // conditional remove: release only the entry this sweep took out,
      // never a fresher one that replaced it meanwhile
      if (k._2 == dir && table.forall(t => entry.reads.forall(_(t))) &&
          cache.remove(k, entry)) {
        releaseQuietly(entry)
        n += 1
      }
    }
    n
  }
}
