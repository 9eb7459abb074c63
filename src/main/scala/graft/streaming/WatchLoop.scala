package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The deployed watch loop — the reference's reload cycle
  * (internal/mcp/watcher.go: file events stream in; internal/mcp/loader.go
  * Reload: storage updated, in-memory index swapped) wired onto Spark
  * primitives: [[StreamingOps.streamingEdgeUpserts]] emits only
  * never-seen edges, and each non-empty micro-batch (1) appends them to
  * the session's edge table and (2) sweeps PlanCache for that TABLE
  * (PlanCache.invalidate(dir, table)): the memos whose read set covers
  * the edge table — the edge relation, the supplier↔part graph reads and
  * their BFS chains — rebuild against the updated graph on their next
  * use, and the rest of the dir's memos (vectors, the customer→supplier
  * `uses` graph, scans of the corpus tables) stay. An unchanged batch
  * (every edge already in state) writes nothing and invalidates nothing —
  * the no-op reload. Starting and stopping a watch re-routes the edge
  * relation, so both sweep the whole dir.
  *
  * The override registry is IN-MEMORY (session-keyed), deliberately not
  * catalog-existence-based: a leftover physical table from a previous
  * process must never silently re-route a fresh session's graph queries
  * away from the batch relation (the correctness dump runs no watch loop
  * and must always read the canonical lineitem-derived edges).
  *
  * Scale posture: the append writes exactly the new edges (work ∝ churn,
  * the watch-mode property), the read path collapses the append log with
  * one distinct(), and invalidation is scoped to the changed table of the
  * changed dir, so every memo that did not read it stays live.
  *
  * Failure posture: consuming a micro-batch COMMITS its edges into the
  * stream's dropDuplicates state, so a batch whose index build throws
  * must not simply be drained — the state would suppress every future
  * re-notification of those edges and a transient failure would become
  * permanent data loss. Failed batches are stashed to a per-dir retry
  * table (the stash write itself consumes the batch, satisfying Spark's
  * state-store commit validation) and re-applied by the next successful
  * batch; only if the stash write ALSO fails is the batch drained, with
  * the loss recorded in the ledger row's error. The reference never hits
  * this because its reload re-reads storage from scratch each time
  * (internal/mcp/loader.go) — the stash gives the incremental stream the
  * same nothing-lost-on-transient-failure guarantee.
  */
object WatchLoop {

  private val live = new ConcurrentHashMap[(SparkSession, String), String]()

  /** Entries of stopped sessions leave [[live]] and [[ledgers]] on every
    * access, as PlanCache's do, so neither pins a stopped session. */
  private def evictStopped(): Unit = {
    live.keySet.removeIf(k => k._1.sparkContext.isStopped)
    ledgers.keySet.removeIf(k => k._1.sparkContext.isStopped)
  }

  /** One recorded reload (= micro-batch) of a running watch loop — the
    * reference's RecordReload arguments (internal/mcp/metrics.go:52:
    * duration, error, chunk count) as a ledger row. `n_new_edges` is
    * this index's chunk-count analogue (edges appended by the batch, 0
    * for a no-op or failed reload); `total_edges` is the edge table's
    * size after the batch (the CurrentChunkCount analogue);
    * `n_memos_dropped` is the number of PlanCache entries the batch's
    * sweep released (0 when nothing was appended) and `n_memos_kept` the
    * dir's entries left standing. */
  final case class ReloadRecord(batch_id: Long, duration_ms: Long,
      n_new_edges: Long, total_edges: Long, error: Option[String],
      n_memos_dropped: Long = 0L, n_memos_kept: Long = 0L)

  /** The reference's MetricsSnapshot (internal/mcp/metrics.go:30),
    * folded from the ledger: counters never reset while the loop runs. */
  final case class ReloadSnapshot(totalReloads: Long, successfulReloads: Long,
      failedReloads: Long, lastDurationMs: Long, lastError: Option[String],
      currentEdgeCount: Long)

  private[graft] val ledgers = new ConcurrentHashMap[(SparkSession, String),
    java.util.Vector[ReloadRecord]]()

  /** The per-batch reload ledger for a (session, dir) watch loop, as a
    * relation — every micro-batch appends one row, no-op reloads
    * included (the reference records every reload, successful or not).
    * Empty when no loop has run; still readable after [[stop]], until the
    * session stops or a new watch starts. Driver-side state, never a
    * Spark job: the ledger is observability FOR the stream, not part of
    * it. */
  def reloadLedger(spark: SparkSession, dir: String): DataFrame = {
    val s = spark
    import s.implicits._
    records(spark, dir).toDF()
  }

  /** The ledger's rows, copied under the vector's own lock: the stream
    * thread appends while callers read, and iterating the live vector
    * fails fast with ConcurrentModificationException. */
  private def records(spark: SparkSession, dir: String): Seq[ReloadRecord] = {
    evictStopped()
    Option(ledgers.get((spark, dir)))
      .fold(Seq.empty[ReloadRecord])(_.toArray(new Array[ReloadRecord](0)).toSeq)
  }

  /** Snapshot the ledger into the reference's metrics shape. */
  def metrics(spark: SparkSession, dir: String): ReloadSnapshot = {
    val recs = records(spark, dir)
    ReloadSnapshot(
      totalReloads = recs.size.toLong,
      successfulReloads = recs.count(_.error.isEmpty).toLong,
      failedReloads = recs.count(_.error.nonEmpty).toLong,
      lastDurationMs = recs.lastOption.map(_.duration_ms).getOrElse(0L),
      lastError = recs.lastOption.flatMap(_.error),
      currentEdgeCount = recs.lastOption.map(_.total_edges).getOrElse(0L))
  }

  /** The live watched edge relation for (session, dir), if a watch loop
    * is running — GraphOps.edges() consults this before falling back to
    * the batch relation. distinct() collapses the append log (a
    * re-notified edge that raced past the stream's state dedup is a
    * harmless duplicate row, exactly like the reference's idempotent
    * upsert). */
  private[graft] def edgeOverride(spark: SparkSession, dir: String): Option[DataFrame] = {
    evictStopped()
    Option(live.get((spark, dir))).map(t => spark.table(t).distinct())
  }

  /** Start watching: seed the edge table from the current batch relation,
    * register the override, and attach the stream. Returns the running
    * query; the caller owns its lifecycle. */
  def start(spark: SparkSession, dir: String,
      edgeStream: DataFrame): StreamingQuery = {
    evictStopped()
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val tbl = s"graft_watch_edges$tag"
    // failed-batch stash: a micro-batch whose index build throws has
    // already consumed its edges from the stream's dedup state, so
    // without a stash those edges are PERMANENTLY lost (the state
    // suppresses any re-notification). A fresh watch starts with a
    // fresh, empty stash — a leftover from a previous loop must not
    // replay into this one's edge table.
    val retryTbl = s"graft_watch_retry$tag"
    graft.sources.IndexStore.dropTable(spark, retryTbl)
    graft.sources.IndexStore.replaceTable(spark,
      graft.operators.GraphOps.batchEdges(spark, dir), tbl)
    live.put((spark, dir), tbl)
    // a fresh watch = a fresh ledger (the reference's metrics live and
    // die with the server process owning the reload loop)
    val ledger = new java.util.Vector[ReloadRecord]()
    ledgers.put((spark, dir), ledger)
    val totalEdges = new java.util.concurrent.atomic.AtomicLong(
      spark.table(tbl).count())
    // switch-over: memoized relations built from the batch path rebuild
    // through the override on next use
    graft.PlanCache.invalidate(dir)
    StreamingOps.streamingEdgeUpserts(edgeStream)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // anti-join against the table: the stream's dedup state starts
        // EMPTY while the table is seeded with the full batch relation,
        // so a watcher replaying current state at startup (the common
        // file-watcher pattern) would otherwise re-append ~every edge
        // and force a full invalidation for an unchanged graph. With the
        // anti-join, "unchanged" means unchanged vs the TABLE — the
        // no-op reload holds for replays too.
        val t0 = System.nanoTime()
        var appended = 0L
        var dropped = 0L
        var err: Option[String] = None
        val sess = batch.sparkSession
        try {
          // previously-failed batches re-apply here: their edges are in
          // the retry stash (committed into the stream's dedup state by
          // the failed batch, so they can never arrive again) and ride
          // the next successful batch's anti-join + append
          val hasRetry = sess.catalog.tableExists(retryTbl)
          val input =
            if (hasRetry) batch.unionByName(sess.table(retryTbl).distinct())
            else batch
          val fresh = input
            .join(sess.table(tbl), Seq("src", "dst"), "left_anti")
            .persist()
          try {
            val n = fresh.count() // persisted: the recount below is free
            if (n > 0) {
              fresh.write.mode("append").format("parquet").saveAsTable(tbl)
              totalEdges.addAndGet(n)
              appended = n
              // The append ran in the stream's own session; the caller's
              // session keeps the file listing it cached on first read, so
              // memos it rebuilds after the invalidation below would miss
              // these edges (and, matched by path, be served to any session
              // reading the table). Own try, like the stash drop below:
              // the append landed. Only the memos that read the edge table
              // are swept.
              try spark.catalog.refreshTable(tbl)
              catch { case scala.util.control.NonFatal(e) =>
                Console.err.println(
                  s"watch-loop: refreshing $tbl in the caller's session failed: $e")
              }
              dropped = graft.PlanCache.invalidate(dir, tbl).toLong
            }
          } finally { fresh.unpersist(); () }
          // the stash landed (or deduped away) with this batch — clear it.
          // Own try: the append above already SUCCEEDED, so a failing drop
          // must not fall into the outer catch — that would re-stash an
          // applied batch and ledger it as failed (appended=0) when its
          // edges actually landed. A stale stash is harmless: its rows are
          // in the table now, so the next batch's anti-join dedupes them.
          if (hasRetry)
            try graft.sources.IndexStore.dropTable(sess, retryTbl)
            catch { case scala.util.control.NonFatal(e) =>
              // swallowed by design (see above) but LOGGED: a persistently
              // failing drop re-anti-joins the stash every batch forever,
              // and without this line that cost is undiagnosable from the
              // ledger
              Console.err.println(
                s"watch-loop: retry-stash drop failed for $retryTbl " +
                  s"(stale stash is harmless, rows dedupe): $e")
            }
        } catch {
          // record-and-continue, the reference's reload posture
          // (metrics.go:62: a failed reload bumps failedReloads and the
          // loop keeps serving the previous index)
          case scala.util.control.NonFatal(e) =>
            err = Some(e.toString)
            // Spark's state-store commit validation requires foreachBatch
            // to consume every partition: a build failure that left the
            // batch untouched (e.g. the edge table yanked from under the
            // anti-join) would otherwise fail batch commit and kill the
            // STREAM — the opposite of record-and-continue. Consuming the
            // batch COMMITS its edges into the stream's dedup state, so a
            // plain drain would permanently lose them (a re-notification
            // is suppressed forever after). Instead the batch is STASHED
            // to the retry table — the write consumes every partition,
            // satisfying the commit — and the next successful batch
            // re-applies it. Retry rows already stashed by an earlier
            // failure are NOT re-written (they're still in the stash).
            try {
              batch.write.mode("append").format("parquet").saveAsTable(retryTbl)
              ()
            } catch {
              case scala.util.control.NonFatal(e2) =>
                // stash unreachable too (e.g. FS down): drain so the
                // stream survives, and record that THIS failure dropped
                // the batch's edges — re-seeding the watch is the repair
                err = Some(e.toString + "; retry stash failed (" +
                  e2.toString.take(120) + ") — batch edges dropped, re-seed " +
                  "the watch to recover")
                try { batch.count(); () }
                catch { case scala.util.control.NonFatal(_) => () }
            }
        }
        ledger.add(ReloadRecord(batchId, (System.nanoTime() - t0) / 1000000L,
          if (err.isEmpty) appended else 0L, totalEdges.get(), err,
          dropped, graft.PlanCache.size(dir).toLong))
        ()
      }
      .start()
  }

  /** Deregister the override (the caller stops the query) and drop the
    * dir's memoized relations so queries fall back to the batch path.
    * The loop's ledger stays readable. */
  def stop(spark: SparkSession, dir: String): Unit = {
    evictStopped()
    live.remove((spark, dir))
    graft.PlanCache.invalidate(dir)
  }
}
