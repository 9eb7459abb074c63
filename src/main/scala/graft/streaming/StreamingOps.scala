package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Streaming analogues of cortex's watch mode (internal/mcp/watcher.go:
  * file events stream in, the index updates incrementally).
  *
  * Each operator has a BATCH twin (verified against the DuckDB oracle —
  * identical results over the same events table) and a STRUCTURED
  * STREAMING twin exercised in the test suite over a MemoryStream with
  * watermarks; the aggregation logic is shared so batch correctness
  * transfers to the streaming plan.
  */
object StreamingOps {

  /** Tumbling 1-hour window aggregation (batch twin). One shuffle on the
    * (window, event_type) key with partial aggregation map-side. */
  def streamWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(unix_timestamp(col("window_start")).as("window_epoch"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming twin of [[streamWindowAgg]]: same aggregate over a streaming
    * DataFrame with a 2-hour watermark. Used by the test suite. */
  def streamingWindowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("window_epoch"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Session windows per user with a 30-minute inactivity gap (batch twin):
    * classic lag + running-sum session assignment — one shuffle on user_id,
    * both windows share the same partitioning. */
  def streamSessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    val gapNs = 30L * 60 * 1000000000L
    Tables.events(spark, dir)
      .withColumn("prev_ns", lag(col("ts_ns"), 1).over(byUser))
      .withColumn("brk",
        when(col("prev_ns").isNull || col("ts_ns") - col("prev_ns") > gapNs, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("brk")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        // integer `div`, not `/`: long/long promotes to double, and nanos
        // since epoch exceed double's 53-bit mantissa
        expr("min(ts_ns) div 1000000000").as("start_epoch"),
        expr("max(ts_ns) div 1000000000").as("end_epoch"))
  }

  /** Latest observed row per user, as typed values for the state store. */
  case class UserLatest(user_id: Long, ts_ns: Long, event_id: Long,
      event_type: String, value: Double)

  /** Streaming incremental upsert: keep the newest row per key across
    * micro-batches with mapGroupsWithState — the cortex watch-mode loop
    * (internal/mcp/watcher.go: file event streams in, index row replaced).
    * State per key is one row, so the store stays O(distinct keys); the
    * batch twin is q11_upsert_latest. Used by the test suite.
    */
  /** Streams carry TimestampType (µs); the batch twins compare on the
    * raw parquet NANOS (ts_ns). A source that preserves the ns column
    * passes it through untouched — deriving ts*1000 would ZERO the
    * sub-µs bits and flip strict-after comparisons on µs-tied events —
    * and only a source without one falls back to the µs-derived value. */
  private def eventsWithNs(events: DataFrame): DataFrame =
    if (events.columns.contains("ts_ns")) events
    else events.withColumn("ts_ns", unix_micros(col("ts")) * 1000)

  def streamingUpsertLatest(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import events.sparkSession.implicits._
    eventsWithNs(events)
      .select(col("user_id"), col("ts_ns"),
        col("event_id"), col("event_type"), col("value"))
      .as[UserLatest]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserLatest, UserLatest](GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          val newest = (rows ++ state.getOption.iterator)
            .maxBy(r => (r.ts_ns, r.event_id))
          state.update(newest)
          newest
      }
      .toDF()
  }

  /** Per-user funnel progress: earliest step times reached so far. */
  case class FunnelState(t1: Long, t2: Long, t3: Long)
  case class FunnelDepth(user_id: Long, depth: Int, reached_ns: Long)

  /** Streaming conversion funnel (the q15_funnel twin): per-user state is
    * three longs — the earliest view, earliest strictly-later click, and
    * earliest strictly-later purchase seen so far — updated per event
    * with the same chained-min rules the batch window computes. O(1)
    * state per user, update-mode emission of the user's current depth.
    *
    * In-order contract: within a user, events arrive in event-time order
    * (the replayed-log regime; the suite feeds ordered batches). A
    * retro-arriving EARLIER view cannot re-qualify a click that was seen
    * before it — the batch op is the backfill truth a deployment
    * reconciles against, exactly like the dedup_incremental split.
    *
    * Working-set bound: the PERSISTED state is three longs, but restoring
    * the per-user time order (micro-batch group iterators carry no order
    * guarantee even over an ordered source) materializes and sorts the
    * user's events OF THIS BATCH — transient memory is
    * O(events-per-user-per-batch), bounded by trigger sizing
    * (maxOffsetsPerTrigger / files-per-trigger), not by stream history.
    * A pathological hot user in an unbounded batch pressures the executor
    * heap before the state store does; cap the trigger, or run the
    * hot-user-safe batch q15 window op as the backfill. A sort-free
    * single pass is NOT equivalent under equal-timestamp ties, so the
    * sort stays. */
  def streamingFunnel(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import events.sparkSession.implicits._
    val None_ = Long.MaxValue
    eventsWithNs(events)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("ts_ns"),
        col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[FunnelState, FunnelDepth](
        GroupStateTimeout.NoTimeout) { (uid, rows, state) =>
        var s = state.getOption.getOrElse(FunnelState(None_, None_, None_))
        // micro-batch iterators carry no order guarantee even when the
        // SOURCE is ordered — restore the event-time total order
        for ((_, tn, _, tpe) <- rows.toSeq.sortBy(r => (r._2, r._3)))
          tpe match {
            case "view" if tn < s.t1 => s = s.copy(t1 = tn)
            case "click" if tn > s.t1 && tn < s.t2 => s = s.copy(t2 = tn)
            case "purchase" if tn > s.t2 && tn < s.t3 => s = s.copy(t3 = tn)
            case _ => ()
          }
        state.update(s)
        val (depth, at) =
          if (s.t3 != None_) (3, s.t3)
          else if (s.t2 != None_) (2, s.t2)
          else if (s.t1 != None_) (1, s.t1)
          else (0, 0L)
        FunnelDepth(uid, depth, at)
      }
      .toDF()
  }

  /** Open-session state: extent and event count of the session in flight. */
  case class SessionState(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Long)
  /** A closed session, emitted once its 30-minute gap expires. */
  case class ClosedSession(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Long)

  /** Sessionization with EXPLICIT custom state (flatMapGroupsWithState):
    * each user's open session lives in the state store; an arriving event
    * either extends it (gap <= 30 min) or closes it and starts a new one,
    * and the event-time timeout flushes sessions the watermark has passed.
    *
    * This is the full cortex-watcher shape — unbounded keyed state with
    * deterministic expiry — where session_window (see
    * [[streamingSessionize]]) is the declarative special case. State per
    * key is O(1); emission is append-mode (closed sessions only), so
    * downstream sinks never see retractions.
    */
  def streamingSessionizeStateful(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val gapMs = 30L * 60 * 1000
    events
      // ts stays in the projection: the watermark column must survive to
      // the stateful operator for event-time timeouts to fire
      .select(col("user_id"), expr("unix_micros(ts) div 1000").as("ts_ms"), col("ts"))
      .withWatermark("ts", "0 seconds")
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(ClosedSession(s.user_id, s.start_ms, s.end_ms, s.n_events))
          } else {
            val sorted = rows.map(_._2).toSeq.sorted
            var closed = List.empty[ClosedSession]
            var cur = state.getOption
            sorted.foreach { t =>
              cur match {
                case Some(s) if t - s.end_ms <= gapMs =>
                  cur = Some(s.copy(end_ms = t, n_events = s.n_events + 1))
                case Some(s) =>
                  closed ::= ClosedSession(s.user_id, s.start_ms, s.end_ms, s.n_events)
                  cur = Some(SessionState(uid, t, t, 1))
                case None =>
                  cur = Some(SessionState(uid, t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end_ms + gapMs)
            }
            closed.reverseIterator
          }
      }
      .toDF()
  }

  /** The cortex watch loop end-to-end as a STREAM: documents arrive →
    * chunk (stateless Generate, same ChunkTokens/Stride as the batch
    * pipeline) → fingerprint → fingerprint-dedup with watermark-bounded
    * state. What comes out is exactly the re-embedding work queue:
    * an unchanged re-notified document produces zero rows because every
    * chunk fingerprint is already in state, while an edit emits only the
    * chunks whose fingerprints changed — downstream work proportional to
    * churn, the property that makes watch mode viable (the batch twin is
    * pipeline_incremental). Used by the test suite.
    */
  def streamingPipelineIncremental(docs: DataFrame): DataFrame = {
    import graft.operators.ChunkOps
    docs
      .withWatermark("ts", "1 hour")
      .select(col("doc_id"), col("ts"),
        graft.functions.Tokenize.tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("ts"), col("tk"),
        posexplode(sequence(lit(1), greatest(size(col("tk")), lit(1)),
          lit(ChunkOps.Stride))))
      .select(col("doc_id"), col("ts"), col("pos").as("chunk_idx"),
        md5(concat_ws(" ", slice(col("tk"), col("col"), lit(ChunkOps.ChunkTokens))))
          .as("chunk_fp"))
      // state key includes doc_id: change detection is PER DOCUMENT (as in
      // the batch twin) — a different doc that happens to contain an
      // identical chunk must still be indexed, not suppressed
      .dropDuplicatesWithinWatermark("doc_id", "chunk_fp")
  }

  /** Streaming edge-table maintenance — the cortex incremental graph
    * builder path (internal/graph builder: BuildIncremental upserts a
    * changed file's edges without rebuilding the graph): maintain the
    * distinct src→dst relation from an edge event stream. The
    * dropDuplicates state IS the materialized edge index — O(distinct
    * edges), the same footprint the batch edge relation occupies — and
    * the append output carries only never-seen edges, which is exactly
    * the signal a deployment's foreachBatch uses to upsert the
    * IndexStore edge table and sweep the memos over that table
    * (PlanCache.invalidate(dir, table)), BFS relations included. Edge DELETION is a retraction and routes through the
    * batch change-detect path (reference analogue:
    * BuildIncremental_RemovesDanglingEdges re-derives from files), not
    * this append stream.
    *
    * CAVEAT — unbounded-churn state: dropDuplicates with no watermark
    * never evicts, which is exactly right while state ≈ the edge
    * universe, but if the universe itself churns forever (renamed files
    * minting new edges indefinitely) the store grows without bound. Such
    * deployments should use [[streamingEdgeUpsertsWatermarked]], which
    * trades bounded state for re-emitting an edge not seen within the
    * horizon (a re-emitted edge is a harmless redundant upsert
    * downstream). Used by the test suite.
    */
  def streamingEdgeUpserts(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst")).dropDuplicates("src", "dst")

  /** Watermarked twin of [[streamingEdgeUpserts]] for high-churn edge
    * universes: state per edge is evicted once the event-time watermark
    * passes it, so the store holds one row per distinct edge per horizon
    * rather than per deployment lifetime. Requires an event-time `ts`
    * column on the stream. Used by the test suite.
    */
  def streamingEdgeUpsertsWatermarked(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"), col("ts"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("src", "dst")

  /** Streaming exact-dedup at ingest: drop content-hash duplicates as
    * documents stream in — the streaming twin of dedup_exact and the shape
    * a training-data pipeline runs in front of its sink. State is BOUNDED:
    * dropDuplicatesWithinWatermark evicts a hash once the watermark passes
    * it, so the store holds one row per distinct hash per watermark
    * horizon, not per corpus. Used by the test suite.
    */
  def streamingDedupExact(docs: DataFrame): DataFrame =
    docs
      .withColumn("text_hash", md5(col("text")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("text_hash")

  /** Streaming twin of [[streamSessionize]]: Structured Streaming's native
    * session_window with a watermark. Session extents match the batch twin
    * for gap-separated data. Used by the test suite. */
  def streamingSessionize(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  /** Streaming curation gate — the ingest-side twin of the batch
    * curation family: every arriving document is hash-gate sampled
    * (curate_sample_stratified's predicate) and repetition-scored
    * (curate_repetition's expressions), both STATELESS, so this is a pure
    * per-row transform with no streaming state at all — the cheapest
    * possible shape for a 100 TB/day ingest stream. Expects (doc_id,
    * text, lang) on the stream; emits the admitted documents with their
    * repetition verdict. Used by the test suite. */
  def streamingCurateGate(docs: DataFrame): DataFrame = {
    import graft.operators.CurateOps
    // repetitionScored is TOTAL (a sub-2-token doc surfaces with 0/0/keep
    // rather than silently vanishing), so every admitted doc gets a verdict
    CurateOps.repetitionScored(
        docs.withColumn("hk", CurateOps.stratifiedKey)
          .filter(col("hk") < CurateOps.stratifiedThreshold))
      .select(col("doc_id"), col("lang"), col("dup_bigram_frac"),
        col("top_bigram_frac"), col("keep"))
  }

  /** A document entering the streaming packer: id, source, token count. */
  case class PackDoc(doc_id: Long, source: String, n_tok: Long)
  /** A packed assignment: which training sequence, at which offset. */
  case class PackedDoc(doc_id: Long, source: String, n_tok: Long,
      seq_id: Long, seq_offset: Long)

  /** Stateful streaming sequence packing — the ingest twin of
    * curate_pack_sequences: each source's cumulative token cursor lives
    * in the state store (O(1) per key — ONE long), so documents arriving
    * across micro-batches continue filling the same training sequences
    * exactly where the previous batch stopped. Within a batch, a
    * source's arrivals are packed in doc_id order (the batch op's
    * deterministic order); across batches, arrival order IS the packing
    * order, which is what an append-only training-shard writer wants.
    * Emission is append-mode; assignments are never retracted. Used by
    * the test suite. */
  def streamingPackSequences(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import docs.sparkSession.implicits._
    val budget = graft.operators.CurateOps.PackBudget
    docs
      .select(col("doc_id"), col("source"),
        size(graft.functions.Tokenize.tokens(col("text"))).cast("long")
          .as("n_tok"))
      .as[PackDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState[Long, PackedDoc](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (_, rows, state) =>
          var cum = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_.doc_id).map { d =>
            val off = cum
            cum += d.n_tok
            PackedDoc(d.doc_id, d.source, d.n_tok,
              off / budget, off % budget)
          }
          state.update(cum)
          out.iterator
        }
      .toDF()
  }

  /** Streaming domain-mix gate — the ingest twin of curate_mix_domains:
    * the per-source rates table comes from the batch statistics pass (a
    * deployment recomputes it per mixing epoch, not per micro-batch) and
    * BROADCASTS into a stream-static join; the hash gate itself is a
    * stateless per-row predicate, so admission is O(1) per document with
    * no streaming state. Batch-equal admissions over the same corpus are
    * pinned in the test suite. */
  def streamingMixGate(docs: DataFrame, rates: DataFrame): DataFrame = {
    import graft.operators.CurateOps
    docs
      .select(col("doc_id"), col("source"),
        size(graft.functions.Tokenize.tokens(col("text"))).cast("long")
          .as("n_tok"))
      .join(broadcast(rates), "source")
      .filter(CurateOps.mixGateKey < col("thr"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("thr"))
  }

  /** Streaming decontamination alerts — the watch-loop signal "this newly
    * ingested document overlaps the eval set, keep it out of training":
    * arriving documents explode to their distinct decontamination grams
    * and stream-static inner-join the BROADCAST holdout gram relation
    * (eval sets are tiny; the join is stateless), then collapse to one
    * alert per document with watermark-bounded dedup state. The batch twin
    * is curate_decontaminate; set equality over the same corpus is pinned
    * in the test suite. */
  /** Streaming quality gate — the trained naive-Bayes model of
    * curate_quality_classifier applied at ingest: the whole model rides
    * as ONE broadcast row (token→log-odds map + prior + unseen default,
    * [[graft.operators.CurateOps.qualityModelRow]]), and each arriving
    * document scores with a per-row aggregate() fold over its own token
    * array — STATELESS, no explode, no per-doc aggregation state, the
    * shape an admission gate needs at ingest rates. Scores can differ
    * from the batch op only by float reassociation (the batch side sums
    * in partial-aggregate order, this side in token order) — the suite
    * pins agreement to 4 decimals away from the verdict boundary. */
  def streamingQualityGate(docs: DataFrame, model: DataFrame): DataFrame = {
    val toks = graft.functions.Tokenize.tokens(col("text"))
    docs.crossJoin(broadcast(model))
      .select(col("doc_id"),
        (round(col("prior") + aggregate(toks, lit(0.0), (acc, t) =>
          acc + coalesce(element_at(col("lo_map"), t), col("def_lo"))), 4)
          + lit(0.0)).as("score"))
      .withColumn("keep", col("score") > 0)
  }

  def streamingDecontaminateAlerts(docs: DataFrame,
      holdoutGrams: DataFrame): DataFrame =
    graft.operators.CurateOps.gramRows(
        docs.withWatermark("ts", "1 hour")
          .select(col("doc_id"), col("ts"), col("text")))
      .join(broadcast(holdoutGrams), "gram")
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"))
}
