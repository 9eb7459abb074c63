package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Indexing-pipeline operators: token-budget document chunking, snapshot
  * change detection, and corpus statistics.
  *
  * Reference analogue: project-cortex's chunker splits docs under a token
  * budget with overlap (internal/indexer/chunker.go:31), its indexer diffs
  * file hashes to decide re-embedding (internal/indexer/indexer.go change
  * detection), and the metrics tool rolls up corpus stats
  * (internal/mcp/metrics.go).
  */
object ChunkOps {

  private def tokens(c: Column): Column = graft.functions.Tokenize.tokens(c)

  /** Chunk size / stride in tokens (overlap = ChunkTokens - Stride).
    * Visible to the streaming twin so batch and stream chunk identically. */
  private[graft] val ChunkTokens = 20
  private[graft] val Stride = 15

  /** Token-budget chunking with overlap: one posexplode over the start
    * offsets (1, 16, 31, ...), then a slice per chunk. Scales as a single
    * narrow Generate — no shuffle, no UDF; at cluster scale each task
    * chunks its own parquet split (cortex chunker.go:31 does the same
    * sliding window per file).
    */
  def chunkDocuments(spark: SparkSession, dir: String): DataFrame =
    chunked(Tables.documents(spark, dir), Nil)

  /** [[chunkDocuments]] with pass-through columns — the virtual `chunks`
    * table (Tables.load) carries `source` through the same single-scan
    * Generate so file_path derives without a join back to documents. */
  private[graft] def chunked(docs: DataFrame, keep: Seq[String]): DataFrame = {
    val keepCols = keep.map(col)
    docs
      .select(col("doc_id") +: keepCols :+ tokens(col("text")).as("ts"): _*)
      .select(col("doc_id") +: keepCols :+ col("ts") :+
        posexplode(sequence(lit(1), greatest(size(col("ts")), lit(1)), lit(Stride))): _*)
      .select(col("doc_id") +: keepCols :+ col("pos").as("chunk_idx") :+
        size(slice(col("ts"), col("col"), lit(ChunkTokens))).as("n_chunk_tokens") :+
        concat_ws(" ", slice(col("ts"), col("col"), lit(ChunkTokens))).as("chunk_text"): _*)
  }

  /** Structure-aware chunking (the reference chunker's semantics,
    * internal/indexer/chunker.go:24-31: split by `##` headers, then by
    * paragraphs under a token budget, never inside code fences, tracking
    * start/end positions).
    *
    * The synthetic corpus is flat text, so structure derives
    * deterministically first — 10-token lines, every 7th line a section
    * header, lines 3-4 of each section an atomic code block — and the
    * chunker then honors that structure for real: sections bound chunks
    * (chunk_idx resets per section), paragraphs are indivisible (a chunk
    * boundary never splits one, so the code block always travels whole,
    * chunker.go:114), and packing is by cumulative token count against a
    * 25-token budget. Offsets (start_tok/end_tok) are the start/end-line
    * tracking analogue.
    *
    * Plan shape: one narrow Generate (line explode), ONE window
    * shuffle+sort on (doc_id, section_idx) — the paragraph-start cumulative
    * count propagates with last(ignoreNulls) over the same window instead
    * of a second window partition — then the final aggregate. No UDFs.
    */
  def chunkStructured(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 25
    // Explode SCALARS, not arrays: the per-line token count is pure
    // arithmetic over the doc's total (lines are fixed 10-token slices,
    // so line j holds least(10, sz − 10j) tokens) — carrying the token
    // array through the Generate would copy O(doc_tokens) bytes into
    // EVERY line row, an O(tokens²/10) blowup per doc that dominated
    // this operator's cost before the rewrite.
    val docs = CurateOps.docTok(spark, dir)
      .select(col("doc_id"), col("n_tok").as("sz"))
    val nLines = greatest(ceil(col("sz") / 10.0).cast("int"), lit(1))
    val lines = docs
      .select(col("doc_id"), col("sz"), posexplode(sequence(lit(0), nLines - 1)))
      .select(col("doc_id"), col("col").cast("long").as("j"),
        least(lit(10L), col("sz") - col("col").cast("long") * 10).as("n"))
      .filter(col("n") > 0)
    val lpos = col("j") % 7
    val base = lines.select(col("doc_id"), col("j"), col("n"),
      floor(col("j") / 7).as("section_idx"),
      when(lpos === 0, 0L).when(lpos <= 2, 1L).when(lpos <= 4, 2L)
        .when(lpos === 5, 3L).otherwise(4L).as("para_id"),
      when(lpos.isin(3L, 4L), 1L).otherwise(0L).as("is_code"),
      (col("j") * 10 + 1).as("start_tok"))
    val w = Window.partitionBy("doc_id", "section_idx").orderBy("j")
    val cumBefore = coalesce(
      sum(col("n")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    val marked = base
      .withColumn("cum_before", cumBefore)
      .withColumn("para_start_cum",
        when(lag(col("para_id"), 1).over(w).isNull ||
          lag(col("para_id"), 1).over(w) =!= col("para_id"), col("cum_before")))
    marked
      .withColumn("para_cum",
        last(col("para_start_cum"), ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("section_idx"),
        floor(col("para_cum") / budget).as("chunk_idx"))
      .agg(sum(col("n")).as("n_tokens"),
        min(col("start_tok")).as("start_tok"),
        max(col("start_tok") + col("n") - 1).as("end_tok"),
        max(col("is_code")).as("has_code"))
  }

  /** Snapshot diff by content hash. Old snapshot = the full corpus; new
    * snapshot drops every 7th doc (deleted), adds none, and rewrites every
    * 5th (changed, simulated by an appended revision marker). A full outer
    * join on the key + md5 compare classifies every doc; `unchanged` rows
    * are filtered out (cortex only re-embeds changed files).
    */
  def changeDetect(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val old = docs.select(col("doc_id").as("o_id"), md5(col("text")).as("o_hash"))
    val neu = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id").as("n_id"),
        md5(when(col("doc_id") % 5 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text"))).as("n_hash"))
    old.join(neu, col("o_id") === col("n_id"), "full_outer")
      .select(coalesce(col("o_id"), col("n_id")).as("doc_id"),
        when(col("o_id").isNull, "added")
          .when(col("n_id").isNull, "deleted")
          .when(col("o_hash") =!= col("n_hash"), "changed")
          .otherwise("unchanged").as("status"))
      .filter(col("status") =!= "unchanged")
  }

  /** The incremental indexing pipeline end-to-end: diff the new snapshot
    * against the old by content hash, re-chunk only the changed docs, and
    * emit each chunk's fingerprint — the exact work queue a re-embedding
    * stage would consume (cortex's watch loop: detect change → re-chunk →
    * re-embed → upsert, internal/indexer/indexer.go).
    *
    * Only changed docs flow past the diff join, so downstream work is
    * proportional to churn, not corpus size — the property that makes
    * incremental indexing viable at 100 TB.
    */
  def pipelineIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val neu = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
    val old = docs.select(col("doc_id").as("o_id"), md5(col("text")).as("o_hash"))
    val changed = neu
      .join(old, col("doc_id") === col("o_id"))
      .filter(md5(col("text")) =!= col("o_hash"))
      .select(col("doc_id"), col("text"))
    chunkFps(changed)
  }

  /** The simulated new snapshot: every `dropMod`-th doc deleted (none
    * when `dropMod` <= 0), every `rewriteMod`-th rewritten with an
    * appended revision marker. */
  private[graft] def newSnapshot(docs: DataFrame, rewriteMod: Int,
      dropMod: Int): DataFrame =
    // dropMod <= 0 means "no deletions" STRUCTURALLY — a huge-modulus
    // sentinel would still drop doc_id 0 (0 % anything == 0)
    docs.filter(if (dropMod <= 0) lit(true) else col("doc_id") % dropMod =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % rewriteMod === 0,
          concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))

  /** The chunk fingerprint projection shared by [[pipelineIncremental]]
    * and [[branchSync]]: sliding token-budget chunks with md5 per chunk. */
  private[graft] def chunkFps(docsWithText: DataFrame): DataFrame =
    docsWithText
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .select(col("doc_id"), col("ts"),
        posexplode(sequence(lit(1), greatest(size(col("ts")), lit(1)), lit(Stride))))
      .select(col("doc_id"), col("pos").as("chunk_idx"),
        md5(concat_ws(" ", slice(col("ts"), col("col"), lit(ChunkTokens))))
          .as("chunk_fp"))

  /** Branch-aware snapshot synchronization (the reference's
    * internal/indexer/branch_optimizer.go / branch_synchronizer.go:
    * switching git branches reuses unchanged files' chunks instead of
    * re-indexing the tree): given the old snapshot's STORED chunk index
    * and the new snapshot, emit the chunk-level sync plan —
    *
    *  - `reuse`: unchanged docs' chunk rows carried over from the stored
    *    index by content-hash equality, never re-chunked;
    *  - `rechunk`: changed/added docs' fresh chunk fingerprints (the only
    *    rows that touch the chunker);
    *  - `evict`: deleted docs' stored chunk rows to drop.
    *
    * The old index is a per-session persisted build (PlanCache — the
    * IndexStore stored-table analogue), so the sync query's chunking work
    * is proportional to CHANGED docs only (plan-tested), exactly the
    * churn-proportional property that makes branch switching cheap at
    * 100 TB: a branch diff touches hundreds of files, not the corpus.
    * Snapshot pair = the [[changeDetect]] simulation (drop every 7th,
    * rewrite every 5th). */
  def branchSync(spark: SparkSession, dir: String): DataFrame =
    branchSyncWith(spark, dir, rewriteMod = 5, dropMod = 7)

  /** [[branchSync]] with the churn knobs exposed (every `rewriteMod`-th
    * doc rewritten, every `dropMod`-th deleted); docs/SCALE_NOTES.md
    * records the sweep showing sync cost tracks churn while the
    * full-re-chunk baseline stays corpus-sized. */
  private[graft] def branchSyncWith(spark: SparkSession, dir: String,
      rewriteMod: Int, dropMod: Int): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val oldChunks = graft.PlanCache.getOrBuild(spark, dir, "chunk_index_old") {
      chunkFps(docs)
    }
    val neu = newSnapshot(docs, rewriteMod, dropMod)
    val status = docs
      .select(col("doc_id").as("o_id"), md5(col("text")).as("o_hash"))
      .join(neu.select(col("doc_id").as("n_id"), md5(col("text")).as("n_hash")),
        col("o_id") === col("n_id"), "full_outer")
      .select(coalesce(col("o_id"), col("n_id")).as("doc_id"),
        when(col("o_id").isNull, "added")
          .when(col("n_id").isNull, "deleted")
          .when(col("o_hash") =!= col("n_hash"), "changed")
          .otherwise("unchanged").as("status"))
    def ids(ss: String*) = status.filter(col("status").isin(ss: _*))
      .select(col("doc_id"))
    val reuse = oldChunks.join(ids("unchanged"), "doc_id")
      .withColumn("action", lit("reuse"))
    val rechunk = chunkFps(neu.join(ids("changed", "added"), "doc_id"))
      .withColumn("action", lit("rechunk"))
    val evict = oldChunks.join(ids("deleted"), "doc_id")
      .withColumn("action", lit("evict"))
    reuse.unionAll(rechunk).unionAll(evict)
  }

  /** Batched embedding stage with THE MODEL CALL STUBBED: a deterministic
    * 8-dim pseudo-embedding derived from md5 of the text (no embedding
    * model ships in this environment). The pipeline shape is the real
    * part — cortex batches texts to an embedding API and stores vectors
    * per chunk (internal/embed/batched.go); here each row's vector is
    * computed scan-local with no shuffle, and a real deployment swaps the
    * hash for a model-serving call inside a mapPartitions batch (see
    * MultimodalOps.mmDecodeStub for that shape).
    */
  def embedStub(spark: SparkSession, dir: String): DataFrame = {
    val dims = (0 until 8).map { i =>
      (((conv(substring(md5(concat(col("text"), lit(i.toString))), 1, 15), 16, 10)
        .cast("long") % 1000).cast("double")) / 1000.0).as(s"e$i")
    }
    Tables.documents(spark, dir)
      .select(col("doc_id") +: dims: _*)
  }

  /** Embedding-provider batch caps (internal/embed/batched.go: the
    * reference groups texts into capped request batches, preserving
    * order). */
  private[graft] val EmbedBatchDocs = 8
  private[graft] val EmbedBatchTokens = 512

  /** The embedding-provider BATCHING CONTROL shape
    * (internal/embed/batched.go): group documents into capped request
    * batches — at most [[EmbedBatchDocs]] texts AND a
    * [[EmbedBatchTokens]] token budget per batch (cumsum packing: one
    * overflow doc may close a batch) — preserving (source, doc_id) order
    * within each provider key. Retries and rate caps are client control
    * flow around the dispatch call; what the DATA pipeline owns is this
    * deterministic batch-assignment relation, which the dispatch stage
    * ([[embedStub]] / mmDecodeStub's mapPartitions shape) consumes
    * batch-by-batch and whose order-preservation is what lets vectors be
    * zipped back to their texts.
    *
    * Plan shape: ONE exchange on `source`; the token cumsum, the
    * within-token-batch index, and the sequential batch numbering are
    * three window passes over that same partitioning (plan-tested, like
    * curate_length_batches). */
  def embedBatches(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySrc = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val byTokB = Window.partitionBy(col("source"), col("tokb"))
      .orderBy(col("doc_id"))
    val byBatchKey = Window.partitionBy(col("source"))
      .orderBy(col("tokb"), col("sub"))
    CurateOps.docTok(spark, dir)
      .select(col("doc_id"), col("source"),
        col("n_tok").cast("int").as("n_tokens"))
      .withColumn("cum_before", coalesce(
        sum(col("n_tokens")).over(
          bySrc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("tokb",
        floor(col("cum_before") / EmbedBatchTokens).cast("int"))
      .withColumn("sub",
        ((row_number().over(byTokB) - 1) / EmbedBatchDocs).cast("int"))
      .withColumn("batch_id", dense_rank().over(byBatchKey))
      .withColumn("idx_in_batch",
        row_number().over(Window.partitionBy(col("source"), col("tokb"),
          col("sub")).orderBy(col("doc_id"))))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("batch_id"), col("idx_in_batch"))
  }

  /** Inter-batch cooldown the reference inserts between provider calls
    * (internal/embed/batched.go:106 — a flat 150 ms sleep). */
  val EmbedCooldownMs = 150

  /** Declarative dispatch schedule + progress relation for the batched
    * embedding stage — the data-side analogue of the reference's
    * sequential dispatch loop: batches go out in order with a fixed
    * inter-batch cooldown, and each completed batch emits a
    * BatchProgress{batch, totalBatches, processedChunks, totalChunks}
    * report (internal/embed/batched.go:60-110). Batch b of a provider
    * stream therefore dispatches no earlier than (b-1)·cooldown, and
    * each row carries the processed/total counters the progress channel
    * would emit. Retries on FAILURE stay client control flow (they have
    * no deterministic data analogue); the schedule and the progress
    * ledger are data, and at 100 TB this relation is what a dispatch
    * fleet consumes to pace provider calls without a coordinator.
    *
    * Plan shape: rides [[embedBatches]]'s single source exchange — the
    * (source, batch_id) aggregate and all three window passes are
    * satisfied by hashpartitioning(source) (plan-tested: one exchange
    * total). */
  def embedSchedule(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySrc = Window.partitionBy(col("source")).orderBy(col("batch_id"))
    val perSrc = Window.partitionBy(col("source"))
    embedBatches(spark, dir)
      .groupBy(col("source"), col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_batch_tokens"))
      .withColumn("processed_docs", sum(col("n_docs")).over(bySrc))
      .withColumn("total_batches", count(lit(1)).over(perSrc))
      .withColumn("total_docs", sum(col("n_docs")).over(perSrc))
      .withColumn("dispatch_ms",
        ((col("batch_id") - 1) * EmbedCooldownMs).cast("long"))
      .select(col("source"), col("batch_id"), col("n_docs"),
        col("n_batch_tokens"), col("processed_docs"), col("total_batches"),
        col("total_docs"), col("dispatch_ms"))
  }

  /** Deterministic failure pattern for the retry ledger: a batch's md5
    * bucket (mod [[RetryFailMod]]) decides how many dispatch attempts
    * FAIL before one succeeds — bucket 0 fails twice, buckets 1-2 once,
    * the rest dispatch clean. A stand-in for the nondeterministic
    * connection failures the reference retries on; the LEDGER shape is
    * the contract, the pattern just makes it test- and oracle-stable. */
  private[graft] val RetryFailMod = 10

  /** Base backoff before a retry dispatch; attempt k waits
    * 2^(k-2)·[[RetryBackoffMs]] after attempt k-1, so attempt k's offset
    * is (2^(k-1)-1)·base past the batch's scheduled dispatch. */
  private[graft] val RetryBackoffMs = 250L

  /** Retry/failure LEDGER for the batched embedding stage — the attempt
    * relation the reference's retry control flow implies but never
    * materializes: its provider loop resurrects the embedding daemon and
    * redispatches on connection failure (internal/embed/local.go:113-121
    * "Resurrect on connection failure … Retry once"), leaving no record
    * of which batches burned attempts. Here every dispatch attempt is a
    * ROW: (source, batch_id, attempt_n, n_attempts, dispatch_at_ms,
    * outcome) — attempt 1 at the schedule's dispatch_ms, attempt k
    * backoff-shifted by (2^(k-1)-1)·[[RetryBackoffMs]], failures before
    * the final 'ok'. At 100 TB a dispatch fleet joins this ledger back
    * to the batch relation to replay exactly the failed attempts, and
    * failure-rate/backoff-cost rollups are one groupBy away.
    *
    * Plan shape: rides [[embedSchedule]]'s single source exchange; the
    * attempt unroll is a narrow ≤3-element posexplode-free sequence
    * explode, no new shuffle (plan-tested). */
  def embedRetries(spark: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(
      conv(substring(md5(concat(col("source"), lit("#"),
        col("batch_id").cast("string"))), 1, 15), 16, 10).cast("long"),
      lit(RetryFailMod))
    embedSchedule(spark, dir)
      .withColumn("n_fails",
        when(bucket === 0, 2).when(bucket <= 2, 1).otherwise(0))
      .withColumn("attempt_n", explode(sequence(lit(1), col("n_fails") + 1)))
      .select(col("source"), col("batch_id"), col("attempt_n"),
        (col("n_fails") + 1).as("n_attempts"),
        (col("dispatch_ms") +
          (expr("shiftleft(1L, attempt_n - 1)") - 1) * RetryBackoffMs)
          .as("dispatch_at_ms"),
        when(col("attempt_n") <= col("n_fails"), "failed").otherwise("ok")
          .as("outcome"))
  }

  /** Eviction policy (internal/cache/eviction.go:15-28
    * DefaultEvictionPolicy, rescaled to this corpus): branches idle
    * longer than [[EvictMaxAgeDays]] are stale; the index must fit
    * [[EvictSizeFrac]] of its current footprint (the absolute MaxSizeMB
    * knob, expressed as a fraction so the budget bites at every SF);
    * [[EvictProtected]] branches are never evicted. */
  private[graft] val EvictMaxAgeDays = 45
  private[graft] val EvictSizeFrac = 0.4
  private[graft] val EvictProtected = Seq("src0", "src1")

  /** Policy-driven index eviction as a RELATION — the reference's
    * runEviction (internal/indexer/eviction.go:64) applies
    * cache.EvictStaleBranches's three-reason cascade
    * (internal/cache/eviction.go:39-127): deleted-in-git branches first,
    * then stale ones (idle > MaxAgeDays), then oldest-first while the
    * cache exceeds its size budget, protected branches exempt. Here each
    * branch (= corpus source, the namespace branch_sync's chunk index is
    * keyed by) gets one verdict row: (source, size_chars, age_days,
    * deleted, protected, evict, reason).
    *
    * The reference's sequential evict-until-under-budget loop is
    * DECLARATIVE here: in candidate order (deleted first, then oldest
    * first — eviction.go:81-88), a branch is size-evicted iff the cache
    * still exceeds budget when every prior candidate is gone, i.e.
    * `total - cumsum(prior sizes) > budget`. That closed form equals the
    * loop exactly: forced (deleted/stale) candidates always free their
    * bytes, and once the running remainder dips under budget it stays
    * under for every later candidate, so kept-vs-evicted is
    * prefix-monotone. age/deleted are md5-derived pseudo-metadata (no
    * access log ships in this corpus); the cascade is the contract.
    *
    * Plan shape: one aggregate over the documents scan to K≈20 branch
    * rows, then single-partition windows over those K rows — per-BRANCH
    * metadata stays K-sized at 100 TB, so the unpartitioned window is a
    * constant-cost driver-scale step, not a data-scale one. */
  def indexEvict(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def md5Bucket(salt: String, mod: Int): Column = pmod(
      conv(substring(md5(concat(col("source"), lit(salt))), 1, 15), 16, 10)
        .cast("long"), lit(mod))
    val meta = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(sum(col("n_chars")).cast("long").as("size_chars"))
      .withColumn("age_days", md5Bucket("#access", 60))
      .withColumn("deleted", md5Bucket("#branch", 7) === 0)
      .withColumn("protected", col("source").isin(EvictProtected: _*))
    val total = meta.agg(sum(col("size_chars")).cast("long").as("total_chars"))
    val candOrder = Window
      .orderBy(col("deleted").desc, col("age_days").desc, col("source"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val verdicts = meta.filter(!col("protected"))
      .crossJoin(broadcast(total))
      .withColumn("cum_before",
        coalesce(sum(col("size_chars")).over(candOrder), lit(0L)))
      .withColumn("stale", col("age_days") > EvictMaxAgeDays)
      .withColumn("over_budget",
        (col("total_chars") - col("cum_before")).cast("double") >
          lit(EvictSizeFrac) * col("total_chars"))
      .select(col("source"), col("size_chars"), col("age_days"),
        col("deleted"), col("protected"),
        (col("deleted") || col("stale") || col("over_budget")).as("evict"),
        when(col("deleted"), "deleted").when(col("stale"), "stale")
          .when(col("over_budget"), "size_budget").as("reason"))
    verdicts.unionAll(
      meta.filter(col("protected"))
        .select(col("source"), col("size_chars"), col("age_days"),
          col("deleted"), col("protected"),
          lit(false).as("evict"), lit("protected").as("reason")))
  }

  /** Reload cycles the [[watchReloadLog]] batch twin models, and the
    * md5 bucket that marks a cycle failed (1-in-[[ReloadFailMod]] — a
    * deterministic stand-in for the reference's nondeterministic reload
    * errors, same trick as [[RetryFailMod]]). */
  private[graft] val ReloadRounds = 12
  private[graft] val ReloadFailMod = 8
  private[graft] val ReloadBaseMs = 5L

  /** Reload-metrics ledger as a RELATION — the batch twin of the watch
    * loop's per-micro-batch ledger (streaming.WatchLoop.reloadLedger),
    * modeling the reference's RecordReload observability
    * (internal/mcp/metrics.go:52: duration, error, chunk count per index
    * reload, folded into total/successful/failed counters). Each edge
    * hashes into one of [[ReloadRounds]] reload cycles; a cycle's
    * duration stand-in is base + ceil(edges/10) ms (3× when the cycle's
    * md5 bucket marks it failed — the timeout shape), failed cycles load
    * 0 chunks, and the running counters are one ordered window over the
    * ≤[[ReloadRounds]]-row ledger. Real durations come from the
    * streaming ledger; this twin pins the SHAPE under the driver hash.
    *
    * Plan shape: one scan → one groupBy exchange on reload_id → a
    * single-partition window over ≤[[ReloadRounds]] rows (bounded, the
    * 1-row-frame exception to the no-global-sort rule). */
  def watchReloadLog(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("reload_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val failed = pmod(
      conv(substring(md5(concat(lit("reload#"),
        col("reload_id").cast("string"))), 1, 15), 16, 10).cast("long"),
      lit(ReloadFailMod)) === 0
    // the BATCH edge relation (never the stream override — this twin
    // pins the batch ledger shape), memoized: un-memoized it re-scanned
    // and re-distincted lineitem on every evaluation
    graft.PlanCache.getOrBuild(spark, dir, "batch_edges") {
      graft.operators.GraphOps.batchEdges(spark, dir)
    }
      .select((pmod(
        conv(substring(md5(concat(col("src").cast("string"), lit("#"),
          col("dst").cast("string"))), 1, 15), 16, 10).cast("long"),
        lit(ReloadRounds)) + 1).as("reload_id"))
      .groupBy(col("reload_id"))
      .agg(count(lit(1)).as("n_new_edges"))
      .withColumn("failed", failed)
      .withColumn("duration_ms",
        (floor((col("n_new_edges") + 9) / 10) + ReloadBaseMs) *
          when(col("failed"), 3L).otherwise(1L))
      .withColumn("n_chunks", when(col("failed"), 0L).otherwise(col("n_new_edges")))
      .withColumn("error",
        when(col("failed"), "reload failed: edge append aborted")
          .otherwise(lit(null).cast("string")))
      .withColumn("total_reloads", row_number().over(w).cast("long"))
      .withColumn("successful_reloads",
        sum(when(col("failed"), 0L).otherwise(1L)).over(w))
      .withColumn("failed_reloads",
        sum(when(col("failed"), 1L).otherwise(0L)).over(w))
      .select(col("reload_id"), col("n_new_edges"), col("duration_ms"),
        col("n_chunks"), col("error"), col("total_reloads"),
        col("successful_reloads"), col("failed_reloads"))
  }

  /** Per-source corpus stats with a grand-total rollup slot. */
  def docStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .rollup(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .select(coalesce(col("source"), lit("ALL")).as("source"),
        col("n_docs"), col("total_chars"), col("avg_chars"), col("n_langs"))
}
