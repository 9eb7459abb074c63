package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the operator
  * inventory; every implemented operator appears in `queries` with a
  * DuckDB-equivalent SQL in `oracleSql` (omitted only for ops that plain
  * SQL cannot express, which the driver row-count-checks instead).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> Relational.q1Agg _,
    "q2_filter_project" -> Relational.q2FilterProject _,
    "q3_join_agg" -> Relational.q3JoinAgg _,
    "q4_broadcast_join" -> Relational.q4BroadcastJoin _,
    "q5_topk" -> Relational.q5TopK _,
    "q6_window_topk" -> Relational.q6WindowTopK _,
    "q6b_topk_agg" -> Relational.q6TopkAgg _,
    "q7_semi_join" -> Relational.q7SemiJoin _,
    "q8_anti_join" -> Relational.q8AntiJoin _,
    "q9_distinct_agg" -> Relational.q9DistinctAgg _,
    "q10_rollup" -> Relational.q10Rollup _,
    "q11_upsert_latest" -> Relational.q11UpsertLatest _,
    "q12_asof_join" -> Relational.q12AsofJoin _,
    "q13_percentiles" -> Relational.q13Percentiles _,
    "q14_pivot" -> Relational.q14Pivot _,
    "q15_funnel" -> Relational.q15Funnel _,
    "q16_retention" -> Relational.q16Retention _,
    "dsl_agg" -> QueryDsl.dslAgg _,
    "dsl_join_filter" -> QueryDsl.dslJoinFilter _,
    "dsl_modules" -> QueryDsl.dslModules _,
    "dsl_functions" -> QueryDsl.dslFunctions _,
    "dsl_orphans" -> QueryDsl.dslOrphans _,
    "dsl_types" -> QueryDsl.dslTypes _,
    "dsl_chunks" -> QueryDsl.dslChunks _,
    "q9b_approx_distinct" -> Relational.q9bApproxDistinct _,
    // approximate by design (mergeable quantile sketch) => rows-only check
    "q13b_approx_percentiles" -> Relational.q13bApproxPercentiles _,
    "q9c_portable_hll" -> Relational.q9cPortableHll _,
    "q13c_sampled_percentiles" -> Relational.q13cSampledPercentiles _,
    "vec_knn_brute" -> SearchOps.vecKnnBrute _,
    "vec_knn_ivf" -> SearchOps.vecKnnIvf _,
    "vec_knn_ivf_probe" -> SearchOps.vecKnnIvfProbe _,
    "vec_kmeans" -> SearchOps.vecKmeans _,
    "vec_knn_kmeans" -> SearchOps.vecKnnKmeans _,
    "vec_knn_join" -> SearchOps.vecKnnJoin _,
    // approximate by design (LSH recall < 1) => no oracle, rows-only check
    "vec_knn_join_ann" -> SearchOps.vecKnnJoinAnn _,
    "vec_knn_join_auto" -> SearchOps.vecKnnJoinAuto _,
    "fts_term_score" -> SearchOps.ftsTermScore _,
    "fts_phrase" -> SearchOps.ftsPhrase _,
    "hybrid_search" -> SearchOps.hybridSearch _,
    "tag_filter_search" -> SearchOps.tagFilterSearch _,
    "fts_bm25" -> SearchOps.ftsBm25 _,
    "fts_boolean" -> SearchOps.ftsBoolean _,
    "fts_fuzzy" -> SearchOps.ftsFuzzy _,
    "fts_near" -> SearchOps.ftsNear _,
    "fts_near_phrase" -> SearchOps.ftsNearPhrase _,
    "fts_search_page" -> SearchOps.ftsSearchPage _,
    "fts_snippet" -> SearchOps.ftsSnippet _,
    "fts_wildcard" -> SearchOps.ftsWildcard _,
    "vec_knn_min_score" -> SearchOps.vecKnnMinScore _,
    "vec_knn_filtered" -> SearchOps.vecKnnFiltered _,
    "vec_quantize_int8" -> SearchOps.vecQuantizeInt8 _,
    // approximate by design (PQ codes + ADC) => no oracle, rows-only check
    "vec_knn_pq" -> SearchOps.vecKnnPq _,
    "graph_path" -> GraphOps.graphPath _,
    "graph_path_find" -> GraphOps.graphPathFind _,
    "graph_path_find_deep" -> GraphOps.graphPathFindDeep _,
    "graph_impact_phased" -> GraphOps.graphImpactPhased _,
    "pattern_search" -> PatternOps.patternSearch _,
    "symbols_extract" -> PatternOps.symbolsExtract _,
    "symbols_format" -> PatternOps.symbolsFormat _,
    "pattern_search_all" -> PatternOps.patternSearchAll _,
    "pattern_search_gap" -> PatternOps.patternSearchGap _,
    "dedup_exact" -> DedupOps.dedupExact _,
    "dedup_ngram_jaccard" -> DedupOps.dedupNgramJaccard _,
    "dedup_minhash_lsh" -> DedupOps.dedupMinhashLsh _,
    "dedup_incremental" -> DedupOps.dedupIncremental _,
    "dedup_simhash" -> DedupOps.dedupSimhash _,
    "dedup_clusters" -> DedupOps.dedupClusters _,
    "dedup_embedding" -> DedupOps.dedupEmbedding _,
    "dedup_winnow" -> DedupOps.dedupWinnow _,
    "dedup_semantic" -> DedupOps.dedupSemantic _,
    "dedup_substring" -> DedupOps.dedupSubstring _,
    "text_langid" -> TextOps.textLangid _,
    "text_quality" -> TextOps.textQuality _,
    "text_tokens" -> TextOps.textTokens _,
    "text_fingerprint" -> TextOps.textFingerprint _,
    "text_winnow" -> TextOps.textWinnow _,
    "text_perplexity" -> TextOps.textPerplexity _,
    // iterative (each merge feeds the next round) => not SQL-expressible,
    // rows-only check; plain-Scala BPE reference pinned in the suite
    "text_bpe_train" -> TextOps.textBpeTrain _,
    // applies the iteratively-trained rules => rows-only like the trainer
    "text_bpe_apply" -> TextOps.textBpeApply _,
    "corpus_curate" -> TextOps.corpusCurate _,
    "chunk_documents" -> ChunkOps.chunkDocuments _,
    "chunk_structured" -> ChunkOps.chunkStructured _,
    "change_detect" -> ChunkOps.changeDetect _,
    "branch_sync" -> ChunkOps.branchSync _,
    "doc_stats" -> ChunkOps.docStats _,
    "pipeline_incremental" -> ChunkOps.pipelineIncremental _,
    "embed_stub" -> ChunkOps.embedStub _,
    "embed_batches" -> ChunkOps.embedBatches _,
    "embed_schedule" -> ChunkOps.embedSchedule _,
    "embed_retries" -> ChunkOps.embedRetries _,
    "index_evict" -> ChunkOps.indexEvict _,
    "watch_reload_log" -> ChunkOps.watchReloadLog _,
    "mm_binary_meta" -> MultimodalOps.mmBinaryMeta _,
    "mm_frame_sample" -> MultimodalOps.mmFrameSample _,
    "mm_frame_energy" -> MultimodalOps.mmFrameEnergy _,
    "mm_decode_stub" -> MultimodalOps.mmDecodeStub _,
    "mm_phash_dedup" -> MultimodalOps.mmPhashDedup _,
    "graph_khop" -> GraphOps.graphKhop _,
    "graph_khop_deep" -> GraphOps.graphKhopDeep _,
    "graph_dependents" -> GraphOps.graphDependents _,
    "graph_implementations" -> GraphOps.graphImplementations _,
    "graph_impact" -> GraphOps.graphImpact _,
    "graph_type_usages" -> GraphOps.graphTypeUsages _,
    "graph_degree" -> GraphOps.graphDegree _,
    "graph_update_incremental" -> GraphOps.graphUpdateIncremental _,
    "graph_context" -> GraphOps.graphContext _,
    "graph_iface_match" -> GraphOps.graphIfaceMatch _,
    "stream_window_agg" -> graft.streaming.StreamingOps.streamWindowAgg _,
    "stream_sessionize" -> graft.streaming.StreamingOps.streamSessionize _,
    "curate_decontaminate" -> CurateOps.curateDecontaminate _,
    "curate_repetition" -> CurateOps.curateRepetition _,
    "curate_pii_redact" -> CurateOps.curatePiiRedact _,
    "curate_sample_stratified" -> CurateOps.curateSampleStratified _,
    "curate_pack_sequences" -> CurateOps.curatePackSequences _,
    "curate_shuffle_shards" -> CurateOps.curateShuffleShards _,
    "curate_mix_domains" -> CurateOps.curateMixDomains _,
    "curate_mix_epochs" -> CurateOps.curateMixEpochs _,
    "curate_length_batches" -> CurateOps.curateLengthBatches _,
    "curate_pipeline" -> CurateOps.curatePipeline _,
    "curate_report" -> CurateOps.curateReport _,
    "curate_d4" -> CurateOps.curateD4 _,
    "curate_boilerplate" -> CurateOps.curateBoilerplate _,
    "curate_ppl_buckets" -> CurateOps.curatePplBuckets _,
    "curate_quality_classifier" -> CurateOps.curateQualityClassifier _,
    "curate_dsir" -> CurateOps.curateDsir _,
    "curate_gopher_rules" -> CurateOps.curateGopherRules _,
    "layout_zorder" -> LayoutOps.layoutZorder _,
    "discover_glob" -> DiscoveryOps.discoverGlob _,
    "ingest_jsonl" -> graft.sources.CorpusIO.ingestJsonl _
  )

  private val duckTok = "regexp_extract_all(lower(text), '[a-z0-9]+')"
  /** Word-3-gram shingle CTE shared by the dedup oracles. Each distinct
    * trigram is stored as its 60-bit md5 hash — the exact arithmetic
    * DedupOps.shingled's hash60 performs — so every downstream oracle
    * (Jaccard intersect, minhash, simhash) operates on the same longs
    * the engine's index holds. */
  private val duckNg =
    s"""tok AS (SELECT doc_id, lang, (n_chars // 100) AS lb, $duckTok AS ts FROM documents),
       |ng AS (SELECT doc_id, lang, lb,
       |  list_distinct(list_transform(
       |    list_distinct(list_transform(range(1, greatest(len(ts)-1, 1)),
       |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])),
       |    g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)) AS gs FROM tok)""".stripMargin
  private val duckJac =
    "round(len(list_intersect(x.gs, y.gs))::DOUBLE / " +
      "greatest(len(list_distinct(x.gs || y.gs)), 1), 4)"

  /** DuckDB cosine over double-cast lists — same double-accumulation the
    * codegen'd CosineSimilarity expression performs. */
  private def duckCos(a: String, b: String): String =
    s"(list_inner_product($a, $b) / " +
      s"(sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b))))"

  /** Hyperplane-LSH band-signature CTE chain (md5-derived planes →
    * per-plane dots → per-band sign-bit signatures), shared by the
    * vec_knn_join_ann and dedup_embedding oracles — both replay the
    * SAME deterministic banding spec the Spark HyperplaneBandSigs
    * expression computes. dedup_embedding's oracle MUST go through the
    * bands rather than all pairs: banded recall at the 0.42 verify
    * threshold is ~0.997 per near-threshold pair, so an all-pairs
    * oracle only hash-matches while the corpus is too small/uniform to
    * mint near-threshold collision misses (the adversarial-skew corpus,
    * with half the vectors in one cell, surfaced exactly 7 of them). */
  private def duckEmbBandCtes(materialize: Boolean = true): String = {
    val mat = if (materialize) " MATERIALIZED" else ""
    import operators.DedupOps.{EmbSeed, EmbBands, EmbBits, EmbDim,
      LshTargetBucketConf, LshTargetBucketDefault, LshBitsAutoMax}
    // geo replays DedupOps.autoBits: the signature width is the smallest
    // bits in [EmbBits, LshBitsAutoMax] whose expected per-band bucket in
    // the HOTTEST cell (max cell size / 2^bits) fits the target — integer
    // shift comparison on both engines, so power-of-two boundaries can
    // never drift. Planes are generated to the max width and filtered to
    // the derived plane count (plane p's weights depend only on p, so the
    // prefix is the same plane set any width uses).
    //
    // The target is resolved from the ACTIVE session's conf at oracle-
    // generation time (Verify generates the SQL in the session that runs
    // the queries), not the compile-time default: a session that sets
    // spark.graft.lshTargetBucket must hand the oracle the same target
    // autoBits reads at runtime, or the two engines derive different
    // widths and every banded hash spuriously FAILs.
    //
    // The census coalesces to 0 on an EMPTY embeddings table so the
    // min(b) filter keeps every candidate width and picks the EmbBits
    // floor — in lockstep with Scala's maxCellSize returning 0 and
    // autoBits staying on the floor (without it the max(n) subquery is
    // NULL, the WHERE filters every width, and the fallback lands on the
    // 16-bit CEILING instead).
    val sess = org.apache.spark.sql.SparkSession.getActiveSession
    val lshTarget = sess.flatMap(_.conf.getOption(LshTargetBucketConf))
      .map(_.toLong).getOrElse(LshTargetBucketDefault)
    // pinned geometry resolves the same way (DedupOps.lshGeometry reads
    // both confs before falling back to the census): a session pinning
    // bands/bits must hand the oracle the pinned values, or the replay
    // derives the auto geometry against pinned signatures
    val bands = sess.flatMap(_.conf.getOption(operators.DedupOps.LshBandsConf))
      .map(_.toInt).getOrElse(EmbBands)
    val pinnedBits = sess
      .flatMap(_.conf.getOption(operators.DedupOps.LshBitsConf)).map(_.toInt)
    val maxPlanes = bands * math.max(LshBitsAutoMax, pinnedBits.getOrElse(0))
    val geoCte = pinnedBits match {
      case Some(b) => s"geo AS (SELECT $b AS bits)"
      case None =>
        s"""geo AS (SELECT coalesce((SELECT min(b)::INT
           |    FROM range($EmbBits, ${LshBitsAutoMax + 1}) t(b)
           |    WHERE coalesce((SELECT max(n)
           |        FROM (SELECT count(*) AS n FROM e GROUP BY label)), 0)
           |      <= $lshTarget * (1::BIGINT << b)),
           |  $LshBitsAutoMax) AS bits)""".stripMargin
    }
    // Materialization is a TRADE, controlled per consumer: DuckDB 1.0
    // inlines plain CTEs (every reference re-evaluates the dots chain),
    // but a MATERIALIZED CTE's scan carries estimated cardinality 0,
    // which propagates to every join above it and flips hash-join build
    // sides onto the pair stream (the ~140 GB spill this chain's first
    // sf10 run died of). So: consumers whose LAST blocking operator sits
    // directly on the band self-join (dedup_embedding — threshold filter
    // then a result-bounded DISTINCT) materialize and pay one dots pass;
    // consumers that feed the pair stream through further joins
    // (duckTop3's bound join in ann/auto) must NOT materialize — they
    // re-evaluate the dots chain per reference (~4 passes at sf10,
    // ~a minute each) to keep sane estimates, the bound relation as the
    // build side, and the pair stream strictly streaming.
    //
    // sv rides each vector (v, nrm) on its band rows so consumers score
    // candidates INSIDE the band self-join's projection — a pure
    // streaming pipeline. The earlier shape (DISTINCT candidate pairs,
    // then join back to e for the vectors) detonated at sf10: DuckDB's
    // estimator has no cardinality for a DISTINCT over a self-join
    // (268M pairs at sf10), picked the pair stream as a hash-join BUILD
    // side with the 64-double arrays riding, and spilled ~140 GB
    // building a table that could never fit. sv is vector-bounded
    // (N·bands rows ≈ 3.5 GB at sf10) so both sides of the self-join
    // are safe to build; per-band duplicate candidate rows flow to
    // consumers, which dedup AFTER the row stream has been cut down
    // (post-threshold filter, or duckTop3's dup-insensitive max()).
    // eu is the dots pipeline's SOURCE: when the chain is inlined
    // (materialize=false) it slices e into a 16-branch UNION ALL so each
    // dots evaluation runs 16 concurrent scan pipelines — the corpus
    // writes one parquet row group, so a single scan caps at ~2 threads;
    // when materialized, the CTE scan already parallelizes by chunk and
    // eu degenerates to a pass-through.
    val eu =
      if (materialize) "eu AS (SELECT * FROM e)"
      else "eu AS (" + (0 until 16)
        .map(k => s"SELECT * FROM e WHERE vec_id % 16 = $k")
        .mkString("\n  UNION ALL ") + ")"
    s"""e AS$mat (SELECT vec_id, label, embedding::DOUBLE[] AS v,
       |    sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))
       |      AS nrm
       |  FROM embeddings),
       |$eu,
       |$geoCte,
       |pl AS (SELECT p, list(w ORDER BY d) AS wl FROM (
       |    SELECT t.p, u.d,
       |      ((('0x' || substr(md5('${EmbSeed}_' || t.p::VARCHAR || '_'
       |        || u.d::VARCHAR), 1, 15))::BIGINT % 2001) - 1000) / 1000.0
       |        AS w
       |    FROM range($maxPlanes) t(p) CROSS JOIN range($EmbDim) u(d))
       |  GROUP BY p),
       |dots AS (SELECT e.vec_id, e.label, pl.p, g.bits,
       |    list_sum(list_transform(range($EmbDim),
       |      i -> e.v[i+1]*pl.wl[i+1])) AS dot
       |  FROM eu e CROSS JOIN pl CROSS JOIN geo g
       |  WHERE pl.p < $bands * g.bits),
       |sg AS$mat (SELECT vec_id, label, (p // bits) AS band,
       |    sum(CASE WHEN dot > 0
       |      THEN (1::BIGINT << (bits - 1 - (p % bits))) ELSE 0 END) AS sig
       |  FROM dots GROUP BY 1, 2, 3),
       |sv AS$mat (SELECT sg.vec_id, sg.label, sg.band, sg.sig,
       |    e.v, e.nrm
       |  FROM sg JOIN e ON e.vec_id = sg.vec_id)""" // margin pipes kept: consumers
    // interpolate this mid-template and apply stripMargin exactly ONCE
    // (pre-stripping would let the outer strip eat the first '|' of a
    // '||' concat that lands at start-of-line)
  }

  /** The exact-cell cap the dedup_semantic oracle's `routed` flag
    * replays, resolved from the ACTIVE session at oracle-generation time
    * (Verify generates the SQL in the session that runs the queries) so
    * a session that tunes spark.graft.knnPairBudget keeps the oracle in
    * lockstep with the engine's derived cap; sessionless contexts (unit
    * tests stringifying the map) fall back to the default-budget cap. */
  private def resolvedExactCellCap: Long =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(operators.SearchOps.exactCellCap)
      .getOrElse(operators.SearchOps.isqrt(
        operators.SearchOps.KnnPairBudgetDefault *
          operators.SearchOps.KnnMaxSaltSlices))

  /** Exact top-3-per-vector ranking WITHOUT a global window sort: the
    * row_number-over-everything formulation sorts the ENTIRE scored-pair
    * stream (Σcell² rows — at sf10 that is ~5e9 rows ≈ 240 GB of
    * window-sort spill, which kills the replay box before the window
    * ever finishes). This is the exact BOUND-AND-FILTER shape instead:
    *
    *  1. Pack (score desc, b_id asc) into ONE BIGINT key — score is
    *     already rounded to 4 decimals so round(score·10⁴) is
    *     integer-exact, and b_id < 2^40 at every ScaleUp offset — so
    *     key order IS the engine's ordering and ties cannot exist
    *     (b_id is unique per a_id).
    *  2. One streaming aggregate computes per (a_id, b_id%4 bucket) the
    *     max key (≤4 rows per vector), and — when at least 3 buckets are
    *     non-empty — the 3rd-largest of those ≤4 maxes is a PROVEN lower
    *     bound on the true 3rd-best key: the 3 largest bucket maxes are
    *     3 distinct pairs, so the true 3rd-best is ≥ the smallest of
    *     them. With FEWER than 3 non-empty buckets no sound bound exists
    *     from bucket maxes alone (the min of 1-2 maxes can EXCEED the
    *     true 3rd-best and drop real rows — e.g. pairs b_id 0/4/1 put
    *     two keys in bucket 0, and the bucket-1 max filters the smaller
    *     of them), so the threshold falls to a sentinel below every
    *     packable key and the vector's whole candidate set is kept —
    *     harmless, since that is precisely the small-candidate case.
    *  3. A second streaming pass keeps only pairs at-or-above the
    *     bound — a handful per vector — and a row_number window ranks
    *     that TINY relation.
    *
    * Two streaming evaluations of the pair relation (DuckDB inlines
    * CTEs — verified: no CTE node in the plan), memory ∝ vectors, no
    * materialization anywhere. A MATERIALIZED-CTE variant of the same
    * idea was measured WORSE (the materialization de-optimizes the
    * upstream join into a 70 GB spill); the 3-pass max/arg_max cascade
    * it replaced paid a third full evaluation.
    *
    * `src` MAY carry duplicate (a_id, b_id) rows — the banded candidate
    * streams emit a pair once per colliding band, and deduping them
    * up-front is exactly the blocking DISTINCT this shape exists to
    * avoid. Every aggregate here is duplicate-insensitive (bm/bnd are
    * max/min bounds), and sml — the only relation where duplicate ROWS
    * would corrupt the ranking (row_number counts them) — is tiny
    * (≲4 keys per vector × band-multiplicity), so IT dedups with a
    * DISTINCT after the bound has already cut the stream.
    *
    * `src` must be a PLAIN JOIN relation, never a UNION ALL: DuckDB 1.0
    * pre-aggregates bm thread-locally only when its statistics say the
    * group count is far below the input count, and a union erases those
    * statistics — the aggregate then materializes the ENTIRE pair
    * stream into radix partitions (~60 GB at sf10) before grouping.
    * Callers ranking a union of disjoint streams instantiate this once
    * per branch via `sfx` (CTE names suffixed, result wrapped in CTE
    * top$sfx instead of a bare SELECT) and UNION ALL the tiny per-branch
    * results — sound whenever the branches partition a_ids, which
    * label-disjoint routing guarantees.
    * `src` must expose (label, a_id, b_id, score[, routed]). */
  private[graft] def duckTop3(src: String, routed: Boolean,
      sfx: String = ""): String = {
    val rcol = if (routed) ", routed" else ""
    val sel =
      s"""SELECT label, a_id, b_id, score, rk::INT AS rk$rcol FROM (
         |  SELECT *, row_number() OVER (PARTITION BY a_id
         |    ORDER BY key DESC) AS rk FROM sml$sfx)
         |WHERE rk <= 3""".stripMargin
    val tail = if (sfx.isEmpty) s"\n$sel" else s",\ntop$sfx AS (\n$sel)"
    s"""kk$sfx AS (SELECT *,
       |    (round(score * 10000))::BIGINT * 1099511627776 - b_id AS key
       |  FROM $src),
       |bm$sfx AS (SELECT a_id, max(key) AS m FROM kk$sfx
       |  GROUP BY a_id, b_id % 4),
       |bnd$sfx AS (SELECT a_id, CASE WHEN count(*) >= 3 THEN min(m)
       |      ELSE -9223372036854775807 END AS thr FROM (
       |    SELECT a_id, m,
       |      row_number() OVER (PARTITION BY a_id ORDER BY m DESC) AS r
       |    FROM bm$sfx) WHERE r <= 3 GROUP BY a_id),
       |sml$sfx AS (SELECT DISTINCT kk$sfx.* FROM kk$sfx
       |  JOIN bnd$sfx ON kk$sfx.a_id = bnd$sfx.a_id
       |    AND kk$sfx.key >= bnd$sfx.thr)""".stripMargin + tail
  }

  private val duckToks = "regexp_extract_all(lower(text), '[a-z0-9]+')"
  private val duckTermScore =
    s"len(list_filter($duckToks, t -> list_contains(['data','query','table'], t)))"

  /** Winnowing CTE chain (k=4 grams, w=5 windows) shared by the
    * text_winnow and dedup_winnow oracles — one place to change the
    * parameters, like duckNg for the shingle oracles. */
  private val duckWinnow =
    s"""tok AS (SELECT doc_id, $duckTok AS ts FROM documents),
       |g AS (SELECT doc_id, list_transform(range(1, greatest(len(ts) - 2, 1)),
       |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]) AS gs
       |  FROM tok),
       |h AS (SELECT doc_id, list_transform(gs,
       |    g -> ('0x' || substr(md5(g), 1, 15))::BIGINT) AS hs FROM g),
       |winn AS (SELECT doc_id, list_transform(range(1, greatest(len(hs) - 3, 1)),
       |    i -> list_min(list_slice(hs, i, i + 4))) AS mins FROM h)""".stripMargin

  /** Self-trained add-one bigram-LM CTE chain ending in
    * ppl(doc_id, n_bigrams, ppl) — shared by the text_perplexity and
    * curate_ppl_buckets oracles; ln/exp/round mirror the Spark
    * expression shapes so the 4-decimal ppl agrees cross-engine. */
  private val duckPpl =
    s"""tok AS (SELECT doc_id, $duckTok AS ts FROM documents),
       |bi AS (SELECT doc_id, ts[u.i] || ' ' || ts[u.i+1] AS bg,
       |    ts[u.i] AS w1
       |  FROM tok CROSS JOIN
       |    unnest(range(1, greatest(len(ts), 1))) AS u(i)),
       |c2 AS (SELECT bg, count(*) AS c2 FROM bi GROUP BY bg),
       |c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY w1),
       |v AS (SELECT count(DISTINCT u.t) AS v
       |      FROM (SELECT unnest(ts) AS t FROM tok) u),
       |s AS (SELECT bi.doc_id,
       |    ln((c2.c2 + 1)::DOUBLE / (c1.c1 + v.v)) AS lp
       |  FROM bi JOIN c2 USING (bg) JOIN c1 USING (w1), v),
       |p AS (SELECT doc_id, count(*) AS n,
       |    round(exp(-sum(lp) / count(*)), 4) AS ppl
       |  FROM s GROUP BY doc_id),
       |ppl AS (SELECT tok.doc_id, coalesce(p.n, 0)::BIGINT AS n_bigrams,
       |          p.ppl
       |        FROM tok LEFT JOIN p USING (doc_id))""".stripMargin

  /** text_langid / text_quality oracle bodies — shared verbatim with the
    * corpus_curate oracle, which composes them as CTEs. */
  private lazy val oracleSqlTextLangid: String =
    s"""SELECT doc_id, lang,
       |  CASE WHEN s_en >= s_code AND s_en >= s_data THEN 'en'
       |       WHEN s_code >= s_data THEN 'code' ELSE 'data' END AS pred_lang
       |FROM (SELECT doc_id, lang,
       |  len(list_filter($duckTok, t -> list_contains(['the','a','is'], t))) AS s_en,
       |  len(list_filter($duckTok, t -> list_contains(['table','query','join'], t))) AS s_code,
       |  len(list_filter($duckTok, t -> list_contains(['data','stream','batch'], t))) AS s_data
       |  FROM documents)""".stripMargin

  // exact integer arithmetic mirroring TextOps.qualityExpr: 10⁴·quality
  // is least(60·n, 3000) + HALF_UP((2p+q) div 2q) — DuckDB's // is floor
  // division on BIGINT, identical to the pmod form the engine uses; the
  // double round() it replaces disagreed with Spark's string-based
  // rounding on 90 half-boundary docs at sf10
  private lazy val oracleSqlTextQuality: String =
    s"""SELECT doc_id, len(ts) AS n_tokens,
       |  (least(60 * len(ts), 3000) + ((2*p + q) // (2*q)))::DOUBLE / 10000.0
       |    AS quality
       |FROM (SELECT doc_id, ts,
       |    4000::BIGINT * alpha * ntg + 3000::BIGINT * (ntg - stops) * chg AS p,
       |    chg * ntg AS q
       |  FROM (SELECT doc_id, ts,
       |      greatest(len(ts), 1)::BIGINT AS ntg,
       |      greatest(n_chars, 1)::BIGINT AS chg,
       |      len(regexp_replace(lower(text), '[^a-z]', '', 'g'))::BIGINT AS alpha,
       |      len(list_filter(ts, t -> list_contains(['the','a'], t)))::BIGINT
       |        AS stops
       |    FROM (SELECT doc_id, n_chars, text, $duckTok AS ts FROM documents)))""".stripMargin

  /** The simhash pair SELECT, shared verbatim by the dedup_simhash oracle
    * and (as a CTE) the dedup_clusters oracle — one place to change the
    * band/threshold parameters. */
  private lazy val duckSimhashSel: String =
    s"""WITH $duckNg,
       |h AS (SELECT doc_id, g % 4294967296 AS hv
       |      FROM ng, unnest(gs) AS u(g)),
       |hi AS (SELECT doc_id, hv, ix.i AS i
       |       FROM h CROSS JOIN unnest(range(0, 32)) AS ix(i)),
       |bits AS (SELECT doc_id, i,
       |    sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM hi GROUP BY 1, 2),
       |sh AS (SELECT doc_id,
       |    sum(CASE WHEN s > 0 THEN 1::BIGINT << i ELSE 0 END)::BIGINT AS sig
       |  FROM bits GROUP BY 1),
       |k AS (SELECT t.doc_id, t.lang, t.lb, sh.sig
       |      FROM tok t JOIN sh ON t.doc_id = sh.doc_id),
       |bd AS (SELECT doc_id, lang, lb, sig, t.band, $duckSimhashBandCase AS bv
       |  FROM k CROSS JOIN range(${operators.DedupOps.SimhashBands.size})
       |    t(band)),
       |cd AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
       |    x.sig AS xs, y.sig AS ys
       |  FROM bd x JOIN bd y ON x.band = y.band AND x.lang = y.lang
       |    AND x.lb = y.lb AND x.bv = y.bv AND x.doc_id < y.doc_id)
       |SELECT a_id, b_id, bit_count(xor(xs, ys)) AS hamming
       |FROM cd
       |WHERE bit_count(xor(xs, ys)) <= ${operators.DedupOps.SimhashTau}""".stripMargin

  /** Band-value extraction generated from DedupOps.SimhashBands — the
    * oracle's candidates come from the SAME banded buckets the Spark
    * side joins on, not all-pairs-in-block: pigeonhole over the band
    * layout makes band collisions a SUPERSET of every hamming ≤ τ pair,
    * and the bit_count verify then yields the IDENTICAL pair set. This
    * keeps the oracle subquadratic — the all-pairs formulation went
    * 100× at the sf1 stress corpus (10× docs) and timed out, while the
    * banded one matches the Spark output there in seconds. */
  private lazy val duckSimhashBandCase: String =
    operators.DedupOps.SimhashBands.zipWithIndex.init.map {
      case ((off, w), j) => s"WHEN $j THEN (sig >> $off) % ${1L << w}"
    }.mkString("CASE t.band ", " ", "") +
      s" ELSE (sig >> ${operators.DedupOps.SimhashBands.last._1}) % " +
      s"${1L << operators.DedupOps.SimhashBands.last._2} END"

  /** Unrolled min-label-propagation rounds, generated FROM
    * DedupOps.CcRounds so Spark and oracle always iterate the same
    * count; each round takes the min over neighbour labels and the
    * node's own (every node has >= 1 neighbour by construction).
    */
  private lazy val duckCcRounds: String =
    (1 to DedupOps.CcRounds).map { r =>
      // MATERIALIZED is load-bearing: each round references the previous
      // label relation twice, so inlined CTEs re-evaluate the whole chain
      // 2^rounds times — the base of that power includes the full
      // candidate generation, which detonated the oracle at the sf1
      // stress corpus. Materializing keeps each round computed once.
      s"""nb$r AS MATERIALIZED (SELECT ed.u AS id, min(lv.lbl) AS nb
         |  FROM ed JOIN l${r - 1} lv ON ed.v = lv.id GROUP BY ed.u),
         |l$r AS MATERIALIZED (SELECT p.id, least(p.lbl, nb$r.nb) AS lbl
         |  FROM l${r - 1} p JOIN nb$r ON p.id = nb$r.id)""".stripMargin
    }.mkString(",\n")

  /** The full clusters SELECT, shared by the dedup_clusters oracle and
    * (as a CTE) the corpus_curate oracle. */
  private lazy val duckClustersSel: String =
    s"""WITH pairs AS MATERIALIZED ($duckSimhashSel),
       |ed AS MATERIALIZED (SELECT a_id AS u, b_id AS v FROM pairs
       |       UNION ALL SELECT b_id, a_id FROM pairs),
       |n AS (SELECT DISTINCT u AS id FROM ed),
       |l0 AS (SELECT id, id AS lbl FROM n),
       |$duckCcRounds
       |SELECT id AS doc_id, lbl AS cluster_id, (id = lbl)::INT AS is_rep
       |FROM l${DedupOps.CcRounds}""".stripMargin

  /** Shared embed-batch CTE chain (token counts -> exclusive cumsum ->
    * token-budget bucket -> within-bucket doc-count split), ending at the
    * `s` CTE — MUST stay in lockstep with ChunkOps.embedBatches
    * (EmbedBatchTokens = 512, EmbedBatchDocs = 8). Composed by the
    * embed_batches and embed_schedule oracles. */
  private lazy val duckEmbedBatchCtes: String =
    s"""tok AS (SELECT doc_id, source, len($duckTok) AS n_tokens
       |  FROM documents),
       |c AS (SELECT doc_id, source, n_tokens,
       |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM tok),
       |b AS (SELECT *, (cum_before // 512) AS tokb FROM c),
       |s AS (SELECT *, (row_number() OVER (
       |    PARTITION BY source, tokb ORDER BY doc_id) - 1) // 8 AS sub
       |  FROM b)""".stripMargin

  /** Shared BPE trainer CTE chain — MUST stay in lockstep with
    * TextOps.bpeTrainRounds: word counts from the shared tokenizer,
    * char-split symbols, then [[operators.TextOps.BpeMerges]] rounds of
    * (pair counts via zip-with-shifted → argmax with (freq DESC, pa, pb)
    * tiebreak → greedy left-to-right non-overlapping merge fold). The
    * fold runs over singleton lists so DuckDB's list_reduce (no initial
    * accumulator) starts from the first symbol, exactly like the Spark
    * aggregate() fold from an empty accumulator. Ends at b1..bK (the
    * trained rules) and s1..sK (the merged vocab). */
  private lazy val duckBpeTrainCtes: String = {
    val rounds = (1 to operators.TextOps.BpeMerges).map { k =>
      s"""p$k AS (SELECT u.z[1] AS pa, u.z[2] AS pb, sum(cnt) AS freq
         |  FROM s${k - 1}, unnest(list_zip(syms, syms[2:])) AS u(z)
         |  WHERE u.z[2] IS NOT NULL GROUP BY 1, 2),
         |b$k AS (SELECT pa, pb, freq FROM p$k
         |  ORDER BY freq DESC, pa, pb LIMIT 1),
         |s$k AS (SELECT CASE WHEN length(syms) <= 1 THEN syms ELSE
         |    list_reduce(list_transform(syms, s -> [s]), (acc, x) ->
         |      CASE WHEN acc[-1] = b$k.pa AND x[1] = b$k.pb
         |        THEN list_concat(acc[1:length(acc)-1], [b$k.pa || b$k.pb])
         |        ELSE list_concat(acc, x) END) END AS syms, cnt
         |  FROM s${k - 1}, b$k)""".stripMargin
    }.mkString(",\n")
    s"""w AS (SELECT unnest($duckTok) AS w FROM documents),
       |v0 AS (SELECT w, count(*) AS cnt FROM w GROUP BY w),
       |s0 AS (SELECT regexp_extract_all(w, '.') AS syms, cnt FROM v0),
       |$rounds""".stripMargin
  }

  /** Shared curate-pipeline CTE chain (admission -> near-dup keepers ->
    * holdout/decontamination -> per-source packing cumsum), ending at the
    * `c` CTE. Composed by both the curate_pipeline and curate_report
    * oracles; the report additionally reads the dtok/curated/clean CTEs. */
  private lazy val duckCuratePipe: String =
    s"""qsel AS ($oracleSqlTextQuality),
       |lsel AS ($oracleSqlTextLangid),
       |cl AS MATERIALIZED ($duckClustersSel),
       |passed AS MATERIALIZED (SELECT q.doc_id, q.quality, l.pred_lang
       |  FROM qsel q JOIN lsel l ON q.doc_id = l.doc_id
       |  WHERE l.pred_lang = 'en' AND q.quality >= 0.5),
       |pc AS (SELECT p.doc_id, cl.cluster_id
       |       FROM passed p JOIN cl ON p.doc_id = cl.doc_id),
       |keepers AS (SELECT min(doc_id) AS doc_id FROM pc GROUP BY cluster_id),
       |curated AS MATERIALIZED (SELECT p.doc_id FROM passed p
       |  WHERE p.doc_id NOT IN (SELECT doc_id FROM pc)
       |     OR p.doc_id IN (SELECT doc_id FROM keepers)),
       |dtok AS MATERIALIZED (SELECT doc_id, $duckTok AS ts FROM documents),
       |dg AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len(ts) - ${CurateOps.DecontamN - 2}),
       |    i -> array_to_string(ts[i:i+${CurateOps.DecontamN - 1}], ' ')))) AS gram
       |  FROM dtok WHERE len(ts) >= ${CurateOps.DecontamN}),
       |dhold AS (SELECT DISTINCT gram FROM dg
       |          WHERE doc_id % ${CurateOps.HoldoutMod} = 0),
       |contam AS (SELECT DISTINCT dg.doc_id FROM dg JOIN dhold USING (gram)
       |           WHERE dg.doc_id % ${CurateOps.HoldoutMod} <> 0),
       |clean AS MATERIALIZED (SELECT doc_id FROM curated
       |  WHERE doc_id % ${CurateOps.HoldoutMod} <> 0
       |    AND doc_id NOT IN (SELECT doc_id FROM contam)),
       |t AS (SELECT k.doc_id, d.source, len(k.ts)::BIGINT AS n_tok
       |  FROM dtok k JOIN documents d USING (doc_id) JOIN clean USING (doc_id)),
       |c AS MATERIALIZED (SELECT doc_id, source, n_tok,
       |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)""".stripMargin

  /** Deterministic k-means CTE chain (md5-seeded init, one rounded
    * re-estimation) shared by the vec_kmeans and vec_knn_kmeans oracles —
    * MUST stay in lockstep with SearchOps.kmeansCents/kmeansAssigned. */
  private val duckKmeans =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
      |         AS cluster, v AS c
      |       FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 8),
      |d1 AS (SELECT vec_id, cluster,
      |    list_sum(list_transform(range(64),
      |      i -> (v[i+1] - c[i+1]) * (v[i+1] - c[i+1]))) AS d
      |  FROM e CROSS JOIN c0),
      |a1 AS (SELECT vec_id, cluster FROM (
      |    SELECT vec_id, cluster,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rk
      |    FROM d1) WHERE rk = 1),
      |c1 AS (SELECT cluster, list(cv ORDER BY d) AS c FROM (
      |    SELECT a1.cluster, t.d AS d, round(avg(e.v[t.d + 1]), 6) AS cv
      |    FROM a1 JOIN e USING (vec_id) CROSS JOIN range(64) t(d)
      |    GROUP BY a1.cluster, t.d)
      |  GROUP BY cluster),
      |d2 AS (SELECT vec_id, cluster,
      |    list_sum(list_transform(range(64),
      |      i -> (v[i+1] - c[i+1]) * (v[i+1] - c[i+1]))) AS d
      |  FROM e CROSS JOIN c1),
      |a2 AS (SELECT vec_id, cluster FROM (
      |    SELECT vec_id, cluster,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rk
      |    FROM d2) WHERE rk = 1)""".stripMargin

  /** Generated PQ CTE chain — MUST stay in lockstep with
    * SearchOps.pqCents/pqCodes/vecKnnPq: L2-normalized vectors split
    * into PqM subspaces of PqSub dims, PqK codebook entries per
    * subspace seeded from the smallest-md5 vectors, PqIters Lloyd
    * rounds with 6-decimal rounded centroids and (d, cluster) argmin
    * total order. The subspace id `m` rides as a column, so one CTE
    * per ROUND covers all subspaces (like the Spark side's single-plan
    * training). Ends at pc<PqIters> (codebooks) and ca (codes). */
  private lazy val duckPqCtes: String = {
    import operators.SearchOps.{PqM, PqSub, PqK, PqIters}
    def sq(r: Int) =
      s"""list_sum(list_transform(range($PqSub),
         |      i -> (s.sv[i+1]-p.c[i+1])*(s.sv[i+1]-p.c[i+1])))""".stripMargin
    val rounds = (1 to PqIters).map { r =>
      s"""pd$r AS (SELECT s.vec_id, s.m, s.sv, p.cluster, ${sq(r)} AS d
         |  FROM sub s JOIN pc${r - 1} p USING (m)),
         |pa$r AS (SELECT vec_id, m, cluster FROM (SELECT vec_id, m, cluster,
         |    row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cluster)
         |      AS rk FROM pd$r) WHERE rk = 1),
         |pc$r AS (SELECT m, cluster, list(cv ORDER BY d) AS c FROM (
         |    SELECT pa.m, pa.cluster, t.d, round(avg(s.sv[t.d+1]), 6) AS cv
         |    FROM pa$r pa JOIN sub s ON pa.vec_id = s.vec_id AND pa.m = s.m
         |    CROSS JOIN range($PqSub) t(d)
         |    GROUP BY pa.m, pa.cluster, t.d) GROUP BY m, cluster)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |nrm AS (SELECT vec_id, CASE WHEN nn = 0 THEN v
       |      ELSE list_transform(v, x -> x / nn) END AS v
       |  FROM (SELECT vec_id, v,
       |      sqrt(list_sum(list_transform(v, x -> x*x))) AS nn FROM e)),
       |sub AS (SELECT vec_id, t.m, v[t.m*$PqSub+1 : t.m*$PqSub+$PqSub] AS sv
       |  FROM nrm CROSS JOIN range($PqM) t(m)),
       |sd AS (SELECT v, row_number() OVER (
       |      ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS cluster
       |  FROM nrm ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $PqK),
       |pc0 AS (SELECT t.m, cluster::INT AS cluster,
       |    v[t.m*$PqSub+1 : t.m*$PqSub+$PqSub] AS c
       |  FROM sd CROSS JOIN range($PqM) t(m)),
       |$rounds,
       |ca AS (SELECT vec_id, m, cluster FROM (
       |    SELECT s.vec_id, s.m, p.cluster,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY ${sq(0)},
       |        p.cluster) AS rk
       |  FROM sub s JOIN pc$PqIters p USING (m)) WHERE rk = 1)""".stripMargin
  }

  /** Generated oracle for graph_path_find_deep — MUST stay in lockstep
    * with GraphOps.pathFind (min-parent rule) and GraphOps.MaxDepth:
    * shortest path supplier 0 → part 37. Min-parent BFS layers
    * l1..l<MaxDepth> over the bipartite edge set (odd layers are parts,
    * even ones suppliers, so each layer subtracts only the earlier layers
    * of its own type), then a backtrack from the minimum hop holding the
    * destination. MATERIALIZED: DuckDB 1.0 inlines CTEs, so the
    * multi-referenced edge relation and BFS levels would re-evaluate per
    * reference — at sf10 the repeated DISTINCT-over-60M-rows hash builds
    * spill past a small host's disk. Each materialized relation is edge-
    * or frontier-bounded (small). */
  private lazy val duckPathFindDeep: String = {
    import operators.GraphOps.MaxDepth
    val layers = (1 to MaxDepth).map { h =>
      val (to, from) = if (h % 2 == 1) ("dst", "src") else ("src", "dst")
      val seen = (h - 2 to 0 by -2).map(k => s"e.$to NOT IN (SELECT id FROM l$k)")
      val where = if (seen.isEmpty) "" else seen.mkString(" WHERE ", " AND ", "")
      s"""l$h AS MATERIALIZED (SELECT e.$to AS id, min(e.$from) AS par
         |  FROM e JOIN l${h - 1} p ON e.$from = p.id$where GROUP BY e.$to)""".stripMargin
    }.mkString(",\n")
    val reached = (1 to MaxDepth).map(h => s"SELECT $h AS hop, id, par FROM l$h")
      .mkString("\n  UNION ALL ")
    val steps = (1 until MaxDepth).map(k =>
      s"""b$k AS (SELECT r.hop, r.id, r.par FROM r JOIN b${k - 1} b
         |  ON r.hop = b.hop - 1 AND r.id = b.par)""".stripMargin).mkString(",\n")
    val path = (0 until MaxDepth).map(k => s"SELECT hop, id FROM b$k")
      .mkString(" UNION ALL ")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
       |l0 AS (SELECT 0::BIGINT AS id),
       |$layers,
       |r AS MATERIALIZED ($reached),
       |b0 AS (SELECT hop, id, par FROM r WHERE hop % 2 = 1 AND id = 37
       |  ORDER BY hop LIMIT 1),
       |$steps
       |SELECT hop AS step, CASE WHEN hop % 2 = 1 THEN 'part' ELSE 'supplier' END
       |  AS node_type, id AS node_id FROM ($path)
       |UNION ALL SELECT 0 AS step, 'supplier' AS node_type, 0::BIGINT AS node_id FROM b0""".stripMargin
  }

  /** DuckDB-runnable oracle SQL, same column names as the Spark result. */
  def oracleSql: Map[String, String] = Map(
    // exact decimal sums, mirroring Relational.q1Agg: double sums are
    // order-dependent past ~1e11·5M-row groups and broke the 4-decimal
    // hash at sf10; avg = exact sum / exact count in one double op.
    // ::VARCHAR::DOUBLE is load-bearing: DuckDB's direct DECIMAL→DOUBLE
    // cast divides (double)hugeint by 10^scale — TWO roundings, 1 ulp
    // below the true value at 2.7e11 — while the string parse is
    // correctly rounded, matching Spark's decimal-to-double cast.
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(CAST(l_quantity AS DECIMAL(30,4)))::VARCHAR::DOUBLE AS sum_qty,
        |  sum(CAST(l_extendedprice AS DECIMAL(30,4)))::VARCHAR::DOUBLE
        |    AS sum_base_price,
        |  sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)))
        |    ::VARCHAR::DOUBLE AS sum_disc_price,
        |  CAST((CAST(sum(CAST(l_quantity AS DECIMAL(30,4))) * 10000
        |        AS HUGEINT) * 2 + count(*)) // (count(*) * 2)
        |    AS DOUBLE) / 10000 AS avg_qty,
        |  CAST((CAST(sum(CAST(l_discount AS DECIMAL(30,4))) * 10000
        |        AS HUGEINT) * 2 + count(*)) // (count(*) * 2)
        |    AS DOUBLE) / 10000 AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_filter_project" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |WHERE p_size >= 30 AND p_type LIKE 'SMALL%'""".stripMargin,
    "q3_join_agg" ->
      """SELECT l_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS o_epoch,
        |  o_orderpriority
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q4_broadcast_join" ->
      """SELECT r_name, count(*) AS n_suppliers,
        |  round(sum(s_acctbal), 4) AS total_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q5_topk" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q6_window_topk" ->
      """SELECT c_nationkey, rk, c_custkey, round(c_acctbal, 4) AS c_acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey
        |                       ORDER BY c_acctbal DESC, c_custkey) AS rk
        |  FROM customer) t WHERE rk <= 3""".stripMargin,
    "q6b_topk_agg" ->
      """SELECT c_nationkey, rk, c_custkey, round(c_acctbal, 4) AS c_acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey
        |                       ORDER BY c_acctbal DESC, c_custkey) AS rk
        |  FROM customer) t WHERE rk <= 3""".stripMargin,
    "q7_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin,
    "q8_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderpriority = '1-URGENT')""".stripMargin,
    "q9_distinct_agg" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q10_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS r_name, coalesce(n_name, 'ALL') AS n_name,
        |  count(*) AS n_suppliers, round(sum(s_acctbal), 4) AS total_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,
    "q11_upsert_latest" ->
      """SELECT user_id, event_id, event_type, round(value, 4) AS value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |                               ORDER BY ts DESC, event_id DESC) AS rk
        |  FROM events) WHERE rk = 1""".stripMargin,
    "q12_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts) AS tn FROM events),
        |w AS (SELECT *,
        |    last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY tn, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_id,
        |    last_value(CASE WHEN event_type = 'view' THEN tn END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY tn, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_tn
        |  FROM e)
        |SELECT event_id AS purchase_id, user_id, last_view_id,
        |  (tn - last_view_tn) // 1000000000 AS gap_s
        |FROM w WHERE event_type = 'purchase'""".stripMargin,
    "dsl_agg" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  round(sum(o_totalprice), 4) AS total_price,
        |  round(max(o_totalprice), 4) AS max_price
        |FROM orders GROUP BY o_orderpriority
        |HAVING count(*) > 100
        |ORDER BY o_orderpriority""".stripMargin,
    "dsl_join_filter" ->
      """SELECT c_custkey, c_name, n_name, c_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal BETWEEN 9000 AND 10000
        |  AND n_name LIKE '%A%'
        |  AND c_mktsegment NOT IN ('MACHINERY', 'HOUSEHOLD')
        |ORDER BY c_custkey LIMIT 25 OFFSET 5""".stripMargin,
    "dsl_modules" ->
      """WITH files AS (SELECT source AS module_path, lang, n_chars,
        |    (n_chars + 79) // 80 AS line_count FROM documents)
        |SELECT module_path, count(*) AS file_count,
        |  sum(line_count)::BIGINT AS line_count_total,
        |  round(avg(n_chars), 4) AS avg_chars
        |FROM files GROUP BY module_path
        |ORDER BY file_count DESC, module_path""".stripMargin,
    // the virtual functions/files tables — MUST stay in lockstep with
    // Tables.symbolTable / Tables.files and QueryDsl.dslFunctions' wire query
    "dsl_functions" ->
      s"""WITH tok AS (SELECT doc_id, source, $duckTok AS ts FROM documents),
         |fn AS (SELECT doc_id, source, ts, unnest(list_filter(range(1, len(ts)),
         |    i -> ts[i] = 'query')) AS i FROM tok),
         |fns AS (SELECT source || '/' || doc_id::VARCHAR AS file_path,
         |    ts[i+1] AS name, i AS start_pos,
         |    source || '/' || doc_id::VARCHAR || '::' || ts[i+1]
         |      || '::' || i::VARCHAR AS function_id
         |  FROM fn),
         |files AS (SELECT source || '/' || doc_id::VARCHAR AS file_path, lang,
         |    (n_chars + 79) // 80 AS line_count FROM documents)
         |SELECT function_id, file_path, name, start_pos, line_count
         |FROM fns JOIN files USING (file_path)
         |WHERE lang = 'en' AND line_count >= 3 AND name LIKE 's%'
         |ORDER BY function_id, start_pos LIMIT 100""".stripMargin,
    // the anti-join contract row: LEFT JOIN + IS NULL + NOT IN +
    // COUNT(DISTINCT)/AVG(DISTINCT) — lockstep with QueryDsl.dslOrphans
    "dsl_orphans" ->
      s"""WITH tok AS (SELECT doc_id, source, $duckTok AS ts FROM documents),
         |fn AS (SELECT doc_id, source, ts, unnest(list_filter(range(1, len(ts)),
         |    i -> ts[i] = 'query')) AS i FROM tok),
         |fns AS (SELECT DISTINCT source || '/' || doc_id::VARCHAR AS file_path
         |  FROM fn),
         |files AS (SELECT source || '/' || doc_id::VARCHAR AS file_path, lang,
         |    (n_chars + 79) // 80 AS line_count FROM documents)
         |SELECT lang, count(DISTINCT f.file_path) AS n_orphan_files,
         |  round(avg(DISTINCT line_count), 4) AS avg_distinct_lines
         |FROM files f LEFT JOIN fns ON f.file_path = fns.file_path
         |WHERE fns.file_path IS NULL AND lang NOT IN ('de')
         |GROUP BY lang
         |ORDER BY n_orphan_files DESC, lang ASC LIMIT 25""".stripMargin,
    // virtual types ⋈ imports rollup — lockstep with Tables.symbolTable
    // ('table' → type), Tables.imports ('batch' → import), dslTypes
    "dsl_types" ->
      s"""WITH tok AS (SELECT doc_id, source, $duckTok AS ts FROM documents),
         |ty AS (SELECT doc_id, source, ts, unnest(list_filter(range(1, len(ts)),
         |    i -> ts[i] = 'table')) AS i FROM tok),
         |tys AS (SELECT source || '/' || doc_id::VARCHAR AS file_path,
         |    source AS module_path, i AS start_pos FROM ty),
         |im AS (SELECT doc_id, source, ts, unnest(list_filter(range(1, len(ts)),
         |    i -> ts[i] = 'batch')) AS i FROM tok),
         |ims AS (SELECT source || '/' || doc_id::VARCHAR AS file_path,
         |    ts[i+1] AS import_path, i AS import_line FROM im)
         |SELECT module_path, count(*) AS n_type_import_pairs,
         |  round(avg(import_line), 4) AS avg_import_line,
         |  min(start_pos) AS first_decl
         |FROM tys JOIN ims USING (file_path)
         |WHERE import_path IN ('row', 'scan', 'filter')
         |GROUP BY module_path HAVING count(*) > 2
         |ORDER BY n_type_import_pairs DESC, module_path LIMIT 50""".stripMargin,
    // virtual chunks rollup — lockstep with Tables.chunks (the
    // chunk_documents chunker keyed by file_path) and dslChunks
    "dsl_chunks" ->
      s"""WITH tok AS (SELECT doc_id, source, $duckTok AS ts FROM documents),
         |ch AS (SELECT source || '/' || doc_id::VARCHAR AS file_path,
         |    (u.s - 1) // 15 AS chunk_idx,
         |    len(list_slice(ts, u.s, u.s + 19)) AS n_chunk_tokens
         |  FROM tok CROSS JOIN
         |    unnest(range(1, greatest(len(ts), 1) + 1, 15)) AS u(s))
         |SELECT file_path, count(*) AS n_chunks,
         |  sum(n_chunk_tokens)::BIGINT AS n_tokens,
         |  max(chunk_idx) AS last_chunk
         |FROM ch GROUP BY file_path HAVING count(*) >= 6
         |ORDER BY n_tokens DESC, file_path LIMIT 40""".stripMargin,
    "q13_percentiles" ->
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
        |  round(max(o_totalprice), 4) AS p100
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // lockstep with Relational.q9cPortableHll: 60-bit md5 hash, register =
    // low 8 bits, rank = 53 - bitlen(high 52 bits), register sum kept in
    // integer arithmetic scaled by 2^53 so addition order cannot drift
    "q9c_portable_hll" ->
      """WITH h AS (SELECT o_orderpriority AS pr,
        |    ('0x' || substr(md5('hll#' || o_custkey::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM orders),
        |r AS (SELECT pr, h & 255 AS reg,
        |    53 - (CASE WHEN (h >> 8) = 0 THEN 0
        |          ELSE length(format('{:b}', h >> 8)) END) AS rank FROM h),
        |m AS (SELECT pr, reg, max(rank) AS mreg FROM r GROUP BY 1, 2),
        |g AS (SELECT pr, sum(1::BIGINT << (53 - mreg)) AS s_present,
        |    count(*) AS n_regs FROM m GROUP BY 1),
        |e AS (SELECT pr, n_regs,
        |    (s_present + (256 - n_regs) * (1::BIGINT << 53))::DOUBLE AS s_int,
        |    256 - n_regs AS v FROM g)
        |SELECT pr AS o_orderpriority,
        |  round(CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 65536 * power(2.0, 53)
        |      / s_int <= 640.0 AND v > 0
        |    THEN 256.0 * ln(256.0 / v)
        |    ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 65536 * power(2.0, 53) / s_int
        |    END, 4) AS hll_customers,
        |  n_regs
        |FROM e ORDER BY o_orderpriority""".stripMargin,
    // lockstep with Relational.q13cSampledPercentiles: the k-smallest-by-
    // 48-bit-md5 sample is the TopKAgg heap's kept set ((hash ASC, cents
    // ASC) total order), quantile_cont = Spark percentile (the q13
    // agreement), +0.5-floor cents like vec_quantize_int8
    "q13c_sampled_percentiles" ->
      """WITH h AS (SELECT o_orderpriority AS pr,
        |    ('0x' || substr(md5('q13c#' || o_orderkey::VARCHAR), 1, 12))::BIGINT AS h,
        |    floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
        |  FROM orders),
        |s AS (SELECT pr, cents FROM (
        |    SELECT pr, cents,
        |      row_number() OVER (PARTITION BY pr ORDER BY h, cents) AS rn
        |    FROM h) WHERE rn <= 200)
        |SELECT pr AS o_orderpriority,
        |  round(quantile_cont(cents / 100.0, 0.5), 4) AS p50,
        |  round(quantile_cont(cents / 100.0, 0.95), 4) AS p95,
        |  count(*) AS n_sample
        |FROM s GROUP BY pr ORDER BY pr""".stripMargin,
    "q14_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS n_click,
        |  count(*) FILTER (WHERE event_type = 'view') AS n_view,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
        |  count(*) FILTER (WHERE event_type = 'error') AS n_error
        |FROM events GROUP BY user_id""".stripMargin,
    // the same chained-running-min single pass the Spark op plans, with
    // an identical (tn, event_id) total order so the frames agree
    "q15_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS tn, event_id
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        |w1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN tn END)
        |    OVER (PARTITION BY user_id ORDER BY tn, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rv
        |  FROM e),
        |w2 AS (SELECT *, CASE WHEN event_type = 'click' AND tn > rv
        |                      THEN tn END AS qc FROM w1),
        |w3 AS (SELECT *, min(qc)
        |    OVER (PARTITION BY user_id ORDER BY tn, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rc
        |  FROM w2),
        |p AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN tn END) AS t1,
        |    min(qc) AS t2,
        |    min(CASE WHEN event_type = 'purchase' AND tn > rc
        |             THEN tn END) AS t3
        |  FROM w3 GROUP BY user_id),
        |c AS (SELECT count(t1) AS n1, count(t2) AS n2, count(t3) AS n3
        |      FROM p)
        |SELECT 1 AS step, 'view' AS event_type, n1 AS n_users FROM c
        |UNION ALL SELECT 2, 'click', n2 FROM c
        |UNION ALL SELECT 3, 'purchase', n3 FROM c
        |ORDER BY step""".stripMargin,
    "q16_retention" ->
      """WITH d AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort FROM d GROUP BY user_id)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
        |  (day - cohort)::INT AS offset_days,
        |  count(DISTINCT user_id) AS n_users
        |FROM d JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "vec_knn_brute" ->
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS q_emb FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, round(${duckCos("embedding::DOUBLE[]", "q_emb")}, 4) AS score
         |FROM embeddings, q WHERE vec_id <> 0
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
    "vec_knn_ivf" ->
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS q_emb FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label, round(${duckCos("embedding::DOUBLE[]", "q_emb")}, 4) AS score
         |FROM embeddings, q WHERE label = 2 AND vec_id <> 0
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
    "vec_kmeans" ->
      s"""WITH $duckKmeans
         |SELECT vec_id, cluster FROM a2 ORDER BY vec_id""".stripMargin,
    // SemDeDup: within-cluster exact cosine pairs over the SAME trained
    // k-means assignments (a2), min-id keep policy
    "dedup_semantic" ->
      s"""WITH $duckKmeans,
         |pr AS (SELECT DISTINCT b.vec_id AS b_id
         |  FROM a2 a JOIN a2 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  JOIN e ea ON ea.vec_id = a.vec_id
         |  JOIN e eb ON eb.vec_id = b.vec_id
         |  WHERE round(${duckCos("ea.v", "eb.v")}, 4) >= ${operators.DedupOps.SemTau}),
         |cn AS (SELECT cluster, count(*) AS cell_n FROM a2 GROUP BY 1)
         |SELECT a2.vec_id, a2.cluster,
         |  (a2.vec_id NOT IN (SELECT b_id FROM pr)) AS keep,
         |  (cn.cell_n > $resolvedExactCellCap) AS routed
         |FROM a2 JOIN cn USING (cluster)""".stripMargin,
    // lockstep with CurateOps.curateD4 (D4DropFrac, SemTau, the shared
    // k-means CTE chain and the dedup_semantic drop CTE)
    "curate_d4" ->
      s"""WITH $duckKmeans,
         |pr AS (SELECT DISTINCT b.vec_id AS b_id
         |  FROM a2 a JOIN a2 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  JOIN e ea ON ea.vec_id = a.vec_id
         |  JOIN e eb ON eb.vec_id = b.vec_id
         |  WHERE round(${duckCos("ea.v", "eb.v")}, 4) >= ${operators.DedupOps.SemTau}),
         |kept AS (SELECT a2.vec_id, a2.cluster FROM a2
         |  WHERE a2.vec_id NOT IN (SELECT b_id FROM pr)),
         |pc AS (SELECT k.vec_id, k.cluster,
         |    round(${duckCos("e.v", "c1.c")}, 4) AS proto
         |  FROM kept k JOIN e ON e.vec_id = k.vec_id
         |  JOIN c1 ON c1.cluster = k.cluster),
         |rk AS (SELECT *,
         |    row_number() OVER (PARTITION BY cluster
         |      ORDER BY proto DESC, vec_id) AS r,
         |    count(*) OVER (PARTITION BY cluster) AS n FROM pc)
         |SELECT vec_id, cluster, proto,
         |  (r > floor(${CurateOps.D4DropFrac} * n)) AS keep
         |FROM rk""".stripMargin,
    "vec_knn_kmeans" ->
      s"""WITH $duckKmeans,
         |q AS (SELECT embedding::DOUBLE[] AS q_emb FROM embeddings WHERE vec_id = 0),
         |probe AS (SELECT cluster FROM c1, q
         |  ORDER BY round(${duckCos("c", "q_emb")}, 4) DESC, cluster
         |  LIMIT 1)
         |SELECT e.vec_id, a2.cluster,
         |  round(${duckCos("e.v", "q_emb")}, 4) AS score
         |FROM a2 JOIN probe USING (cluster) JOIN e ON a2.vec_id = e.vec_id, q
         |WHERE e.vec_id <> 0
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,
    "vec_knn_ivf_probe" ->
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS q_emb FROM embeddings WHERE vec_id = 0),
         |cent AS (
         |  SELECT label, list(av ORDER BY d) AS centroid FROM (
         |    SELECT label, t.d AS d, avg(embedding[t.d + 1]) AS av
         |    FROM embeddings CROSS JOIN range(64) t(d)
         |    GROUP BY label, t.d)
         |  GROUP BY label),
         |probe AS (
         |  SELECT label FROM cent, q
         |  ORDER BY round(${duckCos("centroid", "q_emb")}, 4) DESC, label
         |  LIMIT 2)
         |SELECT vec_id, label, round(${duckCos("embedding::DOUBLE[]", "q_emb")}, 4) AS score
         |FROM embeddings JOIN probe USING (label), q
         |WHERE vec_id <> 0
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
    // norms are precomputed per VECTOR (en CTE) so the Σcell² pair loop
    // pays one inner product, not three — the same split-scoring trade
    // the engine's SumSquares riders make; ranking is the 3-pass cascade
    // (see duckTop3) because the window sort detonates at sf10
    // the 16-way slice on side A is pure PARALLELISM, not semantics: the
    // pair set is identical (each (a,b) matches exactly at b's slice,
    // b_id % 16), but DuckDB parallelizes a hash join by PROBE-side
    // morsels (~122k rows each), and the unsalted probe side is only
    // vector-count rows — the sf10 replay ran ~4 threads and timed out
    // on a Σcell² dot-product stage that parallelizes trivially
    // en/ap are deliberately NOT materialized: DuckDB 1.0 gives a
    // MATERIALIZED CTE's scan estimated cardinality 0, which propagates
    // to every join above it — duckTop3's bound join then picks the
    // Σcell² pair stream as the hash-join BUILD side (a ~240 GB table at
    // sf10) instead of the vector-bounded threshold relation. Plain CTEs
    // keep the parquet-scan estimates, the bound relation builds, and
    // the pair stream only ever flows as probe; re-scanning the parquet
    // per reference costs nothing by comparison. ap is a 16-branch
    // UNION ALL rather than a CROSS JOIN with range(16): DuckDB's probe
    // parallelism comes from the SOURCE pipeline's morsels, and the
    // corpus writes one parquet row group — one scan = ~2 threads no
    // matter how many rows a cross join multiplies it into. Union
    // branches are independent pipelines and run concurrently (measured:
    // 16 branches = 1 branch wall), so each slice probes on its own
    // thread; the pair set is unchanged (pair (a,b) matches exactly at
    // b_id % 16 = a's branch constant).
    "vec_knn_join" ->
      s"""WITH en AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
         |    sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))
         |      AS nrm
         |  FROM embeddings),
         |ap AS (${(0 until 16).map(k => s"SELECT en.*, $k AS s FROM en")
          .mkString("\n  UNION ALL ")}),
         |pairs AS (
         |  SELECT a.label AS label, a.vec_id AS a_id, b.vec_id AS b_id,
         |    round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS score
         |  FROM ap a JOIN en b
         |    ON a.label = b.label AND a.s = b.vec_id % 16
         |      AND a.vec_id <> b.vec_id),
         |${duckTop3("pairs", routed = false)}""".stripMargin,
    // lockstep with SearchOps.vecKnnJoinAuto: the oracle replays the cell
    // size census, routes each label through the exact block join
    // (cell_n <= cap) or the hyperplane-band candidate join (cell_n >
    // cap, the vec_knn_join_ann sig CTEs), and must agree with the
    // engine on which label took which path — the ROUTER is under test
    "vec_knn_join_auto" -> {
      // resolved from the ACTIVE session like the geo CTE's width target:
      // a session tuning spark.graft.knnAutoCellCap must hand the oracle
      // the same routing threshold the engine reads at runtime
      val autoCap = org.apache.spark.sql.SparkSession.getActiveSession
        .flatMap(_.conf.getOption(operators.SearchOps.AutoCapConf))
        .map(_.toLong).getOrElse(operators.SearchOps.AutoCapDefault)
      // The two branches are ranked SEPARATELY and ASYMMETRICALLY, and
      // every choice here is load-bearing at sf10 (each alternative was
      // run to its ~60 GB spill before landing on this shape):
      //  - rt carries NO census join and ranks ALL labels — joining cs
      //    inside rt crushed kk_r's estimated cardinality below bnd_r's
      //    and flipped the bound join's build side onto the pair stream;
      //    the cell_n > cap routing filter applies to the RANKED top_r
      //    (≤3 rows per vector) instead, equivalent because ranking is
      //    per-a_id within one label. rt is exactly the ann oracle's
      //    known-good plan.
      //  - ex gets NO duckTop3 and NO probe salting: a plain row_number
      //    window suffices because the routing contract bounds ex to
      //    N·cap rows (only cells ≤ cap are enumerated exactly), and
      //    every heavier variant — 16-branch salted probe, a second
      //    duckTop3 instance — added over a dozen concurrent blocking-
      //    operator memory reservations, starving kk_r's aggregate into
      //    external (input-materializing) mode and spilling ~60 GB.
      //    The branch that CAN be big gets the streaming cascade; the
      //    branch that is small by contract stays operator-light.
      s"""WITH ${duckEmbBandCtes(materialize = false)},
         |cs AS (SELECT label, count(*) AS cell_n FROM e GROUP BY 1),
         |ex AS (SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
         |    round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS score,
         |    FALSE AS routed
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
         |  JOIN cs ON cs.label = a.label AND cs.cell_n <= $autoCap),
         |top_e AS (
         |  SELECT label, a_id, b_id, score, rk::INT AS rk, routed FROM (
         |    SELECT *, row_number() OVER (PARTITION BY a_id
         |      ORDER BY (round(score * 10000))::BIGINT * 1099511627776
         |        - b_id DESC) AS rk
         |    FROM ex)
         |  WHERE rk <= 3),
         |rt AS (SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
         |    round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 4)
         |      AS score, TRUE AS routed
         |  FROM sv a JOIN sv b ON a.band = b.band AND a.label = b.label
         |    AND a.sig = b.sig AND a.vec_id <> b.vec_id),
         |${duckTop3("rt", routed = true, sfx = "_r")}
         |SELECT * FROM top_e
         |UNION ALL SELECT * FROM top_r
         |WHERE label IN (SELECT label FROM cs WHERE cell_n > $autoCap)""".stripMargin
    },
    "fts_term_score" ->
      s"""SELECT doc_id, $duckTermScore AS score FROM documents
         |WHERE $duckTermScore > 0
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "fts_phrase" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE contains(lower(text), 'data query')
        |ORDER BY n_chars DESC, doc_id LIMIT 20""".stripMargin,
    "hybrid_search" ->
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS q_emb FROM embeddings WHERE vec_id = 0),
         |tok AS (SELECT doc_id, $duckToks AS toks FROM documents)
         |SELECT t.doc_id AS doc_id,
         |  round(0.5 * ${duckCos("e.embedding::DOUBLE[]", "q_emb")} +
         |    0.5 * (len(list_filter(t.toks, x -> list_contains(['data','query','table'], x)))::DOUBLE
         |           / greatest(len(t.toks), 1)), 4) AS score
         |FROM tok t JOIN embeddings e ON t.doc_id = e.vec_id, q
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "tag_filter_search" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE lang = 'en' AND source IN ('src0','src1','src2')
        |  AND n_chars BETWEEN 100 AND 400
        |ORDER BY n_chars DESC, doc_id LIMIT 20""".stripMargin,
    "fts_bm25" ->
      s"""WITH base AS (SELECT doc_id, len($duckTok)::DOUBLE AS dl,
         |    len(list_filter($duckTok, t -> t = 'data'))::DOUBLE AS tf0,
         |    len(list_filter($duckTok, t -> t = 'query'))::DOUBLE AS tf1,
         |    len(list_filter($duckTok, t -> t = 'table'))::DOUBLE AS tf2
         |  FROM documents),
         |stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl,
         |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df0,
         |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1,
         |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df2
         |  FROM base)
         |SELECT doc_id, round(
         |    ln((n_docs - df0 + 0.5) / (df0 + 0.5) + 1) * (tf0 * 2.2)
         |      / (tf0 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
         |  + ln((n_docs - df1 + 0.5) / (df1 + 0.5) + 1) * (tf1 * 2.2)
         |      / (tf1 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
         |  + ln((n_docs - df2 + 0.5) / (df2 + 0.5) + 1) * (tf2 * 2.2)
         |      / (tf2 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 4) AS score
         |FROM base, stats
         |WHERE score > 0
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "fts_fuzzy" ->
      s"""SELECT doc_id,
         |  len(list_filter($duckTok, t -> levenshtein(t, 'querry') <= 1)) AS score
         |FROM documents
         |WHERE score > 0
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // 1-based DuckDB positions vs 0-based Spark — the pairwise gap
    // differences cancel the offset, so both engines agree exactly
    "fts_near" ->
      s"""WITH tok AS (SELECT doc_id, $duckTok AS ts FROM documents),
         |pos AS (SELECT doc_id,
         |    list_filter(range(1, len(ts) + 1), i -> ts[i] = 'data') AS pa,
         |    list_filter(range(1, len(ts) + 1), i -> ts[i] = 'query') AS pb
         |  FROM tok),
         |gap AS (SELECT doc_id,
         |    list_min(flatten(list_transform(pa,
         |      p1 -> list_transform(pb, p2 -> abs(p1 - p2) - 1)))) AS min_gap
         |  FROM pos WHERE len(pa) > 0 AND len(pb) > 0)
         |SELECT doc_id, min_gap FROM gap WHERE min_gap <= 6
         |ORDER BY min_gap, doc_id LIMIT 20""".stripMargin,
    // phrase operand: consecutive-token start positions; span runs from
    // the END of the earlier occurrence (its token length enters the
    // arithmetic) to the START of the later one
    "fts_near_phrase" ->
      s"""WITH tok AS (SELECT doc_id, $duckTok AS ts FROM documents),
         |pos AS (SELECT doc_id,
         |    list_filter(range(1, len(ts)),
         |      i -> ts[i] = 'data' AND ts[i+1] = 'query') AS pa,
         |    list_filter(range(1, len(ts) + 1), i -> ts[i] = 'table') AS pb
         |  FROM tok),
         |gap AS (SELECT doc_id,
         |    list_min(flatten(list_transform(pa, p1 -> list_transform(pb,
         |      p2 -> CASE WHEN p1 <= p2 THEN p2 - p1 - 2
         |                 ELSE p1 - p2 - 1 END)))) AS min_gap
         |  FROM pos WHERE len(pa) > 0 AND len(pb) > 0)
         |SELECT doc_id, min_gap FROM gap WHERE min_gap <= 6
         |ORDER BY min_gap, doc_id LIMIT 20""".stripMargin,
    "fts_boolean" ->
      s"""WITH d AS (SELECT doc_id, lang, lower(text) AS lt, $duckTok AS ts
         |           FROM documents)
         |SELECT doc_id, len(list_filter(ts, t -> t = 'data')) AS score
         |FROM d
         |WHERE lang = 'en' AND list_contains(ts, 'data')
         |  AND (contains(lt, 'hash join')
         |       OR len(list_filter(ts, t -> t LIKE 'vec%')) > 0)
         |  AND NOT list_contains(ts, 'slow')
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "fts_search_page" ->
      s"""WITH base AS (SELECT doc_id, lang, n_chars, text, len($duckTok)::DOUBLE AS dl,
         |    len(list_filter($duckTok, t -> t = 'data'))::DOUBLE AS tf0,
         |    len(list_filter($duckTok, t -> t = 'query'))::DOUBLE AS tf1,
         |    len(list_filter($duckTok, t -> t = 'table'))::DOUBLE AS tf2
         |  FROM documents),
         |stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl,
         |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df0,
         |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1,
         |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df2
         |  FROM base)
         |SELECT doc_id, lang, n_chars, round(
         |    ln((n_docs - df0 + 0.5) / (df0 + 0.5) + 1) * (tf0 * 2.2)
         |      / (tf0 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
         |  + ln((n_docs - df1 + 0.5) / (df1 + 0.5) + 1) * (tf1 * 2.2)
         |      / (tf1 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
         |  + ln((n_docs - df2 + 0.5) / (df2 + 0.5) + 1) * (tf2 * 2.2)
         |      / (tf2 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 4) AS score,
         |  (CASE WHEN greatest(instr(lower(text), 'data') - 20, 1) > 1
         |        THEN '...' ELSE '' END) ||
         |  regexp_replace(
         |    substr(text, greatest(instr(lower(text), 'data') - 20, 1), 60),
         |    '(?i)\\bdata\\b', '<mark>\\0</mark>', 'g') ||
         |  (CASE WHEN length(text) >=
         |          greatest(instr(lower(text), 'data') - 20, 1) + 60
         |        THEN '...' ELSE '' END) AS snippet
         |FROM base, stats
         |WHERE lang = 'en' AND tf0 > 0 AND tf1 > 0
         |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,
    // \0 is RE2's whole-match backreference (Spark side uses Java's $0);
    // 'g' matches Spark's replace-all default
    "fts_snippet" ->
      """WITH w AS (SELECT doc_id, text, instr(lower(text), 'data query') AS hp
        |  FROM documents WHERE contains(lower(text), 'data query')),
        |s AS (SELECT doc_id, hp, greatest(hp - 20, 1) AS st, length(text) AS n,
        |  substr(text, greatest(hp - 20, 1), 60) AS win FROM w)
        |SELECT doc_id, hp AS hit_pos,
        |  (CASE WHEN st > 1 THEN '...' ELSE '' END) ||
        |  regexp_replace(win, '(?i)\bdata query\b', '<mark>\0</mark>', 'g') ||
        |  (CASE WHEN n >= st + 60 THEN '...' ELSE '' END) AS snippet
        |FROM s ORDER BY doc_id LIMIT 20""".stripMargin,
    "fts_wildcard" ->
      s"""SELECT doc_id,
         |  len(list_filter($duckTok, t -> t LIKE 'dat%')) AS score
         |FROM documents
         |WHERE score > 0
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "vec_knn_min_score" ->
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS q_emb FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, round(${duckCos("embedding::DOUBLE[]", "q_emb")}, 4) AS score
         |FROM embeddings, q WHERE vec_id <> 0 AND score >= 0.25
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
    "vec_knn_filtered" ->
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS q_emb FROM embeddings WHERE vec_id = 0),
         |fetched AS (
         |  SELECT vec_id, label, round(${duckCos("embedding::DOUBLE[]", "q_emb")}, 4) AS score
         |  FROM embeddings, q WHERE vec_id <> 0
         |  ORDER BY score DESC, vec_id LIMIT 20)
         |SELECT vec_id, label, score FROM fetched
         |WHERE label % 2 = 1
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
    // +0.5-floor quantization (not round(): half-tie behavior differs
    // across engines); expression order mirrors the Spark side so IEEE
    // doubles agree bit-for-bit
    // lockstep with SearchOps.vecKnnJoinAnn over DedupOps.embBands:
    // the hyperplanes are md5-derived ((md5("seed_p_d")[:15hex] % 2001
    // - 1000)/1000 — engine-reproducible by construction), signatures
    // fold sign bits MSB-first per census-width band, candidates share a
    // (band, label, sig) bucket, verify = exact cosine, top-3 per query
    // by (score DESC, b_id) — TopKAgg's eval order
    "vec_knn_join_ann" -> {
      // sc streams one scored row per (pair, colliding band) straight out
      // of the sv self-join — no DISTINCT, no join-back (the sv rationale
      // in duckEmbBandCtes); duckTop3 absorbs the per-band duplicates
      s"""WITH ${duckEmbBandCtes(materialize = false)},
         |sc AS (SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
         |    round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 4)
         |      AS score
         |  FROM sv a JOIN sv b ON a.band = b.band AND a.label = b.label
         |    AND a.sig = b.sig AND a.vec_id <> b.vec_id),
         |${duckTop3("sc", routed = false)}""".stripMargin
    },
    // lockstep with SearchOps.vecKnnPq (ADC over the generated PQ chain:
    // per-subspace query·centroid LUT, approx sum in fixed m order —
    // the nested parenthesis chain mirrors Spark's left-fold reduce —
    // top-PqRerank cut, exact cosine re-rank)
    "vec_knn_pq" -> {
      import operators.SearchOps.{PqM, PqSub, PqRerank}
      val wide = (0 until PqM).map(m =>
        s"    max(CASE WHEN ca.m = $m THEN l.qd END) AS q$m").mkString(",\n")
      val foldSum = (1 until PqM).foldLeft("q0")((acc, m) => s"($acc+q$m)")
      s"""WITH $duckPqCtes,
         |qs AS (SELECT t.m, v[t.m*$PqSub+1 : t.m*$PqSub+$PqSub] AS sv
         |  FROM nrm CROSS JOIN range($PqM) t(m) WHERE vec_id = 0),
         |lut AS (SELECT p.m, p.cluster,
         |    list_sum(list_transform(range($PqSub),
         |      i -> qs.sv[i+1]*p.c[i+1])) AS qd
         |  FROM pc${operators.SearchOps.PqIters} p JOIN qs USING (m)),
         |apw AS (SELECT ca.vec_id,
         |$wide
         |  FROM ca JOIN lut l ON ca.m = l.m AND ca.cluster = l.cluster
         |  WHERE ca.vec_id <> 0 GROUP BY ca.vec_id),
         |top AS (SELECT vec_id, $foldSum AS approx_score
         |  FROM apw ORDER BY approx_score DESC, vec_id LIMIT $PqRerank),
         |q AS (SELECT embedding::DOUBLE[] AS q_emb FROM embeddings
         |  WHERE vec_id = 0)
         |SELECT emb.vec_id,
         |  round(${duckCos("emb.embedding::DOUBLE[]", "q.q_emb")}, 4) AS score
         |FROM embeddings emb JOIN top USING (vec_id) CROSS JOIN q
         |ORDER BY score DESC, emb.vec_id LIMIT 10""".stripMargin
    },
    "vec_quantize_int8" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
        |q AS (SELECT vec_id, mx, list_transform(v, x ->
        |    CASE WHEN mx = 0 THEN 0
        |         ELSE floor(x * 127.0 / mx + 0.5)::BIGINT END) AS qs
        |  FROM m)
        |SELECT vec_id, round(mx / 127.0, 6) AS scale,
        |  md5(array_to_string(qs, ',')) AS q_md5,
        |  list_sum(list_transform(qs, x -> abs(x)))::BIGINT AS q_l1
        |FROM q""".stripMargin,
    "graph_path" ->
      """WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem)
        |SELECT a.src AS a_id, b.src AS b_id, count(DISTINCT a.dst) AS n_paths
        |FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
        |WHERE a.src < 10 AND b.src < 10
        |GROUP BY 1, 2""".stripMargin,
    // MUST stay in lockstep with PatternOps.SymbolKinds; 1-based DuckDB
    // positions match the operator's pos = 0-based keyword index + 1
    "symbols_extract" ->
      s"""WITH tok AS (SELECT doc_id, $duckTok AS ts FROM documents),
         |t AS (SELECT doc_id, ts, unnest(list_filter(range(1, len(ts)),
         |    i -> ts[i] = 'table')) AS i FROM tok),
         |q AS (SELECT doc_id, ts, unnest(list_filter(range(1, len(ts)),
         |    i -> ts[i] = 'query')) AS i FROM tok),
         |s AS (SELECT doc_id, ts, unnest(list_filter(range(1, len(ts)),
         |    i -> ts[i] = 'stream')) AS i FROM tok)
         |SELECT doc_id, ts[i+1] AS symbol, 'type' AS kind, i AS pos FROM t
         |UNION ALL SELECT doc_id, ts[i+1], 'function', i FROM q
         |UNION ALL SELECT doc_id, ts[i+1], 'stream', i FROM s""".stripMargin,
    // lockstep with PatternOps.symbolsFormat (formatter.go FormatSymbols
    // analogue): per-kind entry blocks ordered by pos, kind blocks in
    // import→type→function→stream rank order, import count as a header
    "symbols_format" -> {
      val kindEdges = Seq("table" -> "type", "query" -> "function",
        "stream" -> "stream", "batch" -> "import").map { case (kw, kind) =>
        s"""SELECT doc_id, ts[i+1] AS symbol, '$kind' AS kind, i AS pos
           |  FROM (SELECT doc_id, ts, unnest(list_filter(range(1, len(ts)),
           |    i -> ts[i] = '$kw')) AS i FROM tok)""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH tok AS (SELECT doc_id, $duckTok AS ts FROM documents),
         |d AS ($kindEdges),
         |blocks AS (SELECT doc_id, kind, count(*) AS n,
         |    string_agg('  - ' || symbol || ' (tok ' || pos || ')',
         |      chr(10) ORDER BY pos, symbol) AS body
         |  FROM d GROUP BY 1, 2),
         |bt AS (SELECT doc_id, n,
         |    CASE kind WHEN 'import' THEN 0 WHEN 'type' THEN 1
         |      WHEN 'function' THEN 2 ELSE 3 END AS rk,
         |    CASE WHEN kind = 'import'
         |      THEN 'Imports: ' || n || ' packages'
         |      ELSE (CASE kind WHEN 'type' THEN 'Types:'
         |        WHEN 'function' THEN 'Functions:' ELSE 'Streams:' END)
         |        || chr(10) || body END AS block
         |  FROM blocks)
         |SELECT doc_id,
         |  string_agg(block, chr(10) || chr(10) ORDER BY rk) AS chunk_text,
         |  sum(n)::BIGINT AS n_entries
         |FROM bt GROUP BY 1""".stripMargin
    },
    // lockstep with GraphOps.graphContext (context.go ExtractContext
    // analogue): ±5-token window around each (keyword, symbol) pair,
    // 1-based inclusive list slice on both engines
    "graph_context" -> {
      val kindEdges = Seq("table" -> "type", "query" -> "function",
        "stream" -> "stream").map { case (kw, kind) =>
        s"""SELECT doc_id, ts, ts[i+1] AS symbol, '$kind' AS kind, i AS pos
           |  FROM (SELECT doc_id, ts, unnest(list_filter(range(1, len(ts)),
           |    i -> ts[i] = '$kw')) AS i FROM tok)""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH tok AS (SELECT doc_id, $duckTok AS ts FROM documents),
         |d AS ($kindEdges)
         |SELECT doc_id, symbol, kind, pos,
         |  '// toks ' || greatest(pos - 5, 1) || '-' || least(pos + 6, len(ts))
         |    || chr(10) ||
         |    array_to_string(ts[greatest(pos - 5, 1):least(pos + 6, len(ts))], ' ')
         |    AS snippet
         |FROM d""".stripMargin
    },
    // lockstep with GraphOps.graphUpdateIncremental: same snapshot
    // convention as change_detect, carried/refreshed/deleted delta over
    // the symbols_extract edge relation
    "graph_update_incremental" -> {
      def edges(tokCte: String) = Seq("table" -> "type",
        "query" -> "function", "stream" -> "stream").map { case (kw, kind) =>
        s"""SELECT doc_id, ts[i+1] AS symbol, '$kind' AS kind, i AS pos
           |  FROM (SELECT doc_id, ts, unnest(list_filter(range(1, len(ts)),
           |    i -> ts[i] = '$kw')) AS i FROM $tokCte)""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH neu AS (SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 7 <> 0),
         |st AS (SELECT o.doc_id,
         |    CASE WHEN n.doc_id IS NULL THEN 'deleted'
         |         WHEN md5(n.text) <> md5(o.text) THEN 'changed'
         |         ELSE 'unchanged' END AS status
         |  FROM documents o LEFT JOIN neu n USING (doc_id)),
         |tokold AS (SELECT doc_id, $duckTok AS ts FROM documents),
         |toknew AS (SELECT doc_id, $duckTok AS ts FROM neu
         |  WHERE doc_id IN (SELECT doc_id FROM st WHERE status = 'changed')),
         |eo AS (${edges("tokold")}),
         |en AS (${edges("toknew")})
         |SELECT eo.doc_id AS doc_id, symbol, kind, pos, 'carried' AS action
         |  FROM eo JOIN st ON st.doc_id = eo.doc_id AND st.status = 'unchanged'
         |UNION ALL SELECT en.doc_id, symbol, kind, pos, 'refreshed' FROM en
         |UNION ALL SELECT eo.doc_id, symbol, kind, pos, 'deleted'
         |  FROM eo JOIN st ON st.doc_id = eo.doc_id AND st.status = 'deleted'""".stripMargin
    },
    // lockstep with GraphOps.graphIfaceMatch (interface_matcher.go
    // analogue): seed-stride interfaces, min-doc embed resolution,
    // depth-6 flattening closure, division via match-count equality,
    // empty interfaces as one (-1, '*') wildcard row each
    "graph_iface_match" -> {
      val stride = graft.operators.GraphOps.IfaceSeedStride
      val depth = graft.operators.GraphOps.EmbedMaxDepth
      s"""WITH tok AS (SELECT doc_id, $duckTok AS ts FROM documents),
         |ktok AS (SELECT doc_id, ts, list_filter(range(1, len(ts) + 1),
         |    j -> list_contains(['query','table','batch','stream'], ts[j])) AS kpos
         |  FROM tok),
         |d AS (
         |  SELECT doc_id, ts[i+1] AS symbol, 'type' AS kind
         |    FROM (SELECT doc_id, ts, unnest(list_filter(range(1, len(ts)),
         |      i -> ts[i] = 'table')) AS i FROM tok)
         |  UNION ALL SELECT doc_id, ts[i+1], 'stream'
         |    FROM (SELECT doc_id, ts, unnest(list_filter(range(1, len(ts)),
         |      i -> ts[i] = 'stream')) AS i FROM tok)
         |  UNION ALL SELECT doc_id, ts[i+1], 'import'
         |    FROM (SELECT doc_id, ts, unnest(list_filter(range(1, len(ts)),
         |      i -> ts[i] = 'batch')) AS i FROM tok)),
         |meth0 AS (SELECT doc_id, ts[i+1] AS m, i,
         |    coalesce(list_min(list_filter(kpos, j -> j > i + 1)), len(ts) + 1)
         |      - (i + 1) - 1 AS ar
         |  FROM (SELECT doc_id, ts, kpos, unnest(list_filter(range(1, len(ts)),
         |    i -> ts[i] = 'query')) AS i FROM ktok)),
         |meth AS (SELECT doc_id, m || ':' || ar AS sig FROM (
         |    SELECT doc_id, m, ar, row_number() OVER (
         |      PARTITION BY doc_id, m ORDER BY i DESC) AS rk FROM meth0)
         |  WHERE rk = 1),
         |ifaces AS (SELECT DISTINCT doc_id, symbol FROM d
         |  WHERE kind = 'stream' AND doc_id % $stride = 0),
         |imp AS (SELECT DISTINCT doc_id, symbol AS tgt FROM d WHERE kind = 'import'),
         |tmin AS (SELECT symbol AS tgt, min(doc_id) AS dst_doc FROM ifaces GROUP BY 1),
         |embed AS (SELECT i.doc_id AS src_doc, i.symbol AS src_sym,
         |    t.dst_doc, t.tgt AS dst_sym
         |  FROM ifaces i JOIN imp ON imp.doc_id = i.doc_id
         |  JOIN tmin t ON t.tgt = imp.tgt AND t.dst_doc <> i.doc_id),
         |reach AS (
         |  WITH RECURSIVE r(root_doc, root_sym, doc_id, symbol, depth) AS (
         |    SELECT doc_id, symbol, doc_id, symbol, 0 FROM ifaces
         |    UNION
         |    SELECT r.root_doc, r.root_sym, e.dst_doc, e.dst_sym, r.depth + 1
         |    FROM r JOIN embed e ON e.src_doc = r.doc_id AND e.src_sym = r.symbol
         |    WHERE r.depth < $depth)
         |  SELECT DISTINCT root_doc, root_sym, doc_id, depth FROM r),
         |resolved AS (SELECT iface_doc, iface_symbol, sig FROM (
         |    SELECT r.root_doc AS iface_doc, r.root_sym AS iface_symbol, m.sig,
         |      row_number() OVER (PARTITION BY r.root_doc, r.root_sym,
         |          split_part(m.sig, ':', 1)
         |        ORDER BY r.depth, r.doc_id, m.sig) AS rk
         |    FROM reach r JOIN meth m ON m.doc_id = r.doc_id)
         |  WHERE rk = 1),
         |rn AS (SELECT iface_doc, iface_symbol, count(*) AS n_m
         |  FROM resolved GROUP BY 1, 2),
         |types AS (SELECT DISTINCT doc_id, symbol FROM d WHERE kind = 'type'),
         |hits AS (SELECT m.doc_id, v.iface_doc, v.iface_symbol, count(*) AS n_hit
         |  FROM resolved v JOIN meth m ON m.sig = v.sig GROUP BY 1, 2, 3)
         |SELECT t.doc_id AS type_doc, t.symbol AS type_symbol,
         |    h.iface_doc, h.iface_symbol, rn.n_m::BIGINT AS n_methods
         |  FROM hits h JOIN rn USING (iface_doc, iface_symbol)
         |  JOIN types t ON t.doc_id = h.doc_id
         |  WHERE h.n_hit = rn.n_m
         |UNION ALL SELECT -1, '*', i.doc_id, i.symbol, 0 FROM ifaces i
         |  LEFT JOIN rn ON rn.iface_doc = i.doc_id AND rn.iface_symbol = i.symbol
         |  WHERE rn.n_m IS NULL""".stripMargin
    },
    "pattern_search" -> {
      // MUST stay in lockstep with PatternOps.patternSearch's template
      val r = "(?:^|[^a-z0-9])(hash[^a-z0-9]+([a-z0-9]+)[^a-z0-9]+join)\\b"
      s"""WITH m AS (SELECT doc_id, lower(text) AS lt FROM documents),
         |x AS (SELECT doc_id, lt,
         |    regexp_extract(lt, '$r', 1) AS match_text,
         |    regexp_extract(lt, '$r', 2) AS kind,
         |    len(regexp_extract_all(lt, '$r', 1)) AS n_matches
         |  FROM m)
         |SELECT doc_id, instr(lt, match_text) AS hit_pos, match_text, kind, n_matches
         |FROM x WHERE match_text <> ''
         |ORDER BY n_matches DESC, doc_id LIMIT 20""".stripMargin
    },
    "pattern_search_all" -> {
      // MUST stay in lockstep with PatternOps.patternSearchAll's template
      val r = "(?:^|[^a-z0-9])(hash[^a-z0-9]+([a-z0-9]+)[^a-z0-9]+join)\\b"
      s"""WITH m AS (SELECT doc_id, lower(text) AS lt FROM documents),
         |x AS (SELECT doc_id,
         |    regexp_extract_all(lt, '$r', 1) AS ms,
         |    regexp_extract_all(lt, '$r', 2) AS ks
         |  FROM m)
         |SELECT doc_id, u.i - 1 AS match_idx, ms[u.i] AS match_text, ks[u.i] AS kind
         |FROM x CROSS JOIN unnest(range(1, len(ms) + 1)) AS u(i)""".stripMargin
    },
    "pattern_search_gap" -> {
      // MUST stay in lockstep with PatternOps.patternSearchGap's template
      val r = "(?:^|[^a-z0-9])(hash[^a-z0-9]+(?:[a-z0-9]+[^a-z0-9]+)*?join)\\b"
      s"""WITH m AS (SELECT doc_id, lower(text) AS lt FROM documents),
         |x AS (SELECT doc_id, lt,
         |    regexp_extract(lt, '$r', 1) AS match_text,
         |    len(regexp_extract_all(lt, '$r', 1)) AS n_matches
         |  FROM m)
         |SELECT doc_id, instr(lt, match_text) AS hit_pos, match_text, n_matches
         |FROM x WHERE match_text <> ''
         |ORDER BY n_matches DESC, doc_id LIMIT 20""".stripMargin
    },
    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, count(*) AS n_dups, min(doc_id) AS min_doc_id
        |FROM documents GROUP BY 1 HAVING count(*) >= 2""".stripMargin,
    // candidates via the SAME lossless rarest-first prefix filter the
    // Spark side uses (Bayardo et al., WWW 2007): index each doc's first
    // n − ceil(τ·n) + 1 shingles in global-df order; any jac ≥ τ pair
    // must collide inside both prefixes, so prefix collisions within a
    // (lang, lb) block are a SUPERSET of the answer and the exact
    // verify yields the identical pair set — without the all-pairs
    // block join that went quadratic at the sf1 stress corpus
    "dedup_ngram_jaccard" ->
      s"""WITH $duckNg,
         |inv AS MATERIALIZED (SELECT lang, lb, doc_id, len(gs) AS n,
         |    unnest(gs) AS g FROM ng),
         |gdf AS (SELECT g, count(*) AS df FROM inv GROUP BY g),
         |pref AS (SELECT * FROM (SELECT inv.*, row_number() OVER (
         |      PARTITION BY doc_id ORDER BY gdf.df, inv.g) AS rk
         |    FROM inv JOIN gdf USING (g))
         |  WHERE rk <= n - ceil(n * 0.5) + 1),
         |cand AS (SELECT DISTINCT p.doc_id AS a_id, q.doc_id AS b_id
         |  FROM pref p JOIN pref q ON p.g = q.g AND p.lang = q.lang
         |    AND p.lb = q.lb AND p.doc_id < q.doc_id),
         |v0 AS (SELECT c.a_id, c.b_id,
         |    len(list_intersect(x.gs, y.gs)) AS inter,
         |    len(x.gs) + len(y.gs) AS tot
         |  FROM cand c JOIN ng x ON x.doc_id = c.a_id
         |    JOIN ng y ON y.doc_id = c.b_id)
         |SELECT a_id, b_id, jac FROM (SELECT a_id, b_id,
         |    round(inter::DOUBLE / greatest(tot - inter, 1), 4) AS jac
         |  FROM v0)
         |WHERE jac >= 0.5""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH $duckNg,
         |h AS (SELECT doc_id, g % 2147483647 AS hv
         |      FROM ng, unnest(gs) AS u(g)),
         |hi AS (SELECT doc_id, hv, ix.i AS i
         |       FROM h CROSS JOIN unnest(range(0, 16)) AS ix(i)),
         |minh AS (SELECT doc_id, i,
         |    min(((i*2+1)*hv + (i*12345+7)) % 2147483647) AS mh
         |  FROM hi GROUP BY 1, 2),
         |bands AS (SELECT doc_id, (i // 2) AS band,
         |    concat(sum(CASE WHEN i % 2 = 0 THEN mh END), '_',
         |           sum(CASE WHEN i % 2 = 1 THEN mh END)) AS sig
         |  FROM minh GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT p.doc_id AS a_id, q.doc_id AS b_id
         |  FROM bands p JOIN bands q ON p.band = q.band AND p.sig = q.sig
         |    AND p.doc_id < q.doc_id)
         |SELECT a_id, b_id, $duckJac AS jac
         |FROM cand JOIN ng x ON cand.a_id = x.doc_id
         |  JOIN ng y ON cand.b_id = y.doc_id
         |WHERE jac >= 0.5""".stripMargin,
    // the incremental split constants come from DedupOps (the WinnowDfCap
    // drift lesson); a_id is always the NEW-batch doc, b_id the corpus doc
    "dedup_incremental" ->
      s"""WITH $duckNg,
         |h AS (SELECT doc_id, g % 2147483647 AS hv
         |      FROM ng, unnest(gs) AS u(g)),
         |hi AS (SELECT doc_id, hv, ix.i AS i
         |       FROM h CROSS JOIN unnest(range(0, 16)) AS ix(i)),
         |minh AS (SELECT doc_id, i,
         |    min(((i*2+1)*hv + (i*12345+7)) % 2147483647) AS mh
         |  FROM hi GROUP BY 1, 2),
         |bands AS (SELECT doc_id, (i // 2) AS band,
         |    concat(sum(CASE WHEN i % 2 = 0 THEN mh END), '_',
         |           sum(CASE WHEN i % 2 = 1 THEN mh END)) AS sig
         |  FROM minh GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT p.doc_id AS a_id, q.doc_id AS b_id
         |  FROM bands p JOIN bands q ON p.band = q.band AND p.sig = q.sig
         |    AND p.doc_id % ${DedupOps.IncrMod} = ${DedupOps.IncrRes}
         |    AND q.doc_id % ${DedupOps.IncrMod} <> ${DedupOps.IncrRes})
         |SELECT a_id, b_id, $duckJac AS jac
         |FROM cand JOIN ng x ON cand.a_id = x.doc_id
         |  JOIN ng y ON cand.b_id = y.doc_id
         |WHERE jac >= 0.5""".stripMargin,
    "dedup_simhash" -> duckSimhashSel,
    "dedup_clusters" -> duckClustersSel,
    // replays the banded-LSH spec (candidates from first-band collisions
    // within the cell, cosine-verified), NOT all pairs: the operator's
    // contract is the deterministic Charikar banding, whose recall at
    // the threshold is high but sub-1 — see duckEmbBandCtes
    // candidates are scored INSIDE the band self-join (vectors ride sv's
    // band rows) and deduped only after the threshold filter has cut the
    // stream to result-bounded size — see the sv rationale in
    // duckEmbBandCtes for why the DISTINCT-then-join-back shape dies
    "dedup_embedding" ->
      s"""WITH ${duckEmbBandCtes()},
         |hits AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 4)
         |      AS score
         |  FROM sv a JOIN sv b ON a.band = b.band AND a.label = b.label
         |    AND a.sig = b.sig AND a.vec_id < b.vec_id)
         |SELECT DISTINCT a_id, b_id, score FROM hits
         |WHERE score >= ${operators.DedupOps.EmbTau}""".stripMargin,
    "dedup_winnow" ->
      s"""WITH $duckWinnow,
         |s AS (SELECT doc_id, list_sort(list_distinct(mins)) AS sel FROM winn
         |      WHERE len(mins) > 0),
         |inv0 AS (SELECT doc_id, unnest(sel) AS fp FROM s),
         |hot AS (SELECT fp FROM inv0 GROUP BY fp
         |        HAVING count(*) > ${operators.DedupOps.WinnowDfCap}),
         |inv AS (SELECT doc_id, fp FROM inv0
         |        WHERE fp NOT IN (SELECT fp FROM hot)),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM inv a JOIN inv b ON a.fp = b.fp AND a.doc_id < b.doc_id)
         |SELECT a_id, b_id, round(len(list_intersect(x.sel, y.sel))::DOUBLE /
         |    greatest(least(len(x.sel), len(y.sel)), 1), 4) AS containment
         |FROM cand JOIN s x ON cand.a_id = x.doc_id JOIN s y ON cand.b_id = y.doc_id
         |WHERE containment >= 0.5""".stripMargin,
    "text_langid" -> oracleSqlTextLangid,
    "corpus_curate" -> {
      val qsel = oracleSqlTextQuality
      val lsel = oracleSqlTextLangid
      s"""WITH qsel AS ($qsel),
         |lsel AS ($lsel),
         |cl AS ($duckClustersSel),
         |passed AS (SELECT q.doc_id, q.quality, l.pred_lang
         |  FROM qsel q JOIN lsel l ON q.doc_id = l.doc_id
         |  WHERE l.pred_lang = 'en' AND q.quality >= 0.5),
         |pc AS (SELECT p.doc_id, cl.cluster_id
         |       FROM passed p JOIN cl ON p.doc_id = cl.doc_id),
         |keepers AS (SELECT min(doc_id) AS doc_id FROM pc GROUP BY cluster_id)
         |SELECT p.doc_id, p.quality, p.pred_lang FROM passed p
         |WHERE p.doc_id NOT IN (SELECT doc_id FROM pc)
         |   OR p.doc_id IN (SELECT doc_id FROM keepers)""".stripMargin
    },
    "text_quality" -> oracleSqlTextQuality,
    "text_tokens" ->
      s"""SELECT doc_id, len($duckTok) AS n_tokens,
         |  len(list_distinct($duckTok)) AS n_unique,
         |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpeish
         |FROM documents""".stripMargin,
    "text_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct($duckTok)), ' ')) AS fp
         |FROM documents""".stripMargin,
    "text_winnow" ->
      s"""WITH $duckWinnow,
         |s AS (SELECT doc_id, list_sort(list_distinct(mins)) AS sel FROM winn)
         |SELECT doc_id, len(sel) AS n_fps,
         |  md5(array_to_string(sel, ',')) AS fp_digest
         |FROM s""".stripMargin,
    // lockstep with TextOps.bpeTrainRounds (BpeMerges rounds, greedy
    // left-to-right non-overlapping merge application, argmax tiebreak
    // (freq DESC, pa, pb)) — the reduce over singleton lists IS the
    // trainer's fold, so the two engines can never drift on merge
    // semantics
    "text_bpe_train" ->
      s"""WITH $duckBpeTrainCtes
         |${(1 to TextOps.BpeMerges).map(k =>
             s"SELECT $k AS rank, pa || ' ' || pb AS pair, freq::BIGINT AS freq FROM b$k")
             .mkString("\nUNION ALL\n")}
         |ORDER BY rank""".stripMargin,
    // applies the SAME trained rules in rank order, one fold pass each,
    // over the DISTINCT-word vocabulary (merges never cross the \n word
    // boundary, so per-word application equals the document-string
    // regex chain), then joins counts back per doc occurrence
    "text_bpe_apply" ->
      s"""WITH $duckBpeTrainCtes,
         |dw AS (SELECT doc_id, unnest($duckTok) AS w FROM documents),
         |a0 AS (SELECT DISTINCT w, regexp_extract_all(w, '.') AS syms FROM dw),
         |${(1 to TextOps.BpeMerges).map(k =>
             s"""a$k AS (SELECT w, CASE WHEN length(syms) <= 1 THEN syms ELSE
                |    list_reduce(list_transform(syms, s -> [s]), (acc, x) ->
                |      CASE WHEN acc[-1] = b$k.pa AND x[1] = b$k.pb
                |        THEN list_concat(acc[1:length(acc)-1], [b$k.pa || b$k.pb])
                |        ELSE list_concat(acc, x) END) END AS syms
                |  FROM a${k - 1}, b$k)""".stripMargin).mkString(",\n")},
         |wl AS (SELECT w, length(w) AS nsw, length(syms) AS nbw
         |  FROM a${TextOps.BpeMerges}),
         |agg AS (SELECT dw.doc_id, sum(wl.nsw) AS n_sym, sum(wl.nbw) AS n_bpe
         |  FROM dw JOIN wl USING (w) GROUP BY 1)
         |SELECT d.doc_id, coalesce(agg.n_sym, 0)::INT AS n_sym,
         |  coalesce(agg.n_bpe, 0)::INT AS n_bpe
         |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin,
    "chunk_documents" ->
      s"""WITH tok AS (SELECT doc_id, $duckTok AS ts FROM documents)
         |SELECT doc_id, (u.s - 1) // 15 AS chunk_idx,
         |  len(list_slice(ts, u.s, u.s + 19)) AS n_chunk_tokens,
         |  array_to_string(list_slice(ts, u.s, u.s + 19), ' ') AS chunk_text
         |FROM tok CROSS JOIN unnest(range(1, greatest(len(ts), 1) + 1, 15)) AS u(s)""".stripMargin,
    "chunk_structured" ->
      s"""WITH tok AS (SELECT doc_id, $duckTok AS ts FROM documents),
         |ln AS (SELECT doc_id, u.j AS j,
         |    len(list_slice(ts, u.j*10 + 1, u.j*10 + 10))::BIGINT AS n
         |  FROM tok CROSS JOIN
         |    unnest(range(0, greatest(ceil(len(ts)/10.0)::BIGINT, 1))) AS u(j)
         |  WHERE len(list_slice(ts, u.j*10 + 1, u.j*10 + 10)) > 0),
         |base AS (SELECT doc_id, j, n, j // 7 AS section_idx,
         |    CASE WHEN j % 7 = 0 THEN 0 WHEN j % 7 <= 2 THEN 1
         |         WHEN j % 7 <= 4 THEN 2 WHEN j % 7 = 5 THEN 3
         |         ELSE 4 END AS para_id,
         |    CASE WHEN j % 7 IN (3, 4) THEN 1 ELSE 0 END AS is_code,
         |    j*10 + 1 AS start_tok
         |  FROM ln),
         |w AS (SELECT *, coalesce(sum(n) OVER (
         |    PARTITION BY doc_id, section_idx ORDER BY j
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM base),
         |p AS (SELECT *, min(cum_before) OVER (
         |    PARTITION BY doc_id, section_idx, para_id) AS para_cum FROM w)
         |SELECT doc_id, section_idx, (para_cum // 25)::BIGINT AS chunk_idx,
         |  sum(n)::BIGINT AS n_tokens, min(start_tok) AS start_tok,
         |  max(start_tok + n - 1) AS end_tok, max(is_code)::BIGINT AS has_code
         |FROM p GROUP BY 1, 2, 3""".stripMargin,
    "change_detect" ->
      """WITH old AS (SELECT doc_id AS o_id, md5(text) AS o_hash FROM documents),
        |neu AS (SELECT doc_id AS n_id,
        |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END) AS n_hash
        |  FROM documents WHERE doc_id % 7 <> 0)
        |SELECT coalesce(o_id, n_id) AS doc_id,
        |  CASE WHEN o_id IS NULL THEN 'added' WHEN n_id IS NULL THEN 'deleted'
        |       WHEN o_hash <> n_hash THEN 'changed' ELSE 'unchanged' END AS status
        |FROM old FULL OUTER JOIN neu ON o_id = n_id
        |WHERE status <> 'unchanged'""".stripMargin,
    "doc_stats" ->
      """SELECT coalesce(source, 'ALL') AS source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars, round(avg(n_chars), 4) AS avg_chars,
        |  count(DISTINCT lang) AS n_langs
        |FROM documents GROUP BY ROLLUP (source)""".stripMargin,
    "mm_binary_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |  CASE WHEN doc_id % 3 = 0 THEN 'png' WHEN doc_id % 3 = 1 THEN 'jpeg'
        |       ELSE 'webp' END AS format,
        |  64 + (ascii(substr(text, 1, 1)) % 16) * 8 AS width,
        |  64 + (ascii(substr(text, 1, 1)) % 8) * 16 AS height
        |FROM documents""".stripMargin,
    "embed_stub" -> {
      val dims = (0 until 8).map { i =>
        s"(('0x' || substr(md5(text || '$i'), 1, 15))::BIGINT % 1000) / 1000.0 AS e$i"
      }.mkString(",\n  ")
      s"SELECT doc_id,\n  $dims\nFROM documents"
    },
    "embed_batches" ->
      s"""WITH $duckEmbedBatchCtes
         |SELECT doc_id, source, n_tokens,
         |  dense_rank() OVER (PARTITION BY source ORDER BY tokb, sub) AS batch_id,
         |  row_number() OVER (PARTITION BY source, tokb, sub
         |    ORDER BY doc_id) AS idx_in_batch
         |FROM s""".stripMargin,
    // lockstep with ChunkOps.embedSchedule (EmbedCooldownMs = 150,
    // batched.go:106); composes the shared embed-batch CTE chain
    "embed_schedule" ->
      s"""WITH $duckEmbedBatchCtes,
         |eb AS (SELECT source, n_tokens,
         |    dense_rank() OVER (PARTITION BY source ORDER BY tokb, sub)
         |      AS batch_id FROM s),
         |g AS (SELECT source, batch_id, count(*) AS n_docs,
         |    sum(n_tokens)::BIGINT AS n_batch_tokens
         |  FROM eb GROUP BY 1, 2)
         |SELECT source, batch_id, n_docs, n_batch_tokens,
         |  sum(n_docs) OVER (PARTITION BY source ORDER BY batch_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
         |    AS processed_docs,
         |  count(*) OVER (PARTITION BY source) AS total_batches,
         |  sum(n_docs) OVER (PARTITION BY source)::BIGINT AS total_docs,
         |  (batch_id - 1) * ${ChunkOps.EmbedCooldownMs} AS dispatch_ms
         |FROM g""".stripMargin,
    // lockstep with ChunkOps.embedRetries (RetryFailMod = 10,
    // RetryBackoffMs = 250, local.go:113-121's retry-on-failure loop);
    // composes the shared embed-batch CTE chain
    "embed_retries" ->
      s"""WITH $duckEmbedBatchCtes,
         |eb AS (SELECT source,
         |    dense_rank() OVER (PARTITION BY source ORDER BY tokb, sub)
         |      AS batch_id FROM s),
         |g AS (SELECT source, batch_id, count(*) AS n_docs FROM eb
         |  GROUP BY 1, 2),
         |f AS (SELECT source, batch_id,
         |    (batch_id - 1) * ${ChunkOps.EmbedCooldownMs} AS dispatch_ms,
         |    CASE ('0x' || substr(md5(source || '#' || batch_id::VARCHAR),
         |        1, 15))::BIGINT % ${ChunkOps.RetryFailMod}
         |      WHEN 0 THEN 2 WHEN 1 THEN 1 WHEN 2 THEN 1 ELSE 0 END
         |      AS n_fails
         |  FROM g)
         |SELECT source, batch_id, u.attempt_n, n_fails + 1 AS n_attempts,
         |  dispatch_ms + ((1 << (u.attempt_n - 1)) - 1)
         |    * ${ChunkOps.RetryBackoffMs} AS dispatch_at_ms,
         |  CASE WHEN u.attempt_n <= n_fails THEN 'failed' ELSE 'ok' END
         |    AS outcome
         |FROM f, unnest(range(1, n_fails + 2)) AS u(attempt_n)""".stripMargin,
    // lockstep with ChunkOps.watchReloadLog (ReloadRounds = 12,
    // ReloadFailMod = 8, ReloadBaseMs = 5; metrics.go:52 RecordReload's
    // duration/error/chunk-count ledger with running counters)
    "watch_reload_log" ->
      s"""WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst
         |    FROM lineitem),
         |r AS (SELECT (('0x' || substr(md5(src::VARCHAR || '#' ||
         |    dst::VARCHAR), 1, 15))::BIGINT % ${ChunkOps.ReloadRounds}) + 1
         |    AS reload_id FROM e),
         |g AS (SELECT reload_id, count(*) AS n_new_edges FROM r GROUP BY 1),
         |f AS (SELECT reload_id, n_new_edges,
         |    ('0x' || substr(md5('reload#' || reload_id::VARCHAR), 1, 15))
         |      ::BIGINT % ${ChunkOps.ReloadFailMod} = 0 AS failed
         |  FROM g)
         |SELECT reload_id, n_new_edges,
         |  (floor((n_new_edges + 9) / 10)::BIGINT + ${ChunkOps.ReloadBaseMs})
         |    * (CASE WHEN failed THEN 3 ELSE 1 END) AS duration_ms,
         |  CASE WHEN failed THEN 0 ELSE n_new_edges END AS n_chunks,
         |  CASE WHEN failed THEN 'reload failed: edge append aborted' END
         |    AS error,
         |  row_number() OVER w AS total_reloads,
         |  (sum(CASE WHEN failed THEN 0 ELSE 1 END) OVER w)::BIGINT
         |    AS successful_reloads,
         |  (sum(CASE WHEN failed THEN 1 ELSE 0 END) OVER w)::BIGINT
         |    AS failed_reloads
         |FROM f
         |WINDOW w AS (ORDER BY reload_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
    // lockstep with ChunkOps.indexEvict (EvictMaxAgeDays = 45,
    // EvictSizeFrac = 0.6, EvictProtected = src0/src1;
    // cache/eviction.go:39-127's three-reason cascade in closed form)
    "index_evict" ->
      s"""WITH meta AS (SELECT source,
         |    sum(n_chars)::BIGINT AS size_chars,
         |    ('0x' || substr(md5(source || '#access'), 1, 15))::BIGINT % 60
         |      AS age_days,
         |    (('0x' || substr(md5(source || '#branch'), 1, 15))::BIGINT % 7
         |      = 0) AS deleted,
         |    source IN ('src0', 'src1') AS protected
         |  FROM documents GROUP BY source),
         |tot AS (SELECT sum(size_chars)::BIGINT AS total_chars FROM meta),
         |cand AS (SELECT m.*, t.total_chars,
         |    coalesce(sum(size_chars) OVER (
         |      ORDER BY deleted DESC, age_days DESC, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cum_before,
         |    age_days > ${ChunkOps.EvictMaxAgeDays} AS stale
         |  FROM meta m CROSS JOIN tot t WHERE NOT protected),
         |v AS (SELECT source, size_chars, age_days, deleted, protected,
         |    (deleted OR stale OR over_budget) AS evict,
         |    CASE WHEN deleted THEN 'deleted' WHEN stale THEN 'stale'
         |      WHEN over_budget THEN 'size_budget' END AS reason
         |  FROM (SELECT *, (total_chars - cum_before)::DOUBLE >
         |      ${ChunkOps.EvictSizeFrac} * total_chars AS over_budget
         |    FROM cand))
         |SELECT * FROM v
         |UNION ALL
         |SELECT source, size_chars, age_days, deleted, protected,
         |  false AS evict, 'protected' AS reason
         |FROM meta WHERE protected""".stripMargin,
    "pipeline_incremental" ->
      s"""WITH neu AS (SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 7 <> 0),
         |old AS (SELECT doc_id AS o_id, md5(text) AS o_hash FROM documents),
         |chg AS (SELECT n.doc_id, n.text FROM neu n JOIN old o ON n.doc_id = o.o_id
         |        WHERE md5(n.text) <> o.o_hash),
         |tok AS (SELECT doc_id, $duckTok AS ts FROM chg)
         |SELECT doc_id, (u.s - 1) // 15 AS chunk_idx,
         |  md5(array_to_string(list_slice(ts, u.s, u.s + 19), ' ')) AS chunk_fp
         |FROM tok CROSS JOIN unnest(range(1, greatest(len(ts), 1) + 1, 15)) AS u(s)""".stripMargin,
    "branch_sync" ->
      s"""WITH old AS (SELECT doc_id AS o_id, md5(text) AS o_hash FROM documents),
         |neu AS (SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 7 <> 0),
         |st AS (SELECT coalesce(o.o_id, n.doc_id) AS doc_id,
         |    CASE WHEN o.o_id IS NULL THEN 'added'
         |         WHEN n.doc_id IS NULL THEN 'deleted'
         |         WHEN o.o_hash <> md5(n.text) THEN 'changed'
         |         ELSE 'unchanged' END AS status
         |  FROM old o FULL OUTER JOIN neu n ON o.o_id = n.doc_id),
         |oldtok AS (SELECT doc_id, $duckTok AS ts FROM documents),
         |oldchunks AS (SELECT doc_id, (u.s - 1) // 15 AS chunk_idx,
         |    md5(array_to_string(list_slice(ts, u.s, u.s + 19), ' ')) AS chunk_fp
         |  FROM oldtok CROSS JOIN unnest(range(1, greatest(len(ts), 1) + 1, 15)) AS u(s)),
         |newtok AS (SELECT n.doc_id, $duckTok AS ts
         |  FROM neu n JOIN st ON n.doc_id = st.doc_id
         |  WHERE st.status IN ('changed', 'added')),
         |rechunk AS (SELECT doc_id, (u.s - 1) // 15 AS chunk_idx,
         |    md5(array_to_string(list_slice(ts, u.s, u.s + 19), ' ')) AS chunk_fp
         |  FROM newtok CROSS JOIN unnest(range(1, greatest(len(ts), 1) + 1, 15)) AS u(s))
         |SELECT c.doc_id, chunk_idx, chunk_fp, 'reuse' AS action
         |  FROM oldchunks c JOIN st ON c.doc_id = st.doc_id
         |  WHERE st.status = 'unchanged'
         |UNION ALL SELECT doc_id, chunk_idx, chunk_fp, 'rechunk' FROM rechunk
         |UNION ALL SELECT c.doc_id, chunk_idx, chunk_fp, 'evict'
         |  FROM oldchunks c JOIN st ON c.doc_id = st.doc_id
         |  WHERE st.status = 'deleted'""".stripMargin,
    "mm_decode_stub" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |  CASE WHEN doc_id % 3 = 0 THEN 'png' WHEN doc_id % 3 = 1 THEN 'jpeg'
        |       ELSE 'webp' END AS format,
        |  64 + (ascii(substr(text, 1, 1)) % 16) * 8 AS width,
        |  64 + (ascii(substr(text, 1, 1)) % 8) * 16 AS height
        |FROM documents""".stripMargin,
    "mm_frame_energy" ->
      """SELECT doc_id, (u.p - 1) // 50 AS frame_idx,
        |  count(*) AS n_samples,
        |  sum(ascii(substr(text, u.p::INT, 1)) * ascii(substr(text, u.p::INT, 1)))::BIGINT
        |    AS energy_sum
        |FROM documents CROSS JOIN unnest(range(1, n_chars + 1)) AS u(p)
        |WHERE n_chars >= 1
        |GROUP BY doc_id, frame_idx""".stripMargin,
    "mm_frame_sample" ->
      """SELECT doc_id, (u.s - 1) // 100 AS frame_idx,
        |  ascii(substr(text, u.s::INT, 1)) AS byte_val
        |FROM documents
        |CROSS JOIN unnest(range(1, least(n_chars, 701) + 1, 100)) AS u(s)""".stripMargin,
    // 32-frame average-hash: integer energy sums per equal character
    // slice, bit = energy*32 > total, pairs at hamming <= 3. The oracle
    // used to brute-force all pairs, which is 125G candidate rows at
    // sf10 (spilled past the replay disk); it now goes through the SAME
    // pigeonhole the engine uses — hamming <= 3 over a 32-bit hash means
    // at least one of 4 disjoint 8-bit bands is EQUAL, so band-equality
    // candidates then the exact hamming filter return the identical pair
    // set with collision-proportional work. h is MATERIALIZED (DuckDB
    // inlines CTEs; it is referenced by both join sides and its energy
    // subquery is the expensive part); the DISTINCT runs over hamming
    // SURVIVORS only, never the raw candidate stream.
    "mm_phash_dedup" ->
      """WITH f AS (SELECT doc_id, n_chars::INT AS nc, text FROM documents
        |  WHERE n_chars >= 32),
        |e AS (SELECT doc_id, u.f AS frame,
        |    (SELECT sum(ascii(substr(text, p.p::INT, 1))::BIGINT *
        |                ascii(substr(text, p.p::INT, 1))::BIGINT)
        |     FROM unnest(range((u.f * nc) // 32 + 1,
        |                       ((u.f + 1) * nc) // 32 + 1)) AS p(p))::BIGINT AS ef
        |  FROM f CROSS JOIN unnest(range(0, 32)) AS u(f)),
        |h AS MATERIALIZED (SELECT doc_id,
        |    sum(CASE WHEN ef * 32 >
        |        (SELECT sum(ef) FROM e e2 WHERE e2.doc_id = e.doc_id)
        |      THEN 1::BIGINT << frame ELSE 0 END)::BIGINT AS ph
        |  FROM e GROUP BY doc_id),
        |hb AS MATERIALIZED (SELECT doc_id, ph, b.b AS band,
        |    (ph >> (b.b * 8)::INT) & 255 AS bv
        |  FROM h CROSS JOIN unnest(range(0, 4)) AS b(b))
        |SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
        |  bit_count(xor(x.ph, y.ph)) AS hamming
        |FROM hb x JOIN hb y
        |  ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.ph, y.ph)) <= 3""".stripMargin,
    "graph_khop" ->
      """WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
        |h1 AS (SELECT DISTINCT dst FROM e WHERE src < 10),
        |h2 AS (SELECT DISTINCT e.src FROM e JOIN h1 ON e.dst = h1.dst WHERE e.src >= 10)
        |SELECT 1 AS hop, 'part' AS node_type, dst AS node_id FROM h1
        |UNION ALL
        |SELECT 2 AS hop, 'supplier' AS node_type, src AS node_id FROM h2""".stripMargin,
    "graph_path_find" ->
      """WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
        |l1 AS (SELECT dst AS id, min(src) AS parent FROM e WHERE src = 0 GROUP BY dst),
        |l2 AS (SELECT src AS id, min(e.dst) AS parent FROM e JOIN l1 ON e.dst = l1.id
        |       WHERE src <> 0 GROUP BY src),
        |t AS (SELECT id AS t_id, parent AS t_par FROM l2 ORDER BY id LIMIT 1),
        |b1 AS (SELECT t.t_id, l1.id AS p1 FROM t JOIN l1 ON t.t_par = l1.id)
        |SELECT 0 AS step, 'supplier' AS node_type, 0::BIGINT AS node_id FROM b1
        |UNION ALL SELECT 1 AS step, 'part' AS node_type, p1 AS node_id FROM b1
        |UNION ALL SELECT 2 AS step, 'supplier' AS node_type, t_id AS node_id FROM b1""".stripMargin,
    "graph_path_find_deep" -> duckPathFindDeep,
    "graph_impact_phased" ->
      """WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
        |cp AS (SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |us AS (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
        |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |impl AS (SELECT DISTINCT src AS id FROM e WHERE dst = 1),
        |direct AS (SELECT DISTINCT cust AS id FROM cp WHERE part = 1),
        |trans AS (SELECT DISTINCT us.cust AS id FROM us JOIN impl ON us.supp = impl.id
        |          WHERE us.cust NOT IN (SELECT id FROM direct))
        |SELECT 'implementation' AS impact_type, 'must_update' AS severity,
        |  'supplier' AS node_type, id AS node_id FROM impl
        |UNION ALL SELECT 'direct_caller', 'must_update', 'customer', id FROM direct
        |UNION ALL SELECT 'transitive', 'review_needed', 'customer', id FROM trans""".stripMargin,
    // MATERIALIZED for the same reason as graph_path_find_deep: under
    // CTE inlining the 4-hop chain re-expands e/s0/f1/f2 per reference
    // (f4 alone re-evaluates three whole BFS levels), which detonates at
    // the sf10 edge count; every materialized relation is a bounded
    // frontier id-list or the distinct edge set.
    "graph_khop_deep" ->
      """WITH e AS MATERIALIZED (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
        |s0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM e WHERE src < 10),
        |f1 AS MATERIALIZED (SELECT DISTINCT e.dst AS id FROM e JOIN s0 ON e.src = s0.id),
        |f2 AS MATERIALIZED (SELECT DISTINCT e.src AS id FROM e JOIN f1 ON e.dst = f1.id
        |       WHERE e.src NOT IN (SELECT id FROM s0)),
        |f3 AS MATERIALIZED (SELECT DISTINCT e.dst AS id FROM e JOIN f2 ON e.src = f2.id
        |       WHERE e.dst NOT IN (SELECT id FROM f1)),
        |f4 AS (SELECT DISTINCT e.src AS id FROM e JOIN f3 ON e.dst = f3.id
        |       WHERE e.src NOT IN (SELECT id FROM s0)
        |         AND e.src NOT IN (SELECT id FROM f2))
        |SELECT 1 AS hop, 'part' AS node_type, id AS node_id FROM f1
        |UNION ALL SELECT 2 AS hop, 'supplier' AS node_type, id AS node_id FROM f2
        |UNION ALL SELECT 3 AS hop, 'part' AS node_type, id AS node_id FROM f3
        |UNION ALL SELECT 4 AS hop, 'supplier' AS node_type, id AS node_id FROM f4""".stripMargin,
    "graph_dependents" ->
      """WITH u AS (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
        |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |s0 AS (SELECT DISTINCT supp AS id FROM u WHERE supp < 10),
        |f1 AS (SELECT DISTINCT u.cust AS id FROM u JOIN s0 ON u.supp = s0.id),
        |f2 AS (SELECT DISTINCT u.supp AS id FROM u JOIN f1 ON u.cust = f1.id
        |       WHERE u.supp NOT IN (SELECT id FROM s0))
        |SELECT 1 AS hop, 'customer' AS node_type, id AS node_id FROM f1
        |UNION ALL SELECT 2 AS hop, 'supplier' AS node_type, id AS node_id FROM f2""".stripMargin,
    "graph_implementations" ->
      """WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
        |p0 AS (SELECT DISTINCT dst AS id FROM e WHERE dst < 40),
        |f1 AS (SELECT DISTINCT e.src AS id FROM e JOIN p0 ON e.dst = p0.id),
        |f2 AS (SELECT DISTINCT e.dst AS id FROM e JOIN f1 ON e.src = f1.id
        |       WHERE e.dst NOT IN (SELECT id FROM p0))
        |SELECT 1 AS hop, 'supplier' AS node_type, id AS node_id FROM f1
        |UNION ALL SELECT 2 AS hop, 'part' AS node_type, id AS node_id FROM f2""".stripMargin,
    "graph_impact" ->
      """WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem)
        |SELECT a.src AS root, count(DISTINCT b.src) AS n_impacted
        |FROM e a JOIN e b ON a.dst = b.dst AND b.src <> a.src
        |WHERE a.src < 10 GROUP BY 1 ORDER BY 1""".stripMargin,
    // lockstep with GraphOps.graphTypeUsages (pattern + limit constants)
    "graph_type_usages" ->
      s"""WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
         |ty AS (SELECT p_partkey FROM part
         |       WHERE p_name LIKE '${GraphOps.TypeUsagePattern}'),
         |sites AS (SELECT src, count(DISTINCT dst) AS n_type_sites
         |          FROM e JOIN ty ON e.dst = ty.p_partkey
         |          GROUP BY src ORDER BY src LIMIT 100)
         |SELECT src AS function_id, s_name AS name, n_name AS module_path,
         |  n_type_sites, 1 AS depth
         |FROM sites JOIN supplier ON src = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |ORDER BY function_id""".stripMargin,
    "graph_degree" ->
      """WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem)
        |SELECT 'supplier' AS node_type, src AS node_id, count(*) AS degree
        |FROM e GROUP BY 2
        |UNION ALL
        |SELECT 'part' AS node_type, dst AS node_id, count(*) AS degree
        |FROM e GROUP BY 2""".stripMargin,
    "stream_window_agg" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_epoch,
        |  event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "stream_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS tn FROM events),
        |l AS (SELECT user_id, tn, event_id,
        |    lag(tn) OVER (PARTITION BY user_id ORDER BY tn, event_id) AS pt FROM e),
        |c AS (SELECT user_id, tn,
        |    sum(CASE WHEN pt IS NULL OR tn - pt > 1800000000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY tn, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM l)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
        |  (min(tn) // 1000000000) AS start_epoch, (max(tn) // 1000000000) AS end_epoch
        |FROM c GROUP BY 1, 2""".stripMargin,
    // 4-token grams via list slicing; holdout mod and gram size come from
    // the SAME constants the operator reads (the WinnowDfCap drift lesson)
    "curate_decontaminate" ->
      s"""WITH tok AS (SELECT doc_id, $duckTok AS ts FROM documents),
         |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, len(ts) - ${CurateOps.DecontamN - 2}),
         |    i -> array_to_string(ts[i:i+${CurateOps.DecontamN - 1}], ' ')))) AS gram
         |  FROM tok WHERE len(ts) >= ${CurateOps.DecontamN}),
         |hold AS (SELECT DISTINCT gram FROM g
         |         WHERE doc_id % ${CurateOps.HoldoutMod} = 0)
         |SELECT g.doc_id, count(*) AS n_hits
         |FROM g JOIN hold USING (gram)
         |WHERE g.doc_id % ${CurateOps.HoldoutMod} <> 0
         |GROUP BY 1""".stripMargin,
    "curate_repetition" ->
      s"""WITH tok AS (SELECT doc_id, $duckTok AS ts FROM documents),
         |g AS (SELECT doc_id, list_transform(range(1, len(ts)),
         |    i -> array_to_string(ts[i:i+1], ' ')) AS gs
         |  FROM tok WHERE len(ts) >= 2),
         |m AS (SELECT doc_id, len(gs)::DOUBLE AS nb,
         |    1.0::DOUBLE - len(list_distinct(gs))::DOUBLE / len(gs) AS dup,
         |    list_max(list_transform(list_distinct(gs),
         |      gg -> len(list_filter(gs, x -> x = gg))))::DOUBLE / len(gs) AS top
         |  FROM g)
         |SELECT doc_id, round(dup, 4) AS dup_bigram_frac,
         |  round(top, 4) AS top_bigram_frac,
         |  (dup <= ${CurateOps.RepetitionMax}::DOUBLE AND
         |   top <= ${CurateOps.RepetitionMax}::DOUBLE)::INT AS keep
         |FROM m""".stripMargin,
    "curate_pii_redact" ->
      s"""WITH t AS (SELECT doc_id, lower(text) || ' contact ' || source ||
         |    '@example.com ext ' || doc_id::VARCHAR AS txt FROM documents),
         |e AS (SELECT doc_id, txt,
         |    regexp_replace(txt, '${CurateOps.EmailRe}', '<EMAIL>', 'g') AS et
         |  FROM t)
         |SELECT doc_id,
         |  len(regexp_extract_all(txt, '${CurateOps.EmailRe}')) AS n_emails,
         |  len(regexp_extract_all(et, '${CurateOps.NumRe}')) AS n_numbers,
         |  md5(regexp_replace(et, '${CurateOps.NumRe}', '<NUM>', 'g')) AS redacted_md5
         |FROM e""".stripMargin,
    "curate_sample_stratified" ->
      s"""SELECT doc_id, lang, substr(md5(doc_id::VARCHAR), 1, 2) AS hk
         |FROM documents
         |WHERE substr(md5(doc_id::VARCHAR), 1, 2) <
         |  (CASE WHEN lang = 'en' THEN '${CurateOps.RateEn}'
         |        WHEN lang IN ('de', 'fr') THEN '${CurateOps.RateMid}'
         |        ELSE '${CurateOps.RateLow}' END)""".stripMargin,
    "curate_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, source, len($duckTok)::BIGINT AS n_tok
         |  FROM documents),
         |c AS (SELECT doc_id, source, n_tok,
         |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
         |SELECT doc_id, source, n_tok,
         |  ((cum - n_tok) // ${CurateOps.PackBudget})::BIGINT AS seq_id,
         |  ((cum - n_tok) % ${CurateOps.PackBudget})::BIGINT AS seq_offset
         |FROM c""".stripMargin,
    "curate_shuffle_shards" ->
      """WITH h AS (SELECT doc_id, md5(doc_id::VARCHAR) AS hk FROM documents),
        |s AS (SELECT doc_id, hk,
        |    (instr('0123456789abcdef', substr(hk, 1, 1)) - 1)::INT AS shard
        |  FROM h)
        |SELECT doc_id, shard,
        |  row_number() OVER (PARTITION BY shard ORDER BY hk, doc_id)::INT AS pos
        |FROM s""".stripMargin,
    // weights / gate granularity come from the SAME constants the operator
    // reads; the rate arithmetic mirrors the Spark expression order
    // ((c * w) / tok * gate) so IEEE doubles agree bit-for-bit
    "curate_mix_domains" ->
      s"""WITH t AS (SELECT doc_id, source, len($duckTok)::BIGINT AS n_tok
         |  FROM documents),
         |w AS (SELECT source, sum(n_tok)::DOUBLE AS tok,
         |    (CASE (substr(source, 4)::INT % 3)
         |       WHEN 0 THEN ${CurateOps.MixW0} WHEN 1 THEN ${CurateOps.MixW1}
         |       ELSE ${CurateOps.MixW2} END)::DOUBLE AS w
         |  FROM t GROUP BY source),
         |c AS (SELECT min(tok / w) AS c FROM w),
         |r AS (SELECT source,
         |    (CASE WHEN w.tok / w.w = c.c THEN ${CurateOps.MixGate}
         |          ELSE floor(c.c * w.w / w.tok * ${CurateOps.MixGate})::INT
         |     END)::INT AS thr
         |  FROM w, c)
         |SELECT t.doc_id, t.source, t.n_tok, r.thr
         |FROM t JOIN r USING (source)
         |WHERE ('0x' || substr(md5('mix:' || t.doc_id::VARCHAR), 1, 3))::INT
         |  < r.thr""".stripMargin,
    // upsampling epoch mix: rate = (w/Σw)·T / tok_s mirrored in the same
    // IEEE order as the Spark expressions; copies via unnest(range(n))
    "curate_mix_epochs" ->
      s"""WITH t AS (SELECT doc_id, source, len($duckTok)::BIGINT AS n_tok
         |  FROM documents),
         |w AS (SELECT source, sum(n_tok)::DOUBLE AS tok,
         |    (CASE (substr(source, 4)::INT % 3)
         |       WHEN 0 THEN ${CurateOps.MixW0} WHEN 1 THEN ${CurateOps.MixW1}
         |       ELSE ${CurateOps.MixW2} END)::DOUBLE AS w
         |  FROM t GROUP BY source),
         |g AS (SELECT sum(w) AS sw, sum(tok) AS tt FROM w),
         |r AS (SELECT source, w.w / g.sw * g.tt / w.tok AS rate FROM w, g),
         |r2 AS (SELECT source, floor(rate)::INT AS n_full,
         |    floor((rate - floor(rate)) * ${CurateOps.MixGate})::INT AS fthr
         |  FROM r),
         |n AS (SELECT t.doc_id, t.source, r2.n_full +
         |    (CASE WHEN ('0x' || substr(md5('epoch:' || t.doc_id::VARCHAR),
         |                 1, 3))::INT < r2.fthr THEN 1 ELSE 0 END) AS n_copies
         |  FROM t JOIN r2 USING (source))
         |SELECT doc_id, source, n_copies, u.copy_idx::INT AS copy_idx
         |FROM n CROSS JOIN unnest(range(0, n_copies)) AS u(copy_idx)
         |WHERE n_copies > 0""".stripMargin,
    "curate_length_batches" ->
      s"""WITH t AS (SELECT doc_id, len($duckTok)::INT AS n_tok FROM documents),
         |b AS (SELECT doc_id, n_tok, (n_tok // ${CurateOps.LenBucket})::INT AS lb
         |  FROM t),
         |r AS (SELECT doc_id, n_tok, lb,
         |    ((row_number() OVER (PARTITION BY lb ORDER BY n_tok, doc_id) - 1)
         |      // ${CurateOps.BatchSize})::INT AS batch_idx
         |  FROM b)
         |SELECT doc_id, lb, batch_idx, n_tok,
         |  max(n_tok) OVER (PARTITION BY lb, batch_idx)::INT AS batch_max,
         |  (max(n_tok) OVER (PARTITION BY lb, batch_idx) - n_tok)::INT AS pad
         |FROM r""".stripMargin,
    // the end-to-end composition of already-verified stage oracles:
    // corpus_curate admission -> holdout/decontamination drop -> packing
    "curate_pipeline" ->
      s"""WITH $duckCuratePipe
         |SELECT doc_id, source, n_tok,
         |  ((cum - n_tok) // ${CurateOps.PackBudget})::BIGINT AS seq_id,
         |  ((cum - n_tok) % ${CurateOps.PackBudget})::BIGINT AS seq_offset
         |FROM c""".stripMargin,
    // the funnel report counts the SAME stage CTEs the pipeline packs
    "curate_report" ->
      s"""WITH $duckCuratePipe,
         |seqs AS (SELECT source,
         |    ((cum - n_tok) // ${CurateOps.PackBudget})::BIGINT AS seq_id,
         |    n_tok FROM c)
         |SELECT '00_raw' AS stage, count(*)::BIGINT AS n_docs,
         |  coalesce(sum(len(ts)), 0)::BIGINT AS n_tok FROM dtok
         |UNION ALL
         |SELECT '10_admitted', count(*)::BIGINT,
         |  coalesce(sum(len(d.ts)), 0)::BIGINT
         |FROM curated JOIN dtok d USING (doc_id)
         |UNION ALL
         |SELECT '20_holdout_removed', count(*)::BIGINT,
         |  coalesce(sum(len(d.ts)), 0)::BIGINT
         |FROM curated JOIN dtok d USING (doc_id)
         |WHERE doc_id % ${CurateOps.HoldoutMod} <> 0
         |UNION ALL
         |SELECT '30_decontaminated', count(*)::BIGINT,
         |  coalesce(sum(len(d.ts)), 0)::BIGINT
         |FROM clean JOIN dtok d USING (doc_id)
         |UNION ALL
         |SELECT '40_sequences', count(DISTINCT (source, seq_id))::BIGINT,
         |  coalesce(sum(n_tok), 0)::BIGINT FROM seqs""".stripMargin,
    // self-trained add-one bigram LM; ln/exp/round mirror the Spark
    // expression shapes so the 4-decimal ppl agrees cross-engine
    "text_perplexity" ->
      s"""WITH $duckPpl
         |SELECT doc_id, n_bigrams, ppl FROM ppl""".stripMargin,
    // DSIR hashed-bigram importance weights; md5-bucket, ln ratios and
    // the quantile gate all mirror the Spark expression shapes
    // lockstep with CurateOps.curateGopherRules: whitespace words, alnum
    // stopword tokens, integer '...' count via replace-diff div 3; every
    // ratio threshold compares the same int/double arithmetic
    "curate_gopher_rules" ->
      """WITH w AS (SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0) AS ws,
        |    list_filter(string_split(text, chr(10)), l -> length(rtrim(l)) > 0) AS ls,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents),
        |b AS (SELECT doc_id,
        |    len(ws)::BIGINT AS n_words,
        |    round(list_sum(list_transform(ws, x -> length(x)))::DOUBLE
        |      / greatest(len(ws), 1), 4) AS mean_word_len,
        |    (length(text) - length(replace(text, '#', ''))) +
        |      (length(text) - length(replace(text, '...', ''))) // 3 AS n_sym,
        |    len(list_filter(ls, l -> starts_with(ltrim(l), '-')
        |      OR starts_with(ltrim(l), '*') OR starts_with(ltrim(l), '•'))) AS n_bullet,
        |    len(list_filter(ls, l -> ends_with(rtrim(l), '...')
        |      OR ends_with(rtrim(l), '…'))) AS n_ellip,
        |    len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
        |    greatest(len(ls), 1) AS n_lines,
        |    len(list_intersect(list_distinct(ts),
        |      ['the','be','to','of','and','that','have','with'])) AS n_stop
        |  FROM w)
        |SELECT doc_id, n_words, mean_word_len,
        |  (n_words >= 50 AND n_words <= 100000) AS r_word_count,
        |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS r_mean_len,
        |  (n_sym::DOUBLE <= 0.1 * greatest(n_words, 1)) AS r_symbol_ratio,
        |  (n_bullet::DOUBLE < 0.9 * n_lines) AS r_bullets,
        |  (n_ellip::DOUBLE < 0.3 * n_lines) AS r_ellipsis,
        |  (n_alpha::DOUBLE >= 0.8 * greatest(n_words, 1)) AS r_alpha,
        |  (n_stop >= 2) AS r_stopwords,
        |  ((n_words >= 50 AND n_words <= 100000)
        |    AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
        |    AND (n_sym::DOUBLE <= 0.1 * greatest(n_words, 1))
        |    AND (n_bullet::DOUBLE < 0.9 * n_lines)
        |    AND (n_ellip::DOUBLE < 0.3 * n_lines)
        |    AND (n_alpha::DOUBLE >= 0.8 * greatest(n_words, 1))
        |    AND (n_stop >= 2)) AS keep
        |FROM b""".stripMargin,
    "curate_dsir" -> {
      val (m, b, q) =
        (CurateOps.DsirMod, CurateOps.DsirBuckets, CurateOps.DsirKeepQuantile)
      s"""WITH tok AS (SELECT doc_id, $duckTok AS ts FROM documents),
         |ft AS (SELECT doc_id,
         |    ('0x' || substr(md5(ts[u.i] || ' ' || ts[u.i+1]), 1, 15))::BIGINT
         |      % $b AS f
         |  FROM tok CROSS JOIN
         |    unnest(range(1, greatest(len(ts), 1))) AS u(i)),
         |k AS (SELECT (SELECT count(*) FROM ft WHERE doc_id % $m = 0) AS nt,
         |             (SELECT count(*) FROM ft) AS nr),
         |r AS (SELECT fr.f,
         |    ln((coalesce(t.ct, 0) + 1)::DOUBLE / (nt + $b)) -
         |    ln((fr.cr + 1)::DOUBLE / (nr + $b)) AS r
         |  FROM (SELECT f, count(*) AS cr FROM ft GROUP BY f) fr
         |  LEFT JOIN (SELECT f, count(*) AS ct FROM ft
         |             WHERE doc_id % $m = 0 GROUP BY f) t USING (f), k),
         |s AS (SELECT ft.doc_id, count(*) AS n_feat,
         |    round(sum(r.r), 4) + 0.0 AS lw
         |  FROM ft JOIN r USING (f) GROUP BY ft.doc_id),
         |thr AS (SELECT round(quantile_cont(lw, $q), 4) AS t FROM s)
         |SELECT d.doc_id, coalesce(s.n_feat, 0)::BIGINT AS n_feat, s.lw,
         |  (s.lw IS NOT NULL AND s.lw >= thr.t) AS keep
         |FROM documents d LEFT JOIN s USING (doc_id), thr""".stripMargin
    },
    // add-one multinomial naive Bayes trained on the doc_id-mod seed
    // partitions; ln shapes mirror the Spark side so the 4-decimal
    // score (and the > 0 verdict on it) agree cross-engine
    "curate_quality_classifier" -> {
      val m = CurateOps.QcSeedMod
      s"""WITH tok AS (SELECT doc_id, unnest($duckTok) AS t FROM documents),
         |pos AS (SELECT * FROM tok WHERE doc_id % $m = 0),
         |neg AS (SELECT * FROM tok WHERE doc_id % $m = 1),
         |k AS (SELECT (SELECT count(*) FROM pos) AS np,
         |  (SELECT count(DISTINCT doc_id) FROM pos) AS pd,
         |  (SELECT count(*) FROM neg) AS nn,
         |  (SELECT count(DISTINCT doc_id) FROM neg) AS nd,
         |  (SELECT count(DISTINCT t) FROM
         |    (SELECT t FROM pos UNION ALL SELECT t FROM neg)) AS v),
         |cp AS (SELECT t, count(*) AS cp FROM pos GROUP BY t),
         |cn AS (SELECT t, count(*) AS cn FROM neg GROUP BY t),
         |lo AS (SELECT t,
         |    ln((coalesce(cp, 0) + 1)::DOUBLE / (np + v)) -
         |    ln((coalesce(cn, 0) + 1)::DOUBLE / (nn + v)) AS lo
         |  FROM cp FULL JOIN cn USING (t), k),
         |s AS (SELECT tok.doc_id, count(*) AS n_tok,
         |    sum(coalesce(lo.lo, ln((nn + v)::DOUBLE / (np + v)))) AS slo
         |  FROM tok LEFT JOIN lo USING (t), k GROUP BY tok.doc_id)
         |SELECT d.doc_id, coalesce(s.n_tok, 0)::BIGINT AS n_tok,
         |  round(ln(pd::DOUBLE / nd) + coalesce(s.slo, 0.0), 4) + 0.0 AS score,
         |  (round(ln(pd::DOUBLE / nd) + coalesce(s.slo, 0.0), 4) > 0) AS keep
         |FROM documents d LEFT JOIN s USING (doc_id), k""".stripMargin
    },
    // per-language exact terciles over the same ppl relation; thresholds
    // round to 4 decimals like the Spark side so <= boundaries agree
    "curate_ppl_buckets" ->
      s"""WITH $duckPpl,
         |lp AS (SELECT p.doc_id, d.lang, p.ppl
         |       FROM ppl p JOIN documents d USING (doc_id)),
         |thr AS (SELECT lang,
         |    round(quantile_cont(ppl, 1.0/3), 4) AS t_head,
         |    round(quantile_cont(ppl, 2.0/3), 4) AS t_mid
         |  FROM lp WHERE ppl IS NOT NULL GROUP BY lang)
         |SELECT lp.doc_id, lp.lang, lp.ppl,
         |  CASE WHEN lp.ppl IS NULL THEN 'undef'
         |       WHEN lp.ppl <= t.t_head THEN 'head'
         |       WHEN lp.ppl <= t.t_mid THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM lp LEFT JOIN thr t USING (lang)""".stripMargin,
    // span length from the SAME constant the operator reads; coverage =
    // gap-capped sum over sorted duplicated starts, mirrored via lead()
    "dedup_substring" -> {
      val L = operators.DedupOps.SubstrL
      s"""WITH tok AS (SELECT doc_id, $duckTok AS ts FROM documents),
         |g AS (SELECT doc_id, u.i AS pos,
         |    md5(array_to_string(ts[u.i:u.i+${L - 1}], ' ')) AS gh
         |  FROM tok CROSS JOIN
         |    unnest(range(1, greatest(len(ts) - ${L - 2}, 1))) AS u(i)),
         |hot AS (SELECT gh FROM g GROUP BY gh
         |        HAVING count(DISTINCT doc_id) >= 2),
         |s AS (SELECT DISTINCT doc_id, pos FROM g JOIN hot USING (gh)),
         |cv AS (SELECT doc_id, sum(CASE WHEN nxt IS NULL THEN $L
         |      ELSE least($L, nxt - pos) END)::BIGINT AS n_dup_tok
         |  FROM (SELECT doc_id, pos,
         |      lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
         |    FROM s) GROUP BY doc_id)
         |SELECT t.doc_id, len(t.ts)::INT AS n_tok,
         |  coalesce(cv.n_dup_tok, 0)::BIGINT AS n_dup_tok,
         |  (CASE WHEN len(t.ts) > 0
         |        THEN round(coalesce(cv.n_dup_tok, 0)::DOUBLE / len(t.ts), 4)
         |        ELSE 0.0 END) AS dup_frac
         |FROM tok t LEFT JOIN cv USING (doc_id)""".stripMargin
    },
    // df cap from the SAME constant the operator reads; the injected
    // footer/unique lines mirror CurateOps.boilerLines verbatim
    "curate_boilerplate" ->
      s"""WITH d AS (SELECT doc_id, source,
         |    string_split(text || chr(10) || 'footer generated by ' || source
         |      || chr(10) || 'unique ' || doc_id::VARCHAR, chr(10)) AS ls
         |  FROM documents),
         |l AS (SELECT doc_id, source, unnest(ls) AS line FROM d),
         |hot AS (SELECT source, line FROM l GROUP BY source, line
         |        HAVING count(DISTINCT doc_id) > ${CurateOps.BoilerDf}),
         |b AS (SELECT source, list(line) AS bl FROM hot GROUP BY source)
         |SELECT d.doc_id, len(d.ls)::INT AS n_lines,
         |  len(list_filter(d.ls,
         |    x -> list_contains(coalesce(b.bl, []::VARCHAR[]), x)))::INT
         |    AS n_removed,
         |  md5(array_to_string(list_filter(d.ls,
         |    x -> NOT list_contains(coalesce(b.bl, []::VARCHAR[]), x)),
         |    chr(10))) AS clean_md5
         |FROM d LEFT JOIN b USING (source)""".stripMargin,
    // the oracle reads the PARQUET table; Spark reads its own JSONL
    // lockstep with DiscoveryOps: the regexes are compiled from the SAME
    // pattern constants by the same globToRegex, at oracle-build time
    "discover_glob" -> {
      def any(pats: Seq[String], c: String): String =
        pats.map(p =>
          s"regexp_matches($c, '${DiscoveryOps.globToRegex(p)}')")
          .mkString("(", " OR ", ")")
      val ign = s"""${any(DiscoveryOps.IgnorePatterns, "file_path")}
                   |  OR ${any(DiscoveryOps.IgnorePatterns, "file_path || '/**'")}""".stripMargin
      val code = any(DiscoveryOps.CodePatterns, "file_path")
      val docs = any(DiscoveryOps.DocsPatterns, "file_path")
      s"""WITH f AS (SELECT source || '/' || doc_id::VARCHAR AS file_path,
         |            n_chars FROM documents),
         |adm AS (SELECT * FROM f WHERE NOT ($ign))
         |SELECT file_path,
         |  CASE WHEN $code THEN 'code'
         |       WHEN $docs THEN 'docs' END AS cls,
         |  n_chars
         |FROM adm WHERE $code OR $docs""".stripMargin
    },
    // round-trip of it — the hash comparison IS the fidelity check
    "ingest_jsonl" ->
      """SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS chars,
        |  sum(('0x' || substr(md5(doc_id::VARCHAR || ':' || lang || ':'
        |    || n_chars::VARCHAR || ':' || text),
        |    1, 8))::BIGINT)::BIGINT AS content_sum
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // scale/interleave arithmetic interpolated from LayoutOps (shared
    // definition); `//` matches Spark's `div` on the non-negative operands
    "layout_zorder" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tu FROM events),
         |b AS (SELECT min(user_id) AS ulo, max(user_id) AS uhi,
         |    min(tu) AS tlo, max(tu) AS thi FROM e),
         |s AS (SELECT user_id, tu,
         |    (CASE WHEN uhi = ulo THEN 0
         |          ELSE ((user_id::HUGEINT - ulo) * 65535)
         |               // (uhi - ulo) END)::BIGINT AS u16,
         |    (CASE WHEN thi = tlo THEN 0
         |          ELSE ((tu::HUGEINT - tlo) * 65535)
         |               // (thi - tlo) END)::BIGINT AS t16
         |  FROM e, b),
         |z AS (SELECT user_id, tu,
         |    ${LayoutOps.mortonSql("u16", "t16")} AS zv FROM s)
         |SELECT (zv >> ${LayoutOps.ZShardShift})::INT AS shard,
         |  count(*) AS n,
         |  min(user_id) AS u_min, max(user_id) AS u_max,
         |  min(tu) AS t_min, max(tu) AS t_max
         |FROM z GROUP BY shard ORDER BY shard""".stripMargin
  )
}
