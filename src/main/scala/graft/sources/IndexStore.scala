package graft.sources

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Checkpoints.LineageCut

/** Storage layout for the materialized index: bucketed parquet tables,
  * resolved through one table registry ([[derivedBucketed]]).
  *
  * Reference analogue: project-cortex persists its index into SQLite tables
  * keyed by chunk/file id (internal/storage/schema.go:157). At cluster
  * scale the equivalent is a bucketed table per index relation: joins
  * between relations bucketed on the same key (chunks⋈files⋈embeddings by
  * doc id) are co-located and need NO shuffle — the test suite asserts the
  * exchange-free plan.
  */
object IndexStore {

  /** Deploy-time bucket-count knob for every index and derived table.
    * The co-located joins' parallelism IS the bucket count (a bucketed
    * read is one task per bucket), so the sizing rule at scale is
    * buckets ≈ ceil(largest bucketed relation / target per-task scan).
    * The count is folded into every table's IDENTITY (a `_b<n>` name
    * suffix), so changing it builds fresh tables instead of silently
    * reusing a differently-bucketed layout.
    *
    * Default since round 9 is `auto`: the count SELF-SIZES from the
    * corpus dir's documents+embeddings on-disk bytes (the two relations
    * every bucketed index/derived table is built from — the TPC-H fact
    * tables never land in one) — pow2ceil(bytes / [[TargetBytesConf]])
    * clamped to [8, 4096] — because the round-8 sf10 probe measured the
    * fixed 8 as the collision joins' parallelism ceiling (8 tasks on 32
    * cores; 32 buckets halved the banded-ANN wall). Source bytes are a
    * deterministic, scan-free proxy every resolver (builders, probes,
    * tests) can compute identically; the 4 MB default target is tuned to
    * that measurement (sf10's ~140 MB of docs+emb → 64 buckets; the
    * verify SFs stay on the floor of 8), deliberately byte-dense because
    * the joins reading these tables do COLLISION work that grows faster
    * than the bytes. An integer conf value pins the count exactly as
    * before (the deployment's choice — a corpus past ~16 GB of docs+emb
    * hits the 4096 clamp, where an operator sizes by its own pair-work
    * budget). Bucketing is layout only: query results are identical at
    * any count (BucketConfSpec). */
  val BucketsConf = "spark.graft.indexBuckets"

  /** Auto-sizing target: docs+emb bytes per bucket (see [[BucketsConf]]). */
  val TargetBytesConf = "spark.graft.bucketTargetBytes"
  private val TargetBytesDefault = 4L * 1024 * 1024

  private val BucketsMin = 8
  private val BucketsMax = 4096

  /** The pinned bucket count when [[BucketsConf]] is an integer; the
    * local floor (8) when unset or `auto` and no corpus dir is in play.
    * Sizing that should track corpus scale goes through the (spark, dir)
    * overload. */
  def buckets(spark: SparkSession): Int =
    pinned(spark).getOrElse(BucketsMin)

  private def pinned(spark: SparkSession): Option[Int] =
    spark.conf.getOption(BucketsConf).filterNot(_ == "auto").map { s =>
      val n = s.toInt
      require(n >= 1, s"$BucketsConf must be >= 1, got $n")
      n
    }

  /** Source bytes of `dir`: one FS listing, memoized in PlanCache until
    * the data under `dir` changes. Counts documents.parquet +
    * embeddings.parquet (file- or dir-shaped) — the relations the
    * bucketed tables derive from — so a corpus rewritten in place
    * re-sizes from its CURRENT bytes after PlanCache.invalidate(dir).
    * Each present relation also resolves through its `Tables.load` scan
    * memo, so the store derives this value's read set (those two paths)
    * and every memo over an IndexStore table inherits a known one. */
  private def corpusBytes(spark: SparkSession, dir: String): Long =
    graft.PlanCache.memo(spark, dir, "sizing:corpusBytes") {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq("documents", "embeddings").map { name =>
        val p = new org.apache.hadoop.fs.Path(dir, s"$name.parquet")
        if (!fs.exists(p)) 0L
        else {
          graft.Tables.load(spark, dir, name)
          val st = fs.getFileStatus(p)
          // dir-shaped parquet outputs: recursive — a partitioned/nested
          // layout (partitionBy subdirectories) must count its leaves,
          // not the ~0 bytes of its first listing level
          if (st.isDirectory) fs.getContentSummary(p).getLength
          else st.getLen
        }
      }.sum
    }(_ => ())

  /** The per-label cell census (label, cell_n) of the embeddings
    * relation — the one census every cell-blocked consumer reads: the
    * exact pair builder and the auto router broadcast it, and
    * [[maxCellSize]] is its maximum. Persisted per (session, dir) in
    * PlanCache: broadcast subqueries plan their subtrees INDEPENDENTLY,
    * so ReuseExchange can never unify a census aggregate appearing under
    * several broadcasts; the memo makes it structurally single, every
    * broadcast build a scan of the label-bounded cached relation. Read
    * from the embeddings scan, not the bucketed index: its read set is
    * the embeddings path, and it needs no index build, so it works on
    * an embeddings-only corpus too. That scan is not label-bucketed, so
    * the aggregate shuffles once, at build; the lineage cut keeps that
    * build out of every consumer's plan (the cut records the read set). */
  def cellCensus(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.getOrBuild(spark, dir, "sizing:cellCensus") {
      graft.Tables.embeddings(spark, dir)
        .groupBy(col("label")).agg(count(lit(1)).as("cell_n")).lineageCut
    }

  /** The hottest IVF cell's size: the maximum of [[cellCensus]] (0 on
    * an empty corpus), collected as a driver-side scalar (a sizing
    * decision, not data) — the bound the auto LSH geometry derives its
    * signature width from (see
    * [[graft.operators.DedupOps.lshGeometry]]) and the salt decision's
    * corpus-wide answer. Memoized in PlanCache until the data changes. */
  def maxCellSize(spark: SparkSession, dir: String): Long =
    graft.PlanCache.memo(spark, dir, "sizing:maxCellSize")(
      censusMax(cellCensus(spark, dir)))(_ => ())

  /** The largest `cell_n` of a (label, cell_n) census, 0 when empty. */
  def censusMax(census: DataFrame): Long =
    census.agg(coalesce(max(col("cell_n")), lit(0L))).head().getLong(0)

  /** The churn slice's doc count — the routing scalar dedup_incremental's
    * broadcast-vs-shuffle decision reads (see
    * [[graft.operators.DedupOps.incrementalCandidates]]). Memoized, not
    * computed per plan construction: the count is one pushed-filter scan
    * of the doc_id column, but an EAGER action inside a plan-building
    * call would otherwise re-run it every time a test or plan inspection
    * rebuilds the candidates. Same lifecycle as [[maxCellSize]]. */
  def churnDocs(spark: SparkSession, dir: String, mod: Int, res: Int): Long =
    graft.PlanCache.memo(spark, dir, s"sizing:churnDocs:$mod:$res") {
      graft.Tables.documents(spark, dir).filter(col("doc_id") % mod === res)
        .count()
    }(_ => ())

  private def pow2ceil(n: Long): Int = {
    var p = 1
    while (p < n && p < BucketsMax) p <<= 1
    p
  }

  /** The bucket count for `dir`'s index/derived tables: the pinned conf
    * if set, else auto-sized from the corpus bytes (see [[BucketsConf]]). */
  def buckets(spark: SparkSession, dir: String): Int =
    pinned(spark).getOrElse {
      val target = graft.GraftConf.resolve(spark.conf.getOption _, TargetBytesConf,
        TargetBytesDefault, 1)
      val want = (corpusBytes(spark, dir) + target - 1) / target
      // NO parallelism floor toward the session's cores. Re-measured at
      // sf1 in round 14 (pinned indexBuckets 8 vs 32, same filtered
      // heavies, quiet-gated host) — the result SPLITS by family and
      // nets to a wash, so the byte-derived default stands:
      //   - embedding band joins (heavy per-pair dot/cosine) run
      //     1.1-1.4× FASTER at 32 buckets (vec_knn_join 5.8→5.0 s,
      //     vec_knn_join_ann 1.8→1.3 s, dedup_embedding 1.3→1.1 s) —
      //     the round-13 sf0.1 measurement of "8× stage CPU at 32
      //     buckets" was the 17 MB corpus's per-task overhead + this
      //     VM's concurrent-fault pathology, and does NOT reproduce at
      //     sf1;
      //   - text-dedup joins (minhash/ngram/incremental: cheap per-pair
      //     work, more smaller tables) run ~1.3-1.4× faster at 8
      //     (dedup_ngram_jaccard 2.25→3.29 s at 32).
      // A deployment whose wall is the embedding family raises
      // BucketsConf/TargetBytesConf explicitly; the sf10-scale corpus
      // already derives ≥64 buckets from bytes alone, where the
      // per-bucket overhead amortizes for every family.
      math.max(BucketsMin, pow2ceil(want))
    }

  /** Write `df` as a bucketed, per-bucket-sorted parquet table, with
    * the pinned-conf/local-floor bucket count (no corpus dir in play). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String): Unit =
    writeBucketedMulti(df, table, Seq(bucketCol), buckets(df.sparkSession))

  /** [[writeBucketed]] at an explicit bucket count. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int): Unit =
    writeBucketedMulti(df, table, Seq(bucketCol), buckets)

  /** Multi-column bucketing: a join whose equi-keys are a SUPERSET of the
    * bucket columns reads both sides co-located (equal join keys imply
    * equal bucket keys), so band self-joins bucket on (band, sig) and
    * stay exchange-free even when the join adds block keys on top. */
  def writeBucketedMulti(df: DataFrame, table: String,
      bucketCols: Seq[String], buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      // the band tables ride one packed binary blob per row, repeated
      // `bands`× per vector — exactly what parquet's value dictionary
      // deduplicates. The writer's default dictionary-page threshold
      // (1 MB) aborts the dictionary once a bucket holds a few thousand
      // distinct ~260 B blobs and falls back to PLAIN (measured at sf1:
      // the emb column wrote 20 MB/bucket plain where sf0.1's smaller
      // dictionary encoded the same layout 2.5× smaller). 8 MB keeps
      // the dictionary viable through the auto bucket sizing's
      // ~4 MB-of-corpus-per-bucket target at any SF; scan-side cost is
      // nil (dictionary pages are decoded once per row group).
      .option("parquet.dictionary.page.size", s"${8 * 1024 * 1024}")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)

  /** Drop `table` from the catalog AND clear its physical warehouse
    * location — a later saveAsTable under the same name must not fail
    * with LOCATION_ALREADY_EXISTS against a dir that outlived a previous
    * process's in-memory catalog. */
  def dropTable(spark: SparkSession, table: String): Unit = {
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val p = new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }

  /** Replace `table` with `df`'s contents (see [[dropTable]] for why the
    * physical location is cleared first). */
  def replaceTable(spark: SparkSession, df: DataFrame, table: String): Unit = {
    dropTable(spark, table)
    df.write.mode("overwrite").format("parquet").saveAsTable(table)
  }

  /** Per-table build monitors: a registry check alone would let two
    * threads race the drop + saveAsTable sequence for the SAME table (one
    * thread's write fails under the other's cleanup) — table writes are
    * not idempotent mid-flight. Monitors are reentrant for a thread and
    * independent across tables, so a build that resolves another table
    * (a nested derivedBucketed) takes that table's monitor and cannot
    * deadlock. computeIfAbsent here is safe: the closure allocates an
    * Object, touching nothing. */
  private val buildLocks = new ConcurrentHashMap[String, Object]()

  private def withBuildLock[T](table: String)(body: => T): T =
    buildLocks.computeIfAbsent(table, _ => new Object).synchronized(body)

  /** The one table registry: (session, dir, table) for every bucketed
    * table this process resolved — the search index and the derived
    * dedup/ANN relations. Tables are not PlanCache memos: a cached
    * `repartition` does NOT survive the self-join's column rename
    * (verified while building the search index); bucketed tables do. */
  private val registry =
    ConcurrentHashMap.newKeySet[(SparkSession, String, String)]()

  /** The catalog name [[derivedBucketed]] gives the (dir, tag) derived
    * table — the single source of the naming scheme; probes and tests
    * resolve names through this instead of re-deriving the sanitization.
    * The session-less form takes the ALREADY bucket-decorated tag; use
    * the (spark, dir, tag) form to resolve what derivedBucketed built. */
  def derivedTableName(dir: String, tag: String): String =
    s"graft_${tag}_" + dir.replaceAll("[^a-zA-Z0-9]", "_")

  /** [[derivedTableName]] with the bucket-count decoration the builder
    * applies — the name derivedBucketed(spark, dir, tag, …) produced. */
  def derivedTableName(spark: SparkSession, dir: String, tag: String): String =
    derivedTableName(dir, s"${tag}_b${buckets(spark, dir)}")

  /** Materialize a derived relation (a signature/band/prefix index) ONCE
    * per (session, dir) as a bucketed table and return its name. The
    * dedup candidate self-joins read these tables from both sides
    * co-located — the same design as the search [[index]], whose tables
    * are built through the same registry. */
  def derivedBucketed(spark: SparkSession, dir: String, tag: String,
      bucketCols: Seq[String])
      (build: => DataFrame): String =
    bucketed(spark, dir, n => derivedTableName(dir, s"${tag}_b$n"),
      bucketCols)(build)

  /** Resolve the table `name(buckets)` — the bucket count is part of the
    * table identity — building it under its monitor on first use.
    * Reuse rule: if the catalog already has the table (another session
    * on this warehouse built it), reuse it rather than dropping it out
    * from under that session's queries; otherwise clear a previous
    * PROCESS's physical leftovers and write it. */
  private def bucketed(spark: SparkSession, dir: String, name: Int => String,
      bucketCols: Seq[String])(build: => DataFrame): String = {
    val n = buckets(spark, dir)
    val tbl = name(n)
    registry.removeIf(_._1.sparkContext.isStopped)
    val key = (spark, dir, tbl)
    if (!registry.contains(key)) withBuildLock(tbl) {
      if (!registry.contains(key)) {
        if (!spark.catalog.tableExists(tbl)) {
          dropTable(spark, tbl)
          writeBucketedMulti(build, tbl, bucketCols, n)
        }
        registry.add(key)
      }
    }
    tbl
  }

  /** "The data under `dir` changed": drop every registry table built over
    * `dir` (all sessions' entries and the physical tables, the search
    * index included), then sweep every memo of the dir
    * (PlanCache.invalidate(dir)). A PlanCache sweep alone — dir-wide, or
    * the watch loop's per-batch sweep of its edge table — releases memos
    * only; without this call the tables would keep answering from the
    * pre-change snapshot.
    *
    * Each table's drop runs under its build monitor, so it never lands
    * mid-write under an in-flight build, nor between a build's write and
    * its registry add: an in-flight build completes first and its
    * (pre-change) table is then dropped; a build arriving after rebuilds
    * fresh. A failed drop propagates (the memos are swept regardless) and
    * keeps its registry entry, so a retried call drops it again — a
    * dropped entry would leave the table in the catalog, where the next
    * build reuses it as current. Residual (accepted): a build whose registry add lands after this
    * sweep's weakly-consistent iteration can survive with pre-change data
    * until the NEXT invalidation. */
  def invalidateDerived(spark: SparkSession, dir: String): Unit =
    try registry.forEach { key =>
      if (key._2 == dir) withBuildLock(key._3) {
        dropTable(spark, key._3)
        registry.remove(key)
      }
    } finally graft.PlanCache.invalidate(dir)

  /** The materialized search index for one corpus dir. */
  final case class IndexTables(docs: String, embById: String,
      embByLabel: String)

  private def indexTableName(dir: String, kind: String)(n: Int): String =
    s"graft_$kind" + dir.replaceAll("[^a-zA-Z0-9]", "_") + s"_b$n"

  /** Build (once per session+dir) the bucketed search index the query
    * operators read — the cortex index-build step (chunk → tokenize →
    * store, internal/storage/chunk_writer.go) as bucketed parquet tables:
    *
    *  - `docs`: pre-tokenized documents bucketed by doc_id (tokenization
    *    is INDEX-time work, not query-time work);
    *  - `embById`: embeddings bucketed by vec_id, co-located with `docs`
    *    for the 1:1 hybrid join;
    *  - `embByLabel`: embeddings bucketed by the IVF cell label for
    *    cell-local self-joins.
    *
    * Joins between tables bucketed on the join key need NO exchange — at
    * 100 TB that turns the two fact-fact search joins from full shuffles
    * of both relations into co-located per-bucket joins.
    */
  def index(spark: SparkSession, dir: String): IndexTables =
    IndexTables(docsTable(spark, dir),
      bucketed(spark, dir, indexTableName(dir, "emb_id"), Seq("vec_id"))(
        graft.Tables.embeddings(spark, dir)),
      bucketed(spark, dir, indexTableName(dir, "emb_lbl"), Seq("label"))(
        graft.Tables.embeddings(spark, dir)))

  /** Just the pre-tokenized docs table of [[index]] — buildable for a
    * docs-only corpus (no embeddings.parquet required), which the
    * token-array consumers (symbol extraction, FTS token scoring, BPE
    * apply, winnowing) need: their test fixtures and docs-only corpora
    * must not fail on the embedding relations they never read. */
  def docsTable(spark: SparkSession, dir: String): String =
    bucketed(spark, dir, indexTableName(dir, "docs"), Seq("doc_id"))(
      graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          graft.functions.Tokenize.tokens(col("text")).as("toks")))
}
