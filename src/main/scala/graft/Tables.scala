package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the graft engine.
  *
  * Schema-on-read from the parquet footers (no inference scan); at cluster
  * scale these would be catalog tables with partition pruning — here each
  * table is a single parquet file per scale factor.
  *
  * Reference analogue: project-cortex stores its index in SQLite tables
  * (internal/storage/schema.go:157); we read columnar parquet so filters and
  * projections push down to the scan.
  */
object Tables {
  /** Resolved-scan memo for the raw parquet loads: `spark.read.parquet`
    * re-lists the directory and re-reads the footer schema (a small
    * driver-side job) on EVERY call, and the sweep constructs ~129 plans
    * per pass with several table reads each — measured 0.1-0.2 s of
    * per-query construct time, none of it data work. The memoized
    * DataFrame pins only the resolved relation (file index + schema) and
    * is NOT persisted: every execution still scans the parquet fresh. It
    * is a PlanCache memo like every other reuse-until-the-data-changes
    * value, so a corpus rewritten in place re-resolves after
    * PlanCache.invalidate(dir), and one changed table after
    * PlanCache.invalidate(dir, s"$dir/$name.parquet"). Every memo whose
    * build loads a table here counts that table in its read set. At
    * cluster scale this is what a catalog table does — resolve once,
    * scan per query. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      // virtual views the DSL can query like stored tables — the six
      // tables the reference's files tool exposes ("files, types,
      // functions, imports, modules, chunks", internal/mcp/files_tool.go:50;
      // `modules` is the DSL-side rollup over `files`, QueryDsl.dslModules)
      case "files"     => files(spark, dir)
      case "types"     => symbolTable(spark, dir, "type", "type_id")
      case "functions" => symbolTable(spark, dir, "function", "function_id")
      case "imports"   => imports(spark, dir)
      case "chunks"    => chunks(spark, dir)
      case _ =>
        // Parquet naive timestamps (isAdjustedToUTC=false, how the test
        // corpus writes ts/o_orderdate/l_shipdate) read as TIMESTAMP_NTZ
        // under Spark 4's default inference, which unix_micros & friends
        // reject. Read them as LTZ instead: with the UTC session timezone
        // every main/suite sets, the raw micros are identical to what
        // DuckDB sees for the same naive column, so oracle hashes agree.
        // Dynamic conf (same pattern as nanosAsLong in `events`) so the
        // posture holds for caller-built sessions too.
        if (spark.conf.getOption("spark.sql.parquet.inferTimestampNTZ.enabled")
            .forall(_ != "false"))
          spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        PlanCache.memo(spark, dir, s"scan:$name")(
          spark.read.parquet(s"$dir/$name.parquet"))(_ => ())
    }

  /** The reference's `files` table shape (internal/storage/schema.go;
    * files_tool.go queries it and its `modules` rollup): each document is
    * a file at `source/doc_id`, `module_path` is the path's source
    * PREFIX, and `line_count` is the 80-column line estimate — a pure
    * projection over the documents scan, so module rollups stay one
    * scan + one aggregate. */
  def files(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    load(s, d, "documents").select(
      concat_ws("/", col("source"), col("doc_id")).as("file_path"),
      col("source").as("module_path"),
      col("lang"), col("n_chars"),
      expr("(n_chars + 79) div 80").as("line_count"))
  }

  /** The reference's `types`/`functions` table shapes
    * (internal/storage/schema.go:183/:216): one row per keyword
    * declaration from the symbol-extraction projection, with the id /
    * path / module columns the reference denormalizes. `source` rides
    * the SAME single scan (PatternOps.keywordDecls keep-columns), so
    * file_path/module_path need no join back to documents. `start_pos`
    * is the declaring keyword's 1-based token index (the byte-offset
    * analogue); ids embed it because a file can declare a name twice. */
  private def symbolTable(s: SparkSession, d: String,
      kind: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.operators.PatternOps
      .keywordDecls(documents(s, d), graft.operators.PatternOps.SymbolKinds,
        Seq("source"))
      .filter(col("kind") === kind)
      .select(
        concat_ws("::", concat_ws("/", col("source"), col("doc_id")),
          col("symbol"), col("pos")).as(idCol),
        concat_ws("/", col("source"), col("doc_id")).as("file_path"),
        col("source").as("module_path"),
        col("symbol").as("name"),
        col("pos").as("start_pos"))
  }

  /** The reference's `imports` table shape (internal/storage/schema.go:282:
    * file_path, import_path, import_line): `batch X` declarations from the
    * same one-scan extraction. */
  private def imports(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.operators.PatternOps
      .keywordDecls(documents(s, d),
        Seq(graft.operators.PatternOps.ImportKeyword -> "import"),
        Seq("source"))
      // no module_path here: the reference's imports table carries only
      // (file_path, import_path, import_line) (schema.go:282), and
      // duplicating it would make joins through types/functions ambiguous
      .select(
        concat_ws("/", col("source"), col("doc_id")).as("file_path"),
        col("symbol").as("import_path"),
        col("pos").as("import_line"))
  }

  /** The reference's `chunks` table shape (internal/storage/schema.go:296:
    * chunk_id, file_path, text, start/end): the token-budget chunker's
    * output keyed by file, `source` carried through the single scan. */
  private def chunks(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.operators.ChunkOps.chunked(documents(s, d), Seq("source"))
      .select(
        concat_ws("#", concat_ws("/", col("source"), col("doc_id")),
          col("chunk_idx")).as("chunk_id"),
        concat_ws("/", col("source"), col("doc_id")).as("file_path"),
        col("source").as("module_path"),
        col("chunk_idx"), col("n_chunk_tokens"), col("chunk_text"))
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts is TIMESTAMP(NANOS) in parquet, which Spark only reads as a
    * long under spark.sql.legacy.parquet.nanosAsLong. Normalize to a proper
    * TimestampType column (microsecond precision, same truncation DuckDB
    * applies) while keeping the raw long for total-order tiebreaks.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    // dynamic conf so events reads work even from a caller-built session
    // that didn't set the flag at construction time
    if (s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
        .forall(_ != "true"))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    if (raw.schema("ts").dataType == LongType)
      // `div` (integral division), NOT `/`: Spark's `/` promotes to double,
      // and nanos-since-epoch exceeds double's 53-bit mantissa — the
      // round-trip would perturb ~µs for a fraction of rows. `div`
      // truncates toward zero, which matches DuckDB's ns→µs conversion;
      // pre-epoch (negative) timestamps would need floor semantics instead,
      // and this corpus has none.
      raw.withColumnRenamed("ts", "ts_ns")
        .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
    else raw.withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
