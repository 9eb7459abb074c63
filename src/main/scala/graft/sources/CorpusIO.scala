package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.control.NonFatal
import graft.Tables

/** Corpus ingestion beyond parquet: JSONL (one JSON object per line) is
  * the wire format training corpora actually arrive in — crawls, dumps,
  * and inter-team handoffs all ship it — so the engine must read it as a
  * first-class source, not via a conversion detour.
  *
  * Reference analogue: project-cortex ingests from the filesystem walk
  * (internal/indexer/loader.go) and trusts its own extractor's schema;
  * the 100 TB equivalent of "trust the schema" is an EXPLICIT read
  * schema: `spark.read.json` without one runs a full inference pass over
  * the data — a second scan of the corpus before the first real job.
  *
  * Scale posture: uncompressed (or zstd-framed) JSONL is splittable, so
  * a 100 TB drop parallelizes across executors like parquet does; the
  * JSON parse is JacksonParser inside whole-stage codegen. FAILFAST
  * surfaces corrupt lines immediately; pipelines that must tolerate them
  * switch to PERMISSIVE + corrupt-record column and quarantine. */
object CorpusIO {

  /** The documents schema, explicit — matches the parquet tables. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def readDocumentsJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(documentsSchema)
      .option("mode", "FAILFAST")
      .json(path)

  def writeDocumentsJsonl(df: DataFrame, path: String): Unit =
    df.select(col("doc_id"), col("text"), col("lang"), col("source"),
      col("n_chars")).write.mode("overwrite").json(path)

  /** Every JSONL copy lives under one per-JVM temp root, which one
    * shutdown hook removes, so no corpus-sized copy outlives the JVM —
    * including copies of stopped sessions, which the memo evicts without
    * release. */
  private lazy val jsonlRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_jsonl_")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try deleteTree(root) catch { case NonFatal(_) => () },
      "graft-jsonl-cleanup"))
    root
  }

  private def deleteTree(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root))
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(q => java.nio.file.Files.deleteIfExists(q))

  /** One JSONL copy per (session, dir), a PlanCache memo released by
    * deleting the copy: concurrent sessions get their own copies (no
    * overwrite under a reader), and PlanCache.invalidate(dir), or a sweep
    * of the documents table the copy's build loads, deletes every
    * session's copy, so a rewritten documents table is re-serialized
    * instead of read stale. */
  private def jsonlCopy(spark: SparkSession, dir: String): String =
    graft.PlanCache.memo(spark, dir, "jsonlCopy") {
      val t = java.nio.file.Files.createTempDirectory(jsonlRoot, "copy_")
      writeDocumentsJsonl(Tables.documents(spark, dir), t.toString)
      t.toString
    }(t => deleteTree(java.nio.file.Paths.get(t)))

  /** Test hook: the memoized copy location, if one exists. */
  private[graft] def jsonlCopyFor(spark: SparkSession, dir: String): Option[String] =
    graft.PlanCache.lookup(spark, dir, "jsonlCopy").map(_.asInstanceOf[String])

  /** Ingestion fidelity check as an oracle-checked operator: round-trip
    * the documents table through JSONL, then aggregate per source an
    * order-insensitive content checksum (sum of 32-bit md5 prefixes over
    * EVERY column of the row) next to counts and char totals. The DuckDB
    * oracle computes the same aggregate from the PARQUET table, so any
    * JSON-boundary corruption — escaping, encoding, type coercion, line
    * splitting, in ANY field — breaks the hash match.
    *
    * Deliberately EAGER: the JSONL copy is written when the operator is
    * first invoked for a (session, dir) — the read needs the files to
    * exist — then memoized (see [[jsonlCopy]]). */
  def ingestJsonl(spark: SparkSession, dir: String): DataFrame = {
    readDocumentsJsonl(spark, jsonlCopy(spark, dir))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars"),
        sum(conv(substring(md5(concat_ws(":",
          col("doc_id").cast("string"), col("lang"),
          col("n_chars").cast("string"), col("text"))),
          1, 8), 16, 10).cast("long")).as("content_sum"))
      .orderBy(col("source"))
  }
}
