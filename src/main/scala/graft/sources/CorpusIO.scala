package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
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

  /** One JSONL copy per (session, dir): Bench invokes every query twice
    * (warm + timed) and Verify once more — a fresh per-invocation temp
    * dir accumulated corpus-sized copies under /tmp indefinitely. The
    * memo reuses the session's copy (concurrent sessions still get their
    * own entries, preserving the no-overwrite property), and a JVM
    * shutdown hook removes everything written. Entries follow the SAME
    * invalidation protocol as persisted plans: a
    * PlanCache.invalidate(dir) sweep (the watch loop's
    * data-changed hook) deletes the copy, so a rewritten documents table
    * is re-serialized instead of read stale. No stopped-session
    * eviction: the shutdown hook needs the paths, and the map is bounded
    * by (sessions × dirs). */
  private val jsonlCopies =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()

  /** Test hook: the memoized copy location, if one exists. */
  private[graft] def jsonlCopyFor(spark: SparkSession, dir: String): Option[String] =
    Option(jsonlCopies.get((spark, dir)))

  private def deleteTree(p: String): Unit =
    try {
      val root = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.exists(root))
        java.nio.file.Files.walk(root)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(q => java.nio.file.Files.deleteIfExists(q))
    } catch { case _: Throwable => () }

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      jsonlCopies.values.forEach(deleteTree(_))
    }, "graft-jsonl-cleanup"))
    // Deliberately CROSS-SESSION: PlanCache.invalidate(dir) means "the
    // data under dir changed on disk", which makes every session's JSONL
    // copy of that dir stale — a session-scoped sweep would leave other
    // sessions serving round-trips of the old corpus. The cost is that a
    // sibling session mid-read over its (now deleted) copy fails and must
    // re-run — the correct outcome for a query over invalidated data, and
    // the same contract Spark applies to a table whose files are swapped
    // mid-scan. computeIfAbsent rebuilds the copy on next use.
    graft.PlanCache.onInvalidate { dir =>
      val it = jsonlCopies.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (dir.forall(_ == e.getKey._2)) { deleteTree(e.getValue); it.remove() }
      }
    }
  }

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
    * exist — then memoized (see [[jsonlCopies]]). */
  def ingestJsonl(spark: SparkSession, dir: String): DataFrame = {
    val tmp = jsonlCopies.computeIfAbsent((spark, dir), _ => {
      val t = java.nio.file.Files
        .createTempDirectory("graft_jsonl_").toString
      writeDocumentsJsonl(Tables.documents(spark, dir), t)
      t
    })
    readDocumentsJsonl(spark, tmp)
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
