package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.CorpusIO

class CorpusIOSpec extends AnyFunSuite with SparkFixture {

  test("jsonl round-trip preserves every row and column exactly") {
    import spark.implicits._
    val out = TempDirs("graft-jsonl").toString
    // the corpus text is single-line ascii, so plant one adversarial doc
    // exercising the JSON escape paths: newlines, quotes, backslashes,
    // tabs, and non-ascii
    val nasty = (-1L, "line1\nline2\t\"quoted\" \\back\\ κόσμε ✓", "en",
      "srcX", 42L)
    val docs = Tables.documents(spark, SfDir)
      .union(Seq(nasty).toDF("doc_id", "text", "lang", "source", "n_chars"))
    CorpusIO.writeDocumentsJsonl(docs, out)
    val back = CorpusIO.readDocumentsJsonl(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSet
    val orig = docs
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSet
    assert(back == orig)
    assert(back.contains(nasty))
  }

  test("a PlanCache invalidation sweep evicts and deletes the jsonl copy") {
    // the memo must follow the same data-changed protocol as persisted
    // plans: a rewritten documents table may not be read from a stale copy
    CorpusIO.ingestJsonl(spark, SfDir).collect()
    val copy = CorpusIO.jsonlCopyFor(spark, SfDir)
    assert(copy.isDefined, "ingest must memoize its copy")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(copy.get)))
    PlanCache.invalidate(SfDir)
    assert(CorpusIO.jsonlCopyFor(spark, SfDir).isEmpty, "memo evicted")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(copy.get)),
      "the stale copy is deleted, not leaked")
    // and the next ingest re-serializes from the (possibly new) table
    assert(CorpusIO.ingestJsonl(spark, SfDir).count() > 0)
    assert(CorpusIO.jsonlCopyFor(spark, SfDir).exists(_ != copy.get))
  }

  test("the explicit schema skips inference and FAILFAST rejects corrupt lines") {
    val dir = TempDirs("graft-jsonl-bad")
    java.nio.file.Files.write(dir.resolve("part-0.json"),
      java.util.Arrays.asList(
        """{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}""",
        """{"doc_id": broken"""))
    assert(CorpusIO.readDocumentsJsonl(spark, dir.toString).schema ==
      CorpusIO.documentsSchema)
    val e = intercept[org.apache.spark.SparkException] {
      CorpusIO.readDocumentsJsonl(spark, dir.toString).collect()
    }
    assert(e.getMessage.toLowerCase.contains("malformed") ||
      Option(e.getCause).exists(_.getMessage.toLowerCase.contains("malformed")))
  }
}
