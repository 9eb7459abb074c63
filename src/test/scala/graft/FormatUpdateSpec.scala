package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{GraphOps, PatternOps}

/** symbols_format (formatter.go analogue) and graph_update_incremental
  * (graph_updater.go analogue). */
class FormatUpdateSpec extends AnyFunSuite with SparkFixture {

  test("symbols_format renders the formatter block structure") {
    import spark.implicits._
    // "table x" -> type x, "query y" -> function y, "batch z" -> import
    val docs = Seq(
      (1L, "batch alpha table foo query bar stream baz table qux"),
      (2L, "no declarations here at all"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val dir = TempDirs("fmt").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = PatternOps.symbolsFormat(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val (text, n) = out(1L)
    assert(n == 5L)
    // blocks in import -> type -> function -> stream order, entries by pos
    assert(text ==
      """Imports: 1 packages
        |
        |Types:
        |  - foo (tok 3)
        |  - qux (tok 9)
        |
        |Functions:
        |  - bar (tok 5)
        |
        |Streams:
        |  - baz (tok 7)""".stripMargin)
    assert(!out.contains(2L), "symbol-free docs produce no chunk")
  }

  test("graph_context windows the token array around each declaration") {
    import spark.implicits._
    val docs = Seq(
      // decl at pos 2 ("table"): window clips at the left edge
      (1L, "a table foo b c d e f g h i j"),
      // decl near the end: window clips at the right edge
      (2L, "a b c d e query bar"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val dir = TempDirs("ctx").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = GraphOps.graphContext(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(4))).toSet
    assert(out.contains((1L,
      "foo", "// toks 1-8\na table foo b c d e f")))
    assert(out.contains((2L,
      "bar", "// toks 1-7\na b c d e query bar")))
  }

  test("graph update delta partitions the corpus by change status") {
    val out = GraphOps.graphUpdateIncremental(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getString(4)))
    val byAction = out.groupBy(_._5)
    assert(byAction.keySet == Set("carried", "refreshed", "deleted"))
    // action agrees with the snapshot convention per doc
    out.foreach { case (id, _, _, _, action) =>
      val expected = if (id % 7 == 0) "deleted"
        else if (id % 5 == 0) "refreshed" else "carried"
      assert(action == expected, s"doc $id: $action != $expected")
    }
    // carried + deleted rows are exactly the OLD extraction of their docs
    val old = operators.PatternOps.symbolsExtract(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    val untouched = out.filter(t => t._5 != "refreshed")
      .map(t => (t._1, t._2, t._3, t._4)).toSet
    assert(untouched == old.filter(t => t._1 % 5 != 0 || t._1 % 7 == 0))
    // refreshed docs re-extract from the NEW text: the rev2 token follows
    // any trailing declaration keyword, so extraction really re-ran —
    // verify at least the doc sets agree with old changed docs
    val refreshedDocs = out.filter(_._5 == "refreshed").map(_._1).toSet
    val changedWithSymbols = old.map(_._1)
      .filter(id => id % 5 == 0 && id % 7 != 0)
    assert(changedWithSymbols.forall(refreshedDocs.contains))
  }

  test("graph update re-extraction picks up edits in changed docs") {
    import spark.implicits._
    // doc 5 (changed): text ENDS with a keyword, so rev2 becomes a new
    // symbol in the refreshed extraction — the case that proves the
    // refreshed rows come from the new text, not a copy of the old
    val docs = Seq(
      (5L, "query alpha table"),
      (3L, "table beta"),
      (7L, "stream gamma"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val dir = TempDirs("gud").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = GraphOps.graphUpdateIncremental(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(4)))
    assert(out.contains((5L, "rev2", "type", "refreshed")),
      s"the trailing keyword must capture rev2 as a fresh symbol: ${out.toSeq}")
    assert(out.contains((3L, "beta", "type", "carried")))
    assert(out.contains((7L, "gamma", "stream", "deleted")))
  }
}
