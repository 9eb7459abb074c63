package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.ArrayFunctions.termFreqs
import graft.functions.Tokenize
import graft.operators.SearchOps
import graft.operators.SearchOps.Terms
import graft.sources.IndexStore

/** BM25's corpus statistics are a value memo bound into the scoring scan
  * as literals; the per-request aggregate they replace is kept here as
  * the reference. */
class Bm25StatsSpec extends AnyFunSuite with SparkFixture {

  /** Per document: its length and each probe term's frequency. */
  private def base(ts: DataFrame): DataFrame = ts
    .withColumn("tfs", termFreqs(col("ts"), Terms))
    .select(Seq(col("doc_id"), size(col("ts")).cast("double").as("dl")) ++
      Terms.indices.map(i => element_at(col("tfs"), i + 1).cast("double").as(s"tf$i")): _*)

  /** The per-request statistics row: N, avgdl, df per probe term. */
  private def statsRow(b: DataFrame): DataFrame = {
    val cols = Seq(count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl")) ++
      Terms.indices.map(i => sum(when(col(s"tf$i") > 0, 1).otherwise(0)).cast("double").as(s"df$i"))
    b.agg(cols.head, cols.tail: _*)
  }

  /** The sf0.01 corpus beside the fixture's. */
  private val Sf001 = new java.io.File(SfDir).getParent + "/sf0.01"

  private def indexToks(dir: String): DataFrame =
    spark.table(IndexStore.docsTable(spark, dir)).select(col("doc_id"), col("toks").as("ts"))

  private def textToks(dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"), Tokenize.tokens(col("text")).as("ts"))

  test("the memoized statistics equal the per-request aggregate") {
    Seq(SfDir, Sf001).foreach { dir =>
      val memo = SearchOps.bm25Stats(spark, dir)
      // fts_bm25 scored the index's tokens, fts_search_page the text's
      Seq(indexToks(dir), textToks(dir)).foreach { ts =>
        assert(memo == statsRow(base(ts)).head().toSeq, dir)
      }
    }
  }

  test("fts_bm25 ranks as the cross-joined statistics row did") {
    val dir = Sf001
    val b = base(indexToks(dir))
    val (k1, bb) = (1.2, 0.75)
    val score = Terms.indices.map { i =>
      val idf = log((col("n_docs") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5) + 1)
      val norm = col(s"tf$i") + lit(k1) * (lit(1 - bb) + lit(bb) * col("dl") / col("avgdl"))
      idf * (col(s"tf$i") * lit(k1 + 1)) / norm
    }.reduce(_ + _)
    val reference = b.crossJoin(broadcast(statsRow(b)))
      .select(col("doc_id"), functions.VectorFunctions.fastRound(score, 4).as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id")).limit(20)
    def bits(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1)))).toSeq
    val got = bits(SparkEntry.queries("fts_bm25")(spark, dir))
    assert(got.nonEmpty && got == bits(reference))
  }

  test("a docs-only corpus with zero rows scores no rows") {
    val dir = TempDirs("graft-bm25empty").toString
    Tables.documents(spark, SfDir).limit(0).write.parquet(s"$dir/documents.parquet")
    try {
      assert(statsRow(base(indexToks(dir))).head().toSeq == Seq(0.0, null, null, null, null))
      assert(SearchOps.bm25Stats(spark, dir) == Seq(0.0, null, null, null, null))
      assert(SearchOps.ftsBm25(spark, dir).collect().isEmpty)
      assert(SearchOps.ftsSearchPage(spark, dir).collect().isEmpty)
    } finally IndexStore.invalidateDerived(spark, dir)
  }

  test("BM25 plans carry no nested-loop join and no aggregate outside cached memos") {
    Seq("fts_bm25", "fts_search_page").foreach { name =>
      val df = SparkEntry.queries(name)(spark, SfDir)
      assert(df.collect().nonEmpty, name)
      val found = SparkFixture.planNodes(df).collect {
        case j: BroadcastNestedLoopJoinExec => j.nodeName
        case a: HashAggregateExec => a.nodeName
      }
      assert(found.isEmpty, s"$name: $found\n${df.queryExecution.executedPlan}")
    }
  }
}
