package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions.cosineSim
import graft.operators.SearchOps
import graft.sources.IndexStore

/** One-stage single-query KNN: the query vector is a literal, and the
  * multi-probe ops rank their cells on the driver. */
class QueryVecSpec extends AnyFunSuite with SparkFixture {

  /** The executor-side probe ranking the driver-side one replaces: the
    * centroids cross-joined with the broadcast query row, rounded cosine,
    * ordered by score descending, then key. */
  private def dfRanking(spark: SparkSession, dir: String, cents: DataFrame,
      key: String, vec: String, n: Int): Seq[Int] =
    cents.crossJoin(broadcast(Tables.embeddings(spark, dir)
        .filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))))
      .select(col(key), round(cosineSim(col(vec), col("q_emb")), 4).as("cscore"))
      .orderBy(col("cscore").desc, col(key))
      .limit(n)
      .collect().map(_.getInt(0)).toSeq

  private def checkProbes(dir: String): Unit = {
    val k = Tables.embeddings(spark, dir).select("label").distinct().count().toInt
    (1 to k).foreach { n =>
      assert(SearchOps.ivfCells(spark, dir, n) ==
        dfRanking(spark, dir, SearchOps.ivfCentroids(spark, dir), "label", "centroid", n),
        s"$dir: IVF nprobe $n")
    }
    (1 to 8).foreach { n =>
      assert(SearchOps.kmeansCells(spark, dir, n) ==
        dfRanking(spark, dir, SearchOps.kmeansCents(spark, dir), "cluster", "c", n),
        s"$dir: k-means nprobe $n")
    }
  }

  private def writeEmbeddings(prefix: String, emb: DataFrame): String = {
    val dir = TempDirs(prefix).toString
    emb.coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("the driver-side probe equals the executor-side ranking") {
    Seq(SfDir, "/root/testdata/sf0.01").foreach(checkProbes)
  }

  test("a rounded centroid-score tie goes to the lower cell key") {
    val sparkS = spark
    import sparkS.implicits._
    // label 5's raw cosine to the query (0.70711) beats label 3's
    // (0.70710), but both round to 0.7071: the lower key must win
    val dir = writeEmbeddings("graft-tie", Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 2), (1L, Seq(1f, 0.1f, 0f, 0f), 2),
      (2L, Seq(1f, -1.00001f, 0f, 0f), 3), (3L, Seq(1f, 1f, 0f, 0f), 5),
      (4L, Seq(0f, 0f, 1f, 0f), 7)).toDF("vec_id", "embedding", "label"))
    try {
      checkProbes(dir)
      assert(SearchOps.ivfCells(spark, dir, 2) == Seq(2, 3))
      assert(SearchOps.ivfCells(spark, dir, 3) == Seq(2, 3, 5))
      val labels = SearchOps.vecKnnIvfProbe(spark, dir).collect().map(_.getInt(1)).toSet
      assert(labels.subsetOf(Set(2, 3)), labels)
    } finally PlanCache.invalidate(dir)
  }

  test("without a query vector every KNN op answers no rows") {
    val dir = writeEmbeddings("graft-noq",
      Tables.embeddings(spark, SfDir).filter(col("vec_id") =!= 0))
    Tables.documents(spark, SfDir).write.parquet(s"$dir/documents.parquet")
    try {
      val ops = Seq[(String, (SparkSession, String) => DataFrame)](
        "brute" -> SearchOps.vecKnnBrute, "ivf" -> SearchOps.vecKnnIvf,
        "ivf_probe" -> SearchOps.vecKnnIvfProbe, "min_score" -> SearchOps.vecKnnMinScore,
        "filtered" -> SearchOps.vecKnnFiltered, "kmeans" -> SearchOps.vecKnnKmeans,
        "hybrid" -> SearchOps.hybridSearch, "pq" -> SearchOps.vecKnnPq)
      ops.foreach { case (name, op) =>
        assert(op(spark, dir).collect().isEmpty, s"$name answers no rows")
      }
    } finally IndexStore.invalidateDerived(spark, dir)
  }

  test("a duplicated query vector fails loudly") {
    val emb = Tables.embeddings(spark, SfDir)
    val dir = writeEmbeddings("graft-dupq", emb.unionAll(emb.filter(col("vec_id") === 0)))
    try {
      val e = intercept[IllegalStateException](SearchOps.vecKnnBrute(spark, dir))
      assert(e.getMessage.contains("2 rows with vec_id 0"), e.getMessage)
    } finally PlanCache.invalidate(dir)
  }

  test("single-query KNN plans carry no broadcast outside cached memos") {
    val ops = Seq[(String, (SparkSession, String) => DataFrame)](
      "brute" -> SearchOps.vecKnnBrute, "ivf" -> SearchOps.vecKnnIvf,
      "ivf_probe" -> SearchOps.vecKnnIvfProbe, "min_score" -> SearchOps.vecKnnMinScore,
      "filtered" -> SearchOps.vecKnnFiltered, "kmeans" -> SearchOps.vecKnnKmeans)
    ops.foreach { case (name, op) =>
      val df = op(spark, SfDir)
      assert(df.collect().nonEmpty, name)
      val broadcasts = SparkFixture.planNodes(df).collect {
        case b: BroadcastExchangeExec => b.nodeName
        case j: BroadcastNestedLoopJoinExec => j.nodeName
      }
      assert(broadcasts.isEmpty,
        s"$name: $broadcasts\n${df.queryExecution.executedPlan}")
    }
  }

  test("vec_knn_ivf_probe pushes its probed labels into the parquet scan") {
    val df = SearchOps.vecKnnIvfProbe(spark, SfDir)
    df.collect()
    val pushed = SparkFixture.planNodes(df).collect {
      case s: FileSourceScanExec => s.metadata.getOrElse("PushedFilters", "")
    }
    assert(pushed.exists(_.contains("In(label,")),
      s"probed labels in PushedFilters: $pushed")
  }
}
