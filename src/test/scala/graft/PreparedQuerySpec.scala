package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.graft.CoreBridge

/** Prepared registry queries: `SparkEntry.queries` memoizes each query's
  * constructed, analyzed plan per (session, dir, conf) — a plan, never an
  * answer. */
class PreparedQuerySpec extends AnyFunSuite with SparkFixture {

  private def call(name: String, dir: String = SfDir): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString(",")).sorted.toSeq

  /** The input bytes the tasks of `body`'s jobs read. */
  private def scanBytes(body: => Unit): Long = {
    val sc = spark.sparkContext
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    }
    CoreBridge.waitUntilListenerBusEmpty(sc, 60000)
    sc.addSparkListener(listener)
    try { body; CoreBridge.waitUntilListenerBusEmpty(sc, 60000) }
    finally sc.removeSparkListener(listener)
    bytes.get
  }

  test("two calls share one analyzed plan in distinct query executions") {
    val (a, b) = (call("fts_bm25"), call("fts_bm25"))
    assert(a ne b)
    assert(a.queryExecution ne b.queryExecution)
    assert(a.queryExecution.analyzed eq b.queryExecution.analyzed)
    assert(PlanCache.lookup(spark, SfDir, "query:fts_bm25").exists(p =>
      p.asInstanceOf[DataFrame].queryExecution.analyzed eq a.queryExecution.analyzed))
  }

  test("each collect of a prepared query reads its input again") {
    // a one-stage scan, and an aggregate whose executed plan keeps its
    // materialized shuffle: a reused QueryExecution would skip the scan
    Seq("fts_bm25", "q1_agg").foreach { name =>
      val (a, b) = (call(name), call(name))
      val first = scanBytes(a.collect())
      val second = scanBytes(b.collect())
      assert(first > 0, s"$name reads its table")
      assert(second == first, s"$name: the second call scans what the first scanned")
      assert(rows(a) == rows(b))
    }
  }

  test("a table rewritten and swept is seen by the next call") {
    val dir = TempDirs("graft-prep").toString
    val docs = Tables.documents(spark, SfDir)
    def write(parity: Int): Unit = docs.filter(col("doc_id") % 2 === parity)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def fromFiles(): Seq[String] = rows(spark.read.parquet(s"$dir/documents.parquet")
      .filter(lower(col("text")).contains("data query"))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("n_chars").desc, col("doc_id")).limit(20))
    try {
      write(0)
      val even = rows(call("fts_phrase", dir))
      assert(even.nonEmpty && even == fromFiles())
      write(1)
      PlanCache.invalidate(dir, s"$dir/documents.parquet")
      assert(PlanCache.lookup(spark, dir, "query:fts_phrase").isEmpty,
        "the sweep of the documents drops the prepared query")
      val odd = rows(call("fts_phrase", dir))
      assert(odd.nonEmpty && odd != even)
      assert(odd == fromFiles())
    } finally PlanCache.invalidate(dir)
  }

  test("a build that throws installs nothing") {
    val emb = Tables.embeddings(spark, SfDir)
    val dir = TempDirs("graft-prepdup").toString
    emb.unionAll(emb.filter(col("vec_id") === 0))
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    try {
      val e = intercept[IllegalStateException](call("vec_knn_brute", dir))
      assert(e.getMessage.contains("2 rows with vec_id 0"), e.getMessage)
      assert(PlanCache.lookup(spark, dir, "query:vec_knn_brute").isEmpty)
      intercept[IllegalStateException](call("vec_knn_brute", dir))
    } finally PlanCache.invalidate(dir)
  }

  test("a call under another SQL conf replaces the prepared entry") {
    val Knob = "spark.graft.preparedSpecKnob"
    val before = call("fts_phrase")
    val n = PlanCache.size(SfDir)
    def prepared() = PlanCache.lookup(spark, SfDir, "query:fts_phrase").get
    val installed = prepared()
    spark.conf.set(Knob, "1")
    try {
      val under = call("fts_phrase")
      assert(under.queryExecution.analyzed ne before.queryExecution.analyzed)
      assert(prepared().asInstanceOf[AnyRef] ne installed.asInstanceOf[AnyRef])
      assert(PlanCache.size(SfDir) == n, "one entry per query, not one per conf")
      assert(rows(under) == rows(before))
    } finally spark.conf.unset(Knob)
    assert(call("fts_phrase").queryExecution.analyzed ne
      before.queryExecution.analyzed, "back at the first conf, it rebuilds again")
  }
}
