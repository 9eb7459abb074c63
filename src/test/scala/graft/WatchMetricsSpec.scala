package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.WatchLoop

/** The watch loop's reload-metrics ledger (metrics.go:52 RecordReload
  * analogue): one row per micro-batch with duration/new-edge-count/error,
  * folded into the reference's snapshot counters. */
class WatchMetricsSpec extends AnyFunSuite with SparkFixture {

  test("watch loop records a per-batch reload ledger and snapshot") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val q = WatchLoop.start(spark, SfDir, mem.toDF().toDF("src", "dst"))
    try {
      assert(WatchLoop.metrics(spark, SfDir).totalReloads == 0L,
        "a fresh watch starts with a fresh ledger")
      mem.addData((0L, 888888L))
      q.processAllAvailable()
      val led1 = WatchLoop.reloadLedger(spark, SfDir).collect()
      assert(led1.map(_.getAs[Long]("n_new_edges")).sum == 1L,
        "the new edge is ledgered exactly once")
      assert(led1.forall(_.getAs[String]("error") == null))
      assert(led1.forall(_.getAs[Long]("duration_ms") >= 0L))
      val edgesAfter = led1.map(_.getAs[Long]("total_edges")).max
      assert(edgesAfter > 1L, "total_edges counts the seeded table too")
      // a re-notified edge is a no-op reload — still RECORDED (the
      // reference records every reload), appending zero edges
      mem.addData((0L, 888888L))
      q.processAllAvailable()
      val m = WatchLoop.metrics(spark, SfDir)
      assert(m.totalReloads >= 2L)
      assert(m.failedReloads == 0L)
      assert(m.successfulReloads == m.totalReloads)
      assert(m.currentEdgeCount == edgesAfter,
        "a no-op reload leaves the edge count unchanged")
      assert(WatchLoop.reloadLedger(spark, SfDir)
        .agg(sum(col("n_new_edges"))).head().getLong(0) == 1L)
    } finally {
      q.stop()
      WatchLoop.stop(spark, SfDir)
    }
  }

  test("the ledger counts the memos each reload dropped and kept") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val q = WatchLoop.start(spark, SfDir, mem.toDF().toDF("src", "dst"))
    try {
      // one memo over the edge table, one over orders and lineitem only
      operators.GraphOps.graphKhop(spark, SfDir).count()
      operators.GraphOps.graphDependents(spark, SfDir).count()
      def last() = WatchLoop.reloadLedger(spark, SfDir).collect().last
      mem.addData((0L, 777777L))
      q.processAllAvailable()
      val grown = last()
      assert(grown.getAs[Long]("n_new_edges") == 1L)
      assert(grown.getAs[Long]("n_memos_dropped") > 0L,
        "a batch with new edges drops the memos over the edge table")
      assert(grown.getAs[Long]("n_memos_kept") > 0L,
        "and keeps the memos that do not read it")
      mem.addData((0L, 777777L))
      q.processAllAvailable()
      val noop = last()
      assert(noop.getAs[Long]("n_new_edges") == 0L)
      assert(noop.getAs[Long]("n_memos_dropped") == 0L,
        "a no-op reload drops nothing")
    } finally {
      q.stop()
      WatchLoop.stop(spark, SfDir)
    }
  }

  test("a failing micro-batch is ledgered and the loop keeps serving") {
    // the reference's RecordReload(err) posture (metrics.go:62): a reload
    // whose index build throws bumps failedReloads and the loop keeps
    // serving the previous index — injected here by yanking the edge
    // table out from under one micro-batch (the "index files deleted on
    // disk" failure), then restoring it for the next
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val q = WatchLoop.start(spark, SfDir, mem.toDF().toDF("src", "dst"))
    try {
      mem.addData((0L, 555555L))
      q.processAllAvailable()
      assert(WatchLoop.metrics(spark, SfDir).failedReloads == 0L)
      val tbl = "graft_watch_edges" + SfDir.replaceAll("[^a-zA-Z0-9]", "_")
      val saved = spark.table(tbl).collect()
      val schema = spark.table(tbl).schema
      spark.sql(s"DROP TABLE $tbl")
      mem.addData((0L, 444444L))
      q.processAllAvailable()
      val m = WatchLoop.metrics(spark, SfDir)
      assert(m.failedReloads == 1L, "the broken batch must be ledgered")
      assert(m.lastError.exists(_.nonEmpty), "with its error recorded")
      assert(m.currentEdgeCount > 0L,
        "the snapshot keeps serving the pre-failure counters")
      // the failed batch's edge is STASHED, not lost: its edge is already
      // committed into the stream's dedup state (a re-notification would
      // be suppressed forever), so the retry table is the only road back
      val retryTbl = "graft_watch_retry" + SfDir.replaceAll("[^a-zA-Z0-9]", "_")
      assert(spark.table(retryTbl).filter(col("dst") === 444444L).count() == 1L,
        "the failed batch's edges land in the retry stash")
      // record-and-continue: after the table is repaired, the NEXT batch
      // lands normally — the loop never died — and RE-APPLIES the stash
      graft.sources.IndexStore.replaceTable(spark,
        spark.createDataFrame(java.util.Arrays.asList(saved: _*), schema), tbl)
      mem.addData((0L, 333333L))
      q.processAllAvailable()
      val m2 = WatchLoop.metrics(spark, SfDir)
      assert(m2.totalReloads == m.totalReloads + 1)
      assert(m2.failedReloads == 1L && m2.lastError.isEmpty,
        "post-repair batches succeed and the failure stays a ledger row")
      assert(m2.currentEdgeCount == m.currentEdgeCount + 2,
        "the repaired loop appends the new edge AND the stashed one")
      assert(spark.table(tbl).filter(col("dst") === 444444L).count() == 1L,
        "a transient failure loses nothing: the stashed edge is in the table")
      assert(!spark.catalog.tableExists(retryTbl),
        "a successful batch clears the re-applied stash")
    } finally {
      q.stop()
      WatchLoop.stop(spark, SfDir)
    }
  }

  test("metrics and the ledger read safely while a reload appends") {
    // the stream thread appends one row per micro-batch while callers
    // poll; a fail-fast iteration of the live ledger threw
    // ConcurrentModificationException under exactly this interleaving
    val dir = "concurrent-ledger"
    val ledger = new java.util.Vector[WatchLoop.ReloadRecord]()
    WatchLoop.ledgers.put((spark, dir), ledger)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val appender = new Thread(() => {
      var i = 0L
      while (!done.get()) {
        i += 1
        ledger.add(WatchLoop.ReloadRecord(i, 1L, 1L, i, None))
        java.util.concurrent.locks.LockSupport.parkNanos(20000L)
      }
    })
    try {
      appender.start()
      (1 to 2000).foreach { r =>
        val m = WatchLoop.metrics(spark, dir)
        assert(m.totalReloads == m.currentEdgeCount,
          "one consistent snapshot: the last row matches the row count")
        if (r % 100 == 0) WatchLoop.reloadLedger(spark, dir).count()
      }
    } finally {
      done.set(true)
      appender.join()
      WatchLoop.ledgers.remove((spark, dir))
    }
  }

  test("batch twin: counters reconcile and both outcomes are covered") {
    val rows = operators.ChunkOps.watchReloadLog(spark, SfDir)
      .orderBy("reload_id").collect()
    assert(rows.nonEmpty)
    val last = rows.last
    assert(last.getAs[Long]("total_reloads") == rows.length.toLong)
    assert(last.getAs[Long]("successful_reloads") +
      last.getAs[Long]("failed_reloads") == rows.length.toLong)
    val (failed, ok) = rows.partition(_.getAs[String]("error") != null)
    assert(failed.nonEmpty && ok.nonEmpty,
      "the md5 failure pattern must exercise both outcomes")
    failed.foreach { r =>
      assert(r.getAs[Long]("n_chunks") == 0L, "a failed reload loads 0 chunks")
      val base = Math.floorDiv(r.getAs[Long]("n_new_edges") + 9, 10) +
        operators.ChunkOps.ReloadBaseMs
      assert(r.getAs[Long]("duration_ms") == base * 3, "failed = timeout shape")
    }
    ok.foreach(r =>
      assert(r.getAs[Long]("n_chunks") == r.getAs[Long]("n_new_edges")))
  }
}
