package perfbench

import java.math.MathContext
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.{GraftConf, SparkEntry}
import graft.sources.IndexStore
import graft.streaming.WatchLoop

/** The JVM half of the benchmark. It reads the inputs `run.py` generated
  * from the workload seed, drives graft only through its public calls
  * (`SparkEntry.queries`, `IndexStore.index`/`docsTable`,
  * `WatchLoop.start`/`metrics`/`reloadLedger`/`stop`), and writes every
  * raw timing, check and trace record to one JSON file. All arithmetic
  * on those records (percentiles, self times, checks against the
  * expected outputs) happens in `report.py`.
  *
  *     GraftBench INPUTS_JSON RAW_OUT_JSON
  */
object GraftBench {

  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch milliseconds with sub-millisecond digits, on the
    * same scale as the listener's job and stage timestamps. */
  def now(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  final class Req(val id: Long, val query: String, val phase: String) {
    var start = 0.0
    var constructEnd = Double.NaN
    var planStart = Double.NaN
    var planEnd = Double.NaN
    var end = 0.0
    var error: String = null
    var codegenCompiles = 0L
    var codegenMs = 0.0
    var tablesBuilt = 0L
    var hookMs = 0.0
    var rows = -1L
    var hash: String = null
    var schema: String = null

    def json: java.util.Map[String, AnyRef] = Json.obj("id" -> id,
      "query" -> query, "phase" -> phase,
      "start" -> start, "construct_end" -> constructEnd,
      "plan_start" -> planStart, "plan_end" -> planEnd, "end" -> end,
      "error" -> error, "codegen_compiles" -> codegenCompiles,
      "codegen_ms" -> codegenMs, "tables_built" -> tablesBuilt,
      "hook_ms" -> hookMs, "rows" -> rows, "hash" -> hash, "schema" -> schema)
  }

  final case class Conf(workload: String, corpus: String, runDir: String,
      cpus: Int, seconds: Double, trace: Boolean, setups: Int, in: JsonNode)

  def main(args: Array[String]): Unit = {
    if (args(0) == "--list") {
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    val in = Json.read(args(0))
    val c = Conf(in.get("workload").asText(), in.get("corpus").asText(),
      in.get("run_dir").asText(), in.get("cpus").asInt(),
      in.get("seconds").asDouble(), in.get("trace").asBoolean(),
      in.get("setups").asInt(), in)
    val out = new Bench(c).run()
    Json.write(args(1), out)
  }

  /** Order-independent content hash of a query's rows: the wrapping sum
    * of one 64-bit hash per row over a canonical rendering in which
    * floating-point values keep 8 significant digits, so that a
    * last-bit difference in a floating sum does not read as a wrong
    * answer. */
  def contentHash(rows: Iterator[Row]): (Long, Long) = {
    var n = 0L
    var h = 0L
    rows.foreach { r =>
      val s = canon(r)
      h += (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
      n += 1
    }
    (n, h)
  }

  private val Digits = new MathContext(8)

  private def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => num(b.doubleValue)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ">" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(Digits).stripTrailingZeros.toString

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  def treeBytes(p: Path, keep: Path => Boolean): Long =
    if (!Files.isDirectory(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && keep(f))
        .mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}

final class Bench(c: GraftBench.Conf) {
  import GraftBench._

  private val warehouse = Paths.get(c.runDir, "warehouse")
  private val checkpoints = Paths.get(c.runDir, "checkpoints")
  private val queries = SparkEntry.queries
  private val requests = new ConcurrentLinkedQueue[Req]()
  private var nextId = 0L
  private var tracer: Tracer = null

  private def newSession(): SparkSession = SparkSession.builder()
    .master(s"local[${c.cpus}]")
    .appName("graft-perfbench")
    .config("spark.sql.shuffle.partitions", c.cpus.toString)
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.files.maxPartitionBytes",
      GraftConf.splitBytes(c.corpus, c.cpus, Map.empty).toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.codegen.cache.maxEntries", "4096")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", warehouse.toString)
    .config("spark.local.dir", Paths.get(c.runDir, "local").toString)
    .config("spark.sql.streaming.checkpointLocation", checkpoints.toString)
    .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    .getOrCreate()

  private final case class Setup(spark: SparkSession,
      timing: java.util.Map[String, AnyRef],
      watch: Option[(StreamingQuery, MemoryStream[(Long, Long)])])

  /** Session, index build and (for watch-churn) a seeded watch loop: the
    * work every caller pays before its first answer. */
  private def setUp(): Setup = {
    deleteTree(warehouse)
    deleteTree(checkpoints)
    val t0 = now()
    val spark = newSession()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = now()
    val tables = IndexStore.index(spark, c.corpus)
    require(IndexStore.docsTable(spark, c.corpus) == tables.docs,
      "docsTable must name the table index() built")
    val t2 = now()
    val watch = if (c.workload != "watch-churn") None else {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val s = spark
      import s.implicits._
      val mem = MemoryStream[(Long, Long)]
      val q = WatchLoop.start(spark, c.corpus, mem.toDF().toDF("src", "dst"))
      Some((q, mem))
    }
    val t3 = now()
    Setup(spark, Json.obj("session_s" -> (t1 - t0) / 1e3,
      "index_s" -> (t2 - t1) / 1e3, "watch_s" -> (t3 - t2) / 1e3,
      "total_s" -> (t3 - t0) / 1e3), watch)
  }

  private def tearDown(s: Setup): Unit = {
    s.watch.foreach { case (q, _) => q.stop(); WatchLoop.stop(s.spark, c.corpus) }
    s.spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def cacheBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def storedBytes(): Long = treeBytes(warehouse,
    f => warehouse.relativize(f).getName(0).toString.startsWith("graft_"))

  private def graftTables(spark: SparkSession): Long =
    spark.sessionState.catalog.listTables("default", "graft_*").size.toLong

  /** One request: build the DataFrame through `SparkEntry.queries`, then
    * collect its rows, the answer a caller receives. Rows are counted and
    * hashed after the clock has stopped, so every request's output can be
    * checked. */
  private def request(spark: SparkSession, q: String, phase: String): Req = {
    var rows: Array[Row] = null
    val r = synchronized { nextId += 1; new Req(nextId, q, phase) }
    val sc = spark.sparkContext
    var compiles0 = 0L
    var compileNs0 = 0L
    var tables0 = 0L
    if (c.trace) {
      val h0 = now()
      compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      compileNs0 = CodeGenerator.compileTime
      tables0 = graftTables(spark)
      r.hookMs += now() - h0
    }
    sc.setLocalProperty(Tracer.RequestProperty, r.id.toString)
    r.start = now()
    try {
      val df = queries(q)(spark, c.corpus)
      r.constructEnd = now()
      rows = df.collect()
      r.end = now()
      // optimization through physical planning, from the planning tracker
      // of the query execution the collect ran (the DataFrame was analysed
      // eagerly while it was built)
      val ph = df.queryExecution.tracker.phases
      for {
        o <- ph.get(QueryPlanningTracker.OPTIMIZATION)
        p <- ph.get(QueryPlanningTracker.PLANNING)
      } { r.planStart = o.startTimeMs.toDouble; r.planEnd = p.endTimeMs.toDouble }
      r.schema = df.schema.fields.map(f => f.name + ":" + f.dataType.simpleString)
        .mkString(",")
    } catch {
      case t: Throwable =>
        r.end = now()
        r.error = (t.getClass.getSimpleName + ": " + t.getMessage).take(400)
    } finally sc.setLocalProperty(Tracer.RequestProperty, null)
    if (c.trace) {
      val h0 = now()
      r.codegenCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      r.codegenMs = (CodeGenerator.compileTime - compileNs0) / 1e6
      r.tablesBuilt = graftTables(spark) - tables0
      r.hookMs += now() - h0
    }
    if (rows != null) {
      val (n, h) = contentHash(rows.iterator)
      r.rows = n
      r.hash = f"$h%016x"
    }
    requests.add(r)
    r
  }

  private def names(key: String): Seq[String] =
    Option(c.in.get(key)).map(Json.strings).getOrElse(Nil)

  private def passes(key: String): Seq[Seq[String]] =
    Option(c.in.get(key)).map(_.elements().asScala.map(Json.strings).toSeq)
      .getOrElse(Nil)

  def run(): java.util.Map[String, AnyRef] = {
    val unknown = (names("cold") ++ passes("steady").flatten ++
      passes("churn_rounds").flatten)
      .distinct.filterNot(queries.contains)
    require(unknown.isEmpty, s"inputs name unknown queries: $unknown")
    val setupTimes = new java.util.ArrayList[AnyRef]()
    var s: Setup = null
    for (i <- 1 to c.setups) {
      if (s != null) tearDown(s)
      s = setUp()
      setupTimes.add(s.timing)
    }
    val spark = s.spark
    tracer = new Tracer(spark.sparkContext, c.trace)
    spark.sparkContext.addSparkListener(tracer)
    val coldStart = now()
    names("cold").foreach(q => request(spark, q, "cold"))
    val coldEnd = now()
    val cacheAfterCold = cacheBytes(spark)
    // the index and every table the cold pass built; watch-churn's edge
    // appends come later and depend on how many batches a run sends
    val storedAfterCold = storedBytes()
    val out = Json.obj("setups" -> setupTimes)
    // the cold pass checked the graph reads against the base edges,
    // before any churn
    val watchOut = s.watch.map { case (q, mem) => new Churn(spark, q, mem).run() }
    val steadyStart = now()
    if (watchOut.isEmpty) steady(spark)
    val steadyEnd = if (watchOut.isEmpty) now() else watchOut.get._2
    val sc = spark.sparkContext
    val end = Json.obj(
      "cache_bytes_after_cold" -> cacheAfterCold,
      "cache_bytes" -> cacheBytes(spark),
      "cached_rdds" -> sc.getRDDStorageInfo.length,
      "stored_bytes_after_cold" -> storedAfterCold,
      "stored_bytes" -> storedBytes(),
      "corpus_bytes" -> treeBytes(Paths.get(c.corpus),
        _.getFileName.toString.endsWith(".parquet")),
      "graft_tables" -> graftTables(spark))
    out.put("drained", Boolean.box(tracer.drain()))
    if (c.trace) {
      out.put("jobs", tracer.jobsJson)
      out.put("stages", tracer.stagesJson)
    }
    out.put("cold_window", Json.arr(coldStart, coldEnd))
    out.put("steady_window", Json.arr(
      if (watchOut.isEmpty) steadyStart else watchOut.get._3, steadyEnd))
    out.put("requests", Json.arr(requests.asScala.toSeq.sortBy(_.id).map(_.json): _*))
    out.put("end_state", end)
    watchOut.foreach(w => out.put("watch", w._1))
    out.put("spark_conf", Json.obj(spark.conf.getAll.toSeq.sorted: _*))
    out.put("max_heap_bytes", Long.box(Runtime.getRuntime.maxMemory))
    tearDown(s)
    out
  }

  /** The steady phase: one closed-loop client sends every request of
    * the generated rounds, so each run of a workload measures the same
    * requests. */
  private def steady(spark: SparkSession): Unit =
    passes("steady").flatten.foreach(q => request(spark, q, "warm"))

  /** watch-churn: an open-loop writer thread feeds seeded edge batches to
    * the watch loop's MemoryStream on a fixed schedule for as long as this
    * thread runs the closed-loop reader. A poller stamps when each ledger
    * row appears, so `report.py` can time every batch from when it was
    * due. Returns the watch record and the reader's end and start. */
  private final class Churn(spark: SparkSession, q: StreamingQuery,
      mem: MemoryStream[(Long, Long)]) {
    private val ch = c.in.get("churn")
    private val period = ch.get("period_ms").asDouble()
    private val batches = ch.get("batches").elements().asScala.map { b =>
      def edges(k: String) = b.get(k).elements().asScala
        .map(e => (e.get(0).asLong(), e.get(1).asLong())).toSeq
      (edges("new"), edges("renotify"))
    }.toIndexedSeq
    private val stop = new AtomicBoolean(false)
    private val readerDone = new AtomicBoolean(false)
    private val sent = new ConcurrentLinkedQueue[java.util.Map[String, AnyRef]]()
    private val appeared = new ConcurrentLinkedQueue[java.util.Map[String, AnyRef]]()
    private var writerError: String = null
    @volatile private var metricsRetries = 0L

    /** WatchLoop.metrics copies the ledger while the stream thread may be
      * appending to it, which can throw; such a read is retried and
      * counted. */
    @annotation.tailrec
    private def reloads(): WatchLoop.ReloadSnapshot =
      scala.util.Try(WatchLoop.metrics(spark, c.corpus)) match {
        case scala.util.Success(m) => m
        case scala.util.Failure(_: java.util.ConcurrentModificationException) =>
          metricsRetries += 1
          reloads()
        case scala.util.Failure(e) => throw e
      }

    private def sleepUntil(t: Double): Unit = {
      var d = t - now()
      while (d > 0 && !readerDone.get()) {
        Thread.sleep(math.max(1L, math.min(d.toLong, 50L)))
        d = t - now()
      }
    }

    private val poller = new Thread(() => {
      var seen = 0L
      while (!stop.get() || seen < reloads().totalReloads) {
        val n = reloads().totalReloads
        val t = now()
        while (seen < n) { appeared.add(Json.obj("index" -> seen, "at" -> t)); seen += 1 }
        Thread.sleep(2)
      }
    }, "perfbench-ledger-poller")

    private def send(i: Int, due: Double): Unit = {
      val (fresh, renotify) = batches(i)
      val off = mem.addData(fresh ++ renotify)
      sent.add(Json.obj("batch" -> i, "due" -> due, "sent" -> now(),
        "offset" -> off.json().toLong))
    }

    def run(): (java.util.Map[String, AnyRef], Double, Double) = {
      poller.setDaemon(true)
      poller.start()
      val t0 = now()
      // every batch but the last, on schedule while the reader runs
      val writer = new Thread(() => {
        try {
          var i = 0
          while (i < batches.size - 1 && !readerDone.get()) {
            val due = t0 + i * period
            sleepUntil(due)
            if (!readerDone.get()) send(i, due)
            i += 1
          }
        } catch { case t: Throwable => writerError = t.toString }
      }, "perfbench-writer")
      writer.start()
      val edgeTable = spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_watch_edges"))
      val views = new java.util.ArrayList[AnyRef]()
      // each round starts once edges newer than the previous round's have
      // landed, so every round reads right after a reload that dropped its
      // memos, however fast or slow the host runs
      var edgesSeen = ch.get("base_edges").asLong()
      var readStart = Double.NaN
      passes("churn_rounds").zipWithIndex.foreach { case (round, i) =>
        val giveUp = now() + 60e3
        while (reloads().currentEdgeCount <= edgesSeen && now() < giveUp)
          Thread.sleep(5)
        // before the round's clock starts: the edges its reads will see,
        // counted through the reader's own session, beside the ledger's
        // count of the edges applied so far, counted again until no
        // reload lands in between
        var ledgerBefore = -1L
        var view: Option[Long] = None
        var probes = 0
        while (ledgerBefore != reloads().currentEdgeCount) {
          ledgerBefore = reloads().currentEdgeCount
          view = edgeTable.headOption.map(t => spark.table(t).distinct().count())
          probes += 1
        }
        edgesSeen = ledgerBefore
        views.add(Json.obj("round" -> i, "reader_view" -> view,
          "ledger_before" -> ledgerBefore, "probes" -> probes))
        if (readStart.isNaN) readStart = now()
        round.foreach(q => request(spark, q, "warm"))
      }
      val readEnd = now()
      readerDone.set(true)
      writer.join()
      // drain outside the timed window: every batch sent must land. The
      // last batch, re-notifications only, then goes in alone, so every
      // run has one whole no-op reload
      q.processAllAvailable()
      send(batches.size - 1, now())
      q.processAllAvailable()
      stop.set(true)
      poller.join()
      val ledger = WatchLoop.reloadLedger(spark, c.corpus).collect().map { r =>
        Json.obj("batch_id" -> r.getAs[Long]("batch_id"),
          "duration_ms" -> r.getAs[Long]("duration_ms"),
          "n_new_edges" -> r.getAs[Long]("n_new_edges"),
          "total_edges" -> r.getAs[Long]("total_edges"),
          "error" -> Option(r.getAs[String]("error")))
      }
      val progress = q.recentProgress.map { p =>
        Json.obj("batch_id" -> p.batchId,
          "end_offset" -> Option(p.sources.headOption.map(_.endOffset).orNull)
            .map(_.trim.toLong))
      }
      val m = reloads()
      val base = spark.read.parquet(s"${c.corpus}/lineitem.parquet")
        .select("l_suppkey", "l_partkey").distinct().count()
      (Json.obj("sent" -> Json.arr(sent.asScala.toSeq: _*),
        "appeared" -> Json.arr(appeared.asScala.toSeq: _*),
        "ledger" -> Json.arr(ledger.toSeq: _*),
        "progress" -> Json.arr(progress.toSeq: _*),
        "failed_reloads" -> m.failedReloads,
        "total_reloads" -> m.totalReloads,
        "edge_tables" -> Json.arr(edgeTable.toSeq: _*),
        "round_views" -> views,
        // the table's content, read through a session with no cached
        // relation, and what the reader's own session sees of it
        "edge_distinct" -> edgeTable.headOption
          .map(t => spark.newSession().table(t).distinct().count()),
        "edge_distinct_reader_view" -> edgeTable.headOption
          .map(t => spark.table(t).distinct().count()),
        "base_edges" -> base,
        "writer_error" -> writerError,
        "metrics_read_retries" -> metricsRetries), readEnd, readStart)
    }
  }
}
