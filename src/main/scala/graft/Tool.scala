package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool, outside the SparkEntry contract: one main for plan evidence
  * and attribution studies, on the session Bench and Verify build
  * ([[GraftSession]]), so its plans and timings describe what they run.
  *
  * Usage: runMain graft.Tool <mode> <corpusDir> [args...]
  *   - `plans [query...]`: run each query (default: all) through a noop
  *     write, then print its final, post-AQE formatted plan under a
  *     `===== plan <name> =====` header, which the formatted plan's own
  *     `===== Subqueries =====` cannot match (scripts/capture_plans.sh
  *     splits on it);
  *   - `time query...`: one warm run, then [[TimedRuns]] timed runs;
  *   - `stages [substring...]`: for each query whose name contains one
  *     of the substrings (default: all), one warm run, then one run
  *     split into construct / plan / execute with per-stage task time,
  *     task count and shuffle bytes;
  *   - `bucketed count...`: the band-join families of [[BucketFamilies]]
  *     timed under each pinned index bucket count;
  *   - `knn`: the batch-KNN exact pair builder over the label cells,
  *     join only and scored, vs the full operator (scored pairs + top-3
  *     tail).
  */
object Tool {

  val TimedRuns = 3

  /** Queries whose index tables are bucketed, by the family whose
    * preferred bucket count differs (IndexStore.buckets). */
  val BucketFamilies: Seq[(String, Seq[String])] = Seq(
    "embedding" -> Seq("vec_knn_join", "vec_knn_join_ann", "dedup_embedding"),
    "text" -> Seq("dedup_simhash", "dedup_minhash_lsh", "dedup_ngram_jaccard",
      "dedup_incremental"))

  // noop write, not count(): count() prunes every column, so
  // projection-only queries would skip their real work
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def secs(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** One warm run, then [[TimedRuns]] timed runs: (warm, timed) seconds. */
  private def warmThenTimed(df: => DataFrame): (Double, Seq[Double]) =
    (secs(noop(df)), Seq.fill(TimedRuns)(secs(noop(df))))

  /** The named queries, or every query when none is named. */
  private def named(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] =
    (if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names)
      .map(n => n -> SparkEntry.queries(n))

  /** Waits until the async listener bus has delivered every event queued
    * so far, so a listener removed next has seen the whole run. */
  private def drainListeners(spark: SparkSession): Unit =
    try org.apache.spark.graft.CoreBridge
      .waitUntilListenerBusEmpty(spark.sparkContext, 10000)
    catch { case _: java.util.concurrent.TimeoutException => Thread.sleep(500) }

  /** The executed plan of a noop write of each query: explained after
    * the write, so the adaptive plan is the final one the run used. The
    * listener goes on the query's own session: an operator may bind its
    * plan to a clone (TopKAgg.posture), whose listener manager is not
    * the caller's. */
  private def plans(spark: SparkSession, dir: String, names: Seq[String]): Unit = {
    @volatile var last: QueryExecution = null
    val listener = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = last = qe
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    named(names).foreach { case (n, f) =>
      last = null
      val df = f(spark, dir)
      val session = df.sparkSession
      session.listenerManager.register(listener)
      try {
        noop(df)
        drainListeners(session)
      } finally session.listenerManager.unregister(listener)
      println(s"===== plan $n =====")
      println(Option(last).fold("(no plan recorded)")(_.explainString(FormattedMode)))
    }
  }

  private def time(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    named(names).foreach { case (n, f) =>
      val (_, ts) = warmThenTimed(f(spark, dir))
      println(f"TIME $n min=${ts.min}%.3f runs=${ts.map(t => f"$t%.2f").mkString(",")}")
    }

  /** Per-stage attribution: the profile the UI would show, printable in a
    * headless run. The warm run takes the index and memo builds. */
  private def stages(spark: SparkSession, dir: String, names: Seq[String]): Unit = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
    import scala.collection.mutable.ArrayBuffer
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names.exists(n.contains) }
    picked.foreach { case (name, f) =>
      val warm = secs(noop(f(spark, dir)))
      println(f"WARM $name $warm%6.3fs (first evaluation: memo/index builds land here)")
      // events arrive on the listener bus thread: guard the buffer
      val stages = ArrayBuffer[(Int, String, Long, Int, Long, Long)]()
      var jobs = 0
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          stages.synchronized { jobs += 1 }
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val m = si.taskMetrics
          stages.synchronized {
            stages += ((si.stageId, si.name.takeWhile(_ != '\n').take(60),
              m.executorRunTime, si.numTasks,
              m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten))
          }
        }
      }
      spark.sparkContext.addSparkListener(listener)
      // construct (DataFrame build: memo lookups, scalar censuses), plan
      // (analysis, optimization, physical planning) and execute
      val t0 = System.nanoTime()
      val df = f(spark, dir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      noop(df)
      val t3 = System.nanoTime()
      drainListeners(spark)
      spark.sparkContext.removeSparkListener(listener)
      println(f"STAGES $name wall=${(t3 - t0) / 1e9}%6.3fs construct=${(t1 - t0) / 1e9}%6.3fs " +
        f"plan=${(t2 - t1) / 1e9}%6.3fs exec=${(t3 - t2) / 1e9}%6.3fs " +
        f"jobs=$jobs stages=${stages.size}")
      stages.sortBy(-_._3).take(10).foreach { case (id, nm, rt, nt, sr, sw) =>
        println(f"  stage=$id%4d run=${rt / 1000.0}%7.3fs tasks=$nt%4d " +
          f"shufR=${sr / 1024}%8dKB shufW=${sw / 1024}%8dKB $nm")
      }
    }
  }

  /** Derived tables fold the bucket count into their name, so each count
    * builds (in its warm run) and reads its own tables. */
  private def bucketed(spark: SparkSession, dir: String, counts: Seq[Int]): Unit =
    counts.foreach { b =>
      spark.conf.set(sources.IndexStore.BucketsConf, b.toString)
      try BucketFamilies.foreach { case (family, names) =>
        named(names).foreach { case (n, f) =>
          val (warm, ts) = warmThenTimed(f(spark, dir))
          println(f"BUCKETED buckets=$b%4d family=$family%-9s $n%-22s " +
            f"warm=$warm%6.2fs min=${ts.min}%6.3fs")
        }
      } finally spark.conf.unset(sources.IndexStore.BucketsConf)
    }

  /** Batch-KNN stage attribution over the census-adaptive exact pair
    * builder on the index's label cells: join only, scored pairs, and
    * the full operator (scored pairs + top-3 tail), so block-join
    * compute, scoring and the top-k aggregate are costed separately on
    * the same index tables. */
  private def knn(spark: SparkSession, dir: String): Unit = {
    import operators.SearchOps
    def best(df: DataFrame): Double = warmThenTimed(df)._2.min
    val pairs = SearchOps.exactPairs(spark, SearchOps.labelCells(spark, dir), None, None)
    // same join, riders pruned away — isolates pair iteration cost
    val joinOnly = pairs.select(col("label"), col("a_id"), col("b_id"))
    val scored = SearchOps.knnScored(pairs)
    val full = SearchOps.top3(spark, scored)
    val tj = best(joinOnly); val tp = best(scored); val tf = best(full)
    println(f"KNN join=$tj%6.2fs pairs=$tp%6.2fs full=$tf%6.2fs " +
      f"score_delta=${tp - tj}%6.2fs agg_delta=${tf - tp}%6.2fs")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Tool <plans|time|stages|bucketed|knn> <corpusDir> [args...]")
    val (mode, dir, rest) = (args(0), args(1), args.drop(2).toSeq)
    val spark = GraftSession(dir)
    try mode match {
      case "plans" => plans(spark, dir, rest)
      case "time" =>
        require(rest.nonEmpty, "time needs query names")
        time(spark, dir, rest)
      case "stages" => stages(spark, dir, rest)
      case "bucketed" => bucketed(spark, dir, rest.map(_.toInt))
      case "knn" => knn(spark, dir)
      case other => sys.error(s"unknown mode '$other'")
    } finally spark.stop()
  }
}
