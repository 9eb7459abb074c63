package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Records Spark jobs and stages in memory for the traced run, through
  * Spark's public listener surface. Every job and stage carries the
  * request id the benchmark set as a local property before calling into
  * graft, so `report.py` can hang them under their request's span.
  * Listener events arrive on one bus thread; [[drain]] waits on a
  * sentinel job, which the bus delivers after every earlier event. With
  * `record` off (untraced runs) only the sentinel is watched. */
final class Tracer(sc: SparkContext, record: Boolean) extends SparkListener {
  import Tracer._

  final class StageRec(val id: Int, val attempt: Int, val req: String,
      val submit: Long) {
    var complete = 0L
    var tasks = 0L
    var taskMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var waitMs = 0L
    var scanBytes = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var persisted: Seq[Int] = Nil
  }

  final class JobRec(val id: Int, val req: String, val start: Long,
      val stageIds: Seq[Int]) {
    var end = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private val sentinelSeen = new CountDownLatch(1)

  private def reqOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(RequestProperty)))
      .orElse(Option(p).flatMap(x => Option(x.getProperty(StreamProperty)))
        .map(_ => "watch"))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val req = reqOf(e.properties)
    if (record || req == Sentinel) jobs.put(e.jobId,
      new JobRec(e.jobId, req, e.time, e.stageIds.toSeq))
    ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) {
      j.end = e.time
      if (j.req == Sentinel) sentinelSeen.countDown()
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (record) {
      val i = e.stageInfo
      stages.put((i.stageId, i.attemptNumber()), new StageRec(i.stageId,
        i.attemptNumber(), reqOf(e.properties),
        i.submissionTime.getOrElse(System.currentTimeMillis())))
      ()
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stages.get((e.stageId, e.stageAttemptId))
    if (s != null && e.taskInfo != null)
      s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submit)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val s = stages.get((i.stageId, i.attemptNumber()))
    if (s != null) {
      s.complete = i.completionTime.getOrElse(System.currentTimeMillis())
      s.tasks = i.numTasks.toLong
      s.persisted = i.rddInfos.filter(_.storageLevel.isValid).map(_.id).toSeq
      val m = i.taskMetrics
      if (m != null) {
        s.taskMs = m.executorRunTime
        s.cpuNs = m.executorCpuTime
        s.gcMs = m.jvmGCTime
        s.scanBytes = m.inputMetrics.bytesRead
        s.shuffleRead = m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
        s.spill = m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Block until the bus has delivered every event posted so far. */
  def drain(): Boolean = {
    sc.setLocalProperty(RequestProperty, Sentinel)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(RequestProperty, null)
    sentinelSeen.await(60, TimeUnit.SECONDS)
  }

  def jobsJson: java.util.List[AnyRef] = jobs.values.asScala.toSeq
    .filter(_.req != Sentinel).sortBy(_.id).map { j =>
      Json.obj("id" -> j.id, "req" -> j.req, "start" -> j.start,
        "end" -> j.end, "stages" -> Json.arr(j.stageIds.map(Int.box): _*))
    }.asJava.asInstanceOf[java.util.List[AnyRef]]

  def stagesJson: java.util.List[AnyRef] = stages.values.asScala.toSeq
    .filter(_.req != Sentinel).sortBy(s => (s.submit, s.id)).map { s =>
      Json.obj("id" -> s.id, "attempt" -> s.attempt, "req" -> s.req,
        "submit" -> s.submit, "complete" -> s.complete, "tasks" -> s.tasks,
        "task_ms" -> s.taskMs, "cpu_ms" -> s.cpuNs / 1e6, "gc_ms" -> s.gcMs,
        "wait_ms" -> s.waitMs, "scan_bytes" -> s.scanBytes,
        "shuffle_read_bytes" -> s.shuffleRead,
        "shuffle_write_bytes" -> s.shuffleWrite, "spill_bytes" -> s.spill,
        "persisted" -> Json.arr(s.persisted.map(Int.box): _*))
    }.asJava.asInstanceOf[java.util.List[AnyRef]]
}

object Tracer {
  /** Local property tying a job to the benchmark request that caused it. */
  val RequestProperty = "perfbench.request"
  /** Set by Structured Streaming on the watch loop's micro-batch jobs. */
  val StreamProperty = "sql.streaming.queryId"
  private val Sentinel = "sentinel"
}
