package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reliable-checkpoint deploy switch: with `spark.graft.checkpointDir`
  * set, every iterative lineage cut (BFS frontiers, label propagation, BPE
  * rounds) writes fault-tolerant checkpoints there instead of unreplicated
  * executor-local blocks — the difference between "one lost executor kills
  * the 100 TB BFS" and "it doesn't". */
class CheckpointSpec extends AnyFunSuite with SparkFixture {

  private def khopKeys(depth: Int): Seq[String] =
    s"bfs:khop:$depth" +: (1 to depth).map(h => s"bfs:khop:$depth:frontier$h")

  test("a BFS under spark.graft.checkpointDir matches and checkpoints reliably") {
    val depth = 3 // only this spec queries depth 3 — private memo keys
    val baseline = operators.GraphOps.kHop(spark, SfDir, depth).collect()
      .map(_.toSeq).toSet
    val ckDir = TempDirs("graft-ck").toString
    khopKeys(depth).foreach(PlanCache.drop(spark, SfDir, _))
    spark.conf.set(Checkpoints.DirConf, ckDir)
    try {
      val got = operators.GraphOps.kHop(spark, SfDir, depth).collect()
        .map(_.toSeq).toSet
      assert(got == baseline)
      // the cuts really went to the reliable store, not executor blocks
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, s"no checkpoint files under $ckDir")
    } finally {
      spark.conf.unset(Checkpoints.DirConf)
      khopKeys(depth).foreach(PlanCache.drop(spark, SfDir, _))
    }
  }

  test("cut falls back to localCheckpoint when the conf is unset") {
    import spark.implicits._
    val df = Checkpoints.cut(Seq(1, 2, 3).toDF("x").filter(col("x") > 1))
    assert(df.collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 3))
    // a cut frame scans its materialized blocks, not the original plan
    assert(df.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
  }
}
