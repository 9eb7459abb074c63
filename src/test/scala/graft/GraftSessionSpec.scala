package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory's resolved conf: the fixture session is built by
  * it, and the resolution order (defaults, caller overrides,
  * SPARK_GRAFT_CONF) is pinned on the pure settings. */
class GraftSessionSpec extends AnyFunSuite with SparkFixture {

  private def resolved(overrides: Seq[(String, String)],
      env: Map[String, String]): Map[String, String] =
    GraftSession.settings(SfDir, overrides, env).toMap // later keys win

  test("the built session resolves graft SQL functions and the shared conf") {
    assert(spark.sql("SELECT cosine_sim(array(CAST(1.0 AS FLOAT)), " +
      "array(CAST(2.0 AS FLOAT)))").head().getDouble(0) == 1.0)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("split bytes and parallelism derive from the corpus and the cpus") {
    assert(spark.conf.get("spark.sql.files.maxPartitionBytes").toLong ==
      GraftConf.splitBytes(SfDir, GraftSession.cpus()))
    val env = Map("SPARK_GRAFT_CPUS" -> "3", "SPARK_GRAFT_SPLIT_MB" -> "7")
    val conf = resolved(Nil, env)
    assert(conf("spark.master") == "local[3]")
    assert(conf("spark.sql.shuffle.partitions") == "3")
    assert(conf("spark.sql.files.maxPartitionBytes") == (7L << 20).toString)
    assert(GraftSession.cpus(Map.empty) ==
      math.min(32, Runtime.getRuntime.availableProcessors()))
  }

  test("SPARK_GRAFT_CONF is applied last and overrides defaults and callers") {
    val env = Map("SPARK_GRAFT_CONF" ->
      "spark.sql.adaptive.enabled=false,spark.sql.session.timeZone=Asia/Tokyo")
    val conf = resolved(Seq("spark.sql.session.timeZone" -> "UTC"), env)
    assert(conf("spark.sql.adaptive.enabled") == "false")
    assert(conf("spark.sql.session.timeZone") == "Asia/Tokyo")
  }

  test("ScaleUp's overrides replace the defaults they name, nothing else") {
    val conf = resolved(ScaleUp.SessionOverrides, Map.empty)
    assert(conf("spark.sql.legacy.parquet.nanosAsLong") == "false")
    assert(conf("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
    assert(conf - "spark.sql.legacy.parquet.nanosAsLong" -
      "spark.sql.parquet.inferTimestampNTZ.enabled" ==
      resolved(Nil, Map.empty) - "spark.sql.legacy.parquet.nanosAsLong")
  }
}
