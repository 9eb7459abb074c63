package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft session: Bench, Verify, ScaleUp, Tool and
  * the test fixture all come through here, so committed plans, probe
  * timings and bench numbers describe the same configuration.
  *
  * Resolution order, later wins: the defaults below, the caller's
  * explicit overrides (only what really differs for that caller), then
  * `SPARK_GRAFT_CONF` ([[GraftConf.fromEnv]]), so a deploy-time knob
  * overrides every code default. */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, else min(32, nproc). */
  def cpus(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  /** The resolved (key, value) settings for a session over corpus `dir`,
    * in application order. */
  private[graft] def settings(dir: String, overrides: Seq[(String, String)],
      env: Map[String, String] = sys.env): Seq[(String, String)] = {
    val n = cpus(env)
    Seq(
      "spark.master" -> s"local[$n]",
      "spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.adaptive.enabled" -> "true",
      // single-file corpus tables must fan out at sf10 without shredding
      // tiny corpora into per-task overhead — derived from corpus bytes,
      // see GraftConf.deriveSplitBytes
      "spark.sql.files.maxPartitionBytes" ->
        GraftConf.splitBytes(dir, n, env).toString,
      "spark.sql.session.timeZone" -> "UTC",
      // events.parquet carries TIMESTAMP(NANOS); Spark reads it as a long
      // (nanos since epoch) under this flag — Tables.events normalizes.
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // the generated-class cache defaults to 100 entries, and this
      // engine's registered surface is 129 queries × ~5-10 codegen units
      // each — a full sweep evicts EVERY entry between two evaluations of
      // the same query, so every timed pass re-ran janino over the whole
      // surface. Sizing the cache to the surface halved the sweep
      // (39.96 s → 19.54 s at sf0.1).
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.ui.enabled" -> "false"
    ) ++ overrides ++ GraftConf.fromEnv(env).getAll
  }

  def apply(dir: String, overrides: (String, String)*): SparkSession = {
    val spark = settings(dir, overrides)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
