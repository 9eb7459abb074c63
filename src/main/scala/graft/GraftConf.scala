package graft

import org.apache.spark.SparkConf

/** Deploy-knob passthrough for the driver mains: SPARK_GRAFT_CONF holds
  * comma-separated `key=value` pairs applied to the session builder, so
  * Verify/Bench experiments can exercise knobs like
  * `spark.graft.indexBuckets=32` without a code edit (env vars cannot
  * carry dotted Spark keys as names, hence one packed variable). Only
  * `spark.*` keys are accepted — a typo should fail loudly, not silently
  * become an inert setting. */
object GraftConf {

  private[graft] val MiB = 1L << 20

  /** One integer knob from a conf lookup (a session's `conf.getOption`,
    * or the oracle's view of the active session): the set value, else
    * `default`, required to lie in [lo, hi]. The operator knobs resolve
    * through it, each in one resolver that its oracle replay calls too,
    * so the engine and the oracle share the knob's default and range. */
  private[graft] def resolve(conf: String => Option[String], key: String,
      default: Long, lo: Long, hi: Long = Long.MaxValue): Long = {
    val v = conf(key).map(_.toLong).getOrElse(default)
    require(v >= lo && v <= hi,
      if (hi == Long.MaxValue) s"$key must be >= $lo, got $v" else s"$key out of range: $v")
    v
  }

  /** Scan split sizing (`spark.sql.files.maxPartitionBytes`) for the
    * driver mains, derived from corpus bytes instead of pinned.
    *
    * The corpus tables are ONE parquet file each (the oracle-registration
    * contract), so Spark's 128 MB default leaves a whole sf10 scan on a
    * single core — an interpreted transform/aggregate chain over 500k
    * docs then runs 30+ min on one task (observed round 11). Round 11
    * pinned 4 MB unconditionally, which fixed sf10 but shredded the tiny
    * (17 MB) sf0.1 corpus into ~30× more tasks per scan and regressed the
    * full sweep. Derived rule:
    *   - corpora up to 512 MiB cannot fill 32 cores with meaningful work
    *     per task even at 4 MB splits — per-task overhead dominates — so
    *     they keep the 128 MB default (the configuration the local
    *     baselines in docs/BASELINE_LOCAL.md were pinned under);
    *   - from 1.5 GiB up, splits size as dirBytes/(16·cpus) clamped to
    *     [4 MB, 128 MB]: 4 MB at the 1.7 GiB sf10 regeneration (the
    *     round-11 measured-good setting, ~16 tasks per core per
    *     full-corpus pass), growing back toward the default as the corpus
    *     does — a 100 TB deployment sits at the 128 MB ceiling with
    *     parallelism coming from file count, as it should;
    *   - the GiB between ramps linearly between the two regimes, so a
    *     corpus near the boundary never sees a 32× split cliff.
    * `SPARK_GRAFT_SPLIT_MB` overrides for experiments; Bench records the
    * resolved value in its artifact so round-over-round comparisons are
    * configuration-aware. */
  private[graft] def deriveSplitBytes(dirBytes: Long, cpus: Int): Long = {
    val hi = 128 * MiB
    val lo = math.min(hi, math.max(4 * MiB, dirBytes / (16L * cpus)))
    // continuous ramp instead of a cliff at 1 GiB: ≤512 MiB keeps the
    // baseline-pinned default, ≥1.5 GiB takes the derived fan-out value,
    // and the GiB in between interpolates linearly — a stray file near
    // the boundary moves the split a few MB, never 32×
    val rampLo = 1L << 29 // 512 MiB
    val rampHi = 3L << 29 // 1.5 GiB
    if (dirBytes <= rampLo) hi
    else if (dirBytes >= rampHi) lo
    else {
      val t = (dirBytes - rampLo).toDouble / (rampHi - rampLo)
      (hi + t * (lo - hi)).toLong
    }
  }

  def splitBytes(sfDir: String, cpus: Int,
      env: Map[String, String] = sys.env): Long =
    env.get("SPARK_GRAFT_SPLIT_MB").map(_.trim.toLong * MiB)
      .getOrElse(deriveSplitBytes(dirBytes(sfDir), cpus))

  /** Total bytes of *.parquet files under `dir` (0 when missing — the
    * derivation then lands on the default split, and the scan itself
    * reports the missing corpus). Parquet-only so stray logs, _SUCCESS
    * markers, or checkpoint droppings never move a corpus along the
    * split ramp. */
  private[graft] def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(f => java.nio.file.Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet"))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  def fromEnv(env: Map[String, String] = sys.env): SparkConf = {
    val conf = new SparkConf(false)
    env.get("SPARK_GRAFT_CONF").foreach { packed =>
      packed.split(',').map(_.trim).filter(_.nonEmpty).foreach { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_CONF entry '$kv' is not key=value")
        val k = kv.take(i).trim
        require(k.startsWith("spark."),
          s"SPARK_GRAFT_CONF key '$k' must start with spark.")
        conf.set(k, kv.drop(i + 1).trim)
      }
    }
    conf
  }
}
