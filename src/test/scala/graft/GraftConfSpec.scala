package graft

import org.scalatest.funsuite.AnyFunSuite

/** SPARK_GRAFT_CONF passthrough: packed key=value pairs become builder
  * confs; malformed entries and non-spark keys fail loudly. */
class GraftConfSpec extends AnyFunSuite {

  test("packed pairs parse into a SparkConf") {
    val c = GraftConf.fromEnv(Map("SPARK_GRAFT_CONF" ->
      "spark.graft.indexBuckets=32, spark.sql.shuffle.partitions=64"))
    assert(c.get("spark.graft.indexBuckets") == "32")
    assert(c.get("spark.sql.shuffle.partitions") == "64")
  }

  test("absent env yields an empty conf") {
    assert(GraftConf.fromEnv(Map.empty).getAll.isEmpty)
  }

  test("malformed and non-spark keys fail loudly") {
    intercept[IllegalArgumentException](
      GraftConf.fromEnv(Map("SPARK_GRAFT_CONF" -> "nonsense")))
    intercept[IllegalArgumentException](
      GraftConf.fromEnv(Map("SPARK_GRAFT_CONF" -> "graft.indexBuckets=32")))
  }

  test("derived scan split: tiny corpora keep the 128 MB default") {
    val MiB = GraftConf.MiB
    // sf0.1 is ~17 MB and sf1 ~170 MB: both under the 1 GiB fan-out
    // threshold, so the baseline-pinned default applies (no shredding)
    assert(GraftConf.deriveSplitBytes(17L * MiB, 32) == 128 * MiB)
    assert(GraftConf.deriveSplitBytes(170L * MiB, 32) == 128 * MiB)
    assert(GraftConf.deriveSplitBytes(0L, 32) == 128 * MiB)
  }

  test("derived scan split: large corpora fan out, clamped to [4,128] MB") {
    val MiB = GraftConf.MiB
    // sf10 regeneration (~1.7 GiB): dirBytes/(16*32) = 3.4 MB -> 4 MB
    // floor, the round-11 measured-good setting
    assert(GraftConf.deriveSplitBytes(1700L * MiB, 32) == 4 * MiB)
    // mid-range: raw value between the clamps passes through
    assert(GraftConf.deriveSplitBytes(8192L * MiB, 32) == 16 * MiB)
    // huge corpora sit at the ceiling: parallelism comes from file count
    assert(GraftConf.deriveSplitBytes(1L << 50, 32) == 128 * MiB)
  }

  test("derived scan split: the 512MB-1.5GB ramp is cliff-free") {
    val MiB = GraftConf.MiB
    // one byte across any boundary moves the split marginally, never 32x
    val boundaries = Seq(1L << 29, 1L << 30, 3L << 29)
    boundaries.foreach { b =>
      val below = GraftConf.deriveSplitBytes(b - 1, 32)
      val at = GraftConf.deriveSplitBytes(b, 32)
      assert(math.abs(below - at) <= MiB,
        s"split cliff at $b: $below vs $at")
    }
    // midpoint of the ramp sits strictly between the regimes
    val mid = GraftConf.deriveSplitBytes(1L << 30, 32)
    assert(mid > 4 * MiB && mid < 128 * MiB, s"mid-ramp split $mid")
    // ramp is monotone non-increasing across its span (32 cpus: lo
    // stays at the 4 MB floor until past the ramp)
    val samples = (0 to 16).map(i =>
      GraftConf.deriveSplitBytes((1L << 29) + i * (1L << 26), 32))
    assert(samples.zip(samples.tail).forall { case (a, b) => a >= b })
  }

  test("SPARK_GRAFT_SPLIT_MB overrides the derivation") {
    assert(GraftConf.splitBytes("/nonexistent", 32,
      Map("SPARK_GRAFT_SPLIT_MB" -> "7")) == 7 * GraftConf.MiB)
    // no override + missing dir -> default
    assert(GraftConf.splitBytes("/nonexistent", 32, Map.empty) ==
      128 * GraftConf.MiB)
  }

  test("dirBytes sums only *.parquet files, recursively") {
    val d = TempDirs("graft-split")
    val sub = java.nio.file.Files.createDirectory(d.resolve("sub"))
    java.nio.file.Files.write(d.resolve("a.parquet"), new Array[Byte](1000))
    java.nio.file.Files.write(sub.resolve("b.parquet"), new Array[Byte](500))
    // stray non-parquet files must not move the corpus along the ramp
    java.nio.file.Files.write(d.resolve("_SUCCESS"), new Array[Byte](0))
    java.nio.file.Files.write(d.resolve("run.log"), new Array[Byte](9999))
    assert(GraftConf.dirBytes(d.toString) == 1500L)
  }
}
