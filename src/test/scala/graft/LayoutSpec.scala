package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.LayoutOps

/** Z-order layout contracts: the manifest partitions the table, every
  * shard's bounding box honors the 4-bit-prefix pigeonhole bound in BOTH
  * dimensions, and the sink writes files whose read-back boxes are tight
  * in both dimensions at once (impossible for any 1-D sort). */
class LayoutSpec extends AnyFunSuite with SparkFixture {

  private lazy val manifest = LayoutOps.layoutZorder(spark, SfDir).collect()
  private lazy val bounds = Tables.events(spark, SfDir)
    .agg(min(col("user_id")), max(col("user_id")),
      min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
    .collect()(0)

  test("manifest shards partition the events table") {
    val total = Tables.events(spark, SfDir).count()
    assert(manifest.map(_.getLong(1)).sum == total)
    assert(manifest.map(_.getInt(0)).distinct.length == manifest.length)
  }

  test("every shard box is <= 1/16 of the global range in BOTH dims") {
    val (ulo, uhi) = (bounds.getLong(0), bounds.getLong(1))
    val (tlo, thi) = (bounds.getLong(2), bounds.getLong(3))
    // shard = top 4 bits of each dimension's 16-bit scale; members agree
    // on those, so each extent spans < 2^12 of 65536 scale cells. The
    // exact attainable preimage of a 4096-cell block is
    // range·4096/65535 (+1 floor slack) — range/16 PLUS range/2^20, and
    // the excess is real: ~2.5e6 µs on a 30-day range, so the naive
    // range/16 bound can fail on denser data with no code bug.
    def bound(range: Long): Long =
      (BigInt(range) * 4096 / 65535).toLong + 1
    for (r <- manifest) {
      assert(r.getLong(3) - r.getLong(2) <= bound(uhi - ulo),
        s"shard ${r.getInt(0)} user extent")
      assert(r.getLong(5) - r.getLong(4) <= bound(thi - tlo),
        s"shard ${r.getInt(0)} time extent")
    }
  }

  test("manifest plan: pruned scan, broadcast bounds, one shard exchange") {
    val plan = LayoutOps.layoutZorder(spark, SfDir)
      .queryExecution.executedPlan.toString
    // the 1-row bounds frame joins back without a key shuffle
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(800))
    // one hash exchange total: the 256-key shard aggregate
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"expected exactly one hash exchange:\n$plan")
    // the scan reads only the three needed columns
    assert(!plan.contains("event_type"), "scan not column-pruned")
  }

  test("morton column matches the bit-interleave model and is bijective") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pairs = Vector.fill(300)((rnd.nextInt(65536).toLong,
      rnd.nextInt(65536).toLong)).distinct
    def model(u: Long, t: Long): Long =
      (0 until LayoutOps.ZBits).map { i =>
        (((u >> i) & 1L) << (2 * i + 1)) | (((t >> i) & 1L) << (2 * i))
      }.sum
    val got = pairs.toDF("u", "t")
      .select(col("u"), col("t"), LayoutOps.morton(col("u"), col("t")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for ((u, t) <- pairs) assert(got((u, t)) == model(u, t), s"($u,$t)")
    // bijective on the 16-bit grid: distinct inputs → distinct z
    assert(got.values.toSet.size == pairs.size)
  }

  test("z-ordered sink writes files with tight boxes in both dims") {
    val out = TempDirs("graft-zorder").toString
    LayoutOps.writeZOrdered(spark, SfDir, out, nFiles = 16)
    val perFile = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("user_id")).as("ul"), max(col("user_id")).as("uh"),
        min(col("tu")).as("tl"), max(col("tu")).as("th"),
        min(col("zv")).as("zl"), max(col("zv")).as("zh"))
      .collect()
    assert(perFile.length > 1)
    // files are contiguous z ranges (the range exchange) — disjoint
    val zs = perFile.map(r => (r.getLong(5), r.getLong(6))).sortBy(_._1)
    for (w <- zs.sliding(2) if w.length == 2)
      assert(w(0)._2 <= w(1)._1, "overlapping z ranges across files")
    // both dimensions tight ON AVERAGE (a 1-D time sort would put the
    // full user range in every file; z-order caps the product)
    val uR = (bounds.getLong(1) - bounds.getLong(0)).toDouble
    val tR = (bounds.getLong(3) - bounds.getLong(2)).toDouble
    val meanU = perFile.map(r => (r.getLong(2) - r.getLong(1)) / uR).sum /
      perFile.length
    val meanT = perFile.map(r => (r.getLong(4) - r.getLong(3)) / tR).sum /
      perFile.length
    // BOTH dims bounded rules out any 1-D sort (a time sort has
    // meanU ≈ 1.0); the area bound rules out an unclustered layout
    // (area ≈ 1.0). 16 contiguous z-ranges ≈ 2 prefix bits per dim →
    // extents ≈ 1/4 ideal, ~2× slack for ranges straddling blocks.
    assert(meanU < 0.5, s"mean user-extent fraction $meanU")
    assert(meanT < 0.5, s"mean time-extent fraction $meanT")
    assert(meanU * meanT < 0.2, s"mean box area ${meanU * meanT}")
  }
}
