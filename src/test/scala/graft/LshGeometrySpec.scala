package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The spark.graft.lshBands/lshBits deploy knobs: any geometry must keep
  * LSH precision at 1 (candidates are exact-cosine-verified, so results
  * can only be a subset of the all-pairs truth), an exhaustive geometry
  * must recover the truth exactly, and each geometry must get its own
  * derived-table identity.
  */
class LshGeometrySpec extends AnyFunSuite with SparkFixture {
  import graft.sources.IndexStore

  /** Ground truth: all-pairs exact cosine >= 0.42 within label cells —
    * the relation dedup_embedding approximates. */
  private def exactPairs(): Set[(Long, Long)] = {
    val emb = Tables.embeddings(spark, SfDir)
      .select(col("label"), col("vec_id"), col("embedding"))
    emb.join(emb.select(col("label").as("bl"), col("vec_id").as("b_id"),
        col("embedding").as("b_emb")),
        col("label") === col("bl") && col("vec_id") < col("b_id"))
      .select(col("vec_id"), col("b_id"),
        functions.VectorFunctions.fastRound(
          functions.VectorFunctions.cosineSim(col("embedding"), col("b_emb")), 4)
          .as("score"))
      .filter(col("score") >= 0.42)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def lshPairs(): Set[(Long, Long)] =
    operators.DedupOps.dedupEmbedding(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def withGeometry[T](bands: Int, bits: Int)(body: => T): T = {
    spark.conf.set(operators.DedupOps.LshBandsConf, bands.toString)
    spark.conf.set(operators.DedupOps.LshBitsConf, bits.toString)
    try body finally {
      spark.conf.unset(operators.DedupOps.LshBandsConf)
      spark.conf.unset(operators.DedupOps.LshBitsConf)
    }
  }

  test("any geometry is precision-1; an exhaustive one recovers the truth") {
    val truth = exactPairs()
    assert(truth.nonEmpty || lshPairs().isEmpty)
    // selective geometry (8 bits): results must be verified true pairs
    val selective = withGeometry(16, 8)(lshPairs())
    assert(selective.subsetOf(truth),
      s"LSH returned a non-true pair: ${selective.diff(truth)}")
    // exhaustive geometry (64 x 1-bit): for a pair at cosine >= 0.42 the
    // per-bit agreement is >= 1 - acos(0.42)/pi ~= 0.64, so missing all
    // 64 single-bit bands has probability ~(0.36)^64 — the fixed md5
    // hyperplanes on the fixed test corpus recover every true pair
    val exhaustive = withGeometry(64, 1)(lshPairs())
    assert(exhaustive == truth,
      s"missed: ${truth.diff(exhaustive)}, extra: ${exhaustive.diff(truth)}")
  }

  test("geometry folds into the derived-table identity") {
    withGeometry(16, 8) {
      assert(operators.DedupOps.dedupEmbedding(spark, SfDir).count() >= 0)
      val t = IndexStore.derivedTableName(spark, SfDir, "emb_bands_v3_g16x8")
      assert(spark.catalog.tableExists(t), t)
    }
    // default confs answer from the default table, not a geometry-tagged one
    val d = IndexStore.derivedTableName(spark, SfDir, "emb_bands_v3")
    assert(operators.DedupOps.dedupEmbedding(spark, SfDir).count() >= 0)
    assert(spark.catalog.tableExists(d), d)
  }

  test("out-of-range geometry fails loudly") {
    intercept[IllegalArgumentException](
      withGeometry(0, 4)(operators.DedupOps.lshGeometry(spark, SfDir)))
    intercept[IllegalArgumentException](
      withGeometry(32, 40)(operators.DedupOps.lshGeometry(spark, SfDir)))
  }

  /** A corpus dir whose hottest cell holds `hot` vectors: the sf0.001
    * embeddings replicated with shifted ids, all forced into label 0. */
  private def hotCellCorpus(hot: Int): String = {
    val dir = TempDirs("graft-hotcell").toString
    val base = Tables.embeddings(spark, SfDir)
    val n = base.count()
    val copies = (hot + n - 1) / n
    (0L until copies).map(c => base
        .withColumn("vec_id", col("vec_id") + lit(c * 1000000L))
        .withColumn("label", lit(0)))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("signature width self-sizes from the hottest cell; pinned conf wins") {
    import operators.DedupOps
    // verify corpora sit on the floor: hottest cell (63 at sf0.001) is
    // far under target<<4 = 2048, so the derived geometry IS the
    // historical default and every artifact stays byte-identical
    assert(DedupOps.lshGeometry(spark, SfDir) == (32, 4))
    // a hot cell past target<<4 escalates the width by exactly the
    // doubling rule: 2500 vectors in one cell -> 2048 < 2500 <= 4096 -> 5
    val dir = hotCellCorpus(2500)
    assert(DedupOps.autoBits(spark, dir) == 5)
    // the derived geometry folds into the band-table identity like a
    // pinned one (no silent reuse of signatures built another way)
    assert(operators.DedupOps.dedupEmbedding(spark, dir).count() >= 0)
    assert(spark.catalog.tableExists(
      IndexStore.derivedTableName(spark, dir, "emb_bands_v3_g32x5")))
    // pinned bits beat the census
    spark.conf.set(DedupOps.LshBitsConf, "4")
    try assert(DedupOps.lshGeometry(spark, dir) == (32, 4))
    finally spark.conf.unset(DedupOps.LshBitsConf)
    // a smaller target escalates harder; must be >= 1
    spark.conf.set(DedupOps.LshTargetBucketConf, "64")
    try assert(DedupOps.autoBits(spark, dir) == 6)
    finally spark.conf.unset(DedupOps.LshTargetBucketConf)
    spark.conf.set(DedupOps.LshTargetBucketConf, "0")
    try intercept[IllegalArgumentException](DedupOps.autoBits(spark, dir))
    finally spark.conf.unset(DedupOps.LshTargetBucketConf)
  }

  test("escalated auto width stays precision-1 on its corpus") {
    // the census-derived geometry changes candidate RECALL only — every
    // emitted pair is still exact-cosine-verified on the hot corpus
    val dir = hotCellCorpus(2500)
    val emb = Tables.embeddings(spark, dir)
      .select(col("label"), col("vec_id"), col("embedding"))
    val truth = emb.join(emb.select(col("label").as("bl"),
        col("vec_id").as("b_id"), col("embedding").as("b_emb")),
        col("label") === col("bl") && col("vec_id") < col("b_id"))
      .select(col("vec_id"), col("b_id"),
        functions.VectorFunctions.fastRound(
          functions.VectorFunctions.cosineSim(col("embedding"), col("b_emb")), 4)
          .as("score"))
      .filter(col("score") >= 0.42)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = operators.DedupOps.dedupEmbedding(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(truth), s"non-true pair: ${got.diff(truth).take(3)}")
    assert(got.nonEmpty, "replicated corpus must surface near-dup pairs")
  }

  test("width escalation boundary is integer-exact") {
    // maxCell == target<<bits must NOT escalate (the <= boundary), one
    // more row must — the exact power-of-two edges are where a float
    // log2 on either engine would drift from the DuckDB geo CTE's
    // integer-shift replay, so they are pinned here
    val base = Tables.embeddings(spark, SfDir).withColumn("label", lit(0))
    def corpusOf(n: Int): String = {
      val dir = TempDirs("graft-edge").toString
      (0L until 5L).map(c => base
          .withColumn("vec_id", col("vec_id") + lit(c * 1000000L)))
        .reduce(_ unionAll _)
        .limit(n)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    }
    assert(operators.DedupOps.autoBits(spark, corpusOf(2048)) == 4,
      "maxCell == 128<<4 sits ON the boundary and stays at the floor")
    assert(operators.DedupOps.autoBits(spark, corpusOf(2049)) == 5,
      "one past the boundary escalates")
  }

  test("oracle geo CTE resolves the width target from the SESSION conf") {
    import operators.DedupOps
    // Verify generates the oracle SQL in the session that runs the
    // queries: a session that tunes spark.graft.lshTargetBucket must
    // hand the oracle the SAME target autoBits reads at runtime, or the
    // two engines derive different signature widths and every banded
    // hash spuriously FAILs (the round-10 lockstep gap)
    val target = "<= (\\d+) \\* \\(1::BIGINT <<".r
    spark.conf.set(DedupOps.LshTargetBucketConf, "64")
    try assert(target.findFirstMatchIn(SparkEntry.oracleSql("dedup_embedding"))
      .exists(_.group(1) == "64"),
      "oracle must interpolate the session's width target")
    finally spark.conf.unset(DedupOps.LshTargetBucketConf)
    assert(target.findFirstMatchIn(SparkEntry.oracleSql("dedup_embedding"))
      .exists(_.group(1) == DedupOps.LshTargetBucketDefault.toString))
  }

  test("empty corpus: both engines derive the floor width") {
    import operators.DedupOps
    // Scala: maxCellSize of an empty embeddings table is 0, autoBits
    // stays on the EmbBits floor. The oracle's geo CTE coalesces its
    // max(n) census to 0 so the min(b) filter keeps every width and
    // picks the same floor (an uncoalesced NULL census would filter
    // every candidate and fall back to the 16-bit CEILING).
    val dir = TempDirs("graft-empty").toString
    Tables.embeddings(spark, SfDir).limit(0)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(DedupOps.autoBits(spark, dir) == DedupOps.EmbBits)
    assert(SparkEntry.oracleSql("dedup_embedding").contains(
      "coalesce((SELECT max(n)"),
      "geo CTE must coalesce the census to 0 for the empty-corpus edge")
  }

  test("auto width re-derives after a data-changed invalidation") {
    import operators.DedupOps
    val dir = TempDirs("graft-grow-lsh").toString
    val base = Tables.embeddings(spark, SfDir)
    base.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(DedupOps.autoBits(spark, dir) == 4)
    // the corpus's hottest cell grows past the escalation boundary ...
    (0L until 5L).map(c => base
        .withColumn("vec_id", col("vec_id") + lit(c * 1000000L))
        .withColumn("label", lit(0)))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(DedupOps.autoBits(spark, dir) == 4,
      "census memo must answer until the data-changed hook fires")
    graft.PlanCache.invalidate(dir)
    assert(DedupOps.autoBits(spark, dir) == 5,
      "post-invalidation the census must see the grown cell")
  }
}
