package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CurateOps, Relational, SearchOps}

/** Round-7 additions: the portable (hash-checked) sketch companions to the
  * engine-internal q9b/q13b sketches, the self-routing batch KNN, and the
  * Gopher rule battery. */
class SketchRouteSpec extends AnyFunSuite with SparkFixture {

  test("portable HLL estimate stays within 10% of the exact distinct count") {
    val exact = Relational.q9DistinctAgg(spark, SfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val hll = Relational.q9cPortableHll(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(hll.map(_._1).toSet == exact.keySet)
    hll.foreach { case (k, est, nRegs) =>
      val e = exact(k).toDouble
      assert(nRegs > 0 && nRegs <= 256)
      // theory: 1.04/sqrt(256) ~ 6.5% std error for classic HLL at m=256
      assert(math.abs(est - e) / e < 0.10, s"$k: hll $est vs exact $e")
    }
  }

  test("sampled percentiles track exact q13 within 15%, bounded at k=200") {
    def byKey(df: DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = Relational.q13Percentiles(spark, SfDir)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val rows = Relational.q13cSampledPercentiles(spark, SfDir).collect()
    rows.foreach { r =>
      val k = r.getString(0)
      val (p50, p95) = exact(k)
      assert(r.getLong(3) <= 200, "sample must be heap-bounded")
      assert(math.abs(r.getDouble(1) - p50) / p50 < 0.15,
        s"$k p50 ${r.getDouble(1)} vs $p50")
      assert(math.abs(r.getDouble(2) - p95) / p95 < 0.15,
        s"$k p95 ${r.getDouble(2)} vs $p95")
    }
  }

  private def autoAt(cap: Long): Seq[(Long, Long, Long, Double, Int, Boolean)] = {
    spark.conf.set(SearchOps.AutoCapConf, cap.toString)
    try SearchOps.vecKnnJoinAuto(spark, SfDir).collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4), r.getBoolean(5))).toSeq
    finally spark.conf.unset(SearchOps.AutoCapConf)
  }

  test("auto KNN with an infinite cap IS the exact batch join, all unrouted") {
    val auto = autoAt(Long.MaxValue)
    assert(auto.forall(!_._6), "no cell may route under an infinite cap")
    val exact = SearchOps.vecKnnJoin(spark, SfDir).collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4))).toSet
    assert(auto.map(t => (t._1, t._2, t._3, t._4, t._5)).toSet == exact)
  }

  test("auto KNN with cap 0 IS the banded ANN join, all routed") {
    val auto = autoAt(0L)
    assert(auto.forall(_._6), "every cell must route under cap 0")
    val ann = SearchOps.vecKnnJoinAnn(spark, SfDir).collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4))).toSet
    assert(auto.map(t => (t._1, t._2, t._3, t._4, t._5)).toSet == ann)
  }

  test("default cap splits the corpus and routed cells keep recall >= 0.8") {
    val auto = SearchOps.vecKnnJoinAuto(spark, SfDir).collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4), r.getBoolean(5))).toSeq
    val (routed, unrouted) = auto.partition(_._6)
    assert(routed.nonEmpty && unrouted.nonEmpty,
      "the default cap must exercise BOTH paths on the test corpus")
    // routed is a per-LABEL decision
    val byLabel = auto.groupBy(_._1).view.mapValues(_.map(_._6).toSet)
    assert(byLabel.values.forall(_.size == 1), "cells cannot mix paths")
    // unrouted rows equal the exact join on those labels
    val exact = SearchOps.vecKnnJoin(spark, SfDir).collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4))).toSeq
    val unroutedLabels = unrouted.map(_._1).toSet
    assert(unrouted.map(t => (t._1, t._2, t._3, t._4, t._5)).toSet ==
      exact.filter(t => unroutedLabels.contains(t._1)).toSet)
    // routed labels: top-3 edge recall vs the exact join
    val routedLabels = routed.map(_._1).toSet
    val want = exact.filter(t => routedLabels.contains(t._1))
      .map(t => (t._2, t._3)).toSet
    val got = routed.map(t => (t._2, t._3)).toSet
    val recall = want.count(got).toDouble / want.size
    assert(recall >= 0.8, s"routed recall $recall")
  }

  test("ANN candidates are generated once per unordered pair") {
    // the band self-join must carry the a < b condition (each unordered
    // pair collides once; directions are restored by the narrow mirror
    // explode AFTER scoring) — the both-directions formulation doubled
    // every collision row, the dedup exchange, and both embedding joins
    val plan = SearchOps.vecKnnJoinAnn(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains(" < b_id"),
      s"band join must generate a < b only:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no all-pairs:\n$plan")
    // symmetry invariant: the mirror restores both directions exactly
    val rows = SearchOps.vecKnnJoinAnn(spark, SfDir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val dirs = rows.map { case (a, b, s) => (a, b) -> s }.toMap
    rows.foreach { case (a, b, s) =>
      assert(dirs.get((b, a)).forall(_ == s),
        s"mirrored direction of ($a,$b) must carry the same score")
    }
  }

  test("gopher rule battery: keep is exactly the conjunction of its rules") {
    val rows = CurateOps.curateGopherRules(spark, SfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rules = (3 to 9).map(r.getBoolean)
      assert(r.getBoolean(10) == rules.forall(identity),
        s"doc ${r.getLong(0)}: keep must be the AND of the rule columns")
    }
    // the word-count gate must actually discriminate on this corpus
    val wc = rows.map(_.getBoolean(3)).toSet
    assert(wc == Set(true, false), "r_word_count should split the corpus")
  }

  test("gopher battery is one scan with zero exchanges") {
    val plan = CurateOps.curateGopherRules(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"every rule must evaluate inside the scan:\n$plan")
  }

  test("portable sketches shuffle only thin aggregate state") {
    // q13c: TopKAgg partial -> ONE hash exchange of <=k rows/group; the
    // percentile agg REUSES that partitioning (no second hash exchange)
    val p13 = Relational.q13cSampledPercentiles(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p13).size == 1,
      s"expected exactly one hash exchange:\n$p13")
    // q9c: (group, register) partial agg then group agg — register maxima
    // are the only shuffled state, never raw rows
    val p9 = Relational.q9cPortableHll(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p9).size == 2,
      s"expected the two thin register shuffles:\n$p9")
  }

  test("gopher rules catch the pathologies they were published against") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // exercise the line-shape rules the single-line corpus cannot:
    // bullet walls, ellipsis runs, symbol soup, non-alpha words
    val docs = Seq(
      (1L, ("the be to of and that have with word list " * 8).trim), // clean
      (2L, (1 to 60).map(i => s"- bullet $i").mkString("\n")), // bullet wall
      (3L, (1 to 60).map(i => s"line $i...").mkString("\n")), // ellipsis
      (4L, ("#tag " * 60).trim), // symbol soup
      (5L, ("12345 " * 60).trim)) // no alphabetic words
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val dir = TempDirs("gopher").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = CurateOps.curateGopherRules(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(10), "the clean doc must pass every rule")
    assert(!out(2L).getBoolean(6), "bullet wall must fail r_bullets")
    assert(!out(3L).getBoolean(7), "ellipsis lines must fail r_ellipsis")
    assert(!out(4L).getBoolean(5), "symbol soup must fail r_symbol_ratio")
    assert(!out(5L).getBoolean(8), "digit words must fail r_alpha")
  }
}
