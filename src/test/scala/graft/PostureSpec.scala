package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The scoped ObjectHashAggregate posture (TopKAgg.posture) and the
  * fail-loud guards around the KNN scoring path: a library call must
  * never mutate the caller's session, and misconfiguration/corrupt
  * input must error, not silently return wrong results.
  */
class PostureSpec extends AnyFunSuite with SparkFixture {

  private val Key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  test("KNN posture is scoped: parent session threshold is untouched") {
    val before = spark.conf.getOption(Key)
    val df = SparkEntry.queries("vec_knn_join")(spark, SfDir)
    assert(df.count() > 0)
    assert(spark.conf.getOption(Key) == before,
      "running a KNN operator must not mutate the caller's session conf")
    assert(df.sparkSession.conf.get(Key) == (4 * 1024 * 1024).toString,
      "the KNN plan itself must execute under the raised threshold")
    assert(df.sparkSession ne spark)
  }

  test("posture clone is memoized and re-syncs parent runtime confs") {
    val s1 = functions.TopKAgg.posturedSession(spark)
    val s2 = functions.TopKAgg.posturedSession(spark)
    assert(s1 eq s2, "one clone per parent session")
    spark.conf.set("spark.graft.postureSpecKnob", "42")
    try
      assert(functions.TopKAgg.posturedSession(spark)
        .conf.get("spark.graft.postureSpecKnob") == "42",
        "runtime confs set on the parent after cloning must reach the clone")
    finally spark.conf.unset("spark.graft.postureSpecKnob")
  }

  test("an explicitly configured threshold is copied through, not overridden") {
    spark.conf.set(Key, "777")
    try
      assert(functions.TopKAgg.posturedSession(spark).conf.get(Key) == "777",
        "a non-stock threshold is the deployment's choice")
    finally spark.conf.unset(Key)
    // back at the stock default, the clone raises again
    assert(functions.TopKAgg.posturedSession(spark)
      .conf.get(Key) == (4 * 1024 * 1024).toString)
  }

  test("census-adaptive salt: sliced plan is result-identical and exchanges") {
    import operators.{DedupOps, SearchOps}
    // the exact pair builder's two callers: vec_knn_join's label cells and
    // dedup_semantic's k-means cells (its unmemoized form, so each budget
    // builds its own plan)
    val inputs = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "vec_knn_join" -> (() => SparkEntry.queries("vec_knn_join")(spark, SfDir)),
      "dedup_semantic" -> (() =>
        DedupOps.dedupSemanticCapped(spark, SfDir, SearchOps.exactCellCap(spark))))
    val plain = inputs.map(_._2().collect().map(_.toString).sorted.toSeq)
    // a 64-pair budget forces every cell oversize (cells here are 40-63,
    // so cell² ≫ 64 → salted path) while the DERIVED exact-cell cap,
    // isqrt(64·1024) = 256, stays above the largest cell — the cap and
    // the slicer share the budget, and this test wants slicing, not the
    // past-the-cap abort
    spark.conf.set(SearchOps.KnnPairBudgetConf, "64")
    try inputs.zip(plain).foreach { case ((name, input), rows) =>
      val df = input()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("hashpartitioning(label") && plan.contains("slice"),
        s"$name: the sliced path must EXPLICITLY exchange on (label, slice) — the " +
          "bucketed scan's label partitioning satisfies the join without it " +
          s"and the salt would spread nothing:\n$plan")
      assert(df.collect().map(_.toString).sorted.toSeq == rows,
        s"$name: slicing partitions pair enumeration only; results must be identical")
    } finally spark.conf.unset(SearchOps.KnnPairBudgetConf)
  }

  test("auto KNN's exact branch takes the census salt too") {
    import operators.SearchOps
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val routedAtDefaults = rows(SearchOps.vecKnnJoinAuto(spark, SfDir))
    // the budget of the test above slices every cell the exact branch
    // selects: all of them under an unbounded cap (so the rows are
    // vec_knn_join's), the cells at or under the default cap otherwise
    // (the census, not the cap bound, finds the hottest selected cell)
    spark.conf.set(SearchOps.KnnPairBudgetConf, "64")
    try {
      assert(rows(SearchOps.vecKnnJoinAuto(spark, SfDir)) == routedAtDefaults)
      spark.conf.set(SearchOps.AutoCapConf, Long.MaxValue.toString)
      val df = SearchOps.vecKnnJoinAuto(spark, SfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("hashpartitioning(label") && plan.contains("slice"),
        s"the exact branch must exchange on (label, slice):\n$plan")
      assert(rows(df.drop("routed")) == rows(SearchOps.vecKnnJoin(spark, SfDir)))
    } finally {
      spark.conf.unset(SearchOps.KnnPairBudgetConf)
      spark.conf.unset(SearchOps.AutoCapConf)
    }
  }

  test("fastRound fails loudly on non-finite input, like Spark's round") {
    for (cg <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", cg)
      try {
        val sparkS = spark
        import sparkS.implicits._
        for (bad <- Seq(Double.NaN, Double.PositiveInfinity,
            Double.NegativeInfinity)) {
          val df = Seq(bad).toDF("x")
            .select(functions.VectorFunctions.fastRound(col("x"), 4))
          val e = intercept[Throwable](df.collect())
          val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toList
          assert(chain.exists(_.isInstanceOf[NumberFormatException]),
            s"mode=$cg x=$bad: ${chain.map(_.toString).mkString(" | ")}")
        }
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  test("split scoring is bit-identical to round(cosineSim) (both modes)") {
    // the batch-KNN joins score pairs as fastRound(cosineFromParts(dot,
    // ssa, ssb), 4) instead of round(cosineSim(a, b), 4) — one dot per
    // pair. That substitution is only sound if it is BIT-identical,
    // including the zero-vector convention and HALF_UP edge handling.
    import functions.VectorFunctions._
    val genVec: Gen[Seq[Float]] = Gen.frequency(
      9 -> Gen.listOfN(8, Gen.chooseNum(-2.0f, 2.0f)),
      1 -> Gen.const(List.fill(8)(0.0f))) // zero vector: den = 0 branch
    val cases = samples(Gen.zip(genVec, genVec), 120)
    for (cg <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", cg)
      try {
        val sparkS = spark
        import sparkS.implicits._
        val rows = cases.toDF("a", "b")
          .select(
            fastRound(cosineFromParts(dotProduct(col("a"), col("b")),
              sumSquares(col("a")), sumSquares(col("b"))), 4).as("parts"),
            round(cosineSim(col("a"), col("b")), 4).as("whole"))
          .collect()
        rows.zip(cases).foreach { case (r, c) =>
          val (p, w) = (r.getDouble(0), r.getDouble(1))
          assert(java.lang.Double.doubleToRawLongBits(p) ==
            java.lang.Double.doubleToRawLongBits(w),
            s"mode=$cg parts=$p whole=$w case=$c")
        }
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("keywordDecls matches the per-pair scan model (both modes)") {
    // model: pair by pair, every 0-based i < n-1 with ts(i) == kw emits
    // (ts(i+1), kind, i+1) — pair 1's hits in token order, then pair 2's
    val pairs = Seq("fn" -> "function", "type" -> "type", "fn" -> "dup")
    def model(ts: List[String]): List[(String, String, Long)] =
      pairs.toList.flatMap { case (kw, kind) =>
        ts.dropRight(1).zipWithIndex.collect {
          case (t, i) if t == kw => (ts(i + 1), kind, (i + 1).toLong)
        }
      }
    val genDoc: Gen[List[String]] = Gen.choose(0, 9).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("fn", "type", "x", "name", "fn")))
    val cases = samples(genDoc, 80) :+ List.empty[String] :+ List("fn")
    for (cg <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", cg)
      try {
        val sparkS = spark
        import sparkS.implicits._
        val got = cases.toDF("ts")
          .select(functions.ArrayFunctions.keywordDecls(col("ts"), pairs))
          .collect()
          .map(_.getSeq[org.apache.spark.sql.Row](0).toList
            .map(r => (r.getString(0), r.getString(1), r.getLong(2))))
          .toList
        assert(got == cases.map(model), s"mode=$cg")
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}
