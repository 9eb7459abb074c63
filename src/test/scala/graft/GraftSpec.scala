package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs. */
trait SparkFixture extends BeforeAndAfterAll { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkFixture.session(SfDir)
  val SfDir = "/root/testdata/sf0.001"
  override def afterAll(): Unit = () // session shared across suites
}

object SparkFixture {
  /** The shared session, built by the factory every main uses; the test
    * warehouse is the only setting that differs. */
  private var shared: SparkSession = null

  def session(dir: String): SparkSession = synchronized {
    if (shared == null)
      shared = GraftSession(dir, "spark.sql.warehouse.dir" ->
        TempDirs("graft-wh").toString)
    shared
  }

  /** The physical nodes of `df`'s executed plan, adaptive query stages
    * entered. A cached memo's build plan (an InMemoryRelation's
    * cachedPlan) is not a child of its scan and is not entered: it ran
    * once at build, not per query. */
  def planNodes(df: DataFrame): Seq[SparkPlan] =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) { case p => p }

  /** The hash-partitioned shuffles on `df`'s own query path. */
  def hashExchanges(df: DataFrame): Int = planNodes(df).count {
    case s: ShuffleExchangeExec => s.outputPartitioning.isInstanceOf[HashPartitioning]
    case _ => false
  }
}

/** Every SparkEntry query runs at sf0.001 and the plan-shape contract
  * (pushdown, broadcast, no cartesian surprises) holds. */
class SparkEntrySpec extends AnyFunSuite with SparkFixture {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query key has a matching oracle or is explicitly rows-only") {
    // sketch/ANN outputs are approximate by design, and BPE training is
    // iterative (not SQL-expressible) — rows-only checked, suite-pinned
    val rowsOnly =
      Set("q9b_approx_distinct", "vec_knn_join_ann", "q13b_approx_percentiles",
        "vec_knn_pq", "text_bpe_train", "text_bpe_apply")
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnly
    assert(noOracle.isEmpty, s"queries without oracle: $noOracle")
  }

  test("approx percentiles track the exact op within 2% and share p100") {
    def byKey(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val exact = byKey(operators.Relational.q13Percentiles(spark, SfDir))
    val approx = byKey(operators.Relational.q13bApproxPercentiles(spark, SfDir))
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, (p50, p95, p100)) =>
      val (a50, a95, a100) = approx(k)
      assert(math.abs(a50 - p50) / p50 <= 0.02, s"$k p50 $a50 vs $p50")
      assert(math.abs(a95 - p95) / p95 <= 0.02, s"$k p95 $a95 vs $p95")
      assert(a100 == p100, s"$k max must be exact")
    }
  }

  test("approx distinct stays within 10% of the exact count") {
    val exact = operators.Relational.q9DistinctAgg(spark, SfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = operators.Relational.q9bApproxDistinct(spark, SfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    approx.foreach { case (k, a) =>
      val e = exact(k).toDouble
      assert(math.abs(a - e) / e < 0.1, s"$k: approx $a vs exact $e")
    }
  }

  for ((name, fn) <- SparkEntry.queries) {
    test(s"$name runs at sf0.001 with a non-degenerate schema") {
      val df = fn(spark, SfDir)
      assert(df.schema.fields.nonEmpty)
      df.count() // must execute without throwing
    }
  }

  test("q2 filter and projection push down to the parquet scan") {
    val plan = Relational_q2Explain()
    assert(plan.contains("PushedFilters"), "expected parquet PushedFilters")
    assert(plan.contains("p_size"), "p_size predicate should reach the scan")
    assert(!plan.toLowerCase.contains("p_brand"),
      "pruned column p_brand must not be read")
  }

  private def Relational_q2Explain(): String = {
    val df = operators.Relational.q2FilterProject(spark, SfDir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("vec_knn_ivf prunes by label at the scan") {
    val plan = operators.SearchOps.vecKnnIvf(spark, SfDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PushedFilters") && plan.contains("label"),
      "label cell predicate should be pushed to the embeddings scan")
  }

  test("int8 quantization reconstructs within half a quantization step") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, SfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toVector)
      .toMap
    val got = operators.SearchOps.vecQuantizeInt8(spark, SfDir).collect()
    assert(got.length == emb.size)
    got.foreach { r =>
      val (id, scale, md5got, l1) =
        (r.getLong(0), r.getDouble(1), r.getString(2), r.getLong(3))
      val v = emb(id)
      val mx = v.map(math.abs).max
      val q = v.map(x => if (mx == 0) 0L
        else math.floor(x * 127.0 / mx + 0.5).toLong)
      assert(q.forall(c => c >= -127 && c <= 127), s"vec $id codes in range")
      // unrounded scale: every |v_i - q_i*(mx/127)| <= (mx/127)/2 — the
      // defining property of symmetric uniform quantization
      val s = mx / 127.0
      v.zip(q).foreach { case (x, c) =>
        assert(math.abs(x - c * s) <= s / 2 + 1e-12, s"vec $id recon err")
      }
      assert(md5got == java.security.MessageDigest.getInstance("MD5")
        .digest(q.mkString(",").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString, s"vec $id code digest")
      assert(l1 == q.map(math.abs).sum, s"vec $id L1 mass")
      assert(math.abs(scale - BigDecimal(s).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9, s"vec $id scale")
    }
  }

  test("int8 quantization is one exchange-free column-pruned scan") {
    val plan = operators.SearchOps.vecQuantizeInt8(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"quantization must not shuffle:\n$plan")
    assert("FileScan".r.findAllIn(plan).size == 1, s"exactly one scan:\n$plan")
    // label is not read: at 100 TB the pruned column is real IO
    assert(plan.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      s"scan must read only vec_id+embedding:\n$plan")
  }

  test("PQ codes cover every vector with in-range codebook entries") {
    import org.apache.spark.sql.functions._
    val codes = operators.SearchOps.pqCodes(spark, SfDir).collect()
    val n = Tables.embeddings(spark, SfDir).count()
    assert(codes.length == n, "every vector is encoded")
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == 8, s"vec ${r.getLong(0)}: 8 subspace codes")
      assert(cs.forall(c => c >= 0 && c < 16),
        s"vec ${r.getLong(0)}: codes within the codebook")
    }
  }

  test("PQ ADC + exact re-rank keeps >= 0.7 recall of brute-force top-10") {
    val brute = operators.SearchOps.vecKnnBrute(spark, SfDir).collect()
      .map(_.getLong(0)).toSet
    val pq = operators.SearchOps.vecKnnPq(spark, SfDir).collect()
    assert(pq.length == 10)
    // re-ranked scores are TRUE cosines: only membership is approximate
    val recall = pq.map(_.getLong(0)).count(brute) / 10.0
    assert(recall >= 0.7, s"PQ recall@10 $recall vs brute")
  }

  test("PQ ADC scan never hash-shuffles the code relation") {
    val df = operators.SearchOps.vecKnnPq(spark, SfDir)
    assert(df.count() == 10)
    val plan = df.queryExecution.executedPlan.toString
    // the cached one-time codebook/code builds (which legitimately
    // aggregate) are not on the query path; the LUT global agg gathers
    // <= PqM*PqK thin rows to one partition; the CODES side must stay
    // scan + broadcast + TakeOrdered
    assert(SparkFixture.hashExchanges(df) == 0,
      s"ADC must be broadcast-only:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be a bounded TakeOrdered, not a global sort:\n$plan")
  }

  test("k-means assigns every vector once and uses multiple clusters") {
    val rows = operators.SearchOps.vecKmeans(spark, SfDir).collect()
    val n = Tables.embeddings(spark, SfDir).count()
    assert(rows.length == n, "every vector gets exactly one assignment")
    val clusters = rows.map(_.getInt(1)).toSet
    assert(clusters.size > 1 && clusters.forall(c => c >= 0 && c < 8),
      s"expected several clusters in [0, 8), got $clusters")
  }

  test("multi-probe IVF scans at most nprobe cells") {
    val labels = operators.SearchOps.vecKnnIvfProbe(spark, SfDir)
      .select("label").distinct().collect().map(_.get(0).toString).toSet
    assert(labels.size <= 2, s"expected <= 2 probed cells, got $labels")
  }

  test("funnel step counts match the per-user event-replay model") {
    val events = Tables.events(spark, SfDir)
      .select("user_id", "event_type", "ts_ns").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def stepTime(prev: Map[Long, Long], tpe: String): Map[Long, Long] =
      events.filter(_._2 == tpe)
        .flatMap { case (u, _, t) =>
          prev.get(u).filter(t > _).map(_ => (u, t)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val t1 = events.filter(_._2 == "view").groupBy(_._1)
      .view.mapValues(_.map(_._3).min).toMap
    val t2 = stepTime(t1, "click")
    val t3 = stepTime(t2, "purchase")
    val got = operators.Relational.q15Funnel(spark, SfDir).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(got == Map(1 -> t1.size.toLong, 2 -> t2.size.toLong,
      3 -> t3.size.toLong))
    // a funnel narrows by construction and the corpus must walk it
    assert(t1.size >= t2.size && t2.size >= t3.size && t3.nonEmpty)
  }

  test("retention triangle: offset-0 row per cohort equals cohort size") {
    val rows = operators.Relational.q16Retention(spark, SfDir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val day0 = rows.filter(_._2 == 0).map(r => r._1 -> r._3).toMap
    // every user is active on their own cohort day, so the offset-0
    // count is the cohort population and no later offset can exceed it
    for ((cohort, off, n) <- rows) {
      assert(day0.contains(cohort), s"cohort $cohort missing offset 0")
      assert(n <= day0(cohort), s"cohort $cohort offset $off exceeds day0")
      assert(off >= 0)
    }
    val totalUsers = Tables.events(spark, SfDir)
      .select("user_id").distinct().count()
    assert(day0.values.sum == totalUsers)
  }

  test("funnel and retention stay within their exchange budgets") {
    val funnel = operators.Relational.q15Funnel(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(funnel).size == 1,
      s"funnel must be one user_id exchange (chained window mins):\n$funnel")
    val ret = operators.Relational.q16Retention(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(ret).size == 2,
      s"retention must be user_id + (cohort, offset) exchanges only:\n$ret")
  }

  test("q4 uses broadcast joins for the dimension tables") {
    val plan = operators.Relational.q4BroadcastJoin(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("heap-aggregate top-k matches the window formulation exactly") {
    val viaWindow = operators.Relational.q6WindowTopK(spark, SfDir)
      .orderBy("c_nationkey", "rk").collect().toSeq
    val viaAgg = operators.Relational.q6TopkAgg(spark, SfDir)
      .orderBy("c_nationkey", "rk").collect().toSeq
    assert(viaAgg == viaWindow)
  }

  test("q5 global top-k avoids a global sort") {
    val plan = operators.Relational.q5TopK(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }
}

/** CosineSimilarity: native expression vs a plain Scala reference, on both
  * codegen and interpreted paths. */
class CosineSimilaritySpec extends AnyFunSuite with SparkFixture {
  import functions.VectorFunctions.cosineSim

  private def refCos(a: Seq[Double], b: Seq[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    val den = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
    if (den == 0.0) 0.0 else dot / den
  }

  private def viaSpark(a: Seq[Float], b: Seq[Float], codegen: Boolean): Double = {
    val mode = if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"
    spark.conf.set("spark.sql.codegen.factoryMode", mode)
    try {
      import spark.implicits._
      Seq((a, b)).toDF("a", "b")
        .select(cosineSim(col("a"), col("b")).as("c"))
        .head().getDouble(0)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  private val cases = Seq(
    (Seq(1f, 2f, 3f), Seq(3f, 2f, 1f)),
    (Seq(1f, 0f), Seq(0f, 1f)),
    (Seq(0.5f, -2.5f, 4f, 0f), Seq(-1f, 1f, 1f, 9f)),
    (Seq(0f, 0f), Seq(1f, 1f)))

  for (((a, b), i) <- cases.zipWithIndex; cg <- Seq(true, false)) {
    test(s"case $i matches scala reference (codegen=$cg)") {
      val got = viaSpark(a, b, cg)
      val want = refCos(a.map(_.toDouble), b.map(_.toDouble))
      assert(math.abs(got - want) < 1e-12, s"got $got want $want")
    }
  }

  test("cosine_sim is registered as a SQL function via GraftExtensions") {
    val r = spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT)))").head().getDouble(0)
    assert(math.abs(r - refCos(Seq(1.0, 2.0), Seq(2.0, 3.0))) < 1e-12)
  }

  test("null array yields null") {
    import spark.implicits._
    val r = Seq((Option.empty[Seq[Float]], Option(Seq(1f))))
      .toDF("a", "b").select(cosineSim(col("a"), col("b"))).head()
    assert(r.isNullAt(0))
  }
}

/** Dedup invariants at sf0.001. */
class DedupSpec extends AnyFunSuite with SparkFixture {
  import operators.DedupOps

  test("substring coverage equals the interval-union model") {
    // plain-Scala reference: positions covered by any cross-doc-repeated
    // 8-token span, as an EXPLICIT interval union — the gap-capped
    // lead() sum in the operator must agree exactly
    val docs = Tables.documents(spark, SfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        "[a-z0-9]+".r.findAllIn(r.getString(1).toLowerCase).toVector)
    val L = DedupOps.SubstrL
    val grams = docs.map { case (id, ts) =>
      id -> ts.sliding(L).filter(_.size == L).map(_.mkString(" ")).toVector
    }
    val df = grams.flatMap { case (id, gs) => gs.distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val expected = grams.map { case (id, gs) =>
      val covered = gs.zipWithIndex.collect {
        case (g, i) if df(g) >= 2 => (i until i + L)
      }.flatten.toSet
      val n = docs.toMap.apply(id).size
      (id, n, covered.size.toLong,
        if (n > 0) BigDecimal(covered.size.toDouble / n)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        else 0.0)
    }.toSet
    val got = DedupOps.dedupSubstring(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == expected)
    assert(expected.exists(_._3 > 0), "corpus must exercise the dup path")
    assert(expected.exists(_._3 == 0), "corpus must exercise the clean path")
  }

  test("substring gram middle is exchange-free: only the per-doc regroup " +
      "and the doc-side join shuffle") {
    val plan = DedupOps.dedupSubstring(spark, SfDir)
      .queryExecution.executedPlan.toString
    // the census agg and the duplicated-gram join both read the
    // gh-bucketed gram table co-located, so NO exchange keys on gh — a
    // boilerplate gram's rows are scanned inside their own bucket's task
    // instead of ever crossing a shuffle (the defense that previously
    // needed the doc_id-salted two-stage census)
    assert(!"""hashpartitioning\(gh#""".r.findAllIn(plan).hasNext,
      s"gram-hash exchange crept back in:\n$plan")
    // the only shuffles left key on doc_id (coverage regroup + the
    // documents-side join)
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(ex <= 2, s"expected <=2 doc_id exchanges, got $ex:\n$plan")
  }

  test("ngram jaccard pairs are canonical (a<b) and within threshold") {
    val rows = DedupOps.dedupNgramJaccard(spark, SfDir).collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall { r => val j = r.getDouble(2); j >= 0.5 && j <= 1.0 })
  }

  test("prefix-filtered jaccard equals the blocked all-pairs formulation") {
    val docs = Tables.documents(spark, SfDir)
    val toks = docs.select(col("doc_id"), col("lang"),
      (col("n_chars") / 100).cast("long").as("lb"),
      regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("ts"))
    // brute-force pairs within (lang, lb) via collected arrays
    val rows = toks.collect().map { r =>
      val ts = r.getSeq[String](3)
      val gs = ts.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
      (r.getLong(0), (r.getString(1), r.getLong(2)), gs)
    }
    val expected = (for {
      a <- rows; b <- rows
      if a._1 < b._1 && a._2 == b._2
      inter = (a._3 intersect b._3).size.toDouble
      uni = (a._3 union b._3).size.max(1).toDouble
      jac = BigDecimal(inter / uni).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      if jac >= 0.5
    } yield (a._1, b._1)).toSet
    val got = DedupOps.dedupNgramJaccard(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected, s"got $got want $expected")
  }

  test("minhash-lsh verified pairs all truly exceed the jaccard threshold") {
    val rows = DedupOps.dedupMinhashLsh(spark, SfDir).collect()
    assert(rows.forall(_.getDouble(2) >= 0.5))
  }

  test("simhash near-dup pairs hamming within threshold") {
    val rows = DedupOps.dedupSimhash(spark, SfDir).collect()
    assert(rows.forall(_.getInt(2) <= 5))
  }

  test("simhash 6-band split captures every hamming<=5 pair (pigeonhole)") {
    val bands = Seq((0, 6), (6, 6), (12, 6), (18, 6), (24, 4), (28, 4))
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 500) {
      val a = rnd.nextLong() & 0xFFFFFFFFL
      val flips = rnd.nextInt(6) // 0..5 bit flips
      val b = (0 until flips).foldLeft(a)((s, _) => s ^ (1L << rnd.nextInt(32)))
      val collide = bands.exists { case (off, w) =>
        ((a >> off) % (1L << w)) == ((b >> off) % (1L << w))
      }
      assert(collide, s"sig pair $a/$b (hamming<=5) missed by every band")
    }
  }

  /** The reference left-to-right non-overlapping merge pass — shared by
    * the BPE train and apply tests so they pin ONE semantics. */
  private def bpeMergePass(w: Vector[String], pa: String,
      pb: String): Vector[String] =
    w.foldLeft(Vector.empty[String]) { (acc, x) =>
      if (acc.nonEmpty && acc.last == pa && x == pb) acc.init :+ (pa + pb)
      else acc :+ x
    }

  test("perplexity matches a plain-Scala bigram LM within rounding") {
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        "[a-z0-9]+".r.findAllIn(r.getString(1).toLowerCase).toVector)
    val bigrams = docs.flatMap { case (id, ts) =>
      ts.zip(ts.tail).map(p => (id, p)) }
    val c2 = bigrams.groupBy(_._2).view.mapValues(_.length).toMap
    val c1 = bigrams.groupBy(_._2._1).view.mapValues(_.length).toMap
    val v = docs.flatMap(_._2).distinct.length
    val expected: Map[Long, (Long, Option[Double])] =
      docs.map { case (id, ts) =>
        val lps = ts.zip(ts.tail).map(p =>
          math.log((c2(p) + 1).toDouble / (c1(p._1) + v)))
        // < 2 tokens → no bigrams → ppl undefined (null), row kept
        id -> (lps.length.toLong,
          if (lps.isEmpty) None else Some(math.exp(-lps.sum / lps.length)))
      }.toMap
    val got = operators.TextOps.textPerplexity(spark, SfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got.keySet == expected.keySet)
    for ((id, (n, ppl)) <- expected) {
      assert(got(id)._1 == n, s"doc $id bigram count")
      (got(id)._2, ppl) match {
        case (Some(g), Some(e)) => assert(math.abs(g - e) < 5e-4, s"doc $id")
        case (g, e) => assert(g == e, s"doc $id null mismatch")
      }
    }
    // the self-trained LM must separate documents, or it ranks nothing
    val ppls = expected.values.flatMap(_._2)
    assert(ppls.max > ppls.min * 1.05)
  }

  test("perplexity scoring joins broadcast the vocab-bounded count tables") {
    val plan = operators.TextOps.textPerplexity(spark, SfDir)
      .queryExecution.executedPlan.toString
    // c2/c1 are vocabulary-bounded while the bigram relation is
    // corpus-sized, and bigram keys are Zipfian — a shuffle join on bg
    // makes "of the" a straggler partition at 100 TB. The plan must
    // broadcast both count tables, never shuffle the corpus side.
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(1500))
    for (l <- plan.linesIterator if l.contains("SortMergeJoin"))
      assert(!l.contains("bg#") && !l.contains("w1#"), l)
  }

  test("BPE merges match a plain-Scala reference trainer on the corpus") {
    // reference BPE (Sennrich 2016): word-frequency table, then greedy
    // max-frequency adjacent pair per round (lexicographic tie-break),
    // left-to-right non-overlapping application
    val words = Tables.documents(spark, SfDir).select("text").collect()
      .flatMap(r => "[a-z0-9]+".r.findAllIn(r.getString(0).toLowerCase))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    var vocab: Map[Vector[String], Long] =
      words.groupBy { case (w, _) => w.map(_.toString).toVector }
        .view.mapValues(_.values.sum).toMap
    val expected = (1 to operators.TextOps.BpeMerges).map { rank =>
      val counts = vocab.toSeq.flatMap { case (syms, cnt) =>
        syms.zip(syms.tail).map(_ -> cnt)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val ((pa, pb), freq) = counts.minBy { case ((a, b), f) => (-f, a, b) }
      vocab = vocab.toSeq.map { case (syms, cnt) =>
        bpeMergePass(syms, pa, pb) -> cnt
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      (rank, s"$pa $pb", freq)
    }
    val got = operators.TextOps.textBpeTrain(spark, SfDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == expected)
    // the learned merges must compose (a later merge building on an
    // earlier one), or 8 rounds degenerate to an 8-way unigram count
    assert(expected.exists { case (_, pair, _) =>
      pair.split(" ").exists(_.length > 1) })
  }

  test("BPE apply segments like the reference in learned-rank order") {
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val rules = operators.TextOps.textBpeTrain(spark, SfDir).collect()
      .sortBy(_.getInt(0)).map { r =>
        val Array(pa, pb) = r.getString(1).split(" "); (pa, pb) }
    val expected = docs.map { case (id, text) =>
      val ws = "[a-z0-9]+".r.findAllIn(text.toLowerCase)
        .map(_.map(_.toString).toVector).toVector
      val bpe = ws.map(w => rules.foldLeft(w) { case (s, (pa, pb)) =>
        bpeMergePass(s, pa, pb) })
      (id, ws.map(_.size).sum, bpe.map(_.size).sum)
    }.toSet
    val got = operators.TextOps.textBpeApply(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got == expected)
    // merges must actually compress — the apply path is vacuous otherwise
    assert(expected.forall { case (_, n0, nb) => nb <= n0 } &&
      expected.exists { case (_, n0, nb) => nb < n0 })
  }

  test("curation keeps exactly the min SURVIVING doc per near-dup cluster") {
    val curated = operators.TextOps.corpusCurate(spark, SfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the filter gate corpusCurate applies, recomputed independently
    val quality = operators.TextOps.textQuality(spark, SfDir)
      .select("doc_id", "quality").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lang = operators.TextOps.textLangid(spark, SfDir)
      .select("doc_id", "pred_lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val passes = (id: Long) => lang(id) == "en" && quality(id) >= 0.5
    val byCluster = DedupOps.dedupClusters(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._2)
    // corpusCurate's documented semantics: the representative is the
    // minimum doc_id among the cluster members that SURVIVE the
    // quality/lang filters (the global cluster rep may itself be filtered
    // out — its cluster must then still be represented by a survivor)
    byCluster.foreach { case (cl, members) =>
      val survivors = members.map(_._1).filter(passes)
      val kept = members.map(_._1).filter(curated.contains).sorted.toSeq
      val want = if (survivors.isEmpty) Seq.empty else Seq(survivors.min)
      assert(kept == want,
        s"cluster $cl: curated members $kept, want $want " +
          s"(survivors ${survivors.sorted.toSeq})")
    }
    assert(curated.nonEmpty)
  }

  test("near-dup clusters agree with reference min-label propagation") {
    val pairs = DedupOps.dedupSimhash(spark, SfDir)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val got = DedupOps.dedupClusters(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    // reference: the SAME fixed round count as the operator (a diameter>6
    // component would legitimately be unconverged in BOTH — the contract
    // is engine agreement at the fixed count, not convergence)
    val nbrs = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lbl = nbrs.keys.map(x => x -> x).toMap
    for (_ <- 1 to 6)
      lbl = lbl.map { case (n, l) => n -> math.min(l, nbrs(n).map(lbl).min) }
    assert(got.nonEmpty && got.map(_._1).toSet == lbl.keySet)
    got.foreach { case (id, cl, rep) =>
      assert(cl == lbl(id), s"doc $id: cluster $cl vs reference ${lbl(id)}")
      assert((rep == 1) == (id == cl))
    }
  }

  test("simhash candidates come from a band join, not an all-pairs block join") {
    val plan = DedupOps.dedupSimhash(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("band") && plan.contains("bkey"),
      "expected the hamming-LSH band columns in the join keys")
  }

  test("banded embedding dedup equals the all-pairs formulation") {
    import functions.VectorFunctions.cosineSim
    val emb = Tables.embeddings(spark, SfDir)
    val a = emb.select(col("label"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"))
    val b = emb.select(col("label").as("b_label"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"))
    val exact = a.join(b, col("label") === col("b_label") &&
        col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(cosineSim(col("a_emb"), col("b_emb")), 4).as("score"))
      .filter(col("score") >= 0.42)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val banded = DedupOps.dedupEmbedding(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(banded == exact, s"banded $banded vs exact $exact")
  }

  test("embedding dedup candidates come from the hyperplane band join") {
    val plan = DedupOps.dedupEmbedding(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hyperplanebandsigs") || plan.contains("band"),
      "expected hyperplane band signatures in the candidate join")
  }

  test("semantic dedup verdicts match the plain-Scala within-cluster recount") {
    import operators.SearchOps
    val clusters = SearchOps.vecKmeans(spark, SfDir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val vecs = Tables.embeddings(spark, SfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (dot, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val ids = clusters.keys.toSeq.sorted
    val expectedDrops = (for {
      b <- ids
      a <- ids if a < b && clusters(a) == clusters(b) &&
        cos(vecs(a), vecs(b)) >= DedupOps.SemTau
    } yield b).toSet
    val got = DedupOps.dedupSemantic(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    assert(got.length == ids.length, "every vector must get a verdict")
    got.foreach { case (id, cl, keep) =>
      assert(cl == clusters(id), s"vec $id cluster must match the trained model")
      assert(keep == !expectedDrops(id), s"vec $id keep verdict")
    }
    assert(expectedDrops.nonEmpty, "the corpus must exercise the drop path")
  }

  test("semantic dedup routes oversize cells through the banded-LSH path") {
    // sf0.001 trained clusters hold ~60 vectors: a cap of 10 forces EVERY
    // cell through the band-collision candidate path. Soundness is exact
    // (candidates verify by the same cosine ≥ τ) so routed drops ⊆ exact
    // drops; recall must hold the ≥0.9 floor the ANN ops pin, and the
    // default cap must leave verdicts identical to an uncapped run.
    def verdicts(df: org.apache.spark.sql.DataFrame): Map[Long, Boolean] =
      df.collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val routed = verdicts(DedupOps.dedupSemanticCapped(spark, SfDir, 10L))
    val exact = verdicts(DedupOps.dedupSemanticCapped(spark, SfDir, Long.MaxValue))
    assert(routed.keySet == exact.keySet, "every vector must get a verdict")
    // the routing must be OBSERVABLE: cap=10 forces every cell over the
    // cap, so all rows flag routed=true; the uncapped run flags none
    assert(DedupOps.dedupSemanticCapped(spark, SfDir, 10L)
      .collect().forall(_.getBoolean(3)), "cap-tripped cells must flag routed")
    assert(DedupOps.dedupSemanticCapped(spark, SfDir, Long.MaxValue)
      .collect().forall(!_.getBoolean(3)), "uncapped run must flag none")
    val exactDrops = exact.collect { case (id, false) => id }.toSet
    val routedDrops = routed.collect { case (id, false) => id }.toSet
    assert(routedDrops.subsetOf(exactDrops),
      "banded routing must never drop a pair exact compare would keep")
    assert(exactDrops.nonEmpty &&
      routedDrops.size >= math.ceil(0.9 * exactDrops.size).toInt,
      s"recall floor: ${routedDrops.size}/${exactDrops.size}")
    val capped = DedupOps.dedupSemantic(spark, SfDir)
      .orderBy("vec_id").collect().toSeq
    val uncapped = DedupOps.dedupSemanticCapped(spark, SfDir, Long.MaxValue)
      .orderBy("vec_id").collect().toSeq
    assert(capped == uncapped)
  }
}

/** SortedIntersectSize: codegen and interpreted paths agree with the
  * built-in array_intersect composition on random sorted sets. */
class SortedIntersectSpec extends AnyFunSuite with SparkFixture {
  import org.scalacheck.Gen
  import org.scalacheck.rng.Seed

  test("merge-scan intersect size matches set intersection (both modes)") {
    val g = for {
      a <- Gen.listOf(Gen.oneOf("a", "b", "cc", "d1", "e", "ff", "g"))
      b <- Gen.listOf(Gen.oneOf("a", "b", "cc", "d1", "e", "ff", "g"))
    } yield (a.distinct.sorted, b.distinct.sorted)
    val cases = (1 to 60).map(i =>
      g.pureApply(Gen.Parameters.default, Seed(i.toLong))) :+
      ((Nil, Nil)) :+ ((List("x"), Nil))
    for (cg <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", cg)
      try {
        val sparkS = spark
        import sparkS.implicits._
        val got = cases.toDF("a", "b")
          .select(functions.ArrayFunctions
            .sortedIntersectSize(col("a"), col("b")))
          .collect().map(_.getInt(0)).toSeq
        val want = cases.map { case (a, b) => a.toSet.intersect(b.toSet).size }
        assert(got == want, s"mode=$cg")
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("merge-scan intersect handles sorted long arrays (both modes)") {
    val g = for {
      a <- Gen.listOf(Gen.choose(-5L, 5L))
      b <- Gen.listOf(Gen.choose(-5L, 5L))
    } yield (a.distinct.sorted, b.distinct.sorted)
    val cases = (1 to 60).map(i =>
      g.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    for (cg <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", cg)
      try {
        val sparkS = spark
        import sparkS.implicits._
        val got = cases.toDF("a", "b")
          .select(functions.ArrayFunctions
            .sortedIntersectSize(col("a"), col("b")))
          .collect().map(_.getInt(0)).toSeq
        val want = cases.map { case (a, b) => a.toSet.intersect(b.toSet).size }
        assert(got == want, s"mode=$cg")
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("the jaccard verify relation uses the merge scan on sorted arrays") {
    import operators.DedupOps
    val plan = DedupOps.dedupNgramJaccard(spark, SfDir)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("sortedintersectsize"),
      s"verify must use the merge-scan expression:\n${plan.take(1500)}")
  }

  test("first-equal-index matches the zip_with model (both modes, both types)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def model[T](a: List[T], b: List[T]): Int =
      a.zip(b).indexWhere { case (x, y) => x == y } // -1 when none
    val gl = for {
      n <- Gen.choose(0, 8)
      a <- Gen.listOfN(n, Gen.choose(0L, 3L))
      b <- Gen.listOfN(n, Gen.choose(0L, 3L))
    } yield (a, b)
    val gs = for {
      n <- Gen.choose(0, 8)
      a <- Gen.listOfN(n, Gen.oneOf("p", "q", "r"))
      b <- Gen.listOfN(n, Gen.oneOf("p", "q", "r"))
    } yield (a, b)
    val longs = (1 to 60).map(i => gl.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    val strs = (1 to 60).map(i => gs.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    for (cg <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", cg)
      try {
        val sparkS = spark
        import sparkS.implicits._
        val gotL = longs.toDF("a", "b")
          .select(functions.ArrayFunctions.firstEqualIndex(col("a"), col("b")))
          .collect().map(_.getInt(0)).toSeq
        assert(gotL == longs.map { case (a, b) => model(a, b) }, s"long mode=$cg")
        val gotS = strs.toDF("a", "b")
          .select(functions.ArrayFunctions.firstEqualIndex(col("a"), col("b")))
          .collect().map(_.getInt(0)).toSeq
        assert(gotS == strs.map { case (a, b) => model(a, b) }, s"string mode=$cg")
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("ngram-join matches the sliding-window model (both modes)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def model(ts: List[String], n: Int): List[String] =
      ts.sliding(n).filter(_.size == n).map(_.mkString(" ")).toList
    val g = for {
      len <- Gen.choose(0, 9)
      ts <- Gen.listOfN(len, Gen.oneOf("alpha", "b", "ccc", "d1"))
    } yield ts
    val cases = (1 to 60).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    for (cg <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", cg)
      try {
        val sparkS = spark
        import sparkS.implicits._
        for (n <- Seq(2, 3, 4)) {
          val got = cases.toDF("ts")
            .select(functions.ArrayFunctions.ngramJoin(col("ts"), n))
            .collect().map(_.getSeq[String](0).toList).toSeq
          assert(got == cases.map(model(_, n)), s"n=$n mode=$cg")
        }
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("hash60-array matches the conv(substring(md5)) formulation (both modes)") {
    // the portable gram hash every oracle replays — the native pass must
    // be bit-identical to the hex-string route for ANY input
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val g = for {
      len <- Gen.choose(0, 6)
      ts <- Gen.listOfN(len, Gen.oneOf("a b c", "", "query join", "µ ünï", "x"))
    } yield ts
    val cases = (1 to 60).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    for (cg <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", cg)
      try {
        val sparkS = spark
        import sparkS.implicits._
        val df = cases.toDF("gs")
        val got = df.select(functions.ArrayFunctions.hash60Array(col("gs")))
          .collect().map(_.getSeq[Long](0).toList).toSeq
        val want = df.select(transform(col("gs"), x =>
            conv(substring(md5(x), 1, 15), 16, 10).cast("long")))
          .collect().map(_.getSeq[Long](0).toList).toSeq
        assert(got == want, s"mode=$cg")
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("fast-round matches Spark's round digit-for-digit (both modes)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // adversarial: exact .5 decimal boundaries at scale 4, shortest-repr
    // neighbours of boundaries, signs, zeros, magnitudes past the cosine
    // range, plus uniform random
    val pinned: Seq[Double] = Seq(
      0.86545, -0.86545, 0.99995, -0.99995, 0.00005, -0.00005, 0.12345,
      0.5e-4, -0.5e-4, 1.00005, 0.0, -0.0, 1.0, -1.0, 0.868450000000001,
      0.8684499999999999, 12345.67895, -98765.43215, 1e-12, -1e-12,
      123456789.12345, 0.49999999999999994)
    val g = Gen.oneOf(
      Gen.choose(-1.0, 1.0),
      Gen.choose(-1e6, 1e6),
      Gen.choose(0L, 20000L).map(_ / 10000.0 - 1.0)) // dense on boundaries
    val rand = (1 to 400).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    val vals = pinned ++ rand
    for (cg <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", cg)
      try {
        val sparkS = spark
        import sparkS.implicits._
        for (sc <- Seq(0, 2, 4)) {
          val got = vals.toDF("x")
            .select(functions.VectorFunctions.fastRound(col("x"), sc).as("f"),
              round(col("x"), sc).as("r"))
            .collect()
          vals.zip(got).foreach { case (v, row) =>
            val (f, r) = (row.getDouble(0), row.getDouble(1))
            assert(java.lang.Double.doubleToRawLongBits(f) ==
              java.lang.Double.doubleToRawLongBits(r),
              s"x=$v scale=$sc mode=$cg: fast=$f spark=$r")
          }
        }
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("ascii-tokens matches the regexp_extract_all(lower) formulation " +
      "(both modes, unicode inputs)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val pinned = Seq("", "  ", "Data42 query!", "Ünïcode Data-42_x",
      "İstanbul İ ABC09", "a", "9", "ß SS ss", "日本語 mix3d 中",
      "tab\tnl\nqQ", " ctla1", "ÀÉÎø å12B")
    val g = Gen.listOfN(12, Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf(' ', '-', '_', '!', 'Ä', 'ç', '日', '\t')))
      .map(_.mkString)
    val rand = (1 to 150).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    val vals = pinned ++ rand
    for (cg <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", cg)
      try {
        val sparkS = spark
        import sparkS.implicits._
        val got = vals.toDF("t")
          .select(functions.Tokenize.tokens(col("t")).as("n"),
            regexp_extract_all(lower(col("t")), lit("[a-z0-9]+"), lit(0)).as("r"))
          .collect()
        vals.zip(got).foreach { case (v, row) =>
          assert(row.getSeq[String](0) == row.getSeq[String](1),
            s"input=${v.map(c => f"\\u${c.toInt}%04x").mkString} mode=$cg")
        }
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("term-freqs and prefix-count match the filter models (both modes)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val terms = Seq("data", "query", "table")
    val g = for {
      len <- Gen.choose(0, 10)
      ts <- Gen.listOfN(len,
        Gen.oneOf("data", "query", "table", "datum", "dat", "x", "querying"))
    } yield ts
    val cases = (1 to 80).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    for (cg <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", cg)
      try {
        val sparkS = spark
        import sparkS.implicits._
        val got = cases.toDF("ts")
          .select(functions.ArrayFunctions.termFreqs(col("ts"), terms).as("f"),
            functions.ArrayFunctions.prefixCount(col("ts"), "dat").as("p"))
          .collect()
        cases.zip(got).foreach { case (ts, row) =>
          assert(row.getSeq[Long](0) == terms.map(t => ts.count(_ == t).toLong),
            s"ts=$ts mode=$cg")
          assert(row.getLong(1) == ts.count(_.startsWith("dat")).toLong,
            s"ts=$ts mode=$cg")
        }
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("ws-word-stats matches the split/filter/aggregate model (both modes)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val pinned = Seq("", " ", "a b  c", "  lead trail  ", "tab\tsplit",
      "nl\nsplit\r\nmore", "Ünïcode wörd 日本 x9", "...", "#hash A-Z",
      "vtab\fff", "ß 42")
    val g = Gen.listOfN(14, Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf(' ', ' ', '\t', '\n', '-', 'Ä', '日', '\f')))
      .map(_.mkString)
    val rand = (1 to 120).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    val vals = pinned ++ rand
    for (cg <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", cg)
      try {
        val sparkS = spark
        import sparkS.implicits._
        val ws = filter(split(col("t"), "\\s+"), w => length(w) > 0)
        val got = vals.toDF("t")
          .select(functions.ArrayFunctions.wsWordStats(col("t")).as("s"),
            size(ws).cast("long").as("mw"),
            aggregate(ws, lit(0L), (acc, w) => acc + length(w)).as("ml"),
            size(filter(ws, w => w.rlike("[A-Za-z]"))).as("ma"))
          .collect()
        vals.zip(got).foreach { case (v, r) =>
          val s = r.getStruct(0)
          assert((s.getLong(0), s.getLong(1), s.getInt(2)) ==
            ((r.getLong(1), r.getLong(2), r.getInt(3))), s"input=$v mode=$cg")
        }
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("gap-capped coverage matches the lead-window model (both modes)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val L = 8
    def model(ps: List[Int]): Long = ps match {
      case Nil => 0L
      case _ => ps.zip(ps.tail).map { case (p, n) => math.min(L, n - p) }
        .map(_.toLong).sum + L
    }
    val g = for {
      len <- Gen.choose(0, 12)
      ps <- Gen.listOfN(len, Gen.choose(0, 40))
    } yield ps.distinct.sorted
    val cases = (1 to 100).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    for (cg <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", cg)
      try {
        val sparkS = spark
        import sparkS.implicits._
        val got = cases.toDF("ps")
          .select(functions.ArrayFunctions.gapCappedCoverage(col("ps"), L))
          .collect().map(_.getLong(0)).toSeq
        assert(got == cases.map(model), s"mode=$cg")
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("window-min-select matches the sliding-window model (both modes)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def model(hs: List[Long], w: Int): List[Long] =
      hs.sliding(w).filter(_.size == w).map(_.min).toList.distinct.sorted
    val g = for {
      len <- Gen.choose(0, 14)
      hs <- Gen.listOfN(len, Gen.choose(0L, 9L))
    } yield hs
    val cases = (1 to 80).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    for (cg <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", cg)
      try {
        val sparkS = spark
        import sparkS.implicits._
        for (w <- Seq(2, 5)) {
          val got = cases.toDF("hs")
            .select(functions.ArrayFunctions.windowMinSelect(col("hs"), w))
            .collect().map(_.getSeq[Long](0).toList).toSeq
          assert(got == cases.map(model(_, w)), s"w=$w mode=$cg")
        }
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("gram-run-stats matches the groupBy model (both modes)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def model(gs: List[String]): (Int, Int) =
      if (gs.isEmpty) (0, 0)
      else {
        val m = gs.groupBy(identity).view.mapValues(_.size)
        (m.size, m.values.max)
      }
    val g = for {
      len <- Gen.choose(0, 12)
      gs <- Gen.listOfN(len, Gen.oneOf("x y", "y z", "x x", "w v"))
    } yield gs
    val cases = (1 to 80).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    for (cg <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", cg)
      try {
        val sparkS = spark
        import sparkS.implicits._
        val got = cases.toDF("gs")
          .select(functions.ArrayFunctions.gramRunStats(col("gs")).as("s"))
          .select(col("s.n_distinct"), col("s.max_run"))
          .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
        assert(got == cases.map(model), s"mode=$cg")
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}

/** HyperplaneBandSigs: codegen and interpreted paths agree with a plain
  * Scala reference. */
class HyperplaneSigSpec extends AnyFunSuite with SparkFixture {
  import functions.{HyperplaneBandSigs, VectorFunctions}

  private def refSigs(v: Seq[Double], seed: Int, bands: Int, bits: Int,
      dim: Int): Seq[Long] = {
    val planes = HyperplaneBandSigs.planes(seed, bands * bits, dim)
    (0 until bands).map { l =>
      (0 until bits).foldLeft(0L) { (sig, k) =>
        val w = planes(l * bits + k)
        val dot = v.take(dim).zipWithIndex.map { case (x, i) => x * w(i) }.sum
        sig * 2L + (if (dot > 0) 1L else 0L)
      }
    }
  }

  private val vec = Seq(0.3f, -1.2f, 4.5f, 0.01f, -0.7f, 2.2f, 0f, 1f)

  test("hyperplane_sigs is registered as a SQL function via GraftExtensions") {
    val viaSql = spark.sql(
      "SELECT hyperplane_sigs(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT)), 7, 4, 3, 2)")
      .head().getSeq[Long](0)
    assert(viaSql == refSigs(Seq(1.0, -2.0), 7, 4, 3, 2))
  }

  for (cg <- Seq(true, false)) {
    test(s"band signatures match the scala reference (codegen=$cg)") {
      val mode = if (cg) "CODEGEN_ONLY" else "NO_CODEGEN"
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        import spark.implicits._
        val got = Seq(Tuple1(vec)).toDF("v")
          .select(VectorFunctions.bandSigs(col("v"), 7, 4, 3, 8).as("s"))
          .head().getSeq[Long](0)
        assert(got == refSigs(vec.map(_.toDouble), 7, 4, 3, 8))
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}

/** QueryDsl: JSON wire format and AST compile to identical plans. */
class QueryDslSpec extends AnyFunSuite with SparkFixture {
  import operators.QueryDsl
  import operators.QueryDsl._

  test("dsl_modules rolls the files view up to module stats, ordered") {
    val rows = QueryDsl.dslModules(spark, SfDir).collect()
    val docs = Tables.documents(spark, SfDir).select("source", "n_chars")
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val byModule = docs.groupBy(_._1)
    assert(rows.map(_.getString(0)).toSet == byModule.keySet)
    rows.foreach { r =>
      val ds = byModule(r.getString(0))
      assert(r.getLong(1) == ds.size, s"${r.getString(0)} file_count")
      assert(r.getLong(2) == ds.map(d => (d._2 + 79) / 80).sum,
        s"${r.getString(0)} line_count_total")
    }
    val keys = rows.map(r => (-r.getLong(1), r.getString(0))).toSeq
    assert(keys == keys.sorted, "ordered by file_count DESC, module_path")
  }

  test("JSON parse produces the equivalent AST result") {
    val viaAst = QueryDsl.compile(spark, SfDir, QuerySpec(
      from = "orders",
      where = Some(AndP(Seq(
        Cmp("o_orderpriority", "=", "1-URGENT"),
        Cmp("o_totalprice", ">", 200000L)))),
      fields = Seq("o_orderkey", "o_custkey"),
      orderBy = Seq(Order("o_orderkey")),
      limit = Some(10)))
      .collect().toSeq
    val viaJson = QueryDsl.compile(spark, SfDir, QueryDsl.parse("""{
      "from": "orders",
      "where": {"and": [
        {"field": "o_orderpriority", "operator": "=", "value": "1-URGENT"},
        {"field": "o_totalprice", "operator": ">", "value": 200000}
      ]},
      "fields": ["o_orderkey", "o_custkey"],
      "orderBy": [{"field": "o_orderkey"}],
      "limit": 10
    }""")).collect().toSeq
    assert(viaJson == viaAst && viaAst.nonEmpty)
  }

  test("non-integer numeric wire fields are rejected, not coerced to 0") {
    // Jackson's asInt() returns 0 for "abc" — the parser must reject it
    // loudly instead of silently returning an empty (limit=0) result
    val e = intercept[IllegalArgumentException] {
      QueryDsl.parse("""{"from": "orders", "limit": "abc"}""")
    }
    assert(e.getMessage.contains("limit"))
    intercept[IllegalArgumentException] {
      QueryDsl.parse("""{"from": "orders", "offset": 1.5}""")
    }
  }

  test("DSL predicates push down to the parquet scan") {
    val plan = QueryDsl.compile(spark, SfDir, QuerySpec(
      from = "part",
      where = Some(Cmp("p_size", ">=", 30L)),
      fields = Seq("p_partkey", "p_name")))
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PushedFilters") && plan.contains("p_size"),
      "compiled WHERE must reach the scan as a pushed filter")
  }

  test("unsupported operators fail loudly, not silently") {
    intercept[IllegalArgumentException] {
      QueryDsl.compile(spark, SfDir, QuerySpec(
        from = "orders", where = Some(Cmp("o_orderkey", "~", 1L)))).count()
    }
  }

  test("malformed wire-format queries are rejected with clear errors") {
    // BETWEEN with a scalar instead of a 2-array
    intercept[IllegalArgumentException] { QueryDsl.parse(
      """{"from":"orders","where":{"field":"x","operator":"BETWEEN","value":9}}""") }
    // missing from
    intercept[IllegalArgumentException] { QueryDsl.parse("""{"fields":["a"]}""") }
    // typo'd sort direction must not silently sort ascending
    intercept[IllegalArgumentException] { QueryDsl.parse(
      """{"from":"orders","orderBy":[{"field":"x","direction":"DESCENDING"}]}""") }
    // groupBy without aggregations
    intercept[IllegalArgumentException] {
      QueryDsl.compile(spark, SfDir, QuerySpec(
        from = "orders", groupBy = Seq("o_orderpriority")))
    }
  }

  test("id=id joins resolve unambiguously through side-qualified keys") {
    // both sides expose the join key under the SAME name
    val viaDsl = QueryDsl.compile(spark, SfDir, QuerySpec(
      from = "nation",
      joins = Seq(Join("nation", "n_regionkey", "n_regionkey"))))
    assert(viaDsl.count() > 0)
  }

  test("virtual tables expose the reference's six-table surface") {
    // files_tool.go:50 "files, types, functions, imports, modules, chunks"
    // (modules is the DSL rollup); column shapes follow schema.go
    for ((t, idCol) <- Seq("types" -> "type_id", "functions" -> "function_id"))
      assert(Tables.load(spark, SfDir, t).columns.toSeq ==
        Seq(idCol, "file_path", "module_path", "name", "start_pos"), t)
    assert(Tables.load(spark, SfDir, "imports").columns.toSeq ==
      Seq("file_path", "import_path", "import_line"))
    assert(Tables.load(spark, SfDir, "chunks").columns.toSeq ==
      Seq("chunk_id", "file_path", "module_path", "chunk_idx",
        "n_chunk_tokens", "chunk_text"))
  }

  test("functions/types views agree with symbols_extract per kind") {
    val syms = operators.PatternOps.symbolsExtract(spark, SfDir)
      .groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Tables.load(spark, SfDir, "functions").count() == syms("function"))
    assert(Tables.load(spark, SfDir, "types").count() == syms("type"))
    assert(syms("function") > 0 && syms("type") > 0)
  }

  test("same-name join keys compile to USING semantics: one key column") {
    val df = QueryDsl.compile(spark, SfDir, QuerySpec(
      from = "functions",
      joins = Seq(Join("files", "file_path", "file_path"))))
    assert(df.columns.count(_ == "file_path") == 1)
    assert(df.count() > 0)
  }

  test("NOT LIKE / NOT IN / IS [NOT] NULL / typed joins / DISTINCT aggs") {
    // the translator's remaining operator set (translator.go:181-205):
    // orphan files = LEFT JOIN functions + IS NULL on the probe column
    val orphans = QueryDsl.compile(spark, SfDir, QueryDsl.parse("""{
      "from": "files",
      "joins": [{"table": "functions", "leftField": "file_path",
                 "rightField": "file_path", "type": "left"}],
      "where": {"field": "name", "operator": "IS NULL"},
      "fields": ["file_path"]
    }""")).collect().map(_.getString(0)).toSet
    val withFns = Tables.load(spark, SfDir, "functions")
      .select("file_path").distinct().collect().map(_.getString(0)).toSet
    val all = Tables.load(spark, SfDir, "files")
      .select("file_path").collect().map(_.getString(0)).toSet
    assert(orphans == all.diff(withFns), "LEFT JOIN + IS NULL = anti-join")
    assert(orphans.nonEmpty && withFns.nonEmpty)
    // IS NOT NULL is the complementary semi-join
    val withNames = QueryDsl.compile(spark, SfDir, QueryDsl.parse("""{
      "from": "files",
      "joins": [{"table": "functions", "leftField": "file_path",
                 "rightField": "file_path", "type": "left"}],
      "where": {"field": "name", "operator": "IS NOT NULL"},
      "fields": ["file_path"]
    }""")).select("file_path").distinct()
      .collect().map(_.getString(0)).toSet
    assert(withNames == withFns)
    // NOT LIKE / NOT IN compile to the negated predicates
    val filtered = QueryDsl.compile(spark, SfDir, QueryDsl.parse("""{
      "from": "files",
      "where": {"and": [
        {"field": "module_path", "operator": "NOT LIKE", "value": "src1%"},
        {"field": "lang", "operator": "NOT IN", "value": ["de", "fr"]}]},
      "fields": ["module_path", "lang"]
    }""")).collect()
    assert(filtered.nonEmpty)
    assert(filtered.forall(r => !r.getString(0).startsWith("src1") &&
      r.getString(1) != "de" && r.getString(1) != "fr"))
    // DISTINCT aggregations match their Column-API counterparts
    import org.apache.spark.sql.functions.{countDistinct, col}
    val viaDsl = QueryDsl.compile(spark, SfDir, QueryDsl.parse("""{
      "from": "files",
      "groupBy": ["lang"],
      "aggregations": [{"function": "COUNT", "field": "module_path",
        "distinct": true, "alias": "n_modules"}],
      "orderBy": [{"field": "lang", "direction": "ASC"}]
    }""")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = Tables.load(spark, SfDir, "files")
      .groupBy("lang").agg(countDistinct(col("module_path")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaDsl == direct)
    // unknown join types are rejected at the wire boundary
    intercept[IllegalArgumentException] {
      QueryDsl.parse("""{"from": "files", "joins": [{"table": "functions",
        "leftField": "file_path", "rightField": "file_path",
        "type": "cross"}]}""")
    }
    // right/full are the remaining reference join types
    // (translator.go:225-236): functions RIGHT JOIN files keeps every
    // file (≡ the left-join row count from the files side), FULL keeps
    // the same (files ⊇ functions' file set by construction)
    val nFiles = Tables.load(spark, SfDir, "files").count()
    val left = QueryDsl.compile(spark, SfDir, QueryDsl.parse("""{
      "from": "files",
      "joins": [{"table": "functions", "leftField": "file_path",
                 "rightField": "file_path", "type": "left"}]
    }""")).count()
    val right = QueryDsl.compile(spark, SfDir, QueryDsl.parse("""{
      "from": "functions",
      "joins": [{"table": "files", "leftField": "file_path",
                 "rightField": "file_path", "type": "right"}]
    }""")).count()
    val full = QueryDsl.compile(spark, SfDir, QueryDsl.parse("""{
      "from": "functions",
      "joins": [{"table": "files", "leftField": "file_path",
                 "rightField": "file_path", "type": "full"}]
    }""")).count()
    assert(right == left && full == left && left >= nFiles)
  }

  test("GLOB predicates compile through the discovery glob semantics") {
    val rows = QueryDsl.compile(spark, SfDir, QueryDsl.parse("""{
      "from": "files",
      "where": {"and": [
        {"field": "file_path", "operator": "GLOB", "value": "src1*/**"},
        {"field": "file_path", "operator": "GLOB", "value": "**/*3"}]},
      "fields": ["file_path"]
    }""")).collect().map(_.getString(0))
    assert(rows.nonEmpty)
    assert(rows.forall(p => p.matches("^src1[^/]*/.*$") && p.endsWith("3")),
      "GLOB must apply separator-aware glob semantics, AND-composed")
  }

  test("dsl_functions pushes the stored-column predicate into the scan") {
    val plan = QueryDsl.dslFunctions(spark, SfDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    // `lang = en` filters a stored documents column through the files
    // view — it must reach the parquet scan, not sit above the join
    assert(plan.contains("PushedFilters") && plan.contains("lang"),
      "lang predicate must push down through the virtual view")
  }

  test("dsl_chunks matches a direct recount over chunk_documents") {
    import org.apache.spark.sql.functions.{count => cnt, col}
    val got = QueryDsl.dslChunks(spark, SfDir).collect()
    val eligible = operators.ChunkOps.chunkDocuments(spark, SfDir)
      .groupBy("doc_id").agg(cnt("*").as("n"))
      .filter(col("n") >= 6).count()
    assert(got.length == math.min(40L, eligible).toInt)
    assert(got.forall(_.getLong(1) >= 6L), "HAVING floor")
  }

  test("dsl_types rolls types against imports deterministically") {
    val rows = QueryDsl.dslTypes(spark, SfDir).collect()
    assert(rows.nonEmpty)
    val keys = rows.map(r => (-r.getLong(1), r.getString(0))).toSeq
    assert(keys == keys.sorted, "ordered by pair count DESC, module_path")
  }
}

/** Structure-aware chunker invariants at sf0.001. */
class ChunkStructuredSpec extends AnyFunSuite with SparkFixture {
  private lazy val rows = operators.ChunkOps.chunkStructured(spark, SfDir)
    .collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))
    }

  test("the code block never splits across chunks") {
    // each section holds exactly one atomic code paragraph, so at most one
    // chunk per section may carry code
    val codeChunks = rows.filter(_._7 == 1L)
      .groupBy(r => (r._1, r._2)).values.map(_.size)
    assert(codeChunks.forall(_ == 1))
  }

  test("chunk token counts stay within budget + one indivisible paragraph") {
    assert(rows.forall(_._4 <= 45L), "25-token budget + 20-token code block")
  }

  test("chunk_idx restarts per section and offsets are consistent") {
    val bySection = rows.groupBy(r => (r._1, r._2))
    assert(bySection.values.forall(_.map(_._3).min == 0L))
    assert(rows.forall(r => r._5 <= r._6 && r._4 <= r._6 - r._5 + 1))
  }

  test("embed_batches respects both caps and preserves provider order") {
    import operators.ChunkOps
    val rows = ChunkOps.embedBatches(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getInt(4)))
    rows.groupBy(r => (r._2, r._4)).foreach { case ((src, b), batch) =>
      assert(batch.length <= ChunkOps.EmbedBatchDocs, s"($src,$b) count cap")
      // cumsum packing: the batch's tokens before its last member fit
      // the budget (one overflow doc may close a batch)
      val sorted = batch.sortBy(_._5)
      assert(sorted.map(_._5).toSeq == (1 to batch.length),
        s"($src,$b) idx_in_batch must be dense from 1")
      assert(sorted.dropRight(1).map(_._3.toLong).sum <
        ChunkOps.EmbedBatchTokens, s"($src,$b) token cap")
      // order preservation: batch members are contiguous in doc_id order
      assert(sorted.map(_._1).toSeq == sorted.map(_._1).sorted.toSeq)
    }
    rows.groupBy(_._2).foreach { case (src, g) =>
      val ids = g.map(_._4).distinct.sorted.toSeq
      assert(ids == (1 to ids.length), s"$src batch ids dense from 1")
      // batches in doc order: a later doc never lands in an earlier batch
      val byDoc = g.sortBy(_._1).map(_._4).toSeq
      assert(byDoc == byDoc.sorted, s"$src batch monotone in doc order")
    }
  }

  test("embed_batches shares one exchange across its window passes") {
    val plan = operators.ChunkOps.embedBatches(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"all windows must reuse the source exchange:\n$plan")
  }

  test("embed_schedule paces batches by the cooldown and ledgers progress") {
    import operators.ChunkOps
    val rows = ChunkOps.embedSchedule(spark, SfDir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (src, g) =>
      val inOrder = g.sortBy(_._2)
      // dispatch times are the reference's sequential loop with its flat
      // inter-batch sleep (batched.go:106)
      inOrder.foreach { r =>
        assert(r._8 == (r._2 - 1).toLong * ChunkOps.EmbedCooldownMs, s"$src")
      }
      // the progress ledger is an exact running sum ending at the totals
      assert(inOrder.map(_._3).sum == inOrder.head._7, s"$src total_docs")
      assert(inOrder.last._5 == inOrder.head._7, s"$src processed ends at total")
      assert(inOrder.map(_._5).toSeq == inOrder.map(_._3).scanLeft(0L)(_ + _)
        .tail.toSeq, s"$src processed_docs cumsum")
      assert(inOrder.head._6 == inOrder.length, s"$src total_batches")
    }
    // consistency with the batch-assignment relation it aggregates
    val perBatch = ChunkOps.embedBatches(spark, SfDir).collect()
      .groupBy(r => (r.getString(1), r.getInt(3))).view.mapValues(_.length)
    rows.foreach { r =>
      assert(perBatch((r._1, r._2)) == r._3.toInt, s"batch ${(r._1, r._2)}")
    }
  }

  test("embed_schedule rides embed_batches' single source exchange") {
    val plan = operators.ChunkOps.embedSchedule(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"the (source, batch_id) agg and all windows must reuse it:\n$plan")
  }

  test("embed_retries ledgers every attempt with backoff-shifted dispatch") {
    import operators.ChunkOps
    val rows = ChunkOps.embedRetries(spark, SfDir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getString(5)))
    assert(rows.nonEmpty)
    val sched = ChunkOps.embedSchedule(spark, SfDir).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(7)).toMap
    rows.groupBy(r => (r._1, r._2)).foreach { case (batch, g) =>
      val byAttempt = g.sortBy(_._3)
      // attempts are 1..n_attempts, failures strictly before the one 'ok'
      assert(byAttempt.map(_._3).toSeq == (1 to g.head._4), s"$batch")
      assert(byAttempt.map(_._6).toSeq ==
        Seq.fill(g.head._4 - 1)("failed") :+ "ok", s"$batch")
      // attempt 1 at the schedule's slot; attempt k at +(2^(k-1)-1)·base
      byAttempt.foreach { r =>
        assert(r._5 == sched(batch) +
          ((1L << (r._3 - 1)) - 1) * ChunkOps.RetryBackoffMs, s"$batch")
      }
    }
    // every scheduled batch appears, and the failure pattern actually
    // exercises the retry path (some batch fails at this corpus size)
    assert(rows.map(r => (r._1, r._2)).toSet == sched.keySet)
    assert(rows.exists(_._6 == "failed"), "no batch ever failed")
    assert(rows.exists(_._4 == 1), "no batch dispatched clean")
  }

  test("embed_retries adds no shuffle beyond the schedule's") {
    val plan = operators.ChunkOps.embedRetries(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"attempt unroll must stay narrow:\n$plan")
  }

  test("index_evict applies the three-reason cascade with protection") {
    import operators.ChunkOps
    val rows = ChunkOps.indexEvict(spark, SfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3),
        r.getBoolean(4), r.getBoolean(5), Option(r.getString(6))))
    val srcs = Tables.documents(spark, SfDir).select("source").distinct()
      .collect().map(_.getString(0)).toSet
    assert(rows.map(_._1).toSet == srcs, "one verdict per branch")
    // protected branches are never evicted, whatever their metadata says
    rows.filter(_._5).foreach { r =>
      assert(!r._6 && r._7.contains("protected"), r._1)
      assert(ChunkOps.EvictProtected.contains(r._1))
    }
    // forced reasons match their predicates
    rows.filter(!_._5).foreach { r =>
      if (r._4) assert(r._6 && r._7.contains("deleted"), r._1)
      else if (r._3 > ChunkOps.EvictMaxAgeDays)
        assert(r._6 && r._7.contains("stale"), r._1)
    }
    // the size-budget phase equals the reference's sequential
    // evict-until-under loop replayed over the same candidate order
    val total = rows.map(_._2).sum
    val budget = ChunkOps.EvictSizeFrac * total
    var remaining = total.toDouble
    val inOrder = rows.filter(!_._5)
      .sortBy(r => (!r._4, -r._3, r._1)) // deleted first, oldest first
    inOrder.foreach { r =>
      val forced = r._4 || r._3 > ChunkOps.EvictMaxAgeDays
      val evictNow = forced || remaining > budget
      assert(r._6 == evictNow, s"${r._1}: loop=$evictNow relation=${r._6}")
      if (evictNow) remaining -= r._2
    }
    // the budget phase actually fired and the survivors fit the budget
    assert(rows.exists(_._7.contains("size_budget")), "budget never bit")
    assert(rows.filter(!_._6).map(_._2).sum <= budget, "still over budget")
  }

  test("branch_sync partitions docs into reuse/rechunk/evict by churn") {
    val out = operators.ChunkOps.branchSync(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3)))
    val allIds = Tables.documents(spark, SfDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    def ids(action: String) =
      out.filter(_._4 == action).map(_._1).toSet
    assert(ids("evict") == allIds.filter(_ % 7 == 0))
    assert(ids("rechunk") == allIds.filter(id => id % 7 != 0 && id % 5 == 0))
    assert(ids("reuse") == allIds.filter(id => id % 7 != 0 && id % 5 != 0))
    // a rechunked doc's fingerprint set differs from its stored chunks
    // (the rev2 marker lands in the trailing chunk)
    val oldFps = out.filter(_._4 == "evict") // stored-index rows, any doc
    assert(oldFps.nonEmpty && out.nonEmpty)
    val rechunked = out.filter(_._4 == "rechunk").groupBy(_._1)
    assert(rechunked.nonEmpty)
  }

  test("branch_sync chunking work is proportional to changed docs only") {
    // count NODES, not toString hits — the InMemoryRelation leaf prints
    // its cached build plan (which contains the index's own Generate),
    // but the live query does not execute it
    val plan = operators.ChunkOps.branchSync(spark, SfDir)
      .queryExecution.optimizedPlan
    val cachedScans = plan.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m }
    val liveGenerates = plan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }
    // the stored chunk index serves reuse+evict (two cached scans); the
    // ONE live Generate is the rechunker over the churn set
    assert(cachedScans.size == 2, plan.toString.take(1500))
    assert(liveGenerates.size == 1, plan.toString.take(1500))
  }
}

/** Boolean FTS compiler obeys set algebra on the real corpus. */
class FtsBooleanSpec extends AnyFunSuite with SparkFixture {
  import operators.SearchOps
  import operators.SearchOps.FtsQuery._

  private def ids(q: SearchOps.FtsQuery): Set[Long] =
    SearchOps.ftsSearch(Tables.documents(spark, SfDir), q, None, "data", 1000000)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  test("AND is intersection, OR is union, NOT is complement") {
    val a = ids(Term("data")); val b = ids(Term("query"))
    assert(ids(And(Seq(Term("data"), Term("query")))) == a.intersect(b))
    assert(ids(Or(Seq(Term("data"), Term("query")))) == a.union(b))
    val all = ids(Or(Seq(Term("data"), Not(Term("data")))))
    assert(ids(Not(Term("data"))) == all.diff(a))
  }

  test("prefix matches are a superset of the exact term") {
    assert(ids(Term("data")).subsetOf(ids(Prefix("dat"))))
  }

  test("language scope filters rows, not scores") {
    val scoped = SearchOps.ftsBoolean(spark, SfDir).collect()
    assert(scoped.nonEmpty)
  }

  test("NEAR matches a plain-Scala FTS5 span check, n-ary and phrases") {
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        "[a-z0-9]+".r.findAllIn(r.getString(1).toLowerCase).toVector)
    def refNear(phrases: Seq[String], k: Int): Set[Long] = docs.collect {
      case (id, ts) =>
        val ops = phrases.map(_.trim.split("\\s+").toVector)
        val pos = ops.map(ws => ts.indices.filter(i =>
          i + ws.length <= ts.length && ts.slice(i, i + ws.length) == ws))
        def choices(ps: Seq[Seq[Int]]): Seq[Seq[Int]] = ps match {
          case Seq() => Seq(Seq())
          case h +: rest => for (p <- h; c <- choices(rest)) yield p +: c
        }
        // FTS5 span: tokens between the END of the earliest-starting
        // occurrence and the START of the latest; first operand in
        // query order wins start ties (indexOf), matching the compiler
        val hit = pos.forall(_.nonEmpty) && choices(pos).exists { c =>
          c.max - c.min - ops(c.indexOf(c.min)).length <= k
        }
        (id, hit)
    }.collect { case (id, true) => id }.toSet
    for ((terms, k) <- Seq(
        (Seq("data", "query"), 6), (Seq("data", "query"), 0),
        (Seq("data", "query", "table"), 8),
        (Seq("data query", "table"), 5), (Seq("hash join", "data"), 4),
        (Seq("data query", "join order"), 6))) {
      assert(ids(Near(terms, k)) == refNear(terms, k), s"NEAR($terms, $k)")
    }
    // NEAR is strictly tighter than the bare conjunction
    assert(ids(Near(Seq("data", "query"), 2))
      .subsetOf(ids(And(Seq(Term("data"), Term("query"))))))
    // every phrase-NEAR hit at least contains every phrase token
    assert(ids(Near(Seq("data query", "join order"), 6))
      .subsetOf(ids(And(Seq("data", "query", "join", "order").map(Term(_))))))
  }

  test("fts_near is one scan: no exchange before the TakeOrdered") {
    val plan = SearchOps.ftsNear(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan.take(1200))
    assert(!plan.contains("Exchange"), plan.take(1200))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1200))
  }
}

/** Depth-parameterized BFS invariants at sf0.001. */
class GraphSpec extends AnyFunSuite with SparkFixture {
  import operators.GraphOps

  test("kHop at depth 2 reproduces the fixed-depth khop contract row") {
    val fixed = GraphOps.graphKhop(spark, SfDir)
      .orderBy("hop", "node_type", "node_id").collect().toSeq
    val param = GraphOps.kHop(spark, SfDir, 2)
      .orderBy("hop", "node_type", "node_id").collect().toSeq
    assert(param == fixed)
  }

  test("deep khop surfaces every node once, at its minimum hop") {
    val rows = GraphOps.graphKhopDeep(spark, SfDir)
      .select("node_type", "node_id").collect()
    val keys = rows.map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(keys.distinct.sizeIs == keys.size,
      "a node must not appear at two hops (visited-set subtraction)")
  }

  test("khop hops alternate node types on the bipartite graph") {
    val byHop = GraphOps.graphKhopDeep(spark, SfDir)
      .select("hop", "node_type").distinct().collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(byHop.filter(_._1 % 2 == 1).values.forall(_ == "part"))
    assert(byHop.filter(_._1 % 2 == 0).values.forall(_ == "supplier"))
  }

  test("traversal depth is capped at MaxDepth like the reference") {
    intercept[IllegalArgumentException] {
      GraphOps.kHop(spark, SfDir, GraphOps.MaxDepth + 1).count()
    }
  }

  test("dependents traverses the second (uses) edge relation") {
    val types = GraphOps.graphDependents(spark, SfDir)
      .select("node_type").distinct().collect().map(_.getString(0)).toSet
    assert(types.contains("customer"), s"expected customer nodes, got $types")
  }

  test("type-usages sites all ship a pattern-matched part, ordered + bounded") {
    val rows = GraphOps.graphTypeUsages(spark, SfDir).collect()
    assert(rows.nonEmpty && rows.length <= 100)
    val ids = rows.map(_.getLong(0)).toSeq
    assert(ids == ids.sorted && ids.distinct.sizeIs == ids.size,
      "DISTINCT sites ordered by function_id (searcher_sql.go:557)")
    assert(rows.forall(_.getInt(4) == 1), "type usages report depth 1")
    val matched = Tables.part(spark, SfDir)
      .filter(col("p_name").like(GraphOps.TypeUsagePattern))
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    val shipping = Tables.lineitem(spark, SfDir)
      .filter(col("l_partkey").isin(matched.toSeq: _*))
      .select("l_suppkey").distinct().collect().map(_.getLong(0)).toSet
    assert(ids.forall(shipping.contains),
      "every site must actually use a matched type")
  }

  test("type-usages plan: pattern at the part scan, type set broadcast") {
    val plan = GraphOps.typeUsagesBuild(spark, SfDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PushedFilters") && plan.contains("p_name"),
      "LIKE 'red %' must reach the part scan as a pushed StartsWith")
    assert(plan.contains("BroadcastHashJoin"),
      "matched type keys and site metadata join via broadcast, " +
        "the edge relation must not shuffle for the semi-join")
  }

  test("found path is a real alternating supplier-part-supplier walk") {
    val path = GraphOps.graphPathFind(spark, SfDir)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(path.map(_._1).toSeq == Seq(0, 1, 2), s"got ${path.toSeq}")
    assert(path.head._3 == 0L && path.last._3 != 0L)
    // every consecutive (supplier, part) pair must be a real edge
    val edges = Tables.lineitem(spark, SfDir)
      .select(col("l_suppkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    path.sliding(2).foreach {
      case Array((_, "supplier", s), (_, "part", p)) =>
        assert(edges.contains((s, p)), s"missing edge $s->$p")
      case Array((_, "part", p), (_, "supplier", s)) =>
        assert(edges.contains((s, p)), s"missing edge $s->$p")
      case other => fail(s"non-alternating step pair: ${other.toSeq}")
    }
  }

  /** Plain-Scala BFS over the collected distinct edges with the same
    * rule as pathFind: each node keeps the MIN (type, id) parent among the
    * frontier nodes first reaching it. Returns (step, node_type, node_id)
    * from src to dst, empty when dst is not reached within maxDepth. */
  private def referencePath(edges: Set[(Long, Long)], src: (String, Long),
      dst: (String, Long), maxDepth: Int): Seq[(Int, String, Long)] = {
    val adj = edges.toSeq.flatMap { case (s, p) =>
      Seq((("supplier", s), ("part", p)), (("part", p), ("supplier", s)))
    }.groupMap(_._1)(_._2)
    val ord = Ordering[(String, Long)]
    var hopOf = Map(src -> 0)
    var parent = Map.empty[(String, Long), (String, Long)]
    var frontier = Seq(src)
    for (h <- 1 to maxDepth) {
      val next = (for (f <- frontier; n <- adj.getOrElse(f, Nil)
          if !hopOf.contains(n)) yield n -> f)
        .groupMapReduce(_._1)(_._2)(ord.min)
      hopOf ++= next.keys.map(_ -> h)
      parent ++= next
      frontier = next.keys.toSeq
    }
    if (dst == src || !hopOf.contains(dst)) Seq.empty
    else Iterator.iterate(dst)(parent).take(hopOf(dst) + 1).toSeq
      .map(n => (hopOf(n), n._1, n._2)).reverse
  }

  test("pathFind matches a plain-Scala min-parent BFS over the collected edges") {
    val edges = Tables.lineitem(spark, SfDir)
      .select(col("l_suppkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def engine(df: DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    def check(src: (String, Long), dst: (String, Long), depth: Int) = {
      val want = referencePath(edges, src, dst, depth)
      val got = engine(GraphOps.pathFind(spark, SfDir, src._1, src._2,
        dst._1, dst._2, depth))
      assert(got == want, s"$src -> $dst at depth $depth")
      want
    }
    val s0 = ("supplier", 0L)
    // part 37 is at distance 3 here: empty below depth 3, one path above
    val deep = (1 to GraphOps.MaxDepth).map(d => check(s0, ("part", 37L), d))
    assert(deep.take(2).forall(_.isEmpty) && deep.drop(2).forall(_.size == 4))
    val s0Parts = edges.collect { case (0L, p) => p }
    assert(check(s0, ("part", s0Parts.min), GraphOps.MaxDepth).size == 2)
    val farSupplier = edges.map(_._1).max
    assert(check(("part", 37L), ("supplier", farSupplier), GraphOps.MaxDepth)
      .nonEmpty)
    assert(check(s0, ("part", Long.MaxValue), GraphOps.MaxDepth).isEmpty)
    // graph_path_find: the same BFS to the smallest hop-2 supplier
    val target = edges.collect { case (s, p) if s != 0L && s0Parts(p) => s }.min
    assert(engine(GraphOps.graphPathFind(spark, SfDir)) ==
      referencePath(edges, s0, ("supplier", target), 2))
  }

  test("deep path find walks real edges from supplier 0 to part 37") {
    val path = GraphOps.graphPathFindDeep(spark, SfDir)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(path.map(_._1).toSeq == Seq(0, 1, 2, 3), s"got ${path.toSeq}")
    assert(path.head == ((0, "supplier", 0L)) && path.last == ((3, "part", 37L)))
    val edges = Tables.lineitem(spark, SfDir)
      .select(col("l_suppkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    path.sliding(2).foreach {
      case Array((_, "supplier", s), (_, "part", p)) =>
        assert(edges.contains((s, p)), s"missing edge $s->$p")
      case Array((_, "part", p), (_, "supplier", s)) =>
        assert(edges.contains((s, p)), s"missing edge $s->$p")
      case other => fail(s"non-alternating step pair: ${other.toSeq}")
    }
  }

  test("path find is empty when dst is unreachable within maxDepth") {
    // part 37 is at distance 3 from supplier 0 — a depth-1 search must
    // return the reference's "no path found" (empty), not a wrong path
    assert(GraphOps.pathFind(spark, SfDir,
      "supplier", 0L, "part", 37L, 1).count() == 0)
  }

  test("phased impact severities and phase node types match the contract") {
    val rows = GraphOps.graphImpactPhased(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    val byPhase = rows.groupBy(_._1)
    assert(byPhase.keySet == Set("implementation", "direct_caller", "transitive"))
    assert(byPhase("implementation").forall(r =>
      r._2 == "must_update" && r._3 == "supplier"))
    assert(byPhase("direct_caller").forall(r =>
      r._2 == "must_update" && r._3 == "customer"))
    assert(byPhase("transitive").forall(r =>
      r._2 == "review_needed" && r._3 == "customer"))
    // reference dedup rule: a direct caller never reappears as transitive
    val direct = byPhase("direct_caller").map(_._4).toSet
    assert(byPhase("transitive").forall(r => !direct.contains(r._4)))
    // implementations = exactly the suppliers shipping the target part
    val impl = Tables.lineitem(spark, SfDir)
      .filter(col("l_partkey") === 1).select(col("l_suppkey"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(byPhase("implementation").map(_._4).toSet == impl)
  }
}

/** Structural pattern search: template AST → one codegen'd scan. */
class PatternSpec extends AnyFunSuite with SparkFixture {
  import operators.PatternOps
  import operators.PatternOps._

  test("template parses to literal tokens and metavariables") {
    val q = PatternQuery.parse("hash $KIND join")
    assert(q.elems == Seq(LitTok("hash"), MetaVar("KIND"), LitTok("join")))
    assert(q.metaNames == Seq("KIND"))
  }

  test("malformed templates are rejected with the offending element named") {
    val e = intercept[IllegalArgumentException] {
      PatternQuery.parse("hash $kind join") // lowercase metavar = bad token
    }
    assert(e.getMessage.contains("$kind"))
    intercept[IllegalArgumentException] { PatternQuery.parse("   ") }
    // same metavar twice would need a backreference — not RE2-expressible
    intercept[IllegalArgumentException] { PatternQuery.parse("$A join $A") }
  }

  test("$$$ gap matches zero or more tokens between anchors, lazily") {
    val sparkS = spark
    import sparkS.implicits._
    val q = PatternQuery.parse("hash $$$ join")
    assert(q.elems == Seq(LitTok("hash"), Gap, LitTok("join")))
    val re = java.util.regex.Pattern.compile(q.regex)
    def firstMatch(s: String): Option[String] = {
      val m = re.matcher(s); if (m.find()) Some(m.group(1)) else None
    }
    assert(firstMatch("a hash join b") == Some("hash join"))        // zero tokens
    assert(firstMatch("a hash x y join b") == Some("hash x y join"))
    // lazy: stops at the FIRST join, not the last
    assert(firstMatch("hash a join b join") == Some("hash a join"))
    assert(firstMatch("hashx join") == None)                         // token boundary
    intercept[IllegalArgumentException] { PatternQuery.parse("$$$ join") }
    intercept[IllegalArgumentException] { PatternQuery.parse("a $$$ $$$ b") }
  }

  test("pattern search is one scan, no UDF, no shuffle before the top-k") {
    val df = PatternOps.patternSearch(spark, SfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"must be a single corpus scan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"ranked limit must collapse to TakeOrdered:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"no shuffle before the thin top-k:\n$plan")
  }

  test("symbols_extract matches a plain-Scala keyword-declaration scan") {
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        "[a-z0-9]+".r.findAllIn(r.getString(1).toLowerCase).toVector)
    val want = (for {
      (id, ts) <- docs.toSeq
      (kw, kind) <- PatternOps.SymbolKinds
      i <- ts.indices.dropRight(1) if ts(i) == kw
    } yield (id, ts(i + 1), kind, (i + 1).toLong)).toSet
    val got = PatternOps.symbolsExtract(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(got == want)
    // the relation must actually be populated on this corpus
    assert(got.nonEmpty)
    assert(got.map(_._3) == Set("type", "function", "stream"))
  }

  test("symbols_extract is one scan with a narrow explode, no shuffle") {
    val plan = operators.PatternOps.symbolsExtract(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan.take(1200))
    assert(!plan.contains("Exchange"), plan.take(1200))
    assert(plan.contains("Generate"), plan.take(1200))
  }

  test("matches, captures and counts agree with a per-doc reference scan") {
    val got = PatternOps.patternMatches(spark, SfDir, "hash $KIND join", 1000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getString(4))).toSeq.sortBy(_._1)
    val re = java.util.regex.Pattern.compile(
      "(?:^|[^a-z0-9])(hash[^a-z0-9]+([a-z0-9]+)[^a-z0-9]+join)\\b")
    val want = Tables.documents(spark, SfDir)
      .select(col("doc_id"), lower(col("text"))).collect()
      .flatMap { r =>
        val (id, lt) = (r.getLong(0), r.getString(1))
        val m = re.matcher(lt)
        if (!m.find()) None
        else {
          val first = m.group(1); val kind = m.group(2)
          var n = 1
          while (m.find()) n += 1
          Some((id, lt.indexOf(first).toLong + 1, first, n.toLong, kind))
        }
      }.toSeq.sortBy(_._1)
    assert(got == want && got.nonEmpty)
  }

  test("all-occurrences surface fans out one row per match, counts aligned") {
    val sparkS = spark
    import sparkS.implicits._
    val all = PatternOps.patternMatchesAll(spark, SfDir, "hash $KIND join")
    // per-doc occurrence rows must agree with the first-match surface's
    // n_matches, and match_idx must be a dense 0..n-1 sequence
    val perDoc = all.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max(col("match_idx")).as("mx"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val firstSurface = PatternOps.patternMatches(spark, SfDir, "hash $KIND join", 100000)
      .select("doc_id", "n_matches").as[(Long, Long)].collect().toMap
    assert(perDoc.keySet == firstSurface.keySet && perDoc.nonEmpty)
    perDoc.foreach { case (id, (n, mx)) =>
      assert(n == firstSurface(id) && mx == n - 1, s"doc $id: n=$n mx=$mx")
    }
  }

  test("a multi-metavariable template captures each position independently") {
    val rows = PatternOps.patternMatches(spark, SfDir, "$A the $B", 5)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mt, a, b) = (r.getString(2), r.getString(4), r.getString(5))
      assert(mt == s"$a the $b", s"captures must reassemble the match: $r")
    }
  }
}

/** Frame-sliced multimodal energy: bounded memory, no shuffle. */
/** Glob-pattern discovery: compiler semantics, admission precedence,
  * plan shape (discovery.go:26-125 analogue). */
class DiscoverySpec extends AnyFunSuite with SparkFixture {
  import operators.DiscoveryOps

  test("globToRegex: separator-aware * / ** / ? / {a,b} semantics") {
    def m(g: String, s: String) = s.matches(DiscoveryOps.globToRegex(g))
    assert(m("src1*/**", "src1/5") && m("src1*/**", "src19/123"))
    assert(!m("src1*/**", "src2/5"))
    assert(!m("*", "a/b") && m("**", "a/b"), "* must stop at the separator")
    assert(m("src?/**", "src4/7") && !m("src?/**", "src14/7"))
    assert(m("**/*7", "src0/17") && !m("**/*7", "src0/71"))
    assert(m("{src1,src2}/**", "src2/9") && !m("{src1,src2}/**", "src3/9"))
    assert(m("a.b", "a.b") && !m("a.b", "axb"), "literal dots are escaped")
    // the reference's directory-suffix probe shape (discovery.go:119-123):
    // pattern dir/** must also cover the bare dir node via path + "/**"
    assert(m("src13/**", "src13" + "/**"))
  }

  test("discovery admits code before docs and drops ignored subtrees") {
    val rows = DiscoveryOps.discoverGlob(spark, SfDir).collect()
    assert(rows.nonEmpty)
    val paths = rows.map(_.getString(0))
    assert(paths.forall(!_.startsWith("src13/")), "ignored subtree")
    assert(paths.forall(!_.endsWith("7")), "ignored filename shape")
    rows.foreach { r =>
      val expected =
        if (r.getString(0).matches("^src1[^/]*/.*$")) "code" else "docs"
      assert(r.getString(1) == expected,
        s"${r.getString(0)} classified ${r.getString(1)}")
    }
    assert(rows.exists(_.getString(1) == "code"))
    assert(rows.exists(_.getString(1) == "docs"))
  }

  test("discovery plan: one pruned scan, no shuffle, no generate") {
    val plan = DiscoveryOps.discoverGlob(spark, SfDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    // count numbered detail-section nodes: the formatted tree section
    // names each scan a second time
    assert("""\(\d+\) Scan parquet""".r.findAllIn(plan).size == 1,
      "exactly one scan")
    assert(!plan.contains("Exchange"), "pure filter+project: no shuffle")
    assert(!plan.contains("Generate"), "no explode in admission")
    assert(!plan.contains("text:"), "text column must be pruned from the read")
    // fused alternations: one RLIKE per pattern-SET evaluation, never one
    // per pattern. The formatted plan mentions 6: the ignore set's two
    // probes (path, path + "/**") in the admission filter, plus the
    // code/docs pair inside the cls CASE — which the tree prints twice
    // (the Project computing cls and the Filter's isnotnull(CASE …)).
    // The invariant: this count is fixed by plan structure; growing a
    // pattern set (a hundred ignore globs) must not change it.
    assert("""RLIKE""".r.findAllIn(plan).size == 6,
      "one fused RLIKE per pattern-set evaluation")
  }
}

class MultimodalSpec extends AnyFunSuite with SparkFixture {
  import operators.MultimodalOps

  test("frame energy runs shuffle-free (per-frame slice, no groupBy)") {
    val plan = MultimodalOps.mmFrameEnergy(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      "frame-sliced energy must aggregate inside the row, not shuffle")
  }

  test("frame-sliced energy equals the explode-every-byte formulation") {
    val sliced = MultimodalOps.mmFrameEnergy(spark, SfDir)
      .orderBy("doc_id", "frame_idx").collect().toSeq
    val exploded = Tables.documents(spark, SfDir)
      .filter(col("n_chars") >= 1)
      .select(col("doc_id"),
        posexplode(org.apache.spark.sql.functions.transform(
          sequence(lit(1), col("n_chars").cast("int")),
          p => ascii(col("text").substr(p, lit(1))))))
      .select(col("doc_id"), expr("pos div 50").as("frame_idx"),
        col("col").as("b"))
      .groupBy(col("doc_id"), col("frame_idx"))
      .agg(count(lit(1)).as("n_samples"),
        sum(col("b") * col("b")).as("energy_sum"))
      .orderBy("doc_id", "frame_idx").collect().toSeq
    assert(sliced == exploded)
  }
}

/** Bucketed index-store layout: co-located joins must be shuffle-free. */
class IndexStoreSpec extends AnyFunSuite with SparkFixture {
  import graft.sources.IndexStore

  test("tables bucketed on the same key join without a shuffle") {
    val docs = Tables.documents(spark, SfDir).select(col("doc_id"), col("lang"))
    val emb = Tables.embeddings(spark, SfDir)
      .select(col("vec_id").as("doc_id"), col("label"))
    IndexStore.writeBucketed(docs, "docs_bkt", "doc_id", 4)
    IndexStore.writeBucketed(emb, "emb_bkt", "doc_id", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("docs_bkt").join(spark.table("emb_bkt"), "doc_id")
      assert(j.count() > 0)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("hybrid_search over the bucketed index joins exchange-free") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = operators.SearchOps.hybridSearch(spark, SfDir)
      assert(df.count() > 0)
      val plan = df.queryExecution.executedPlan.toString
      assert(SparkFixture.hashExchanges(df) == 0,
        s"bucketed docs-embeddings join must not shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("vec_knn_join pairs stay co-located; only the thin top-k agg shuffles") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = operators.SearchOps.vecKnnJoin(spark, SfDir)
      assert(df.count() > 0)
      val plan = df.queryExecution.executedPlan.toString
      assert(SparkFixture.hashExchanges(df) <= 1,
        s"candidate pairs must not shuffle (only the agg may):\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("invalidateDerived drops a dir's derived tables; next use rebuilds") {
    operators.DedupOps.simhashCandidates(spark, SfDir).count()
    val tbl = IndexStore.derivedTableName(spark, SfDir, "simhash_bands")
    assert(spark.catalog.tableExists(tbl))
    IndexStore.invalidateDerived(spark, SfDir)
    assert(!spark.catalog.tableExists(tbl),
      "the data-changed hook must drop the derived table")
    // next use rebuilds the table and still answers
    assert(operators.DedupOps.simhashCandidates(spark, SfDir).count() > 0)
  }

  test("invalidateDerived rebuilds the search index over a rewritten corpus") {
    val dir = TempDirs("graft-reindex").toString
    val emb = Tables.embeddings(spark, SfDir)
    Tables.documents(spark, SfDir).write.parquet(s"$dir/documents.parquet")
    emb.write.parquet(s"$dir/embeddings.parquet")
    val before = spark.table(IndexStore.index(spark, dir).embByLabel).count()
    assert(before == emb.count())
    // rewrite the embeddings in place: every vector twice
    emb.union(emb).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    IndexStore.invalidateDerived(spark, dir)
    assert(spark.table(IndexStore.index(spark, dir).embByLabel).count() ==
      2 * before, "the index must be rebuilt from the rewritten embeddings")
    IndexStore.invalidateDerived(spark, dir)
  }

  test("concurrent derivedBucketed calls for one key write one table once") {
    // no corpus files: the bucket count sizes to the floor from 0 bytes
    val dir = TempDirs("graft-race").toString
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = {
            start.await()
            IndexStore.derivedBucketed(spark, dir, "race", Seq("k")) {
              builds.incrementAndGet()
              spark.range(100).toDF("k")
            }
          }
        })
      }
      start.countDown()
      val names = calls.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      assert(names.toSet.size == 1, names)
      assert(builds.get == 1, "the table must be written once")
      assert(spark.table(names.head).count() == 100)
    } finally {
      pool.shutdown()
      IndexStore.invalidateDerived(spark, dir)
    }
  }

  test("an invalidate inside a value memo's build installs nothing") {
    val dir = "/tmp/graft_memo_test"
    PlanCache.invalidate(dir)
    var builds = 0
    var released = List.empty[Long]
    def get(): Long = PlanCache.memo(spark, dir, "memo:v") {
      builds += 1
      // the watch loop's per-batch invalidate lands mid-build
      if (builds == 1) PlanCache.invalidate(dir)
      builds * 10L
    }(v => released ::= v)
    assert(get() == 10, "the in-flight caller still gets its value")
    assert(PlanCache.lookup(spark, dir, "memo:v").isEmpty,
      "a value built across an invalidation must not be installed")
    assert(released == List(10L), "the value the store does not keep is released")
    assert(get() == 20 && builds == 2, "the next call rebuilds")
    assert(get() == 20 && builds == 2, "and that build is the memo")
    PlanCache.invalidate(dir)
    assert(released == List(20L, 10L))
  }

  test("chained builds share one epoch snapshot: mid-chain invalidate " +
      "suppresses later layers' installs") {
    val dir = "/tmp/graft_epoch_test"
    PlanCache.invalidate(dir)
    val e0 = PlanCache.currentEpoch
    val l1 = PlanCache.getOrBuildAt(spark, dir, "ep:l1", e0) {
      spark.range(5).toDF("id")
    }
    // an invalidate lands between layers (the watch loop's per-batch hook)
    PlanCache.invalidate(dir)
    // layer 2 is built from the stale local l1; its build STARTS after the
    // bump, so a per-call epoch check would wrongly install it
    PlanCache.getOrBuildAt(spark, dir, "ep:l2", e0) { l1.filter(col("id") < 3) }
    var rebuilt = false
    PlanCache.getOrBuild(spark, dir, "ep:l2") {
      rebuilt = true; spark.range(2).toDF("id")
    }
    assert(rebuilt,
      "post-invalidation lookup must not hit a layer installed from " +
        "pre-invalidation state")
    PlanCache.invalidate(dir)
  }

  test("a layer installed under a newer epoch is not served to an older snapshot") {
    val dir = "/tmp/graft_epoch_test2"
    PlanCache.invalidate(dir)
    val e0 = PlanCache.currentEpoch
    // an invalidate lands, then a CONCURRENT query (fresh snapshot e1)
    // installs the layer rebuilt from post-change data
    PlanCache.invalidate(dir)
    val e1 = PlanCache.currentEpoch
    PlanCache.getOrBuildAt(spark, dir, "ep2:l", e1) { spark.range(9).toDF("id") }
    // the in-flight chain holding e0 must NOT consume the fresher layer
    // (it would join it against its own stale local state) — it rebuilds
    // from its own chain and its install is suppressed
    var rebuilt = false
    val r = PlanCache.getOrBuildAt(spark, dir, "ep2:l", e0) {
      rebuilt = true; spark.range(3).toDF("id")
    }
    assert(rebuilt && r.count() == 3,
      "older snapshot must rebuild, not mix in the newer cached layer")
    // the fresher entry remains the memo for new queries
    var again = false
    PlanCache.getOrBuild(spark, dir, "ep2:l") {
      again = true; spark.range(1).toDF("id")
    }
    assert(!again, "the e1 install must survive as the memo")
    PlanCache.invalidate(dir)
  }

  test("simhash candidate join reads the bucketed band table co-located") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = operators.DedupOps.simhashCandidates(spark, SfDir)
      assert(df.count() > 0)
      val plan = df.queryExecution.executedPlan.toString
      assert(SparkFixture.hashExchanges(df) == 0,
        s"band self-join must be exchange-free over the bucketed table:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("incremental dedup reports exactly the cross-split minhash pairs") {
    val full = operators.DedupOps.dedupMinhashLsh(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def isNew(id: Long) =
      id % operators.DedupOps.IncrMod == operators.DedupOps.IncrRes
    // the (new, corpus) orientation of every full-corpus pair that
    // crosses the batch split — band collisions and the Jaccard verify
    // are the same machinery, so the sets must agree exactly
    val expected = full.flatMap { case (a, b, j) =>
      if (isNew(a) && !isNew(b)) Some((a, b, j))
      else if (isNew(b) && !isNew(a)) Some((b, a, j))
      else None
    }.toSet
    val got = operators.DedupOps.dedupIncremental(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected)
    assert(got.nonEmpty, "the corpus must exercise the cross-split path")
    assert(got.forall { case (a, b, _) => isNew(a) && !isNew(b) })
  }

  test("incremental dedup probes the corpus band table without shuffling it") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = operators.DedupOps.incrementalCandidates(spark, SfDir)
      df.count()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"the new-batch bands must broadcast:\n$plan")
      // the corpus side reads the bucketed table in place; the only
      // hash exchange allowed is the NEW side's own signature aggregate
      val corpusShuffles = "Exchange hashpartitioning\\(band".r
        .findAllIn(plan).size
      assert(corpusShuffles == 0,
        s"corpus band rows must not repartition:\n$plan")
      // above the churn cap the probe side takes its own churn-sized
      // shuffle instead of the broadcast (the broadcast grows with the
      // new batch — the sf10 audit's one corpus-scaling broadcast), the
      // corpus rows STILL never repartition, and results are identical
      val base = df.collect().map(_.toString).sorted.toSeq
      spark.conf.set(operators.DedupOps.IncrBroadcastDocsConf, "0")
      try {
        val routed = operators.DedupOps.incrementalCandidates(spark, SfDir)
        assert(routed.collect().map(_.toString).sorted.toSeq == base,
          "the churn route is a plan knob, not a semantics knob")
        val rplan = routed.queryExecution.executedPlan.toString
        assert(!rplan.contains("BroadcastHashJoin"),
          s"above the cap the probe side must not broadcast:\n$rplan")
        assert("Exchange hashpartitioning\\(band".r.findAllIn(rplan).isEmpty,
          s"corpus band rows must not repartition on the routed path:\n$rplan")
      } finally spark.conf.unset(operators.DedupOps.IncrBroadcastDocsConf)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("the churn broadcast cap is integer-exact: == broadcasts, -1 routes") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val churn = Tables.documents(spark, SfDir)
      .filter(col("doc_id") % operators.DedupOps.IncrMod ===
        operators.DedupOps.IncrRes).count()
    def planAt(cap: Long): String = {
      spark.conf.set(operators.DedupOps.IncrBroadcastDocsConf, cap.toString)
      try {
        val df = operators.DedupOps.incrementalCandidates(spark, SfDir)
        df.count()
        df.queryExecution.executedPlan.toString
      } finally spark.conf.unset(operators.DedupOps.IncrBroadcastDocsConf)
    }
    try {
      assert(planAt(churn).contains("BroadcastHashJoin"),
        s"cap == churn ($churn docs) must still ride the broadcast bus")
      assert(!planAt(churn - 1).contains("BroadcastHashJoin"),
        s"cap == churn - 1 must take the routed shuffle")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("phash pairs equal a direct 32-frame average-hash recount") {
    val docs = Tables.documents(spark, SfDir)
      .filter(col("n_chars") >= 32)
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2).toInt))
    def phash(text: String, nc: Int): Long = {
      val es = (0 until 32).map { f =>
        val s = f * nc / 32
        val e = (f + 1) * nc / 32
        (s until e).map { i =>
          val b = text.codePointAt(text.offsetByCodePoints(0, i)).toLong
          b * b
        }.sum
      }
      val tot = es.sum
      (0 until 32).map(f => if (es(f) * 32 > tot) 1L << f else 0L).sum
    }
    val sigs = docs.map { case (id, t, nc) => id -> phash(t, nc) }.toMap
    val expected = (for {
      (a, ha) <- sigs; (b, hb) <- sigs if a < b
      hm = java.lang.Long.bitCount(ha ^ hb) if hm <= 3
    } yield (a, b, hm)).toSet
    val got = operators.MultimodalOps.mmPhashDedup(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected)
    assert(got.nonEmpty, "the corpus must exercise the near-dup path")
  }

  test("phash candidate join reads the bucketed band table co-located") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = operators.MultimodalOps.mmPhashDedup(spark, SfDir)
      df.count()
      val plan = df.queryExecution.executedPlan.toString
      // one exchange belongs to the thin surviving-pairs distinct; the
      // band self-join itself reads both sides co-located
      assert(SparkFixture.hashExchanges(df) <= 1,
        s"band self-join must be exchange-free over the bucketed table:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("exact batch KNN aborts loudly when a cell exceeds the cap") {
    // sf0.001 cells hold ~100 vectors each: a cap of 10 must trip the
    // plan-embedded assert with the routing message, and the default cap
    // must leave results identical to an uncapped run (same data path)
    val e = intercept[Exception] {
      operators.SearchOps.vecKnnJoinCapped(spark, SfDir, 10L).count()
    }
    assert(e.getMessage.contains("vec_knn_join_ann"),
      s"guard must point at the ANN path, got: ${e.getMessage}")
    val capped = operators.SearchOps.vecKnnJoin(spark, SfDir)
      .orderBy("a_id", "rk").collect().toSeq
    val uncapped = operators.SearchOps
      .vecKnnJoinCapped(spark, SfDir, Long.MaxValue)
      .orderBy("a_id", "rk").collect().toSeq
    assert(capped == uncapped)
  }

  test("ANN batch KNN keeps >= 0.9 recall of the exact join's pairs") {
    val exact = operators.SearchOps.vecKnnJoin(spark, SfDir)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = operators.SearchOps.vecKnnJoinAnn(spark, SfDir)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ann).size.toDouble / exact.size
    assert(recall >= 0.9, s"ANN recall $recall over ${exact.size} exact pairs")
  }
}

case class Ev(event_id: Long, ts: java.sql.Timestamp,
    user_id: Long, event_type: String, value: Double)

/** Streaming twins vs their batch twins over a MemoryStream. */
class StreamingSpec extends AnyFunSuite with SparkFixture {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import graft.streaming.StreamingOps

  private def ts(minute: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private val events = Seq(
    Ev(1, ts(5), 1, "click", 1.0), Ev(2, ts(20), 1, "click", 2.0),
    Ev(3, ts(65), 1, "view", 3.0), Ev(4, ts(130), 2, "click", 4.0),
    Ev(5, ts(140), 2, "click", 5.0), Ev(6, ts(200), 2, "view", 6.0))

  test("streaming tumbling-window agg matches batch aggregation") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(events: _*)
    val q = StreamingOps.streamingWindowAgg(mem.toDF())
      .writeStream.format("memory").queryName("win_agg")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("win_agg")
      .orderBy("window_epoch", "event_type").collect().toSeq
    val batchDf = events.toDF()
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("window_epoch"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("window_epoch", "event_type").collect().toSeq
    assert(streamed == batchDf)
  }

  test("mapGroupsWithState upsert keeps the newest row per key across batches") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingOps.streamingUpsertLatest(mem.toDF())
      .writeStream.format("memory").queryName("upsert")
      .outputMode("update").start()
    try {
      mem.addData(Ev(1, ts(5), 1, "click", 1.0), Ev(2, ts(20), 1, "view", 2.0))
      q.processAllAvailable()
      mem.addData(Ev(3, ts(10), 1, "stale", 9.0)) // older than event 2
      q.processAllAvailable()
      val latest = spark.table("upsert")
        .groupBy("user_id").agg(max(struct(col("ts_ns"), col("event_id"),
          col("event_type"))).as("s"))
        .select(col("user_id"), col("s.event_type")).as[(Long, String)]
        .collect().toMap
      // the state kept event 2 (ts 20) even after the stale event 3 arrived
      assert(latest(1L) == "view")
    } finally q.stop()
  }

  test("streaming funnel depths replay to the batch funnel counts") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the real sf0.001 event log, replayed per the in-order contract
    val log = Tables.events(spark, SfDir)
      .orderBy(col("ts_ns"), col("event_id"))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect()
    val mem = MemoryStream[Ev]
    val q = StreamingOps.streamingFunnel(mem.toDF())
      .writeStream.format("memory").queryName("funnel_state")
      .outputMode("update").start()
    try {
      for (chunk <- log.grouped(log.length / 3 + 1)) {
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      // newest depth per user (update mode appends every revision)
      val depths = spark.table("funnel_state")
        .groupBy("user_id").agg(max(col("depth")).as("depth"))
        .select("depth").as[Int].collect()
      val batch = operators.Relational.q15Funnel(spark, SfDir).collect()
        .map(r => r.getInt(0) -> r.getLong(2)).toMap
      for (k <- 1 to 3)
        assert(depths.count(_ >= k).toLong == batch(k), s"step $k")
    } finally q.stop()
  }

  test("flatMapGroupsWithState emits closed sessions as the watermark advances") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingOps.streamingSessionizeStateful(mem.toDF())
      .writeStream.format("memory").queryName("sess_state")
      .outputMode("append").start()
    try {
      // user 1: two events 15 min apart -> one open session
      mem.addData(Ev(1, ts(5), 1, "click", 1.0), Ev(2, ts(20), 1, "click", 2.0))
      q.processAllAvailable()
      // an event far in the future advances the watermark past the gap,
      // timing out user 1's open session
      mem.addData(Ev(3, ts(300), 2, "view", 3.0))
      q.processAllAvailable()
      mem.addData(Ev(4, ts(600), 3, "view", 4.0))
      q.processAllAvailable()
      val closed = spark.table("sess_state")
        .select("user_id", "n_events").as[(Long, Long)].collect().toSet
      assert(closed.contains((1L, 2L)),
        s"user 1's 2-event session should have closed, got $closed")
    } finally q.stop()
  }

  test("streaming incremental pipeline emits work proportional to churn") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = StreamingOps.streamingPipelineIncremental(
        mem.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("pipe_stream")
      .outputMode("append").start()
    try {
      mem.addData((1L, ts(5), "alpha beta gamma delta"))
      q.processAllAvailable()
      val afterFirst = spark.table("pipe_stream").count()
      assert(afterFirst > 0, "first sight of a doc must emit its chunks")
      // the same document re-notified unchanged -> every fingerprint is
      // already in state -> zero new work
      mem.addData((1L, ts(10), "alpha beta gamma delta"))
      q.processAllAvailable()
      assert(spark.table("pipe_stream").count() == afterFirst,
        "unchanged re-notification must add no work")
      // an edited document emits only its (new-fingerprint) chunks
      mem.addData((1L, ts(15), "alpha beta gamma EDITED"))
      q.processAllAvailable()
      assert(spark.table("pipe_stream").count() > afterFirst,
        "an edit must re-enqueue changed chunks")
    } finally q.stop()
  }

  test("streaming edge maintenance emits each distinct edge exactly once") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val q = StreamingOps.streamingEdgeUpserts(mem.toDF().toDF("src", "dst"))
      .writeStream.format("memory").queryName("edge_stream")
      .outputMode("append").start()
    try {
      mem.addData((1L, 10L), (1L, 10L), (2L, 20L))
      q.processAllAvailable()
      // a re-notified edge in a later batch is state-suppressed; a new
      // edge flows through — the BFS-memo invalidation signal
      mem.addData((1L, 10L), (3L, 30L))
      q.processAllAvailable()
      val edges = spark.table("edge_stream")
        .as[(Long, Long)].collect().toSeq
      assert(edges.sorted == Seq((1L, 10L), (2L, 20L), (3L, 30L)),
        s"each distinct edge exactly once, got $edges")
    } finally q.stop()
  }

  test("watch loop: a new edge is visible to the next kHop; an unchanged batch writes nothing") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.WatchLoop
    import graft.operators.GraphOps
    val mem = MemoryStream[(Long, Long)]
    val q = WatchLoop.start(spark, SfDir, mem.toDF().toDF("src", "dst"))
    val tbl = "graft_watch_edges" + SfDir.replaceAll("[^a-zA-Z0-9]", "_")
    try {
      val newPart = 999999L
      def hop1Parts() = GraphOps.kHop(spark, SfDir, 2)
        .filter(col("hop") === 1).select("node_id")
        .as[Long].collect().toSet
      assert(!hop1Parts().contains(newPart))
      // supplier 0 (a seed) starts shipping a brand-new part: the next
      // kHop must see it at hop 1 — the memo was invalidated per batch
      mem.addData((0L, newPart))
      q.processAllAvailable()
      assert(hop1Parts().contains(newPart),
        "BFS memo must rebuild against the stream-updated edge table")
      // an unchanged batch (same edge re-notified) must not write: the
      // stream's dedup state suppresses it before foreachBatch
      val rowsBefore = spark.table(tbl).count()
      mem.addData((0L, newPart))
      q.processAllAvailable()
      assert(spark.table(tbl).count() == rowsBefore,
        "a re-notified edge must not append (no-op reload)")
      // a REPLAYED pre-existing edge (in the seeded table but not yet in
      // the stream's state — the watcher-startup replay pattern) must
      // also be a no-op: the anti-join against the table catches what
      // the empty dedup state cannot
      val existing = Tables.lineitem(spark, SfDir)
        .select(col("l_suppkey"), col("l_partkey")).head()
      mem.addData((existing.getLong(0), existing.getLong(1)))
      q.processAllAvailable()
      assert(spark.table(tbl).count() == rowsBefore,
        "a replayed existing edge must not append (no-op reload)")
    } finally {
      q.stop()
      WatchLoop.stop(spark, SfDir)
    }
  }

  test("watch loop: the caller's session reads an append made while no memo is live") {
    // The append runs in the stream's own session, and the caller's
    // session cached its listing of the table when the watch started.
    // Spark refreshes that listing on its own only through a persisted
    // plan over the table; here none is live when the append lands.
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.WatchLoop
    import graft.operators.GraphOps
    val mem = MemoryStream[(Long, Long)]
    val q = WatchLoop.start(spark, SfDir, mem.toDF().toDF("src", "dst"))
    val tbl = "graft_watch_edges" + SfDir.replaceAll("[^a-zA-Z0-9]", "_")
    try {
      val newPart = 777777L
      val before = spark.table(tbl).count()
      mem.addData((0L, newPart))
      q.processAllAvailable()
      assert(spark.table(tbl).count() == before + 1,
        "the caller's listing of the edge table must include the append")
      assert(GraphOps.kHop(spark, SfDir, 2).filter(col("hop") === 1)
        .select("node_id").as[Long].collect().contains(newPart),
        "a memo built after the reload must read the appended edge")
      assert(spark.newSession().table(tbl).count() == before + 1,
        "a fresh session must agree with the caller")
    } finally {
      q.stop()
      WatchLoop.stop(spark, SfDir)
    }
  }

  test("watermarked edge maintenance suppresses within-horizon duplicates") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val q = StreamingOps.streamingEdgeUpsertsWatermarked(
        mem.toDF().toDF("src", "dst", "ts"))
      .writeStream.format("memory").queryName("edge_wm_stream")
      .outputMode("append").start()
    try {
      mem.addData((1L, 10L, ts(5)), (1L, 10L, ts(6)), (2L, 20L, ts(7)))
      q.processAllAvailable()
      // same edge in a later batch, still inside the 1-hour horizon →
      // suppressed; a new edge flows through
      mem.addData((1L, 10L, ts(20)), (3L, 30L, ts(21)))
      q.processAllAvailable()
      val edges = spark.table("edge_wm_stream")
        .select("src", "dst").as[(Long, Long)].collect().toSeq
      assert(edges.sorted == Seq((1L, 10L), (2L, 20L), (3L, 30L)),
        s"each edge once within the watermark horizon, got $edges")
    } finally q.stop()
  }

  test("pattern matching runs unchanged on a stream (stateless, append)") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = graft.operators.PatternOps.streamingPatternMatches(
        mem.toDF().toDF("doc_id", "text"), "hash $KIND join")
      .writeStream.format("memory").queryName("pattern_stream")
      .outputMode("append").start()
    try {
      mem.addData((1L, "a hash outer join b"), (2L, "no match here"))
      q.processAllAvailable()
      mem.addData((3L, "hash x join then hash y join"))
      q.processAllAvailable()
      val got = spark.table("pattern_stream")
        .select("doc_id", "match_idx", "kind")
        .as[(Long, Long, String)].collect().toSeq.sorted
      assert(got == Seq((1L, 0L, "outer"), (3L, 0L, "x"), (3L, 1L, "y")),
        s"got $got")
    } finally q.stop()
  }

  test("glob discovery gates arriving files on a stream (stateless, append)") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val q = graft.operators.DiscoveryOps.streamingDiscoverGlob(
        mem.toDF().toDF("file_path", "n_chars"))
      .writeStream.format("memory").queryName("discover_stream")
      .outputMode("append").start()
    try {
      mem.addData(("src1/5", 10L), ("src4/9", 20L), ("src13/2", 30L))
      q.processAllAvailable()
      mem.addData(("src2/17", 40L), ("nomatch/1", 50L), ("src15/8", 60L))
      q.processAllAvailable()
      val got = spark.table("discover_stream")
        .select("file_path", "cls")
        .as[(String, String)].collect().toSeq.sorted
      // src13/2 ignored (subtree), src2/17 ignored (**/*7), nomatch/1
      // matches neither include set
      assert(got == Seq("src1/5" -> "code", "src15/8" -> "code",
        "src4/9" -> "docs"), s"got $got")
    } finally q.stop()
  }

  test("symbol extraction runs unchanged on a stream (stateless, append)") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = graft.operators.PatternOps.streamingSymbolsExtract(
        mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("symbols_stream")
      .outputMode("append").start()
    try {
      mem.addData((1L, "table users holds query findall rows"),
        (2L, "nothing declared here"))
      q.processAllAvailable()
      mem.addData((3L, "stream clicks"))
      q.processAllAvailable()
      val got = spark.table("symbols_stream")
        .select("doc_id", "symbol", "kind", "pos")
        .as[(Long, String, String, Long)].collect().toSeq.sorted
      // pos is the 1-based token index of the declaring keyword
      assert(got == Seq((1L, "findall", "function", 4L),
        (1L, "users", "type", 1L), (3L, "clicks", "stream", 1L)),
        s"got $got")
    } finally q.stop()
  }

  test("streaming dedup emits one row per content hash across batches") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = StreamingOps.streamingDedupExact(
        mem.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      mem.addData((1L, ts(5), "alpha beta"), (2L, ts(6), "alpha beta"),
        (3L, ts(7), "gamma"))
      q.processAllAvailable()
      // a duplicate arriving in a LATER micro-batch is still suppressed
      mem.addData((4L, ts(20), "alpha beta"))
      q.processAllAvailable()
      val texts = spark.table("dedup_stream")
        .select("text").as[String].collect().toSeq
      assert(texts.sorted == Seq("alpha beta", "gamma"),
        s"each distinct content hash must surface exactly once, got $texts")
    } finally q.stop()
  }

  test("streaming sessionization splits on the 30-minute gap") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(events: _*)
    val q = graft.streaming.StreamingOps.streamingSessionize(mem.toDF())
      .writeStream.format("memory").queryName("sess")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sess")
      .select("user_id", "n_events")
      .orderBy("user_id", "n_events").as[(Long, Long)].collect().toSeq
    // user 1: events at 5,20 (one session) and 65 (new session);
    // user 2: 130,140 together, 200 alone
    assert(got == Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L)))
  }

  test("streaming curation gate admits the batch sample with batch verdicts") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Tables.documents(spark, SfDir)
      .select("doc_id", "text", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val mem = MemoryStream[(Long, String, String)]
    mem.addData(corpus.toIndexedSeq: _*)
    val q = StreamingOps.streamingCurateGate(
        mem.toDF().toDF("doc_id", "text", "lang"))
      .writeStream.format("memory").queryName("curate_gate")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("curate_gate")
      .select("doc_id", "keep").as[(Long, Int)].collect().toMap
    val sampled = operators.CurateOps.curateSampleStratified(spark, SfDir)
      .select("doc_id").as[Long].collect().toSet
    val verdicts = operators.CurateOps.curateRepetition(spark, SfDir)
      .select("doc_id", "keep").as[(Long, Int)].collect().toMap
    assert(got.keySet == sampled,
      "the gate must admit exactly the batch hash-gate sample")
    got.foreach { case (id, keep) =>
      assert(keep == verdicts(id), s"doc $id verdict")
    }
  }

  test("streaming mix gate admits exactly the batch domain-mix sample") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Tables.documents(spark, SfDir)
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val mem = MemoryStream[(Long, String, String)]
    // two micro-batches: the gate is stateless, so the split must not
    // change admissions
    val (b1, b2) = corpus.splitAt(corpus.length / 2)
    mem.addData(b1.toIndexedSeq: _*)
    val q = StreamingOps.streamingMixGate(
        mem.toDF().toDF("doc_id", "text", "source"),
        operators.CurateOps.mixRates(spark, SfDir))
      .writeStream.format("memory").queryName("mix_gate")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      mem.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("mix_gate")
      .select("doc_id", "source", "n_tok", "thr")
      .as[(Long, String, Long, Int)].collect().toSet
    val batch = operators.CurateOps.curateMixDomains(spark, SfDir)
      .as[(Long, String, Long, Int)].collect().toSet
    assert(got == batch, "stream admissions must equal the batch mix")
  }

  test("streaming quality gate scores match the batch classifier") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Tables.documents(spark, SfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    // two micro-batches: the gate is stateless, the split must not matter
    val (b1, b2) = corpus.splitAt(corpus.length / 2)
    mem.addData(b1.toIndexedSeq: _*)
    val q = StreamingOps.streamingQualityGate(
        mem.toDF().toDF("doc_id", "text"),
        operators.CurateOps.qualityModelRow(spark, SfDir))
      .writeStream.format("memory").queryName("quality_gate")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      mem.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("quality_gate")
      .select("doc_id", "score", "keep")
      .as[(Long, Double, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val batch = operators.CurateOps.curateQualityClassifier(spark, SfDir)
      .select("doc_id", "score", "keep")
      .as[(Long, Double, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet == batch.keySet, "every document must be scored once")
    got.foreach { case (id, (score, keep)) =>
      val (bScore, bKeep) = batch(id)
      // the two sides sum log-odds in different orders; 4-decimal scores
      // agree up to one rounding step
      assert(math.abs(score - bScore) <= 1e-4, s"doc $id: $score vs $bScore")
      if (math.abs(bScore) > 1e-3)
        assert(keep == bKeep, s"doc $id verdict")
    }
  }

  test("streaming decontamination alerts once per contaminated doc") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Tables.documents(spark, SfDir)
      .filter(col("doc_id") % operators.CurateOps.HoldoutMod =!= 0)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), ts(5), r.getString(1)))
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    mem.addData(corpus.toIndexedSeq: _*)
    val q = StreamingOps.streamingDecontaminateAlerts(
        mem.toDF().toDF("doc_id", "ts", "text"),
        operators.CurateOps.holdoutGrams(spark, SfDir))
      .writeStream.format("memory").queryName("decontam_alerts")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // re-notified docs (watcher replay) must not alert twice
      mem.addData(corpus.map(_.copy(_2 = ts(10))).toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("decontam_alerts")
        .select("doc_id").as[Long].collect().toSeq
      val batch = operators.CurateOps.curateDecontaminate(spark, SfDir)
        .select("doc_id").as[Long].collect().toSet
      assert(got.size == got.distinct.size, "duplicate alerts")
      assert(got.toSet == batch,
        "alerts must be exactly the batch-contaminated doc set")
    } finally q.stop()
  }

  test("streaming curation gate emits sub-2-token docs with a zero verdict") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // an id the en-rate hash gate admits (75% of ids qualify)
    val shortId = (900000L to 900100L)
      .find(id => md5hex(id.toString).substring(0, 2) <
        operators.CurateOps.RateEn).get
    val mem = MemoryStream[(Long, String, String)]
    mem.addData((shortId, "hello", "en"))
    val q = StreamingOps.streamingCurateGate(
        mem.toDF().toDF("doc_id", "text", "lang"))
      .writeStream.format("memory").queryName("curate_gate_short")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("curate_gate_short")
      .select("doc_id", "dup_bigram_frac", "top_bigram_frac", "keep")
      .as[(Long, Double, Double, Int)].collect().toSeq
    // a 1-token doc has no bigrams: nothing repeats, so it must surface
    // with a zero/keep verdict, not silently vanish from the gate
    assert(got == Seq((shortId, 0.0, 0.0, 1)))
  }

  test("stateful streaming packer continues sequences across micro-batches") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Tables.documents(spark, SfDir)
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val mid = corpus(corpus.length / 2)._1
    val mem = MemoryStream[(Long, String, String)]
    val q = StreamingOps.streamingPackSequences(
        mem.toDF().toDF("doc_id", "text", "source"))
      .writeStream.format("memory").queryName("pack_stream")
      .outputMode("append").start()
    try {
      // two micro-batches split in doc_id order: the per-source token
      // cursor must carry across the batch boundary so the combined
      // assignment equals the batch op over the whole corpus
      mem.addData(corpus.filter(_._1 < mid).toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(corpus.filter(_._1 >= mid).toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("pack_stream")
        .select("doc_id", "source", "n_tok", "seq_id", "seq_offset")
        .as[(Long, String, Long, Long, Long)].collect().toSet
      val batch = operators.CurateOps.curatePackSequences(spark, SfDir)
        .as[(Long, String, Long, Long, Long)].collect().toSet
      assert(got == batch,
        "streamed packing must equal the batch packing of the full corpus")
    } finally q.stop()
  }

  test("file-source ingest: curation gate consumes a growing parquet dir") {
    // the real watch-mode ingestion path (cortex's file watcher): a
    // parquet directory that gains files over time, read as a stream —
    // each new file is one micro-batch, no reprocessing of old files
    val dirIn = TempDirs("graft-ingest").toString
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text", "lang")
    docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(dirIn)
    val q = StreamingOps.streamingCurateGate(
        spark.readStream.schema(docs.schema).parquet(dirIn))
      .writeStream.format("memory").queryName("file_gate")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val n1 = spark.table("file_gate").count()
      docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(dirIn)
      q.processAllAvailable()
      val admitted = spark.table("file_gate")
        .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().toSet
      val sampled = operators.CurateOps.curateSampleStratified(spark, SfDir)
        .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().toSet
      assert(n1 > 0 && admitted.size > n1,
        "the second file must arrive as an incremental batch")
      assert(admitted == sampled,
        "file-source ingest must admit exactly the batch sample")
    } finally q.stop()
  }
}
