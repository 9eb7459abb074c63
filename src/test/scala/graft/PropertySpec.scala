package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests: the compiled Column machinery agrees with plain-Scala
  * model implementations on randomized inputs — a different kind of
  * evidence than the fixed-corpus oracles, because the generators explore
  * corners the corpus never hits (empty docs, one-token docs, nested
  * NOT/AND/OR trees, token multiplicity).
  */
class PropertySpec extends AnyFunSuite with SparkFixture {

  /** Deterministic sampling: scalacheck generators driven by fixed seeds
    * (no scalatest bridge in this environment, and fixed seeds make a
    * failure reproducible by its seed number anyway). */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  import operators.SearchOps.FtsQuery
  import operators.SearchOps.FtsQuery._

  private val vocab = Seq("data", "query", "table", "scan", "agg", "x1")

  private val genLeaf: Gen[FtsQuery] = Gen.oneOf(
    Gen.oneOf(vocab).map(Term.apply),
    Gen.oneOf(vocab).map(t => Phrase(t.take(3))),
    Gen.oneOf(vocab).map(t => Prefix(t.take(2))),
    Gen.oneOf(vocab).map(t => Fuzzy(t.dropRight(1) + "x", 1)))

  private def genTree(depth: Int): Gen[FtsQuery] =
    if (depth == 0) genLeaf
    else Gen.frequency(
      2 -> genLeaf,
      2 -> Gen.listOfN(2, genTree(depth - 1)).map(And.apply),
      2 -> Gen.listOfN(2, genTree(depth - 1)).map(Or.apply),
      1 -> genTree(depth - 1).map(Not.apply))

  private val genDoc: Gen[Seq[String]] =
    Gen.chooseNum(0, 8).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))

  /** The model: evaluate a query tree against a token list directly. */
  private def evalModel(q: FtsQuery, toks: Seq[String]): Boolean = q match {
    case Term(t)     => toks.contains(t)
    case Phrase(p)   => toks.mkString(" ").contains(p)
    case Prefix(p)   => toks.exists(_.startsWith(p))
    case Fuzzy(t, d) => toks.exists(x => levenshteinModel(x, t) <= d)
    case And(qs)     => qs.forall(evalModel(_, toks))
    case Or(qs)      => qs.exists(evalModel(_, toks))
    case Not(s)      => !evalModel(s, toks)
  }

  private def levenshteinModel(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }

  test("FtsQuery.compile agrees with the model on random trees and docs") {
    val sparkS = spark
    import sparkS.implicits._
    val cases = samples(Gen.zip(Gen.listOfN(6, genDoc), genTree(3)), 40)
    cases.foreach { case (docs, q) =>
        val df = docs.zipWithIndex
          .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
          .toDF("doc_id", "text")
          .select(col("doc_id"), lower(col("text")).as("lt"),
            graft.functions.Tokenize.tokens(col("text")).as("ts"))
        val got = df.filter(FtsQuery.compile(q, col("lt"), col("ts")))
          .select("doc_id").collect().map(_.getLong(0)).toSet
        val want = docs.zipWithIndex
          .collect { case (toks, i) if evalModel(q, toks) => i.toLong }.toSet
        assert(got == want, s"query $q on $docs")
    }
  }

  test("pattern templates agree with a token-sequence model on random docs") {
    import operators.PatternOps
    import operators.PatternOps._
    val sparkS = spark
    import sparkS.implicits._
    val tmplVocab = Seq("data", "query", "scan", "x1")
    // doc vocab includes near-miss tokens that CONTAIN template tokens as
    // substrings, exercising the boundary handling
    val docVocab = tmplVocab ++ Seq("datax", "xquery", "zz")
    val seps = Seq(" ", ", ", " - ", "  ")

    val genBase: Gen[List[Elem]] = for {
      n <- Gen.chooseNum(1, 3)
      es <- Gen.listOfN(n, Gen.oneOf(
        Gen.oneOf(tmplVocab).map(LitTok.apply),
        Gen.oneOf(Seq("A", "B", "C")).map(MetaVar.apply)))
    } yield es.zipWithIndex.map { // metavar names must be distinct
      case (MetaVar(nm), i) => MetaVar(s"$nm$i")
      case (e, _) => e
    }
    val genTmpl: Gen[PatternQuery] = for {
      base <- genBase
      gaps <- Gen.listOfN(math.max(base.size - 1, 0), Gen.oneOf(true, false))
    } yield PatternQuery(
      base.head :: base.tail.zip(gaps).flatMap { case (e, g) =>
        if (g) List(Gap, e) else List(e)
      })
    val genDocToks: Gen[Seq[String]] =
      Gen.chooseNum(0, 7).flatMap(n => Gen.listOfN(n, Gen.oneOf(docVocab)))

    // model: does the element list match starting at a token position?
    def m(e: List[Elem], t: List[String]): Boolean = (e, t) match {
      case (Nil, _) => true
      case (LitTok(x) :: er, th :: tr) => th == x && m(er, tr)
      case (MetaVar(_) :: er, _ :: tr) => m(er, tr)
      case (Gap :: er, ts) => ts.tails.exists(s => m(er, s.toList))
      case _ => false
    }
    def modelMatches(q: PatternQuery, toks: Seq[String]): Boolean =
      toks.tails.exists(s => m(q.elems.toList, s.toList))

    val cases = samples(Gen.zip(genTmpl,
      Gen.listOfN(8, Gen.zip(genDocToks, Gen.oneOf(seps)))), 40)
    cases.foreach { case (q, docs) =>
      val df = docs.zipWithIndex
        .map { case ((toks, sep), i) => (i.toLong, toks.mkString(sep)) }
        .toDF("doc_id", "text")
        .select(col("doc_id"),
          (regexp_extract(lower(col("text")), q.regex, 1) =!= "").as("hit"))
      val got = df.filter(col("hit")).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      val want = docs.zipWithIndex
        .collect { case ((toks, _), i) if modelMatches(q, toks) => i.toLong }
        .toSet
      assert(got == want, s"template ${q.elems} regex ${q.regex} on $docs")
    }
  }

  test("winnowing guarantee: an 8-token shared run yields a shared fingerprint") {
    val sparkS = spark
    import sparkS.implicits._
    val run = "alpha beta gamma delta eps zeta eta theta" // 8 tokens: w+k-1
    val pairs = samples(Gen.zip(Gen.listOfN(10, Gen.oneOf(vocab)),
      Gen.listOfN(10, Gen.oneOf(vocab))), 25)
    val rows = pairs.zipWithIndex.flatMap { case ((pre, post), i) =>
      Seq((i.toLong * 2, s"${pre.mkString(" ")} $run ${post.mkString(" ")}"),
        (i.toLong * 2 + 1, s"${post.mkString(" ")} $run ${pre.mkString(" ")}"))
    }
    val sel = operators.TextOps.winnowedToks(rows.toDF("doc_id", "text")
        .withColumn("_t", functions.Tokenize.tokens(col("text"))))
      .select(col("doc_id"), col("sel"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    pairs.indices.foreach { i =>
      val common = sel(i.toLong * 2) intersect sel(i.toLong * 2 + 1)
      assert(common.nonEmpty,
        s"docs sharing an 8-token run must share a selected fingerprint (pair $i)")
    }
  }

  test("zip_with trigram builder agrees with the sliding-window model") {
    val sparkS = spark
    import sparkS.implicits._
    samples(Gen.listOfN(4, genDoc), 40).foreach { docs =>
      // exercises the zip_with/slice construction (short docs, empty docs,
      // exact-3-token docs are the corners) against a direct model
      val gs = docs.zipWithIndex
        .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
        .toDF("doc_id", "text")
        .select(col("doc_id"), operators.DedupOps.trigrams(
          graft.functions.Tokenize.tokens(col("text"))).as("gs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
      docs.zipWithIndex.foreach { case (toks, i) =>
        val want = toks.map(_.toLowerCase)
          .sliding(3).filter(_.sizeIs == 3).map(_.mkString(" ")).toSet
        assert(gs(i.toLong) == want, s"doc $toks")
      }
    }
  }

  test("curation gram shift-chain agrees with the sliding-window model") {
    val sparkS = spark
    import sparkS.implicits._
    for (n <- Seq(2, 4)) {
      samples(Gen.listOfN(4, genDoc), 30).foreach { docs =>
        // corners: empty docs, sub-n docs, exactly-n-token docs — the
        // slice/greatest trimming in CurateOps.withGrams must yield an
        // EMPTY array (not nulls) below n tokens, or gramRows would
        // explode spurious rows into the decontamination join
        val got = docs.zipWithIndex
          .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
          .toDF("doc_id", "text")
          .transform(df => operators.CurateOps.withGrams(df, n, "g"))
          .collect().map(r => r.getAs[Long]("doc_id") ->
            r.getSeq[String](r.fieldIndex("g")).toList).toMap
        docs.zipWithIndex.foreach { case (toks, i) =>
          val want = toks.map(_.toLowerCase)
            .sliding(n).filter(_.sizeIs == n).map(_.mkString(" ")).toList
          assert(got(i.toLong) == want, s"n=$n doc $toks")
        }
      }
    }
  }

  test("globToRegex agrees with a recursive glob matcher on random inputs") {
    // reference model: gobwas/glob semantics with '/' separator —
    // '*'/'?' never cross a separator, '**' crosses anything
    def matches(p: List[Char], s: List[Char]): Boolean = (p, s) match {
      case (Nil, Nil) => true
      case ('*' :: '*' :: pr, _) =>
        s.tails.exists(t => matches(pr, t))
      case ('*' :: pr, _) =>
        // zero or more non-separator chars
        (0 to s.takeWhile(_ != '/').length)
          .exists(k => matches(pr, s.drop(k)))
      case ('?' :: pr, c :: sr) => c != '/' && matches(pr, sr)
      case (c :: pr, d :: sr)   => c == d && matches(pr, sr)
      case _ => false
    }
    val genSeg: Gen[String] = Gen.oneOf("a", "b", "ab", "a1", "x")
    val genGlobSeg: Gen[String] =
      Gen.oneOf(genSeg, Gen.const("*"), Gen.const("**"), Gen.const("?"),
        genSeg.map(_ + "*"), genSeg.map("*" + _))
    val genGlob: Gen[String] =
      Gen.choose(1, 3).flatMap(n =>
        Gen.listOfN(n, genGlobSeg).map(_.mkString("/")))
    val genPath: Gen[String] =
      Gen.choose(1, 3).flatMap(n =>
        Gen.listOfN(n, genSeg).map(_.mkString("/")))
    for (((g, p), i) <- samples(Gen.zip(genGlob, genPath), 400).zipWithIndex) {
      val got = p.matches(operators.DiscoveryOps.globToRegex(g))
      val want = matches(g.toList, p.toList)
      assert(got == want, s"[$i] glob '$g' vs path '$p': regex=$got model=$want")
    }
    // the fused per-SET alternation must be exactly "any pattern matches"
    // — the one-rlike-per-set plan shape rests on this equivalence
    val genSet = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, genGlob))
    for (((gs, p), i) <- samples(Gen.zip(genSet, genPath), 400).zipWithIndex) {
      val got = p.matches(operators.DiscoveryOps.fusedRegex(gs))
      val want = gs.exists(g => matches(g.toList, p.toList))
      assert(got == want, s"[$i] globs $gs vs path '$p': fused=$got any=$want")
    }
  }

  test("phash banding is pigeonhole-exact: hamming<=3 pairs share a band") {
    // the claim the whole candidate join rests on: 3 differing bits over
    // four 8-bit bands always leave one band untouched — so band-equality
    // candidates are a SUPERSET of every true near-dup pair. Randomized
    // over signature pairs constructed AT the threshold (exactly 3 flips)
    // and just past it (4 flips, where the guarantee must be allowed to
    // fail but candidates may still appear — banding is one-sided).
    def bands(sig: Long): Seq[Long] = (0 until 4).map(b => (sig >> (b * 8)) & 255)
    val genSig = Gen.choose(0L, (1L << 32) - 1)
    val genFlips = Gen.pick(3, 0 until 32)
    samples(Gen.zip(genSig, genFlips), 500).foreach { case (sig, flips) =>
      val other = flips.foldLeft(sig)((s, b) => s ^ (1L << b))
      assert(java.lang.Long.bitCount(sig ^ other) <= 3)
      assert(bands(sig).zip(bands(other)).exists { case (a, b) => a == b },
        f"sig=$sig%08x flips=$flips: no shared band at hamming<=3")
    }
    // sanity on the one-sidedness: a 4-flip pair hitting every band CAN
    // lose every band — NO band survives for this constructed pair
    val allBandsHit = (0L, Seq(0, 8, 16, 24).foldLeft(0L)((s, b) => s ^ (1L << b)))
    assert(!bands(allBandsHit._1).zip(bands(allBandsHit._2))
      .exists { case (a, b) => a == b })
  }
}
