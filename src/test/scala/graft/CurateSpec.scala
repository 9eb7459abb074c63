package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.CurateOps

/** Invariants for the training-data curation family, each recomputed
  * independently in plain Scala over the collected sf0.001 corpus (small
  * enough to enumerate) — the same reference-reimplementation style the
  * dedup suites use, so a Spark-side expression bug can't hide behind an
  * oracle that mirrors it. */
class CurateSpec extends AnyFunSuite with SparkFixture {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def toks(text: String): Vector[String] =
    "[a-z0-9]+".r.findAllIn(text.toLowerCase).toVector

  private lazy val docs: Map[Long, (String, String, String)] =
    Tables.documents(spark, SfDir)
      .select("doc_id", "text", "lang", "source").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getString(3)))
      .toMap

  test("decontamination flags exactly the docs sharing a 4-gram with the holdout") {
    def grams(text: String): Set[String] =
      toks(text).sliding(CurateOps.DecontamN)
        .filter(_.size == CurateOps.DecontamN).map(_.mkString(" ")).toSet
    val hold = docs.collect {
      case (id, (t, _, _)) if id % CurateOps.HoldoutMod == 0 => grams(t)
    }.fold(Set.empty)(_ ++ _)
    val expected = docs.collect {
      case (id, (t, _, _)) if id % CurateOps.HoldoutMod != 0 &&
          (grams(t) & hold).nonEmpty =>
        id -> (grams(t) & hold).size.toLong
    }.toMap
    val got = CurateOps.curateDecontaminate(spark, SfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(got.nonEmpty, "the corpus must actually exercise the overlap path")
  }

  test("boilerplate strip drops exactly the high-df lines, in plain Scala") {
    val lines = docs.map { case (id, (t, _, src)) =>
      id -> (src, (t + s"\nfooter generated by $src\nunique $id")
        .split("\n", -1).toVector)
    }
    val hot: Map[String, Set[String]] = lines.values.toSeq
      .flatMap { case (src, ls) => ls.distinct.map(src -> _) }
      .groupBy(identity).collect {
        case ((src, l), occ) if occ.size > CurateOps.BoilerDf => (src, l)
      }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = lines.map { case (id, (src, ls)) =>
      val bl = hot.getOrElse(src, Set.empty)
      (id, ls.size, ls.count(bl), md5hex(ls.filterNot(bl).mkString("\n")))
    }.toSet
    val got = CurateOps.curateBoilerplate(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet
    assert(got == expected)
    // the corpus must exercise BOTH paths: every doc keeps its unique
    // line and loses its source footer
    assert(expected.forall(_._3 >= 1), "no boilerplate was stripped")
    assert(expected.forall { case (_, n, rm, _) => rm < n }, "over-strip")
  }

  test("boilerplate line set broadcasts onto the strip scan") {
    val plan = CurateOps.curateBoilerplate(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the high-df line set must broadcast, not shuffle the corpus:\n$plan")
  }

  test("decontamination broadcasts the eval-holdout gram set") {
    val plan = CurateOps.decontaminateBuild(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"holdout grams must broadcast, not shuffle:\n$plan")
  }

  test("curation scans prune to the referenced document columns") {
    // stratified sampling never touches text — at 100 TB the text column
    // IS the corpus, so reading it for a metadata-only gate would be the
    // difference between scanning GBs and scanning everything
    val strat = operators.CurateOps.curateSampleStratified(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(strat.contains("ReadSchema") && !strat.contains("text"),
      s"stratified gate must not read the text column:\n$strat")
    val rep = operators.CurateOps.curateRepetition(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(!rep.contains("n_chars") && !rep.contains("source"),
      s"repetition scan must read only doc_id+text:\n$rep")
  }

  test("repetition metrics match a direct recount and gate the keep flag") {
    val got = CurateOps.curateRepetition(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getInt(3)))
    assert(got.length == docs.size)
    got.foreach { case (id, dup, top, keep) =>
      val gs = toks(docs(id)._1).sliding(2).filter(_.size == 2)
        .map(_.mkString(" ")).toVector
      val eDup = 1.0 - gs.distinct.size.toDouble / gs.size
      val eTop = gs.groupBy(identity).values.map(_.size).max.toDouble / gs.size
      assert(math.abs(dup - eDup) < 6e-5 && math.abs(top - eTop) < 6e-5,
        s"doc $id metrics")
      assert(keep == (if (eDup <= CurateOps.RepetitionMax &&
        eTop <= CurateOps.RepetitionMax) 1 else 0), s"doc $id keep")
    }
  }

  test("pii redaction masks the injected contact suffix exactly once") {
    val got = CurateOps.curatePiiRedact(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(got.length == docs.size)
    got.foreach { case (id, nEmails, nNums, digest) =>
      // corpus is PII-free (no '@', no digits), so the only hits are the
      // injected suffix: one email, one digit run (the doc_id)
      assert(nEmails == 1 && nNums == 1, s"doc $id counts")
      val (text, _, source) = docs(id)
      val txt = text.toLowerCase + s" contact $source@example.com ext $id"
      val redacted = txt.replaceAll(CurateOps.EmailRe, "<EMAIL>")
        .replaceAll(CurateOps.NumRe, "<NUM>")
      assert(digest == md5hex(redacted), s"doc $id digest")
    }
  }

  test("stratified sample is exactly the hash-gated membership set") {
    val expected = docs.collect {
      case (id, (_, lang, _)) if md5hex(id.toString).substring(0, 2) <
          (if (lang == "en") CurateOps.RateEn
           else if (Set("de", "fr")(lang)) CurateOps.RateMid
           else CurateOps.RateLow) =>
        id
    }.toSet
    val got = CurateOps.curateSampleStratified(spark, SfDir).collect()
      .map(_.getLong(0)).toSet
    assert(got == expected)
    assert(got.nonEmpty && got.size < docs.size)
  }

  test("sequence packing is the contiguous fill of per-source token counts") {
    val got = CurateOps.curatePackSequences(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.length == docs.size)
    val bySource = docs.toSeq.map { case (id, (t, _, src)) => (src, id, toks(t).size) }
      .groupBy(_._1)
    val expected = bySource.flatMap { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._2).map { case (src, id, n) =>
        val off = cum; cum += n
        (id, src, n.toLong, off / CurateOps.PackBudget, off % CurateOps.PackBudget)
      }
    }.toSet
    assert(got.toSet == expected)
    got.foreach { case (id, _, _, _, off) =>
      assert(off >= 0 && off < CurateOps.PackBudget, s"doc $id offset")
    }
  }

  test("shard shuffle assigns md5-hex shards with dense in-shard positions") {
    val got = CurateOps.curateShuffleShards(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(got.length == docs.size)
    val expected = docs.keys.toSeq
      .map(id => (id, Integer.parseInt(md5hex(id.toString).take(1), 16)))
      .groupBy(_._2).flatMap { case (shard, members) =>
        members.sortBy { case (id, _) => (md5hex(id.toString), id) }
          .zipWithIndex.map { case ((id, _), i) => (id, shard, i + 1) }
      }.toSet
    assert(got.toSet == expected)
  }

  test("writeShards lays out sorted per-shard parquet matching the query op") {
    val out = TempDirs("graft-shards").toString
    CurateOps.writeShards(spark, SfDir, out)
    val positions = CurateOps.curateShuffleShards(spark, SfDir).collect()
      .map(r => (r.getInt(1), r.getLong(0))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val shardDirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
    assert(shardDirs.nonEmpty)
    val seen = shardDirs.map { d =>
      val shard = d.getName.stripPrefix("shard=").toInt
      val rows = spark.read.parquet(d.getPath)
        .select("doc_id", "hk").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      // each output file is one sorted run (sortWithinPartitions + one
      // file per shard partition of one shuffle partition)
      assert(rows.map(_._2).toSeq == rows.map(_._2).toSeq.sorted,
        s"shard $shard not sorted by hk")
      assert(rows.map(_._1).toSet == positions(shard), s"shard $shard members")
      shard
    }
    assert(seen.toSet == positions.keySet)
  }

  test("domain mixing hits the target token proportions with max retention") {
    val tokCount = docs.view.mapValues { case (t, _, _) => toks(t).size.toLong }
    val bySrc = docs.groupBy(_._2._3).view.mapValues(_.keys.toVector)
    def weight(src: String): Double = (src.drop(3).toInt % 3) match {
      case 0 => CurateOps.MixW0; case 1 => CurateOps.MixW1
      case _ => CurateOps.MixW2
    }
    val tok = bySrc.mapValues(_.map(tokCount(_)).sum.toDouble).toMap
    val c = tok.map { case (s, t) => t / weight(s) }.min
    // the binding source is pinned to the full gate, mirroring the op
    val thr = tok.map { case (s, t) =>
      s -> (if (t / weight(s) == c) CurateOps.MixGate
        else math.floor(c * weight(s) / t * CurateOps.MixGate).toInt) }
    val expected = docs.collect {
      case (id, (_, _, src))
          if Integer.parseInt(md5hex(s"mix:$id").take(3), 16) < thr(src) =>
        (id, src, tokCount(id), thr(src))
    }.toSet
    val got = CurateOps.curateMixDomains(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    assert(got == expected)
    // the binding tier (scarcest tokens per unit weight) keeps everything:
    // its rate is exactly 1 so the gate threshold is the full 4096
    assert(thr.values.max == CurateOps.MixGate, "binding source keeps all docs")
    // target-mix identity (deterministic — no hash-gate sampling noise):
    // each source's EXPECTED kept token mass rate_s·tok_s equals c·w_s up
    // to the 1/MixGate rate quantization, i.e. the kept corpus mixes the
    // domains in exactly the target weight proportions
    thr.foreach { case (s, t) =>
      val expectedMass = t.toDouble / CurateOps.MixGate * tok(s)
      assert(math.abs(expectedMass - c * weight(s)) <=
        tok(s) / CurateOps.MixGate + 1e-6,
        s"source $s expected kept mass $expectedMass, want ~${c * weight(s)}")
    }
  }

  test("epoch mixing repeats high-weight domains and keeps the token budget") {
    val tokCount = docs.view.mapValues { case (t, _, _) => toks(t).size.toLong }
    def weight(src: String): Double = (src.drop(3).toInt % 3) match {
      case 0 => CurateOps.MixW0; case 1 => CurateOps.MixW1
      case _ => CurateOps.MixW2
    }
    val bySrc = docs.groupBy(_._2._3).view.mapValues(_.keys.toVector)
    val tok = bySrc.mapValues(_.map(tokCount(_)).sum.toDouble).toMap
    // keys is a Set: map over a Seq or the distinct weights collapse
    val (sw, tt) = (tok.keys.toSeq.map(weight).sum, tok.values.sum)
    val expected = docs.toSeq.flatMap { case (id, (_, _, src)) =>
      val rate = weight(src) / sw * tt / tok(src)
      val nFull = math.floor(rate).toInt
      val fthr = math.floor((rate - math.floor(rate)) * CurateOps.MixGate).toInt
      val n = nFull +
        (if (Integer.parseInt(md5hex(s"epoch:$id").take(3), 16) < fthr) 1 else 0)
      (0 until n).map(c => (id, src, n, c))
    }.toSet
    val got = CurateOps.curateMixEpochs(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    assert(got == expected)
    // upsampling is actually exercised: the heavy tier repeats documents
    assert(got.exists(_._4 >= 1), "some document must emit a second copy")
    // token-budget identity per source: expected kept mass tracks
    // (w_s/Σw)·T up to the 1/MixGate fractional-gate quantization
    tok.foreach { case (src, t) =>
      val rate = weight(src) / sw * tt / t
      val mass = (math.floor(rate) +
        math.floor((rate - math.floor(rate)) * CurateOps.MixGate) /
          CurateOps.MixGate.toDouble) * t
      assert(math.abs(mass - weight(src) / sw * tt) <=
        t / CurateOps.MixGate + 1e-6, s"source $src budget")
    }
  }

  test("length batching bounds padding and reuses one bucket exchange") {
    val got = CurateOps.curateLengthBatches(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5)))
    assert(got.length == docs.size)
    got.groupBy(t => (t._2, t._3)).foreach { case ((lb, bi), rows) =>
      assert(rows.length <= CurateOps.BatchSize, s"batch ($lb,$bi) size")
      val mx = rows.map(_._4).max
      rows.foreach { case (id, _, _, n, bmax, pad) =>
        assert(bmax == mx && pad == mx - n, s"doc $id batch stats")
        // padding is bounded by the bucket width: every batch member's
        // length lives in the same LenBucket window
        assert(pad < CurateOps.LenBucket, s"doc $id pad $pad")
      }
    }
    val plan = CurateOps.curateLengthBatches(spark, SfDir)
      .queryExecution.executedPlan.toString
    // hashpartitioning(lb) co-locates every (lb, batch_idx): the second
    // window adds a sort, never a second exchange
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"both windows must share the one bucket exchange:\n$plan")
  }

  test("pipeline composes its verified stages without drift") {
    val admitted = operators.TextOps.corpusCurate(spark, SfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val contaminated = CurateOps.curateDecontaminate(spark, SfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expectedDocs = admitted
      .filter(id => id % CurateOps.HoldoutMod != 0 && !contaminated(id))
    val got = CurateOps.curatePipeline(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.map(_._1).toSet == expectedDocs,
      "pipeline doc set must be admitted minus holdout minus contaminated")
    assert(got.nonEmpty)
    // packing invariants hold over the FILTERED set: offsets are the
    // running totals of the surviving docs only, in (source, doc_id) order
    got.groupBy(_._2).foreach { case (src, rows) =>
      var cum = 0L
      rows.sortBy(_._1).foreach { case (id, _, n, seqId, off) =>
        assert(seqId == cum / CurateOps.PackBudget, s"doc $id seq")
        assert(off == cum % CurateOps.PackBudget, s"doc $id offset")
        cum += n
      }
      assert(src.nonEmpty)
    }
  }

  test("dsir weights match the plain-Scala hashed-bigram recount") {
    val (m, b, q) =
      (CurateOps.DsirMod, CurateOps.DsirBuckets, CurateOps.DsirKeepQuantile)
    def feats(text: String): Seq[Long] = {
      val ts = toks(text)
      ts.zip(ts.drop(1)).map { case (x, y) =>
        java.lang.Long.parseLong(md5hex(s"$x $y").take(15), 16) % b
      }
    }
    val allFeats = docs.toSeq.map { case (id, (t, _, _)) => id -> feats(t) }
    val raw = allFeats.flatMap(_._2)
    val tgt = allFeats.filter(_._1 % m == 0).flatMap(_._2)
    val (nr, nt) = (raw.size, tgt.size)
    val cr = raw.groupBy(identity).map { case (f, xs) => f -> xs.size }
    val ct = tgt.groupBy(identity).map { case (f, xs) => f -> xs.size }
    def ratio(f: Long): Double =
      math.log((ct.getOrElse(f, 0) + 1).toDouble / (nt + b)) -
        math.log((cr(f) + 1).toDouble / (nr + b))
    val lws = allFeats.collect { case (id, fs) if fs.nonEmpty =>
      id -> BigDecimal(fs.map(ratio).sum)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    // exact type-7 percentile over the rounded weights, like both engines
    val sorted = lws.values.toSeq.sorted
    val pos = (sorted.size - 1) * q
    val (lo, frac) = (pos.toInt, pos - pos.toInt)
    val thr = BigDecimal(sorted(lo) +
        (if (frac > 0) frac * (sorted(lo + 1) - sorted(lo)) else 0.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = CurateOps.curateDsir(spark, SfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getBoolean(3)))
      .toMap
    assert(got.size == docs.size, "a selection stage must see every document")
    got.foreach { case (id, (nFeat, lw, keep)) =>
      val fs = feats(docs(id)._1)
      assert(nFeat == fs.size, s"doc $id feature count")
      assert(lw.isEmpty == fs.isEmpty, s"doc $id null weight iff no features")
      lw.foreach { w =>
        assert(math.abs(w - lws(id)) <= 1e-4, s"doc $id: got $w want ${lws(id)}")
        if (math.abs(lws(id) - thr) > 2e-4)
          assert(keep == (lws(id) >= thr), s"doc $id keep verdict")
      }
    }
    val kept = got.values.count(_._3)
    assert(kept > 0 && kept < got.size,
      "the quantile gate must keep a strict subset")
  }

  test("dsir ratio table broadcasts onto the feature-scoring scan") {
    val plan = CurateOps.curateDsir(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the bucket-bounded ratio table must broadcast:\n$plan")
    assert(!"SortMergeJoin \\[f#\\d+L?\\], \\[f#\\d+L?\\], Inner".r
        .findFirstIn(plan).isDefined,
      s"feature-key scoring join must not shuffle the corpus:\n$plan")
  }

  test("quality classifier matches the plain-Scala naive Bayes recount") {
    val m = CurateOps.QcSeedMod
    val posDocs = docs.filter(_._1 % m == 0)
    val negDocs = docs.filter(_._1 % m == 1)
    val posToks = posDocs.values.toSeq.flatMap(d => toks(d._1))
    val negToks = negDocs.values.toSeq.flatMap(d => toks(d._1))
    val (np, nn) = (posToks.size, negToks.size)
    val v = (posToks ++ negToks).distinct.size
    val cp = posToks.groupBy(identity).map { case (t, xs) => t -> xs.size }
    val cn = negToks.groupBy(identity).map { case (t, xs) => t -> xs.size }
    val prior = math.log(posDocs.size.toDouble / negDocs.size)
    def lo(t: String): Double =
      if (cp.contains(t) || cn.contains(t))
        math.log((cp.getOrElse(t, 0) + 1).toDouble / (np + v)) -
          math.log((cn.getOrElse(t, 0) + 1).toDouble / (nn + v))
      else math.log((nn + v).toDouble / (np + v))
    val got = CurateOps.curateQualityClassifier(spark, SfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toMap
    assert(got.size == docs.size, "every document must be scored")
    docs.foreach { case (id, (text, _, _)) =>
      val ts = toks(text)
      val want = prior + ts.map(lo).sum
      val (nTok, score, keep) = got(id)
      assert(nTok == ts.size, s"doc $id token count")
      assert(math.abs(score - want) <= 1e-4, s"doc $id: got $score want $want")
      if (math.abs(want) > 1e-3)
        assert(keep == (want > 0), s"doc $id keep verdict")
    }
    assert(got.values.exists(_._3) && got.values.exists(!_._3),
      "the corpus must exercise both keep and drop verdicts")
  }

  test("quality classifier broadcasts the log-odds table onto the scoring scan") {
    val plan = CurateOps.curateQualityClassifier(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the vocabulary-bounded log-odds table must broadcast:\n$plan")
    // the corpus-sized scoring join on the Zipfian token key must be the
    // broadcast one — a shuffled LeftOuter on t would straggle on "the";
    // the FullOuter SMJ merging the two vocab-sized count tables is fine
    assert(!"SortMergeJoin \\[t#\\d+\\], \\[t#\\d+\\], LeftOuter".r
        .findFirstIn(plan).isDefined,
      s"token-key scoring join must not shuffle the corpus:\n$plan")
  }

  test("ppl buckets order head <= middle <= tail per language; undef = no bigrams") {
    val rows = CurateOps.curatePplBuckets(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getString(3)))
    assert(rows.length == docs.size, "a filter stage must see every document")
    rows.foreach { case (id, _, ppl, bucket) =>
      assert(ppl.isEmpty == (bucket == "undef"),
        s"doc $id: undef iff no defined perplexity (ppl=$ppl bucket=$bucket)")
      assert((ppl.isEmpty && toks(docs(id)._1).size < 2) ||
        (ppl.nonEmpty && toks(docs(id)._1).size >= 2),
        s"doc $id: null ppl must mean < 2 tokens")
    }
    rows.filter(_._3.nonEmpty).groupBy(_._2).foreach { case (lang, rs) =>
      def ppls(b: String) = rs.filter(_._4 == b).map(_._3.get)
      val (h, m, t) = (ppls("head"), ppls("middle"), ppls("tail"))
      if (rs.length >= 3)
        assert(h.nonEmpty && m.nonEmpty && t.nonEmpty,
          s"$lang: ${rs.length} scored docs must fill all three terciles")
      if (h.nonEmpty && m.nonEmpty)
        assert(h.max <= m.min, s"$lang: head must rank below middle")
      if (m.nonEmpty && t.nonEmpty)
        assert(m.max <= t.min, s"$lang: middle must rank below tail")
    }
  }

  test("ppl bucket thresholds broadcast onto the assignment scan") {
    val plan = CurateOps.curatePplBuckets(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the languages-sized threshold table must broadcast:\n$plan")
  }

  test("approx-percentile conf swaps the sketch in with <=2% drift at sf0.1") {
    // the 100 TB path: spark.graft.approxPercentile replaces the exact
    // per-group percentile with the mergeable percentile_approx sketch
    // (q13->q13b as one runtime conf). Pin both the plan swap and the
    // verdict drift on the largest local SF.
    val sf01 = "/root/testdata/sf0.1"
    def dsirKeeps(): Set[Long] = CurateOps.curateDsir(spark, sf01).collect()
      .collect { case r if r.getBoolean(3) => r.getLong(0) }.toSet
    def pplBuckets(): Map[Long, String] =
      CurateOps.curatePplBuckets(spark, sf01).collect()
        .map(r => r.getLong(0) -> r.getString(3)).toMap
    val (exactKeeps, exactBuckets) = (dsirKeeps(), pplBuckets())
    spark.conf.set(CurateOps.ApproxPercentileConf, "true")
    try {
      val plan = CurateOps.curateDsir(spark, sf01)
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("percentile_approx"), "sketch must be in-plan")
      val approxKeeps = dsirKeeps()
      val keepDrift =
        (approxKeeps.diff(exactKeeps) ++ exactKeeps.diff(approxKeeps)).size
      assert(exactKeeps.nonEmpty &&
        keepDrift <= math.ceil(0.02 * exactKeeps.size).toInt,
        s"dsir keep drift $keepDrift/${exactKeeps.size}")
      val approxBuckets = pplBuckets()
      val moved = exactBuckets.count { case (id, b) => approxBuckets(id) != b }
      assert(moved <= math.ceil(0.02 * exactBuckets.size).toInt,
        s"ppl bucket drift $moved/${exactBuckets.size}")
    } finally spark.conf.unset(CurateOps.ApproxPercentileConf)
  }

  test("d4 prunes the most prototypical fraction of each deduped cell") {
    val rows = CurateOps.curateD4(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    // the verdict relation covers exactly the semantic-dedup keeps
    val keeps = operators.DedupOps.dedupSemantic(spark, SfDir).collect()
      .collect { case r if r.getBoolean(2) => r.getLong(0) }.toSet
    assert(rows.map(_._1).toSet == keeps)
    rows.groupBy(_._2).foreach { case (cl, cell) =>
      val dropped = cell.filter(!_._4)
      // floor, not ceil: a cell smaller than 1/frac (a singleton
      // especially) keeps all members — D4 never empties a cell
      assert(dropped.length ==
        math.floor(CurateOps.D4DropFrac * cell.length).toInt, s"cell $cl")
      assert(cell.count(_._4) >= 1, s"cell $cl emptied")
      // dropped = the (proto DESC, vec_id) prefix: the paper's
      // most-prototypical-first pruning, deterministically tie-broken
      val order = cell.sortBy(r => (-r._3, r._1)).map(_._1).toSeq
      assert(order.take(dropped.length).toSet == dropped.map(_._1).toSet,
        s"cell $cl")
    }
  }

  test("the funnel report reads memoized stage relations, not fresh scans") {
    // force the memos, then check the report's plan counts cached reads:
    // the admission set is read three times and the contaminated set once
    // more — without InMemoryTableScans each read re-runs the scoring
    // scan and the gram join (measured 2.9 s -> 0.97 s at sf0.1)
    operators.TextOps.corpusCurate(spark, SfDir).count()
    CurateOps.curateDecontaminate(spark, SfDir).count()
    val plan = CurateOps.curateReport(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 4,
      s"stage sets must come from the persisted relations:\n${plan.take(2000)}")
  }

  test("domain mixing broadcasts the rates table; one agg shuffle only") {
    val plan = CurateOps.curateMixDomains(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"rates must broadcast onto the gate scan:\n$plan")
    // the gate-side scan must not shuffle documents: the only exchanges
    // belong to the per-source totals aggregation and the tiny rates build
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected at most the totals agg exchanges:\n$plan")
  }
}
