package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with per-query steady-state seconds.
  *
  * Each query runs once untimed (JVM/codegen/broadcast warmup — local-mode
  * stand-in for a cluster's long-lived executors) and once timed.
  */
object Bench {

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  private def fmt(v: Double): String =
    BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      .bigDecimal.stripTrailingZeros.toPlainString

  /** The collector keeps only the LAST ~2000 chars of stdout, and sbt
    * appends a ~75-char "[success]" trailer after us — a full-precision
    * 80+-query map overflows that window and the line never parses
    * (BENCH_r01..r03 all recorded parsed:null). So the parseable line is
    * COMPACT: 2-decimal values with trailing zeros stripped, numeric sf,
    * errors only when present, and — if the map still exceeds
    * [[LineBudget]] — the FASTEST queries are dropped with an explicit
    * "omitted" count (their time stays inside "value"). Unit-tested in
    * BenchLineSpec so a future query-count bump cannot silently regrow
    * the line past the window. */
  private[graft] val LineBudget = 1860

  private[graft] def renderLine(results: Seq[(String, Double, Option[String])],
      sfDir: String): String = {
    val total = results.map(_._2).sum
    // canonicalize through BigDecimal before inlining unquoted: a dir
    // like .../sf01 or .../sf0.1.bak would otherwise yield invalid JSON
    // ("sf":01 / "sf":0.1.) — exactly the parse failure this line exists
    // to avoid; anything non-numeric falls back to a quoted string
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .flatMap(m => scala.util.Try(
        BigDecimal(m.group(1)).bigDecimal.stripTrailingZeros.toPlainString)
        .toOption)
      .getOrElse(jstr(sfDir))
    val errs = results.collect {
      case (k, _, Some(e)) => jstr(k) + ":" + jstr(e.take(100)) }
    def line(entries: Seq[String], omitted: Int,
        errKeep: Int): String = {
      val errField =
        if (errs.isEmpty) ""
        else {
          val eo = errs.size - errKeep
          val eoField = if (eo == 0) "" else s""""errors_omitted":$eo,"""
          errs.take(errKeep).mkString(""""errors":{""", ",", "},") + eoField
        }
      val omitField = if (omitted == 0) "" else s""""omitted":$omitted,"""
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""queries":${entries.mkString("{", ",", "}")},""" +
        s"""$errField$omitField"sf":$sfNum}"""
    }
    val bySlowest = results.sortBy(-_._2)
      .map { case (k, v, _) => jstr(k) + ":" + fmt(v) }
    // The shrink search covers BOTH unbounded fields: prefer keeping every
    // error (errors are the signal the driver most needs in a mass-failure
    // round) and as many slowest-first query entries as fit; if even the
    // 1-query line overflows, drop trailing errors too — an all-99-failing
    // run must still produce a parseable line inside the tail window.
    val fit = (errs.size to 0 by -1).view.flatMap { ek =>
      bySlowest.indices.reverse
        .find(i =>
          line(bySlowest.take(i + 1), bySlowest.size - i - 1, ek).length <= LineBudget)
        .map(qk => (qk + 1, ek))
    }.headOption
    val (keep, errKeep) = fit.getOrElse((if (bySlowest.isEmpty) 0 else 1, 0))
    line(bySlowest.take(keep), bySlowest.size - keep, errKeep)
  }

  /** 1-minute load average, read at bench start and end — the artifact's
    * self-qualification: this host has noisy phases (kernel page-fault
    * storms, docs/SCALE_NOTES.md) that swing totals ±10%, and a reader
    * comparing rounds needs to know whether a regression ran on a quiet
    * or a storming host. */
  private def loadAvg(): String =
    scala.util.Try(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")),
      java.nio.charset.StandardCharsets.UTF_8).trim.split(" ")(0))
      .getOrElse("unknown")

  /** Pinned local reference walls (docs/BASELINE_LOCAL.md): BASELINE.json
    * publishes the metric DEFINITION only — no numeric reference wall
    * exists at any SF — so the "within 2x of baseline" criterion is
    * ratioed against these committed round-9 steady-state totals instead
    * of being re-derived as a caveat every round. Keyed by the sf token
    * writeFullArtifact extracts from the corpus dir. */
  private[graft] val LocalBaselineSec: Map[String, Double] =
    Map("sf0.1" -> 39.9, "sf1" -> 121.1)

  private[graft] def sfToken(sfDir: String): String =
    "sf[0-9.]*[0-9]".r.findFirstIn(sfDir).getOrElse(
      sfDir.replaceAll("/+$", "").split("/").last
        .replaceAll("[^a-zA-Z0-9.-]", "_"))

  /** Every query's time (3-decimal, no truncation) + any errors, keyed by
    * the sf token in the dir name (docs/bench_full_sf0.1.json etc.;
    * non-sf corpus dirs key by their sanitized basename, so a skew-corpus
    * run lands in its own file instead of clobbering sf history).
    * `tagOverride` (env SPARK_GRAFT_BENCH_TAG) keys a TARGETED run's
    * artifact under its own name — the scale campaign's
    * heavies-at-skew-sf10 probes commit their full timing map instead of
    * leaving it stranded in a stdout line. */
  private def writeFullArtifact(
      results: Seq[(String, Double, Option[String])], sfDir: String,
      loadStart: String, loadEnd: String, requeried: Int,
      tagOverride: Option[String], splitBytes: Long, aqe: Boolean,
      gateJson: String, cpus: Int, warmSec: Map[String, Double]): Unit = {
    val sfTok = tagOverride.getOrElse(sfToken(sfDir))
    val baseline = LocalBaselineSec.get(sfTok).fold("") { b =>
      s"""  "vs_local_baseline": ${fmt(results.map(_._2).sum / b)},
         |  "local_baseline_sec": ${fmt(b)},
         |""".stripMargin
    }
    val entries = results.sortBy(-_._2).map { case (k, v, e) =>
      val err = e.fold("")(m => ""","err":""" + jstr(m.take(200)))
      // "warm" is the query's FIRST (untimed) evaluation: index builds,
      // PlanCache memo materializations and model training land there,
      // so cold-path cost is first-class in the artifact instead of
      // hidden by the steady-state min-of-passes methodology (the
      // round-13 verdict's work-relocation caveat).
      val warm = warmSec.get(k).fold("")(w => s""","warm": ${"%.3f".format(w)}""")
      s"""    ${jstr(k)}: {"sec": ${"%.3f".format(v)}$warm$err}"""
    }
    val body =
      s"""{
         |  "sf": ${jstr(sfTok)},
         |  "total_sec": ${fmt(results.map(_._2).sum)},
         |  "n_queries": ${results.size},
         |  "cpus": $cpus,
         |  "build_sec": ${fmt(warmSec.values.sum)},
         |$baseline  "load_1m_start": ${jstr(loadStart)},
         |  "load_1m_end": ${jstr(loadEnd)},
         |  "max_partition_bytes": $splitBytes,
         |  "adaptive": $aqe,
         |  "load_gate": $gateJson,
         |  "requeried": $requeried,
         |  "queries": {
         |${entries.mkString(",\n")}
         |  }
         |}
         |""".stripMargin
    val out = java.nio.file.Paths.get("docs", s"bench_full_$sfTok.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def main(args: Array[String]): Unit = {
    // optional args: time only queries whose name contains one of them
    // (local iteration aid, same convention as Verify; the driver passes
    // none). Filtered runs skip the committed artifact — a partial map
    // must never overwrite the full round history.
    val only = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus()
    // Quiet-host gate for ARTIFACT runs (full sweeps and tagged probes):
    // this host has noisy phases that swing totals ±25%, and an artifact
    // measured under external load poisons every round-over-round delta
    // (BENCH_r11 ran at load_1m 13.6 and read as a 22% regression that
    // mostly wasn't code). Before the JVM spins up its own threads, wait
    // (up to SPARK_GRAFT_LOAD_WAIT_S, default 900 s) for load_1m to drop
    // under the threshold (SPARK_GRAFT_LOAD_GATE, default cpus/4, "off"
    // disables); if it never does, run anyway but record ok=false so the
    // artifact self-reports as load-tainted instead of silently lying.
    val artifactRun = only.isEmpty || sys.env.contains("SPARK_GRAFT_BENCH_TAG")
    // a malformed knob must degrade to the default with a logged warning,
    // not abort the whole bench with a NumberFormatException before any
    // timed pass
    def envNum[T](name: String, default: T)(parse: String => T): T =
      sys.env.get(name).fold(default) { raw =>
        scala.util.Try(parse(raw.trim)).getOrElse {
          Console.err.println(
            s"bench: ignoring malformed $name='$raw', using $default")
          default
        }
      }
    val gateEnabled =
      artifactRun && !sys.env.get("SPARK_GRAFT_LOAD_GATE").contains("off")
    val gateTh = envNum("SPARK_GRAFT_LOAD_GATE", cpus.toDouble / 4.0)(_.toDouble)
    val gateWaitMax = envNum("SPARK_GRAFT_LOAD_WAIT_S", 900)(_.toInt)
    // Wait (up to waitMax) for load_1m to drop under the threshold; returns
    // (final load, seconds waited). Called TWICE on artifact runs: before
    // the JVM spins up (don't warm up on a storming host) and again right
    // before the first timed pass — the round-12 artifact passed the
    // pre-JVM gate at load 3.45 but benched at 6.89 with a green stamp, so
    // ok must reflect the load at the instant the timing starts.
    def gateWait(): (Double, Int) = {
      val t0 = System.nanoTime()
      def load(): Double = scala.util.Try(loadAvg().toDouble).getOrElse(0.0)
      var l = load()
      while (l > gateTh && (System.nanoTime() - t0) / 1e9 < gateWaitMax) {
        Console.err.println(
          f"bench-load-gate waiting: load_1m=$l%.2f > $gateTh%.2f")
        Thread.sleep(20000)
        l = load()
      }
      if (l > gateTh) Console.err.println(f"bench-load-gate TIMED OUT at " +
        f"load_1m=$l%.2f — artifact marked load-tainted")
      (l, ((System.nanoTime() - t0) / 1e9).toInt)
    }
    val (gateLoad0, gateWaited0) =
      if (gateEnabled) gateWait() else (0.0, 0)
    val spark = GraftSession(sfDir)
    // the conf that actually ran, read back from the built session:
    // SPARK_GRAFT_CONF is applied last and may override the derived split
    // or AQE, so the artifact must not record what was merely derived
    val splitBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes"))
    val aqe = spark.conf.get("spark.sql.adaptive.enabled").trim.toBoolean
    // noop write, NOT count(): under count() Catalyst prunes every column,
    // so projection-only queries (fingerprints, embeddings, token stats)
    // would skip their real work and report fictional times. The noop sink
    // materializes every output column and discards the bytes.
    // A query that THROWS must surface as an error, not a fast wall-time —
    // otherwise a regression masquerades as a speedup.
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[String] =
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
      catch { case t: Throwable =>
        Some((t.getClass.getSimpleName + ": " + String.valueOf(t.getMessage)).take(300)) }
    val queries = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.exists(name.contains) }
    // the warm pass is TIMED per query (but stays untimed for the
    // steady-state metric): a query's first evaluation is where the
    // shared index tables, PlanCache memos and model training build, so
    // the committed artifact carries the cold-path wall ("warm" per
    // query, "build_sec" total) alongside the steady-state seconds —
    // otherwise moving work into the index layer reads as a speedup the
    // bench cannot audit (round-13 verdict item 2).
    val warmSec: Map[String, Double] = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      run(fn)
      name -> (System.nanoTime() - t0) / 1e9
    }.toMap
    // TWO timed passes, per-query MIN: this host intermittently stalls
    // >10 cores in kernel page-fault storms (docs/SCALE_NOTES.md), which
    // lands multi-second spikes on arbitrary single runs — the min of
    // two runs is the steady-state time this bench is defined to report,
    // and the second pass costs ~a minute against a 3x variance cut.
    // An error in EITHER pass surfaces (a flaky query must not report
    // whichever pass happened to work).
    def timedPass(): Map[String, (Double, Option[String])] =
      queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val err = run(fn)
        name -> ((System.nanoTime() - t0) / 1e9, err)
      }
    // re-gate AFTER warm-up, immediately before the first timed pass: the
    // warm-up takes minutes and ambient load can rise meanwhile (our own
    // now-idle JVM no longer contributes); ok requires BOTH instants quiet
    val (gateLoad1, gateWaited1) =
      if (gateEnabled) gateWait() else (0.0, 0)
    val gateJson: String =
      if (!artifactRun) "null"
      else if (!gateEnabled) """{"enabled": false}"""
      else s"""{"threshold": ${fmt(gateTh)}, """ +
        s""""waited_s": ${gateWaited0 + gateWaited1}, """ +
        s""""ok": ${gateLoad0 <= gateTh && gateLoad1 <= gateTh}, """ +
        s""""load_at_start": ${fmt(gateLoad0)}, """ +
        s""""load_at_timed": ${fmt(gateLoad1)}}"""
    val loadStart = loadAvg()
    val p1 = timedPass(); val p2 = timedPass()
    // self-qualifying noise guard: a query whose two passes disagree >2x
    // hit a host fault storm in one of them — give it a third pass so the
    // reported min is a real steady-state time, and record how many
    // needed it (a high count marks the whole artifact as storm-tainted)
    def time(name: String): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err = run(queries(name))
      ((System.nanoTime() - t0) / 1e9, err)
    }
    val flaky = queries.keys.toSeq.filter { n =>
      val (a, b) = (p1(n)._1, p2(n)._1)
      p1(n)._2.isEmpty && p2(n)._2.isEmpty &&
        math.min(a, b) > 0.05 && math.max(a, b) > 2 * math.min(a, b)
    }
    val p3 = flaky.map(n => n -> time(n)).toMap
    val results = queries.keys.toSeq.map { name =>
      val (t1, e1) = p1(name); val (t2, e2) = p2(name)
      val t3 = p3.get(name).map(_._1).getOrElse(Double.MaxValue)
      (name, math.min(math.min(t1, t2), t3), e1.orElse(e2))
    }
    val loadEnd = loadAvg()
    // full precision for humans reading the log; the prefix keeps the
    // tail parser from ever matching this line
    println("bench-full " + results.map { case (k, v, _) => jstr(k) + ":" + v }
      .mkString("{", ",", "}"))
    // ... and the SAME full map as a committed artifact: the stdout line
    // drops the fastest queries to fit the collector window ("omitted"),
    // so a regression in an omitted query would be invisible
    // round-over-round without this file. One file per sf so an sf1
    // stress run doesn't clobber the sf0.1 history. A FILTERED run only
    // writes when tagged (SPARK_GRAFT_BENCH_TAG): a partial map must
    // never overwrite full round history, but a tagged probe (the skew10
    // heavies) deserves a committed artifact of its own.
    val benchTag = sys.env.get("SPARK_GRAFT_BENCH_TAG")
    if (only.isEmpty || benchTag.isDefined)
      writeFullArtifact(results, sfDir, loadStart, loadEnd, flaky.size,
        benchTag, splitBytes, aqe, gateJson, cpus, warmSec)
    // the 2x-of-baseline criterion, against the pinned local wall (see
    // LocalBaselineSec / docs/BASELINE_LOCAL.md); prefixed so the tail
    // parser never matches it. Full sweeps only — a filtered run's
    // partial total would print a fictional ratio.
    if (only.isEmpty) LocalBaselineSec.get(sfToken(sfDir)).foreach { b =>
      val tot = results.map(_._2).sum
      println(f"bench-vs-baseline ${sfToken(sfDir)} ratio=${tot / b}%.2f " +
        f"(${tot}%.1fs vs pinned ${b}%.1fs, threshold 2.0)")
    }
    println(renderLine(results, sfDir))
    spark.stop()
  }
}
