package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1 stress-corpus generator (dev tool, not part of the driver
  * contract): union `copies` KEY-SHIFTED replicas of every sf0.1 table
  * into a 10× corpus, preserving referential integrity within each
  * replica (customer/orders/lineitem/part/supplier key families shift by
  * the same per-copy offset) while keeping replicas mutually disjoint
  * (joins never match across copies, so join and group cardinalities
  * scale linearly — the shape a real 10× corpus has).
  *
  * Texts get a per-copy marker token INTERLEAVED every 4 words (plus a
  * trailing one) and embeddings a per-(copy, dim) deterministic sign
  * flip so the near-dup/semantic structure stays sparse instead of
  * minting `copies`-way true-duplicate groups (which would grow
  * quadratic pair counts no real corpus growth produces). The earlier
  * APPENDED-only marker failed that intent: one extra token leaves
  * 3-gram Jaccard of a ~50-word doc at
  * ~0.93 ≫ τ=0.5, so 100 copies minted C(100,2)-pair cliques (24.8M
  * true pairs at sf10 — measured in round 8); interleaving changes ~3/4
  * of the shingles (cross-copy Jaccard ≈ 0.29, winnow 4-gram
  * containment ≈ 0.25 — both below their 0.5 gates), and the sign flip
  * makes cross-copy cosines ≈ 0 (a sign pattern preserves norms and all
  * WITHIN-copy inner products exactly, so each replica reproduces the
  * base corpus's own near-dup structure — pair counts scale linearly,
  * the shape a real corpus has). Copy 0 is byte-identical to sf0.1.
  *
  * Each table lands as ONE parquet file (<name>.parquet) so
  * scripts/check_oracle.py can register it in DuckDB exactly like the
  * driver corpora.
  *
  * ADVERSARIAL-SKEW mode (4th arg `skew`) applies the Zipf shapes a real
  * corpus grows and a uniform synthetic never exercises, ON TOP of the
  * 10× replication — each deterministic (hash-of-key), so the DuckDB
  * oracle sees the identical corpus:
  *   - one IVF label owns ~50% of all vectors (hot cell: the exact
  *     per-cell KNN's cell² detonation — vec_knn_join must ABORT loudly,
  *     vec_knn_join_auto must route the cell through bands);
  *   - one 10-token boilerplate phrase lands in ~80% of documents
  *     (shared 8-grams in most of the corpus: the substring census,
  *     winnow df-caps and boilerplate detector live or die here);
  *   - one user owns ~50% of events (hot per-user session/funnel
  *     windows);
  *   - one source owns ~90% of documents (hot per-source batching,
  *     stratified sampling, shard shuffling).
  *
  * Usage: runMain graft.ScaleUp [baseDir] [outDir] [copies] [skew] [table...]
  * — extra args past `copies` select: the literal `skew` turns on the
  * adversarial-skew gates, any other token is a table-name filter (so an
  * sf10 probe of the pair-generating heavies can replicate just
  * `documents embeddings` instead of paying a 60M-row lineitem write).
  */
object ScaleUp {

  /** Rows are copied with their column types unchanged: timestamps read
    * as timestamps (not nanos-as-long) and are never inferred as NTZ. */
  private[graft] val SessionOverrides = Seq(
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "false")

  /** Per-copy key offset — far above any base key at these SFs. */
  private val Off = 100000000L

  private def writeSingle(df: DataFrame, target: String): Unit = {
    val spark = df.sparkSession
    val tmp = target + ".tmp"
    // SPARK_GRAFT_ROWGROUP_MB: optional parquet row-group size for the
    // generated corpus. The default single-file write lands ONE row
    // group per table (a 108 MB sf1 lineitem included), and Spark
    // cannot split inside a row group — every raw-table scan then runs
    // one task regardless of maxPartitionBytes, which a real corpus of
    // many files never exhibits. A multi-row-group variant (same rows,
    // same oracle bytes) lets the scan-parallelism headroom be measured
    // instead of guessed; the default stays single-group so historical
    // artifacts remain comparable.
    val w = sys.env.get("SPARK_GRAFT_ROWGROUP_MB").map(_.trim.toLong) match {
      case Some(mb) => df.coalesce(1).write
        .option("parquet.block.size", s"${mb * 1024 * 1024}")
      case None => df.coalesce(1).write
    }
    w.mode("overwrite").parquet(tmp)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(tmp).getFileSystem(conf)
    val part = fs.globStatus(new org.apache.hadoop.fs.Path(tmp, "part-*.parquet"))
      .head.getPath
    val dst = new org.apache.hadoop.fs.Path(target)
    if (fs.exists(dst)) fs.delete(dst, true)
    fs.rename(part, dst)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    println(s"[scaleup] wrote $target")
  }

  def main(args: Array[String]): Unit = {
    val base = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft-sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val skew = args.drop(3).contains("skew")
    val onlyTables = args.drop(3).filterNot(_ == "skew").toSet
    val spark = GraftSession(base, SessionOverrides: _*)

    def replicate(name: String, keyCols: Seq[String],
        perturb: (DataFrame, Int) => DataFrame = (d, _) => d,
        skewFn: DataFrame => DataFrame = identity): Unit = {
      if (onlyTables.nonEmpty && !onlyTables.contains(name)) return
      val t = spark.read.parquet(s"$base/$name.parquet")
      val parts = (0 until copies).map { c =>
        val shifted = keyCols.foldLeft(t)((d, k) =>
          d.withColumn(k, col(k) + lit(c.toLong * Off)))
        perturb(shifted, c)
      }
      val all = parts.reduce(_ unionAll _)
      writeSingle(if (skew) skewFn(all) else all, s"$out/$name.parquet")
    }

    // hash-of-key skew gates: deterministic, replayable by any engine
    def gate(key: org.apache.spark.sql.Column, salt: String, mod: Int,
        below: Int): org.apache.spark.sql.Column =
      pmod(conv(substring(md5(concat(key.cast("string"), lit(salt))),
        1, 15), 16, 10).cast("long"), lit(mod.toLong)) < below
    val Boilerplate = "please subscribe to our newsletter for updates and offers today"

    // dimension tables stay as-is (every replica shares them, like a
    // real corpus shares its region/nation vocabulary)
    Seq("region", "nation")
      .filter(n => onlyTables.isEmpty || onlyTables.contains(n))
      .foreach { name =>
        writeSingle(spark.read.parquet(s"$base/$name.parquet"),
          s"$out/$name.parquet")
      }
    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events", Seq("event_id", "user_id"),
      skewFn = d => d.withColumn("user_id", // one user owns ~half the events
        when(gate(col("event_id"), "#hotuser", 2, 1),
          lit(0L).cast(d.schema("user_id").dataType))
          .otherwise(col("user_id"))))
    replicate("documents", Seq("doc_id"), (d, c) =>
      if (c == 0) d
      else d.withColumn("text", // marker every 4 words + trailing marker
          concat(regexp_replace(col("text"),
            "((?:\\S+\\s+){4})", s"$$1copymark$c "), lit(s" copymark$c")))
        .withColumn("n_chars", length(col("text")).cast("long")),
      skewFn = d => d
        .withColumn("text", // one boilerplate phrase in ~80% of docs
          when(gate(col("doc_id"), "#boiler", 10, 8),
            concat(col("text"), lit(" " + Boilerplate)))
            .otherwise(col("text")))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("source", // one source owns ~90% of documents
          when(gate(col("doc_id"), "#hotsrc", 10, 9), lit("src0"))
            .otherwise(col("source"))))
    replicate("embeddings", Seq("vec_id"), (d, c) =>
      if (c == 0) d
      else d.withColumn("embedding", // per-(copy, dim) sign flip: norms and
        // within-copy inner products exact, cross-copy cosines ~ 0
        transform(col("embedding"), (x, i) =>
          (x * when(pmod(xxhash64(lit(c), i), lit(2)) === 0, lit(1.0f))
            .otherwise(lit(-1.0f))).cast("float"))),
      skewFn = d => d.withColumn("label", // one IVF cell owns ~half the vectors
        when(gate(col("vec_id"), "#hotcell", 2, 1),
          lit(0).cast(d.schema("label").dataType))
          .otherwise(col("label"))))
    spark.stop()
  }
}
