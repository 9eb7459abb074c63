package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The spark.graft.indexBuckets deploy knob: every bucketed index/derived
  * table must honor a non-default count, keep the co-located joins
  * exchange-free at that count, fold the count into the table identity
  * (no silent reuse of a differently-bucketed layout), and produce the
  * same query results as the default layout.
  */
class BucketConfSpec extends AnyFunSuite with SparkFixture {
  import graft.sources.IndexStore

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("non-default count: fresh index tables, exchange-free join, same result") {
    val base = sortedRows(operators.SearchOps.hybridSearch(spark, SfDir))
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(IndexStore.BucketsConf, "4")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = operators.SearchOps.hybridSearch(spark, SfDir)
      assert(sortedRows(df) == base,
        "bucket count is a layout knob — results must not change")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must stay exchange-free at a non-default count:\n$plan")
      val tables = IndexStore.index(spark, SfDir)
      assert(tables.docs.endsWith("_b4"),
        s"bucket count must be part of the table identity: ${tables.docs}")
      assert(spark.catalog.tableExists(tables.docs))
    } finally {
      spark.conf.unset(IndexStore.BucketsConf)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
    }
    // back at the default, the default-count tables answer again
    assert(IndexStore.index(spark, SfDir).docs.endsWith("_b8"))
  }

  test("derived tables fold the count into their identity") {
    spark.conf.set(IndexStore.BucketsConf, "4")
    try {
      assert(operators.DedupOps.simhashCandidates(spark, SfDir).count() > 0)
      val t4 = IndexStore.derivedTableName(spark, SfDir, "simhash_bands")
      assert(t4.contains("_b4_"), t4)
      assert(spark.catalog.tableExists(t4))
    } finally spark.conf.unset(IndexStore.BucketsConf)
    val t8 = IndexStore.derivedTableName(spark, SfDir, "simhash_bands")
    assert(t8.contains("_b8_"), t8)
  }

  test("a bucket count below 1 fails loudly") {
    spark.conf.set(IndexStore.BucketsConf, "0")
    try intercept[IllegalArgumentException](IndexStore.buckets(spark))
    finally spark.conf.unset(IndexStore.BucketsConf)
  }

  test("auto mode self-sizes from corpus bytes; pinned conf still wins") {
    // the default: no conf (or the literal `auto`) sizes from dir bytes.
    // The local corpus is tiny, so the default target lands on the floor.
    assert(IndexStore.buckets(spark, SfDir) == 8)
    // shrink the per-bucket target until the corpus spans >16 targets —
    // auto must pick the next pow2 ABOVE the floor, identically from
    // every resolver (the identity rule: builders and name-resolvers
    // must never disagree on the count)
    // the sizing rule reads docs+emb bytes only (the relations the
    // bucketed tables derive from)
    val bytes = {
      val p = new org.apache.hadoop.fs.Path(SfDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq("documents.parquet", "embeddings.parquet")
        .map(n => fs.getFileStatus(new org.apache.hadoop.fs.Path(p, n)).getLen)
        .sum
    }
    spark.conf.set(IndexStore.TargetBytesConf, (bytes / 20).toString)
    try {
      val n = IndexStore.buckets(spark, SfDir)
      assert(n == 32, s"ceil(20 targets) -> pow2 32, got $n") // 20 < 32 <= 4096
      assert(IndexStore.index(spark, SfDir).docs.endsWith(s"_b$n"),
        "auto-sized count must be part of the table identity")
      assert(IndexStore.derivedTableName(spark, SfDir, "simhash_bands")
        .contains(s"_b${n}_"))
      // a pinned integer conf overrides auto at any target
      spark.conf.set(IndexStore.BucketsConf, "4")
      assert(IndexStore.buckets(spark, SfDir) == 4)
    } finally {
      spark.conf.unset(IndexStore.TargetBytesConf)
      spark.conf.unset(IndexStore.BucketsConf)
    }
  }

  test("invalidation re-sizes auto buckets from the corpus's new bytes") {
    // a corpus rewritten IN PLACE (watch-loop growth) must not keep its
    // first-seen byte count for the JVM's lifetime: the data-changed
    // invalidation sweeps the sizing memo, so the next resolve sees the
    // grown corpus
    val dir = TempDirs("graft-grow").toString
    val docs = Tables.documents(spark, SfDir)
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val small = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(p).getLength
    }
    // target = small bytes: the initial corpus spans ~1 target -> floor 8
    spark.conf.set(IndexStore.TargetBytesConf, small.toString)
    try {
      assert(IndexStore.buckets(spark, dir) == 8)
      // grow the corpus ~20x in place; the memo still answers 8 ...
      docs.unionAll(docs).unionAll(docs).unionAll(docs).unionAll(docs)
        .unionAll(docs).unionAll(docs).unionAll(docs).unionAll(docs)
        .unionAll(docs).unionAll(docs).unionAll(docs).unionAll(docs)
        .unionAll(docs).unionAll(docs).unionAll(docs).unionAll(docs)
        .unionAll(docs).unionAll(docs).unionAll(docs)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      assert(IndexStore.buckets(spark, dir) == 8,
        "memo must answer until the data-changed hook fires")
      // ... until the data-changed hook fires, then auto re-sizes
      graft.PlanCache.invalidate(dir)
      assert(IndexStore.buckets(spark, dir) > 8,
        "post-invalidation resolve must see the grown corpus")
    } finally spark.conf.unset(IndexStore.TargetBytesConf)
  }

  test("churn census is memoized per dir and swept by invalidation") {
    // the routing scalar dedup_incremental reads must be a property of
    // the corpus (one count, then memo hits — plan construction stays
    // lazy), re-derived only when the data-changed hook fires
    val dir = TempDirs("graft-churn").toString
    val docs = Tables.documents(spark, SfDir)
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val expect = docs.filter(col("doc_id") % 10 === 7).count()
    assert(IndexStore.churnDocs(spark, dir, 10, 7) == expect)
    // grow the corpus in place; the memo still answers the old census ...
    docs.unionAll(docs).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    assert(IndexStore.churnDocs(spark, dir, 10, 7) == expect,
      "memo must answer until the data-changed hook fires")
    // ... until invalidation sweeps it
    graft.PlanCache.invalidate(dir)
    assert(IndexStore.churnDocs(spark, dir, 10, 7) == 2 * expect,
      "post-invalidation census must see the grown corpus")
  }

  test("dir-shaped corpus bytes count nested (partitioned) leaves") {
    // a partitionBy layout nests data files one level deeper — sizing
    // must count the leaves, not the ~0 bytes of the top listing level
    val dir = TempDirs("graft-part").toString
    Tables.documents(spark, SfDir).write.mode("overwrite")
      .partitionBy("lang").parquet(s"$dir/documents.parquet")
    // target 1 byte: any nonzero corpus overflows the floor to the max
    // clamp; a 0-byte reading would stay on the floor of 8
    spark.conf.set(IndexStore.TargetBytesConf, "1")
    try assert(IndexStore.buckets(spark, dir) > 8,
      "nested layout must contribute its real bytes")
    finally spark.conf.unset(IndexStore.TargetBytesConf)
  }
}
