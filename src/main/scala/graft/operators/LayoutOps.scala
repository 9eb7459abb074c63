package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** File-layout optimization: Z-order (Morton) clustering for
  * multi-dimensional data skipping.
  *
  * The reference keeps its index in SQLite and scans it with B-tree
  * lookups (internal/storage/schema.go:157); the columnar analogue of
  * "make point/range lookups cheap" is FILE LAYOUT: parquet readers skip
  * whole row groups whose min/max stats exclude the predicate, so the
  * clustering order of the data decides how much of 100 TB a filtered
  * scan actually reads. A 1-D sort (e.g. by ts) gives perfect skipping on
  * ts and ZERO skipping on user_id; interleaving the bits of both
  * dimensions (the Z-order / Morton curve) bounds the bounding box of
  * every contiguous shard in BOTH dimensions at once — the standard
  * OPTIMIZE ZORDER BY recipe for multi-predicate workloads.
  *
  * Shapes, all exchange-minimal:
  *  - bounds pass: one global agg (4 values) broadcast back onto the scan
  *    — the same stats job every real z-order run does once;
  *  - z-value: a pure codegen'd integer expression (scale to 16 bits per
  *    dim, interleave 32 bits) — no shuffle, no UDF;
  *  - manifest: one groupBy on the 8-bit shard key (the top 8 z bits) —
  *    this output IS the min/max skipping manifest a reader would prune
  *    with;
  *  - sink ([[writeZOrdered]]): repartitionByRange(zv) +
  *    sortWithinPartitions(zv) → parquet, so row-group stats land tight.
  *
  * At 100 TB: the bounds pass and the write are each one pass over the
  * data; the curve assigns spatial locality without any join or
  * cross-partition coordination, so the plan is embarrassingly parallel
  * between the two exchanges (range partition for the write is the same
  * exchange any sorted write needs).
  */
object LayoutOps {

  /** Bits per dimension in the interleave (16 → 32-bit z-values). */
  val ZBits = 16

  /** Shard id = top 8 bits of the z-value → ≤256 shards whose bounding
    * boxes are ≤1/16 of the global range in EACH dimension (top 4 bits of
    * each dimension's 16 — the pigeonhole bound ZorderSpec pins). */
  val ZShardShift: Int = 2 * ZBits - 8

  /** Morton interleave as SQL text over two pre-scaled 16-bit ints —
    * interpolated verbatim into the DuckDB oracle so the two engines
    * share one definition (the WinnowDfCap drift lesson). Bit i of `u`
    * lands at 2i+1, bit i of `t` at 2i; shifts are written as multiplies
    * by power-of-two literals so precedence needs no engine-specific
    * parenthesization. */
  private[graft] def mortonSql(u: String, t: String): String =
    (0 until ZBits).map { i =>
      s"((($u >> $i) & 1) * ${1L << (2 * i + 1)} + " +
        s"(($t >> $i) & 1) * ${1L << (2 * i)})"
    }.mkString(" + ")

  /** The same interleave as a codegen'd Column expression. */
  private[graft] def morton(u: Column, t: Column): Column =
    (0 until ZBits).map { i =>
      shiftright(u, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)) +
        shiftright(t, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))
    }.reduce(_ + _)

  /** Min-max scale to [0, 65535] in INTEGER arithmetic: `div`, not `/` —
    * (tu - tlo) * 65535 reaches ~1.7e17 for a month of microseconds,
    * past double's 53-bit mantissa, so float division would round a
    * fraction of rows into the neighboring cell and break the oracle.
    * The multiply is staged through DECIMAL(38,0) (HUGEINT in the
    * oracle): in raw int64 it overflows once the dimension's range
    * passes 2^63/65535 ≈ 1.4e14 — about 4.5 years of microseconds, or
    * any snowflake-style 64-bit id space — which a 100 TB events table
    * absolutely reaches. IntegralDivide on decimals returns BIGINT, so
    * everything downstream stays long. */
  private def scaled16(x: String, lo: String, hi: String): Column =
    // fast path: when the dimension's range fits (hi-lo ≤ 2^63/65535 ≈
    // 1.4e14) the whole scale is pure long arithmetic — the DECIMAL(38)
    // staging is only needed past that range, and it costs a per-row
    // decimal multiply/divide on EVERY row of the scan. Both branches
    // compute the identical exact integer where both are defined, so
    // results cannot differ across corpora — only the cost does. The
    // range test is per-corpus-constant (broadcast bounds), so the hot
    // branch is branch-predicted per batch.
    expr(s"CASE WHEN $hi = $lo THEN 0 " +
      // the >= 0 guard catches hi-lo itself wrapping for extreme spans
      // (hi ≥ lo always holds, so a negative difference IS an overflow)
      s"WHEN ($hi - $lo) >= 0 AND ($hi - $lo) <= ${Long.MaxValue / 65535L} " +
      s"THEN (($x - $lo) * 65535) div ($hi - $lo) " +
      s"ELSE ((CAST($x AS DECIMAL(38,0)) - $lo) * 65535) div ($hi - $lo) END")

  /** Events scan with the z-value attached — shared by the manifest op
    * and the sink so the curve definition cannot drift between them. */
  private def zValued(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tu"))
    val bounds = e.agg(
      min(col("user_id")).as("ulo"), max(col("user_id")).as("uhi"),
      min(col("tu")).as("tlo"), max(col("tu")).as("thi"))
    e.crossJoin(broadcast(bounds))
      .withColumn("u16", scaled16("user_id", "ulo", "uhi"))
      .withColumn("t16", scaled16("tu", "tlo", "thi"))
      .withColumn("zv", morton(col("u16"), col("t16")))
  }

  /** Per-shard skipping manifest over the z-ordered layout: row count +
    * min/max of BOTH dimensions (user_id, event-time µs) per 8-bit shard.
    * A reader prunes shards whose box misses the predicate rectangle;
    * docs/SCALE_NOTES.md records the win against a time-sorted
    * layout. */
  def layoutZorder(spark: SparkSession, dir: String): DataFrame =
    zValued(spark, dir)
      .groupBy(shiftright(col("zv"), ZShardShift).cast("int").as("shard"))
      .agg(count(lit(1)).as("n"),
        min(col("user_id")).as("u_min"), max(col("user_id")).as("u_max"),
        min(col("tu")).as("t_min"), max(col("tu")).as("t_max"))
      .orderBy(col("shard"))

  /** The layout sink: range-partition on the z-value, sort within each
    * file, write parquet — row-group min/max stats come out tight in both
    * dimensions. The range exchange is the one any clustered write pays;
    * ZorderSpec asserts the read-back per-file boxes. */
  def writeZOrdered(spark: SparkSession, dir: String, outDir: String,
      nFiles: Int = 16): Unit =
    zValued(spark, dir)
      .repartitionByRange(nFiles, col("zv"))
      .sortWithinPartitions(col("zv"))
      .select(col("event_id"), col("user_id"), col("tu"), col("zv"))
      .write.mode("overwrite").parquet(outDir)
}
