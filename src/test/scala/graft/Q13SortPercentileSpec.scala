package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-14 sort-based exact percentile (rank selection + the
  * two-sided interpolation Percentile.getPercentile uses) must be
  * BIT-identical to Spark's value-buffering `percentile` aggregate it
  * replaced in q13 — that equality is what lets the oracle SQL
  * (quantile_cont) stay untouched. Property-tested over adversarial
  * group shapes: 1-row groups (pos = 0), even/odd counts, heavy ties,
  * duplicate extremes, and the corpus itself. */
class Q13SortPercentileSpec extends AnyFunSuite with SparkFixture {

  private def aggForm(df: org.apache.spark.sql.DataFrame) = df
    .groupBy(col("o_orderpriority"))
    .agg(
      round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
      round(expr("percentile(o_totalprice, 0.95)"), 4).as("p95"),
      round(max(col("o_totalprice")), 4).as("p100"))
    .orderBy(col("o_orderpriority"))

  private def byKey(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    .toMap

  test("sort-based q13 == percentile aggregate on the corpus, bit for bit") {
    val sorted = byKey(operators.Relational.q13Percentiles(spark, SfDir))
    val agg = byKey(aggForm(Tables.orders(spark, SfDir)))
    assert(sorted == agg)
  }

  test("sort-based q13 == percentile aggregate on adversarial groups") {
    import spark.implicits._
    val rnd = new scala.util.Random(14)
    val rows = Seq.newBuilder[(String, Double)]
    rows += (("single", 123.4567))              // n = 1: pos = 0 exactly
    (1 to 2).foreach(i => rows += (("two", i * 7.77)))   // interpolating p50
    (1 to 20).foreach(_ => rows += (("ties", 42.42)))    // all-equal group
    (1 to 19).foreach(i => rows += (("odd", i.toDouble))) // integral p50 pos
    (1 to 100).foreach(_ =>
      rows += (("rand", math.floor(rnd.nextDouble() * 1e6) / 100)))
    (1 to 50).foreach(i =>                      // heavy dup extremes
      rows += (("dups", if (i % 3 == 0) 999999.99 else 0.01)))
    val df = rows.result().toDF("o_orderpriority", "o_totalprice")
    // route the sort-based form through a temp parquet dir so it reads
    // the same relation shape the operator expects
    val dir = TempDirs("q13spec").toString
    df.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/orders.parquet")
    val sorted = byKey(operators.Relational.q13Percentiles(spark, dir))
    val agg = byKey(aggForm(df))
    assert(sorted == agg, s"sorted=$sorted\nagg=$agg")
  }
}
