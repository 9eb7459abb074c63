package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GraphOps

/** graph_iface_match (interface_matcher.go analogue): relational division
  * with embedded-interface flattening. */
class IfaceMatchSpec extends AnyFunSuite with SparkFixture {

  private def corpus(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = TempDirs("ifm").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("division, flattening, cycles, wildcard, and the seed gate") {
    val dir = corpus(Seq(
      // interfaces (doc_id % 40 == 0)
      40L -> "stream reader query fetch query close", // methods {fetch, close}
      80L -> "stream base query open", // methods {open}
      120L -> "stream ext batch base query extra", // own {extra} + embeds base -> {extra, open}
      160L -> "stream empty", // no methods -> wildcard row
      200L -> "stream a batch b query m1", // cycle a <-> b
      240L -> "stream b batch a query m2", // both resolve {m1, m2}
      280L -> "stream base query other", // 2nd 'base': embeds resolve to MIN doc 80
      // NOT an interface: not on the seed stride
      41L -> "stream notseed query zz",
      // concrete types
      1L -> "table t1 query fetch query close query open",
      2L -> "table t2 query fetch", // partial match on reader -> rejected
      3L -> "table t3 query extra query open query m1 query m2"))
    val out = GraphOps.graphIfaceMatch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3), r.getLong(4)))
      .toSet
    val expected = Set(
      (1L, "t1", 40L, "reader", 2L), // {fetch, close} subset of t1's methods
      (1L, "t1", 80L, "base", 1L),
      (3L, "t3", 80L, "base", 1L),
      (3L, "t3", 120L, "ext", 2L), // flattened {extra, open}
      (3L, "t3", 200L, "a", 2L), // cycle-flattened {m1, m2}
      (3L, "t3", 240L, "b", 2L),
      (-1L, "*", 160L, "empty", 0L)) // empty iface -> wildcard, not n_types edges
    assert(out == expected)
    // in particular: no edge for the partial match (t2/reader), none for the
    // non-seed stream (notseed), and (280, base) has methods but no implementor
    assert(!out.exists(e => e._2 == "t2"))
    assert(!out.exists(e => e._4 == "notseed"))
    assert(!out.exists(e => e._3 == 280L))
  }

  test("signature-aware matching: same name, different arity does NOT match") {
    // the reference's signaturesMatch (inferencer.go:171) compares
    // param/return counts, not just names; here arity = tokens between
    // the decl's symbol and the next keyword. iface `one` requires
    // m with arity 1 (one token before the next keyword) and done:0.
    val dir = corpus(Seq(
      40L -> "stream one query m pad query done",   // requires {m:1, done:0}
      80L -> "stream two query m query done",       // requires {m:0, done:0}
      // t0 declares m with arity 0 -> implements `two` only
      1L -> "table t0 query m query done",
      // t1 declares m with arity 1 -> implements `one` only
      2L -> "table t1 query m pad query done",
      // last-decl-wins: m first declared with arity 1, then redeclared
      // arity 0 -> the doc's m IS m:0, so it implements `two` only
      3L -> "table t2 query m pad query m query done"))
    val out = GraphOps.graphIfaceMatch(spark, dir).collect()
      .map(r => (r.getString(1), r.getString(3))).toSet
    assert(out == Set(("t0", "two"), ("t1", "one"), ("t2", "two")))
  }

  test("interface resolution: an own method signature beats an embedded one") {
    val dir = corpus(Seq(
      // aa's own m has arity 1 (pad before end of doc); embedding bb
      // must NOT overwrite it, only contribute the missing z
      40L -> "stream aa batch bb query m pad",       // requires {m:1, z:0}
      80L -> "stream bb query m query z",            // requires {m:0, z:0}
      1L -> "table t1 query m pad query z",          // {m:1, z:0} -> aa only
      2L -> "table t2 query m query z"))             // {m:0, z:0} -> bb only
    val out = GraphOps.graphIfaceMatch(spark, dir).collect()
      .map(r => (r.getString(1), r.getString(3), r.getLong(4))).toSet
    assert(out == Set(("t1", "aa", 2L), ("t2", "bb", 2L)))
  }

  test("division is broadcast-shaped: no nested-loop struct x iface scan") {
    // the reference's InferImplementations is a struct × iface double loop;
    // the relational division must never plan that shape — iface-side
    // relations broadcast, candidates come from the method-name join
    val plan = GraphOps.graphIfaceMatch(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"division must not degrade to all-pairs:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"iface-side relations must broadcast into the corpus probe:\n$plan")
  }

  test("flattening is depth-capped and deterministic on an embed chain") {
    // chain i0 <- i1 <- ... each adds one method; depth cap 6 bounds the union
    val chain = (0 to 8).map { k =>
      val imports = if (k < 8) s" batch s${k + 1}" else ""
      (k * 40L + 40L) -> s"stream s$k$imports query m$k"
    }
    val tAll = 1L -> ("table tall " + (0 to 8).map(k => s"query m$k").mkString(" "))
    val dir = corpus(chain :+ tAll)
    val out = GraphOps.graphIfaceMatch(spark, dir).collect()
      .map(r => (r.getString(3), r.getLong(4))).toMap
    // s0 resolves m0..m6 (6 embed hops past itself), s8 just m8
    assert(out("s0") == 7L)
    assert(out("s8") == 1L)
  }
}
