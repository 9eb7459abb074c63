package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.Checkpoints.LineageCut
import graft.streaming.WatchLoop

/** Table-scoped invalidation: every PlanCache entry knows the tables it
  * read, so a sweep of one table drops exactly the memos over it and
  * leaves the others installed. */
class ReadSetSpec extends AnyFunSuite with SparkFixture {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString(",")).sorted.toSeq

  test("a table-scoped sweep drops exactly the memos that read the table") {
    val sparkS = spark
    import sparkS.implicits._
    val dir = TempDirs("graft-reads").toString
    val tags = Seq("rs:a", "rs:b", "rs:ab", "rs:cut1", "rs:cut2", "rs:vb")
    // the memos over each table, directly or through the memos they build on
    val readsA = Set("rs:a", "rs:ab", "rs:cut1", "rs:cut2")
    val readsB = Set("rs:b", "rs:ab", "rs:vb")
    def memos(dir: String): Map[String, Any] = {
      def load(t: String) = Tables.load(spark, dir, t)
      val asOf = PlanCache.currentEpoch
      val l1 = PlanCache.getOrBuildAt(spark, dir, "rs:cut1", asOf) {
        load("A").select(col("k"), (col("v") * 2).as("v")).lineageCut
      }
      Map(
        "rs:a" -> PlanCache.getOrBuild(spark, dir, "rs:a")(
          load("A").filter(col("v") % 2 === 0)),
        "rs:b" -> PlanCache.getOrBuild(spark, dir, "rs:b")(
          load("B").select(col("k"), col("v") + 1)),
        "rs:ab" -> PlanCache.getOrBuild(spark, dir, "rs:ab")(
          load("A").join(load("B").withColumnRenamed("v", "w"), "k")),
        "rs:cut1" -> l1,
        "rs:cut2" -> PlanCache.getOrBuildAt(spark, dir, "rs:cut2", asOf) {
          l1.filter(col("v") > 1000).lineageCut
        },
        "rs:vb" -> PlanCache.memo(spark, dir, "rs:vb")(java.lang.Long.valueOf(
          load("B").collect().map(_.getAs[Long]("v")).sum))(_ => ()))
    }
    // each memo's answer, recomputed from the files: one job
    def fromFiles(dir: String): Map[String, Any] = {
      val all = Seq("A", "B").map(t => spark.read.parquet(s"$dir/$t.parquet")
          .select(lit(t).as("t"), col("k"), col("v")))
        .reduce(_ unionAll _).collect()
      def read(t: String) = all.filter(_.getString(0) == t)
        .map(r => (r.getLong(1), r.getLong(2))).toSeq
      def show(xs: Seq[Product]) = xs.map(_.productIterator.mkString(",")).sorted
      val (a, b) = (read("A"), read("B"))
      val a2 = a.map { case (k, v) => (k, v * 2) }
      Map("rs:a" -> show(a.filter(_._2 % 2 == 0)),
        "rs:b" -> show(b.map { case (k, v) => (k, v + 1) }),
        "rs:ab" -> show(for ((k, v) <- a; (k2, w) <- b if k == k2) yield (k, v, w)),
        "rs:cut1" -> show(a2), "rs:cut2" -> show(a2.filter(_._2 > 1000)),
        "rs:vb" -> b.map(_._2).sum)
    }
    // every DataFrame memo's rows, read in one job
    def check(dir: String, m: Map[String, Any]): Unit = {
      val frames = m.collect { case (t, df: Dataset[_]) =>
        df.select(lit(t).as("t"),
          concat_ws(",", df.columns.toSeq.map(c => col(c).cast("string")): _*))
      }
      val got = frames.reduce(_ unionAll _).collect().groupBy(_.getString(0))
        .map { case (t, rs) => t -> rs.map(_.getString(1)).sorted.toSeq }
      val want = fromFiles(dir)
      tags.foreach { t =>
        val answer = m(t) match {
          case _: Dataset[_] => got.getOrElse(t, Seq.empty)
          case v => v
        }
        assert(answer == want(t), s"$t answers its files")
      }
    }

    def append(rnd: scala.util.Random, n: Int, table: String) =
      Seq.fill(n)((rnd.nextInt(8).toLong, 200L + rnd.nextInt(1000))).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(s"$dir/$table.parquet")
    val init = new scala.util.Random(0)
    Seq("A", "B").foreach(append(init, 30, _))
    var before = memos(dir)
    check(dir, before)
    (1 to 20).foreach { seq =>
      val rnd = new scala.util.Random(seq)
      (1 to 2).foreach { _ =>
        val table = if (rnd.nextBoolean()) "A" else "B"
        append(rnd, 1 + rnd.nextInt(5), table)
        val dropped = PlanCache.invalidate(dir, s"$dir/$table.parquet")
        val reader = if (table == "A") readsA else readsB
        // the sweep also takes the memoized scan of the table
        assert(dropped == reader.size + 1, s"sweep of $table")
        tags.filterNot(reader).foreach { t =>
          assert(PlanCache.lookup(spark, dir, t).exists(_.asInstanceOf[AnyRef] eq
            before(t).asInstanceOf[AnyRef]), s"$t stays installed across a $table append")
        }
        val after = memos(dir)
        check(dir, after)
        tags.foreach { t =>
          val same = after(t).asInstanceOf[AnyRef] eq before(t).asInstanceOf[AnyRef]
          assert(same == !reader(t),
            s"$t is ${if (reader(t)) "rebuilt" else "a hit"} after a $table append")
        }
        before = after
      }
    }
    PlanCache.invalidate(dir)
  }

  test("watch-loop edge batches keep the memos that do not read the edges") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def answers(): Seq[Seq[String]] =
      Seq(operators.GraphOps.graphKhop(spark, SfDir),
        operators.GraphOps.kHop(spark, SfDir, 2),
        operators.GraphOps.graphDependents(spark, SfDir)).map(rows)
    // the registry's prepared queries over the same memos
    def registry(name: String) = rows(SparkEntry.queries(name)(spark, SfDir))
    val prepared = Seq("vec_knn_ivf_probe", "graph_dependents")
    val mem = MemoryStream[(Long, Long)]
    val q = WatchLoop.start(spark, SfDir, mem.toDF().toDF("src", "dst"))
    try {
      val probe = rows(operators.SearchOps.vecKnnIvfProbe(spark, SfDir))
      answers()
      (prepared :+ "graph_khop").foreach(registry)
      // the query vector and the resident centroids read only the embeddings
      val vectorMemos = Seq("queryVec", "ivfCentroids", "ivfCentroids:resident")
      val preparedMemos = prepared.map("query:" + _)
      def kept() = ("bfs:dependents" +: vectorMemos ++: preparedMemos)
        .map(t => PlanCache.lookup(spark, SfDir, t).map(_.asInstanceOf[AnyRef]))
      def hits(before: Seq[Option[AnyRef]]) =
        kept().zip(before).forall { case (x, y) => x.exists(_ eq y.get) }
      var installed = kept()
      assert(installed.forall(_.nonEmpty))
      (1 to 3).foreach { b =>
        // a seed supplier ships a part the graph has never held
        val part = 990000L + b
        mem.addData((1L, part), (20L + b, part))
        q.processAllAvailable()
        assert(PlanCache.lookup(spark, SfDir, "query:graph_khop").isEmpty,
          "an edge batch drops the prepared graph_khop")
        assert(hits(installed), "the dependents BFS, the query vector, the " +
          "IVF centroids and the prepared vector and dependents queries are " +
          "hits across an edge batch")
        val memo = answers()
        assert(memo.head.contains(s"1,part,$part"), "graph_khop sees the new edge")
        val khop = registry("graph_khop")
        assert(khop == memo.head, "the prepared graph_khop sees the new edge")
        assert(rows(operators.SearchOps.vecKnnIvfProbe(spark, SfDir)) == probe)
        assert(registry("vec_knn_ivf_probe") == probe)
        assert(hits(installed))
        PlanCache.invalidate(SfDir)
        assert(answers() == memo,
          "memoized answers equal the answers after a dir-wide sweep")
        assert(registry("graph_khop") == khop,
          "the prepared graph_khop equals its answer after a dir-wide sweep")
        installed = {
          operators.SearchOps.vecKnnIvfProbe(spark, SfDir)
          prepared.foreach(registry)
          kept()
        }
      }
      PlanCache.invalidate(SfDir, s"$SfDir/embeddings.parquet")
      (vectorMemos :+ "query:vec_knn_ivf_probe").foreach { t =>
        assert(PlanCache.lookup(spark, SfDir, t).isEmpty, s"a sweep of the embeddings drops $t")
      }
      assert(PlanCache.lookup(spark, SfDir, "bfs:dependents").nonEmpty,
        "a sweep of the embeddings keeps the dependents BFS")
    } finally {
      q.stop()
      WatchLoop.stop(spark, SfDir)
    }
  }

  test("dedup_winnow's memo survives an edge batch and drops with its documents") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val q = WatchLoop.start(spark, SfDir, mem.toDF().toDF("src", "dst"))
    def sel() = PlanCache.lookup(spark, SfDir, "winnowSel").map(_.asInstanceOf[AnyRef])
    try {
      // its build resolves the bucketed docs table, sized from the corpus
      // bytes: every source it reads has a known read set
      operators.DedupOps.dedupWinnow(spark, SfDir)
      val installed = sel()
      assert(installed.nonEmpty)
      mem.addData((1L, 990101L))
      q.processAllAvailable()
      assert(WatchLoop.ledgers.get((spark, SfDir)).lastElement().n_new_edges == 1,
        "the batch appended its edge and swept the edge table")
      assert(sel().exists(_ eq installed.get), "winnowSel is a hit across an edge batch")
      PlanCache.invalidate(SfDir, s"$SfDir/documents.parquet")
      assert(sel().isEmpty, "a sweep of the documents drops winnowSel")
    } finally {
      q.stop()
      WatchLoop.stop(spark, SfDir)
    }
  }
}
