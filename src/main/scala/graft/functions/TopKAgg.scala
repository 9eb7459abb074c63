package graft.functions

import java.nio.ByteBuffer
import scala.collection.mutable
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graft.SqlBridge

/** Per-group top-k as a real aggregate with bounded heap state.
  *
  * The standard per-group top-N (window row_number + filter) shuffles EVERY
  * row to its group's partition before ranking. This aggregate keeps a
  * k-bounded min-heap per group, so partial aggregation trims map-side and
  * only <= k rows per group ever cross the shuffle — the difference between
  * moving 100 TB and moving k * |groups| rows (cortex caps every search at
  * `limit`, internal/mcp/search_sqlite.go:53; this is that cap pushed into
  * the aggregation).
  *
  * Input: (score double, id long). Output: array<struct<score,id>> sorted
  * score DESC, id ASC (total order, ties broken deterministically).
  */
case class TopKAgg(
    scoreExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  // min-heap on (score asc, id desc): the head is the WORST kept entry,
  // evicted first when a better row arrives
  private val ord: Ordering[(Double, Long)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.Long)

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty(ord)

  private def insert(buf: mutable.PriorityQueue[(Double, Long)],
      e: (Double, Long)): Unit = {
    if (buf.size < k) buf.enqueue(e)
    else if (ord.lt(e, buf.head)) { buf.dequeue(); buf.enqueue(e) }
  }

  override def update(buf: mutable.PriorityQueue[(Double, Long)],
      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val s = scoreExpr.eval(input)
    val i = idExpr.eval(input)
    if (s != null && i != null)
      insert(buf, (s.asInstanceOf[Double], i.asInstanceOf[Long]))
    buf
  }

  override def merge(buf: mutable.PriorityQueue[(Double, Long)],
      other: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    other.foreach(insert(buf, _))
    buf
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any = {
    val sorted = buf.toArray.sortBy(e => (-e._1, e._2))
    new GenericArrayData(sorted.map { case (s, i) =>
      InternalRow(s, i)
    }.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    buf.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    (0 until n).foreach(_ => buf.enqueue((bb.getDouble, bb.getLong)))
    buf
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType), StructField("id", LongType))))
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(scoreExpr, idExpr)
  override def withNewMutableAggBufferOffset(offset: Int): TopKAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1))
}

object TopKAgg {
  /** Aggregate column: top-k (score,id) pairs, score DESC / id ASC. */
  def topK(score: Column, id: Column, k: Int): Column =
    SqlBridge.column(
      TopKAgg(SqlBridge.expression(score), SqlBridge.expression(id), k)
        .toAggregateExpression())

  /** ObjectHashAggregate (the physical home of every TypedImperative
    * aggregate, this one included) abandons hashing for SORT-based
    * aggregation once a partition exceeds
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` distinct
    * groups — and the default is 128, sized for giant per-group state
    * like collect_list, not for k-bounded heaps. A batch-KNN top-k over
    * vector-count groups then SORTS every candidate-pair row (observed
    * as the dominant aggregate cost in `graft.Tool knn`).
    *
    * The raise is SCOPED, not session-wide: [[posture]] re-binds the
    * operator's final plan to a memoized clone of the caller's session
    * whose only divergence is this threshold, so the caller's session —
    * and every unbounded-state ObjectHashAggregate it later runs
    * (collect_list and friends, where 4M in-memory groups per task is an
    * OOM) — keeps the stock posture. A threshold the caller configured
    * explicitly (anything but the stock 128) is the deployment's choice
    * and is copied through unchanged. */
  def posture(spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graft.SqlBridge.rebind(posturedSession(spark), df)

  private val FallbackKey =
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
  private val RaisedGroups = (4 * 1024 * 1024).toString
  private val postured = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.sql.SparkSession, org.apache.spark.sql.SparkSession]()
  // keys this module copied onto a clone — so a key the parent later
  // UNSETS is unset on the clone too instead of going stale there
  private val synced = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.sql.SparkSession, Set[String]]()

  /** The memoized posture clone for `spark` (one per parent session;
    * clones share the SparkContext, catalog and cache manager). Runtime
    * confs are re-synced from the parent on EVERY call, so AQE toggles
    * and graft knobs set after the clone was created still steer these
    * plans; only the fallback threshold diverges. */
  private[graft] def posturedSession(
      spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession = {
    postured.keySet.removeIf(_.sparkContext.isStopped)
    synced.keySet.removeIf(_.sparkContext.isStopped)
    val clone = postured.computeIfAbsent(spark, p => p.newSession())
    val parentAll = spark.conf.getAll
    parentAll.foreach { case (k, v) =>
      if (k != FallbackKey && !clone.conf.getOption(k).contains(v))
        try clone.conf.set(k, v)
        catch { case _: org.apache.spark.sql.AnalysisException => () } // static conf
    }
    synced.getOrDefault(clone, Set.empty)
      .filterNot(parentAll.contains)
      .foreach(k => try clone.conf.unset(k) catch { case _: Throwable => () })
    synced.put(clone, parentAll.keySet)
    val parent = spark.conf.getOption(FallbackKey)
    clone.conf.set(FallbackKey,
      if (parent.forall(_ == "128")) RaisedGroups else parent.get)
    clone
  }
}
