package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._

/** Bounded min-heap holding the k best (score, id) pairs seen so far.
  * "Best" = highest score; ties broken toward the smaller id so results
  * are deterministic. O(k) memory regardless of input size.
  */
class TopKHeap(val k: Int) {
  // head = the entry to evict first: lowest score, then largest id
  protected val evictFirst: Ordering[(Double, Long)] =
    Ordering.by[(Double, Long), (Double, Long)] { case (s, i) => (-s, i) }
  private[functions] val q = scala.collection.mutable.PriorityQueue.empty(evictFirst)

  def insert(score: Double, id: Long): Unit =
    if (q.size < k) q.enqueue((score, id))
    else if (evictFirst.compare((score, id), q.head) < 0) { q.dequeue(); q.enqueue((score, id)) }

  def mergeFrom(other: TopKHeap): Unit =
    other.q.foreach { case (s, i) => insert(s, i) }

  /** Entries best-first: score desc, id asc. */
  def sorted: Seq[(Double, Long)] =
    q.toSeq.sortBy { case (s, i) => (-s, i) }
}

/** [[TopKHeap]] with AT MOST ONE ENTRY PER ID — the walk's dedup-free
  * aggregation: SOUND ONLY when the score is a pure function
  * of (group, id), so every duplicate of an id carries the identical
  * score and "skip if present" equals "distinct() then heap". The id
  * set tracks evictions, so memory stays O(k). See
  * [[BoundedTopK.topkDedup]] for the contract. */
final class TopKDedupHeap(k: Int) extends TopKHeap(k) {
  private val ids = scala.collection.mutable.HashSet.empty[Long]
  override def insert(score: Double, id: Long): Unit =
    if (!ids.contains(id)) {
      if (q.size < k) { q.enqueue((score, id)); ids += id }
      else if (evictFirst.compare((score, id), q.head) < 0) {
        ids -= q.dequeue()._2
        q.enqueue((score, id)); ids += id
      }
    }
}

/** Top-k by score as a native Catalyst aggregate — the scale-path
  * replacement for `orderBy(desc).limit(k)` *per group*: a window
  * row_number ranks every candidate (full sort of each partition), while
  * this keeps a k-entry heap per group through the normal partial/final
  * aggregation flow, so the shuffle carries at most k pairs per group.
  *
  * `dedupIds = true` uses [[TopKDedupHeap]]: at most one entry per id —
  * equivalent to `distinct()` on (group, id, score) followed by the
  * plain heap WHEN the score is a pure function of (group, id), without
  * the distinct's exchange. The caller owns that purity contract.
  *
  * Output: array<struct<score double, id bigint>>, best-first,
  * deterministic (ties → smaller id).
  */
case class BoundedTopK(
    score: Expression,
    id: Expression,
    k: Int,
    dedupIds: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKHeap] with ImplicitCastInputTypes {

  require(k > 0, s"k must be positive, got $k")

  // analysis-time contract: coerce numeric scores to double and integral
  // ids to long (a non-coercible input fails analysis instead of throwing
  // ClassCastException on the executors mid-job)
  override def inputTypes: Seq[GraftColumnBridge.SqlAbstractDataType] =
    Seq(DoubleType, LongType)

  override def children: Seq[Expression] = Seq(score, id)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), id = newChildren(1))

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): TopKHeap =
    if (dedupIds) new TopKDedupHeap(k) else new TopKHeap(k)

  override def update(buffer: TopKHeap, input: InternalRow): TopKHeap = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buffer.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: TopKHeap, other: TopKHeap): TopKHeap = {
    buffer.mergeFrom(other); buffer
  }

  override def eval(buffer: TopKHeap): Any =
    new GenericArrayData(buffer.sorted.map { case (s, i) =>
      new GenericInternalRow(Array[Any](s, i))
    }.toArray[Any])

  override def serialize(buffer: TopKHeap): Array[Byte] = {
    val entries = buffer.sorted
    val bb = ByteBuffer.allocate(4 + entries.size * 16)
    bb.putInt(entries.size)
    entries.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKHeap = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val h = createAggregationBuffer()
    (0 until n).foreach(_ => h.insert(bb.getDouble, bb.getLong))
    h
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(inputAggBufferOffset = newOffset)

  override def prettyName: String = "bounded_top_k"
}

object BoundedTopK {
  /** `topk(score, id, k)` aggregate column. */
  def topk(score: Column, id: Column, k: Int): Column =
    GraftColumnBridge.column(
      BoundedTopK(
        GraftColumnBridge.expression(score),
        GraftColumnBridge.expression(id),
        k).toAggregateExpression())

  /** [[topk]] with AT MOST ONE HEAP ENTRY PER ID — replaces
    * `distinct()` + [[topk]] WITHOUT the distinct's exchange.
    * CONTRACT (caller-owned, unenforceable at this layer): the score
    * must be a PURE FUNCTION of (group, id) — every duplicate of an id
    * within a group carries the bit-identical score — so skipping a
    * seen id equals deduplicating first. The graph walk qualifies
    * (cosine of two fixed vectors); a stream of re-scored ids does
    * NOT. */
  def topkDedup(score: Column, id: Column, k: Int): Column =
    GraftColumnBridge.column(
      BoundedTopK(
        GraftColumnBridge.expression(score),
        GraftColumnBridge.expression(id),
        k, dedupIds = true).toAggregateExpression())
}
