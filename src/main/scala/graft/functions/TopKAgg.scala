package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** A bounded top-k under the (score DESC, id ASC) order: what a scan
  * kernel inserts into. */
trait TopKSink {
  def insert(s: Double, i: Long): Unit
}

/** Bounded top-k buffer: keeps the k best (score DESC, id ASC) pairs. */
final class TopKBuffer(val k: Int) extends TopKSink with Serializable {
  require(k > 0, s"k must be positive, got $k")
  // simple insertion into a sorted array — k is small (<= ~100)
  var size = 0
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)

  @inline private def better(s: Double, i: Long, j: Int): Boolean =
    s > scores(j) || (s == scores(j) && i < ids(j))

  def insert(s: Double, i: Long): Unit = {
    if (size == k && !better(s, i, size - 1)) return
    var pos = if (size < k) size else k - 1
    while (pos > 0 && better(s, i, pos - 1)) {
      scores(pos) = scores(pos - 1); ids(pos) = ids(pos - 1); pos -= 1
    }
    scores(pos) = s; ids(pos) = i
    if (size < k) size += 1
  }

  def mergeFrom(o: TopKBuffer): Unit = {
    var j = 0
    while (j < o.size) { insert(o.scores(j), o.ids(j)); j += 1 }
  }
}

/** TypedImperativeAggregate top-k: `topk(score, id, k)` returns
  * array<struct<vec_id: long, score: double>> ordered score DESC, id ASC.
  *
  * The scale rationale (SURVEY.md §2.1 K4): per-partition partial
  * aggregation keeps a k-element heap per group on the map side, so a
  * batched m-query kNN over n rows shuffles m x k rows instead of m x n —
  * the distributed generalization of the reference's argpartition top-k
  * (pythonvectordb.py:130-151) to many simultaneous queries.
  */
case class TopKAgg(
    scoreExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "topk"

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = scoreExpr.eval(input)
    val i = idExpr.eval(input)
    if (s != null && i != null)
      buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    buf.mergeFrom(other); buf
  }

  override def eval(buf: TopKBuffer): Any = {
    val rows = new Array[Any](buf.size)
    var j = 0
    while (j < buf.size) {
      rows(j) = InternalRow(buf.ids(j), buf.scores(j))
      j += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + buf.size * 16)
    bb.putInt(buf.k).putInt(buf.size)
    var j = 0
    while (j < buf.size) { bb.putDouble(buf.scores(j)).putLong(buf.ids(j)); j += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new TopKBuffer(bb.getInt())
    val n = bb.getInt()
    var j = 0
    while (j < n) {
      buf.scores(j) = bb.getDouble(); buf.ids(j) = bb.getLong(); j += 1
    }
    buf.size = n
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopKAgg =
    copy(scoreExpr = c(0), idExpr = c(1))
}
