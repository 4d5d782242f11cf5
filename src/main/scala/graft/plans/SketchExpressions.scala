package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Native bounded-state BOTTOM-K-BY-HASH sketch — the deterministic
  * alternative to HLL / KLL for the approximate-distinct and
  * approximate-quantile scale paths.
  *
  * `bottom_k_hv(h, v, k)` keeps the k smallest DISTINCT hash keys seen
  * (with one carried double per key) in a bounded buffer, merges
  * associatively/commutatively across partitions, and evaluates to the
  * ascending `array<struct<h, v>>`. Because "k smallest distinct
  * hashes" is a pure set function of the input — no randomness, no
  * insertion-order sensitivity (ties on h keep the smallest v) — the
  * result is identical at ANY parallelism and reproducible by an
  * ORDER BY h LIMIT k in DuckDB, which is what lets KMV distinct
  * estimation (a16c) and min-hash-sample quantiles (x18) pass the
  * cross-engine hash gate where `approx_count_distinct` /
  * `approx_percentile` sketches cannot.
  *
  * Scale shape: this is a real `TypedImperativeAggregate` — partial
  * aggregation runs map-side with O(k) state per group (a TreeMap of at
  * most k entries), shuffled as a compact byte image, so a 100 TB scan
  * reduces to |groups|·k sketch entries exactly like the HLL path it
  * stands next to (a16b).
  */
case class BottomKByHash(hash: Expression, value: Expression, k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeMap[
    java.lang.Long, java.lang.Double]] with ImplicitCastInputTypes {

  require(k > 0, "bottom_k_hv: k must be positive")

  // analyzer-inserted coercions: integral hashes widen to LONG, any
  // numeric carried value (incl. SQL decimal literals) to DOUBLE.
  // (Covariant override: AbstractDataType itself is private[sql].)
  override def inputTypes: Seq[DataType] = Seq(LongType, DoubleType)

  private type Buf = java.util.TreeMap[java.lang.Long, java.lang.Double]

  override def children: Seq[Expression] = Seq(hash, value)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(hash = newChildren(0), value = newChildren(1))

  override def nullable: Boolean = false

  override def dataType: DataType = ArrayType(new StructType()
    .add("h", LongType).add("v", DoubleType), containsNull = false)

  override def createAggregationBuffer(): Buf = new Buf()

  private def insert(m: Buf, h: Long, v: Double): Unit = {
    val ex = m.get(h)
    if (ex == null) {
      if (m.size < k) m.put(h, v)
      else if (h < m.lastKey()) {
        m.put(h, v)
        m.remove(m.lastKey())
      }
    } else if (v < ex) m.put(h, v) // tie on h: smallest v, order-free
  }

  override def update(m: Buf, input: InternalRow): Buf = {
    val h = hash.eval(input)
    if (h != null) {
      val v = value.eval(input)
      if (v != null)
        insert(m, h.asInstanceOf[Long], v.asInstanceOf[Double])
    }
    m
  }

  override def merge(m: Buf, other: Buf): Buf = {
    val it = other.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      insert(m, e.getKey, e.getValue)
    }
    m
  }

  override def eval(m: Buf): Any = {
    val out = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      out(i) = InternalRow(e.getKey.longValue(), e.getValue.doubleValue())
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(m: Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * m.size)
    bb.putInt(m.size)
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      bb.putLong(e.getKey)
      bb.putDouble(e.getValue)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val m = new Buf()
    var i = 0
    while (i < n) {
      m.put(bb.getLong, bb.getDouble)
      i += 1
    }
    m
  }

  override def withNewMutableAggBufferOffset(
      newOffset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(
      newOffset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = newOffset)

  override def prettyName: String = "bottom_k_hv"
}

object SketchExpressions {

  /** SQL/`expr` builder: `bottom_k_hv(h, v, k)` with a foldable k. */
  def build(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3,
      "bottom_k_hv(hash, value, k) takes exactly 3 arguments")
    require(exprs(2).foldable, "bottom_k_hv: k must be a literal")
    val k = exprs(2).eval().asInstanceOf[Number].intValue()
    BottomKByHash(exprs(0), exprs(1), k).toAggregateExpression()
  }
}
