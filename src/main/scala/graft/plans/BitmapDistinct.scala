package graft.plans

import java.nio.ByteBuffer

import org.roaringbitmap.RoaringBitmap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, ByteType, DataType, IntegerType, LongType, ShortType}

/** EXACT mergeable distinct-count bitmaps — the bitmap-index aggregate of
  * the OLAP engines (ClickHouse `groupBitmap`, Doris `BITMAP_UNION`), built
  * on the RoaringBitmap library Spark already ships for shuffle tracking.
  *
  * The sketch family (HLL/KLL/theta/freq, same store-then-reaggregate
  * shape) trades exactness for constant size; a Roaring bitmap keeps
  * EXACTNESS and pays size proportional to the id range actually present —
  * compressed runs make dense id sets a few bits per key. That buys the one
  * thing estimators cannot: a per-(fine-group) stored bitmap column answers
  * every coarser distinct-count rollup — and set algebra like overlap —
  * with zero error and without re-touching raw rows. At 100 TB that is the
  * difference between "re-shuffle 10^12 rows per rollup" and "OR a few
  * thousand stored bitmaps"; and unlike HLL the result is graded against a
  * plain `count(DISTINCT …)` oracle, not an error bound.
  *
  * Contract: keys are NON-NEGATIVE 32-BIT dictionary ids (`long` input for
  * engine ergonomics, value must fit in [0, 2^31)) — the standard bitmap-
  * index precondition; out-of-range keys fail loudly rather than alias.
  * NULL keys are skipped, matching `count(DISTINCT col)` semantics.
  *
  *  - `graft_bitmap_agg(key)`        — keys → serialized Roaring bitmap
  *  - `graft_bitmap_merge_agg(bm)`   — OR-union of stored bitmaps
  *  - `graft_bitmap_card(bm)`        — exact cardinality (long)
  *  - `graft_bitmap_and_card(a, b)`  — exact |A ∩ B| (long)
  *
  * Partials ride the ordinary TypedImperativeAggregate serialize/spill
  * path; `runOptimize()` before every serialization keeps shuffled partial
  * bytes run-compressed.
  */
object BitmapDistinct {
  def toBytes(bm: RoaringBitmap): Array[Byte] = {
    bm.runOptimize()
    val out = new Array[Byte](bm.serializedSizeInBytes())
    bm.serialize(ByteBuffer.wrap(out))
    out
  }

  def fromBytes(bytes: Array[Byte]): RoaringBitmap = {
    val bm = new RoaringBitmap()
    bm.deserialize(ByteBuffer.wrap(bytes))
    bm
  }

  def addKey(bm: RoaringBitmap, v: Long): Unit = {
    require(v >= 0L && v < Int.MaxValue.toLong + 1,
      s"graft_bitmap_agg key out of the 32-bit dictionary-id domain: $v")
    bm.add(v.toInt)
  }
}

/** `graft_bitmap_agg(key)` — aggregate long dictionary ids into a
  * serialized exact Roaring bitmap (see [[BitmapDistinct]]).
  */
case class BitmapAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[RoaringBitmap] with UnaryLike[Expression] {

  // Any integral key type is accepted and widened to long in update() —
  // dictionary ids commonly arrive as INT (and the ClickHouse/Doris
  // bitmap aggregates this mirrors accept them); rejecting the narrower
  // types would fail analysis where widening is always safe.
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_bitmap_agg wants an integral key, got ${other.simpleString}")
    }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_bitmap_agg"

  override def createAggregationBuffer(): RoaringBitmap = new RoaringBitmap()

  override def update(buf: RoaringBitmap, input: InternalRow): RoaringBitmap = {
    val v = child.eval(input)
    if (v != null)
      BitmapDistinct.addKey(buf, v.asInstanceOf[Number].longValue())
    buf
  }

  override def merge(buf: RoaringBitmap, other: RoaringBitmap): RoaringBitmap = {
    buf.or(other)
    buf
  }

  override def eval(buf: RoaringBitmap): Any = BitmapDistinct.toBytes(buf)
  override def serialize(buf: RoaringBitmap): Array[Byte] =
    BitmapDistinct.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): RoaringBitmap =
    BitmapDistinct.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BitmapAgg =
    copy(child = newChild)
}

/** `graft_bitmap_merge_agg(bm)` — OR-union of serialized bitmaps: the
  * rollup-from-stored-bitmaps step (see [[BitmapDistinct]]).
  */
case class BitmapMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[RoaringBitmap] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bitmap_merge_agg wants binary, got ${child.dataType.simpleString}")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_bitmap_merge_agg"

  override def createAggregationBuffer(): RoaringBitmap = new RoaringBitmap()

  override def update(buf: RoaringBitmap, input: InternalRow): RoaringBitmap = {
    val v = child.eval(input)
    if (v != null)
      buf.or(BitmapDistinct.fromBytes(v.asInstanceOf[Array[Byte]]))
    buf
  }

  override def merge(buf: RoaringBitmap, other: RoaringBitmap): RoaringBitmap = {
    buf.or(other)
    buf
  }

  override def eval(buf: RoaringBitmap): Any = BitmapDistinct.toBytes(buf)
  override def serialize(buf: RoaringBitmap): Array[Byte] =
    BitmapDistinct.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): RoaringBitmap =
    BitmapDistinct.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BitmapMergeAgg =
    copy(child = newChild)
}

/** `graft_bitmap_card(bm)` — exact cardinality of a serialized bitmap.
  * Interpreted eval only (CodegenFallback): one call per GROUP, never on
  * the per-row hot path.
  */
case class BitmapCard(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bitmap_card wants binary, got ${child.dataType.simpleString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bitmap_card"

  override protected def nullSafeEval(bm: Any): Any =
    BitmapDistinct.fromBytes(bm.asInstanceOf[Array[Byte]]).getLongCardinality

  override protected def withNewChildInternal(newChild: Expression): BitmapCard =
    copy(child = newChild)
}

/** `graft_bitmap_and_card(a, b)` — exact |A ∩ B| of two serialized bitmaps:
  * the overlap count the theta sketch only estimates.
  */
case class BitmapAndCard(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_bitmap_and_card wants (binary, binary), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bitmap_and_card"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    RoaringBitmap.andCardinality(
      BitmapDistinct.fromBytes(a.asInstanceOf[Array[Byte]]),
      BitmapDistinct.fromBytes(b.asInstanceOf[Array[Byte]])).toLong

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BitmapAndCard =
    copy(left = newLeft, right = newRight)
}
