package graft.plans

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{SetOperation, Sketches, Union}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Theta sketches — the SET-ALGEBRA member of the sketch family. HLL
  * (q_agg_sketch_hll) can only UNION: a theta sketch keeps the k smallest
  * key hashes, so two sketches can be INTERSECTED (and differenced) with
  * bounded relative error — audience overlap, churn (A\B), retention
  * (A∩B) over distinct keys, without ever materializing the sets. Built on
  * the Datasketches library Spark ships; Spark exposes no theta SQL
  * surface, so these are injected via [[GraftExtensions]]:
  *
  *  - `graft_theta_agg(key)` — aggregate longs into a serialized compact
  *    theta sketch (the buffer is a theta Union, so partial merges are the
  *    same operation as value updates).
  *  - `graft_theta_estimate(sk)` — distinct estimate (rounded to long).
  *  - `graft_theta_intersect_estimate(a, b)` — |A ∩ B| estimate.
  *
  * The retained-hash-set construction is ORDER-INDEPENDENT (min-k of a
  * fixed hash), so results are deterministic for a given input set under
  * any partitioning/merge topology — stronger than the frequency sketch's
  * guarantee; still capability-only in the oracle sense (DuckDB cannot
  * recompute the sketch bytes), with the error bound pinned in the spec.
  */
case class ThetaSketchAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Union] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_theta_agg wants bigint, got ${child.dataType.simpleString}")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_theta_agg"

  override def createAggregationBuffer(): Union =
    SetOperation.builder().buildUnion()

  override def update(buf: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: Union, other: Union): Union = {
    buf.union(other.getResult)
    buf
  }

  override def eval(buf: Union): Any = buf.getResult.toByteArray
  override def serialize(buf: Union): Array[Byte] = buf.getResult.toByteArray
  override def deserialize(bytes: Array[Byte]): Union = {
    val u = SetOperation.builder().buildUnion()
    u.union(Sketches.wrapSketch(Memory.wrap(bytes)))
    u
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ThetaSketchAgg =
    copy(child = newChild)
}

/** `graft_theta_estimate(sk)` — rounded distinct estimate. */
case class ThetaEstimate(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_theta_estimate wants binary, got ${child.dataType.simpleString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_theta_estimate"

  override protected def nullSafeEval(sk: Any): Any =
    math.round(Sketches.wrapSketch(
      Memory.wrap(sk.asInstanceOf[Array[Byte]])).getEstimate)

  override protected def withNewChildInternal(newChild: Expression): ThetaEstimate =
    copy(child = newChild)
}

/** `graft_theta_intersect_estimate(a, b)` — rounded |A ∩ B| estimate. */
case class ThetaIntersectEstimate(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_theta_intersect_estimate wants (binary, binary), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_theta_intersect_estimate"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val ia = Sketches.wrapSketch(Memory.wrap(a.asInstanceOf[Array[Byte]]))
    val ib = Sketches.wrapSketch(Memory.wrap(b.asInstanceOf[Array[Byte]]))
    val inter = SetOperation.builder().buildIntersection()
    math.round(inter.intersect(ia, ib).getEstimate)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaIntersectEstimate =
    copy(left = newLeft, right = newRight)
}
