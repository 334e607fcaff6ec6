package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** One fused, codegen'd zip-fold over two array columns; which fold it runs
  * is data ([[ArrayFold.Fold]]): `graft_cosine`, `graft_dot`,
  * `graft_dot_long` or `graft_sqdist_long`.
  *
  * The composed form (`aggregate(zip_with(a, b, f), 0, _ + _)`, three times
  * over for cosine) is correct but interpreted: higher-order functions are
  * CodegenFallback, they break the enclosing whole-stage span and zip_with
  * materializes the intermediate array (a stack-sample audit once caught
  * ZipWith.eval / ArrayAggregate.eval burning 95 s in the single scan task
  * of q_sim_ann_lsh before the JIT warmed up). This is one allocation-free
  * loop inside the stage, used on the similarity, ANN and quantized
  * nearest-neighbor hot paths.
  *
  * It returns the composed form's values: accumulation is in index order,
  * in double precision for the double folds (bit-identical) and in long
  * arithmetic for the long folds. NULL follows the composed form too:
  * a NULL array, a NULL element (checked only when containsNull says one
  * can occur) or arrays of different lengths (zip_with pads the shorter
  * one with NULLs) all give NULL.
  */
case class ArrayFold(left: Expression, right: Expression, fold: ArrayFold.Fold)
  extends BinaryExpression {

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType
  private def elemNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  })
  // A length mismatch is NULL whatever the children's nullability.
  override def nullable: Boolean = true
  override def dataType: DataType = fold.dataType
  override def prettyName: String = fold.name
  // The fold is named by prettyName; plan strings show only the children.
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(t, _) => fold.elems.contains(t)
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<${fold.elems.map(_.simpleString).mkString("|")}> " +
        s"arguments, got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) null
    else if (elemNullable && (0 until n).exists(i => x.isNullAt(i) || y.isNullAt(i))) null
    else fold.eval(n, x, elemType(left), y, elemType(right))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ev.value
    val jt = CodeGenerator.javaType(dataType)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nullCheck = if (elemNullable)
        s"if ($a.isNullAt(${p}_i) || $b.isNullAt(${p}_i)) { ${ev.isNull} = true; break; }"
      else ""
      s"""
      ${fold.init(p)}
      int ${p}_n = $a.numElements();
      if ($b.numElements() != ${p}_n) { ${ev.isNull} = true; ${p}_n = 0; }
      for (int ${p}_i = 0; ${p}_i < ${p}_n; ${p}_i++) {
        $nullCheck
        $jt ${p}_x = ($jt) ${CodeGenerator.getValue(a, elemType(left), s"${p}_i")};
        $jt ${p}_y = ($jt) ${CodeGenerator.getValue(b, elemType(right), s"${p}_i")};
        ${fold.step(p, s"${p}_x", s"${p}_y")}
      }
      ${ev.value} = ${fold.result(p)};
    """})
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ArrayFold {

  /** One fold: its SQL name, result type and accepted element types, and
    * its accumulation written twice, as Java for codegen (`init`, `step`
    * over the element values `x` and `y`, `result`; locals prefixed `p`)
    * and as Scala for the interpreted path (`eval`). Elements are read as
    * the result's Java type, so the double folds accumulate in double.
    */
  sealed abstract class Fold(val name: String, val dataType: DataType,
                             val elems: Seq[DataType]) {
    def init(p: String): String
    def step(p: String, x: String, y: String): String
    def result(p: String): String
    def eval(n: Int, x: ArrayData, xt: DataType, y: ArrayData, yt: DataType): Any
  }

  sealed abstract class DoubleFold(name: String, elems: DataType*)
    extends Fold(name, DoubleType, elems) {
    def fold(n: Int, x: Int => Double, y: Int => Double): Double
    def eval(n: Int, x: ArrayData, xt: DataType, y: ArrayData, yt: DataType): Any =
      fold(n, get(x, xt), get(y, yt))
    private def get(a: ArrayData, t: DataType): Int => Double =
      if (t == FloatType) a.getFloat(_).toDouble else a.getDouble(_)
  }

  sealed abstract class LongFold(name: String) extends Fold(name, LongType, Seq(LongType)) {
    def fold(n: Int, x: Int => Long, y: Int => Long): Long
    def eval(n: Int, x: ArrayData, xt: DataType, y: ArrayData, yt: DataType): Any =
      fold(n, x.getLong, y.getLong)
  }

  case object Cosine extends DoubleFold("graft_cosine", FloatType) {
    def init(p: String) = s"double ${p}_dot = 0.0, ${p}_na = 0.0, ${p}_nb = 0.0;"
    def step(p: String, x: String, y: String) =
      s"${p}_dot += $x * $y; ${p}_na += $x * $x; ${p}_nb += $y * $y;"
    def result(p: String) =
      s"${p}_dot / (java.lang.Math.sqrt(${p}_na) * java.lang.Math.sqrt(${p}_nb))"
    def fold(n: Int, x: Int => Double, y: Int => Double): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- 0 until n) { dot += x(i) * y(i); na += x(i) * x(i); nb += y(i) * y(i) }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  case object Dot extends DoubleFold("graft_dot", FloatType, DoubleType) {
    def init(p: String) = s"double ${p}_acc = 0.0;"
    def step(p: String, x: String, y: String) = s"${p}_acc += $x * $y;"
    def result(p: String) = s"${p}_acc"
    def fold(n: Int, x: Int => Double, y: Int => Double): Double =
      (0 until n).foldLeft(0.0)((acc, i) => acc + x(i) * y(i))
  }

  case object LongDot extends LongFold("graft_dot_long") {
    def init(p: String) = s"long ${p}_acc = 0L;"
    def step(p: String, x: String, y: String) = s"${p}_acc += $x * $y;"
    def result(p: String) = s"${p}_acc"
    def fold(n: Int, x: Int => Long, y: Int => Long): Long =
      (0 until n).foldLeft(0L)((acc, i) => acc + x(i) * y(i))
  }

  case object LongSqDist extends LongFold("graft_sqdist_long") {
    def init(p: String) = s"long ${p}_acc = 0L;"
    def step(p: String, x: String, y: String) = s"${p}_acc += ($x - $y) * ($x - $y);"
    def result(p: String) = s"${p}_acc"
    def fold(n: Int, x: Int => Long, y: Int => Long): Long =
      (0 until n).foldLeft(0L) { (acc, i) => val d = x(i) - y(i); acc + d * d }
  }

  val folds: Seq[Fold] = Seq(Cosine, Dot, LongDot, LongSqDist)
}
