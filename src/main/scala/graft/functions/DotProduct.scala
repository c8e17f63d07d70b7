package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst Σ xᵢ·yᵢ over two numeric arrays — the hot inner loop of
  * every similarity operator (q45/q50/q51/q53: cell assignment, candidate
  * re-rank, norms). The `aggregate(zip_with(...))` formulation it replaces
  * is a higher-order function, which Spark evaluates INTERPRETED
  * (CodegenFallback) with a per-element lambda frame and an intermediate
  * zipped array; at 100 TB the ANN paths are dot-product-bound, so this is
  * the one scalar kernel worth a custom expression (the same judgment call
  * as kmer.KmerGenerator for k-merization). Here the whole product is a
  * tight primitive `for` loop inside whole-stage codegen: no allocation,
  * no virtual calls, double accumulator.
  *
  * Semantics are BIT-IDENTICAL to
  * `aggregate(zip_with(x, y, (a,b) -> double(a)*double(b)), 0.0, +)` —
  * left-to-right double accumulation (the oracle-determinism contract of
  * Similarity.dot), null on null input, null on length mismatch or null
  * element (zip_with pads/propagates null, and `acc + null` poisons the
  * aggregate), 0.0 on empty arrays.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_product"

  @transient private lazy val leftIsFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightIsFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "dot_product requires array<float> or array<double> inputs, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (leftIsFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rightIsFloat) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (leftIsFloat) "getFloat" else "getDouble"
    val rGet = if (rightIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (double) $x.$lGet($i) * (double) $y.$rGet($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {

  /** Column form: `dot_product(col("embedding"), col("ce"))`. */
  def dot_product(x: Column, y: Column): Column =
    GraftColumnBridge.column(
      DotProduct(GraftColumnBridge.expression(x), GraftColumnBridge.expression(y)))
}
