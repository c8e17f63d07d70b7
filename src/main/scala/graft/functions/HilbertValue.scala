package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Native Catalyst Hilbert-curve index of two integer keys — the
  * locality-preserving alternative to `z_value` (ZValue.scala) for
  * multi-dimensional data-skipping layouts. The Hilbert curve visits every
  * cell of the 2^16 × 2^16 grid through unit steps (no Morton "seams"
  * where the curve jumps across the key space), so consecutive curve
  * positions are always adjacent cells and file-level min/max zone maps
  * over a Hilbert-sorted table are strictly tighter than z-order's on
  * worst-case key mixes — the layout Delta/Iceberg adopted after ZORDER
  * for exactly that reason.
  *
  * Semantics: take the LOW 16 BITS of each input (documented masking — a
  * production layout clusters bucketed/offset keys, not raw epochs), walk
  * the 16 curve orders from the top bit down with the classic
  * rotate-and-accumulate recurrence (public-domain algorithm, e.g. the
  * `xy2d` form on Wikipedia's Hilbert-curve article), and return the curve
  * position d < 2^32. Null in → null out. Evaluates as one static-helper
  * call inside whole-stage codegen — a 16-iteration branch-light loop, no
  * allocation.
  */
case class HilbertValue(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "hilbert_value"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case IntegerType | LongType | ShortType | ByteType => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "hilbert_value requires integral inputs, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  private def toLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    HilbertValue.xy2d(16, toLong(a), toLong(b))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.HilbertValue.xy2d(16, (long) $x, (long) $y);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertValue =
    copy(left = newLeft, right = newRight)
}

object HilbertValue {

  /** Curve position of cell (x, y) on the order-`bits` Hilbert curve
    * (grid 2^bits × 2^bits; inputs masked to `bits` bits). Flips reflect
    * about the FULL grid (n−1−v), swaps exchange the axes — the standard
    * top-down xy2d recurrence. */
  def xy2d(bits: Int, xIn: Long, yIn: Long): Long = {
    val mask = (1L << bits) - 1
    var x = xIn & mask
    var y = yIn & mask
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = mask - x; y = mask - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Inverse walk (d2xy) — test-support for the adjacency/bijectivity
    * property; not exposed as an expression. */
  def d2xy(bits: Int, dIn: Long): (Long, Long) = {
    var x = 0L; var y = 0L
    var t = dIn
    var s = 1L
    while (s < (1L << bits)) {
      val rx = 1L & (t / 2)
      val ry = 1L & (t ^ rx)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx
      y += s * ry
      t /= 4
      s <<= 1
    }
    (x, y)
  }

  /** Column form: `hilbert_value(col("user_id"), col("hr"))`. */
  def hilbert_value(x: Column, y: Column): Column =
    GraftColumnBridge.column(
      HilbertValue(GraftColumnBridge.expression(x), GraftColumnBridge.expression(y)))

  /** The same walk as portable SQL for the DuckDB oracle: a CTE chain —
    * `hilbertCte(src, xExpr, yExpr)` emits `h0 .. h16`, where `h16`
    * carries the original columns of `src` plus `hd` (the curve
    * position). Each step evaluates rx/ry/flip/swap over the PREVIOUS
    * step's hx/hy — `SELECT * REPLACE` reads the old row, so the three
    * replaced columns update simultaneously exactly like the imperative
    * recurrence. */
  def hilbertCte(src: String, xExpr: String, yExpr: String): String = {
    val mask = 65535L
    val init = s"""h0 AS (
                  |  SELECT *, CAST($xExpr AS BIGINT) & $mask AS hx,
                  |    CAST($yExpr AS BIGINT) & $mask AS hy,
                  |    CAST(0 AS BIGINT) AS hd
                  |  FROM $src)""".stripMargin
    val steps = (0 until 16).map { k =>
      val s = 1L << (15 - k)
      s"""h${k + 1} AS (
         |  SELECT * REPLACE (
         |    CASE WHEN (hy & $s) = 0
         |      THEN (CASE WHEN (hx & $s) > 0 THEN $mask - hy ELSE hy END)
         |      ELSE hx END AS hx,
         |    CASE WHEN (hy & $s) = 0
         |      THEN (CASE WHEN (hx & $s) > 0 THEN $mask - hx ELSE hx END)
         |      ELSE hy END AS hy,
         |    hd + ${s * s} * xor(3 * (CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END),
         |      CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END) AS hd)
         |  FROM h$k)""".stripMargin
    }
    (init +: steps).mkString(",\n")
  }
}
