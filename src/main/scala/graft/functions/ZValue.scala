package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Native Catalyst Morton (z-order) interleave of two integer keys — the
  * multi-dimensional CLUSTERING key behind data-skipping layouts: sorting a
  * table by `z_value(a, b)` makes file-level min/max zone maps tight in BOTH
  * dimensions at once, so a 100 TB scan with predicates on either column
  * prunes most files, where a plain `ORDER BY a` layout only prunes on `a`.
  * (Same layout idea Delta/Iceberg expose as OPTIMIZE ZORDER; here it is a
  * first-class expression usable in `repartitionByRange`/`sortWithinPartitions`.)
  *
  * Semantics: take the LOW 24 BITS of each input (documented masking — a
  * production layout z-orders bucketed/offset keys, not raw epochs), spread
  * them to even/odd bit positions with the classic shift-mask cascade (public
  * bit-twiddling identity, e.g. Interleave-bits-by-Binary-Magic-Numbers from
  * Stanford's Bit Twiddling Hacks), and OR them interleaved: bit i of `a`
  * lands at z-bit 2i, bit i of `b` at 2i+1. Result < 2^48, never negative.
  * Null in → null out. The cascade is branch-free straight-line code inside
  * whole-stage codegen — no loop, no allocation.
  */
case class ZValue(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "z_value"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case IntegerType | LongType | ShortType | ByteType => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "z_value requires integral inputs, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  private def toLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    ZValue.interleave(toLong(a), toLong(b))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val sx = ctx.freshName("sx")
      val sy = ctx.freshName("sy")
      s"""
         |long $sx = graft.functions.ZValue.spread((long) $x);
         |long $sy = graft.functions.ZValue.spread((long) $y);
         |${ev.value} = $sx | ($sy << 1);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZValue =
    copy(left = newLeft, right = newRight)
}

object ZValue {

  /** Spread the low 24 bits of `v` to the even bit positions of a long. */
  def spread(v: Long): Long = {
    var x = v & 0xffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  def interleave(a: Long, b: Long): Long = spread(a) | (spread(b) << 1)

  /** Column form: `z_value(col("user_id"), col("sec"))`. */
  def z_value(x: Column, y: Column): Column =
    GraftColumnBridge.column(
      ZValue(GraftColumnBridge.expression(x), GraftColumnBridge.expression(y)))

  /** The same interleave as portable SQL (for the DuckDB oracle): 24
    * explicit `((v >> i) & 1) << (2i + off)` terms per dimension. */
  def oracleSql(xCol: String, yCol: String): String = {
    val xs = (0 until 24).map(i => s"(((($xCol) >> $i) & 1) << ${2 * i})")
    val ys = (0 until 24).map(i => s"(((($yCol) >> $i) & 1) << ${2 * i + 1})")
    (xs ++ ys).mkString(" | ")
  }
}
