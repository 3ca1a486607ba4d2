package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native 32-bit Morton code of two 16-bit keys (x even bits, y odd) —
  * bit-identical to the composable magic-number cascade in
  * `graft.operators.ZOrder.interleave16` and to its DuckDB arithmetic
  * twin, but one fused method call per row instead of ten shift/mask
  * expressions per dimension. On a layout-write path (every fact row
  * gets a z-key before the range partitioner) expression width is the
  * hot cost, so this is where a native expression pays.
  */
case class ZOrderKey(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"zorder_key expects (bigint, bigint), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = LongType

  protected override def nullSafeEval(x: Any, y: Any): Any =
    ZOrderKeyHelper.interleave(x.asInstanceOf[Long], y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (x, y) => s"graft.functions.ZOrderKeyHelper.interleave($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ZOrderKeyHelper {
  /** Spread the low 16 bits into even positions (Morton magic numbers). */
  private def spread(v: Long): Long = {
    var x = v & 0xFFFFL
    x = (x | (x << 8)) & 0x00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0FL
    x = (x | (x << 2)) & 0x33333333L
    (x | (x << 1)) & 0x55555555L
  }

  def interleave(x: Long, y: Long): Long =
    spread(x) | (spread(y) << 1)
}

object ZOrderExpressions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column API: native Morton interleave of two 16-bit keys. */
  def zorder_key(x: Column, y: Column): Column =
    ColumnBridge.column(ZOrderKey(
      ColumnBridge.expression(x), ColumnBridge.expression(y)))
}
