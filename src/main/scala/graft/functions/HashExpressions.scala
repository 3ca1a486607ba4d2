package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native md5-derived 64-bit hash: the first 8 digest bytes, big-endian,
  * as a signed long — bit-identical to the composable form
  * `shiftleft(conv(substring(md5(s),1,8),16,10),32) | conv(substring(md5(s),9,8),16,10)`
  * and to DuckDB's `CAST('0x'||substring(md5(s),1,8) AS BIGINT)` halves,
  * which is what keeps sketches built from it oracle-provable across
  * engines.
  *
  * The composable form walks md5-hex formatting, two substrings, and two
  * base-16 string parses per row; on a shingle stream that's the hot
  * loop. This expression digests the UTF-8 bytes and assembles the long
  * in one pass (thread-local MessageDigest, no intermediate strings) and
  * participates in whole-stage codegen.
  */
case class Md5Long(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"md5_long expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = LongType

  protected override def nullSafeEval(input: Any): Any =
    Md5LongHelper.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5LongHelper.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5LongHelper {
  private val digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** First 8 md5 digest bytes, big-endian, as a signed long. */
  def hash(s: UTF8String): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
  }
}

object HashExpressions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column API: native md5-derived 64-bit hash. */
  def md5_long(c: Column): Column =
    ColumnBridge.column(Md5Long(ColumnBridge.expression(c)))
}
