package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native cosine similarity over two `array<float>` columns.
  *
  * The composable form — `aggregate(zip_with(a, b, _*_), 0d, _+_)` — walks
  * boxed lambda closures per element; on a brute-force ANN scan that's the
  * hot loop. This expression evaluates as one fused primitive loop and
  * participates in whole-stage codegen (`doGenCode` emits the loop
  * directly), keeping the scan vectorization-friendly.
  *
  * Accumulation is sequential in index order (float → double), matching
  * [[graft.textops.Similarity.cosine]] bit-for-bit, so results are
  * deterministic under any partitioning. Null/zero-norm inputs → null,
  * mismatched lengths → error at eval (vectors are fixed-dim by contract).
  */
case class FloatVecCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_cosine expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    require(y.numElements() == n,
      s"FloatVecCosine: dimension mismatch ${n} vs ${y.numElements()}")
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val denom = ctx.freshName("denom")
      s"""
         |int ${i} = 0;
         |double ${dot} = 0.0; double ${nx} = 0.0; double ${ny} = 0.0;
         |int ${n} = $a.numElements();
         |if ($b.numElements() != ${n}) {
         |  throw new IllegalArgumentException("FloatVecCosine: dimension mismatch");
         |}
         |while (${i} < ${n}) {
         |  double ${xi} = (double) $a.getFloat(${i});
         |  double ${yi} = (double) $b.getFloat(${i});
         |  ${dot} += ${xi} * ${yi}; ${nx} += ${xi} * ${xi}; ${ny} += ${yi} * ${yi};
         |  ${i}++;
         |}
         |double ${denom} = java.lang.Math.sqrt(${nx}) * java.lang.Math.sqrt(${ny});
         |if (${denom} == 0.0) { ${ev.isNull} = true; } else { ${ev.value} = ${dot} / ${denom}; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native Euclidean (L2) distance over two `array<float>` columns — the
  * metric sibling of [[FloatVecCosine]]: one fused primitive loop, double
  * accumulation in index order, whole-stage codegen via doGenCode.
  * Null inputs → null; mismatched lengths → error at eval. */
case class FloatVecL2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_l2 expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    require(y.numElements() == n,
      s"FloatVecL2: dimension mismatch ${n} vs ${y.numElements()}")
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(math.sqrt(acc))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int ${i} = 0;
         |double ${acc} = 0.0;
         |int ${n} = $a.numElements();
         |if ($b.numElements() != ${n}) {
         |  throw new IllegalArgumentException("FloatVecL2: dimension mismatch");
         |}
         |while (${i} < ${n}) {
         |  double ${d} = (double) $a.getFloat(${i}) - (double) $b.getFloat(${i});
         |  ${acc} += ${d} * ${d};
         |  ${i}++;
         |}
         |${ev.value} = java.lang.Math.sqrt(${acc});
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column API: native cosine over float vectors. */
  def vec_cosine(a: Column, b: Column): Column =
    ColumnBridge.column(
      FloatVecCosine(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column API: native L2 distance over float vectors. */
  def vec_l2(a: Column, b: Column): Column =
    ColumnBridge.column(
      FloatVecL2(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
