package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Custom Catalyst expressions for the vector-similarity hot path.
  *
  * The composable form (`aggregate(zip_with(a,b,*))` three times for
  * dot/|a|²/|b|²) materializes three intermediate arrays per row pair and
  * walks the vectors four times. This expression is the (b)-tier custom
  * operator of the preference order (SURVEY §2 intro): one fused,
  * whole-stage-codegen'd loop, no intermediate allocation — the kernel a
  * 100 TB ANN sweep spends its time in.
  *
  * Arithmetic contract: accumulates dot, |a|², |b|² in float64 in array
  * order and finishes with `dot / sqrt(na*nb)` — bit-identical to the
  * sequential-fold form (and to the DuckDB oracle built on
  * `list_dot_product` over DOUBLE[]).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType == ArrayType(FloatType)) ||
      Seq(left, right).forall(_.dataType == ArrayType(FloatType, false)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<FLOAT> args, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // length mismatch = corrupt data: surface it as NULL (like the
    // zip_with fold form does) instead of a truncated plausible number
    if (x.numElements() != y.numElements()) null
    else {
      val n = x.numElements()
      var dot = 0.0
      var na = 0.0
      var nb = 0.0
      var i = 0
      while (i < n) {
        val xi = x.getFloat(i).toDouble
        val yi = y.getFloat(i).toDouble
        dot += xi * yi
        na += xi * xi
        nb += yi * yi
        i += 1
      }
      java.lang.Double.valueOf(dot / math.sqrt(na * nb))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = (double) $a.getFloat($i);
         |    double $yi = (double) $b.getFloat($i);
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  ${ev.value} = $dot / java.lang.Math.sqrt($na * $nb);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused float64 dot product over two float arrays (same contract). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType == ArrayType(FloatType)) ||
      Seq(left, right).forall(_.dataType == ArrayType(FloatType, false)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<FLOAT> args, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else {
      val n = x.numElements()
      var dot = 0.0
      var i = 0
      while (i < n) {
        dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
      java.lang.Double.valueOf(dot)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val i = ctx.freshName("i")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
