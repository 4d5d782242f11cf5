package graft.plans

import graft.functions.Codec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared decode kernel: hex string → leading SCALE-compact value as a
  * Double, null on malformed/empty input (the storage-trace value
  * semantics, ref substrateetl.js:6699-6754 — both compact branches).
  * Lives outside the expression so interpreted eval, codegen, and the
  * legacy UDF path all run the SAME bytes. */
object CompactDecodeHelper extends Serializable {
  def decode(s: UTF8String): java.lang.Double = {
    try {
      if (s == null) null
      else {
        val str = s.toString
        if (str.isEmpty) null
        else {
          val (v, _) = Codec.compactDecode(Codec.hexToBytes(str))
          java.lang.Double.valueOf(v.toDouble)
        }
      }
    } catch { case _: Exception => null }
  }
}

/** Native Catalyst expression for the storage-trace compact decode —
  * replaces the Scala UDF in [[graft.decode.TraceDecode.decodeTraces]]'
  * hot path. A UDF forces a codegen BARRIER (the projection falls out
  * of WholeStageCodegen and pays per-row catalyst↔scala conversion);
  * this expression participates in whole-stage codegen like any
  * built-in, so a 100 TB trace scan keeps one fused pipeline from
  * parquet reader through prefix join to decoded value. */
case class CompactDecode(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.sql}")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "compact_decode"
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    CompactDecodeHelper.decode(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val helper = ctx.addReferenceObj("compactDecodeHelper",
      CompactDecodeHelper, CompactDecodeHelper.getClass.getName)
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |java.lang.Double $r = $helper.decode($c);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object CodecExpressions {
  /** Install the engine's functions, `compact_decode` among them. */
  def register(spark: SparkSession): Unit = graft.functions.Udfs.register(spark)
}
