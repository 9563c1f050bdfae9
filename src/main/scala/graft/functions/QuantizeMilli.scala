package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expression: the house embedding quantizer
  * `transform(v, x => round(cast(x as double) * 1000).cast("long"))`
  * as one codegen'd primitive loop.
  *
  * Why (r15 verdict #5, the CountInSet lesson generalized): the lambda
  * form is a higher-order function — no doGenCode — so EVERY projection
  * that quantizes an embedding falls out of whole-stage codegen onto the
  * interpreted per-row path. The r16 lambda audit (graft.tools.
  * LambdaAudit) showed this one seam (Similarity.quantizedOf) was the
  * RAW-ROW emission behind the ss01/ss02/ss13/ss16/ss19/dd16/c13 family.
  *
  * Value-identical to the composed form by construction: each element is
  * `(long) BigDecimal.valueOf(x * 1000d).setScale(0, HALF_UP)
  * .doubleValue()` — the EXACT arithmetic Spark's `Round` performs on a
  * DOUBLE input (RoundBase codegen), followed by the double→long cast
  * (exact: the rounded value is integral). Null array → null; null
  * elements stay null (transform maps them through round's null
  * propagation). Accepts array<float> and array<double>.
  */
case class QuantizeMilli(child: Expression) extends UnaryExpression {

  private def elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _ => DoubleType
  }

  override def dataType: DataType = child.dataType match {
    case ArrayType(_, containsNull) => ArrayType(LongType, containsNull)
    case _ => ArrayType(LongType, containsNull = true)
  }
  override def prettyName: String = "quantize_milli"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quantize_milli needs array<float|double>, got ${other.sql}")
  }

  override protected def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val isFloat = elemType == FloatType
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i))
        out(i) = QuantizeMilli.milli(
          if (isFloat) xs.getFloat(i).toDouble else xs.getDouble(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (elemType == FloatType) "(double) %s.getFloat(%s)"
              else "%s.getDouble(%s)"
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val vals = ctx.freshName("vals")
      val x = ctx.freshName("x")
      val elem = get.format(a, i)
      s"""
         |int $n = $a.numElements();
         |Object[] $vals = new Object[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    double $x = $elem * 1000d;
         |    $vals[$i] = (long) java.math.BigDecimal.valueOf($x)
         |      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue();
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($vals);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): QuantizeMilli =
    copy(child = newChild)
}

object QuantizeMilli {
  /** The scalar rule every element goes through, for driver-side callers
    * that must quantize exactly as the expression does (a probe vector). */
  def milli(x: Double): Long =
    java.math.BigDecimal.valueOf(x * 1000d)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong

  /** Column surface: round(x*1000) per element, as array<long>. */
  def quantize(v: Column): Column =
    Bridge.column(QuantizeMilli(Bridge.expression(v)))
}
