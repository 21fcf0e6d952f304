package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: `dot_product(a, b)` over two numeric
  * arrays, as `double`.
  *
  * Reference capability: embedding similarity search (builder-prompt M6;
  * the reference has no vector ops — this is the engine's scale-path
  * kernel for cosine top-k / ANN / near-dup over `embeddings`).
  *
  * Why a native expression: the declarative twin
  * `aggregate(zip_with(a, b, (p, q) -> p * q), 0D, (acc, v) -> acc + v)`
  * allocates a zipped intermediate array and evaluates two lambda frames
  * per element outside whole-stage codegen; inside a pairing join it runs
  * once per CANDIDATE PAIR, so at 100 TB the lambda overhead is the
  * workload. This kernel is one fused multiply-add loop with no
  * allocation, and it reads `array<float>` directly (float->double is
  * exact), so callers skip the `transform(v, x -> CAST(x AS double))`
  * projection — halving the vector bytes that cross the shuffle.
  *
  * Semantics match the declarative twin exactly: the sum accumulates
  * left-to-right (same order as the `aggregate` fold and DuckDB's
  * `list_dot_product`, so values agree to the last ulp); a null array,
  * a null element, or mismatched lengths yield NULL (zip_with pads the
  * shorter side with null, and `acc + null` is null).
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  private def okElem(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  // ExpectsInputTypes is unusable outside org.apache.spark.sql
  // (AbstractDataType is private[sql]); validate explicitly instead.
  override def checkInputDataTypes(): TypeCheckResult =
    if (okElem(left.dataType) && okElem(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "dot_product requires two ARRAY<FLOAT>/ARRAY<DOUBLE> inputs, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_product"

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val xf = elemIsFloat(left)
    val yf = elemIsFloat(right)
    var sum = 0d
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      sum += xv * yv
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      def get(v: String, isFloat: Boolean) =
        if (isFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $sum = 0d;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $sum += ${get(a, elemIsFloat(left))} * ${get(b, elemIsFloat(right))};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $sum;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}
