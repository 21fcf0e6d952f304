package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: all character n-grams of a string as an
  * array — the shingling kernel under the dedup/fingerprint operators
  * (SURVEY.md §7.3 policy: custom `Expression` before any UDF).
  *
  * Equivalent declarative form is
  * `transform(sequence(1, length(s)-n+1), i -> substring(s, i, n))`,
  * which allocates the index array and evaluates a lambda per element;
  * this version emits one fused loop via `doGenCode` (interpreted
  * `nullSafeEval` kept for the non-codegen paths).
  */
case class CharNGrams(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, s"n-gram size must be positive, got $n")

  // ExpectsInputTypes is unusable outside org.apache.spark.sql
  // (AbstractDataType is private[sql]); validate explicitly instead.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"char_ngrams requires STRING input, got ${child.dataType.catalogString}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_ngrams"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val cnt = math.max(s.numChars() - n + 1, 0)
    val out = new Array[Any](cnt)
    var i = 0
    while (i < cnt) {
      out(i) = s.substringSQL(i + 1, n)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val arrCls = classOf[GenericArrayData].getName
      val items = ctx.freshName("items")
      val i = ctx.freshName("i")
      val cnt = ctx.freshName("cnt")
      s"""
         |final int $cnt = Math.max($c.numChars() - $n + 1, 0);
         |final Object[] $items = new Object[$cnt];
         |for (int $i = 0; $i < $cnt; $i++) {
         |  $items[$i] = $c.substringSQL($i + 1, $n);
         |}
         |${ev.value} = new $arrCls($items);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): CharNGrams =
    copy(child = newChild)
}
