package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: 64-bit SimHash of an `array<bigint>` of
  * feature hashes (bit j of the result = majority vote of bit j across the
  * inputs).
  *
  * The builtin-HOF formulation (`aggregate` + `zip_with` + `transform`)
  * allocates two 64-element boxed arrays per input element and runs the
  * lambdas interpreted — it dominated the sf0.1 benchmark. This expression
  * is one tight counting loop inside codegen: O(64·n) primitive ops, zero
  * allocation beyond one int[64] per row.
  *
  * Null elements are skipped and do not vote: a null is not a feature, and
  * reading its slot gives 0 under `eval` but whatever the column buffer
  * holds under codegen over a columnar scan.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"simhash64 expects array<bigint>, got $t")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var voters = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1
          j += 1
        }
        voters += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (2 * counts(j) > voters) out |= (1L << j)
      j += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val counts = ctx.freshName("counts")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      val voters = ctx.freshName("voters")
      s"""
         |int $n = $a.numElements();
         |int[] $counts = new int[64];
         |int $voters = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) continue;
         |  long $h = $a.getLong($i);
         |  for (int $j = 0; $j < 64; $j++) {
         |    if ((($h >>> $j) & 1L) == 1L) $counts[$j]++;
         |  }
         |  $voters++;
         |}
         |long $out = 0L;
         |for (int $j = 0; $j < 64; $j++) {
         |  if (2 * $counts[$j] > $voters) $out |= (1L << $j);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}
