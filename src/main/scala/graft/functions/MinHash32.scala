package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: 32 MinHash signature values from an
  * `array<bigint>` of feature hashes.
  *
  * Permutation i applies a SplitMix64-style avalanche to `h ^ seed(i)` and
  * takes the minimum across the features — the classic "one strong base
  * hash + cheap derived permutations" MinHash construction. Replaces the
  * `transform(sequence(0,31), s -> array_min(transform(hs, ...)))` HOF
  * chain (32 interpreted passes, each allocating a boxed array per row)
  * with one codegen'd 32xN primitive loop.
  *
  * The signature values are internal to candidate generation (pairs are
  * exact-verified afterwards), so the mixing function does not need to
  * match any other engine.
  *
  * Null elements are skipped: a null is not a feature, and reading its
  * slot gives 0 under `eval` but whatever the column buffer holds under
  * codegen over a columnar scan.
  */
case class MinHash32(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"minhash32 expects array<bigint>, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash32"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sig = Array.fill(32)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var p = 0
        while (p < 32) {
          var z = h ^ (-7046029254386353131L * (p + 1))
          z = (z ^ (z >>> 30)) * -4658895280553007687L
          z = (z ^ (z >>> 27)) * -7723592293110705685L
          z = z ^ (z >>> 31)
          if (z < sig(p)) sig(p) = z
          p += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val h = ctx.freshName("h")
      val z = ctx.freshName("z")
      s"""
         |int $n = $a.numElements();
         |long[] $sig = new long[32];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) continue;
         |  long $h = $a.getLong($i);
         |  for (int $p = 0; $p < 32; $p++) {
         |    long $z = $h ^ (-7046029254386353131L * ($p + 1));
         |    $z = ($z ^ ($z >>> 30)) * -4658895280553007687L;
         |    $z = ($z ^ ($z >>> 27)) * -7723592293110705685L;
         |    $z = $z ^ ($z >>> 31);
         |    if ($z < $sig[$p]) $sig[$p] = $z;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHash32 =
    copy(child = newChild)
}
