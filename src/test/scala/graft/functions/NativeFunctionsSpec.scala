package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.BindReferences
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types._
import graft.{GraftSession, SparkSpec}

/** Every function of [[GraftSession.nativeFunctions]] gives the same
  * answer from its generated code as from its interpreted `eval`, on fixed
  * inputs that include nulls, empty arrays and empty strings.
  *
  * The inputs sit in a parquet file: over a local relation the optimizer
  * would fold the call itself (ConvertToLocalRelation, ConstantFolding)
  * and both sides would run `eval`. */
class NativeFunctionsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** One call per native function over the input table's columns. */
  private val calls: Map[String, String] = Map(
    "hamming64" -> "hamming64(l1, l2)",
    "dot_product" -> "dot_product(d1, d2)",
    "simhash64" -> "simhash64(a1)",
    "minhash32" -> "minhash32(a1)",
    "cdc_chunks" -> "cdc_chunks(b)",
    "gram_stats" -> "gram_stats(t, 2)",
    "char_stats" -> "char_stats(s)",
    "sorted_intersect_count" -> "sorted_intersect_count(a1, a2)")

  private val schema = StructType(Seq(
    StructField("l1", LongType), StructField("l2", LongType),
    StructField("d1", ArrayType(DoubleType)), StructField("d2", ArrayType(DoubleType)),
    StructField("a1", ArrayType(LongType)), StructField("a2", ArrayType(LongType)),
    StructField("b", BinaryType), StructField("t", ArrayType(StringType)),
    StructField("s", StringType)))

  private val rows: Seq[Row] = {
    val rnd = new scala.util.Random(11)
    val bytes = Array.fill(700)(rnd.nextInt(256).toByte)
    val text = "The quick brown fox — jumps over 13 lazy dogs; ÿ ü 汉字 \t end."
    Seq(
      Row(null, null, null, null, null, null, null, null, null),
      Row(0L, 0L, Seq.empty[Double], Seq.empty[Double], Seq.empty[Long], Seq.empty[Long],
        Array.emptyByteArray, Seq.empty[String], ""),
      Row(-1L, 0L, Seq(1.5, -2.25, 1e-300), Seq(3.0, 4.0, 1e300),
        Seq(1L, 5L, 9L, 42L), Seq(5L, 42L, 77L), bytes, Seq("a", "b", "a", "b", "c"), text),
      // a null element beside one all-ones value: any garbage read from
      // the null slot changes simhash64's majority vote and minhash32's min
      Row(Long.MinValue, Long.MaxValue, Seq(0.1, 0.2), Seq(0.3),
        Seq(null, -1L), Seq(3L, null, 7L), bytes.take(31),
        Seq("x", null, "y", "x"), " "),
      // off sorted_intersect_count's precondition: unsorted, duplicated
      Row(12345L, null, Seq(-0.0), Seq(0.0), Seq(9L, 1L, 5L, 5L), Seq(1L, 5L, 5L, 9L),
        bytes.reverse, Seq("only"), "aaaa"))
  }

  test("each native function gives the same result in codegen as in interpreted eval") {
    assert(calls.keySet == GraftSession.nativeFunctions.map(_._1).toSet,
      "every native function needs a call here")
    val session = spark.newSession()
    GraftSession.registerFunctions(session)
    val dir = GraftSession.scratchDir("graft-native-fns").resolve("in")
    session.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.parquet(dir.toString)
    val input = session.read.parquet(dir.toString)
    val inputRows = input.queryExecution.toRdd.map(_.copy()).collect()
    // generated code only: a compile failure fails the spec instead of
    // silently falling back to eval
    session.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    session.conf.set("spark.sql.codegen.fallback", "false")
    calls.toSeq.sorted.foreach { case (name, call) =>
      val df = input.selectExpr(call)
      val generated = df.collect().map(_.get(0)).toSeq
      assert(find(df.queryExecution.executedPlan)(_.isInstanceOf[WholeStageCodegenExec]).isDefined,
        s"$name did not run in whole-stage codegen")
      val e = df.queryExecution.analyzed.expressions.head
      val bound = BindReferences.bindReference(e, input.queryExecution.analyzed.output)
      val toScala = CatalystTypeConverters.createToScalaConverter(e.dataType)
      val interpreted = inputRows.map(r => toScala(bound.eval(r))).toSeq
      val diff = generated.indices.filter(i => generated(i) != interpreted(i))
      assert(generated.size == interpreted.size && diff.isEmpty,
        diff.map(i => s"$name row $i: codegen ${generated(i)} != eval ${interpreted(i)}").mkString("; "))
    }
  }
}
