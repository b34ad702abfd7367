package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The native merge-walk intersection count: equality with the builtin
  * `size(array_intersect(...))` on sorted distinct arrays, across random
  * draws, the interpreted (non-codegen) path, and degenerate shapes. */
class SortedIntersectCountSpec extends SparkSpec {

  test("sorted_intersect_count == size(array_intersect) on sorted distinct arrays") {
    graft.GraftSession.registerFunctions(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { _ =>
      val a = Seq.fill(rnd.nextInt(60))(rnd.nextInt(80).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(60))(rnd.nextInt(80).toLong).distinct.sorted
      (a, b)
    } :+ ((Seq.empty[Long], Seq(1L, 2L))) :+ ((Seq(5L), Seq(5L)))
    val df = rows.toDF("a", "b")
      .select(expr("sorted_intersect_count(a, b)").as("got"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("want"))
    assert(df.filter(col("got") =!= col("want")).count() == 0)
    // null ELEMENTS are skipped, never read as 0 (the ArrayData.getLong
    // trap): [null, 1] ∩ [0, 1] = {1}, not {0, 1}
    val withNulls = spark.sql(
      "SELECT sorted_intersect_count(array(CAST(NULL AS BIGINT), 1L), array(0L, 1L)) AS c")
    assert(withNulls.collect().head.getLong(0) == 1L)
    // the interpreted path (eval without codegen) agrees too
    rows.take(20).foreach { case (a, b) =>
      val e = SortedIntersectCount(
        org.apache.spark.sql.catalyst.expressions.Literal.create(a,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(b,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)))
      assert(e.eval(null) == a.toSet.intersect(b.toSet).size.toLong)
    }
  }

  test("off its precondition the walk counts the equal pairs it meets") {
    graft.GraftSession.registerFunctions(spark)
    def count(a: String, b: String): Long =
      spark.sql(s"SELECT sorted_intersect_count(array($a), array($b))").collect().head.getLong(0)
    // sorted with duplicates: the multiset intersection, not the set's 2
    assert(count("1L, 1L, 2L", "1L, 1L, 1L, 2L") == 3L)
    // unsorted: 3 passes 1 and 2 on the right before it matches, so the
    // common 1 and 2 are never compared — 1, not the set's 3
    assert(count("3L, 1L, 2L", "1L, 2L, 3L") == 1L)
  }
}
