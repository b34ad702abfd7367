package graft.operators

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** [[Similarity.lloyd]], the one Lloyd trainer behind [[Similarity.kmeans]]
  * and the PQ codebooks, against a naive functional reference. Both must
  * agree bit for bit: the recall specs pin Lloyd only through answers on
  * one fixture. */
class LloydSpec extends AnyFunSuite {

  /** Lloyd as written in the textbook: init from the first k points; each
    * pass assigns every point to the first index holding the smallest
    * |c|^2 - 2<v,c>, and moves each non-empty cell to the mean of its
    * points, summed in sample order. An empty cell keeps its centroid. */
  private def reference(sample: Vector[Vector[Double]], k: Int,
      iters: Int): Vector[Vector[Double]] = {
    def dot(a: Vector[Double], b: Vector[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def nearest(cs: Vector[Vector[Double]], v: Vector[Double]): Int = {
      val ds = cs.map(c => dot(c, c) - 2.0 * dot(v, c))
      ds.indexOf(ds.reduce((a, b) => math.min(a, b)))
    }
    (1 to iters).foldLeft(sample.take(k)) { (cs, _) =>
      val cell = sample.map(nearest(cs, _))
      cs.indices.toVector.map { ci =>
        val members = sample.zip(cell).collect { case (v, c) if c == ci => v }
        if (members.isEmpty) cs(ci)
        else members.reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
          .map(_ / members.length)
      }
    }
  }

  private def bits(cs: Iterable[Iterable[Double]]): Seq[Seq[Long]] =
    cs.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq

  private def check(sample: Seq[Seq[Double]], k: Int, iters: Int): Unit = {
    val got = Similarity.lloyd(sample.map(_.toArray).toArray, k, iters)
    val want = reference(sample.map(_.toVector).toVector, k, iters)
    assert(bits(got.map(_.toSeq)) === bits(want),
      s"k=$k iters=$iters sample=$sample\n got ${got.map(_.toSeq).toSeq}\nwant $want")
  }

  /** Small samples on a coarse grid, so ties, duplicate points and cells
    * that empty are common; k ranges past the sample size. */
  private val cases: Gen[(Seq[Seq[Double]], Int, Int)] = for {
    dim <- Gen.choose(1, 4)
    n <- Gen.choose(0, 24)
    coord = Gen.frequency(4 -> Gen.choose(-2, 2).map(_.toDouble),
      1 -> Gen.choose(-1000, 1000).map(_ / 7.0))
    sample <- Gen.listOfN(n, Gen.listOfN(dim, coord))
    k <- Gen.choose(1, 12)
    iters <- Gen.choose(0, 4)
  } yield (sample, k, iters)

  test("lloyd equals the naive reference bit for bit on random small samples") {
    val params = Gen.Parameters.default
    (0 until 300).foreach { i =>
      val (sample, k, iters) = cases.pureApply(params, org.scalacheck.rng.Seed(i.toLong))
      check(sample, k, iters)
    }
  }

  test("lloyd: k above the sample size keeps one centroid per point") {
    val sample = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(3.0, 3.0))
    check(sample, k = 5, iters = 3)
    assert(Similarity.lloyd(sample.map(_.toArray).toArray, 5, 3).length == 3)
  }

  test("lloyd: a tie keeps the smaller id, and the cell it empties keeps its centroid") {
    // the first two points are equal, so centroids 0 and 1 start equal:
    // every point ties between them and goes to 0, and cell 1 keeps (2, 2)
    val sample = Seq(Seq(2.0, 2.0), Seq(2.0, 2.0), Seq(4.0, 0.0))
    check(sample, k = 2, iters = 1)
    check(sample, k = 2, iters = 2)
    val got = Similarity.lloyd(sample.map(_.toArray).toArray, 2, 1).map(_.toSeq).toSeq
    assert(got === Seq(Seq(8.0 / 3, 4.0 / 3), Seq(2.0, 2.0)))
  }
}
