package graft

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.ml.LinAlg
import org.scalatest.funsuite.AnyFunSuite

/** ml.LinAlg replaces Breeze on the antidote and fold-in paths; results
  * must stay bit-identical to Breeze's `\` and `*`, which call the same
  * netlib routines. */
class LinAlgSpec extends AnyFunSuite {

  private def bits(v: Array[Double]): Seq[Long] =
    v.toSeq.map(java.lang.Double.doubleToRawLongBits)

  /** A seeded k×k system shaped like the ridge solves: a Gram matrix
    * plus λ on the diagonal, and a right-hand side of mixed sign. */
  private def system(k: Int, seed: Long): (Array[Double], Array[Double]) = {
    val rnd = new scala.util.Random(seed)
    val v = Array.fill(3 * k * k)(rnd.nextGaussian())
    val a = Array.tabulate(k * k) { p =>
      val (i, j) = (p % k, p / k)
      (0 until 3 * k).map(r => v(r * k + i) * v(r * k + j)).sum +
        (if (i == j) 0.1 * rnd.nextInt(50) else 0.0)
    }
    (a, Array.fill(k)(rnd.nextGaussian() * 10))
  }

  for (k <- Seq(1, 2, 8, 16)) {
    test(s"solve and mulVec are bit-identical to Breeze (k=$k)") {
      for (seed <- 1L to 20L) {
        val (a, b) = system(k, seed * 31 + k)
        val (a0, b0) = (a.clone(), b.clone())
        val want = new DenseMatrix(k, k, a.clone()) \ DenseVector(b.clone())
        assert(bits(LinAlg.solve(a, b)) == bits(want.toArray), s"seed $seed")
        val wantMv = new DenseMatrix(k, k, a.clone()) * DenseVector(b.clone())
        assert(bits(LinAlg.mulVec(a, k, b)) == bits(wantMv.toArray),
          s"seed $seed")
        // inputs are left as they were
        assert(bits(a) == bits(a0) && bits(b) == bits(b0), s"seed $seed")
      }
    }
  }

  test("mulVec on a non-square matrix matches Breeze") {
    val rnd = new scala.util.Random(7)
    val a = Array.fill(5 * 3)(rnd.nextGaussian())
    val x = Array.fill(3)(rnd.nextGaussian())
    val want = new DenseMatrix(5, 3, a.clone()) * DenseVector(x.clone())
    assert(bits(LinAlg.mulVec(a, 5, x)) == bits(want.toArray))
  }

  test("a singular system fails naming dgesv's info code") {
    val zero = intercept[ArithmeticException] {
      LinAlg.solve(new Array[Double](4), Array(1.0, 2.0))
    }
    assert(zero.getMessage.contains("info = 1"), zero.getMessage)
    // second column zero: the LU factor's U(2,2) is exactly zero
    val col2 = intercept[ArithmeticException] {
      LinAlg.solve(Array(1.0, 2.0, 0.0, 0.0), Array(1.0, 2.0))
    }
    assert(col2.getMessage.contains("info = 2"), col2.getMessage)
  }
}
