package graft.ml

import dev.ludovic.netlib.blas.BLAS
import dev.ludovic.netlib.lapack.LAPACK

/** The small dense algebra the antidote step and ALS fold-in need, over
  * column-major `Array[Double]` matrices. It calls the netlib routines
  * Breeze 2.1's `DenseMatrix` `\` and `*` call, with the same arguments,
  * so results are bit-identical, without Breeze's first-use class
  * initialization (~1.7 s on the driver). Inputs are never modified. */
object LinAlg {

  /** x with A x = b for a square k×k A (LAPACK dgesv, LU with partial
    * pivoting). Throws on a singular A, naming dgesv's `info` code. */
  def solve(a: Array[Double], b: Array[Double]): Array[Double] = {
    val k = b.length
    require(a.length == k * k, s"solve: ${a.length} cells for a $k×$k matrix")
    val lu = a.clone()
    val x = b.clone()
    val info = new org.netlib.util.intW(0)
    LAPACK.getInstance().dgesv(k, 1, lu, 0, k, new Array[Int](k), 0, x, 0,
      k, info)
    if (info.`val` > 0)
      throw new ArithmeticException(
        s"dgesv: singular matrix (info = ${info.`val`})")
    if (info.`val` < 0)
      throw new IllegalArgumentException(
        s"dgesv: illegal argument (info = ${info.`val`})")
    x
  }

  /** A x for a `rows`×(x.length) A (BLAS dgemv). */
  def mulVec(a: Array[Double], rows: Int, x: Array[Double]): Array[Double] = {
    require(a.length == rows * x.length,
      s"mulVec: ${a.length} cells for a $rows×${x.length} matrix")
    val y = new Array[Double](rows)
    BLAS.getInstance().dgemv("N", rows, x.length, 1.0, a, 0, rows, x, 0, 1,
      0.0, y, 0, 1)
    y
  }
}
