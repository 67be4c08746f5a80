package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.arrays.{ArrayGeometry, ChunkedArray}

/** Equivalence gate for the native stencil kernel
  * (StencilExpressions.StencilConvolve): the compiled per-chunk
  * convolution must match the Catalyst per-cell case-chain fold it
  * replaced BIT-FOR-BIT — same per-axis region resolution, same
  * absent-neighbor zero, same left-associative row-major kernel fold —
  * across random geometries (ranks 1-3), random non-power-of-two
  * kernels (so products actually round) and both boundary modes. Null
  * payload cells must poison exactly the cells that read them. Same
  * gate pattern as ChunkFoldSpec. */
class StencilKernelSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private def cartesian(dims: Seq[Int]): Seq[Seq[Int]] =
    dims.foldLeft(Seq(Seq.empty[Int]))((acc, n) =>
      acc.flatMap(p => (0 until n).map(p :+ _)))

  private def chunkedRandom(rnd: scala.util.Random, rank: Int,
      withNulls: Boolean): ChunkedArray = {
    val cpd = Seq.fill(rank)(1 + rnd.nextInt(3))
    // chunk shape must exceed the kernel reach (1) per axis
    val cs = Seq.fill(rank)(2 + rnd.nextInt(3))
    val rows = cartesian(cpd).map { pos =>
      val data: Seq[java.lang.Double] = Seq.fill(cs.product)(
        if (withNulls && rnd.nextInt(20) == 0) null
        else java.lang.Double.valueOf(rnd.nextGaussian() * 100))
      (0L, pos, data)
    }
    ChunkedArray(rows.toDF("timestep", "pos", "data"), ArrayGeometry(cpd, cs))
  }

  private def rowsOf(a: ChunkedArray): Map[Seq[Long], Option[Double]] =
    a.rowsNd.collect().map { r =>
      val n = r.length
      ((1 until n - 1).map(r.getLong): Seq[Long]) ->
        (if (r.isNullAt(n - 1)) None else Some(r.getDouble(n - 1)))
    }.toMap

  test("native StencilConvolve == Catalyst case-chain fold, bit-for-bit") {
    val rnd = new scala.util.Random(90217L)
    for (caseNo <- 0 until 10) {
      val rank = 1 + rnd.nextInt(3)
      val arr = chunkedRandom(rnd, rank, withNulls = caseNo % 3 == 0)
      val kshape = Seq.fill(rank)(3)
      // random full-precision weights: products genuinely round, so any
      // association/ordering drift between the paths becomes a bit diff
      val kernel = Seq.fill(kshape.product)(rnd.nextGaussian())
      val boundary = if (caseNo % 2 == 0) "zero" else "reflect"
      val tag = s"case $caseNo rank=$rank boundary=$boundary"
      val nat = rowsOf(arr.stencilNd(kernel, kshape, boundary))
      val cat = rowsOf(arr.catalystStencilNd(kernel, kshape, boundary))
      assertBitIdentical(nat, cat, tag)
    }
  }

  private def assertBitIdentical(nat: Map[Seq[Long], Option[Double]],
      cat: Map[Seq[Long], Option[Double]], tag: String): Unit = {
    assert(nat.keySet == cat.keySet, tag)
    for ((k, cv) <- cat) {
      val nv = nat(k)
      assert((nv, cv) match {
        case (None, None) => true
        case (Some(x), Some(y)) =>
          java.lang.Double.doubleToRawLongBits(x) ==
            java.lang.Double.doubleToRawLongBits(y)
        case _ => false
      }, s"$tag at $k: native=$nv catalyst=$cv")
    }
  }

  test("stencilAxis routed through StencilConvolve == interpreted axis fold") {
    val rnd = new scala.util.Random(41927L)
    for (caseNo <- 0 until 8) {
      val rank = 1 + rnd.nextInt(3)
      val arr = chunkedRandom(rnd, rank, withNulls = caseNo % 3 == 0)
      val axis = rnd.nextInt(rank)
      // random full-precision weights so products genuinely round
      val weights = Seq.fill(3)(rnd.nextGaussian())
      val boundary = if (caseNo % 2 == 0) "zero" else "reflect"
      val tag = s"case $caseNo rank=$rank axis=$axis boundary=$boundary"
      val nat = rowsOf(arr.stencilAxis(axis, weights, boundary))
      val cat = rowsOf(arr.catalystStencilAxis(axis, weights, boundary))
      assertBitIdentical(nat, cat, tag)
    }
  }

  test("native StencilLaplacianKernel == interpreted Laplacian fold") {
    val rnd = new scala.util.Random(77113L)
    for (caseNo <- 0 until 8) {
      val rank = 1 + rnd.nextInt(3)
      val arr = chunkedRandom(rnd, rank, withNulls = caseNo % 3 == 0)
      val tag = s"case $caseNo rank=$rank"
      val nat = rowsOf(arr.stencilLaplacian())
      val cat = rowsOf(arr.catalystStencilLaplacian())
      assertBitIdentical(nat, cat, tag)
    }
  }
}
