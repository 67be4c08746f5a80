// Lives under org.apache.spark.sql for the private[sql] Expression <->
// Column bridge, like VectorExpressions (same extension-library technique).
package org.apache.spark.sql.graftexpr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

import graft.arrays.Halo

/** Native kernel for the full-hypercube stencil fold
  * ([[graft.arrays.ChunkedArray.stencilNd]]'s output projection).
  *
  * The Catalyst spelling resolves, PER CELL, every kernel tap through a
  * sign-pruned region case chain inside a `transform` lambda — a
  * HigherOrderFunction, so the whole (1+2k)^N-branch expression tree is
  * interpreted once per cell per tap. Correct, but the rank-3 3×3×3
  * face spent ~9.5 s at sf0.1 on what is microseconds of arithmetic
  * (VERDICT r13 profiling). This expression runs the identical
  * resolution in ONE compiled JVM call per chunk, over the message map
  * [[graft.arrays.Halo]] assembles (its message kinds and strip layout
  * are defined there, once, for every halo op):
  *
  *   - per-axis region resolution replays the Catalyst `resolve` logic
  *     literally (interior / neighbor-chunk strip / global boundary,
  *     zero or reflect),
  *   - an absent neighbor message OR a null strip element reads as 0.0
  *     (both sit under the same `coalesce` in the Catalyst spelling),
  *     an absent core as a zero chunk,
  *   - a NULL CORE element poisons exactly the output cells that read
  *     it (w·null + ... = null; core reads have no coalesce),
  *   - the kernel fold is the same left-associative row-major
  *     `w0·v0 + w1·v1 + ...` chain, so doubles replay bit-for-bit.
  *
  * Equivalence to the Catalyst path is spec-gated on random geometries
  * and both boundary modes (StencilKernelSpec), the same gate pattern
  * as the WordNgrams/ChunkSumDec native rewrites. Double payloads only
  * — the Catalyst path remains for other dtypes (dtype preservation).
  */
case class StencilConvolve(
    msgs: Expression, tpos: Expression,
    shape: Seq[Int], chunksPerDim: Seq[Int], kshape: Seq[Int],
    kernel: Seq[Double], reflect: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def left: Expression = msgs
  override def right: Expression = tpos
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "graft_stencil_convolve"

  private val n = shape.length
  private val r: Array[Int] = kshape.map(_ / 2).toArray
  private val strides: Array[Int] = shape.scanRight(1)(_ * _).tail.toArray
  private val lastPos: Array[Int] = chunksPerDim.map(_ - 1).toArray
  private val elems: Int = shape.product
  private val shapeA: Array[Int] = shape.toArray
  private val kernelA: Array[Double] = kernel.toArray
  // kernel taps as offset vectors, row-major — the fold order
  private val taps: Array[Array[Int]] = {
    def cart(dims: Seq[Int]): Seq[Seq[Int]] =
      dims.foldLeft(Seq(Seq.empty[Int]))((acc, m) =>
        acc.flatMap(p => (0 until m).map(p :+ _)))
    cart(kshape).map(_.zipWithIndex.map { case (i, d) => i - r(d) }.toArray).toArray
  }
  // per-direction strip extents: graft.arrays.Halo.stripExtents
  private def extsOf(src: Array[Int]): Array[Int] =
    Array.tabulate(n)(d => if (src(d) == 0) shapeA(d) else r(d))

  def compute(mAny: Any, tposAny: Any): ArrayData = {
    val m = mAny.asInstanceOf[MapData]
    val tp = tposAny.asInstanceOf[ArrayData]
    val tpos = Array.tabulate(n)(tp.getInt)
    var core: ArrayData = null
    val dirs = new java.util.HashMap[String, ArrayData]()
    val keys = m.keyArray(); val vals = m.valueArray()
    var i = 0
    while (i < m.numElements()) {
      val k = keys.getUTF8String(i).toString
      if (k == Halo.Core) core = vals.getArray(i) else dirs.put(k, vals.getArray(i))
      i += 1
    }
    val out = new Array[Any](elems)
    val coords = new Array[Int](n)
    val src = new Array[Int](n)
    val eff = new Array[Int](n)
    var idx = 0
    while (idx < elems) {
      var d = 0
      while (d < n) { coords(d) = (idx / strides(d)) % shapeA(d); d += 1 }
      var acc = 0.0
      var poisoned = false
      var started = false
      var ki = 0
      while (ki < taps.length && !poisoned) {
        val ko = taps(ki)
        // per-axis resolution: source region -1/0/+1 per axis, or a
        // zero-pad tap (global boundary under 'zero')
        var zeroTap = false
        d = 0
        while (d < n && !zeroTap) {
          val t = coords(d) + ko(d)
          if (ko(d) == 0) { src(d) = 0; eff(d) = t }
          else if (ko(d) > 0) {
            if (t < shapeA(d)) { src(d) = 0; eff(d) = t }
            else if (tpos(d) != lastPos(d)) { src(d) = 1; eff(d) = t }
            else if (reflect) { src(d) = 0; eff(d) = 2 * (shapeA(d) - 1) - t }
            else zeroTap = true
          } else {
            if (t >= 0) { src(d) = 0; eff(d) = t }
            else if (tpos(d) != 0) { src(d) = -1; eff(d) = t }
            else if (reflect) { src(d) = 0; eff(d) = -t }
            else zeroTap = true
          }
          d += 1
        }
        var v = 0.0
        if (!zeroTap) {
          var interior = true
          d = 0
          while (d < n) { if (src(d) != 0) interior = false; d += 1 }
          if (interior) {
            if (core != null) {
              var flat = 0
              d = 0
              while (d < n) { flat += eff(d) * strides(d); d += 1 }
              if (core.isNullAt(flat)) poisoned = true else v = core.getDouble(flat)
            } // absent core = zero chunk
          } else {
            val strip = dirs.get(Halo.from(src))
            if (strip != null) {
              val exts = extsOf(src)
              var flat = 0
              var bstr = 1
              d = n - 1
              while (d >= 0) {
                val bl =
                  if (src(d) < 0) eff(d) + r(d)
                  else if (src(d) > 0) eff(d) - shapeA(d)
                  else eff(d)
                flat += bl * bstr
                bstr *= exts(d)
                d -= 1
              }
              // the Catalyst path wraps the STRIP element access in the
              // same coalesce as the absent-message case, so a null
              // strip element reads as 0.0 (only CORE nulls poison)
              if (!strip.isNullAt(flat)) v = strip.getDouble(flat)
            } // absent neighbor = 0.0 (the coalesce)
          }
        }
        if (!poisoned) {
          // same association as taps.map(w*v).reduce(_ + _): the first
          // term SEEDS the accumulator, later terms add left-to-right
          val term = kernelA(ki) * v
          if (!started) { acc = term; started = true } else acc += term
        }
        ki += 1
      }
      out(idx) = if (poisoned) null else java.lang.Double.valueOf(acc)
      idx += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(m: Any, t: Any): Any = compute(m, t)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stencilConv", this,
      classOf[StencilConvolve].getName)
    nullSafeCodeGen(ctx, ev, (m, t) =>
      s"${ev.value} = $ref.compute($m, $t);")
  }

  override protected def withNewChildrenInternal(l: Expression, rr: Expression): Expression =
    copy(msgs = l, tpos = rr)
}

/** Native kernel for the (2N+1)-point Laplacian fold
  * ([[graft.arrays.ChunkedArray.stencilLaplacian]]'s output projection,
  * and [[graft.streaming.HaloStencil]]'s).
  *
  * The Laplacian's fold is NOT a row-major dense-kernel fold —
  * `2N·c − (((lo_0 + hi_0) + lo_1) + hi_1 ...)` associates differently
  * from `Σ w_k·v_k`, so routing it through [[StencilConvolve]] with an
  * embedded star kernel would change IEEE rounding against the oracle.
  * This expression replays the Catalyst projection's exact read logic
  * and fold association in one compiled JVM call per chunk:
  *
  *   - neighbor reads resolve in-chunk from the core, off-chunk from
  *     the [[graft.arrays.Halo]] face messages (kinds and face layout
  *     defined there), zero at the global boundary
  *     (the Laplacian is always zero-padded),
  *   - an absent core is a zero chunk; an absent face message or null
  *     face element reads 0.0 (the Catalyst coalesce); a null CORE
  *     element poisons every output cell that reads it (center or
  *     in-chunk neighbor — those reads have no coalesce),
  *   - the neighbor sum seeds with lo_0 and adds left-to-right in
  *     (lo_d, hi_d) axis order, then `center·2N − sum` — bit-for-bit
  *     the `flatMap(Seq(lo, hi)).reduce(_ + _)` chain.
  *
  * Double payloads only — the Catalyst path remains for other dtypes
  * (dtype preservation). Equivalence spec-gated in StencilKernelSpec.
  */
case class StencilLaplacianKernel(msgs: Expression, tpos: Expression,
    shape: Seq[Int], chunksPerDim: Seq[Int])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def left: Expression = msgs
  override def right: Expression = tpos
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "graft_stencil_laplacian"

  private val n = shape.length
  private val strides: Array[Int] = shape.scanRight(1)(_ * _).tail.toArray
  private val lastPos: Array[Int] = chunksPerDim.map(_ - 1).toArray
  private val elems: Int = shape.product
  private val shapeA: Array[Int] = shape.toArray
  // slabStr(d)(j): j's row-major stride inside the face strip of dim d
  private val slabStr: Array[Array[Int]] =
    Array.tabulate(n)(d => Halo.faceStrides(shape, d).toArray)

  def compute(mAny: Any, tposAny: Any): ArrayData = {
    val m = mAny.asInstanceOf[MapData]
    val tp = tposAny.asInstanceOf[ArrayData]
    val tpos = Array.tabulate(n)(tp.getInt)
    var core: ArrayData = null
    val faces = new java.util.HashMap[String, ArrayData]()
    val keys = m.keyArray(); val vals = m.valueArray()
    var i = 0
    while (i < m.numElements()) {
      val k = keys.getUTF8String(i).toString
      if (k == Halo.Core) core = vals.getArray(i) else faces.put(k, vals.getArray(i))
      i += 1
    }
    val out = new Array[Any](elems)
    val coords = new Array[Int](n)
    var idx = 0
    while (idx < elems) {
      var d = 0
      while (d < n) { coords(d) = (idx / strides(d)) % shapeA(d); d += 1 }
      var poisoned = false
      var center = 0.0
      if (core != null) {
        if (core.isNullAt(idx)) poisoned = true else center = core.getDouble(idx)
      }
      var ns = 0.0
      var started = false
      d = 0
      while (d < n && !poisoned) {
        var slabI = 0
        var j = 0
        while (j < n) { slabI += coords(j) * slabStr(d)(j); j += 1 }
        // in-chunk neighbor reads poison on null (no coalesce in the
        // Catalyst spelling); face reads and global-edge pads are 0.0
        var lo = 0.0
        if (coords(d) > 0) {
          if (core != null) {
            val f = idx - strides(d)
            if (core.isNullAt(f)) poisoned = true else lo = core.getDouble(f)
          }
        } else if (tpos(d) != 0) {
          val strip = faces.get(Halo.lowFace(d))
          if (strip != null && !strip.isNullAt(slabI)) lo = strip.getDouble(slabI)
        }
        var hi = 0.0
        if (!poisoned) {
          if (coords(d) < shapeA(d) - 1) {
            if (core != null) {
              val f = idx + strides(d)
              if (core.isNullAt(f)) poisoned = true else hi = core.getDouble(f)
            }
          } else if (tpos(d) != lastPos(d)) {
            val strip = faces.get(Halo.highFace(d))
            if (strip != null && !strip.isNullAt(slabI)) hi = strip.getDouble(slabI)
          }
        }
        if (!poisoned) {
          // same association as flatMap(Seq(lo, hi)).reduce(_ + _)
          if (!started) { ns = lo; started = true } else ns += lo
          ns += hi
        }
        d += 1
      }
      out(idx) =
        if (poisoned) null
        else java.lang.Double.valueOf(center * (2 * n) - ns)
      idx += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(m: Any, t: Any): Any = compute(m, t)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stencilLap", this,
      classOf[StencilLaplacianKernel].getName)
    nullSafeCodeGen(ctx, ev, (m, t) =>
      s"${ev.value} = $ref.compute($m, $t);")
  }

  override protected def withNewChildrenInternal(l: Expression, rr: Expression): Expression =
    copy(msgs = l, tpos = rr)
}

object StencilExpressions {
  def stencilConvolve(msgs: Column, tpos: Column, shape: Seq[Int],
      chunksPerDim: Seq[Int], kshape: Seq[Int], kernel: Seq[Double],
      reflect: Boolean): Column =
    ExpressionUtils.column(StencilConvolve(
      ExpressionUtils.expression(msgs), ExpressionUtils.expression(tpos),
      shape, chunksPerDim, kshape, kernel, reflect))

  def stencilLaplacian(msgs: Column, tpos: Column, shape: Seq[Int],
      chunksPerDim: Seq[Int]): Column =
    ExpressionUtils.column(StencilLaplacianKernel(
      ExpressionUtils.expression(msgs), ExpressionUtils.expression(tpos),
      shape, chunksPerDim))
}
