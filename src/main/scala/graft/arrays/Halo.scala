package graft.arrays

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import ArrayGeometry.rowMajor
import ChunkedArray.fdiv

/** The halo exchange every neighborhood op rides — [[ChunkedArray.roll]],
  * [[ChunkedArray.pad]], [[ChunkedArray.stencilLaplacian]],
  * [[ChunkedArray.stencilAxis]], [[ChunkedArray.stencilNd]] and the
  * streaming [[graft.streaming.HaloStencil]] — and the one definition of
  * its message kinds and payload-box layout, which the native kernels in
  * [[org.apache.spark.sql.graftexpr.StencilExpressions]] read.
  *
  * Each chunk row explodes into messages `(tpos, kind, strip)`: the
  * destination grid position, what the strip is to the receiver, and a
  * row-major sub-box of the sender's payload. Only boxes cross the wire
  * (O(surface · depth) per neighbor), plus the self payload's own
  * re-group. Messages addressed off the grid are dropped; a batch op then
  * groups them into one `kind -> strip` map `m` per destination. */
object Halo {
  /** A position's own payload. */
  val Core = "c"

  /** The Laplacian's face strips: the receiver's low-side (`lowFace`)
    * and high-side (`highFace`) neighbor plane along axis `d`, laid out
    * as [[faceStrides]] says. */
  def lowFace(d: Int): String = s"l$d"
  def highFace(d: Int): String = s"h$d"

  /** A neighborhood strip from the sender at grid direction `src` (-1, 0
    * or +1 per axis) as seen from the receiver, of extents
    * [[stripExtents]]. */
  def from(src: scala.collection.Seq[Int]): String = "n" + src.mkString(",")

  /** Row-major strides of a face strip of axis `d`: the payload strides
    * with axis `d` dropped, and 0 on `d` itself. */
  def faceStrides(shape: Seq[Int], d: Int): Seq[Int] =
    rowMajor(shape.updated(d, 1)).updated(d, 0)

  /** Extents of the strip the sender at direction `src` ships under
    * reach `r`: its `r(d)` planes nearest the receiver on every axis
    * where `src` is nonzero, the full extent elsewhere. */
  def stripExtents(shape: Seq[Int], r: Seq[Int], src: Seq[Int]): Seq[Int] =
    shape.indices.map(d => if (src(d) == 0) shape(d) else r(d))

  /** The payload sub-box `data[starts(d) until starts(d) + exts(d)]` per
    * axis, packed row-major. Axes listed in `indexed` are integer-indexed
    * (numpy `a[i]`, extent 1): their coordinate folds into the constant
    * base offset, so a face plane spends no index arithmetic on them. */
  private[graft] def box(shape: Seq[Int], starts: Seq[Int], exts: Seq[Int],
      indexed: Seq[Int] = Nil): Column = {
    val strides = rowMajor(shape)
    val bstr = rowMajor(exts)
    val base = indexed.map(d => starts(d) * strides(d)).sum
    transform(sequence(lit(0), lit(exts.product - 1)), t =>
      col("data")(shape.indices.filterNot(indexed.contains).map { d =>
        ((fdiv(t, bstr(d)) % exts(d)) + starts(d)) * strides(d)
      }.foldLeft(lit(base): Column)(_ + _)))
  }

  /** Flat index of box-local `coords` in a box of extents `exts`. */
  private[graft] def boxIndex(coords: Seq[Column], exts: Seq[Int]): Column =
    coords.zip(rowMajor(exts)).map { case (c, s) => c * s }.reduce(_ + _)

  /** Per-axis coordinates of payload index `idx`. */
  private[graft] def coordsOf(idx: Column, shape: Seq[Int]): Seq[Column] =
    rowMajor(shape).zip(shape).map { case (s, e) => fdiv(idx, s) % e }

  /** Grid position `pos + off`. */
  private[graft] def shifted(off: Seq[Int]): Seq[Column] =
    off.zipWithIndex.map { case (o, d) => col("pos")(d) + lit(o) }

  /** One message toward grid position `tpos`. */
  private[graft] def msg(tpos: Seq[Column], kind: String, strip: Column): Column =
    struct(array(tpos.map(_.cast("int")): _*).as("tpos"),
      lit(kind).as("kind"), strip.as("strip"))

  /** The (2N+1)-point Laplacian's messages: the core to the chunk's own
    * position and one face to each of its 2N axis neighbors. */
  private[graft] def laplacianMessages(shape: Seq[Int]): Seq[Column] = {
    val n = shape.length
    def e(d: Int, s: Int) = Seq.tabulate(n)(j => if (j == d) s else 0)
    def face(d: Int, fixed: Int) =
      box(shape, e(d, fixed), shape.updated(d, 1), indexed = Seq(d))
    msg(shifted(Seq.fill(n)(0)), Core, col("data")) +: (0 until n).flatMap { d =>
      Seq(
        msg(shifted(e(d, +1)), lowFace(d), face(d, shape(d) - 1)),
        msg(shifted(e(d, -1)), highFace(d), face(d, 0)))
    }
  }

  /** A reach-`r` neighborhood's messages: the core to the chunk's own
    * position and one box to every grid neighbor the reach touches
    * (3^N - 1 at full rank: faces, edges and corners), the box being
    * the intersection of the last/first `r(d)` planes per axis. */
  private[graft] def neighborhoodMessages(shape: Seq[Int], r: Seq[Int]): Seq[Column] = {
    val n = shape.length
    val offs = (0 until n).foldLeft(Seq(Seq.empty[Int]))((acc, _) =>
      acc.flatMap(p => Seq(-1, 0, 1).map(p :+ _)))
      .filter(o => o.exists(_ != 0) &&
        o.zipWithIndex.forall { case (od, d) => od == 0 || r(d) > 0 })
    msg(shifted(Seq.fill(n)(0)), Core, col("data")) +: offs.map { o =>
      val starts = o.zipWithIndex.map { case (od, d) => if (od > 0) shape(d) - r(d) else 0 }
      msg(shifted(o), from(o.map(-_)), box(shape, starts, stripExtents(shape, r, o)))
    }
  }

  /** Value at effective coordinates `effs` in the strip from direction
    * `src` of [[neighborhoodMessages]]: the sender at -1 shipped its last
    * `r` planes (box-local coord e + r), the one at +1 its first (e -
    * shape). An absent neighbor or null strip cell reads `zero`. */
  private[graft] def neighborAt(shape: Seq[Int], r: Seq[Int], src: Seq[Int],
      effs: Seq[Column], zero: Column): Column = {
    val local = shape.indices.map { d =>
      if (src(d) < 0) effs(d) + lit(r(d))
      else if (src(d) > 0) effs(d) - lit(shape(d))
      else effs(d)
    }
    coalesce(element_at(element_at(col("m"), from(src)),
      boxIndex(local, stripExtents(shape, r, src)) + 1), zero)
  }

  /** The exploded message rows `(keys.., tpos, kind, strip)` of every
    * chunk row of `df`, dropping messages addressed off `grid`. An empty
    * `grid` keeps every row: wrapped destinations ([[ChunkedArray.roll]])
    * are in the grid by construction. */
  private[graft] def messages(df: DataFrame, keys: Seq[String], msgs: Seq[Column],
      grid: Seq[Int]): DataFrame = {
    val rows = df.select(keys.map(col) :+ explode(array(msgs: _*)).as("m"): _*)
      .select(keys.map(col) ++ Seq(col("m.tpos").as("tpos"),
        col("m.kind").as("kind"), col("m.strip").as("strip")): _*)
    if (grid.isEmpty) rows
    else rows.filter(grid.indices.map(d =>
      col("tpos")(d) >= 0 && col("tpos")(d) < grid(d)).reduce(_ && _))
  }

  /** One row per `(timestep, tpos)` with its `kind -> strip` map `m`. */
  private[graft] def assemble(rows: DataFrame): DataFrame =
    rows.groupBy(col("timestep"), col("tpos"))
      .agg(map_from_entries(collect_list(struct(col("kind"), col("strip")))).as("m"))
}
