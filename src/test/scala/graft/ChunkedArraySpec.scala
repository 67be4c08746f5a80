package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, posexplode}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.arrays.{ArrayGeometry, ChunkedArray}

/** Shared local session for all specs. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .withExtensions(new GraftExtensions)
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

class ChunkedArraySpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  /** 1-d array of 8 elements as 2 chunks of 4: [1..8] at t, [2..16 by 2] at t+1. */
  def oneD: ChunkedArray = {
    val rows = Seq(
      (0L, Seq(0), Seq(1.0, 2.0, 3.0, 4.0)),
      (0L, Seq(1), Seq(5.0, 6.0, 7.0, 8.0)),
      (1L, Seq(0), Seq(2.0, 4.0, 6.0, 8.0)),
      (1L, Seq(1), Seq(10.0, 12.0, 14.0, 16.0)))
    val df = rows.toDF("timestep", "pos", "data")
    ChunkedArray(df, ArrayGeometry(Seq(2), Seq(4)))
  }

  /** 4x4 2-d array as 2x2 chunks of 2x2; value(i,j) = 10*i + j at t=0. */
  def twoD: ChunkedArray = {
    val chunks = for (cr <- 0 to 1; cc <- 0 to 1) yield {
      val data = for (i <- 0 to 1; j <- 0 to 1)
        yield 10.0 * (2 * cr + i) + (2 * cc + j)
      (0L, Seq(cr, cc), data)
    }
    ChunkedArray(chunks.toDF("timestep", "pos", "data"), ArrayGeometry(Seq(2, 2), Seq(2, 2)))
  }

  def asMap(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("sumPerTimestep matches hand-computed totals") {
    assert(asMap(oneD.sumPerTimestep()) == Map(0L -> 36.0, 1L -> 72.0))
  }

  test("mapValues applies elementwise (preprocess semantics)") {
    assert(asMap(oneD.mapValues(_ * 10).sumPerTimestep()) == Map(0L -> 360.0, 1L -> 720.0))
  }

  test("zipWith subtracts aligned chunks") {
    val a = oneD
    val d = a.zipWith(a.mapValues(_ * 2))((x, y) => y - x)
    assert(asMap(d.sumPerTimestep()) == Map(0L -> 36.0, 1L -> 72.0))
  }

  test("shiftTimestep + zipWith = sliding-window delta (doreisa w=2)") {
    val cur = oneD
    val delta = cur.zipWith(cur.shiftTimestep(1))(_ - _).sumPerTimestep("delta")
    val m = asMap(delta)
    assert(m == Map(1L -> 36.0)) // only t=1 has a predecessor
  }

  test("statsPerTimestep: n, total, min, max") {
    val r = oneD.statsPerTimestep.filter("timestep = 0").collect().head
    assert(r.getAs[Long]("n_elems") == 8L)
    assert(r.getAs[Double]("total") == 36.0)
    assert(r.getAs[Double]("min_val") == 1.0)
    assert(r.getAs[Double]("max_val") == 8.0)
  }

  test("sliceRange prunes chunks and cuts boundary chunks") {
    // [1..8], slice [2, 7) -> 3+4+5+6+7 = 25
    assert(asMap(oneD.sliceRange(2, 7).sumPerTimestep()).apply(0L) == 25.0)
    // fully inside second chunk: [5, 7) -> 6 + 7
    assert(asMap(oneD.sliceRange(5, 7).sumPerTimestep()).apply(0L) == 13.0)
  }

  test("slice2d cuts both dims with original strides") {
    // rows 1..2, cols 1..3 of value(i,j)=10i+j:
    // 11+12+13 + 21+22+23 = 102
    assert(asMap(twoD.slice2d(1, 3, 1, 4).sumPerTimestep()).apply(0L) == 102.0)
  }

  test("axisSumRows reduces axis 1 to row sums") {
    val rows = twoD.axisSumRows(axis = 1).collect()
      .map(r => r.getAs[Long]("idx") -> r.getAs[Double]("value")).toMap
    // row i: sum_j (10i + j), j=0..3 -> 40i + 6
    assert(rows == Map(0L -> 6.0, 1L -> 46.0, 2L -> 86.0, 3L -> 126.0))
  }

  test("axisSumRows axis 0 gives column sums") {
    val cols = twoD.axisSumRows(axis = 0).collect()
      .map(r => r.getAs[Long]("idx") -> r.getAs[Double]("value")).toMap
    // col j: sum_i (10i + j) = 60 + 4j
    assert(cols == Map(0L -> 60.0, 1L -> 64.0, 2L -> 68.0, 3L -> 72.0))
  }

  test("topkRows keeps the k best per timestep with global indices") {
    // t=0: [1..8] -> top-3 = 8@7, 7@6, 6@5; t=1: [2,4,..,16] -> 16@7, 14@6, 12@5
    val r = oneD.topkRows(3).collect()
      .map(x => (x.getAs[Long]("timestep"), x.getAs[Long]("rank")) ->
        (x.getAs[Long]("idx"), x.getAs[Double]("value"))).toMap
    assert(r == Map(
      (0L, 1L) -> (7L, 8.0), (0L, 2L) -> (6L, 7.0), (0L, 3L) -> (5L, 6.0),
      (1L, 1L) -> (7L, 16.0), (1L, 2L) -> (6L, 14.0), (1L, 3L) -> (5L, 12.0)))
  }

  test("topkRows ties break to the lowest global index, crossing chunks") {
    // two chunks of constant 5.0: ranks follow the flat index order
    val rows = Seq(
      (0L, Seq(0), Seq(5.0, 5.0)),
      (0L, Seq(1), Seq(5.0, 5.0)))
    val arr = ChunkedArray(rows.toDF("timestep", "pos", "data"), ArrayGeometry(Seq(2), Seq(2)))
    val r = arr.topkRows(3).orderBy("rank").collect()
      .map(x => (x.getAs[Long]("rank"), x.getAs[Long]("idx")))
    assert(r.toSeq == Seq((1L, 0L), (2L, 1L), (3L, 2L)))
  }

  test("topkRows on a 2-d array ranks by row-major flat index") {
    // value(i,j) = 10i + j over 4x4: best = (3,3)=33 at flat 15, then 32, 31
    val r = twoD.topkRows(3).orderBy("rank").collect()
      .map(x => (x.getAs[Long]("idx"), x.getAs[Double]("value")))
    assert(r.toSeq == Seq((15L, 33.0), (14L, 32.0), (13L, 31.0)))
  }

  test("topkRows k-bounded merge == unbounded collect_list merge (random chunks)") {
    // many chunks with heavy duplication: the two-pointer k-merge must
    // reproduce the full flatten+sort+slice exactly, ties included
    val rnd = new scala.util.Random(7)
    val rows = for (t <- 0L to 2L; c <- 0 until 16)
      yield (t, Seq(c), Seq.fill(8)(math.floor(rnd.nextDouble() * 10) / 2.0))
    val arr = ChunkedArray(rows.toDF("timestep", "pos", "data"),
      ArrayGeometry(Seq(16), Seq(8)))
    val got = arr.topkRows(5).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3))).toSet
    // reference spelling: per-timestep flatten of ALL cells, sort, take 5
    val cells = rows.groupBy(_._1).map { case (t, rs) =>
      t -> rs.flatMap { case (_, pos, data) =>
        data.zipWithIndex.map { case (v, i) => (v, pos.head * 8L + i) }
      }.sortBy { case (v, i) => (-v, i) }.take(5)
    }
    val want = (for ((t, top) <- cells; ((v, i), r) <- top.zipWithIndex)
      yield (t, r + 1L, i, v)).toSet
    assert(got == want)
  }

  test("quantilesPerTimestep follows percentile_disc semantics") {
    // t=0 cells sorted: 1..8 (n=8). p50 -> ceil(4) = position 4 -> 4.0;
    // p25 -> position 2 -> 2.0; p90 -> ceil(7.2) = position 8 -> 8.0
    val r = oneD.quantilesPerTimestep(Seq(("p25", 0.25), ("p50", 0.50), ("p90", 0.90)))
      .filter("timestep = 0").collect().head
    assert(r.getAs[Double]("p25") == 2.0)
    assert(r.getAs[Double]("p50") == 4.0)
    assert(r.getAs[Double]("p90") == 8.0)
  }

  test("quantileContPerTimestep interpolates linearly (dask/percentile_cont)") {
    // t=0 cells sorted 1..8 (n=8), h = 7q; expected values computed with
    // the SAME double operand order the query (and DuckDB) uses
    def expect(q: Double): Double = {
      val h = 7.0 * q
      val lo = math.floor(h); val d = h - lo
      val vLo = lo + 1.0 // sorted cells are 1..8, rank r (0-idx) -> r+1
      val vHi = math.ceil(h) + 1.0
      if (lo == math.ceil(h)) vLo else vLo * (1.0 - d) + vHi * d
    }
    val r = oneD.quantileContPerTimestep(Seq(("p25", 0.25), ("p50", 0.50), ("p90", 0.90)))
      .filter("timestep = 0").collect().head
    assert(r.getAs[Double]("p25") == expect(0.25))
    assert(r.getAs[Double]("p50") == expect(0.50)) // exact midpoint 4.5
    assert(r.getAs[Double]("p90") == expect(0.90))
    // integral h hits the order statistic exactly, no interpolation
    val rr = oneD.quantileContPerTimestep(Seq(("p0", 0.0), ("p100", 1.0)))
      .filter("timestep = 0").collect().head
    assert(rr.getAs[Double]("p0") == 1.0)
    assert(rr.getAs[Double]("p100") == 8.0)
  }

  test("axisQuantileRows/axisQuantileContRows match sorted-line references on both axes") {
    // 4x6 array as 2x2 chunks of 2x3; v(i,j) = (7i + 3j) % 5 repeats
    // values inside every line, so ties straddle chunk boundaries
    def v(i: Int, j: Int): Double = ((7 * i + 3 * j) % 5).toDouble
    val chunks = for (cr <- 0 to 1; cc <- 0 to 1) yield
      (0L, Seq(cr, cc), for (i <- 0 to 1; j <- 0 to 2) yield v(2 * cr + i, 3 * cc + j))
    val arr = ChunkedArray(chunks.toDF("timestep", "pos", "data"),
      ArrayGeometry(Seq(2, 2), Seq(2, 3)))
    val qs = Seq(("p25", 0.25), ("med", 0.5), ("p90", 0.9))
    for (axis <- 0 to 1) {
      // idx is the kept axis' coordinate; the line runs across `axis`
      val lines = if (axis == 0) 0 until 6 else 0 until 4
      def line(idx: Int): Seq[Double] =
        (if (axis == 0) (0 until 4).map(v(_, idx)) else (0 until 6).map(v(idx, _))).sorted
      def byIdx(df: DataFrame) = df.collect().map(r => r.getAs[Long]("idx") -> r).toMap
      val disc = byIdx(arr.axisQuantileRows(axis, qs))
      val cont = byIdx(arr.axisQuantileContRows(axis, qs))
      assert(disc.keySet == lines.map(_.toLong).toSet && cont.keySet == disc.keySet)
      for (idx <- lines; (nm, q) <- qs) {
        val s = line(idx)
        val n = s.length
        // percentile_disc: the first value whose cumulative count
        // reaches ceil(q·n)
        val wantDisc = s(math.ceil(n * q).toInt - 1)
        // linear: h = (n-1)·q, lo·(1-d) + hi·d in DuckDB's operand order
        val h = (n - 1).toDouble * q
        val (lo, hi) = (s(math.floor(h).toInt), s(math.ceil(h).toInt))
        val d = h - math.floor(h)
        val wantCont = if (math.floor(h) == math.ceil(h)) lo else lo * (1.0 - d) + hi * d
        assert(disc(idx.toLong).getAs[Double](nm) == wantDisc, s"disc axis $axis line $idx $nm")
        assert(cont(idx.toLong).getAs[Double](nm) == wantCont, s"cont axis $axis line $idx $nm")
      }
    }
  }

  test("cumsumAxis scans any axis of a 2-d array across chunk lines") {
    // value(i,j) = 10i + j; axis 0 scans down columns:
    // out(i,j) = sum_{r<=i} (10r + j) = 10*i*(i+1)/2 + (i+1)*j
    val down = twoD.cumsumAxis(axis = 0).rows2d.collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j")) -> r.getAs[Double]("value")).toMap
    for (i <- 0 to 3; j <- 0 to 3)
      assert(down((i.toLong, j.toLong)) == 10.0 * i * (i + 1) / 2 + (i + 1) * j,
        s"axis 0 at ($i, $j)")
    // axis 1 scans along rows: out(i,j) = sum_{c<=j} (10i + c)
    val along = twoD.cumsumAxis(axis = 1).rows2d.collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j")) -> r.getAs[Double]("value")).toMap
    for (i <- 0 to 3; j <- 0 to 3)
      assert(along((i.toLong, j.toLong)) == 10.0 * i * (j + 1) + j * (j + 1) / 2.0,
        s"axis 1 at ($i, $j)")
  }

  test("axisReduce takes min/max along any axis, dtype preserved") {
    // value(i,j) = 10i + j: max over j per i = 10i + 3; min over i per j = j
    val mx = twoD.axisMax(axis = 1).rowsNd.collect()
      .map(r => r.getAs[Long]("i0") -> r.getAs[Double]("value")).toMap
    assert(mx == Map(0L -> 3.0, 1L -> 13.0, 2L -> 23.0, 3L -> 33.0))
    val mn = twoD.axisMin(axis = 0).rowsNd.collect()
      .map(r => r.getAs[Long]("i0") -> r.getAs[Double]("value")).toMap
    assert(mn == Map(0L -> 0.0, 1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
    // 3-d middle axis against the dense reference
    val dense = threeD.rowsNd.collect()
      .map(r => (r.getAs[Long]("i0"), r.getAs[Long]("i1"), r.getAs[Long]("i2")) ->
        r.getAs[Double]("value")).toMap
    val got = threeD.axisMax(axis = 1).rowsNd.collect()
      .map(r => (r.getAs[Long]("i0"), r.getAs[Long]("i1")) -> r.getAs[Double]("value")).toMap
    for (((i, k), v) <- got)
      assert(v == (0L until 4L).map(j => dense((i, j, k))).max, s"at ($i, $k)")
    // long payload stays long through the reduce (no silent widening)
    val asLong = twoD.astype(org.apache.spark.sql.types.LongType)
    assert(asLong.axisMax(axis = 1).dtype == org.apache.spark.sql.types.LongType)
    // 1-wide reduced axis: the fold is just the seed (the descending
    // sequence(1, 0) hazard) — reduce it away from the rechunked array
    val skinny = twoD.rechunk(Seq(2, 1)) // 2x1 chunks: axis 1 is 1 wide
    val sk = skinny.axisMax(axis = 1).rowsNd.collect()
      .map(r => r.getAs[Long]("i0") -> r.getAs[Double]("value")).toMap
    assert(sk == Map(0L -> 3.0, 1L -> 13.0, 2L -> 23.0, 3L -> 33.0))
    // mean along j: (40i + 6) / 4
    val mean = twoD.axisMean(axis = 1).rowsNd.collect()
      .map(r => r.getAs[Long]("i0") -> r.getAs[Double]("value")).toMap
    assert(mean == Map(0L -> 1.5, 1L -> 11.5, 2L -> 21.5, 3L -> 31.5))
  }

  test("argmaxNd locates the hotspot on any rank, ties to lowest row-major index") {
    // twoD's max is value(3,3) = 33
    val r = twoD.argmaxNd().collect().head
    assert((r.getAs[Double]("max_val"), r.getAs[Long]("i0"), r.getAs[Long]("i1")) ==
      (33.0, 3L, 3L))
    // constant array: every cell ties -> numpy picks index (0, 0)
    val tied = twoD.mapValues(_ * 0.0 + 7.0)
    val t = tied.argmaxNd().collect().head
    assert((t.getAs[Double]("max_val"), t.getAs[Long]("i0"), t.getAs[Long]("i1")) ==
      (7.0, 0L, 0L))
    // 1-d face agrees with argmaxRows on both timesteps
    val nd = oneD.argmaxNd().collect()
      .map(r => r.getAs[Long]("timestep") -> (r.getAs[Double]("max_val"), r.getAs[Long]("i0"))).toMap
    val rows = oneD.argmaxRows().collect()
      .map(r => r.getAs[Long]("timestep") -> (r.getAs[Double]("max_val"), r.getAs[Long]("arg_idx"))).toMap
    assert(nd == rows)
  }

  test("argminNd is the negated twin, ties still to the lowest index") {
    // twoD's min is value(0,0) = 0
    val r = twoD.argminNd().collect().head
    assert((r.getAs[Double]("min_val"), r.getAs[Long]("i0"), r.getAs[Long]("i1")) ==
      (0.0, 0L, 0L))
    // constant array: every cell ties -> index (0, 0)
    val t = twoD.mapValues(_ * 0.0 + 7.0).argminNd().collect().head
    assert((t.getAs[Double]("min_val"), t.getAs[Long]("i0"), t.getAs[Long]("i1")) ==
      (7.0, 0L, 0L))
    // 1-d: t=1 holds [2,4..16], min 2.0 at index 0
    val m = oneD.argminNd().collect()
      .map(r => r.getAs[Long]("timestep") -> (r.getAs[Double]("min_val"), r.getAs[Long]("i0"))).toMap
    assert(m(1L) == (2.0, 0L))
  }

  test("arg extremes publish NULLs for all-null payloads, never garbage indices") {
    // the seed struct carries Long.MinValue/MaxValue; decomposing it
    // would overflow (-Long.MinValue == Long.MinValue) into negative
    // coordinates — the guard must surface null instead
    val rows = Seq(
      (0L, Seq(0), Seq[Option[Double]](None, None, None, None)),
      (0L, Seq(1), Seq[Option[Double]](None, None, None, None)))
    val nullArr = ChunkedArray(rows.toDF("timestep", "pos", "data"),
      ArrayGeometry(Seq(2), Seq(4)))
    val mx = nullArr.argmaxNd().collect().head
    assert(mx.isNullAt(mx.fieldIndex("max_val")) && mx.isNullAt(mx.fieldIndex("i0")))
    val mn = nullArr.argminNd().collect().head
    assert(mn.isNullAt(mn.fieldIndex("min_val")) && mn.isNullAt(mn.fieldIndex("i0")))
    val rw = nullArr.argmaxRows().collect().head
    assert(rw.isNullAt(rw.fieldIndex("max_val")) && rw.isNullAt(rw.fieldIndex("arg_idx")))
  }

  test("axisVar/axisStd carry exact moments along any axis") {
    // value(i,j) = 10i + j: var over j = var{0..3} = 1.25 for every i;
    // var over i = var{0,10,20,30} = 125 for every j
    val vj = twoD.axisVar(axis = 1).rowsNd.collect()
      .map(r => r.getAs[Long]("i0") -> r.getAs[Double]("value")).toMap
    assert(vj == Map(0L -> 1.25, 1L -> 1.25, 2L -> 1.25, 3L -> 1.25))
    val vi = twoD.axisVar(axis = 0).rowsNd.collect()
      .map(r => r.getAs[Long]("i0") -> r.getAs[Double]("value")).toMap
    assert(vi == Map(0L -> 125.0, 1L -> 125.0, 2L -> 125.0, 3L -> 125.0))
    // 3-d middle axis: value(i,j,k) = 16i + 4j + k -> var over j of
    // {4j} = 16 * 1.25 = 20 at every (i, k)
    val v3 = threeD.axisVar(axis = 1).rowsNd.collect()
      .map(r => (r.getAs[Long]("i0"), r.getAs[Long]("i1")) -> r.getAs[Double]("value"))
    assert(v3.length == 16 && v3.forall(_._2 == 20.0))
    // std is one sqrt over the exact variance
    val sd = twoD.axisStd(axis = 1).rowsNd.collect()
      .map(r => r.getAs[Double]("value"))
    assert(sd.forall(_ == math.sqrt(1.25)))
  }

  test("axisArgmax/axisArgmin return global axis coordinates, ties to the lowest") {
    // value(i,j) = 10i + j: argmax over j = 3, argmin over j = 0
    val amx = twoD.axisArgmax(axis = 1).rowsNd.collect()
      .map(r => r.getAs[Long]("i0") -> r.getAs[Long]("value")).toMap
    assert(amx == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    val amn = twoD.axisArgmin(axis = 1).rowsNd.collect()
      .map(r => r.getAs[Long]("i0") -> r.getAs[Long]("value")).toMap
    assert(amn == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
    // axis 0: the max of column j sits at i = 3 (coordinate crosses the
    // chunk boundary, so the cross-chunk struct combine is exercised)
    val a0 = twoD.axisArgmax(axis = 0).rowsNd.collect()
      .map(r => r.getAs[Long]("i0") -> r.getAs[Long]("value")).toMap
    assert(a0 == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // constant array: every coordinate ties -> 0 everywhere
    val tied = twoD.mapValues(_ * 0.0 + 7.0).axisArgmax(axis = 1).rowsNd.collect()
      .map(r => r.getAs[Long]("value"))
    assert(tied.forall(_ == 0L))
    // 3-d middle axis against the dense reference: argmax over j of
    // 16i + 4j + k is j = 3 at every (i, k)
    val a3 = threeD.axisArgmax(axis = 1).rowsNd.collect()
      .map(r => r.getAs[Long]("value"))
    assert(a3.length == 16 && a3.forall(_ == 3L))
  }

  test("maskedSumPerTimestep filter-folds chunk-locally") {
    // oneD t=0: [1..8] > 4.5 -> 5+6+7+8 = 26 (4 kept);
    //      t=1: [2,4..16] > 4.5 -> 6+8+...+16 = 66 (6 kept)
    val m = oneD.maskedSumPerTimestep(_ > 4.5).collect()
      .map(r => r.getAs[Long]("timestep") ->
        (r.getAs[Long]("n_kept"), r.getAs[Double]("total"))).toMap
    assert(m == Map(0L -> (4L, 26.0), 1L -> (6L, 66.0)))
    // an empty mask keeps a 0-count, 0.0-sum row (dense array, total reduce)
    val e = oneD.maskedSumPerTimestep(_ > 1000.0).collect()
      .map(r => r.getAs[Long]("timestep") ->
        (r.getAs[Long]("n_kept"), r.getAs[Double]("total"))).toMap
    assert(e == Map(0L -> (0L, 0.0), 1L -> (0L, 0.0)))
  }

  test("where replaces masked-out cells, dtype preserved") {
    // keep cells > 4, zero the rest: t=0 -> 26, t=1 -> 6+8+...+16 = 66
    val w = oneD.where(_ > 4.0, org.apache.spark.sql.functions.lit(0.0))
    assert(asMap(w.sumPerTimestep()) == Map(0L -> 26.0, 1L -> 66.0))
    val asLong = oneD.astype(org.apache.spark.sql.types.LongType)
    assert(asLong.where(_ > 4L, org.apache.spark.sql.functions.lit(0)).dtype ==
      org.apache.spark.sql.types.LongType)
  }

  test("cumsumAxis scans a middle axis of a 3-d array") {
    // value(i,j,k) = 16i + 4j + k; axis 1: out = sum_{m<=j} (16i + 4m + k)
    val dense = threeD.cumsumAxis(axis = 1).rowsNd.collect()
      .map(r => (r.getAs[Long]("i0"), r.getAs[Long]("i1"), r.getAs[Long]("i2")) ->
        r.getAs[Double]("value")).toMap
    for (i <- 0 to 3; j <- 0 to 3; k <- 0 to 3)
      assert(dense((i.toLong, j.toLong, k.toLong)) ==
        (0 to j).map(m => 16.0 * i + 4 * m + k).sum, s"at ($i, $j, $k)")
  }

  test("cumsumAxis carry is running window sums, not a vector re-fold") {
    // The carry must be per-slab-position running SUMs sharing one
    // window (linear in the chunk line); a collect_list window re-folds
    // every predecessor vector per chunk — quadratic in the scan line.
    val plan = twoD.cumsumAxis(axis = 0).df.queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list"),
      s"carry regressed to a collected-vector fold:\n$plan")
    assert(plan.contains("Window"), "carry must still come from a window")
  }

  test("cumsumAxis wide slabs take the row-per-line carry and stay exact") {
    // chunk shape 2x300 -> 300 slab positions for an axis-0 scan, past
    // MaxCarryWidth: the carry must come from the posexplode layout
    // (one window expression), not 300 stacked window aggregates
    assert(300 > ChunkedArray.MaxCarryWidth)
    val w = 300
    val chunks = for (cr <- 0 to 1) yield {
      val data = for (i <- 0 to 1; j <- 0 until w)
        yield 1000.0 * (2 * cr + i) + j
      (0L, Seq(cr, 0), data)
    }
    val wide = ChunkedArray(chunks.toDF("timestep", "pos", "data"),
      ArrayGeometry(Seq(2, 1), Seq(2, w)))
    val got = wide.cumsumAxis(axis = 0).rows2d.collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j")) -> r.getAs[Double]("value")).toMap
    // out(i,j) = sum_{r<=i} (1000r + j) = 1000*i*(i+1)/2 + (i+1)*j
    for (i <- 0 to 3; j <- Seq(0, 1, 137, 255, 299))
      assert(got((i.toLong, j.toLong)) == 1000.0 * i * (i + 1) / 2 + (i + 1) * j,
        s"wide carry at ($i, $j)")
    // and the plan really took the exploded-carry branch
    val plan = wide.cumsumAxis(axis = 0).df.queryExecution.executedPlan.toString
    assert(plan.contains("Generate"), "wide slabs must posexplode the carry")
    // cumprodAxis rides the same wide carry: small-integer cells 1..3
    // keep every 4-long column product exact
    def small(i: Int, j: Int): Double = 1.0 + (i + j) % 3
    val smallChunks = for (cr <- 0 to 1) yield
      (0L, Seq(cr, 0), for (i <- 0 to 1; j <- 0 until w) yield small(2 * cr + i, j))
    val wideSmall = ChunkedArray(smallChunks.toDF("timestep", "pos", "data"),
      ArrayGeometry(Seq(2, 1), Seq(2, w)))
    val prod = wideSmall.cumprodAxis(axis = 0)
    val gotProd = prod.rows2d.collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j")) -> r.getAs[Double]("value")).toMap
    for (i <- 0 to 3; j <- Seq(0, 1, 137, 255, 299))
      assert(gotProd((i.toLong, j.toLong)) == (0 to i).map(small(_, j)).product,
        s"wide product carry at ($i, $j)")
    assert(prod.df.queryExecution.executedPlan.toString.contains("Generate"),
      "wide cumprod slabs must posexplode the carry")
  }

  test("cumsumAxis on a 1-d array replays cumsumRows exactly") {
    val viaAxis = oneD.cumsumAxis(axis = 0).df
      .select(col("timestep"), col("pos")(0).cast("bigint").as("c"),
        posexplode(col("data")).as(Seq("i", "v")))
      .select(col("timestep"), (col("c") * 4 + col("i")).as("idx"), col("v").as("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val viaRows = oneD.cumsumRows().collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(viaAxis == viaRows)
  }

  test("stencilLaplacian matches a dense zero-padded reference") {
    val dense = Array.tabulate(4, 4)((i, j) => 10.0 * i + j)
    def at(i: Int, j: Int): Double =
      if (i < 0 || i > 3 || j < 0 || j > 3) 0.0 else dense(i)(j)
    def lapAt(i: Int, j: Int): Double =
      4 * at(i, j) - at(i - 1, j) - at(i + 1, j) - at(i, j - 1) - at(i, j + 1)
    val expectedSum = (for { i <- 0 to 3; j <- 0 to 3 } yield lapAt(i, j)).sum
    val lap = twoD.stencilLaplacian()
    assert(asMap(lap.sumPerTimestep()).apply(0L) == expectedSum)
    // interior cell (1,2) and corner (0,0) via single-cell slices
    assert(asMap(lap.slice2d(1, 2, 2, 3).sumPerTimestep()).apply(0L) == lapAt(1, 2))
    assert(asMap(lap.slice2d(0, 1, 0, 1).sumPerTimestep()).apply(0L) == lapAt(0, 0))
  }

  test("matmul matches a dense reference (A @ A)") {
    val dense = Array.tabulate(4, 4)((i, j) => 10.0 * i + j)
    val expected = Array.tabulate(4, 4)((i, j) =>
      (0 to 3).map(k => dense(i)(k) * dense(k)(j)).sum)
    val got = twoD.matmul(twoD).rows2d.collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    for { i <- 0 to 3; j <- 0 to 3 }
      assert(got((i.toLong, j.toLong)) == expected(i)(j), s"cell ($i,$j)")
  }

  test("tensordot contracts 3-d x 2-d to 3-d against a dense reference") {
    // A: 4x4x4 with value = flat index; B: the 4x4 twoD matrix
    val chunks = for (c0 <- 0 to 1; c1 <- 0 to 1; c2 <- 0 to 1) yield {
      val data = for (i <- 0 to 1; j <- 0 to 1; k <- 0 to 1) yield
        ((2 * c0 + i) * 16 + (2 * c1 + j) * 4 + (2 * c2 + k)).toDouble
      (0L, Seq(c0, c1, c2), data)
    }
    val a3 = ChunkedArray(chunks.toDF("timestep", "pos", "data"),
      ArrayGeometry(Seq(2, 2, 2), Seq(2, 2, 2)))
    val out = a3.tensordot(twoD)
    assert(out.geom == ArrayGeometry(Seq(2, 2, 2), Seq(2, 2, 2)))
    val denseA = Array.tabulate(4, 4, 4)((i, j, k) => (i * 16 + j * 4 + k).toDouble)
    val denseB = Array.tabulate(4, 4)((i, j) => 10.0 * i + j)
    val got = out.rowsNd.collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)) -> r.getDouble(4)).toMap
    for { i <- 0 to 3; j <- 0 to 3; m <- 0 to 3 } {
      val want = (0 to 3).map(k => denseA(i)(j)(k) * denseB(k)(m)).sum
      assert(got((i.toLong, j.toLong, m.toLong)) == want, s"cell ($i,$j,$m)")
    }
  }

  test("tensordot of two vectors is the rank-0 dot product") {
    val v = oneD // [1..8] at t=0
    val out = v.tensordot(v)
    assert(out.geom.dims == 0)
    // 1+4+9+...+64 = 204
    assert(asMap(out.sumPerTimestep()).apply(0L) == 204.0)
  }

  test("core ops are dimension-agnostic: 3-d array reductions and zips") {
    // 2x2x2 grid of 2x2x2 chunks = 4x4x4 array, value = flat index
    val chunks = for (cr <- 0 to 1; cc <- 0 to 1; cd <- 0 to 1) yield {
      val data = for (i <- 0 to 1; j <- 0 to 1; k <- 0 to 1) yield
        ((2 * cr + i) * 16 + (2 * cc + j) * 4 + (2 * cd + k)).toDouble
      (0L, Seq(cr, cc, cd), data)
    }
    val arr = ChunkedArray(chunks.toDF("timestep", "pos", "data"),
      ArrayGeometry(Seq(2, 2, 2), Seq(2, 2, 2)))
    // sum of 0..63 = 2016
    assert(asMap(arr.sumPerTimestep()).apply(0L) == 2016.0)
    assert(asMap(arr.mapValues(_ * 2).sumPerTimestep()).apply(0L) == 4032.0)
    val z = arr.zipWith(arr.mapValues(_ + 1))((x, y) => y - x)
    assert(asMap(z.sumPerTimestep()).apply(0L) == 64.0)
    val st = arr.statsPerTimestep.collect().head
    assert(st.getAs[Long]("n_elems") == 64L)
    assert(st.getAs[Double]("min_val") == 0.0 && st.getAs[Double]("max_val") == 63.0)
  }

  /** 4x4x4 array as 2x2x2 chunks of 2x2x2; value = row-major flat index. */
  def threeD: ChunkedArray = {
    val chunks = for (cr <- 0 to 1; cc <- 0 to 1; cd <- 0 to 1) yield {
      val data = for (i <- 0 to 1; j <- 0 to 1; k <- 0 to 1) yield
        ((2 * cr + i) * 16 + (2 * cc + j) * 4 + (2 * cd + k)).toDouble
      (0L, Seq(cr, cc, cd), data)
    }
    ChunkedArray(chunks.toDF("timestep", "pos", "data"),
      ArrayGeometry(Seq(2, 2, 2), Seq(2, 2, 2)))
  }

  test("sliceNd cuts a 3-d box across chunk boundaries") {
    // arr[1:3, 0:2, 2:4] of value(i,j,k) = 16i + 4j + k
    val expected = (for { i <- 1 to 2; j <- 0 to 1; k <- 2 to 3 }
      yield 16.0 * i + 4 * j + k).sum
    val got = asMap(threeD.sliceNd(Seq((1, 3), (0, 2), (2, 4))).sumPerTimestep())
    assert(got(0L) == expected)
    // single-cell box
    assert(asMap(threeD.sliceNd(Seq((3, 4), (1, 2), (2, 3))).sumPerTimestep())
      .apply(0L) == 16.0 * 3 + 4 * 1 + 2)
  }

  test("stencilLaplacian generalizes to 3-d (7-point, zero-padded)") {
    val dense = Array.tabulate(4, 4, 4)((i, j, k) => 16.0 * i + 4 * j + k)
    def at(i: Int, j: Int, k: Int): Double =
      if (Seq(i, j, k).exists(x => x < 0 || x > 3)) 0.0 else dense(i)(j)(k)
    def lapAt(i: Int, j: Int, k: Int): Double =
      6 * at(i, j, k) - at(i - 1, j, k) - at(i + 1, j, k) -
        at(i, j - 1, k) - at(i, j + 1, k) - at(i, j, k - 1) - at(i, j, k + 1)
    val expectedSum =
      (for { i <- 0 to 3; j <- 0 to 3; k <- 0 to 3 } yield lapAt(i, j, k)).sum
    val lap = threeD.stencilLaplacian()
    assert(asMap(lap.sumPerTimestep()).apply(0L) == expectedSum)
    // interior and corner cells via single-cell slices
    assert(asMap(lap.sliceNd(Seq((1, 2), (2, 3), (1, 2))).sumPerTimestep())
      .apply(0L) == lapAt(1, 2, 1))
    assert(asMap(lap.sliceNd(Seq((0, 1), (0, 1), (0, 1))).sumPerTimestep())
      .apply(0L) == lapAt(0, 0, 0))
  }

  test("1-d stencil: 3-point second difference with zero padding") {
    // [1..8]: out[i] = 2*v[i] - v[i-1] - v[i+1]; interior terms telescope
    val v = (1 to 8).map(_.toDouble)
    def at(i: Int) = if (i < 0 || i > 7) 0.0 else v(i)
    val expected = (0 to 7).map(i => 2 * at(i) - at(i - 1) - at(i + 1)).sum
    assert(asMap(oneD.stencilLaplacian().sumPerTimestep()).apply(0L) == expected)
  }

  test("dtype is preserved end-to-end for float and long payloads (ref test_dtype.py)") {
    import org.apache.spark.sql.types.{FloatType, LongType, DoubleType}
    import org.apache.spark.sql.functions.{col, lit}
    // float32 payload: map with an int literal, zip, slice, stencil all stay float
    val f = ChunkedArray(
      oneD.df.select(col("timestep"), col("pos"), col("data").cast("array<float>").as("data")),
      oneD.geom)
    assert(f.dtype == FloatType)
    assert(f.mapValues(_ * lit(10)).dtype == FloatType)
    assert(f.zipWith(f)(_ + _).dtype == FloatType)
    assert(f.sliceRange(2, 7).dtype == FloatType)
    assert(f.stencilLaplacian().dtype == FloatType)
    // values survive (payloads are small integers, exact in float32)
    assert(asMap(f.mapValues(_ * lit(10)).sumPerTimestep()) == Map(0L -> 360.0, 1L -> 720.0))
    // int64 payload: integer ops stay long; true division widens (numpy-like)
    val g = ChunkedArray(
      oneD.df.select(col("timestep"), col("pos"), col("data").cast("array<bigint>").as("data")),
      oneD.geom)
    assert(g.dtype == LongType)
    assert(g.mapValues(_ * lit(2L)).dtype == LongType)
    assert(g.stencilLaplacian().dtype == LongType)
    assert(g.mapValues(_ / lit(2.0), keepDtype = false).dtype == DoubleType)
    // explicit astype round-trip
    assert(g.astype(FloatType).dtype == FloatType)
    assert(asMap(g.mapValues(_ * lit(2L)).sumPerTimestep()) == Map(0L -> 72.0, 1L -> 144.0))
  }

  test("rechunk re-addresses every cell exactly (1-d split and 2-d merge)") {
    // offset-sensitive check: flatten both representations to
    // (timestep, global coords, v) with independent Scala-side math
    def cells(a: ChunkedArray): Map[(Long, Seq[Int]), Double] =
      a.df.collect().flatMap { r =>
        val ts = r.getLong(0)
        val pos = r.getSeq[Int](1)
        val data = r.getSeq[Double](2)
        val shape = a.geom.chunkShape
        val strides = shape.scanRight(1)(_ * _).tail
        data.zipWithIndex.map { case (v, i) =>
          val g = shape.indices.map(d => pos(d) * shape(d) + (i / strides(d)) % shape(d))
          (ts, g) -> v
        }
      }.toMap
    val a1 = oneD
    val r1 = a1.rechunk(Seq(2)) // 2x4 -> 4x2
    assert(r1.geom == ArrayGeometry(Seq(4), Seq(2)))
    assert(cells(r1) == cells(a1))
    val a2 = twoD
    val r2 = a2.rechunk(Seq(4, 2)) // 2x2 grid of 2x2 -> 1x2 grid of 4x2
    assert(r2.geom == ArrayGeometry(Seq(1, 2), Seq(4, 2)))
    assert(cells(r2) == cells(a2))
    // stats invariant under rechunk
    val s0 = a2.statsPerTimestep.collect().map(_.toString).sorted.toSeq
    val s1 = r2.statsPerTimestep.collect().map(_.toString).sorted.toSeq
    assert(s0 == s1)
  }

  test("transpose2d moves cell (i,j) to (j,i) exactly, no shuffle") {
    val a = twoD // value(i,j) = 10*i + j
    val t = a.transpose2d()
    assert(t.geom == ArrayGeometry(Seq(2, 2), Seq(2, 2)))
    val got = t.df.collect().flatMap { r =>
      val pos = r.getSeq[Int](1); val data = r.getSeq[Double](2)
      data.zipWithIndex.map { case (v, k) =>
        (pos(0) * 2 + k / 2, pos(1) * 2 + k % 2) -> v }
    }.toMap
    for (i <- 0 until 4; j <- 0 until 4)
      assert(got((i, j)) == 10.0 * j + i, s"cell ($i,$j)")
    assert(!t.df.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("transpose permutes a 3-d array's axes exactly, no shuffle") {
    // value(i,j,k) = 16i + 4j + k; perm (2,0,1): out(a,b,c) = in(b,c,a)
    val t = threeD.transpose(Seq(2, 0, 1))
    assert(t.geom == ArrayGeometry(Seq(2, 2, 2), Seq(2, 2, 2)))
    val got = t.rowsNd.collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)) -> r.getDouble(4)).toMap
    for { a <- 0 to 3; b <- 0 to 3; c <- 0 to 3 }
      assert(got((a.toLong, b.toLong, c.toLong)) == 16.0 * b + 4 * c + a,
        s"cell ($a,$b,$c)")
    assert(!t.df.queryExecution.executedPlan.toString.contains("Exchange"))
    // double application of the inverse permutation restores the array
    val back = t.transpose(Seq(1, 2, 0))
    assert(asMap(back.zipWith(threeD)((x, y) => y - x).sumPerTimestep())
      .apply(0L) == 0.0)
  }

  test("squeeze/expand_dims are pure-metadata inverses, no shuffle") {
    val a = twoD // (4,4)
    val e = a.expandDims(1) // (4,1,4)
    assert(e.geom == ArrayGeometry(Seq(2, 1, 2), Seq(2, 1, 2)))
    val back = e.squeeze() // all size-1 axes
    assert(back.geom == a.geom)
    assert(asMap(back.zipWith(a)((x, y) => y - x).sumPerTimestep()).apply(0L) == 0.0)
    // neither direction exchanges anything
    assert(!e.df.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(!back.df.queryExecution.executedPlan.toString.contains("Exchange"))
    // explicit-axis squeeze refuses a non-size-1 axis, rank-0 refused
    intercept[IllegalArgumentException](a.squeeze(Seq(0)))
    intercept[IllegalArgumentException](oneD.expandDims(1).squeeze(Seq(0, 1)))
    // leading/trailing inserts work
    assert(a.expandDims(0).geom == ArrayGeometry(Seq(1, 2, 2), Seq(1, 2, 2)))
    assert(a.expandDims(2).geom == ArrayGeometry(Seq(2, 2, 1), Seq(2, 2, 1)))
  }

  test("swapaxes and moveaxis are the numpy permutations") {
    // swapaxes(0,1) on 2-d == transpose2d
    val s = twoD.swapaxes(0, 1)
    val t = twoD.transpose2d()
    assert(asMap(s.zipWith(t)((x, y) => y - x).sumPerTimestep()).apply(0L) == 0.0)
    // moveaxis(0, 2) on value(i,j,k)=16i+4j+k: out(a,b,c) = in(c,a,b)
    val m = threeD.moveaxis(0, 2)
    val got = m.rowsNd.collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)) -> r.getDouble(4)).toMap
    for { a <- 0 to 3; b <- 0 to 3; c <- 0 to 3 }
      assert(got((a.toLong, b.toLong, c.toLong)) == 16.0 * c + 4 * a + b,
        s"cell ($a,$b,$c)")
    // moveaxis(src, src) is the identity permutation
    val id = threeD.moveaxis(1, 1)
    assert(asMap(id.zipWith(threeD)((x, y) => y - x).sumPerTimestep()).apply(0L) == 0.0)
    intercept[IllegalArgumentException](twoD.swapaxes(0, 2))
    intercept[IllegalArgumentException](twoD.moveaxis(2, 0))
  }

  test("axisSum reduces any axis of a 3-d array to the 2-d marginals") {
    val dense = Array.tabulate(4, 4, 4)((i, j, k) => 16.0 * i + 4 * j + k)
    for (axis <- 0 to 2) {
      val out = threeD.axisSum(axis)
      assert(out.geom == ArrayGeometry(Seq(2, 2), Seq(2, 2)), s"axis $axis")
      val got = out.rowsNd.collect()
        .map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
      for { a <- 0 to 3; b <- 0 to 3 } {
        val want = (0 to 3).map { r =>
          val idx = axis match {
            case 0 => (r, a, b); case 1 => (a, r, b); case _ => (a, b, r)
          }
          dense(idx._1)(idx._2)(idx._3)
        }.sum
        assert(got((a.toLong, b.toLong)) == want, s"axis $axis cell ($a,$b)")
      }
    }
  }

  test("tensordot(axes=2) contracts two 3-d arrays to a 2-d result") {
    // A(i,j,k) = 16i+4j+k, B = A: out(i,m) = Σ_{j,k} A(i,j,k) * A(j,k,m)
    val out = threeD.tensordot(threeD, axes = 2)
    assert(out.geom == ArrayGeometry(Seq(2, 2), Seq(2, 2)))
    val dense = Array.tabulate(4, 4, 4)((i, j, k) => 16.0 * i + 4 * j + k)
    val got = out.rowsNd.collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    for { i <- 0 to 3; m <- 0 to 3 } {
      val want = (for { j <- 0 to 3; k <- 0 to 3 }
        yield dense(i)(j)(k) * dense(j)(k)(m)).sum
      assert(got((i.toLong, m.toLong)) == want, s"cell ($i,$m)")
    }
    // full contraction (axes = rank) is the rank-0 Frobenius product
    val frob = threeD.tensordot(threeD, axes = 3)
    assert(frob.geom.dims == 0)
    assert(asMap(frob.sumPerTimestep())
      .apply(0L) == dense.flatten.flatten.map(v => v * v).sum)
  }

  test("concatenate stacks along an axis as a pure metadata union") {
    val a = oneD
    val b = oneD.copy(df = oneD.df.withColumn("data",
      org.apache.spark.sql.functions.transform(
        org.apache.spark.sql.functions.col("data"), x => x * 100)))
    val c = a.concatenate(b, axis = 0)
    assert(c.geom == ArrayGeometry(Seq(4), Seq(4)))
    val t0 = c.df.filter("timestep = 0").collect()
      .map(r => r.getSeq[Int](1).head -> r.getSeq[Double](2)).toMap
    assert(t0(0) == Seq(1.0, 2.0, 3.0, 4.0))
    assert(t0(2) == Seq(100.0, 200.0, 300.0, 400.0)) // b shifted by 2 chunks
    assert(!c.df.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("repartitionByGrid preserves results through an aligned zip") {
    val a = oneD.repartitionByGrid()
    val d = a.zipWith(a.mapValues(_ * 3))((x, y) => y - x)
    assert(asMap(d.sumPerTimestep()) == Map(0L -> 72.0, 1L -> 144.0))
  }

  test("elementwise ops stay shuffle-free (narrow plan)") {
    val plan = oneD.mapValues(_ * 2).df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("zip after repartitionByGrid adds no exchange beyond the re-clustering") {
    // The doreisa partitioning-strategy analog (tests/test_partitioning.py):
    // repartitionByGrid clusters on exactly the zip key, so the zip join
    // must run on that partitioning as-is — any further Exchange would
    // mean the explicit re-clustering was wasted. Broadcast is disabled so
    // the join actually exercises the partitioned path (on a cluster the
    // zipped sides are both corpus-sized; broadcast would not apply).
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = oneD.repartitionByGrid()
      val z = a.zipWith(a.mapValues(_ * 2))((x, y) => y - x)
      assert(asMap(z.sumPerTimestep()) == Map(0L -> 36.0, 1L -> 72.0))
      z.df.collect() // materialize so AQE settles the final plan
      // AQE's toString appends the pre-execution "Initial Plan" — assert
      // on the final plan section only
      val plan = z.df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      val reused = "ReusedExchange".r.findAllIn(plan).size
      // at most the two explicit re-clusterings (one per zip side), and a
      // reuse of the identical scan subtree counts in its favor
      assert(exchanges - reused <= 2 && !plan.contains("BroadcastHashJoin"),
        s"zip added exchanges: $exchanges ($reused reused) in:\n$plan")
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("release unpersists memoized chunk relations (memory release contract)") {
    import graft.operators.{ArrayQueries, Memo}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    // the memo hands out frames re-rooted at the cache entry's
    // InMemoryRelation; its builder holds the persisted column buffers
    def builderOf(a: ChunkedArray) = a.df.queryExecution.analyzed match {
      case imr: InMemoryRelation => imr.cacheBuilder
      case other => fail(s"expected the memo's InMemoryRelation leaf, got:\n$other")
    }
    def request(): ChunkedArray = {
      val dir = "/root/testdata/sf0.001"
      ArrayQueries.eventsArray1dCached(spark, dir)
    }
    val arr = request()
    arr.df.count()
    assert(builderOf(arr).isCachedColumnBuffersLoaded)
    Memo.release(spark)
    assert(!builderOf(arr).isCachedColumnBuffersLoaded, "release must drop the blocks")
    // next request rebuilds and re-persists, then clean up again
    val arr2 = request()
    assert(!(builderOf(arr2) eq builderOf(arr)))
    arr2.df.count()
    assert(builderOf(arr2).isCachedColumnBuffersLoaded)
    Memo.release(spark)
  }

  /** Flatten to (timestep, global coords) -> value with independent
    * Scala-side index math (shared by the re-addressing specs). */
  private def cellMap(a: ChunkedArray): Map[(Long, Seq[Int]), Double] =
    a.df.collect().flatMap { r =>
      val ts = r.getLong(0)
      val pos = r.getSeq[Int](1)
      val data = r.getSeq[Double](2)
      val shape = a.geom.chunkShape
      val strides = shape.scanRight(1)(_ * _).tail
      data.zipWithIndex.map { case (v, i) =>
        val g = shape.indices.map(d => pos(d) * shape(d) + (i / strides(d)) % shape(d))
        (ts, g) -> v
      }
    }.toMap

  test("reshape re-reads the flat row-major order under a new rank exactly") {
    // 4x4 value(i,j) = 10i + j -> 16-vector: cell f = 10*(f/4) + f%4
    val r1 = twoD.reshape(Seq(16), Seq(4))
    assert(r1.geom == ArrayGeometry(Seq(4), Seq(4)))
    val got1 = cellMap(r1)
    for (f <- 0 until 16)
      assert(got1((0L, Seq(f))) == 10.0 * (f / 4) + f % 4, s"flat $f")
    // rank-raising: 1-d [1..8] -> 2x4: cell (i,j) = 4i + j + 1 at t=0
    val r2 = oneD.reshape(Seq(2, 4), Seq(2, 2))
    assert(r2.geom == ArrayGeometry(Seq(1, 2), Seq(2, 2)))
    val got2 = cellMap(r2)
    for (i <- 0 until 2; j <- 0 until 4)
      assert(got2((0L, Seq(i, j))) == 4.0 * i + j + 1, s"cell ($i,$j)")
    // round trip restores the original cells (any chunking of them)
    assert(cellMap(r2.reshape(Seq(8), Seq(4))) == cellMap(oneD))
    // stats are invariant under reshape
    assert(asMap(r1.sumPerTimestep()) == asMap(twoD.sumPerTimestep()))
  }

  test("stack adds a leading axis as pure metadata, slabs in order") {
    val s = ChunkedArray.stack(Seq(oneD, oneD.mapValues(_ * 2)))
    assert(s.geom == ArrayGeometry(Seq(2, 2), Seq(1, 4)))
    val base = cellMap(oneD)
    val got = cellMap(s)
    for (((ts, g), v) <- base) {
      assert(got((ts, 0 +: g)) == v, s"slab 0 cell $g")
      assert(got((ts, 1 +: g)) == v * 2, s"slab 1 cell $g")
    }
    // no payload movement: the union plan has no Exchange
    assert(!s.df.queryExecution.executedPlan.toString.contains("Exchange"))
    // per-slab totals through two axis reductions
    val slabs = s.axisSum(1).rowsNd.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(slabs((0L, 0L)) == 36.0 && slabs((0L, 1L)) == 72.0)
  }

  test("stencilAxis matches a dense reference for zero and reflect boundaries") {
    def dense1d(v: Array[Double], w: Seq[Double], reflect: Boolean): Array[Double] = {
      val r = w.length / 2
      val n = v.length
      def at(x: Int): Double =
        if (x >= 0 && x < n) v(x)
        else if (!reflect) 0.0
        else if (x < 0) v(-x)
        else v(2 * (n - 1) - x)
      Array.tabulate(n)(x =>
        w.indices.map(k => w(k) * at(x + k - r)).reduce(_ + _))
    }
    val w = Seq(0.25, 0.5, 0.25)
    val v0 = Array.tabulate(8)(i => i + 1.0)
    val v1 = Array.tabulate(8)(i => 2.0 * (i + 1))
    for (mode <- Seq("zero", "reflect")) {
      val out = cellMap(oneD.stencilAxis(0, w, mode))
      for (i <- 0 until 8) {
        assert(out((0L, Seq(i))) == dense1d(v0, w, mode == "reflect")(i), s"$mode t0 i=$i")
        assert(out((1L, Seq(i))) == dense1d(v1, w, mode == "reflect")(i), s"$mode t1 i=$i")
      }
    }
    // depth 2 (5-point) crosses a whole chunk face; rank-2 exercises the
    // slab indexing over the remaining dims
    val w5 = Seq(1.0, 1.0, 1.0, 1.0, 1.0)
    val out5 = cellMap(oneD.stencilAxis(0, w5, "zero"))
    for (i <- 0 until 8)
      assert(out5((0L, Seq(i))) ==
        (i - 2 to i + 2).map(x => if (x >= 0 && x < 8) x + 1.0 else 0.0).sum, s"5pt i=$i")
    val a2 = twoD // value(i,j) = 10i + j, 4x4 in 2x2 chunks
    val d2 = Array.tabulate(4, 4)((i, j) => 10.0 * i + j)
    val out2 = cellMap(a2.stencilAxis(0, w, "reflect"))
    def at2(i: Int, j: Int): Double =
      if (i >= 0 && i < 4) d2(i)(j) else if (i < 0) d2(-i)(j) else d2(2 * 3 - i)(j)
    for (i <- 0 until 4; j <- 0 until 4)
      assert(out2((0L, Seq(i, j))) ==
        w.indices.map(k => w(k) * at2(i + k - 1, j)).reduce(_ + _), s"2d ($i,$j)")
  }

  test("gradientAxis reproduces numpy gradient: central interior, one-sided edges") {
    // numpy np.gradient: interior (f[x+1]-f[x-1])/2, edges f[1]-f[0] and
    // f[n-1]-f[n-2]. The linear-boundary central kernel must equal it
    // exactly on integer-valued cells (both spellings are exact there).
    def npGrad(v: Array[Double]): Array[Double] = {
      val n = v.length
      Array.tabulate(n) { x =>
        if (x == 0) v(1) - v(0)
        else if (x == n - 1) v(n - 1) - v(n - 2)
        else (v(x + 1) - v(x - 1)) / 2.0
      }
    }
    val v0 = Array.tabulate(8)(i => i + 1.0)       // ramp -> constant 1.0
    val v1 = Array.tabulate(8)(i => 2.0 * (i + 1)) // 2x ramp -> constant 2.0
    val out = cellMap(oneD.gradientAxis(0))
    for (i <- 0 until 8) {
      assert(out((0L, Seq(i))) == npGrad(v0)(i), s"t0 i=$i")
      assert(out((1L, Seq(i))) == npGrad(v1)(i), s"t1 i=$i")
    }
    // non-linear values still agree exactly (integers: both formulas exact)
    val sq = ChunkedArray(Seq(
      (0L, Seq(0), Seq(0.0, 1.0, 4.0, 9.0)),
      (0L, Seq(1), Seq(16.0, 25.0, 36.0, 49.0))).toDF("timestep", "pos", "data"),
      ArrayGeometry(Seq(2), Seq(4)))
    val gotSq = cellMap(sq.gradientAxis(0))
    val refSq = npGrad(Array.tabulate(8)(i => (i * i).toDouble))
    for (i <- 0 until 8) assert(gotSq((0L, Seq(i))) == refSq(i), s"sq i=$i")
    // rank-2 along axis 0: per-column gradients, edges one-sided
    val d2 = Array.tabulate(4, 4)((i, j) => 10.0 * i + j)
    val out2 = cellMap(twoD.gradientAxis(0))
    for (j <- 0 until 4) {
      val colV = Array.tabulate(4)(i => d2(i)(j))
      val g = npGrad(colV)
      for (i <- 0 until 4) assert(out2((0L, Seq(i, j))) == g(i), s"2d ($i,$j)")
    }
  }

  test("einsum plans contraction specs onto tensordot + output transpose") {
    // identity-order spec == plain tensordot, cell for cell
    val td = cellMap(twoD.tensordot(twoD))
    assert(cellMap(ChunkedArray.einsum("ij,jk->ik", twoD, twoD)) == td)
    // permuted output: einsum("ij,kj->ki") -> out[k][i] = sum_j a(i,j)*a(k,j)
    val d2 = Array.tabulate(4, 4)((i, j) => 10.0 * i + j)
    val got = cellMap(ChunkedArray.einsum("ij,kj->ki", twoD, twoD))
    for (k <- 0 until 4; i <- 0 until 4) {
      val want = (0 until 4).map(j => d2(i)(j) * d2(k)(j)).sum
      assert(got((0L, Seq(k, i))) == want, s"($k,$i)")
    }
    // out-of-scope and malformed specs refuse loudly
    for (bad <- Seq(
        "ij,jk->ij", // k is kept but unnamed in the output
        "ii,ik->k", // repeated within a term: the single-operand form
        "ij,jk", // no explicit output
        "ij,jk->ikz")) // unknown output subscript
      assertThrows[IllegalArgumentException](ChunkedArray.einsum(bad, twoD, twoD))
  }

  test("einsum outer: 'i,j->ij' is tensordot(axes=0), exact block products") {
    // oneD at t=0 is [1..8]: outer(i,j) = a(i)*a(j)
    val o = ChunkedArray.einsum("i,j->ij", oneD, oneD)
    assert(o.geom == ArrayGeometry(Seq(2, 2), Seq(4, 4)))
    val got = cellMap(o)
    for (i <- 0 until 8; j <- 0 until 8) {
      val a = (t: Int) => if (t == 0) (1 to 8).map(_.toDouble) else (1 to 8).map(_ * 2.0)
      assert(got((0L, Seq(i, j))) == a(0)(i) * a(0)(j), s"t0 ($i,$j)")
      assert(got((1L, Seq(i, j))) == a(1)(i) * a(1)(j), s"t1 ($i,$j)")
    }
    // permuted output comes through the standard transpose
    val p = cellMap(ChunkedArray.einsum("i,j->ji", oneD, oneD))
    for (i <- 0 until 8; j <- 0 until 8)
      assert(p((0L, Seq(j, i))) == got((0L, Seq(i, j))), s"perm ($i,$j)")
    // rank-2 x rank-2 outer: "ij,kl->ijkl" (formerly refused)
    val o4 = ChunkedArray.einsum("ij,kl->ijkl", twoD, twoD)
    assert(o4.geom == ArrayGeometry(Seq(2, 2, 2, 2), Seq(2, 2, 2, 2)))
    val d2 = Array.tabulate(4, 4)((i, j) => 10.0 * i + j)
    val g4 = cellMap(o4)
    for (i <- 0 until 4; j <- 0 until 4; k <- 0 until 4; l <- 0 until 4)
      assert(g4((0L, Seq(i, j, k, l))) == d2(i)(j) * d2(k)(l), s"($i,$j,$k,$l)")
    // batched outer (the last refusal class, retired r19): per batch
    // slice b, the outer product of A's row b with itself —
    // tensordotBatched with the contraction extent pinned to 1
    val bo = ChunkedArray.einsum("bi,bj->bij", twoD, twoD)
    assert(bo.geom == ArrayGeometry(Seq(2, 2, 2), Seq(2, 2, 2)))
    val gbo = cellMap(bo)
    for (b <- 0 until 4; i <- 0 until 4; j <- 0 until 4)
      assert(gbo((0L, Seq(b, i, j))) == d2(b)(i) * d2(b)(j), s"bo ($b,$i,$j)")
    // permuted batched-outer output goes through the standard transpose
    val bp = cellMap(ChunkedArray.einsum("bi,bj->ijb", twoD, twoD))
    for (b <- 0 until 4; i <- 0 until 4; j <- 0 until 4)
      assert(bp((0L, Seq(i, j, b))) == gbo((0L, Seq(b, i, j))), s"bp ($i,$j,$b)")
  }

  test("einsum N-operand: pairwise left-to-right planner") {
    val d2 = Array.tabulate(4, 4)((i, j) => 10.0 * i + j)
    def mm(x: Array[Array[Double]], y: Array[Array[Double]]): Array[Array[Double]] =
      Array.tabulate(4, 4)((i, k) => (0 until 4).map(j => x(i)(j) * y(j)(k)).sum)
    // "ij,jk,kl->il" == (A·A)·A — integer cells, every product/sum exact
    val got = cellMap(ChunkedArray.einsum("ij,jk,kl->il", Seq(twoD, twoD, twoD)))
    val ref = mm(mm(d2, d2), d2)
    for (i <- 0 until 4; l <- 0 until 4)
      assert(got((0L, Seq(i, l))) == ref(i)(l), s"chain ($i,$l)")
    // a letter THREE terms share batches through the first pair and
    // contracts where it last appears: "ij,jk,jl->ikl"
    val tri = cellMap(ChunkedArray.einsum("ij,jk,jl->ikl", Seq(twoD, twoD, twoD)))
    for (i <- 0 until 4; k <- 0 until 4; l <- 0 until 4) {
      val want = (0 until 4).map(j => d2(i)(j) * d2(j)(k) * d2(j)(l)).sum
      assert(tri((0L, Seq(i, k, l))) == want, s"tri ($i,$k,$l)")
    }
    // permuted final output — exactly one transpose, at the end
    val perm = cellMap(ChunkedArray.einsum("ij,jk,kl->li", Seq(twoD, twoD, twoD)))
    for (i <- 0 until 4; l <- 0 until 4)
      assert(perm((0L, Seq(l, i))) == ref(i)(l), s"perm ($l,$i)")
    // 4-operand chain recurses
    val four = cellMap(ChunkedArray.einsum("ij,jk,kl,lm->im",
      Seq(twoD, twoD, twoD, twoD)))
    val ref4 = mm(mm(mm(d2, d2), d2), d2)
    for (i <- 0 until 4; m <- 0 until 4)
      assert(four((0L, Seq(i, m))) == ref4(i)(m), s"four ($i,$m)")
    // one- and two-term Seq specs route to the existing faces
    assert(cellMap(ChunkedArray.einsum("ii->i", Seq(twoD))) ==
      cellMap(ChunkedArray.einsum("ii->i", twoD)))
    assert(cellMap(ChunkedArray.einsum("ij,jk->ik", Seq(twoD, twoD))) ==
      cellMap(ChunkedArray.einsum("ij,jk->ik", twoD, twoD)))
    // refusals: term/operand count drift, a lone letter absent from the
    // output (sum-out is an axisSum composition), within-term repeats
    assertThrows[IllegalArgumentException](
      ChunkedArray.einsum("ij,jk->ik", Seq(twoD, twoD, twoD)))
    assertThrows[IllegalArgumentException](
      ChunkedArray.einsum("ix,jk,kl->jl", Seq(twoD, twoD, twoD)))
    assertThrows[IllegalArgumentException](
      ChunkedArray.einsum("ii,ik,kl->il", Seq(twoD, twoD, twoD)))
  }

  test("einsum diagonal: 'ii->i' gathers matched coordinates with zero exchanges") {
    // twoD value(i,j) = 10i + j -> diagonal = 11i
    val d = ChunkedArray.einsum("ii->i", twoD)
    assert(d.geom == ArrayGeometry(Seq(2), Seq(2)))
    val got = cellMap(d)
    assert(got == (0 until 4).map(i => (0L, Seq(i)) -> 11.0 * i).toMap)
    // the numpy-stride-trick claim: a pure narrow gather, no shuffle
    val plan = d.df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"diagonal must be zero-exchange:\n$plan")
    // threeD value(i,j,k) = 16i + 4j + k
    val pd = cellMap(ChunkedArray.einsum("iji->ij", threeD))
    for (i <- 0 until 4; j <- 0 until 4)
      assert(pd((0L, Seq(i, j))) == 16.0 * i + 4 * j + i, s"iji->ij ($i,$j)")
    val td = cellMap(ChunkedArray.einsum("iii->i", threeD))
    for (i <- 0 until 4) assert(td((0L, Seq(i))) == 21.0 * i, s"iii->i $i")
    // no-repeat single-operand spec = pure permutation (numpy's
    // einsum("ij->ji") transpose spelling)
    val t = cellMap(ChunkedArray.einsum("ij->ji", twoD))
    val d2t = Array.tabulate(4, 4)((i, j) => 10.0 * i + j)
    for (i <- 0 until 4; j <- 0 until 4)
      assert(t((0L, Seq(j, i))) == d2t(i)(j), s"transpose ($i,$j)")
    // malformed: reductions and unknown letters refuse loudly
    for (bad <- Seq("ii->", "ij->i", "ii->ij", "ii"))
      assertThrows[IllegalArgumentException](ChunkedArray.einsum(bad, twoD))
  }

  test("einsum batch: 'bij,bjk->bik' contracts within each batch slice") {
    // threeD value(b,i,j) = 16b + 4i + j
    def a3(b: Int, i: Int, j: Int): Double = 16.0 * b + 4 * i + j
    val got = cellMap(ChunkedArray.einsum("bij,bjk->bik", threeD, threeD))
    for (b <- 0 until 4; i <- 0 until 4; k <- 0 until 4) {
      val want = (0 until 4).map(j => a3(b, i, j) * a3(b, j, k)).sum
      assert(got((0L, Seq(b, i, k))) == want, s"($b,$i,$k)")
    }
    // permuted output order: the batch letter can land anywhere
    val perm = cellMap(ChunkedArray.einsum("bij,bjk->ikb", threeD, threeD))
    for (b <- 0 until 4; i <- 0 until 4; k <- 0 until 4)
      assert(perm((0L, Seq(i, k, b))) == got((0L, Seq(b, i, k))), s"perm ($i,$k,$b)")
    // batch axes not leading in the TERMS: einsum permutes them there
    val mid = cellMap(ChunkedArray.einsum("ibj,bjk->bik", threeD, threeD))
    for (b <- 0 until 4; i <- 0 until 4; k <- 0 until 4) {
      // first operand read as A[i,b,j]
      val want = (0 until 4).map(j => a3(i, b, j) * a3(b, j, k)).sum
      assert(mid((0L, Seq(b, i, k))) == want, s"mid ($b,$i,$k)")
    }
  }

  test("zipWithAuto rechunks a mismatched operand onto this grid") {
    val a = oneD
    val b = oneD.rechunk(Seq(2)) // same logical array, 4 chunks of 2
    val z = a.zipWithAuto(b)(_ * _) // pairing-sensitive: cell squares
    assert(z.geom == a.geom)
    val got = cellMap(z)
    for (i <- 0 until 8) {
      assert(got((0L, Seq(i))) == math.pow(i + 1.0, 2), s"t0 i=$i")
      assert(got((1L, Seq(i))) == math.pow(2.0 * (i + 1), 2), s"t1 i=$i")
    }
    // identical geometries skip the rechunk entirely
    assert(asMap(a.zipWithAuto(a)(_ + _).sumPerTimestep()) ==
      Map(0L -> 72.0, 1L -> 144.0))
    intercept[IllegalArgumentException] {
      a.zipWithAuto(twoD)(_ + _) // different logical shapes
    }
  }

  test("flip reverses an axis in place: pure narrow, no exchange") {
    val f = twoD.flip(1) // value(i,j) = 10*i + j
    assert(f.geom == twoD.geom)
    val got = f.rowsNd.collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    for (i <- 0 until 4; j <- 0 until 4)
      assert(got((i.toLong, j.toLong)) == 10.0 * i + (3 - j), s"cell ($i,$j)")
    assert(!f.df.queryExecution.executedPlan.toString.contains("Exchange"))
    val g0 = twoD.flip(0).rowsNd.collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    for (i <- 0 until 4; j <- 0 until 4)
      assert(g0((i.toLong, j.toLong)) == 10.0 * (3 - i) + j, s"cell ($i,$j)")
    // involution: double flip restores the array
    assert(asMap(twoD.flip(0).flip(0).zipWith(twoD)((x, y) => y - x)
      .sumPerTimestep()).apply(0L) == 0.0)
  }

  test("roll shifts circularly via slab messages (aligned and unaligned)") {
    // unaligned 1-d: shift 3 over chunks of 4 (q=0, r=3); t0 value at g is g+1
    val g1 = oneD.roll(0, 3).rowsNd.filter(col("timestep") === 0).collect()
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    for (g <- 0 until 8)
      assert(g1(g.toLong) == ((g - 3 + 8) % 8) + 1.0, s"g=$g")
    // 2-d row roll crossing a chunk boundary (q=1, r=1)
    val g2 = twoD.roll(0, 3).rowsNd.collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    for (i <- 0 until 4; j <- 0 until 4)
      assert(g2((i.toLong, j.toLong)) == 10.0 * ((i + 1) % 4) + j, s"cell ($i,$j)")
    // chunk-aligned column roll (r=0) degenerates to pure re-addressing
    val g3 = twoD.roll(1, 2).rowsNd.collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    for (i <- 0 until 4; j <- 0 until 4)
      assert(g3((i.toLong, j.toLong)) == 10.0 * i + ((j + 2) % 4), s"cell ($i,$j)")
    // full-circle shift is the identity; negative shifts wrap
    assert(asMap(twoD.roll(0, 4).zipWith(twoD)((x, y) => y - x)
      .sumPerTimestep()).apply(0L) == 0.0)
    assert(asMap(twoD.roll(0, -1).zipWith(twoD.roll(0, 3))((x, y) => y - x)
      .sumPerTimestep()).apply(0L) == 0.0)
  }

  test("pad extends an axis with a constant (aligned and slab-offset)") {
    // slab-offset 1-d pad: before=2 over chunks of 4 (r=2)
    val p1 = oneD.pad(0, 2, 2, 9.5)
    assert(p1.geom == ArrayGeometry(Seq(3), Seq(4)))
    val g1 = p1.rowsNd.filter(col("timestep") === 0).collect()
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(g1.size == 12)
    for (g <- 0 until 12)
      assert(g1(g.toLong) == (if (g >= 2 && g < 10) (g - 2) + 1.0 else 9.5), s"g=$g")
    // chunk-aligned 2-d pad on axis 1 (r=0): pure-pad chunks come from seeds
    val p2 = twoD.pad(1, 2, 2, -1.0)
    assert(p2.geom == ArrayGeometry(Seq(2, 4), Seq(2, 2)))
    val g2 = p2.rowsNd.collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(g2.size == 32)
    for (i <- 0 until 4; j <- 0 until 8)
      assert(g2((i.toLong, j.toLong)) ==
        (if (j >= 2 && j < 6) 10.0 * i + (j - 2) else -1.0), s"cell ($i,$j)")
    // asymmetric slab pad on axis 0 (before=1, after=3: r=1)
    val p3 = twoD.pad(0, 1, 3, 0.0)
    assert(p3.geom == ArrayGeometry(Seq(4, 2), Seq(2, 2)))
    val g3 = p3.rowsNd.collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    for (i <- 0 until 8; j <- 0 until 4)
      assert(g3((i.toLong, j.toLong)) ==
        (if (i >= 1 && i < 5) 10.0 * (i - 1) + j else 0.0), s"cell ($i,$j)")
  }

  test("any/all/prod faces: truthiness and exact small-int products") {
    // oneD has no zeros -> any=1, all=1 everywhere
    val t0 = oneD.truthPerTimestep.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(t0 == Map(0L -> (1L, 1L), 1L -> (1L, 1L)))
    // zero out cells <= 1.5: t0 loses its 1.0 cell -> all=0; t1 keeps all
    val z = oneD.where(_ > 1.5, org.apache.spark.sql.functions.lit(0.0))
    val t1 = z.truthPerTimestep.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(t1 == Map(0L -> (1L, 0L), 1L -> (1L, 1L)))
    // an all-zero array: any=0, all=0
    val t2 = oneD.mapValues(_ * 0).truthPerTimestep.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(t2 == Map(0L -> (0L, 0L), 1L -> (0L, 0L)))
    // axis faces on the thresholded 2-d array: row 0 of twoD is 0..3
    val z2 = twoD.where(_ >= 10.0, org.apache.spark.sql.functions.lit(0.0))
    val anyRows = z2.axisAny(1).rowsNd.collect()
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val allRows = z2.axisAll(1).rowsNd.collect()
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(anyRows == Map(0L -> 0.0, 1L -> 1.0, 2L -> 1.0, 3L -> 1.0))
    assert(allRows == Map(0L -> 0.0, 1L -> 1.0, 2L -> 1.0, 3L -> 1.0))
    // global product: 8! and 2^8 * 8! exactly
    val p = oneD.prodPerTimestep().collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(p == Map(0L -> 40320.0, 1L -> 256.0 * 40320.0))
    // axis product along rows of twoD: Π_j (10i + j)
    val pr = twoD.axisProd(1).rowsNd.collect()
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    for (i <- 0 until 4)
      assert(pr(i.toLong) == (0 until 4).map(j => 10.0 * i + j).product, s"row $i")
  }

  test("corrPerTimestep: self-correlation ~1, constant side NULL, negation ~-1") {
    import org.apache.spark.sql.functions.lit
    // |corr(a, a) - 1| bounded by the sqrt(v)·sqrt(v) rounding only
    // (the MOMENTS are exact decimals; only the final double formula
    // rounds — the cross-engine story is bit-replay, not exactness)
    def vals(df: org.apache.spark.sql.DataFrame): Seq[Double] =
      df.collect().toSeq.map(_.getDouble(2))
    assert(vals(oneD.corrPerTimestep(oneD)).forall(v => math.abs(v - 1.0) < 1e-12))
    // a constant other side: zero variance -> den 0 -> NULL
    val const = oneD.corrPerTimestep(oneD.mapValues(_ * 0 + lit(3.0))).collect()
    assert(const.forall(_.isNullAt(2)))
    // an exact positive affine map keeps corr at ~1, negation at ~-1
    assert(vals(oneD.corrPerTimestep(oneD.mapValues(x => x * 2 + lit(1.0))))
      .forall(v => math.abs(v - 1.0) < 1e-12))
    assert(vals(oneD.corrPerTimestep(oneD.mapValues(x => x * -1)))
      .forall(v => math.abs(v + 1.0) < 1e-12))
  }

  test("cumprodAxis rank-1 equals the scalar scan, carry crosses chunks") {
    // [1..8] -> 1, 2, 6, 24, 120, 720, 5040, 40320 (cells 5..8 live in
    // chunk 1, so their prefixes carry chunk 0's total product 24)
    val got = cellMap(oneD.cumprodAxis(0))
    val want0 = Array(1.0, 2.0, 6.0, 24.0, 120.0, 720.0, 5040.0, 40320.0)
    for (i <- 0 until 8) assert(got((0L, Seq(i))) == want0(i), s"idx $i")
    // t=1: evens 2,4,..,16 — products stay exact below 2^53
    val evens = (1 to 8).map(_ * 2.0)
    val want1 = evens.scanLeft(1.0)(_ * _).tail
    for (i <- 0 until 8) assert(got((1L, Seq(i))) == want1(i), s"t1 idx $i")
  }

  test("cumprodAxis matches a dense model on both 2-d axes") {
    // values 10i + j <= 33; any 4-long line product < 33^4 — exact
    val dense = Array.tabulate(4, 4)((i, j) => 10.0 * i + j)
    for (axis <- 0 to 1) {
      val got = cellMap(twoD.cumprodAxis(axis))
      for (i <- 0 until 4; j <- 0 until 4) {
        val want =
          if (axis == 0) (0 to i).map(k => dense(k)(j)).product
          else (0 to j).map(k => dense(i)(k)).product
        assert(got((0L, Seq(i, j))) == want, s"axis $axis cell ($i,$j)")
      }
    }
  }

  test("sortAxisRows/argsortAxisRows: cross-chunk lines, stable ties (numpy rule)") {
    // one 8-long line split across 2 chunks, with a 3-way tie at 2.0
    val rows = Seq(
      (0L, Seq(0), Seq(5.0, 2.0, 2.0, 7.0)),
      (0L, Seq(1), Seq(1.0, 2.0, 9.0, 0.0)))
    val a = ChunkedArray(rows.toDF("timestep", "pos", "data"), ArrayGeometry(Seq(2), Seq(4)))
    val sorted = a.sortAxisRows(0).collect()
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val wantVals = Seq(0.0, 1.0, 2.0, 2.0, 2.0, 5.0, 7.0, 9.0)
    for (k <- 0 until 8) assert(sorted(k.toLong) == wantVals(k), s"rank $k")
    val arg = a.argsortAxisRows(0).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    // numpy argsort (stable): ties keep original order -> 1, 2, 5
    val wantIdx = Seq(7L, 4L, 1L, 2L, 5L, 0L, 3L, 6L)
    for (k <- 0 until 8) assert(arg(k.toLong) == wantIdx(k), s"arg rank $k")
  }

  test("sortAxisRows 2-d sorts each line independently (dense model)") {
    // make rows non-monotonic: x -> (x * 3) mod 17, exact small ints
    val m = twoD.mapValues(x => org.apache.spark.sql.functions.pmod(
      (x * 3).cast("bigint"), org.apache.spark.sql.functions.lit(17L)).cast("double"))
    val dense = Array.tabulate(4, 4)((i, j) => (10.0 * i + j) * 3 % 17)
    val got = m.sortAxisRows(1).collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    for (i <- 0 until 4) {
      val want = dense(i).sorted
      for (k <- 0 until 4) assert(got((i.toLong, k.toLong)) == want(k), s"($i,$k)")
    }
  }

  test("broadcastTo replicates chunks narrowly (zero exchanges, view semantics)") {
    val b = oneD.broadcastTo(4, 2)
    assert(b.geom == ArrayGeometry(Seq(2, 2), Seq(2, 4)))
    assert(!b.df.queryExecution.executedPlan.toString.contains("Exchange"))
    val base = cellMap(oneD)
    val got = cellMap(b)
    assert(got.size == base.size * 4)
    for (((ts, g), v) <- base; lead <- 0 until 4)
      assert(got((ts, lead +: g)) == v, s"lead $lead cell $g")
  }

  test("tileAxis re-addresses copies as pure metadata (zero exchanges)") {
    val t = oneD.tileAxis(0, 3)
    assert(t.geom == ArrayGeometry(Seq(6), Seq(4)))
    assert(!t.df.queryExecution.executedPlan.toString.contains("Exchange"))
    val base = cellMap(oneD)
    val got = cellMap(t)
    assert(got.size == base.size * 3)
    for (((ts, g), v) <- base; r <- 0 until 3)
      assert(got((ts, Seq(g.head + 8 * r))) == v, s"copy $r cell $g")
  }

  test("repeatAxis repeats elements in place (zero exchanges, dtype kept)") {
    val rep = oneD.repeatAxis(0, 3)
    assert(rep.geom == ArrayGeometry(Seq(2), Seq(12)))
    assert(!rep.df.queryExecution.executedPlan.toString.contains("Exchange"))
    val base = cellMap(oneD)
    val got = cellMap(rep)
    assert(got.size == base.size * 3)
    for (((ts, g), v) <- base; k <- 0 until 3)
      assert(got((ts, Seq(g.head * 3 + k))) == v, s"cell $g copy $k")
    // dtype preservation through the gather
    val ints = oneD.astype(org.apache.spark.sql.types.LongType).repeatAxis(0, 2)
    assert(ints.dtype == org.apache.spark.sql.types.LongType)
  }
}
