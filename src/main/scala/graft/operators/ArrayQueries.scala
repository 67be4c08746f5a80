package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.arrays.{ArrayGeometry, ChunkedArray}
import graft.sources.Tables

/** SURVEY §2.A — the reference's distributed-array analytics, driven from
  * the `events` table so the DuckDB oracle can replay the same math.
  *
  * The bridge: each day of events is one *timestep* (the reference builds
  * one array per simulation iteration, doreisa/window_api.py:66-103); the
  * array cell at index u holds the exact daily value-sum of the events
  * bucketed to u. Cells are assembled into chunk rows and every §2.A
  * query then runs through [[graft.arrays.ChunkedArray]] operators —
  * sums, elementwise maps, zips, slices, axis reductions — never through
  * plain SQL, so the array engine itself is what the oracle checks.
  */
object ArrayQueries {

  private def dec2(c: Column): Column = c.cast("decimal(18,2)")

  val geom1d: ArrayGeometry = ArrayGeometry(Seq(4), Seq(16))
  val geom2d: ArrayGeometry = ArrayGeometry(Seq(2, 2), Seq(4, 4))

  /** (timestep, u, cell) with cell = exact daily per-bucket value sum. */
  private def cells1d(events: DataFrame): DataFrame =
    events
      .select(
        datediff(to_date(col("ts")), lit("2024-01-01")).cast("bigint").as("timestep"),
        (col("user_id") % 64).cast("int").as("u"),
        col("value"))
      .groupBy("timestep", "u")
      .agg(sum(dec2(col("value"))).cast("double").as("cell"))

  /** Densify cells into 4 chunks of 16 elements per timestep. Every grid
    * position of every present timestep gets a chunk (zero-filled when no
    * events hit it) — the array is logically dense, and ops like stats /
    * +constant maps / aligned zips depend on all-positions-present. */
  private def chunks1d(cells: DataFrame,
      g: ArrayGeometry = geom1d): ChunkedArray = {
    val cl = g.chunkShape(0)
    val filled = cells
      .groupBy(col("timestep"), expr(s"CAST(u div $cl AS INT)").as("cpos"))
      .agg(map_from_entries(collect_list(struct((col("u") % cl).as("k"), col("cell")))).as("m"))
    val grid = cells.select("timestep").distinct()
      .crossJoin(cells.sparkSession.range(g.chunksPerDim(0))
        .select(col("id").cast("int").as("cpos")))
    // `filled` is O(#chunks) — fact-scale at the 100 TB posture — so the
    // densify join must shuffle on (timestep, cpos), never broadcast it
    val df = grid.join(filled.hint("shuffle_hash"), Seq("timestep", "cpos"), "left")
      .select(col("timestep"), array(col("cpos")).as("pos"),
        transform(sequence(lit(0), lit(cl - 1)), i =>
          coalesce(element_at(col("m"), i), lit(0.0))).as("data"))
    ChunkedArray(df, g)
  }

  // The unfiltered 1-d/2-d arrays feed most §2.A queries; memoize + persist
  // the (small) chunk relations per session+dir, like a real in-situ run
  // would keep the current timestep window resident (doreisa holds chunk
  // refs in the object store, doreisa/head_node.py:70).
  private val cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), ChunkedArray]
  // Synchronized like Pipeline.tokenizedDocs: build+persist are lazy
  // metadata work (no job runs inside), and the lock means exactly one
  // persist per key ever wins (a TrieMap getOrElseUpdate can run the
  // builder twice under contention, leaking the loser's persisted
  // blocks). The >64 bound evicts only STOPPED sessions' entries first
  // (bench restart-on-death path); live entries go only if that's not
  // enough — correctness survives either way, persist is a cache.
  private def cached(s: SparkSession, dir: String, kind: String)(build: => ChunkedArray): ChunkedArray =
    cache.synchronized {
      if (cache.size > 64) {
        val stopped = cache.keys.filter(_._1.sparkContext.isStopped).toSeq
        stopped.foreach(k => cache.remove(k).foreach { a =>
          try a.df.unpersist(blocking = false) catch { case _: Throwable => () }
        })
        if (cache.size > 64) release()
      }
      val arr = cache.getOrElseUpdate((s, dir, kind), {
        val a = build
        a.df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        a
      })
      // Re-root consumers at the cache entry's InMemoryRelation (as
      // Persists does, r22): every arr face embeds the chunking tree
      // otherwise — physical plans identical, consumer logical plans
      // one leaf.
      arr.copy(df = org.apache.spark.sql.graftexpr.CacheBridge.asCachedLeaf(arr.df))
    }

  // Auxiliary persisted relations that FEED memoized arrays (the parity
  // cell relation below); same lifecycle as `cache`, released together.
  private val auxCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  /** Release memoized chunk relations — the batch analog of the
    * reference's memory-release-after-window-expiry contract
    * (tests/test_memory_release.py: chunks are freed once no window can
    * reference them). Unpersists the backing blocks (blocking, so the
    * executors have actually dropped them on return) and forgets the memo
    * entries; the next request rebuilds from source. Pass a session to
    * release only its arrays, or nothing to release everything. */
  def release(s: SparkSession = null): Unit = {
    cache.keys.filter(k => s == null || k._1 == s).toSeq
      .foreach(k => cache.remove(k).foreach(_.df.unpersist(blocking = true)))
    auxCache.keys.filter(k => s == null || k._1 == s).toSeq
      .foreach(k => auxCache.remove(k).foreach(_.unpersist(blocking = true)))
    // the persisted Gram RELATION lives in the Persists registry — if it
    // survived release, a re-run would re-canonicalize to the same plan
    // and Persists.cached would hand back the stale materialized blocks,
    // so the "next request rebuilds from source" contract needs the
    // registry dropped together with the chunk memos (ADVICE r16)
    if (s == null) Persists.releaseAll() else Persists.release(s)
    // every k x k model artifact (and the fits/moments/factorizations
    // derived from it) derives from the released relations — drop them
    // together so a data refresh can't serve a stale model
    gramByDir.clear()
    momentsByDir.clear()
    lstsqByDir.clear()
    svdByDir.clear()
    pcaByDir.clear()
    modesByDir.clear()
    qrByDir.clear()
  }

  def eventsArray1d(s: SparkSession, dir: String, filter: Column = lit(true)): ChunkedArray =
    chunks1d(cells1d(Tables.load(s, dir, "events").where(filter)))

  /** Memoized unfiltered variant (most §2.A queries start from it). */
  def eventsArray1dCached(s: SparkSession, dir: String): ChunkedArray =
    cached(s, dir, "1d")(eventsArray1d(s, dir))

  /** A NON-power-of-two 1-d field (48 = 3·16 cells — 3 chunks of 16):
    * the operand of the Bluestein face; same daily-bucket semantics as
    * [[cells1d]] at a 48-bucket user hash. */
  val geom48: ArrayGeometry = ArrayGeometry(Seq(3), Seq(16))

  def eventsArray48Cached(s: SparkSession, dir: String): ChunkedArray =
    cached(s, dir, "1d48") {
      chunks1d(Tables.load(s, dir, "events")
        .select(
          datediff(to_date(col("ts")), lit("2024-01-01")).cast("bigint").as("timestep"),
          (col("user_id") % 48).cast("int").as("u"),
          col("value"))
        .groupBy("timestep", "u")
        .agg(sum(dec2(col("value"))).cast("double").as("cell")), geom48)
    }

  /** Even/odd-parity cell relation from ONE `events` scan: a single
    * groupBy with two conditional decimal aggregates — `cell_even` /
    * `cell_odd` are NULL where that parity has no events at the
    * (timestep, u) cell, so each side keeps exactly the present-cell
    * (and present-day) semantics of a separate filtered scan. Memoized +
    * persisted: the relation is O(#cells) — tiny next to the fact table
    * — and it feeds FOUR consumers (two arrays × two queries), so the
    * fact scan runs once per session instead of twice per evaluation. */
  private def parityCells(s: SparkSession, dir: String): DataFrame =
    // same single-persist-wins lock as `cached` (lock order is always
    // cache -> auxCache, via parityArray's build lambda)
    auxCache.synchronized { auxCache.getOrElseUpdate((s, dir, "parity_cells"), {
      val df = Tables.load(s, dir, "events")
        .select(
          datediff(to_date(col("ts")), lit("2024-01-01")).cast("bigint").as("timestep"),
          (col("user_id") % 64).cast("int").as("u"),
          (col("event_id") % 2 === 0).as("even"),
          col("value"))
        .groupBy("timestep", "u")
        .agg(
          sum(when(col("even"), dec2(col("value")))).cast("double").as("cell_even"),
          sum(when(!col("even"), dec2(col("value")))).cast("double").as("cell_odd"))
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df
    }) }

  /** One parity's dense 1-d array, built from [[parityCells]] (not its
    * own scan) and memoized like the unfiltered arrays. */
  private def parityArray(s: SparkSession, dir: String, even: Boolean): ChunkedArray =
    cached(s, dir, if (even) "1d_even" else "1d_odd") {
      val c = if (even) col("cell_even") else col("cell_odd")
      chunks1d(parityCells(s, dir).where(c.isNotNull)
        .select(col("timestep"), col("u"), c.as("cell")))
    }

  /** 8x8 (user bucket x hour bucket) array as a 2x2 grid of 4x4 chunks. */
  def eventsArray2d(s: SparkSession, dir: String): ChunkedArray = {
    val cells = Tables.load(s, dir, "events")
      .select(
        datediff(to_date(col("ts")), lit("2024-01-01")).cast("bigint").as("timestep"),
        (col("user_id") % 8).cast("int").as("u"),
        (hour(col("ts")) % 8).cast("int").as("h"),
        col("value"))
      .groupBy("timestep", "u", "h")
      .agg(sum(dec2(col("value"))).cast("double").as("cell"))
    val filled = cells
      .groupBy(col("timestep"),
        expr("CAST(u div 4 AS INT)").as("cr"), expr("CAST(h div 4 AS INT)").as("cc"))
      .agg(map_from_entries(collect_list(
        struct(((col("u") % 4) * 4 + col("h") % 4).as("k"), col("cell")))).as("m"))
    // dense grid: all 2x2 chunk positions for every present timestep
    val grid = cells.select("timestep").distinct()
      .crossJoin(Tables.load(s, dir, "events").sparkSession.range(4)
        .select(expr("CAST(id div 2 AS INT)").as("cr"), (col("id") % 2).cast("int").as("cc")))
    val df = grid.join(filled.hint("shuffle_hash"), Seq("timestep", "cr", "cc"), "left")
      .select(col("timestep"), array(col("cr"), col("cc")).as("pos"),
        transform(sequence(lit(0), lit(15)), i =>
          coalesce(element_at(col("m"), i), lit(0.0))).as("data"))
    ChunkedArray(df, geom2d)
  }

  /** Memoized unfiltered 2-d variant. */
  def eventsArray2dCached(s: SparkSession, dir: String): ChunkedArray =
    cached(s, dir, "2d")(eventsArray2d(s, dir))

  val geom3d: ArrayGeometry = ArrayGeometry(Seq(2, 2, 2), Seq(4, 4, 4))

  /** 8x8x8 (user x hour x event-id bucket) array as a 2x2x2 grid of
    * 4x4x4 chunks — the rank-3 operand for [[arrTensordot]]. */
  def eventsArray3d(s: SparkSession, dir: String): ChunkedArray = {
    val cells = Tables.load(s, dir, "events")
      .select(
        datediff(to_date(col("ts")), lit("2024-01-01")).cast("bigint").as("timestep"),
        (col("user_id") % 8).cast("int").as("u"),
        (hour(col("ts")) % 8).cast("int").as("h"),
        (col("event_id") % 8).cast("int").as("w"),
        col("value"))
      .groupBy("timestep", "u", "h", "w")
      .agg(sum(dec2(col("value"))).cast("double").as("cell"))
    val filled = cells
      .groupBy(col("timestep"),
        expr("CAST(u div 4 AS INT)").as("c0"), expr("CAST(h div 4 AS INT)").as("c1"),
        expr("CAST(w div 4 AS INT)").as("c2"))
      .agg(map_from_entries(collect_list(
        struct(((col("u") % 4) * 16 + (col("h") % 4) * 4 + col("w") % 4).as("k"),
          col("cell")))).as("m"))
    // dense grid: all 2x2x2 chunk positions for every present timestep
    val grid = cells.select("timestep").distinct()
      .crossJoin(cells.sparkSession.range(8)
        .select(expr("CAST(id div 4 AS INT)").as("c0"),
          expr("CAST(id div 2 AS INT) % 2").as("c1"), (col("id") % 2).cast("int").as("c2")))
    val df = grid.join(filled.hint("shuffle_hash"), Seq("timestep", "c0", "c1", "c2"), "left")
      .select(col("timestep"), array(col("c0"), col("c1"), col("c2")).as("pos"),
        transform(sequence(lit(0), lit(63)), i =>
          coalesce(element_at(col("m"), i), lit(0.0))).as("data"))
    ChunkedArray(df, geom3d)
  }

  /** Memoized unfiltered 3-d variant. */
  def eventsArray3dCached(s: SparkSession, dir: String): ChunkedArray =
    cached(s, dir, "3d")(eventsArray3d(s, dir))

  // ---- queries ----

  /** doreisa `array.sum().compute()` per timestep (tests/test_doreisa.py:19). */
  def arrSumTs(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).sumPerTimestep("total").transform(Present.fused("timestep"))

  /** Value histogram across every chunk of the live array (dask
    * `da.histogram` analog) — bucket partials fold chunk-locally. */
  def arrHistogram(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).histogram(100.0).transform(Present.fused("bucket"))

  /** Rechunk 4x16 -> 8x8 then per-timestep stats (dask `rechunk`):
    * the oracle is the SAME SQL as arr_stats_ts — stats are invariant
    * under chunk geometry, so any re-addressing error (wrong chunk,
    * wrong offset, lost or doubled cell) breaks the hash match. */
  def arrRechunkStats(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).rechunk(Seq(8)).statsPerTimestep
      .transform(Present.fused("timestep"))

  /** dask `cumsum` on the 1-d array: chunk-local native prefix + an
    * O(#chunks) carry window — the distributed scan pattern. */
  def arrCumsum(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).cumsumRows().transform(Present.fused("timestep", "idx"))

  /** dask boolean-mask COMPACTION `a[a > 50]` (boolean indexing as an
    * array — doreisa/window_api.py:38-119): per-chunk native match
    * ranks + the cumsum carry machinery on match COUNTS give stable
    * global output addresses without any corpus-wide rank. */
  def arrCompress(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).compressRows(_ > lit(50.0))
      .transform(Present.fused("timestep", "idx"))

  /** dask `arr.var()` per timestep: exact decimal moments, double math
    * only on the final three exact operands. */
  def arrVarTs(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).variancePerTimestep.transform(Present.fused("timestep"))

  /** dask `argmax` per timestep — the hotspot-location probe. */
  def arrArgmax(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).argmaxRows().transform(Present.fused("timestep"))

  /** dask N-d `argmax` — the rank-generic hotspot probe on the 2-d
    * array: the per-timestep max cell's (user, hour) coordinates, ties
    * to the lowest row-major multi-index. */
  def arrArgmax2d(s: SparkSession, dir: String): DataFrame =
    eventsArray2dCached(s, dir).argmaxNd()
      .withColumnsRenamed(Map("i0" -> "i", "i1" -> "j"))
      .transform(Present.fused("timestep"))

  /** dask-style one-pass stats per timestep. */
  def arrStatsTs(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).statsPerTimestep.transform(Present.fused("timestep"))

  /** doreisa two-array elementwise `(a - b)` + mean (docs/analytics.md:31).
    * Both parity arrays come from the ONE-scan [[parityCells]] relation
    * (conditional aggregates), not two filtered fact scans. */
  def arrMeanDiff(s: SparkSession, dir: String): DataFrame = {
    val a = parityArray(s, dir, even = true)
    val b = parityArray(s, dir, even = false)
    a.zipWith(b)(_ - _).sumPerTimestep("total")
      .select(col("timestep"), (col("total") / lit(64.0)).as("mean_diff"))
      .transform(Present.fused("timestep"))
  }

  /** doreisa preprocess `10 * chunk` then reduce (tests/test_preprocessing_callback.py:24). */
  def arrPreprocessSum(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).mapValues(_ * lit(10.0)).sumPerTimestep("total").transform(Present.fused("timestep"))

  /** Fused elementwise chain `2x + 1` then reduce (dask elementwise). */
  def arrElementwiseChain(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).mapValues(x => x * lit(2.0) + lit(1.0))
      .sumPerTimestep("total").transform(Present.fused("timestep"))

  /** doreisa sliding window w=2: `(arr(t) - arr(t-1)).sum()`
    * (tests/test_sliding_window.py:22-27). */
  def arrWindowDelta(s: SparkSession, dir: String): DataFrame = {
    val cur = eventsArray1dCached(s, dir)
    val prev = cur.shiftTimestep(1L)
    cur.zipWith(prev)(_ - _).sumPerTimestep("delta").transform(Present.fused("timestep"))
  }

  /** dask `arr.T` then `sum(axis=1)`: the transpose is a narrow
    * projection (grid pos swap + in-chunk payload transpose, no
    * shuffle), so the reduced axis flips — the oracle sums over `u`
    * per `h` instead of the other way around. */
  def arrTransposeSum(s: SparkSession, dir: String): DataFrame =
    eventsArray2dCached(s, dir).transpose2d().axisSumRows(axis = 1)
      .transform(Present.fused("timestep", "idx"))

  /** The numpy axis-manipulation naming chain (`expand_dims` →
    * `swapaxes` → `moveaxis` → `squeeze`, VERDICT r19 missing #4):
    * (u,h) → (u,h,1) → (h,u,1) → (h,1,u) → (h,u) — the net effect is
    * the transpose, so the axis-1 sums replay the arr_transpose_sum
    * oracle; any mis-permutation or payload corruption in the thin
    * wrappers breaks the hash. expand_dims/squeeze are pure metadata
    * (zero shuffle, spec-gated); the swaps ride the transpose gather. */
  def arrAxisMoves(s: SparkSession, dir: String): DataFrame =
    eventsArray2dCached(s, dir)
      .expandDims(2).swapaxes(0, 1).moveaxis(2, 1).squeeze(Seq(1))
      .axisSumRows(axis = 1)
      .transform(Present.fused("timestep", "idx"))

  /** dask `concatenate([a, b], axis=0)` then stats: the even-event and
    * odd-event arrays stack into one 128-wide array by shifting b's
    * grid positions — a metadata union, no payload movement. Shares
    * [[parityCells]]' one-scan parity arrays with [[arrMeanDiff]]. */
  def arrConcatStats(s: SparkSession, dir: String): DataFrame = {
    val a = parityArray(s, dir, even = true)
    val b = parityArray(s, dir, even = false)
    a.concatenate(b, axis = 0).statsPerTimestep.transform(Present.fused("timestep"))
  }

  /** dask `arr.sum(axis=1)` on the 2-d array. */
  def arrAxisSum(s: SparkSession, dir: String): DataFrame =
    eventsArray2dCached(s, dir).axisSumRows(axis = 1).transform(Present.fused("timestep", "idx"))

  /** dask `arr.max(axis=1)` on the 2-d array — the generic
    * [[graft.arrays.ChunkedArray.axisReduce]] under `greatest`: per-user
    * hour-axis maxima, dtype-preserving, same one-block-per-chunk wire
    * posture as the sum. */
  def arrAxisMax(s: SparkSession, dir: String): DataFrame =
    eventsArray2dCached(s, dir).axisMax(axis = 1).rowsNd
      .withColumnsRenamed(Map("i0" -> "idx"))
      .transform(Present.fused("timestep", "idx"))

  /** dask `da.ptp(axis=1)` (peak-to-peak): per-row dynamic range of
    * the 2-d array — operator ALGEBRA again: axisMax zipped with
    * axisMin, one aligned shuffle-hash zip of two O(marginal)-sized
    * reductions; max/min are exact and the subtraction is the same
    * IEEE double in both engines. */
  def arrAxisPtp(s: SparkSession, dir: String): DataFrame = {
    val a = eventsArray2dCached(s, dir)
    a.axisMax(axis = 1).zipWith(a.axisMin(axis = 1))(_ - _).rowsNd
      .withColumnsRenamed(Map("i0" -> "idx"))
      .transform(Present.fused("timestep", "idx"))
  }

  /** dask `arr.mean(axis=1)` on the 2-d array: decimal-exact axis sum,
    * one double divide by the axis extent. */
  def arrAxisMean(s: SparkSession, dir: String): DataFrame =
    eventsArray2dCached(s, dir).axisMean(axis = 1).rowsNd
      .withColumnsRenamed(Map("i0" -> "idx"))
      .transform(Present.fused("timestep", "idx"))

  /** dask `arr.sum(axis=1)` on the RANK-3 array — the rank-generic
    * axisSum driven through a middle axis: reducing the hour axis of
    * the 8x8x8 (user x hour x event-id) array leaves the 8x8 (user x
    * event-id) marginal, flattened to rows. */
  def arrAxisSum3d(s: SparkSession, dir: String): DataFrame =
    eventsArray3dCached(s, dir).axisSum(axis = 1).rowsNd
      .withColumnsRenamed(Map("i0" -> "i", "i1" -> "j"))
      .transform(Present.fused("timestep", "i", "j"))

  /** dask `arr.var(axis=1)` on the RANK-3 array — the axis-wise variance
    * through the two-moment decimal partial blocks: reducing the hour
    * axis of the 8x8x8 (user × hour × event-id) array leaves the 8x8
    * per-(user, event-id) variance marginal, flattened to rows. */
  def arrAxisVar(s: SparkSession, dir: String): DataFrame =
    eventsArray3dCached(s, dir).axisVar(axis = 1).rowsNd
      .withColumnsRenamed(Map("i0" -> "i", "i1" -> "j"))
      .transform(Present.fused("timestep", "i", "j"))

  /** dask `arr.std(axis=1)` on the 2-d array: one IEEE-correctly-rounded
    * sqrt over the exact-operand axis variance, so it gates cross-engine
    * like the variance itself. */
  def arrAxisStd(s: SparkSession, dir: String): DataFrame =
    eventsArray2dCached(s, dir).axisStd(axis = 1).rowsNd
      .withColumnsRenamed(Map("i0" -> "idx"))
      .transform(Present.fused("timestep", "idx"))

  /** dask `arr.argmax(axis=1)` on the 2-d array: per user, the hour of
    * the daily maximum (ties to the lowest hour) — the axis-wise
    * hotspot-location probe. */
  def arrArgmaxAxis(s: SparkSession, dir: String): DataFrame =
    eventsArray2dCached(s, dir).axisArgmax(axis = 1).rowsNd
      .withColumnsRenamed(Map("i0" -> "idx"))
      .transform(Present.fused("timestep", "idx"))

  /** dask `a[a > t].sum()` — the in-situ threshold-then-reduce probe:
    * cells above 500 only, count + exact sum per timestep, mask applied
    * chunk-locally. */
  def arrMaskedSum(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).maskedSumPerTimestep(_ > lit(500.0))
      .transform(Present.fused("timestep"))

  /** dask `cumsum(axis=0)` on the 2-d array — the per-axis distributed
    * scan: native chunk-local line prefixes plus a carry window keyed
    * on the non-scanned dims. */
  def arrCumsum2d(s: SparkSession, dir: String): DataFrame =
    eventsArray2dCached(s, dir).cumsumAxis(axis = 0).rows2d
      .transform(Present.fused("timestep", "i", "j"))

  /** dask slicing `arr[2:6, 1:7].sum()` with chunk pruning. */
  def arrSliceSum(s: SparkSession, dir: String): DataFrame =
    eventsArray2dCached(s, dir).slice2d(2, 6, 1, 7).sumPerTimestep("total").transform(Present.fused("timestep"))

  /** 5-point Laplacian via halo exchange, then a per-timestep reduction —
    * the in-situ "derivative of the simulation field" analytic. */
  def arrStencilSum(s: SparkSession, dir: String): DataFrame =
    eventsArray2dCached(s, dir).stencilLaplacian().sumPerTimestep("total").transform(Present.fused("timestep"))

  /** dask `da.coarsen(np.sum, arr, {0: 2, 1: 2})` — block-reduction
    * downsampling of the 8x8 field to 4x4 (the "thumbnail the
    * simulation output" probe): 2x2 blocks fold chunk-locally (2
    * divides the 4x4 chunk extent), so the plan adds ZERO shuffle over
    * the cached chunk relation — payloads shrink 4x in place. */
  def arrCoarsen(s: SparkSession, dir: String): DataFrame =
    eventsArray2dCached(s, dir).coarsen(Seq(2, 2), "sum").rows2d
      .transform(Present.fused("timestep", "i", "j"))

  /** dask `A.T @ A` over the WHOLE timestep-stacked array — the
    * distributed half of tall-skinny SVD/PCA (`da.linalg.svd` runs
    * inside reference callbacks, window_api.py:38-119): the 8x8 Gram of
    * the (T·8) x 8 matrix whose row blocks are the daily fields, in ONE
    * partial-agg pass ([[graft.arrays.ChunkedArray.gramRows]] — SUMMA
    * chunk join + global decimal sum, no per-timestep materialization). */
  /** The exact Gram relation, persisted (the Persists registry): six
    * faces read it — arr_gram, arr_corrcoef's second moments, and the
    * [[gramMatrix]] collect behind svd/pca/qr/lstsq — and at 100 TB
    * the one pairwise-product pass over the corpus is the expensive
    * step, so it must materialize once, not per face. */
  private def gramRel(s: SparkSession, dir: String): DataFrame =
    Persists.cached(eventsArray2dCached(s, dir).gramRows())

  def arrGram(s: SparkSession, dir: String): DataFrame =
    gramRel(s, dir).transform(Present.fused("i", "j"))

  /** dask `da.linalg.svd(A)[1]` — the singular spectrum of the
    * timestep-stacked field: sigma_i = sqrt(eig_i(AᵀA)). The distributed
    * work is [[arrGram]]'s one-pass exact Gram; the eigensolve runs
    * driver-side on the 8x8 artifact ([[graft.arrays.Eigen]], cyclic
    * Jacobi — deterministic rotation sequence, bounded k x k cost: the
    * TSQR/svd_compressed posture, like the sim_*_trained k-means fits).
    * The collect is k² = 64 doubles — a model artifact, not data. */
  def arrSvdVals(s: SparkSession, dir: String): DataFrame = {
    val sv = graft.arrays.Eigen.singularValuesFromGram(gramMatrix(s, dir))
    svdByDir.update(dir, sv)
    lastDirRef.set(dir)
    import s.implicits._
    sv.zipWithIndex.map { case (v, k) => (k.toLong, v) }
      .toDF("k", "sigma").transform(Present.fused("k"))
  }

  /** How many principal components [[arrPcaProject]] keeps. */
  val PcaK = 2

  /** dask PCA of the simulation field — `A @ V[:, :k]` with V the
    * eigenbasis of [[arrGram]]'s exact Gram (the standard in-situ
    * "reduce the field to its dominant modes" analysis; a doreisa
    * callback reaches it via `da.linalg`): the eigenVECTORS come from
    * the same driver-side deterministic Jacobi ([[graft.arrays.Eigen]]
    * — a k×k model artifact), and the projection is a distributed
    * per-row fold over the dense cells in ascending-column order — the
    * SAME left-fold sequence the oracle replays (identical cell doubles
    * × identical literal weights × identical fold order = identical
    * result bits, SURVEY §5's ordered-fold discipline). */
  def arrPcaProject(s: SparkSession, dir: String): DataFrame = {
    val top = graft.arrays.Eigen.symEigen(gramMatrix(s, dir))._2.take(PcaK)
    pcaByDir.update(dir, top)
    lastDirRef.set(dir)
    orderedRowFold(s, dir, top, "pc")
  }

  /** The shared distributed half of [[arrPcaProject]]/[[arrSvdModes]]:
    * per dense row (timestep, i), the ascending-column left fold of the
    * cells against each literal weight vector — the §5 ordered-fold
    * discipline (identical doubles × identical literals × identical
    * fold sequence = identical bits to the oracle replay). */
  private def orderedRowFold(s: SparkSession, dir: String,
      weights: Seq[IndexedSeq[Double]], prefix: String): DataFrame = {
    val cells = eventsArray2dCached(s, dir).rows2d
    val byRow = cells.groupBy("timestep", "i")
      .agg(array_sort(collect_list(struct(col("j"), col("value")))).as("lv"))
    val projCols = weights.zipWithIndex.map { case (vk, k) =>
      val varr = array(vk.map(lit(_)): _*)
      aggregate(col("lv"), lit(0.0), (acc, e) =>
        acc + e.getField("value") *
          element_at(varr, e.getField("j").cast("int") + 1)).as(s"$prefix$k")
    }
    byRow.select(col("timestep") +: col("i") +: projCols: _*)
      .transform(Present.fused("timestep", "i"))
  }

  /** How many left singular modes [[arrSvdModes]] emits. */
  val ModesK = 2

  /** dask `da.linalg.svd(A)[0][:, :k]` — the LEFT singular factor's top
    * modes: u_k = A·v_k/σ_k, the mode TIME SERIES the in-situ analyst
    * plots next to [[arrSvdVals]]' spectrum (VERDICT r17 #4). The
    * per-mode weight vector v_k/σ_k is divided DRIVER-side (one k×k
    * Jacobi on the same memoized Gram artifact — zero new row-scale
    * work), so the distributed part is exactly [[arrPcaProject]]'s
    * ordered per-row fold with different literals; the A·v_k = σ_k·u_k
    * identity and U-column orthonormality are spec-gated
    * (ArrayLinalgSpec). Refuses rank-deficient modes loudly (σ_k ≈ 0
    * would be a divide-by-noise, not a mode). */
  def arrSvdModes(s: SparkSession, dir: String): DataFrame = {
    val (eig, vecs) = graft.arrays.Eigen.symEigen(gramMatrix(s, dir))
    val weights = (0 until ModesK).map { k =>
      val sigma = math.sqrt(math.max(eig(k), 0.0))
      require(sigma > 1e-9,
        s"arr_svd_modes: mode $k is rank-deficient (sigma=$sigma)")
      vecs(k).map(_ / sigma)
    }
    modesByDir.update(dir, weights)
    lastDirRef.set(dir)
    orderedRowFold(s, dir, weights, "u")
  }

  /** dask `da.corrcoef` between the COLUMNS of the timestep-stacked
    * field — the full C x C correlation matrix from sufficient
    * statistics only (the emb_class_sep posture — the only shape that
    * survives 100 TB): pairwise second moments are [[arrGram]]'s
    * one-pass exact Gram (its diagonal doubles as the per-column
    * square sums), first moments one chunk-local axis-reduce + exact
    * decimal rollup — nothing row-scale moves. Every operand is an
    * exact decimal cast to double; the Pearson formula is spelled
    * operand-for-operand like the oracle (sqrt correctly rounded,
    * ulp-negative variances clamped, zero variance guarded to NULL
    * before the divide). */
  def arrCorrcoef(s: SparkSession, dir: String): DataFrame = {
    // r22: the distributed work is exactly the two memoized
    // sufficient-statistics artifacts ([[gramMatrix]]'s one-pass exact
    // C x C Gram + [[moments2d]]'s column sums and cell count — both
    // k-scale model artifacts at ANY corpus size, the arrQrR/arrSvdVals
    // collect posture); the Pearson combination over C² = 64 cells runs
    // driver-side with the SAME IEEE double ops in the SAME operand
    // order as the r21 distributed expression (Java *, -, /,
    // correctly-rounded sqrt, max ≡ greatest on finite operands), so
    // the emitted bits are unchanged — while the per-invocation plan
    // drops one Gram-relation scan, four broadcast builds and a cross
    // join.
    val g = gramMatrix(s, dir)
    val (cs, nRows) = moments2d(s, dir)
    lastDirRef.set(dir)
    val c = geom2d.dimSize(1)
    val nD = nRows.toDouble
    import s.implicits._
    val rows = for (i <- 0 until c; j <- 0 until c) yield {
      val num = nD * g(i)(j) - cs(i) * cs(j)
      val deni = math.sqrt(math.max(nD * g(i)(i) - cs(i) * cs(i), 0.0))
      val denj = math.sqrt(math.max(nD * g(j)(j) - cs(j) * cs(j), 0.0))
      val den = deni * denj
      (i.toLong, j.toLong, if (den == 0.0) None else Some(num / den))
    }
    rows.toDF("i", "j", "corr").transform(Present.fused("i", "j"))
  }

  /** dask `da.cov(A, rowvar=False)` — the C×C SAMPLE covariance matrix
    * (ddof=1, the numpy/dask default) of the stacked field's columns:
    * [[arrCorrcoef]]'s unnormalized sibling from the SAME sufficient
    * statistics (the persisted exact Gram's pairwise second moments +
    * the one first-moment axis-reduce + n), so the marginal cost over
    * the family is zero row-scale passes. Formula spelled
    * operand-for-operand with the oracle:
    * `(n·sxy − si·sj) / (n·(n−1))` — exact decimal-derived operands,
    * one double expression, no sqrt; n ≥ 2 always (the table has ≥ 2
    * timesteps), so no zero guard needed. */
  def arrCov(s: SparkSession, dir: String): DataFrame = {
    // r22: driver-side like [[arrCorrcoef]] — same artifacts, same
    // operand order as the r21 distributed expression, bit-identical
    // doubles; n ≥ 2 always (the table has ≥ 2 timesteps).
    val g = gramMatrix(s, dir)
    val (cs, nRows) = moments2d(s, dir)
    lastDirRef.set(dir)
    val c = geom2d.dimSize(1)
    val nD = nRows.toDouble
    import s.implicits._
    val rows = for (i <- 0 until c; j <- 0 until c) yield
      (i.toLong, j.toLong, (nD * g(i)(j) - cs(i) * cs(j)) / (nD * (nD - 1.0)))
    rows.toDF("i", "j", "cov").transform(Present.fused("i", "j"))
  }

  /** dask `da.linalg.qr(A)[1]` — the R factor of the thin QR of the
    * timestep-stacked field: R = the upper Cholesky factor of AᵀA
    * ([[graft.arrays.Eigen.cholUpper]]), exactly the factor TSQR
    * materializes. The distributed work is [[arrGram]]'s one-pass
    * exact Gram; the k x k factorization runs driver-side on the
    * 64-double artifact, and Q is never formed (Q = A·R⁻¹ applies
    * row-locally if a caller wants it) — the TSQR/svd_compressed
    * posture of [[arrSvdVals]]. Emits the upper triangle (i <= j);
    * the oracle embeds the factor as round-trip-exact literals. */
  def arrQrR(s: SparkSession, dir: String): DataFrame = {
    val n = geom2d.dimSize(1)
    val ru = graft.arrays.Eigen.cholUpper(gramMatrix(s, dir))
    qrByDir.update(dir, ru)
    lastDirRef.set(dir)
    import s.implicits._
    (for (i <- 0 until n; j <- i until n) yield (i.toLong, j.toLong, ru(i)(j)))
      .toDF("i", "j", "r_val").transform(Present.fused("i", "j"))
  }

  /** The fitted least-squares artifact of [[arrLstsq]]: slopes over
    * field columns 0..k-2, intercept, and the exact-moment RSS / R². */
  private[graft] final case class LstsqFit(
      beta: IndexedSeq[Double], icept: Double, rss: Double, r2: Double)

  private val lstsqByDir =
    scala.collection.concurrent.TrieMap.empty[String, LstsqFit]
  private val momentsByDir =
    scala.collection.concurrent.TrieMap.empty[String, (Array[Double], Long)]

  /** Column sums + stacked row count of the 2-d field — arr_corrcoef's
    * first moments (chunk-local axis fold, exact decimal rollup),
    * collected as a bounded artifact (C doubles + one long) and
    * memoized per dir like [[gramMatrix]]. */
  private def moments2d(s: SparkSession, dir: String): (Array[Double], Long) =
    momentsByDir.getOrElseUpdate(dir, {
      val arr = eventsArray2dCached(s, dir)
      val cs = new Array[Double](geom2d.dimSize(1))
      arr.axisSum(0).rowsNd
        .groupBy(col("i0").as("c"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("s"))
        .collect().foreach(r => cs(r.getLong(0).toInt) = r.getDouble(1))
      val t = arr.df.select(countDistinct(col("timestep"))).head().getLong(0)
      (cs, t * geom2d.dimSize(0).toLong)
    })

  /** Fit `column k-1 ~ columns 0..k-2 + intercept` over the
    * timestep-stacked field by the normal equations — dask
    * `da.linalg.lstsq(A, b)` re-expressed through the sufficient-
    * statistics posture: every entry of the (k x k) extended normal
    * matrix [X|1]ᵀ[X|1] and its right-hand side already lives in
    * [[gramMatrix]] + [[moments2d]] (regressor block = Gram minor,
    * Xᵀ1 = column sums, 1ᵀ1 = n, Xᵀy = the Gram's target column), so
    * the fit costs ZERO new row-scale passes; the k x k solve runs
    * driver-side ([[graft.arrays.Eigen.cholSolve]], fixed substitution
    * order — bit-reproducible). RSS/R² come from the same exact
    * moments: rss = yᵀy - 2βᵀv + βᵀMβ, tss = yᵀy - (1ᵀy)²/n, both
    * folded in fixed order. */
  private[graft] def lstsqFit(s: SparkSession, dir: String): LstsqFit =
    lstsqByDir.getOrElseUpdate(dir, {
      val p = geom2d.dimSize(1) - 1
      val g = gramMatrix(s, dir)
      val (cs, nRows) = moments2d(s, dir)
      val m = Array.ofDim[Double](p + 1, p + 1)
      val v = new Array[Double](p + 1)
      for (a <- 0 until p; b <- 0 until p) m(a)(b) = g(a)(b)
      for (a <- 0 until p) { m(a)(p) = cs(a); m(p)(a) = cs(a) }
      m(p)(p) = nRows.toDouble
      for (a <- 0 until p) v(a) = g(a)(p)
      v(p) = cs(p)
      val sol = graft.arrays.Eigen.cholSolve(m, v)
      val yy = g(p)(p)
      var bv = 0.0
      var i = 0
      while (i <= p) { bv += sol(i) * v(i); i += 1 }
      var bmb = 0.0
      i = 0
      while (i <= p) {
        var row = 0.0
        var j = 0
        while (j <= p) { row += m(i)(j) * sol(j); j += 1 }
        bmb += sol(i) * row
        i += 1
      }
      val rss = yy - 2.0 * bv + bmb
      val tss = yy - cs(p) * cs(p) / nRows.toDouble
      val r2 = if (tss != 0.0) 1.0 - rss / tss else 0.0
      LstsqFit(sol.take(p), sol(p), rss, r2)
    })

  /** dask `da.linalg.lstsq` — the fitted model as a (term, value)
    * relation: slopes x0..x_{k-2}, intercept, rss, r2. The oracle
    * embeds the fit as round-trip-exact literals (the [[arrSvdVals]]
    * trained-literal posture; the distributed math underneath is
    * hash-gated through arr_gram's exact oracle). */
  def arrLstsq(s: SparkSession, dir: String): DataFrame = {
    val f = lstsqFit(s, dir)
    lastDirRef.set(dir)
    import s.implicits._
    (f.beta.zipWithIndex.map { case (b, j) => (s"x$j", b) } :+
      (("intercept", f.icept)) :+ (("rss", f.rss)) :+ (("r2", f.r2)))
      .toDF("term", "value").transform(Present.fused("term"))
  }

  /** Residual diagnostics of the [[arrLstsq]] fit, served DISTRIBUTED
    * from the literal trained slopes (the emb_label_assign
    * train-distributed/serve-distributed posture): per-timestep sum of
    * squared residuals. Prediction is the [[arrPcaProject]] ordered
    * per-row fold (identical cell doubles x identical literal weights x
    * identical fold order = identical bits); each residual square is
    * quantized to micro-units BEFORE the per-timestep sum (floor(sq *
    * 1e6) BIGINT) so the cross-row sum is order-free exact in both
    * engines (SURVEY §5's quantized-integer rollup discipline). */
  def arrLstsqResid(s: SparkSession, dir: String): DataFrame = {
    val f = lstsqFit(s, dir)
    lastDirRef.set(dir)
    val k = geom2d.dimSize(1)
    val cells = eventsArray2dCached(s, dir).rows2d
    val byRow = cells.groupBy("timestep", "i")
      .agg(array_sort(collect_list(struct(col("j"), col("value")))).as("lv"))
    val barr = array(f.beta.map(lit(_)): _*)
    val pred = aggregate(slice(col("lv"), 1, k - 1), lit(f.icept),
      (acc, e) => acc + e.getField("value") *
        element_at(barr, e.getField("j").cast("int") + 1))
    val y = element_at(col("lv"), k).getField("value")
    val sq = (y - pred) * (y - pred)
    byRow
      .select(col("timestep"), floor(sq * lit(1e6)).cast("long").as("qe"))
      .groupBy("timestep")
      .agg(count(lit(1)).as("n_rows"), sum(col("qe")).as("sse_q"))
      .select(col("timestep"), col("n_rows"), col("sse_q"),
        (col("sse_q").cast("double") / lit(1e6)).as("sse"))
      .transform(Present.fused("timestep"))
  }

  /** Distributed block matmul `A @ A` on the 8x8 array (dask linear
    * algebra), flattened to (timestep, i, j, value) rows. */
  def arrMatmul(s: SparkSession, dir: String): DataFrame = {
    val a = eventsArray2dCached(s, dir)
    a.matmul(a).rows2d.transform(Present.fused("timestep", "i", "j"))
  }

  /** Rank-3 x rank-2 contraction `tensordot(A3, A2, axes=1)` (dask
    * tensordot): contracts the event-id axis of the 8x8x8 array with the
    * user axis of the 8x8 array, yielding a rank-3 result flattened to
    * (timestep, i, j, k, value) rows. */
  def arrTensordot(s: SparkSession, dir: String): DataFrame = {
    val a = eventsArray3dCached(s, dir)
    val b = eventsArray2dCached(s, dir)
    a.tensordot(b).rowsNd
      .withColumnsRenamed(Map("i0" -> "i", "i1" -> "j", "i2" -> "k"))
      .transform(Present.fused("timestep", "i", "j", "k"))
  }

  /** Arbitrary-axis-list contraction `tensordot(A3, A2,
    * axes=((0, 2), (1, 0)))` (the full dask/numpy axes form): contracts
    * the 3-d array's user axis with the 2-d array's HOUR axis and its
    * event-id axis with the 2-d array's USER axis — axesA non-contiguous,
    * axesB non-sorted, so BOTH transpose re-addressings run before the
    * shared SUMMA join. Output is the surviving hour axis per timestep. */
  def arrTensordotAxes(s: SparkSession, dir: String): DataFrame = {
    val a = eventsArray3dCached(s, dir)
    val b = eventsArray2dCached(s, dir)
    a.tensordot(b, Seq(0, 2), Seq(1, 0)).rowsNd
      .withColumnsRenamed(Map("i0" -> "i"))
      .transform(Present.fused("timestep", "i"))
  }

  /** dask `da.einsum("uh,vh->vu", a, a)` — the einsum string front-end
    * over the tensordot machinery ([[graft.arrays.ChunkedArray.einsum]]
    * is a PLANNER: subscripts resolve to tensordot axis lists + one
    * narrow output transpose when the requested order differs, so this
    * costs exactly one SUMMA contraction shuffle): contract the hour
    * axis of the field with itself, output in the PERMUTED (v, u)
    * order — exercising both the axes mapping and the output
    * re-addressing the spec string can ask for. */
  def arrEinsum(s: SparkSession, dir: String): DataFrame = {
    val a = eventsArray2dCached(s, dir)
    ChunkedArray.einsum("uh,vh->vu", a, a).rowsNd
      .withColumnsRenamed(Map("i0" -> "i", "i1" -> "j"))
      .transform(Present.fused("timestep", "i", "j"))
  }

  /** dask `da.einsum("uu->u", a)` — the repeated-subscript DIAGONAL
    * form (VERDICT r17 #5, the first of the two einsum refusals
    * removed): the main diagonal of the 8×8 field per timestep via
    * [[graft.arrays.ChunkedArray.diagonal]] — a metadata filter to the
    * grid-diagonal chunks plus one compiled affine gather per chunk
    * (source stride = row+col stride, the numpy stride trick); ZERO
    * exchanges, values pass through untouched so the oracle is an
    * exact WHERE u = h filter. */
  def arrEinsumDiag(s: SparkSession, dir: String): DataFrame = {
    val a = eventsArray2dCached(s, dir)
    ChunkedArray.einsum("uu->u", a).rowsNd
      .withColumnsRenamed(Map("i0" -> "i"))
      .transform(Present.fused("timestep", "i"))
  }

  /** dask `da.einsum("uhw,uwx->uhx", a, a)` — the BATCH form (the
    * second einsum refusal removed): contract the event-id axis against
    * the hour axis WITHIN each user slice — the SUMMA chunk-pair join
    * gains one equality on the batch (user) axis' chunk position
    * ([[graft.arrays.ChunkedArray.tensordotBatched]]) and each pair's
    * block product runs per batch slice through the SAME codegen'd
    * kernel; still exactly one contraction shuffle, still no broadcast.
    * Same decimal(18,4)-product/exact-sum posture as arr_tensordot. */
  def arrEinsumBatch(s: SparkSession, dir: String): DataFrame = {
    val a = eventsArray3dCached(s, dir)
    ChunkedArray.einsum("uhw,uwx->uhx", a, a).rowsNd
      .withColumnsRenamed(Map("i0" -> "i", "i1" -> "j", "i2" -> "k"))
      .transform(Present.fused("timestep", "i", "j", "k"))
  }

  /** dask `da.einsum("uh,vh,vw->uw", a, m, a)` — the N-OPERAND einsum
    * (VERDICT r18 #3, the pairwise planner,
    * [[graft.arrays.ChunkedArray.einsum(spec:String,arrays:Seq*]]):
    * project the field through its own thresholded-indicator Gram (m =
    * the elementwise `cell > 100` mask — the masked-correlation probe),
    * contracted strictly left-to-right — h falls in the first pair (no
    * later term needs it), v in the second — so the chain costs
    * exactly TWO SUMMA contraction shuffles and zero planner-inserted
    * transposes, each stage the same codegen'd block kernel.
    *
    * Exactness across the chain: the mask keeps stage-1 values
    * 2-DECIMAL exact (2-decimal cells × {0, 1}), so every stage-2
    * product is a ≤ 4-decimal exact value — the arr_matmul
    * decimal(18,4) discipline holds through BOTH stages and no product
    * is ever actually rounded. (A chain of three raw copies of the
    * field is NOT oracle-safe: stage-2 products of 4-decimal
    * intermediates carry 8 decimal digits, the quantization genuinely
    * rounds, and the two engines' double→decimal paths can disagree by
    * one ulp when a true product sits at a .00005 midpoint — measured
    * r19, value[1] off by 1e-4. The mask keeps the math in the exact
    * regime instead of betting on rounding agreement.) */
  def arrEinsumChain(s: SparkSession, dir: String): DataFrame = {
    val a = eventsArray2dCached(s, dir)
    val m = a.mapValues(x => when(x > lit(100.0), lit(1.0)).otherwise(lit(0.0)))
    ChunkedArray.einsum("uh,vh,vw->uw", Seq(a, m, a)).rowsNd
      .withColumnsRenamed(Map("i0" -> "i", "i1" -> "j"))
      .transform(Present.fused("timestep", "i", "j"))
  }

  /** numpy `trace` / einsum `"ii->"` composed from the engine's own
    * faces: [[graft.arrays.ChunkedArray.diagonal]]'s zero-exchange
    * gather feeding the standard per-timestep decimal-exact sum — the
    * reduction einsum leaves to `axisSum`-family composition (the
    * single-operand einsum keeps every letter; dropping one is a
    * reduce, and reductions already have exact spellings). Plan cost:
    * the diagonal chunks' narrow gather + ONE partial-agg shuffle on
    * timestep. */
  def arrTrace(s: SparkSession, dir: String): DataFrame =
    ChunkedArray.einsum("uu->u", eventsArray2dCached(s, dir))
      .sumPerTimestep("trace")
      .transform(Present.fused("timestep"))

  /** dask `da.einsum("u,v->uv", a, a)` / `np.outer` — the OUTER product
    * (tensordot axes=0; the last einsum class the engine refused): the
    * daily field's self-outer, 64×64 per timestep. The chunk-pair join
    * shuffles on timestep and materializes exactly the output's own
    * |A|·|B| blocks through the SAME codegen'd block kernel with the
    * contraction extent pinned to 1 — tensordot's decimal(18,4)-product
    * discipline bit-for-bit. */
  def arrOuter(s: SparkSession, dir: String): DataFrame = {
    val a = eventsArray1dCached(s, dir)
    val o = ChunkedArray.einsum("u,v->uv", a, a)
    // persist boundary ABOVE the block kernel (the §4 pushdown-
    // duplication cure): without it, rowsNd's inferred size>0 filter
    // inlines the WHOLE block matmul into the join condition and the
    // outer product runs twice per chunk pair (verified in the plan);
    // the chunk relation is O(chunk pairs) payload rows, tiny
    val cached = o.copy(df = Persists.cached(o.df))
    cached.rowsNd
      .withColumnsRenamed(Map("i0" -> "i", "i1" -> "j"))
      .transform(Present.fused("timestep", "i", "j"))
  }

  /** dask `reshape` — the 8x8 2-d array re-read as a 1-d 64-vector in
    * global row-major order (rank change), then the distributed cumsum
    * scan: any re-addressing error (wrong flat index, wrong chunk,
    * wrong offset) shifts every later prefix and breaks the hash. */
  def arrReshapeFlat(s: SparkSession, dir: String): DataFrame =
    eventsArray2dCached(s, dir).reshape(Seq(64), Seq(16)).cumsumRows()
      .transform(Present.fused("timestep", "idx"))

  /** dask `stack([a, 2a])` — a NEW leading axis over two same-geometry
    * arrays (pure metadata, no payload moves), then the per-slab totals
    * through two decimal-exact axis reductions: slab 0 must reproduce
    * the plain total, slab 1 exactly twice it — a misfiled chunk breaks
    * one slab's sum. */
  def arrStackAxis(s: SparkSession, dir: String): DataFrame = {
    val a = eventsArray2dCached(s, dir)
    ChunkedArray.stack(Seq(a, a.mapValues(_ * lit(2.0))))
      .axisSum(2).axisSum(1).rowsNd
      .withColumnsRenamed(Map("i0" -> "idx"))
      .transform(Present.fused("timestep", "idx"))
  }

  /** dask `a.any()` / `a.all()` per timestep (truthiness: nonzero) in
    * one pass — "did ANY bucket see traffic / did EVERY bucket" — two
    * 0/1 scalars per chunk cross the wire. */
  def arrAnyAll(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).truthPerTimestep.transform(Present.fused("timestep"))

  /** dask `prod(axis=)` on the 2-d array: cells first collapse to small
    * integers 1..7 (chunk-local), so every 8-long line product stays
    * below 2^53 and the double result is EXACT — order-independent and
    * replayable in DuckDB's `product` aggregate. */
  def arrAxisProd(s: SparkSession, dir: String): DataFrame =
    eventsArray2dCached(s, dir)
      .mapValues(x => pmod(floor(x).cast("bigint"), lit(7)) + lit(1))
      .axisProd(axis = 1).rowsNd
      .withColumnsRenamed(Map("i0" -> "idx"))
      .transform(Present.fused("timestep", "idx"))

  /** Generalized stencil (dask `map_overlap(depth=1, boundary='reflect')`)
    * — a 3-point (0.25, 0.5, 0.25) smoothing kernel along the 1-d array
    * with mirrored edges: power-of-two weights make every product exact,
    * and the fixed fold order replays the IEEE sums bit-for-bit. */
  def arrStencilAvg(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir)
      .stencilAxis(axis = 0, weights = Seq(0.25, 0.5, 0.25), boundary = "reflect")
      .rowsNd
      .withColumnsRenamed(Map("i0" -> "idx"))
      .transform(Present.fused("timestep", "idx"))

  /** numpy/dask `gradient(arr)` along the 1-d array — central
    * differences `(f[x+1] - f[x-1])/2` with numpy's one-sided edges,
    * as ONE central-kernel halo pass over the `"linear"` boundary
    * ([[graft.arrays.ChunkedArray.gradientAxis]]): the in-situ "slope
    * of the simulation field" probe. */
  def arrGradient(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).gradientAxis(axis = 0).rowsNd
      .withColumnsRenamed(Map("i0" -> "idx"))
      .transform(Present.fused("timestep", "idx"))

  /** Elementwise zip across MISMATCHED chunkings (dask auto-rechunks,
    * `unify_chunks`): the same logical array chunked 4x16 and 8x8 zips
    * after a rechunk round trip; the THRESHOLDED reduce is what makes
    * the oracle placement-sensitive — a misaligned pair `a[i] + a[j]`
    * changes which cells pass the cut (a plain sum would be invariant
    * under any pairing). */
  def arrZipMismatch(s: SparkSession, dir: String): DataFrame = {
    val a = eventsArray1dCached(s, dir)
    a.zipWithAuto(a.rechunk(Seq(8)))(_ + _)
      .maskedSumPerTimestep(_ > lit(1000.0))
      .transform(Present.fused("timestep"))
  }

  /** dask `da.topk(5)` per timestep — the k hottest buckets with their
    * indices (values desc, ties to the lowest index): each chunk ships
    * its own 5 best (value, index) structs, the per-timestep merge keeps
    * 5 — the bounded-heap posture at the array face. */
  def arrTopk(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).topkRows(5).transform(Present.fused("timestep", "rank"))

  /** dask `da.percentile` (exact, percentile_disc semantics) per
    * timestep — p25/p50/p90 of the 64 dense cells through ONE
    * value-histogram pass + a histogram-bounded window (the q_median /
    * q_percentiles scaffold at the array face). */
  def arrQuantile(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir)
      .quantilesPerTimestep(Seq(("p25", 0.25), ("p50", 0.50), ("p90", 0.90)))
      .transform(Present.fused("timestep"))

  /** dask `da.percentile` DEFAULT (linear interpolation) per timestep —
    * the interpolated twin of [[arrQuantile]], closing the last semantic
    * delta with the dask API the reference hands its users
    * (dask.array.percentile's default method="linear"; the reference's
    * callbacks get interpolated values, doreisa/head_node.py callbacks).
    * Same one-histogram-pass wire posture; DuckDB `quantile_cont`
    * operand order replayed bit-for-bit (see
    * [[graft.arrays.ChunkedArray.quantileContPerTimestep]]). */
  def arrQuantileCont(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir)
      .quantileContPerTimestep(Seq(("p25", 0.25), ("p50", 0.50), ("p90", 0.90)))
      .transform(Present.fused("timestep"))

  /** dask `map_overlap` with a FULL 3x3 kernel (binomial blur, all
    * power-of-two weights so every product is IEEE-exact) over the 2-d
    * array, reflect boundary — the corner-halo face
    * ([[graft.arrays.ChunkedArray.stencil2d]]): each chunk ships 2 row
    * slabs + 2 column slabs + 4 corner blocks, O(surface·depth)
    * shuffle. Emitted cell-exact as (timestep, i, j, value); the
    * row-major kernel fold replays the oracle's linear expression
    * bit-for-bit. */
  def arrStencil2d(s: SparkSession, dir: String): DataFrame =
    eventsArray2dCached(s, dir)
      .stencil2d(Seq(
        Seq(0.0625, 0.125, 0.0625),
        Seq(0.125, 0.25, 0.125),
        Seq(0.0625, 0.125, 0.0625)), boundary = "reflect")
      .rowsNd
      .select(col("timestep"), col("i0").as("i"), col("i1").as("j"), col("value"))
      .transform(Present.fused("timestep", "i", "j"))

  /** Rank-3 FULL 3×3×3 stencil (separable binomial (1,2,1)⊗³ / 64, all
    * power-of-two weights) with reflect boundary — the full-hypercube
    * `map_overlap` face at rank 3: every chunk ships 6 face slabs, 12
    * edge beams AND 8 corner voxels (26 neighbors) through
    * [[graft.arrays.ChunkedArray.stencilNd]], O(surface·depth) shuffle.
    * Emitted cell-exact as (timestep, i, j, k, value). */
  def arrStencil3d(s: SparkSession, dir: String): DataFrame = {
    val w1 = Seq(0.25, 0.5, 0.25)
    val kernel = for (a <- w1; b <- w1; c <- w1) yield a * b * c
    eventsArray3dCached(s, dir)
      .stencilNd(kernel, Seq(3, 3, 3), boundary = "reflect")
      .rowsNd
      .select(col("timestep"), col("i0").as("i"), col("i1").as("j"),
        col("i2").as("k"), col("value"))
      .transform(Present.fused("timestep", "i", "j", "k"))
  }

  /** dask `da.flip` emitted cell-exact: a pure narrow projection
    * (mirrored grid pos + in-chunk gather — no cell changes chunks),
    * zero shuffles before the presentation sort. */
  def arrFlip(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).flip(0).rowsNd
      .select(col("timestep"), col("i0").as("idx"), col("value"))
      .transform(Present.fused("timestep", "idx"))

  /** dask `da.roll` (circular shift by 5, deliberately NOT a chunk
    * multiple) emitted cell-exact: payloads move as two slab rows per
    * chunk into one assembling groupBy — never cell rows. */
  def arrRoll(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).roll(0, 5).rowsNd
      .select(col("timestep"), col("i0").as("idx"), col("value"))
      .transform(Present.fused("timestep", "idx"))

  /** dask `da.pad(mode='constant')` (8 cells each side, value -1.0 so
    * the fill is distinguishable from the zero-filled interior) emitted
    * cell-exact: the roll slab machinery at shifted coordinates plus a
    * seeded destination grid for the pure-pad chunks. */
  def arrPad(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).pad(0, 8, 8, -1.0).rowsNd
      .select(col("timestep"), col("i0").as("idx"), col("value"))
      .transform(Present.fused("timestep", "idx"))

  /** dask `da.pad(mode='edge')` — the same 8-cell pad with the
    * boundary plane REPLICATED instead of a constant: the seed
    * messages carry the emitting boundary chunk's edge plane, so the
    * plan shape is identical to arr_pad (slab messages + narrow
    * boundary-chunk seeds, one assembling groupBy). */
  def arrPadEdge(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).pad(0, 8, 8, mode = "edge").rowsNd
      .select(col("timestep"), col("i0").as("idx"), col("value"))
      .transform(Present.fused("timestep", "idx"))

  /** dask `da.clip(100, 900)` then stats — the clip face proven
    * through the reduction oracle: a pure narrow [[ChunkedArray.mapValues]]
    * composition (least∘greatest), zero shuffles before the per-chunk
    * stat folds. */
  def arrClip(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir)
      .mapValues(x => least(greatest(x, lit(100.0)), lit(900.0)))
      .statsPerTimestep.transform(Present.fused("timestep"))

  /** dask `da.unique(return_counts=True)` per timestep — the exact
    * value-multiplicity relation (which the quantile face's histogram
    * also rides): one partial-agg pass, shuffle O(distinct values). */
  def arrUnique(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).valueCountsPerTimestep
      .transform(Present.fused("timestep", "value"))

  /** dask `da.diff` — first discrete difference along the array
    * (out[i] = in[i+1] - in[i], 63 rows per timestep): operator
    * ALGEBRA, composed as roll(-1) zipped with self (slab-message
    * shift + one aligned shuffle-hash zip), the wrapped final cell
    * dropped. IEEE double subtraction replays bit-exact in the
    * oracle's LEAD window. */
  def arrDiff(s: SparkSession, dir: String): DataFrame = {
    val a = eventsArray1dCached(s, dir)
    a.roll(0, -1).zipWith(a)(_ - _).rowsNd
      .select(col("timestep"), col("i0").as("idx"), col("value"))
      .where(col("idx") < geom1d.dimSize(0) - 1)
      .transform(Present.fused("timestep", "idx"))
  }

  /** dask `da.nansum` / `da.nanmean` / `da.nanmin` / `da.nanmax` /
    * count of valid cells — the nan-reduction family over an array with
    * MISSING cells (the zero-filled buckets masked to NULL, the decimal
    * engine's NaN stand-in): one narrow mask
    * ([[graft.arrays.ChunkedArray.where]]) then the
    * [[graft.arrays.ChunkedArray.nanStatsPerTimestep]] chunk-partial
    * posture — O(1) per chunk on the wire, zero shuffles before the
    * per-timestep merge. */
  def arrNanStats(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir)
      .where(_ =!= 0.0, lit(null))
      .nanStatsPerTimestep
      .transform(Present.fused("timestep"))

  /** dask `da.corrcoef` between the array and its lag-1 roll — the
    * per-timestep serial correlation of the bucket loads ("is today's
    * load spatially smooth"): roll moves slab messages (never cells),
    * the aligned zip joins shuffle_hash on (timestep, pos), each chunk
    * pair folds to SIX exact-decimal moment partials (native
    * ChunkSumDec / ChunkSumSqDec / ChunkDotDec), and the final double
    * formula replays the q_corr oracle operand-for-operand. */
  def arrCorrRoll(s: SparkSession, dir: String): DataFrame = {
    val a = eventsArray1dCached(s, dir)
    a.corrPerTimestep(a.roll(0, 1), alias = "corr_lag1").transform(Present.fused("timestep"))
  }

  /** Deliberately unsorted, duplicate-bearing gather list: order and
    * multiplicity must survive, proving the take is a gather, not a
    * filter. */
  val takeIndices: Seq[Int] = Seq(3, 17, 42, 63, 8, 21, 42)

  /** dask `da.take(a, indices)` — fancy indexing along the axis: the
    * literal index list compiles to a per-chunk gather map
    * ([[graft.arrays.ChunkedArray.takeRows]]), so only the touched
    * chunks are read and #indices cells move per timestep — a pure
    * narrow projection, zero shuffles before the presentation sort. */
  def arrTake(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).takeRows(takeIndices)
      .transform(Present.fused("timestep", "sel"))

  /** dask `da.median(axis=1)` — per-ROW exact median of the 2-d array
    * (the row-distribution profile the global quantile face can't
    * express): median is not associative, so the line rides the
    * value-histogram scaffold keyed by (timestep, row)
    * ([[graft.arrays.ChunkedArray.axisQuantileRows]]) — shuffle
    * O(distinct values per line), percentile_disc semantics,
    * deterministic cross-engine. */
  def arrAxisMedian(s: SparkSession, dir: String): DataFrame =
    eventsArray2dCached(s, dir)
      .axisQuantileRows(axis = 1, Seq(("med", 0.5), ("p90", 0.9)))
      .transform(Present.fused("timestep", "idx"))

  /** dask `da.percentile` per ROW with the DEFAULT linear interpolation
    * — [[arrAxisMedian]]'s method="linear" twin
    * ([[graft.arrays.ChunkedArray.axisQuantileContRows]]); DuckDB
    * `quantile_cont` operand order replayed per line. */
  def arrAxisQuantileCont(s: SparkSession, dir: String): DataFrame =
    eventsArray2dCached(s, dir)
      .axisQuantileContRows(axis = 1, Seq(("med", 0.5), ("p90", 0.9)))
      .transform(Present.fused("timestep", "idx"))

  /** dask `da.average(a, weights=w)` — per-timestep weighted mean
    * against an aligned weights array (here the array's own clipped
    * values, an exact narrow derivation): aligned shuffle_hash zip,
    * native exact-decimal Σw·x / Σw partials
    * ([[graft.arrays.ChunkedArray.weightedMeanPerTimestep]]), one
    * replayed double division. */
  def arrWeightedMean(s: SparkSession, dir: String): DataFrame = {
    val a = eventsArray1dCached(s, dir)
    val w = a.mapValues(x => least(greatest(x, lit(100.0)), lit(900.0)))
    a.weightedMeanPerTimestep(w).transform(Present.fused("timestep"))
  }

  /** dask `cumprod(axis=1)` on the 2-d array — [[graft.arrays.ChunkedArray.cumprodAxis]],
    * cumsum's multiplicative twin on the same carry-window machinery.
    * Exactness (the arr_axis_prod story): cells collapse chunk-locally
    * to small integers 1..7, so every 8-long line product stays below
    * 2^53 — the double scan is EXACT, order-independent, and DuckDB's
    * windowed `product` aggregate replays it. */
  def arrCumprod(s: SparkSession, dir: String): DataFrame =
    eventsArray2dCached(s, dir)
      .mapValues(x => pmod(floor(x).cast("bigint"), lit(7)) + lit(1))
      .cumprodAxis(axis = 1).rows2d
      .transform(Present.fused("timestep", "i", "j"))

  /** dask/numpy `sort(a, axis=1)` — per-line full sort along the hour
    * axis ([[graft.arrays.ChunkedArray.sortAxisRows]]): a full sort is
    * not associative (the arr_axis_median argument), so the honest
    * posture keys cells by their line and ranks inside it — one
    * O(cells) skinny shuffle, window partitions bounded by the axis
    * extent, never a global sort. Exact doubles sort deterministically
    * cross-engine; ties keep original order (numpy stable). */
  def arrSortAxis(s: SparkSession, dir: String): DataFrame =
    eventsArray2dCached(s, dir).sortAxisRows(axis = 1)
      .withColumnsRenamed(Map("i0" -> "i", "i1" -> "j"))
      .transform(Present.fused("timestep", "i", "j"))

  /** numpy `argsort(a, axis=1)` (stable) — [[arrSortAxis]]'s index
    * face ([[graft.arrays.ChunkedArray.argsortAxisRows]]): rank k of a
    * line holds the ORIGINAL hour coordinate of its k-th smallest
    * value, ties in original order — the tie rule is the observable
    * contract here, replayed by the oracle's (value, coord) ordering. */
  def arrArgsort(s: SparkSession, dir: String): DataFrame =
    eventsArray2dCached(s, dir).argsortAxisRows(axis = 1)
      .withColumnsRenamed(Map("i0" -> "i", "i1" -> "j"))
      .transform(Present.fused("timestep", "i", "j"))

  /** numpy/dask `broadcast_to(a, (4,) + a.shape)` — a new leading axis
    * by pure NARROW replication ([[graft.arrays.ChunkedArray.broadcastTo]],
    * the stride-0-view analog; plan-gated exchange-free in
    * ChunkedArraySpec). The reduce is placement-sensitive: per (timestep,
    * lead) the exact decimal total AND the position-weighted decimal
    * checksum Σ cell·(idx+1) — a misplaced copy shifts the weights. */
  def arrBroadcastTo(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).broadcastTo(4, 2).rowsNd
      .groupBy(col("timestep"), col("i0").as("lead"))
      .agg(sum(dec2(col("value"))).cast("double").as("total"),
        sum(dec2(col("value")) * (col("i1") + lit(1L))).cast("double").as("wsum"))
      .transform(Present.fused("timestep", "lead"))

  /** numpy/dask `tile(a, 2)` along the existing axis — pure metadata
    * re-addressing ([[graft.arrays.ChunkedArray.tileAxis]]: copy r's
    * chunks shift by r·chunksPerDim, payloads never move; plan-gated
    * exchange-free). The position-weighted checksum over the 128-long
    * tiled index space gates every copy's placement. */
  def arrTile(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).tileAxis(axis = 0, reps = 2).rowsNd
      .groupBy("timestep")
      .agg(count(lit(1)).as("n_cells"),
        sum(dec2(col("value")) * (col("i0") + lit(1L))).cast("double").as("wsum"))
      .transform(Present.fused("timestep"))

  /** numpy/dask `repeat(a, 3)` — each ELEMENT repeated 3× in place
    * ([[graft.arrays.ChunkedArray.repeatAxis]]: the chunk's axis extent
    * grows k× by a narrow gather `data[coord div k]`, zero exchanges;
    * plan-gated). Checksum over the 192-long index space gates the
    * element-level interleaving (tile would put copies at +64/+128,
    * repeat puts them adjacent — the weights tell them apart). */
  def arrRepeat(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).repeatAxis(axis = 0, k = 3).rowsNd
      .groupBy("timestep")
      .agg(count(lit(1)).as("n_cells"),
        sum(dec2(col("value")) * (col("i0") + lit(1L))).cast("double").as("wsum"))
      .transform(Present.fused("timestep"))

  /** The NON-power-of-two DFT (numpy/dask `fft` at arbitrary n — the
    * restriction [[arrFft]] declared, retired): the 48-cell daily
    * field through Bluestein's chirp-z convolution
    * ([[graft.arrays.ChunkedArray.bluesteinRows]] — the length-48
    * transform as one length-128 radix-2 convolution; chirp and filter
    * response are driver-side StrictMath literals shared verbatim with
    * the oracle, which replays the whole
    * chirp→fft→·B→ifft→chirp chain stage-for-stage, bit-exact). */
  def arrFftNp2(s: SparkSession, dir: String): DataFrame =
    eventsArray48Cached(s, dir).bluesteinRows().transform(Present.fused("timestep", "u"))

  /** One-sided power spectrum of the NON-power-of-two field — bins
    * 0..n/2 of [[arrFftNp2]] with `power = re·re + im·im` spelled
    * operand-for-operand with the oracle (the [[arrSpectrum]] read on
    * the Bluestein transform, completing the np2 spectral pair). */
  def arrSpectrumNp2(s: SparkSession, dir: String): DataFrame =
    eventsArray48Cached(s, dir).bluesteinRows()
      .filter(col("u") <= geom48.dimSize(0) / 2)
      .select(col("timestep"), col("u"),
        (col("re") * col("re") + col("im") * col("im")).as("power"))
      .transform(Present.fused("timestep", "u"))

  /** dask `da.fft.fft` of each timestep's field line (the spectral
    * analytic the in-situ `arr_gradient`/`arr_stencil_*` analyst plots
    * next; the reference's callback reaches the full dask.array
    * surface, doreisa/window_api.py:38-119): radix-2 Cooley-Tukey in
    * ONE compiled per-line kernel after the one line-assembly shuffle
    * ([[graft.arrays.ChunkedArray.fftRows]]), twiddles driver-side
    * StrictMath literals — the oracle replays the identical fixed
    * butterfly order per element, so doubles match bit-for-bit (no
    * transcendental ever crosses engines, SURVEY §5). */
  def arrFft(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).fftRows().transform(Present.fused("timestep", "u"))

  /** One-sided power spectrum `|fft|²` per timestep — bins 0..n/2 of
    * [[arrFft]] with `power = re·re + im·im` spelled operand-for-
    * operand with the oracle
    * ([[graft.arrays.ChunkedArray.powerSpectrumRows]]). */
  def arrSpectrum(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).powerSpectrumRows().transform(Present.fused("timestep", "u"))

  /** numpy `rfft` + `rfftfreq` — the packed Hermitian half-spectrum of
    * the real daily line ([[graft.arrays.ChunkedArray.rfftRows]]): a
    * pure narrow projection over the same compiled butterfly, freq an
    * exact dyadic u/n. */
  def arrRfft(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).rfftRows().transform(Present.fused("timestep", "u"))

  /** numpy `fftshift` ordering + shifted `fftfreq` axis
    * ([[graft.arrays.ChunkedArray.fftshiftRows]]): pure index
    * relabeling k = (u + n/2) mod n over the same spectrum. */
  def arrFftshift(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).fftshiftRows().transform(Present.fused("timestep", "k"))

  /** numpy `irfft(rfft(x))` — the packed-real inverse round trip
    * ([[graft.arrays.ChunkedArray.irfftRoundtripRows]]): Hermitian
    * mirror of the PACKED bins, conj-trick inverse on the shared
    * butterfly, real part only; residuals hash-gated bit-for-bit. */
  def arrIrfft(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).irfftRoundtripRows().transform(Present.fused("timestep", "i"))

  /** numpy `ifft(fft(x))` — the INVERSE transform as a round trip over
    * the daily field line ([[graft.arrays.ChunkedArray.ifftRoundtripRows]]):
    * the conjugate identity on the same shared butterfly, conj + 1/n
    * scaling exact (sign flips; n a power of two). Emits the
    * reconstructed line (re ≈ cell, im ≈ 0) with BOTH residuals
    * hash-gated — the oracle replays forward chain, conjugation and
    * inverse chain operand-for-operand, so even the 1e-13 imaginary
    * dust matches bit-for-bit. */
  def arrIfft(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).ifftRoundtripRows().transform(Present.fused("timestep", "u"))

  /** The circular smoothing kernel behind [[arrConvFft]]: a symmetric
    * 5-tap low-pass (0.4 center, 0.2 at ±1, 0.1 at ±2), padded to the
    * full 64-cell circle. */
  val ConvKernel: Seq[Double] = {
    val t = Array.fill(64)(0.0)
    t(0) = 0.4; t(1) = 0.2; t(2) = 0.1; t(62) = 0.1; t(63) = 0.2
    t.toSeq
  }

  /** Circular convolution of the daily field with [[ConvKernel]] via
    * the CONVOLUTION THEOREM (`ifft(fft(x)·H)` — the dask `da.fft`
    * smoothing pass;
    * [[graft.arrays.ChunkedArray.convolveFftRows]]): H = fft(kernel)
    * is computed driver-side through the identical gather+butterfly
    * code path and embedded as round-trip-exact literals in BOTH
    * plans, the complex product is spelled operand-for-operand, and
    * the whole forward·product·inverse chain replays in the oracle —
    * hash-exact, imaginary dust included. The spec cross-checks
    * against a DIRECT circular convolution (different algorithm, same
    * answer to 1e-9 — the convolution-theorem identity itself). */
  def arrConvFft(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).convolveFftRows(ConvKernel).transform(Present.fused("timestep", "u"))

  /** Averaged periodogram across timesteps (Bartlett 1948; Welch's
    * method without windowing/overlap — the spectral SUMMARY an
    * in-situ analyst keeps after the per-timestep spectra): the mean
    * one-sided power per frequency bin over every timestep. The
    * cross-timestep sum is order-dependent in doubles, so each
    * per-timestep power quantizes to milli-units FIRST
    * (floor(power·10³) BIGINT — same double in, same ops, identical
    * both engines; SURVEY §5's quantized-integer discipline) and the
    * exact integer sums divide once at the end. Emits
    * (u, n_ts, psd_q, psd); the quantized sum stays under 2⁶³ while
    * power·10³·timesteps does — the declared bound, checked loudly by
    * ANSI sum overflow. */
  def arrPsd(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).powerSpectrumRows()
      .select(col("u"),
        floor(col("power") * lit(1000.0)).cast("bigint").as("q"))
      .groupBy("u")
      .agg(count(lit(1)).as("n_ts"), sum(col("q")).as("psd_q"))
      .select(col("u"), col("n_ts"), col("psd_q"),
        (col("psd_q").cast("double") / col("n_ts").cast("double") /
          lit(1000.0)).as("psd"))
      .transform(Present.fused("u"))

  /** Circular cross-correlation of the EVEN vs ODD parity fields via
    * the correlation theorem ("at what lag does one half of the event
    * stream echo the other";
    * [[graft.arrays.ChunkedArray.xcorrFftRows]]): both parity arrays
    * come from the ONE-scan [[parityCells]] relation (the
    * arr_mean_diff posture), spectra meet in a skinny per-bin join,
    * the conjugate product and inverse replay operand-for-operand in
    * the oracle's twin stage chains over the INTERSECT of parity
    * timesteps. */
  def arrXcorr(s: SparkSession, dir: String): DataFrame =
    parityArray(s, dir, even = true)
      .xcorrFftRows(parityArray(s, dir, even = false))
      .withColumnRenamed("u", "lag")
      .transform(Present.fused("timestep", "lag"))

  /** numpy/dask `fft2` of the 2-d field per timestep — the four-step
    * composition [[arrFft]]'s scale caveat declared, shipped as code
    * ([[graft.arrays.ChunkedArray.fft2Rows]]): real row pass along the
    * hour axis, narrow per-frequency re-gather, complex column pass
    * along the user axis through the SAME shared butterfly; the
    * oracle replays the identical two passes in the identical
    * composition order, so every (re, im) matches bit-for-bit. */
  def arrFft2(s: SparkSession, dir: String): DataFrame =
    eventsArray2dCached(s, dir).fft2Rows().transform(Present.fused("timestep", "u", "v"))

  /** numpy `searchsorted` per timestep for a fixed query vector (the
    * in-situ "how many cells sit below each alert threshold" lookup —
    * insertion indices into the sorted daily field without ever
    * sorting it; [[graft.arrays.ChunkedArray.searchSortedPerTimestep]]:
    * each index is a chunk-local conditional count, one timestep-keyed
    * shuffle of |q| longs per chunk). */
  def arrSearchsorted(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir)
      .searchSortedPerTimestep(SearchThresholds)
      .transform(Present.fused("timestep", "q"))

  val SearchThresholds: Seq[Double] = Seq(0.5, 50.0, 200.0, 500.0, 2000.0)

  /** numpy `linalg.norm` L1/L2/L∞ of the daily field line in one pass
    * ([[graft.arrays.ChunkedArray.normsPerTimestep]]): |x| and x² sums
    * exact in decimal, the lone double op is the final sqrt — same
    * operand both engines. */
  def arrNorms(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).normsPerTimestep().transform(Present.fused("timestep"))

  /** The direct 5-tap FIR smoothing filter [[ConvTaps]] in 'valid'
    * mode (numpy `convolve(x, k, 'valid')` — the direct-form companion
    * of [[arrConvFft]]'s theorem path;
    * [[graft.arrays.ChunkedArray.convolveValidRows]]): exact
    * scaled-integer math end to end, no double crosses engines. */
  def arrConvolve(s: SparkSession, dir: String): DataFrame =
    eventsArray1dCached(s, dir).convolveValidRows(ConvTaps).transform(Present.fused("timestep", "i"))

  /** [[ConvKernel]]'s center taps in hundredths (0.1 0.2 0.4 0.2 0.1). */
  val ConvTaps: Seq[Long] = Seq(10L, 20L, 40L, 20L, 10L)

  /** numpy `interp` along the TIME axis per cell (the gap-filling
    * resample an in-situ analyst runs when timesteps arrive unevenly):
    * for each consecutive present-day pair a quarter-way sample
    * `v0 + (v1-v0)·0.25` at `t0 + (t1-t0)·0.25` — linear interpolation
    * with the fraction exact and the double ops spelled
    * operand-for-operand in the oracle. One lead window per cell index
    * (width = that cell's timestep count — the time dimension, bounded
    * per simulation run, never the spatial corpus). */
  def arrInterp(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("i0").orderBy("timestep")
    eventsArray1dCached(s, dir).rowsNd
      .withColumn("t1", lead(col("timestep"), 1).over(w))
      .withColumn("v1", lead(col("value"), 1).over(w))
      .filter(col("t1").isNotNull)
      .select(col("i0").as("u"),
        (col("timestep").cast("double") +
          (col("t1") - col("timestep")).cast("double") * lit(0.25)).as("tq"),
        (col("value") + (col("v1") - col("value")) * lit(0.25)).as("vq"))
      .transform(Present.fused("u", "tq"))
  }

  /** numpy `maximum.accumulate` along the hour axis per line (the
    * running-peak profile — "high-water mark so far today"): one window
    * per (timestep, user) line (bounded width), max is order-free exact
    * on doubles, no decimal needed anywhere. */
  def arrCummax(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("timestep", "i")
      .orderBy("j")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    eventsArray2dCached(s, dir).rows2d
      .withColumn("cummax", max(col("value")).over(w))
      .select(col("timestep"), col("i"), col("j"), col("cummax"))
      .transform(Present.fused("timestep", "i", "j"))
  }

  /** numpy `histogram2d` of the even/odd parity fields (the joint
    * distribution an analyst draws to see whether the two halves of
    * the event stream co-vary): both dense parity arrays come from the
    * ONE-scan [[parityCells]] relation (the arr_mean_diff posture),
    * meet in a (timestep, cell)-keyed shuffle-hash join over the
    * parity-day INTERSECT (the arr_xcorr day rule), and bucket into a
    * width-100 grid with the IEEE-exact floor bucketing of
    * [[arrHistogram]] — bucket partials fold map-side, the shuffle
    * carries O(occupied grid cells). */
  def arrHistogram2d(s: SparkSession, dir: String): DataFrame = {
    val e = parityArray(s, dir, even = true).rowsNd
      .select(col("timestep"), col("i0").as("u"), col("value").as("ve"))
    val o = parityArray(s, dir, even = false).rowsNd
      .select(col("timestep"), col("i0").as("u"), col("value").as("vo"))
    e.join(o.hint("shuffle_hash"), Seq("timestep", "u"))
      .groupBy(floor(col("ve") / 100.0).cast("bigint").as("be"),
        floor(col("vo") / 100.0).cast("bigint").as("bo"))
      .agg(count(lit(1)).as("n_cells"))
      .transform(Present.fused("be", "bo"))
  }

  /** numpy-style per-timestep STANDARDIZATION (z-scores — the
    * preprocessing map in front of every anomaly/learning consumer):
    * exact decimal moments per timestep (one partial-agg pass of three
    * scalars), joined back shuffle_hash on the timestep key, then the
    * per-cell z expression in ONE fixed double operand order
    * (std = √(n·Σx² − (Σx)²)/n; zero-variance timesteps NULL via the
    * den > 0 guard in both engines). */
  def arrStandardize(s: SparkSession, dir: String): DataFrame = {
    val rows = eventsArray1dCached(s, dir).rowsNd
    val m = rows.groupBy("timestep")
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("value"))).as("sv"),
        sum(dec2(col("value")) * dec2(col("value"))).as("svv"))
    val n = col("n").cast("double")
    val sv = col("sv").cast("double")
    val den = n * col("svv").cast("double") - sv * sv
    rows.join(m.hint("shuffle_hash"), "timestep")
      .select(col("timestep"), col("i0").as("u"),
        when(den > 0.0,
          (col("value") - sv / n) * n / sqrt(den)).as("z"))
      .transform(Present.fused("timestep", "u"))
  }

  /** Per-cell linear TREND along the time axis (the drift detector an
    * in-situ analyst fits per grid cell — "is this region heating?"):
    * ordinary least squares per cell index from EXACT sufficient
    * statistics (Σt, Σt², Σv, Σtv — t integer, v decimal-exact, the
    * arr_lstsq normal-equation discipline at axis granularity), one
    * cell-keyed partial-agg shuffle of five scalars, slope/intercept as
    * fixed-operand-order doubles (degenerate single-timestep cells
    * NULL via the den > 0 guard in both engines). */
  def arrTrend(s: SparkSession, dir: String): DataFrame = {
    val g = eventsArray1dCached(s, dir).rowsNd
      .groupBy(col("i0").as("u"))
      .agg(count(lit(1)).as("n"),
        sum(col("timestep")).as("st"),
        sum(col("timestep") * col("timestep")).as("stt"),
        sum(dec2(col("value"))).as("sv"),
        sum(dec2(col("value")) * col("timestep")).as("stv"))
    val n = col("n").cast("double")
    val (st, sv) = (col("st").cast("double"), col("sv").cast("double"))
    val num = n * col("stv").cast("double") - st * sv
    val den = n * col("stt").cast("double") - st * st
    val slope = when(den > 0.0, num / den)
    g.select(col("u"), col("n").as("n_ts"), slope.as("slope"),
        when(den > 0.0, (sv - (num / den) * st) / n).as("icept"))
      .transform(Present.fused("u"))
  }

  // ---- oracles (DuckDB SQL replaying the same exact-decimal math) ----

  private val CELLS_1D =
    """cells AS (
      |  SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS timestep,
      |    user_id % 64 AS u,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS cell
      |  FROM events GROUP BY 1, 2)""".stripMargin

  private val CELLS_2D_DENSE =
    """raw AS (
      |  SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS timestep,
      |    user_id % 8 AS u, hour(CAST(ts AS TIMESTAMP)) % 8 AS h,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS cell
      |  FROM events GROUP BY 1, 2, 3),
      |days AS (SELECT DISTINCT timestep FROM raw),
      |cells AS (
      |  SELECT d.timestep, uu.u, hh.h, COALESCE(r.cell, 0.0) AS cell
      |  FROM days d
      |  CROSS JOIN (SELECT unnest(range(8)) AS u) uu
      |  CROSS JOIN (SELECT unnest(range(8)) AS h) hh
      |  LEFT JOIN raw r ON r.timestep = d.timestep AND r.u = uu.u AND r.h = hh.h)""".stripMargin

  private val CELLS_3D_DENSE =
    """raw3 AS (
      |  SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS timestep,
      |    user_id % 8 AS u, hour(CAST(ts AS TIMESTAMP)) % 8 AS h,
      |    event_id % 8 AS w,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS cell
      |  FROM events GROUP BY 1, 2, 3, 4),
      |days3 AS (SELECT DISTINCT timestep FROM raw3),
      |cells3 AS (
      |  SELECT d.timestep, uu.u, hh.h, ww.w, COALESCE(r.cell, 0.0) AS cell
      |  FROM days3 d
      |  CROSS JOIN (SELECT unnest(range(8)) AS u) uu
      |  CROSS JOIN (SELECT unnest(range(8)) AS h) hh
      |  CROSS JOIN (SELECT unnest(range(8)) AS w) ww
      |  LEFT JOIN raw3 r ON r.timestep = d.timestep AND r.u = uu.u
      |    AND r.h = hh.h AND r.w = ww.w)""".stripMargin

  /** [[arrSvdVals]]' computed singular values, keyed by dir — the
    * trained-artifact memo the literal oracle reads (the Similarity
    * `trainedByDir` posture: Verify runs every query BEFORE dumping
    * oracle_sql.json, so by then the fit for [[dirForOracles]] exists). */
  private val svdByDir =
    scala.collection.concurrent.TrieMap.empty[String, IndexedSeq[Double]]
  private val pcaByDir =
    scala.collection.concurrent.TrieMap.empty[String, IndexedSeq[IndexedSeq[Double]]]
  private val modesByDir =
    scala.collection.concurrent.TrieMap.empty[String, IndexedSeq[IndexedSeq[Double]]]
  private val qrByDir =
    scala.collection.concurrent.TrieMap.empty[String, IndexedSeq[IndexedSeq[Double]]]
  private val gramByDir =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Double]]]

  /** The collected k × k Gram artifact of [[arrGram]], memoized per dir
    * (the trained-model fingerprint posture: deterministic input →
    * deterministic 64-double artifact) so the svd/pca/qr faces run ONE
    * Gram job between them instead of three. */
  private def gramMatrix(s: SparkSession, dir: String): Array[Array[Double]] =
    gramByDir.getOrElseUpdate(dir, {
      val n = geom2d.dimSize(1)
      val g = Array.ofDim[Double](n, n)
      arrGram(s, dir).collect().foreach { r =>
        g(r.getLong(0).toInt)(r.getLong(1).toInt) = r.getDouble(2)
      }
      g
    })
  private val oracleDirRef =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  private val lastDirRef =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Pin which dir's computed spectrum [[oracles]] embeds (Verify sets
    * its sfDir before dumping oracle_sql.json). */
  def setOracleDir(dir: String): Unit = oracleDirRef.set(dir)

  private def dirForOracles: Option[String] =
    Option(oracleDirRef.get).orElse(Option(lastDirRef.get))

  /** `CAST('<shortest-roundtrip-repr>' AS DOUBLE)` — string->double
    * parsing is correctly-rounded in DuckDB, so the literal comes back
    * bit-identical to the Spark-side double. */
  private def fmtD(d: Double): String =
    s"CAST('${java.lang.Double.toString(d)}' AS DOUBLE)"

  /** Replay of [[orderedRowFold]] from LITERAL weight vectors: the
    * identical ascending-column left fold over the dense cells
    * (arr_pca_project and arr_svd_modes differ only in literals and
    * output-column prefix). */
  private def rowFoldOracleSql(weights: Seq[IndexedSeq[Double]],
      prefix: String): String = {
    val folds = weights.zipWithIndex.map { case (vk, k) =>
      val lst = vk.map(fmtD).mkString("[", ", ", "]")
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(range(1, ${vk.length + 1}),
         |      jj -> lv[CAST(jj AS INT)] * ($lst)[CAST(jj AS INT)])),
         |    (x, y) -> x + y) AS $prefix$k""".stripMargin
    }.mkString(",\n  ")
    s"""WITH $CELLS_2D_DENSE,
       |rows_ AS (
       |  SELECT timestep, u, list(cell ORDER BY h) AS lv
       |  FROM cells GROUP BY 1, 2)
       |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS i,
       |  $folds
       |FROM rows_ ORDER BY 1, 2""".stripMargin
  }

  /** The full dask `da.linalg` surface the reference's callbacks can
    * reach needs a factorization face; see [[arrGram]]/[[arrSvdVals]].
    * The svd oracle embeds the driver-computed spectrum as round-trip
    * exact literals — the engine-side eigensolve ([[graft.arrays.Eigen]])
    * never crosses engines, exactly like the sim_*_trained k-means fits;
    * the distributed math it rests on (the Gram) is hash-gated by
    * arr_gram's own exact oracle. */
  def oracles: Map[String, String] =
    staticOracles ++
      dirForOracles.flatMap(svdByDir.get).map { sv =>
        val rows = sv.zipWithIndex
          .map { case (v, k) => s"(CAST($k AS BIGINT), ${fmtD(v)})" }
          .mkString(", ")
        Map("arr_svd_vals" ->
          s"SELECT k, sigma FROM (VALUES $rows) AS t(k, sigma) ORDER BY k")
      }.getOrElse(Map.empty) ++
      dirForOracles.flatMap(pcaByDir.get).map { top =>
        Map("arr_pca_project" -> rowFoldOracleSql(top, "pc"))
      }.getOrElse(Map.empty) ++
      dirForOracles.flatMap(modesByDir.get).map { w =>
        Map("arr_svd_modes" -> rowFoldOracleSql(w, "u"))
      }.getOrElse(Map.empty) ++
      dirForOracles.flatMap(qrByDir.get).map { ru =>
        val n = ru.length
        val rows = (for (i <- 0 until n; j <- i until n)
          yield s"(CAST($i AS BIGINT), CAST($j AS BIGINT), ${fmtD(ru(i)(j))})")
          .mkString(", ")
        Map("arr_qr_r" ->
          s"SELECT i, j, r_val FROM (VALUES $rows) AS t(i, j, r_val) ORDER BY i, j")
      }.getOrElse(Map.empty) ++
      dirForOracles.flatMap(lstsqByDir.get).map { f =>
        val k = geom2d.dimSize(1)
        val terms = (f.beta.zipWithIndex.map { case (b, j) => (s"x$j", b) } :+
          (("intercept", f.icept)) :+ (("rss", f.rss)) :+ (("r2", f.r2)))
          .map { case (t, x) => s"('$t', ${fmtD(x)})" }.mkString(", ")
        val bl = f.beta.map(fmtD).mkString("[", ", ", "]")
        Map(
          "arr_lstsq" ->
            s"SELECT term, value FROM (VALUES $terms) AS t(term, value) ORDER BY term",
          // the serving replay: the SAME ordered per-row fold from the
          // SAME literal slopes, residual squares quantized BEFORE the
          // per-timestep sum so the rollup is order-free exact
          "arr_lstsq_resid" ->
            s"""WITH $CELLS_2D_DENSE,
               |rows_ AS (
               |  SELECT timestep, u, list(cell ORDER BY h) AS lv
               |  FROM cells GROUP BY 1, 2),
               |pe AS (
               |  SELECT timestep, (lv[$k] - pred) * (lv[$k] - pred) AS sq
               |  FROM (SELECT timestep, lv,
               |      list_reduce(list_prepend(${fmtD(f.icept)},
               |        list_transform(range(1, $k),
               |          jj -> lv[CAST(jj AS INT)] * ($bl)[CAST(jj AS INT)])),
               |        (x, y) -> x + y) AS pred
               |    FROM rows_)),
               |qq AS (SELECT timestep,
               |         CAST(floor(sq * 1000000.0) AS BIGINT) AS qe FROM pe)
               |SELECT CAST(timestep AS BIGINT) AS timestep,
               |  CAST(COUNT(*) AS BIGINT) AS n_rows,
               |  CAST(SUM(qe) AS BIGINT) AS sse_q,
               |  CAST(SUM(qe) AS DOUBLE) / 1000000.0 AS sse
               |FROM qq GROUP BY 1 ORDER BY 1""".stripMargin)
      }.getOrElse(Map.empty)

  /** DuckDB replay of [[graft.arrays.ChunkedArray.fftRows]]: the dense
    * 1-d line per timestep, the bit-reversal gather, then every
    * butterfly stage UNROLLED as a CTE whose `list_transform` evaluates
    * the kernel's per-element formula verbatim — same twiddle doubles
    * (round-trip-exact literals from the same StrictMath tables), same
    * operand order, so the transform is bit-identical. Ends with the
    * final stage's `re`/`im` lists exposed as `s$stages`. */
  /** The unrolled butterfly-stage CTEs `${pfx}1..${pfx}log2(n)`, each
    * replaying the kernel's per-element stage formula over the
    * previous stage's `re`/`im` lists; `${pfx}0` must provide
    * (keys..., wr, wi, re, im). Shared by the 1-d and 2-d oracles —
    * the formulas are already complex-general, the real face just
    * zero-fills `im` at `${pfx}0`. */
  private def fftStageCtes(n: Int, keys: Seq[String], pfx: String): String = {
    import org.apache.spark.sql.graftexpr.Fft
    val stages = Fft.log2(n)
    val ks = keys.map(k => s"$k, ").mkString
    (0 until stages).map { s =>
      val half = 1 << s
      val block = half * 2
      val step = n / block
      val wPos = s"((i % $block) * $step + 1)"
      val wNeg = s"((i % $block - $half) * $step + 1)"
      s"""$pfx${s + 1} AS (SELECT ${ks}wr, wi,
         |  list_transform(range($n), i -> CASE WHEN i % $block < $half
         |    THEN re[i+1] + (wr[$wPos] * re[i+$half+1] - wi[$wPos] * im[i+$half+1])
         |    ELSE re[i-$half+1] - (wr[$wNeg] * re[i+1] - wi[$wNeg] * im[i+1]) END) AS re,
         |  list_transform(range($n), i -> CASE WHEN i % $block < $half
         |    THEN im[i+1] + (wr[$wPos] * im[i+$half+1] + wi[$wPos] * re[i+$half+1])
         |    ELSE im[i-$half+1] - (wr[$wNeg] * im[i+1] + wi[$wNeg] * re[i+1]) END) AS im
         |  FROM $pfx$s)""".stripMargin
    }.mkString(",\n")
  }

  private def twiddleCte(n: Int, name: String): String = {
    import org.apache.spark.sql.graftexpr.Fft
    val (wr, wi) = Fft.twiddles(n)
    s"$name AS (SELECT ${wr.map(fmtD).mkString("[", ", ", "]")} AS wr, " +
      s"${wi.map(fmtD).mkString("[", ", ", "]")} AS wi)"
  }

  private def brevList(n: Int): String =
    org.apache.spark.sql.graftexpr.Fft.bitrev(n).mkString("[", ", ", "]")

  /** The inverse chain: `${pfx}0` conjugate-gathers (reCol, imCol)
    * from `srcCte` (negate-then-gather == gather-then-negate, exact
    * sign flips), then the SAME stage CTEs; the caller's final SELECT
    * applies the conj + 1/n step. */
  private def fftInverseCtes(n: Int, srcCte: String,
      reCol: String, imCol: String, pfx: String): String =
    s"""${pfx}0 AS (SELECT timestep, wr, wi,
       |  list_transform(${brevList(n)}, j -> $reCol[j+1]) AS re,
       |  list_transform(${brevList(n)}, j -> -$imCol[j+1]) AS im
       |  FROM $srcCte),
       |${fftStageCtes(n, Seq("timestep"), pfx)}""".stripMargin

  private def fftOracleCtes(n: Int): String =
    s"""$CELLS_1D,
       |days AS (SELECT DISTINCT timestep FROM cells),
       |dense AS (
       |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
       |  FROM days d CROSS JOIN (SELECT unnest(range($n)) AS u) r
       |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u),
       |lines AS (SELECT timestep, list(cell ORDER BY u) AS x FROM dense GROUP BY 1),
       |${twiddleCte(n, "tw")},
       |s0 AS (SELECT timestep, wr, wi,
       |  list_transform(${brevList(n)}, j -> x[j+1]) AS re,
       |  list_transform(range($n), i -> CAST(0.0 AS DOUBLE)) AS im
       |  FROM lines CROSS JOIN tw),
       |${fftStageCtes(n, Seq("timestep"), "s")}""".stripMargin

  /** The 2-d replay: the row pass keyed (timestep, i), the per-output-
    * frequency column re-gather (lists ordered by i — exact element
    * moves), then the complex column pass keyed (timestep, v) through
    * the SAME stage formulas. */
  private def fft2OracleCtes(n0: Int, n1: Int): String = {
    import org.apache.spark.sql.graftexpr.Fft
    val rs = Fft.log2(n1)
    s"""$CELLS_2D_DENSE,
       |rows_ AS (SELECT timestep, u AS ri, list(cell ORDER BY h) AS x
       |  FROM cells GROUP BY 1, 2),
       |${twiddleCte(n1, "tw")},
       |r0 AS (SELECT timestep, ri, wr, wi,
       |  list_transform(${brevList(n1)}, j -> x[j+1]) AS re,
       |  list_transform(range($n1), z -> CAST(0.0 AS DOUBLE)) AS im
       |  FROM rows_ CROSS JOIN tw),
       |${fftStageCtes(n1, Seq("timestep", "ri"), "r")},
       |cols AS (SELECT timestep, vv.v,
       |  list(re[CAST(vv.v + 1 AS INT)] ORDER BY ri) AS xr,
       |  list(im[CAST(vv.v + 1 AS INT)] ORDER BY ri) AS xi
       |  FROM r$rs CROSS JOIN (SELECT unnest(range($n1)) AS v) vv
       |  GROUP BY 1, 2),
       |${twiddleCte(n0, "twc")},
       |c0 AS (SELECT timestep, v, wr, wi,
       |  list_transform(${brevList(n0)}, j -> xr[j+1]) AS re,
       |  list_transform(${brevList(n0)}, j -> xi[j+1]) AS im
       |  FROM cols CROSS JOIN twc),
       |${fftStageCtes(n0, Seq("timestep", "v"), "c")}""".stripMargin
  }

  /** The Bluestein replay CTE chain shared by the arr_fft_np2 /
    * arr_spectrum_np2 oracles — identical chirp/filter LITERALS from
    * [[org.apache.spark.sql.graftexpr.Fft.bluestein]], the padded
    * chirp-multiplied input, the length-m forward stages, the
    * pointwise product with B, the conjugate-trick inverse stages and
    * the sliced scaled output; ends at `v(timestep, car, cai, vr, vi)`. */
  private def bluesteinOracleCtes(n: Int): String = {
    import org.apache.spark.sql.graftexpr.Fft
    val (ar, ai, fbr, fbi, m) = Fft.bluestein(n)
    val st = Fft.log2(m)
    def litList(a: Array[Double]) = a.map(fmtD).mkString("[", ", ", "]")
    s"""cells AS (
         |  SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS timestep,
         |    user_id % $n AS u,
         |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS cell
         |  FROM events GROUP BY 1, 2),
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range($n)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u),
         |lines AS (SELECT timestep, list(cell ORDER BY u) AS x FROM dense GROUP BY 1),
         |consts AS (SELECT ${litList(ar)} AS car, ${litList(ai)} AS cai,
         |  ${litList(fbr)} AS cbr, ${litList(fbi)} AS cbi),
         |y AS (SELECT timestep, car, cai, cbr, cbi,
         |  list_transform(range($m), j -> CASE WHEN j < $n
         |    THEN x[j+1] * car[j+1] ELSE 0.0 END) AS yr,
         |  list_transform(range($m), j -> CASE WHEN j < $n
         |    THEN x[j+1] * cai[j+1] ELSE 0.0 END) AS yi
         |  FROM lines CROSS JOIN consts),
         |${twiddleCte(m, "tw")},
         |s0 AS (SELECT timestep, car, cai, cbr, cbi, wr, wi,
         |  list_transform(${brevList(m)}, j -> yr[j+1]) AS re,
         |  list_transform(${brevList(m)}, j -> yi[j+1]) AS im
         |  FROM y CROSS JOIN tw),
         |${fftStageCtes(m, Seq("timestep", "car", "cai", "cbr", "cbi"), "s")},
         |z AS (SELECT timestep, car, cai, wr, wi,
         |  list_transform(range($m),
         |    j -> re[j+1] * cbr[j+1] - im[j+1] * cbi[j+1]) AS zr,
         |  list_transform(range($m),
         |    j -> re[j+1] * cbi[j+1] + im[j+1] * cbr[j+1]) AS zi
         |  FROM s$st),
         |i0 AS (SELECT timestep, car, cai, wr, wi,
         |  list_transform(${brevList(m)}, j -> zr[j+1]) AS re,
         |  list_transform(${brevList(m)}, j -> -zi[j+1]) AS im
         |  FROM z),
         |${fftStageCtes(m, Seq("timestep", "car", "cai"), "i")},
         |v AS (SELECT timestep, car, cai,
         |  list_transform(range($n), j -> re[j+1] / CAST($m AS DOUBLE)) AS vr,
         |  list_transform(range($n), j -> (-im[j+1]) / CAST($m AS DOUBLE)) AS vi
         |  FROM i$st)""".stripMargin
  }

  private val staticOracles: Map[String, String] = Map(
    // insertion index = count of dense cells strictly below each literal
    // threshold (zero-filled cells count like the engine's dense array)
    "arr_searchsorted" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u),
         |q AS (SELECT unnest([${SearchThresholds.mkString(", ")}]) AS q)
         |SELECT CAST(timestep AS BIGINT) AS timestep, q,
         |  CAST(SUM(CASE WHEN cell < q THEN 1 ELSE 0 END) AS BIGINT) AS idx
         |FROM dense CROSS JOIN q
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // |x| and x² exact in decimal; the lone double op is the final sqrt
    "arr_norms" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u)
         |SELECT CAST(timestep AS BIGINT) AS timestep,
         |  CAST(SUM(abs(CAST(cell AS DECIMAL(18,2)))) AS DOUBLE) AS l1,
         |  sqrt(CAST(SUM(CAST(cell AS DECIMAL(18,2))
         |    * CAST(cell AS DECIMAL(18,2))) AS DOUBLE)) AS l2,
         |  CAST(MAX(abs(CAST(cell AS DECIMAL(18,2)))) AS DOUBLE) AS linf
         |FROM dense GROUP BY 1 ORDER BY 1""".stripMargin,
    // exact scaled-integer FIR: x·100 BIGINT, taps in hundredths,
    // y_q at scale 10⁻⁴ — integer adds are order-free; the kernel is
    // REVERSED exactly like the engine (numpy convolve semantics —
    // a no-op for the palindromic ConvTaps, enforced for any kernel)
    "arr_convolve" -> {
      val k = ConvTaps.length
      val terms = ConvTaps.reverse.zipWithIndex
        .map { case (t, j) => s"$t * xq[i + ${j + 1}]" }.mkString(" + ")
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u),
         |lines AS (SELECT timestep,
         |  list(CAST(CAST(cell AS DECIMAL(18,2)) * 100 AS BIGINT) ORDER BY u) AS xq
         |  FROM dense GROUP BY 1),
         |y AS (SELECT timestep, i, $terms AS y_q
         |  FROM lines CROSS JOIN (SELECT unnest(range(${64 - k + 1})) AS i))
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(i AS BIGINT) AS i,
         |  y_q, CAST(y_q AS DOUBLE) / 10000.0 AS y
         |FROM y ORDER BY 1, 2""".stripMargin
    },
    // running max per line — order-free exact on doubles
    "arr_cummax" ->
      s"""WITH $CELLS_2D_DENSE
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS i,
         |  CAST(h AS BIGINT) AS j,
         |  MAX(cell) OVER (PARTITION BY timestep, u ORDER BY h
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cummax
         |FROM cells ORDER BY 1, 2, 3""".stripMargin,
    // one-scan parity cells, parity-day INTERSECT, IEEE-exact floor grid
    "arr_histogram2d" ->
      """WITH cells AS (
        |  SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS timestep,
        |    user_id % 64 AS u,
        |    CAST(SUM(CASE WHEN event_id % 2 = 0
        |      THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS ce,
        |    CAST(SUM(CASE WHEN event_id % 2 = 1
        |      THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS co
        |  FROM events GROUP BY 1, 2),
        |days AS (
        |  SELECT timestep FROM (SELECT DISTINCT timestep FROM cells WHERE ce IS NOT NULL)
        |  INTERSECT
        |  SELECT timestep FROM (SELECT DISTINCT timestep FROM cells WHERE co IS NOT NULL)),
        |dense AS (
        |  SELECT d.timestep, r.u,
        |    COALESCE(c.ce, 0.0) AS ve, COALESCE(c.co, 0.0) AS vo
        |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
        |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u)
        |SELECT CAST(floor(ve / 100.0) AS BIGINT) AS be,
        |  CAST(floor(vo / 100.0) AS BIGINT) AS bo, COUNT(*) AS n_cells
        |FROM dense GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // per-timestep exact moments joined back; the z expression in the
    // identical (v − sv/n)·n/√den operand order
    "arr_standardize" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u),
         |m AS (SELECT timestep, COUNT(*) AS n,
         |  SUM(CAST(cell AS DECIMAL(18,2))) AS sv,
         |  SUM(CAST(cell AS DECIMAL(18,2)) * CAST(cell AS DECIMAL(18,2))) AS svv
         |  FROM dense GROUP BY 1)
         |SELECT CAST(dense.timestep AS BIGINT) AS timestep,
         |  CAST(u AS BIGINT) AS u,
         |  CASE WHEN CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
         |      - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) > 0.0
         |    THEN (cell - CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
         |      * CAST(n AS DOUBLE)
         |      / sqrt(CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
         |          - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)) END AS z
         |FROM dense JOIN m ON m.timestep = dense.timestep
         |ORDER BY 1, 2""".stripMargin,
    // OLS per cell from the same exact sufficient statistics; the
    // slope/intercept double expressions replay operand-for-operand
    "arr_trend" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u),
         |m AS (SELECT u, COUNT(*) AS n, SUM(timestep) AS st,
         |  SUM(timestep * timestep) AS stt,
         |  SUM(CAST(cell AS DECIMAL(18,2))) AS sv,
         |  SUM(CAST(cell AS DECIMAL(18,2)) * timestep) AS stv
         |  FROM dense GROUP BY 1)
         |SELECT CAST(u AS BIGINT) AS u, CAST(n AS BIGINT) AS n_ts,
         |  CASE WHEN CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
         |      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) > 0.0
         |    THEN (CAST(n AS DOUBLE) * CAST(stv AS DOUBLE)
         |      - CAST(st AS DOUBLE) * CAST(sv AS DOUBLE))
         |      / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
         |      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) END AS slope,
         |  CASE WHEN CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
         |      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) > 0.0
         |    THEN (CAST(sv AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(stv AS DOUBLE)
         |      - CAST(st AS DOUBLE) * CAST(sv AS DOUBLE))
         |      / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
         |      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))) * CAST(st AS DOUBLE))
         |      / CAST(n AS DOUBLE) END AS icept
         |FROM m ORDER BY u""".stripMargin,
    // quarter-way linear interpolation between consecutive present days,
    // per cell index — same lead window, same double operand order
    "arr_interp" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u),
         |l AS (SELECT timestep, u, cell,
         |  LEAD(timestep) OVER (PARTITION BY u ORDER BY timestep) AS t1,
         |  LEAD(cell) OVER (PARTITION BY u ORDER BY timestep) AS v1
         |  FROM dense)
         |SELECT CAST(u AS BIGINT) AS u,
         |  CAST(timestep AS DOUBLE) + CAST(t1 - timestep AS DOUBLE) * 0.25 AS tq,
         |  cell + (v1 - cell) * 0.25 AS vq
         |FROM l WHERE t1 IS NOT NULL ORDER BY 1, 2""".stripMargin,
    // the full Bluestein chain replayed stage-for-stage from the SAME
    // literal chirp/filter tables: chirp-mul -> pad -> fft(128) -> .B ->
    // inverse (conj trick) -> slice(48) -> chirp-mul
    "arr_fft_np2" ->
      s"""WITH ${bluesteinOracleCtes(48)}
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS u,
         |  vr[CAST(u+1 AS INT)] * car[CAST(u+1 AS INT)]
         |    - vi[CAST(u+1 AS INT)] * cai[CAST(u+1 AS INT)] AS re,
         |  vr[CAST(u+1 AS INT)] * cai[CAST(u+1 AS INT)]
         |    + vi[CAST(u+1 AS INT)] * car[CAST(u+1 AS INT)] AS im
         |FROM v CROSS JOIN (SELECT unnest(range(48)) AS u) g
         |ORDER BY 1, 2""".stripMargin,
    // one-sided |X|^2 of the same chain, power = re*re + im*im on the
    // identical chirp-multiplied doubles
    "arr_spectrum_np2" ->
      s"""WITH ${bluesteinOracleCtes(48)},
         |xk AS (
         |  SELECT timestep, u,
         |    vr[CAST(u+1 AS INT)] * car[CAST(u+1 AS INT)]
         |      - vi[CAST(u+1 AS INT)] * cai[CAST(u+1 AS INT)] AS re,
         |    vr[CAST(u+1 AS INT)] * cai[CAST(u+1 AS INT)]
         |      + vi[CAST(u+1 AS INT)] * car[CAST(u+1 AS INT)] AS im
         |  FROM v CROSS JOIN (SELECT unnest(range(48)) AS u) g)
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS u,
         |  re * re + im * im AS power
         |FROM xk WHERE u <= 24 ORDER BY 1, 2""".stripMargin,
    // radix-2 butterfly replayed stage-for-stage, element-for-element
    "arr_fft" -> {
      val n = 64
      val st = org.apache.spark.sql.graftexpr.Fft.log2(n)
      s"""WITH ${fftOracleCtes(n)}
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS u,
         |  re[CAST(u + 1 AS INT)] AS re, im[CAST(u + 1 AS INT)] AS im
         |FROM s$st CROSS JOIN (SELECT unnest(range($n)) AS u) g
         |ORDER BY 1, 2""".stripMargin
    },
    "arr_spectrum" -> {
      val n = 64
      val st = org.apache.spark.sql.graftexpr.Fft.log2(n)
      s"""WITH ${fftOracleCtes(n)}
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS u,
         |  re[CAST(u + 1 AS INT)] * re[CAST(u + 1 AS INT)] +
         |  im[CAST(u + 1 AS INT)] * im[CAST(u + 1 AS INT)] AS power
         |FROM s$st CROSS JOIN (SELECT unnest(range($n)) AS u) g
         |WHERE u <= ${n / 2} ORDER BY 1, 2""".stripMargin
    },
    // per-timestep spectrum -> milli-quantized integer sums -> one
    // final division (order-free exact cross-timestep mean)
    "arr_psd" -> {
      val n = 64
      val st = org.apache.spark.sql.graftexpr.Fft.log2(n)
      s"""WITH ${fftOracleCtes(n)},
         |p AS (SELECT timestep, u,
         |  re[CAST(u + 1 AS INT)] * re[CAST(u + 1 AS INT)] +
         |  im[CAST(u + 1 AS INT)] * im[CAST(u + 1 AS INT)] AS power
         |  FROM s$st CROSS JOIN (SELECT unnest(range($n)) AS u) g
         |  WHERE u <= ${n / 2}),
         |q AS (SELECT u, CAST(floor(power * CAST(1000 AS DOUBLE)) AS BIGINT) AS q
         |  FROM p)
         |SELECT CAST(u AS BIGINT) AS u, COUNT(*) AS n_ts,
         |  CAST(SUM(q) AS BIGINT) AS psd_q,
         |  CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) /
         |    CAST(1000 AS DOUBLE) AS psd
         |FROM q GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // forward chain, conjugate, the SAME stage chain again, conj + 1/n
    // the packed half-spectrum: bins 0..n/2 of the same stage replay,
    // freq an exact dyadic u/n
    "arr_rfft" -> {
      val n = 64
      val st = org.apache.spark.sql.graftexpr.Fft.log2(n)
      s"""WITH ${fftOracleCtes(n)}
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS u,
         |  CAST(u AS DOUBLE) / $n.0 AS freq,
         |  re[CAST(u + 1 AS INT)] AS re, im[CAST(u + 1 AS INT)] AS im
         |FROM s$st CROSS JOIN (SELECT unnest(range(${n / 2 + 1})) AS u) g
         |ORDER BY 1, 2""".stripMargin
    },
    // zero-centered ordering: shifted position k = (u + n/2) mod n,
    // shifted frequency (k - n/2)/n — pure relabeling of the same bins
    "arr_fftshift" -> {
      val n = 64
      val st = org.apache.spark.sql.graftexpr.Fft.log2(n)
      val h = n / 2
      s"""WITH ${fftOracleCtes(n)}
         |SELECT CAST(timestep AS BIGINT) AS timestep,
         |  CAST((u + $h) % $n AS BIGINT) AS k,
         |  CAST((u + $h) % $n - $h AS DOUBLE) / $n.0 AS freq,
         |  re[CAST(u + 1 AS INT)] AS re, im[CAST(u + 1 AS INT)] AS im
         |FROM s$st CROSS JOIN (SELECT unnest(range($n)) AS u) g
         |ORDER BY 1, 2""".stripMargin
    },
    // pack to bins 0..n/2, Hermitian-mirror the PACKED values, then
    // the same inverse chain; only the real part ships
    "arr_irfft" -> {
      val n = 64
      val st = org.apache.spark.sql.graftexpr.Fft.log2(n)
      val h = n / 2
      s"""WITH ${fftOracleCtes(n)},
         |packed AS (SELECT timestep, wr, wi,
         |  list_transform(range(${h + 1}), u -> re[u+1]) AS pr,
         |  list_transform(range(${h + 1}), u -> im[u+1]) AS pi
         |  FROM s$st),
         |fullspec AS (SELECT timestep, wr, wi,
         |  list_transform(range($n),
         |    u -> CASE WHEN u <= $h THEN pr[u+1] ELSE pr[$n-u+1] END) AS fr,
         |  list_transform(range($n),
         |    u -> CASE WHEN u <= $h THEN pi[u+1] ELSE -pi[$n-u+1] END) AS fi
         |  FROM packed),
         |${fftInverseCtes(n, "fullspec", "fr", "fi", "r")}
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS i,
         |  re[CAST(u + 1 AS INT)] / CAST($n AS DOUBLE) AS value
         |FROM r$st CROSS JOIN (SELECT unnest(range($n)) AS u) g
         |ORDER BY 1, 2""".stripMargin
    },
    "arr_ifft" -> {
      val n = 64
      val st = org.apache.spark.sql.graftexpr.Fft.log2(n)
      s"""WITH ${fftOracleCtes(n)},
         |${fftInverseCtes(n, s"s$st", "re", "im", "i")}
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS u,
         |  re[CAST(u + 1 AS INT)] / CAST(64 AS DOUBLE) AS re,
         |  (-im[CAST(u + 1 AS INT)]) / CAST(64 AS DOUBLE) AS im
         |FROM i$st CROSS JOIN (SELECT unnest(range($n)) AS u) g
         |ORDER BY 1, 2""".stripMargin
    },
    "arr_conv_fft" -> {
      val n = 64
      val st = org.apache.spark.sql.graftexpr.Fft.log2(n)
      val (hr, hi) = org.apache.spark.sql.graftexpr.Fft
        .fftArrays(ConvKernel.toArray, new Array[Double](n))
      val hrL = hr.map(fmtD).mkString("[", ", ", "]")
      val hiL = hi.map(fmtD).mkString("[", ", ", "]")
      s"""WITH ${fftOracleCtes(n)},
         |prod AS (SELECT timestep, wr, wi,
         |  list_transform(range($n),
         |    i -> re[i+1] * ($hrL)[i+1] - im[i+1] * ($hiL)[i+1]) AS pr,
         |  list_transform(range($n),
         |    i -> re[i+1] * ($hiL)[i+1] + im[i+1] * ($hrL)[i+1]) AS pi
         |  FROM s$st),
         |${fftInverseCtes(n, "prod", "pr", "pi", "t")}
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS u,
         |  re[CAST(u + 1 AS INT)] / CAST(64 AS DOUBLE) AS re,
         |  (-im[CAST(u + 1 AS INT)]) / CAST(64 AS DOUBLE) AS im
         |FROM t$st CROSS JOIN (SELECT unnest(range($n)) AS u) g
         |ORDER BY 1, 2""".stripMargin
    },
    // twin forward chains over the parity lines (intersect days), the
    // conjugate product by bin, one inverse chain
    "arr_xcorr" -> {
      val n = 64
      val st = org.apache.spark.sql.graftexpr.Fft.log2(n)
      def pcells(name: String, par: Int): String =
        s"""$name AS (
           |  SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS timestep,
           |    user_id % 64 AS u,
           |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS cell
           |  FROM events WHERE event_id % 2 = $par GROUP BY 1, 2)""".stripMargin
      def plines(cells: String, lines: String): String =
        s"""$lines AS (
           |  SELECT d.timestep, list(COALESCE(c.cell, 0.0) ORDER BY r.u) AS x
           |  FROM days d
           |  CROSS JOIN (SELECT unnest(range($n)) AS u) r
           |  LEFT JOIN $cells c ON c.timestep = d.timestep AND c.u = r.u
           |  GROUP BY 1)""".stripMargin
      def chain0(lines: String, pfx: String): String =
        s"""${pfx}0 AS (SELECT timestep, wr, wi,
           |  list_transform(${brevList(n)}, j -> x[j+1]) AS re,
           |  list_transform(range($n), z -> CAST(0.0 AS DOUBLE)) AS im
           |  FROM $lines CROSS JOIN tw)""".stripMargin
      s"""WITH ${pcells("acells", 0)},
         |${pcells("bcells", 1)},
         |days AS (SELECT DISTINCT timestep FROM acells
         |  INTERSECT SELECT DISTINCT timestep FROM bcells),
         |${plines("acells", "alines")},
         |${plines("bcells", "blines")},
         |${twiddleCte(n, "tw")},
         |${chain0("alines", "a")},
         |${fftStageCtes(n, Seq("timestep"), "a")},
         |${chain0("blines", "b")},
         |${fftStageCtes(n, Seq("timestep"), "b")},
         |prod AS (SELECT a.timestep, a.wr, a.wi,
         |  list_transform(range($n),
         |    i -> a.re[i+1] * b.re[i+1] + a.im[i+1] * b.im[i+1]) AS pr,
         |  list_transform(range($n),
         |    i -> a.re[i+1] * b.im[i+1] - a.im[i+1] * b.re[i+1]) AS pi
         |  FROM a$st a JOIN b$st b ON a.timestep = b.timestep),
         |${fftInverseCtes(n, "prod", "pr", "pi", "t")}
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS lag,
         |  re[CAST(u + 1 AS INT)] / CAST(64 AS DOUBLE) AS re,
         |  (-im[CAST(u + 1 AS INT)]) / CAST(64 AS DOUBLE) AS im
         |FROM t$st CROSS JOIN (SELECT unnest(range($n)) AS u) g
         |ORDER BY 1, 2""".stripMargin
    },
    "arr_fft2" -> {
      val (n0, n1) = (8, 8)
      val cs = org.apache.spark.sql.graftexpr.Fft.log2(n0)
      s"""WITH ${fft2OracleCtes(n0, n1)}
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(g.u AS BIGINT) AS u,
         |  CAST(v AS BIGINT) AS v,
         |  re[CAST(g.u + 1 AS INT)] AS re, im[CAST(g.u + 1 AS INT)] AS im
         |FROM c$cs CROSS JOIN (SELECT unnest(range($n0)) AS u) g
         |ORDER BY 1, 2, 3""".stripMargin
    },
    // AᵀA summed over every timestep: products of 2-decimal cells are
    // exact 4-decimal, the global per-(i,j) sum is one exact decimal —
    // order-free cross-engine, single double cast at the end
    "arr_gram" ->
      s"""WITH $CELLS_2D_DENSE
         |SELECT CAST(x.h AS BIGINT) AS i, CAST(y.h AS BIGINT) AS j,
         |  CAST(SUM(CAST(x.cell * y.cell AS DECIMAL(18,4))) AS DOUBLE) AS value
         |FROM cells x JOIN cells y
         |  ON x.timestep = y.timestep AND x.u = y.u
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Pearson over the column pairs from the SAME exact sufficient
    // statistics the Spark side computes (Gram + decimal column sums +
    // n = T·8), with the formula spelled operand-for-operand: sqrt is
    // correctly rounded in both engines, greatest clamps the
    // ulp-negative variances, zero variance guards the divide
    "arr_corrcoef" ->
      s"""WITH $CELLS_2D_DENSE,
         |nn AS (SELECT COUNT(DISTINCT timestep) * 8 AS n FROM cells),
         |cs AS (SELECT CAST(h AS BIGINT) AS c,
         |    CAST(SUM(CAST(cell AS DECIMAL(18,2))) AS DOUBLE) AS s
         |  FROM cells GROUP BY 1),
         |gram AS (SELECT CAST(x.h AS BIGINT) AS i, CAST(y.h AS BIGINT) AS j,
         |    CAST(SUM(CAST(x.cell * y.cell AS DECIMAL(18,4))) AS DOUBLE) AS sxy
         |  FROM cells x JOIN cells y
         |    ON x.timestep = y.timestep AND x.u = y.u
         |  GROUP BY 1, 2),
         |dg AS (SELECT i AS dc, sxy AS s2 FROM gram WHERE i = j)
         |SELECT g.i, g.j,
         |  CASE WHEN sqrt(greatest(CAST(nn.n AS DOUBLE) * di.s2 - ci.s * ci.s, 0.0))
         |         * sqrt(greatest(CAST(nn.n AS DOUBLE) * dj.s2 - cj.s * cj.s, 0.0)) = 0.0
         |       THEN NULL
         |       ELSE (CAST(nn.n AS DOUBLE) * g.sxy - ci.s * cj.s)
         |         / (sqrt(greatest(CAST(nn.n AS DOUBLE) * di.s2 - ci.s * ci.s, 0.0))
         |            * sqrt(greatest(CAST(nn.n AS DOUBLE) * dj.s2 - cj.s * cj.s, 0.0)))
         |  END AS corr
         |FROM gram g
         |JOIN cs ci ON g.i = ci.c
         |JOIN cs cj ON g.j = cj.c
         |JOIN dg di ON g.i = di.dc
         |JOIN dg dj ON g.j = dj.dc
         |CROSS JOIN nn
         |ORDER BY 1, 2""".stripMargin,
    // the covariance formula over the SAME exact sufficient statistics
    // (Gram + decimal column sums + n), operand-for-operand
    "arr_cov" ->
      s"""WITH $CELLS_2D_DENSE,
         |nn AS (SELECT COUNT(DISTINCT timestep) * 8 AS n FROM cells),
         |cs AS (SELECT CAST(h AS BIGINT) AS c,
         |    CAST(SUM(CAST(cell AS DECIMAL(18,2))) AS DOUBLE) AS s
         |  FROM cells GROUP BY 1),
         |gram AS (SELECT CAST(x.h AS BIGINT) AS i, CAST(y.h AS BIGINT) AS j,
         |    CAST(SUM(CAST(x.cell * y.cell AS DECIMAL(18,4))) AS DOUBLE) AS sxy
         |  FROM cells x JOIN cells y
         |    ON x.timestep = y.timestep AND x.u = y.u
         |  GROUP BY 1, 2)
         |SELECT g.i, g.j,
         |  (CAST(nn.n AS DOUBLE) * g.sxy - ci.s * cj.s)
         |    / (CAST(nn.n AS DOUBLE) * (CAST(nn.n AS DOUBLE) - 1.0)) AS cov
         |FROM gram g
         |JOIN cs ci ON g.i = ci.c
         |JOIN cs cj ON g.j = cj.c
         |CROSS JOIN nn
         |ORDER BY 1, 2""".stripMargin,
    "arr_tensordot" ->
      s"""WITH $CELLS_3D_DENSE,
         |$CELLS_2D_DENSE
         |SELECT CAST(x.timestep AS BIGINT) AS timestep,
         |  CAST(x.u AS BIGINT) AS i, CAST(x.h AS BIGINT) AS j,
         |  CAST(y.h AS BIGINT) AS k,
         |  CAST(SUM(CAST(x.cell * y.cell AS DECIMAL(18,4))) AS DOUBLE) AS value
         |FROM cells3 x JOIN cells y
         |  ON x.timestep = y.timestep AND x.w = y.u
         |GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin,
    // einsum("uh,vh->vu") on (a, a): out[v][u] = sum_h a(u,h)*a(v,h),
    // i = v = y.u, j = u = x.u — the permuted-output spelling; same
    // decimal(18,4) product posture as arr_tensordot
    "arr_einsum" ->
      s"""WITH $CELLS_2D_DENSE
         |SELECT CAST(x.timestep AS BIGINT) AS timestep,
         |  CAST(y.u AS BIGINT) AS i, CAST(x.u AS BIGINT) AS j,
         |  CAST(SUM(CAST(x.cell * y.cell AS DECIMAL(18,4))) AS DOUBLE) AS value
         |FROM cells x JOIN cells y
         |  ON x.timestep = y.timestep AND x.h = y.h
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // einsum("uu->u"): a pure gather — values pass through untouched,
    // so the oracle is the exact matched-coordinate filter
    "arr_einsum_diag" ->
      s"""WITH $CELLS_2D_DENSE
         |SELECT CAST(timestep AS BIGINT) AS timestep,
         |  CAST(u AS BIGINT) AS i, cell AS value
         |FROM cells WHERE u = h
         |ORDER BY 1, 2""".stripMargin,
    // outer product over the DENSIFIED 1-d field (the engine's chunks
    // zero-fill absent cells, so the oracle must too); same
    // decimal(18,4)-product posture as arr_tensordot
    "arr_outer" ->
      s"""WITH $CELLS_1D,
         |days1 AS (SELECT DISTINCT timestep FROM cells),
         |dense1 AS (
         |  SELECT d.timestep, uu.u, COALESCE(r.cell, 0.0) AS cell
         |  FROM days1 d
         |  CROSS JOIN (SELECT unnest(range(64)) AS u) uu
         |  LEFT JOIN cells r ON r.timestep = d.timestep AND r.u = uu.u)
         |SELECT CAST(x.timestep AS BIGINT) AS timestep,
         |  CAST(x.u AS BIGINT) AS i, CAST(y.u AS BIGINT) AS j,
         |  CAST(CAST(x.cell * y.cell AS DECIMAL(18,4)) AS DOUBLE) AS value
         |FROM dense1 x JOIN dense1 y ON x.timestep = y.timestep
         |ORDER BY 1, 2, 3""".stripMargin,
    // trace = the diagonal gather's exact decimal per-timestep sum
    "arr_trace" ->
      s"""WITH $CELLS_2D_DENSE
         |SELECT CAST(timestep AS BIGINT) AS timestep,
         |  CAST(SUM(CAST(cell AS DECIMAL(18,2))) AS DOUBLE) AS trace
         |FROM cells WHERE u = h
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // einsum("uhw,uwx->uhx") on (a, a): out[u][h][x] =
    // sum_w a(u,h,w)*a(u,w,x) — the batch (u) equality joins the two
    // reads of the SAME dense relation; decimal(18,4) product posture
    "arr_einsum_batch" ->
      s"""WITH $CELLS_3D_DENSE
         |SELECT CAST(x.timestep AS BIGINT) AS timestep,
         |  CAST(x.u AS BIGINT) AS i, CAST(x.h AS BIGINT) AS j,
         |  CAST(y.w AS BIGINT) AS k,
         |  CAST(SUM(CAST(x.cell * y.cell AS DECIMAL(18,4))) AS DOUBLE) AS value
         |FROM cells3 x JOIN cells3 y
         |  ON x.timestep = y.timestep AND x.u = y.u AND x.w = y.h
         |GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin,
    // the 3-operand chain replayed as two exact decimal contractions in
    // the planner's left-to-right order: g1 = Σ_h A[u,h]·M[v,h] (the
    // mask keeps g1 2-decimal exact), then Σ_v g1[u,v]·A[v,w] — every
    // product ≤ 4-decimal exact, nothing is ever rounded (see the
    // arrEinsumChain scaladoc for why a raw three-copy chain is not
    // oracle-safe)
    "arr_einsum_chain" ->
      s"""WITH $CELLS_2D_DENSE,
         |m AS (SELECT timestep, u, h,
         |  CASE WHEN cell > 100.0 THEN 1.0 ELSE 0.0 END AS cell FROM cells),
         |g1 AS (
         |  SELECT x.timestep, x.u AS i, y.u AS v,
         |    CAST(SUM(CAST(x.cell * y.cell AS DECIMAL(18,4))) AS DOUBLE) AS cell
         |  FROM cells x JOIN m y
         |    ON x.timestep = y.timestep AND x.h = y.h
         |  GROUP BY 1, 2, 3)
         |SELECT CAST(g.timestep AS BIGINT) AS timestep,
         |  CAST(g.i AS BIGINT) AS i, CAST(y.h AS BIGINT) AS j,
         |  CAST(SUM(CAST(g.cell * y.cell AS DECIMAL(18,4))) AS DOUBLE) AS value
         |FROM g1 g JOIN cells y ON g.timestep = y.timestep AND g.v = y.u
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // axes=((0,2),(1,0)): a.u pairs with b.h, a.w pairs with b.u; only
    // a's hour axis survives. Same decimal(18,4) product posture as
    // arr_tensordot (order-independent exact sums).
    "arr_tensordot_axes" ->
      s"""WITH $CELLS_3D_DENSE,
         |$CELLS_2D_DENSE
         |SELECT CAST(x.timestep AS BIGINT) AS timestep,
         |  CAST(x.h AS BIGINT) AS i,
         |  CAST(SUM(CAST(x.cell * y.cell AS DECIMAL(18,4))) AS DOUBLE) AS value
         |FROM cells3 x JOIN cells y
         |  ON x.timestep = y.timestep AND x.u = y.h AND x.w = y.u
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "arr_sum_ts" ->
      s"""WITH $CELLS_1D
         |SELECT CAST(timestep AS BIGINT) AS timestep,
         |  CAST(SUM(CAST(cell AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM cells GROUP BY 1 ORDER BY 1""".stripMargin,
    // densified like arr_stats_ts: the chunk payload is the FULL box,
    // absent (timestep, u) cells are zero-filled
    "arr_histogram" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u)
         |SELECT CAST(floor(cell / 100.0) AS BIGINT) AS bucket,
         |  COUNT(*) AS n_cells, MIN(cell) AS min_val, MAX(cell) AS max_val
         |FROM dense GROUP BY 1 ORDER BY 1""".stripMargin,
    "arr_stats_ts" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u)
         |SELECT CAST(timestep AS BIGINT) AS timestep, COUNT(*) AS n_elems,
         |  CAST(SUM(CAST(cell AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |  MIN(cell) AS min_val, MAX(cell) AS max_val
         |FROM dense GROUP BY 1 ORDER BY 1""".stripMargin,
    // argmax with ties to the lowest index, over the densified cells
    "arr_argmax" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u),
         |rk AS (
         |  SELECT timestep, cell, u,
         |    ROW_NUMBER() OVER (PARTITION BY timestep
         |      ORDER BY cell DESC, u) AS rn
         |  FROM dense)
         |SELECT CAST(timestep AS BIGINT) AS timestep, cell AS max_val,
         |  CAST(u AS BIGINT) AS arg_idx
         |FROM rk WHERE rn = 1 ORDER BY timestep""".stripMargin,
    // N-d argmax with ties to the lowest row-major (u, h) multi-index
    "arr_argmax_2d" ->
      s"""WITH $CELLS_2D_DENSE,
         |rk AS (
         |  SELECT timestep, cell, u, h,
         |    ROW_NUMBER() OVER (PARTITION BY timestep
         |      ORDER BY cell DESC, u, h) AS rn
         |  FROM cells)
         |SELECT CAST(timestep AS BIGINT) AS timestep, cell AS max_val,
         |  CAST(u AS BIGINT) AS i, CAST(h AS BIGINT) AS j
         |FROM rk WHERE rn = 1 ORDER BY timestep""".stripMargin,
    // exact decimal moments; the final double expression mirrors the
    // Spark operand order exactly: (sq - t*t/n) / n
    "arr_var_ts" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u),
         |m AS (
         |  SELECT timestep, COUNT(*) AS n_elems,
         |    CAST(SUM(CAST(cell AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |    CAST(SUM(CAST(cell AS DECIMAL(18,2)) * CAST(cell AS DECIMAL(18,2)))
         |      AS DOUBLE) AS total_sq
         |  FROM dense GROUP BY 1)
         |SELECT CAST(timestep AS BIGINT) AS timestep, n_elems,
         |  (total_sq - total * total / n_elems) / n_elems AS variance
         |FROM m ORDER BY 1""".stripMargin,
    // running decimal sum over the dense cells in global index order —
    // the window replays the scan's exact fold
    "arr_cumsum" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u)
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS idx,
         |  CAST(SUM(CAST(cell AS DECIMAL(28,2)))
         |    OVER (PARTITION BY timestep ORDER BY u) AS DOUBLE) AS value
         |FROM dense ORDER BY 1, 2""".stripMargin,
    // boolean-mask compaction: survivors keep cell order, so the
    // compacted index is exactly the per-timestep row_number over u
    "arr_compress" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u)
         |SELECT CAST(timestep AS BIGINT) AS timestep,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY timestep ORDER BY u) - 1
         |    AS BIGINT) AS idx,
         |  cell AS value
         |FROM dense WHERE cell > 50.0 ORDER BY 1, 2""".stripMargin,
    // stats are chunk-geometry-invariant: the rechunked array must
    // reproduce arr_stats_ts' oracle exactly (lost/doubled/misplaced
    // cells break the hash; within-chunk offsets are spec-gated)
    "arr_rechunk_stats" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u)
         |SELECT CAST(timestep AS BIGINT) AS timestep, COUNT(*) AS n_elems,
         |  CAST(SUM(CAST(cell AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |  MIN(cell) AS min_val, MAX(cell) AS max_val
         |FROM dense GROUP BY 1 ORDER BY 1""".stripMargin,
    "arr_mean_diff" ->
      """WITH acells AS (
        |  SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS timestep,
        |    user_id % 64 AS u,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS cell
        |  FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2),
        |bcells AS (
        |  SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS timestep,
        |    user_id % 64 AS u,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS cell
        |  FROM events WHERE event_id % 2 = 1 GROUP BY 1, 2),
        |adays AS (SELECT DISTINCT timestep FROM acells),
        |bdays AS (SELECT DISTINCT timestep FROM bcells),
        |days AS (SELECT timestep FROM adays INTERSECT SELECT timestep FROM bdays),
        |dense AS (
        |  SELECT d.timestep, r.u,
        |    COALESCE(a.cell, 0.0) - COALESCE(b.cell, 0.0) AS dcell
        |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
        |  LEFT JOIN acells a ON a.timestep = d.timestep AND a.u = r.u
        |  LEFT JOIN bcells b ON b.timestep = d.timestep AND b.u = r.u)
        |SELECT CAST(timestep AS BIGINT) AS timestep,
        |  CAST(SUM(CAST(dcell AS DECIMAL(18,2))) AS DOUBLE) / 64.0 AS mean_diff
        |FROM dense GROUP BY 1 ORDER BY 1""".stripMargin,
    "arr_preprocess_sum" ->
      s"""WITH $CELLS_1D
         |SELECT CAST(timestep AS BIGINT) AS timestep,
         |  CAST(SUM(CAST(cell * 10.0 AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM cells GROUP BY 1 ORDER BY 1""".stripMargin,
    "arr_elementwise_chain" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u)
         |SELECT CAST(timestep AS BIGINT) AS timestep,
         |  CAST(SUM(CAST(cell * 2.0 + 1.0 AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM dense GROUP BY 1 ORDER BY 1""".stripMargin,
    "arr_window_delta" ->
      s"""WITH $CELLS_1D,
         |daily AS (
         |  SELECT timestep, SUM(CAST(cell AS DECIMAL(18,2))) AS sd
         |  FROM cells GROUP BY 1)
         |SELECT CAST(cur.timestep AS BIGINT) AS timestep,
         |  CAST(cur.sd - prev.sd AS DOUBLE) AS delta
         |FROM daily cur JOIN daily prev ON cur.timestep = prev.timestep + 1
         |ORDER BY 1""".stripMargin,
    "arr_axis_sum" ->
      s"""WITH $CELLS_2D_DENSE
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS idx,
         |  CAST(SUM(CAST(cell AS DECIMAL(18,2))) AS DOUBLE) AS value
         |FROM cells GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // hour-axis means per user: the exact decimal sum divided by the
    // axis extent — both engines divide bit-identical doubles by 8.0
    "arr_axis_mean" ->
      s"""WITH $CELLS_2D_DENSE
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS idx,
         |  CAST(SUM(CAST(cell AS DECIMAL(18,2))) AS DOUBLE) / 8.0 AS value
         |FROM cells GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // hour-axis dynamic range per user: MAX - MIN, same IEEE subtract
    "arr_axis_ptp" ->
      s"""WITH $CELLS_2D_DENSE
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS idx,
         |  MAX(cell) - MIN(cell) AS value
         |FROM cells GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // hour-axis maxima per user over the dense 2-d cells
    "arr_axis_max" ->
      s"""WITH $CELLS_2D_DENSE
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS idx,
         |  MAX(cell) AS value
         |FROM cells GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // axis-wise variance of the rank-3 array: exact decimal moments per
    // (u, w) over the hour axis; the final double expression mirrors the
    // Spark operand order exactly: (sq - t*t/n) / n with n = 8.0
    "arr_axis_var" ->
      s"""WITH $CELLS_3D_DENSE,
         |m AS (
         |  SELECT timestep, u, w,
         |    CAST(SUM(CAST(cell AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |    CAST(SUM(CAST(cell AS DECIMAL(18,2)) * CAST(cell AS DECIMAL(18,2)))
         |      AS DOUBLE) AS total_sq
         |  FROM cells3 GROUP BY 1, 2, 3)
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS i,
         |  CAST(w AS BIGINT) AS j,
         |  (total_sq - total * total / 8.0) / 8.0 AS value
         |FROM m ORDER BY 1, 2, 3""".stripMargin,
    // hour-axis std per user: sqrt (correctly rounded in BOTH engines,
    // IEEE 754) of the exact-moment variance, same operand order; the
    // greatest(·, 0) clamp matches the Spark side — a near-constant
    // line can round ulp-negative and DuckDB's sqrt hard-errors there
    "arr_axis_std" ->
      s"""WITH $CELLS_2D_DENSE,
         |m AS (
         |  SELECT timestep, u,
         |    CAST(SUM(CAST(cell AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |    CAST(SUM(CAST(cell AS DECIMAL(18,2)) * CAST(cell AS DECIMAL(18,2)))
         |      AS DOUBLE) AS total_sq
         |  FROM cells GROUP BY 1, 2)
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS idx,
         |  sqrt(greatest((total_sq - total * total / 8.0) / 8.0, 0.0)) AS value
         |FROM m ORDER BY 1, 2""".stripMargin,
    // per-user argmax hour, ties to the lowest hour (numpy's rule)
    "arr_argmax_axis" ->
      s"""WITH $CELLS_2D_DENSE,
         |rk AS (
         |  SELECT timestep, u, h,
         |    ROW_NUMBER() OVER (PARTITION BY timestep, u
         |      ORDER BY cell DESC, h) AS rn
         |  FROM cells)
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS idx,
         |  CAST(h AS BIGINT) AS value
         |FROM rk WHERE rn = 1 ORDER BY 1, 2""".stripMargin,
    // threshold-then-reduce over the dense cells: count + exact sum of
    // the cells above 500 (absent timesteps can't occur — the array is
    // dense over its own days; empty masks keep a 0/0.0 row)
    "arr_masked_sum" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u)
         |SELECT CAST(timestep AS BIGINT) AS timestep,
         |  CAST(SUM(CASE WHEN cell > 500.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(SUM(CASE WHEN cell > 500.0 THEN CAST(cell AS DECIMAL(18,2))
         |       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS total
         |FROM dense GROUP BY 1 ORDER BY 1""".stripMargin,
    // middle-axis reduction of the rank-3 array: sum over h per (u, w)
    "arr_axis_sum_3d" ->
      s"""WITH $CELLS_3D_DENSE
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS i,
         |  CAST(w AS BIGINT) AS j,
         |  CAST(SUM(CAST(cell AS DECIMAL(18,2))) AS DOUBLE) AS value
         |FROM cells3 GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // running decimal sum down the u axis, one independent scan per
    // (timestep, h) line — replays cumsumAxis(0)'s exact fold
    "arr_cumsum2d" ->
      s"""WITH $CELLS_2D_DENSE
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS i,
         |  CAST(h AS BIGINT) AS j,
         |  CAST(SUM(CAST(cell AS DECIMAL(28,2)))
         |    OVER (PARTITION BY timestep, h ORDER BY u) AS DOUBLE) AS value
         |FROM cells ORDER BY 1, 2, 3""".stripMargin,
    // transpose flips the reduced axis: sum over u per h
    "arr_transpose_sum" ->
      s"""WITH $CELLS_2D_DENSE
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(h AS BIGINT) AS idx,
         |  CAST(SUM(CAST(cell AS DECIMAL(18,2))) AS DOUBLE) AS value
         |FROM cells GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the expand_dims→swapaxes→moveaxis→squeeze chain nets out to the
    // transpose, so the SAME SQL gates it (the rechunk_stats precedent:
    // identical oracle, any wrapper mis-permutation breaks the hash)
    "arr_axis_moves" ->
      s"""WITH $CELLS_2D_DENSE
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(h AS BIGINT) AS idx,
         |  CAST(SUM(CAST(cell AS DECIMAL(18,2))) AS DOUBLE) AS value
         |FROM cells GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // each side densifies over ITS OWN timesteps (a timestep missing
    // from one input simply contributes no chunks on that half)
    "arr_concat_stats" ->
      """WITH acells AS (
        |  SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS timestep,
        |    user_id % 64 AS u,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS cell
        |  FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2),
        |bcells AS (
        |  SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS timestep,
        |    user_id % 64 AS u,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS cell
        |  FROM events WHERE event_id % 2 = 1 GROUP BY 1, 2),
        |adays AS (SELECT DISTINCT timestep FROM acells),
        |bdays AS (SELECT DISTINCT timestep FROM bcells),
        |densea AS (
        |  SELECT d.timestep, COALESCE(a.cell, 0.0) AS cell
        |  FROM adays d CROSS JOIN (SELECT unnest(range(64)) AS u) r
        |  LEFT JOIN acells a ON a.timestep = d.timestep AND a.u = r.u),
        |denseb AS (
        |  SELECT d.timestep, COALESCE(b.cell, 0.0) AS cell
        |  FROM bdays d CROSS JOIN (SELECT unnest(range(64)) AS u) r
        |  LEFT JOIN bcells b ON b.timestep = d.timestep AND b.u = r.u),
        |allc AS (SELECT * FROM densea UNION ALL SELECT * FROM denseb)
        |SELECT CAST(timestep AS BIGINT) AS timestep, COUNT(*) AS n_elems,
        |  CAST(SUM(CAST(cell AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  MIN(cell) AS min_val, MAX(cell) AS max_val
        |FROM allc GROUP BY 1 ORDER BY 1""".stripMargin,
    "arr_slice_sum" ->
      s"""WITH $CELLS_2D_DENSE
         |SELECT CAST(timestep AS BIGINT) AS timestep,
         |  CAST(SUM(CAST(cell AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM cells WHERE u >= 2 AND u < 6 AND h >= 1 AND h < 7
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "arr_matmul" ->
      s"""WITH $CELLS_2D_DENSE
         |SELECT CAST(x.timestep AS BIGINT) AS timestep,
         |  CAST(x.u AS BIGINT) AS i, CAST(y.h AS BIGINT) AS j,
         |  CAST(SUM(CAST(x.cell * y.cell AS DECIMAL(18,4))) AS DOUBLE) AS value
         |FROM cells x JOIN cells y
         |  ON x.timestep = y.timestep AND x.h = y.u
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // 2x2 block sums over the dense field: every block folds in exact
    // decimal, so a cell filed under the wrong block breaks its row
    "arr_coarsen" ->
      s"""WITH $CELLS_2D_DENSE
         |SELECT CAST(timestep AS BIGINT) AS timestep,
         |  CAST(u // 2 AS BIGINT) AS i, CAST(h // 2 AS BIGINT) AS j,
         |  CAST(SUM(CAST(cell AS DECIMAL(18,2))) AS DOUBLE) AS value
         |FROM cells GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "arr_stencil_sum" ->
      s"""WITH $CELLS_2D_DENSE,
         |lap AS (
         |  SELECT x.timestep, x.u, x.h,
         |    x.cell * 4.0 - COALESCE(up.cell, 0.0) - COALESCE(dn.cell, 0.0)
         |      - COALESCE(lf.cell, 0.0) - COALESCE(rt.cell, 0.0) AS out
         |  FROM cells x
         |  LEFT JOIN cells up ON up.timestep = x.timestep AND up.u = x.u - 1 AND up.h = x.h
         |  LEFT JOIN cells dn ON dn.timestep = x.timestep AND dn.u = x.u + 1 AND dn.h = x.h
         |  LEFT JOIN cells lf ON lf.timestep = x.timestep AND lf.u = x.u AND lf.h = x.h - 1
         |  LEFT JOIN cells rt ON rt.timestep = x.timestep AND rt.u = x.u AND rt.h = x.h + 1)
         |SELECT CAST(timestep AS BIGINT) AS timestep,
         |  CAST(SUM(CAST(out AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM lap GROUP BY 1 ORDER BY 1""".stripMargin,
    // the flat row-major order u*8 + h is exactly reshape's contract;
    // the running decimal window replays the distributed scan over it
    "arr_reshape_flat" ->
      s"""WITH $CELLS_2D_DENSE
         |SELECT CAST(timestep AS BIGINT) AS timestep,
         |  CAST(u * 8 + h AS BIGINT) AS idx,
         |  CAST(SUM(CAST(cell AS DECIMAL(28,2)))
         |    OVER (PARTITION BY timestep ORDER BY u * 8 + h) AS DOUBLE) AS value
         |FROM cells ORDER BY 1, 2""".stripMargin,
    // slab 0 = the plain decimal total, slab 1 = the doubled cells'
    // total — both exact, so a chunk filed under the wrong slab breaks
    // exactly one of the two rows
    "arr_stack_axis" ->
      s"""WITH $CELLS_2D_DENSE,
         |tot AS (
         |  SELECT timestep,
         |    CAST(SUM(CAST(cell AS DECIMAL(18,2))) AS DOUBLE) AS v0,
         |    CAST(SUM(CAST(cell * 2.0 AS DECIMAL(18,2))) AS DOUBLE) AS v1
         |  FROM cells GROUP BY 1)
         |SELECT CAST(timestep AS BIGINT) AS timestep,
         |  CAST(0 AS BIGINT) AS idx, v0 AS value FROM tot
         |UNION ALL
         |SELECT CAST(timestep AS BIGINT) AS timestep,
         |  CAST(1 AS BIGINT) AS idx, v1 AS value FROM tot
         |ORDER BY 1, 2""".stripMargin,
    // truthiness over the DENSE array: all_val = 0 whenever any bucket
    // saw no events that day (zero-filled cell)
    "arr_any_all" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u)
         |SELECT CAST(timestep AS BIGINT) AS timestep,
         |  CAST(MAX(CASE WHEN cell <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS any_val,
         |  CAST(MIN(CASE WHEN cell <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS all_val
         |FROM dense GROUP BY 1 ORDER BY 1""".stripMargin,
    // cells collapse to 1..7 (pmod of the exact floor), so the 8-long
    // line products are exact in double and product() is order-free
    "arr_axis_prod" ->
      s"""WITH $CELLS_2D_DENSE
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS idx,
         |  product(CAST(((CAST(floor(cell) AS BIGINT) % 7) + 7) % 7 + 1
         |    AS DOUBLE)) AS value
         |FROM cells GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the running product over each (timestep, u) line in hour order —
    // the windowed `product` aggregate replays the exact small-integer
    // scan (pmod cells 1..7, line product <= 7^8 < 2^53)
    "arr_cumprod" ->
      s"""WITH $CELLS_2D_DENSE
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS i,
         |  CAST(h AS BIGINT) AS j,
         |  product(CAST(((CAST(floor(cell) AS BIGINT) % 7) + 7) % 7 + 1
         |    AS DOUBLE))
         |    OVER (PARTITION BY timestep, u ORDER BY h) AS value
         |FROM cells ORDER BY 1, 2, 3""".stripMargin,
    // per-line ascending rank re-addresses the hour coordinate; exact
    // doubles order identically cross-engine, ties keep original order
    "arr_sort_axis" ->
      s"""WITH $CELLS_2D_DENSE
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS i,
         |  CAST(row_number()
         |    OVER (PARTITION BY timestep, u ORDER BY cell, h) - 1 AS BIGINT) AS j,
         |  cell AS value
         |FROM cells ORDER BY 1, 2, 3""".stripMargin,
    "arr_argsort" ->
      s"""WITH $CELLS_2D_DENSE
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS i,
         |  CAST(row_number()
         |    OVER (PARTITION BY timestep, u ORDER BY cell, h) - 1 AS BIGINT) AS j,
         |  CAST(h AS BIGINT) AS idx
         |FROM cells ORDER BY 1, 2, 3""".stripMargin,
    // lead copies replicate the dense 1-d cells; the position-weighted
    // exact-decimal checksum gates each copy's placement
    "arr_broadcast_to" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u),
         |b AS (SELECT timestep, l.lead, u, cell
         |      FROM dense CROSS JOIN (SELECT unnest(range(4)) AS lead) l)
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(lead AS BIGINT) AS lead,
         |  CAST(SUM(CAST(cell AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |  CAST(SUM(CAST(cell AS DECIMAL(18,2)) * (u + 1)) AS DOUBLE) AS wsum
         |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // copy r of cell u lands at global index r*64 + u
    "arr_tile" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u),
         |t AS (SELECT timestep, rr.r * 64 + u AS gi, cell
         |      FROM dense CROSS JOIN (SELECT unnest(range(2)) AS r) rr)
         |SELECT CAST(timestep AS BIGINT) AS timestep, COUNT(*) AS n_cells,
         |  CAST(SUM(CAST(cell AS DECIMAL(18,2)) * (gi + 1)) AS DOUBLE) AS wsum
         |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    // element u's copies land adjacent at 3u, 3u+1, 3u+2
    "arr_repeat" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u),
         |t AS (SELECT timestep, u * 3 + kk.k AS gi, cell
         |      FROM dense CROSS JOIN (SELECT unnest(range(3)) AS k) kk)
         |SELECT CAST(timestep AS BIGINT) AS timestep, COUNT(*) AS n_cells,
         |  CAST(SUM(CAST(cell AS DECIMAL(18,2)) * (gi + 1)) AS DOUBLE) AS wsum
         |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    // mirrored edges (numpy 'reflect': index -1 reads +1); the operand
    // association (w1*vp + w2*v) + w3*vn matches the Spark fold exactly
    // and the power-of-two weights make every product exact
    "arr_stencil_avg" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u),
         |nb AS (
         |  SELECT timestep, u, cell,
         |    CASE WHEN u = 0 THEN lead(cell) OVER w
         |         ELSE lag(cell) OVER w END AS vp,
         |    CASE WHEN u = 63 THEN lag(cell) OVER w
         |         ELSE lead(cell) OVER w END AS vn
         |  FROM dense WINDOW w AS (PARTITION BY timestep ORDER BY u))
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS idx,
         |  (0.25 * vp + 0.5 * cell) + 0.25 * vn AS value
         |FROM nb ORDER BY 1, 2""".stripMargin,
    // numpy gradient: the central kernel over the LINEAR-extrapolated
    // edge (vp at u=0 := 2·f0 - f1, vn at u=63 := 2·f63 - f62) — the
    // (-0.5·vp + 0.0·cell) + 0.5·vn fold replays Spark's term order
    "arr_gradient" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u),
         |nb AS (
         |  SELECT timestep, u, cell,
         |    CASE WHEN u = 0 THEN 2.0 * cell - lead(cell) OVER w
         |         ELSE lag(cell) OVER w END AS vp,
         |    CASE WHEN u = 63 THEN 2.0 * cell - lag(cell) OVER w
         |         ELSE lead(cell) OVER w END AS vn
         |  FROM dense WINDOW w AS (PARTITION BY timestep ORDER BY u))
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS idx,
         |  (-0.5 * vp + 0.0 * cell) + 0.5 * vn AS value
         |FROM nb ORDER BY 1, 2""".stripMargin,
    // the zip pairs each cell with ITSELF through the 4x16 -> 8x8 -> 4x16
    // rechunk round trip, so every value is 2*cell; the threshold makes
    // any misaligned pairing change the kept set
    // top-5 over the dense cells: values desc, ties to the lowest index
    "arr_topk" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u),
         |rk AS (
         |  SELECT timestep, u, cell,
         |    ROW_NUMBER() OVER (PARTITION BY timestep
         |      ORDER BY cell DESC, u) AS rn
         |  FROM dense)
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(rn AS BIGINT) AS rank,
         |  CAST(u AS BIGINT) AS idx, cell AS value
         |FROM rk WHERE rn <= 5 ORDER BY 1, 2""".stripMargin,
    // percentile_disc over the dense cells — quantile_disc matches the
    // conditional-MIN-at-ceil(q*n) definition (verified at q_percentiles)
    "arr_quantile" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u)
         |SELECT CAST(timestep AS BIGINT) AS timestep,
         |  quantile_disc(cell, 0.25) AS p25,
         |  quantile_disc(cell, 0.50) AS p50,
         |  quantile_disc(cell, 0.90) AS p90
         |FROM dense GROUP BY 1 ORDER BY 1""".stripMargin,
    // full 3x3 binomial blur with reflect boundary: one joined value
    // alias per off-center kernel tap, coordinates mirrored at the
    // global edge; the linear +-chain is left-associative like the
    // Spark row-major fold, and the power-of-two weights make every
    // product exact, so doubles replay bit-for-bit
    "arr_stencil_2d" -> {
      def m(e: String) =
        s"(CASE WHEN ($e) < 0 THEN -($e) WHEN ($e) > 7 THEN 14 - ($e) ELSE ($e) END)"
      val w = Seq(
        Seq(0.0625, 0.125, 0.0625),
        Seq(0.125, 0.25, 0.125),
        Seq(0.0625, 0.125, 0.0625))
      val taps = for (ky <- -1 to 1; kx <- -1 to 1) yield (ky, kx)
      val joins = taps.collect { case (ky, kx) if (ky, kx) != (0, 0) =>
        val a = s"t${ky + 1}${kx + 1}"
        s"JOIN cells $a ON $a.timestep = o.timestep AND $a.u = ${m(s"o.u + $ky")} AND $a.h = ${m(s"o.h + $kx")}"
      }.mkString("\n")
      val terms = taps.map { case (ky, kx) =>
        val cell = if ((ky, kx) == (0, 0)) "o.cell" else s"t${ky + 1}${kx + 1}.cell"
        s"${w(ky + 1)(kx + 1)} * $cell"
      }.mkString(" + ")
      s"""WITH $CELLS_2D_DENSE
         |SELECT CAST(o.timestep AS BIGINT) AS timestep,
         |  CAST(o.u AS BIGINT) AS i, CAST(o.h AS BIGINT) AS j,
         |  $terms AS value
         |FROM cells o
         |$joins
         |ORDER BY 1, 2, 3""".stripMargin
    },
    // full 3x3x3 binomial blur with reflect boundary: 26 joined value
    // aliases (one per off-center tap), coordinates mirrored at the
    // global edge; linear +-chain replays the Spark row-major fold and
    // the power-of-two weights keep every product exact
    "arr_stencil_3d" -> {
      def m(e: String) =
        s"(CASE WHEN ($e) < 0 THEN -($e) WHEN ($e) > 7 THEN 14 - ($e) ELSE ($e) END)"
      val w1 = Seq(0.25, 0.5, 0.25)
      val taps = for (du <- -1 to 1; dh <- -1 to 1; dw <- -1 to 1) yield (du, dh, dw)
      def wt(du: Int, dh: Int, dw: Int): Double = w1(du + 1) * w1(dh + 1) * w1(dw + 1)
      val joins = taps.collect { case (du, dh, dw) if (du, dh, dw) != (0, 0, 0) =>
        val a = s"t${du + 1}${dh + 1}${dw + 1}"
        s"JOIN cells3 $a ON $a.timestep = o.timestep AND $a.u = ${m(s"o.u + $du")}" +
          s" AND $a.h = ${m(s"o.h + $dh")} AND $a.w = ${m(s"o.w + $dw")}"
      }.mkString("\n")
      val terms = taps.map { case (du, dh, dw) =>
        val cell = if ((du, dh, dw) == (0, 0, 0)) "o.cell"
          else s"t${du + 1}${dh + 1}${dw + 1}.cell"
        s"${wt(du, dh, dw)} * $cell"
      }.mkString(" + ")
      s"""WITH $CELLS_3D_DENSE
         |SELECT CAST(o.timestep AS BIGINT) AS timestep,
         |  CAST(o.u AS BIGINT) AS i, CAST(o.h AS BIGINT) AS j,
         |  CAST(o.w AS BIGINT) AS k,
         |  $terms AS value
         |FROM cells3 o
         |$joins
         |ORDER BY 1, 2, 3, 4""".stripMargin
    },
    // quantile_cont: linear interpolation between the floor/ceil order
    // statistics at h = (n-1)*q — dask da.percentile's default method
    "arr_quantile_cont" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u)
         |SELECT CAST(timestep AS BIGINT) AS timestep,
         |  quantile_cont(cell, 0.25) AS p25,
         |  quantile_cont(cell, 0.50) AS p50,
         |  quantile_cont(cell, 0.90) AS p90
         |FROM dense GROUP BY 1 ORDER BY 1""".stripMargin,
    "arr_zip_mismatch" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u)
         |SELECT CAST(timestep AS BIGINT) AS timestep,
         |  CAST(SUM(CASE WHEN cell + cell > 1000.0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(SUM(CASE WHEN cell + cell > 1000.0
         |       THEN CAST(cell + cell AS DECIMAL(18,2))
         |       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS total
         |FROM dense GROUP BY 1 ORDER BY 1""".stripMargin,
    // reversed cells: output idx reads the mirrored input position
    "arr_flip" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u)
         |SELECT CAST(timestep AS BIGINT) AS timestep,
         |  CAST(63 - u AS BIGINT) AS idx, cell AS value
         |FROM dense ORDER BY 1, 2""".stripMargin,
    // circular shift by +5: the cell at u lands at (u + 5) mod 64
    "arr_roll" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u)
         |SELECT CAST(timestep AS BIGINT) AS timestep,
         |  CAST((u + 5) % 64 AS BIGINT) AS idx, cell AS value
         |FROM dense ORDER BY 1, 2""".stripMargin,
    // stats over the clipped dense cells: clip is exact on the
    // 2-decimal values, the stat folds replay arr_stats_ts
    "arr_clip" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep,
         |    LEAST(GREATEST(COALESCE(c.cell, 0.0), 100.0), 900.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u)
         |SELECT CAST(timestep AS BIGINT) AS timestep, COUNT(*) AS n_elems,
         |  CAST(SUM(CAST(cell AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |  MIN(cell) AS min_val, MAX(cell) AS max_val
         |FROM dense GROUP BY 1 ORDER BY 1""".stripMargin,
    // distinct dense cell values with counts per timestep
    "arr_unique" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u)
         |SELECT CAST(timestep AS BIGINT) AS timestep, cell AS value,
         |  COUNT(*) AS n_cells
         |FROM dense GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // first difference: LEAD over the dense cells replays the same
    // IEEE double subtraction; the wrapped last cell is dropped
    "arr_diff" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u),
         |ld AS (
         |  SELECT timestep, u,
         |    LEAD(cell) OVER (PARTITION BY timestep ORDER BY u) - cell AS value
         |  FROM dense)
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS idx,
         |  value
         |FROM ld WHERE u < 63 ORDER BY 1, 2""".stripMargin,
    // edge mode: every padded idx reads the cell at clamp(idx-8, 0, 63)
    "arr_pad_edge" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u)
         |SELECT d.timestep, CAST(r.i AS BIGINT) AS idx, c.cell AS value
         |FROM (SELECT CAST(timestep AS BIGINT) AS timestep FROM days) d
         |CROSS JOIN (SELECT unnest(range(80)) AS i) r
         |JOIN dense c ON c.timestep = d.timestep
         |  AND c.u = greatest(0, least(63, r.i - 8))
         |ORDER BY 1, 2""".stripMargin,
    // 8 pad cells each side at -1.0 (distinguishable from the
    // zero-filled interior); interior idx reads the cell at idx - 8
    "arr_pad" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u)
         |SELECT d.timestep, CAST(r.i AS BIGINT) AS idx,
         |  COALESCE(c.cell, -1.0) AS value
         |FROM (SELECT CAST(timestep AS BIGINT) AS timestep FROM days) d
         |CROSS JOIN (SELECT unnest(range(80)) AS i) r
         |LEFT JOIN dense c ON c.timestep = d.timestep AND c.u = r.i - 8
         |ORDER BY 1, 2""".stripMargin,
    // per-row percentile_disc over the dense 2-d cells — the
    // conditional-MIN-at-ceil(q*n) definition per (timestep, u) line
    "arr_axis_median" ->
      s"""WITH $CELLS_2D_DENSE
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS idx,
         |  quantile_disc(cell, 0.5) AS med,
         |  quantile_disc(cell, 0.9) AS p90
         |FROM cells GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // per-row quantile_cont: the dask-default linear interpolation,
    // operand order replayed per line
    "arr_axis_quantile_cont" ->
      s"""WITH $CELLS_2D_DENSE
         |SELECT CAST(timestep AS BIGINT) AS timestep, CAST(u AS BIGINT) AS idx,
         |  quantile_cont(cell, 0.5) AS med,
         |  quantile_cont(cell, 0.9) AS p90
         |FROM cells GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // weighted mean with clip-derived weights: numerator the cast-first
    // decimal product sum (the ChunkDotDec contract), denominator the
    // exact decimal weight sum, one replayed double division
    "arr_weighted_mean" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u),
         |w AS (
         |  SELECT timestep, cell,
         |    LEAST(GREATEST(cell, 100.0), 900.0) AS wv
         |  FROM dense)
         |SELECT CAST(timestep AS BIGINT) AS timestep,
         |  CAST(SUM(CAST(wv AS DECIMAL(18,2)) * CAST(cell AS DECIMAL(18,2)))
         |       AS DOUBLE)
         |  / CAST(SUM(CAST(wv AS DECIMAL(18,2))) AS DOUBLE) AS wmean
         |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    // nan-family over the zero-masked dense array: SQL aggregates skip
    // NULL exactly like the nan-reductions skip NaN; nansum of an
    // all-missing timestep is 0.0 (numpy), nanmean NULL
    "arr_nan_stats" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u),
         |m AS (SELECT timestep, NULLIF(cell, 0.0) AS v FROM dense)
         |SELECT CAST(timestep AS BIGINT) AS timestep,
         |  COUNT(v) AS n_valid,
         |  CAST(COALESCE(SUM(CAST(v AS DECIMAL(18,2))), 0) AS DOUBLE) AS nansum,
         |  MIN(v) AS nanmin, MAX(v) AS nanmax,
         |  CASE WHEN COUNT(v) > 0 THEN
         |    CAST(COALESCE(SUM(CAST(v AS DECIMAL(18,2))), 0) AS DOUBLE)
         |      / CAST(COUNT(v) AS DOUBLE) END AS nanmean
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    // lag-1 serial correlation: y(u) = x((u+63) % 64) (roll by +1), the
    // five exact decimal moments + the exact decimal product sum, then
    // the q_corr double formula operand-for-operand
    "arr_corr_roll" ->
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u),
         |p AS (
         |  SELECT x.timestep, x.cell AS xv, y.cell AS yv
         |  FROM dense x JOIN dense y
         |    ON y.timestep = x.timestep AND y.u = (x.u + 63) % 64),
         |a AS (
         |  SELECT timestep, COUNT(*) AS n,
         |    SUM(CAST(xv AS DECIMAL(18,2))) AS sx,
         |    SUM(CAST(yv AS DECIMAL(18,2))) AS sy,
         |    SUM(CAST(xv AS DECIMAL(18,2)) * CAST(xv AS DECIMAL(18,2))) AS sxx,
         |    SUM(CAST(yv AS DECIMAL(18,2)) * CAST(yv AS DECIMAL(18,2))) AS syy,
         |    SUM(CAST(xv AS DECIMAL(18,2)) * CAST(yv AS DECIMAL(18,2))) AS sxy
         |  FROM p GROUP BY 1),
         |d AS (
         |  SELECT timestep, n,
         |    sqrt(greatest(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0))
         |    * sqrt(greatest(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE), 0.0)) AS den,
         |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num
         |  FROM a)
         |SELECT CAST(timestep AS BIGINT) AS timestep, n,
         |  CASE WHEN den > 0.0 THEN num / den END AS corr_lag1
         |FROM d ORDER BY 1""".stripMargin,
    // the gather list verbatim — order (sel) and the duplicate index
    // must come back exactly
    "arr_take" -> {
      val vals = takeIndices.zipWithIndex
        .map { case (u, sel) => s"($sel, $u)" }.mkString(", ")
      s"""WITH $CELLS_1D,
         |days AS (SELECT DISTINCT timestep FROM cells),
         |dense AS (
         |  SELECT d.timestep, r.u, COALESCE(c.cell, 0.0) AS cell
         |  FROM days d CROSS JOIN (SELECT unnest(range(64)) AS u) r
         |  LEFT JOIN cells c ON c.timestep = d.timestep AND c.u = r.u)
         |SELECT CAST(timestep AS BIGINT) AS timestep,
         |  CAST(m.sel AS BIGINT) AS sel, c.cell AS value
         |FROM (VALUES $vals) m(sel, u)
         |JOIN dense c ON c.u = m.u
         |ORDER BY 1, 2""".stripMargin
    },
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "arr_searchsorted" -> (arrSearchsorted _),
    "arr_trend" -> (arrTrend _),
    "arr_standardize" -> (arrStandardize _),
    "arr_histogram2d" -> (arrHistogram2d _),
    "arr_cummax" -> (arrCummax _),
    "arr_norms" -> (arrNorms _),
    "arr_convolve" -> (arrConvolve _),
    "arr_interp" -> (arrInterp _),
    "arr_fft" -> (arrFft _),
    "arr_rfft" -> (arrRfft _),
    "arr_fftshift" -> (arrFftshift _),
    "arr_irfft" -> (arrIrfft _),
    "arr_fft_np2" -> (arrFftNp2 _),
    "arr_spectrum_np2" -> (arrSpectrumNp2 _),
    "arr_fft2" -> (arrFft2 _),
    "arr_ifft" -> (arrIfft _),
    "arr_conv_fft" -> (arrConvFft _),
    "arr_psd" -> (arrPsd _),
    "arr_xcorr" -> (arrXcorr _),
    "arr_spectrum" -> (arrSpectrum _),
    "arr_sum_ts" -> (arrSumTs _),
    "arr_histogram" -> (arrHistogram _),
    "arr_stats_ts" -> (arrStatsTs _),
    "arr_rechunk_stats" -> (arrRechunkStats _),
    "arr_cumsum" -> (arrCumsum _),
    "arr_compress" -> (arrCompress _),
    "arr_var_ts" -> (arrVarTs _),
    "arr_argmax" -> (arrArgmax _),
    "arr_argmax_2d" -> (arrArgmax2d _),
    "arr_mean_diff" -> (arrMeanDiff _),
    "arr_preprocess_sum" -> (arrPreprocessSum _),
    "arr_elementwise_chain" -> (arrElementwiseChain _),
    "arr_window_delta" -> (arrWindowDelta _),
    "arr_axis_sum" -> (arrAxisSum _),
    "arr_axis_max" -> (arrAxisMax _),
    "arr_axis_ptp" -> (arrAxisPtp _),
    "arr_axis_mean" -> (arrAxisMean _),
    "arr_axis_sum_3d" -> (arrAxisSum3d _),
    "arr_axis_var" -> (arrAxisVar _),
    "arr_axis_std" -> (arrAxisStd _),
    "arr_argmax_axis" -> (arrArgmaxAxis _),
    "arr_masked_sum" -> (arrMaskedSum _),
    "arr_cumsum2d" -> (arrCumsum2d _),
    "arr_transpose_sum" -> (arrTransposeSum _),
    "arr_axis_moves" -> (arrAxisMoves _),
    "arr_concat_stats" -> (arrConcatStats _),
    "arr_slice_sum" -> (arrSliceSum _),
    "arr_stencil_sum" -> (arrStencilSum _),
    "arr_matmul" -> (arrMatmul _),
    "arr_coarsen" -> (arrCoarsen _),
    "arr_gram" -> (arrGram _),
    "arr_svd_vals" -> (arrSvdVals _),
    "arr_pca_project" -> (arrPcaProject _),
    "arr_svd_modes" -> (arrSvdModes _),
    "arr_corrcoef" -> (arrCorrcoef _),
    "arr_qr_r" -> (arrQrR _),
    "arr_lstsq" -> (arrLstsq _),
    "arr_lstsq_resid" -> (arrLstsqResid _),
    "arr_einsum" -> (arrEinsum _),
    "arr_einsum_diag" -> (arrEinsumDiag _),
    "arr_einsum_batch" -> (arrEinsumBatch _),
    "arr_einsum_chain" -> (arrEinsumChain _),
    "arr_trace" -> (arrTrace _),
    "arr_outer" -> (arrOuter _),
    "arr_tensordot" -> (arrTensordot _),
    "arr_tensordot_axes" -> (arrTensordotAxes _),
    "arr_reshape_flat" -> (arrReshapeFlat _),
    "arr_stack_axis" -> (arrStackAxis _),
    "arr_any_all" -> (arrAnyAll _),
    "arr_axis_prod" -> (arrAxisProd _),
    "arr_cumprod" -> (arrCumprod _),
    "arr_cov" -> (arrCov _),
    "arr_sort_axis" -> (arrSortAxis _),
    "arr_argsort" -> (arrArgsort _),
    "arr_broadcast_to" -> (arrBroadcastTo _),
    "arr_tile" -> (arrTile _),
    "arr_repeat" -> (arrRepeat _),
    "arr_stencil_avg" -> (arrStencilAvg _),
    "arr_gradient" -> (arrGradient _),
    "arr_zip_mismatch" -> (arrZipMismatch _),
    "arr_topk" -> (arrTopk _),
    "arr_quantile" -> (arrQuantile _),
    "arr_quantile_cont" -> (arrQuantileCont _),
    "arr_stencil_2d" -> (arrStencil2d _),
    "arr_stencil_3d" -> (arrStencil3d _),
    "arr_flip" -> (arrFlip _),
    "arr_roll" -> (arrRoll _),
    "arr_pad" -> (arrPad _),
    "arr_pad_edge" -> (arrPadEdge _),
    "arr_diff" -> (arrDiff _),
    "arr_unique" -> (arrUnique _),
    "arr_clip" -> (arrClip _),
    "arr_nan_stats" -> (arrNanStats _),
    "arr_corr_roll" -> (arrCorrRoll _),
    "arr_take" -> (arrTake _),
    "arr_axis_median" -> (arrAxisMedian _),
    "arr_axis_quantile_cont" -> (arrAxisQuantileCont _),
    "arr_weighted_mean" -> (arrWeightedMean _),
  )
}
