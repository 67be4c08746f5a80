package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Presentation-sort helper for BOUNDED result relations (r21
  * optimization).
  *
  * Every declared query ends in a total deterministic sort so results
  * replay identically cross-engine (SURVEY §5). Spelled as `.orderBy`,
  * that sort is a range-partitioned global sort: an extra exchange, a
  * range-boundary SAMPLING pass over the child, and (under AQE's
  * stage-by-stage execution) two extra job round-trips — all to order a
  * relation that is O(groups)-bounded by construction (nation pairs,
  * event types, histogram buckets, band counts, model folds...), i.e.
  * small at ANY corpus scale. For those, [[sorted]] plans the same
  * total order as a single-partition sort: `repartition(1)` (one
  * all-to-one exchange of the bounded result — no range sampling) +
  * `sortWithinPartitions`. Rows and row ORDER are bit-identical to the
  * `.orderBy` spelling (the sort keys are total), so oracles are
  * untouched; the plan drops the sampling pass and one AQE stage
  * round-trip (measured ~0.05-0.2 s fixed cost per query locally; at
  * cluster scale it removes the range-sampling scan of the final
  * aggregate).
  *
  * `repartition(1)`, NOT `coalesce(1)`: coalesce is narrow and fuses
  * into the stage BELOW, serializing whatever real work (windows,
  * joins) shares that stage — measured +0.1-0.2 s on ev_rfm /
  * ev_funnel_time. The explicit 1-partition exchange keeps the
  * upstream stage's parallelism and moves only the bounded result.
  *
  * NOT for corpus-scale outputs (per-document / per-vector / per-order
  * relations): a single-partition sort of those would serialize the
  * result write. Those keep `.orderBy`.
  */
object Present {

  /** `transform`-style spelling: `df.transform(Present.sorted("a", "b"))`. */
  def sorted(first: String, rest: String*)(df: DataFrame): DataFrame =
    df.repartition(1).sortWithinPartitions(first, rest: _*)

  /** `transform`-style spelling with Column sort keys. */
  def sortedBy(cols: Column*)(df: DataFrame): DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)

  /** Corpus-scale per-row MAP pipelines whose declared output order is a
    * total key of their INPUT (per-document serving scans ending in
    * `.orderBy("doc_id")`): establish the range partitioning on the
    * CHEAP input first, then run the expensive map once, post-exchange.
    *
    * The map-then-`.orderBy` spelling pays the map TWICE — the range
    * exchange's boundary sampling re-executes its child, which is the
    * scan+map stage — and on a narrow source (the shipped
    * single-row-group parquet files are ONE input split each) both
    * executions are serial. Sorting the input instead samples only the
    * scan, and the map runs once, spread across the range partitions
    * (guide §1.2 step 1 / §2.5 input skew).
    *
    * Row order is bit-identical to `.orderBy(keys)`: the keys are a
    * total order by construction (SURVEY §5), and range partitioning +
    * within-partition sort IS that global sort, so oracles are
    * untouched. That holds only while every operator between this sort
    * and the query's result preserves partitioning and row order
    * (projections, per-row maps): no trailing sort re-establishes it.
    *
    * Partition count is pinned to `defaultParallelism` (cores): the map
    * is CPU-bound, so width follows cores, not bytes — AQE's
    * byte-targeted coalescing would fold a few MB of text back to one
    * partition and re-serialize the kernel. At cluster scale
    * defaultParallelism = total executor cores, the natural width for a
    * full-corpus map pass. STATIC-ALLOCATION ASSUMPTION (ADVICE r21):
    * the width is read at plan-build time, so under dynamic allocation
    * it can be the small pre-executor value — deployments using
    * dynamicAllocation should floor it against the configured
    * spark.sql.shuffle.partitions (the cluster posture this repo
    * targets provisions executors before query construction). */
  def spreadSorted(first: String, rest: String*)(df: DataFrame): DataFrame = {
    val keys = (first +: rest).map(org.apache.spark.sql.functions.col)
    df.repartitionByRange(
        df.sparkSession.sparkContext.defaultParallelism, keys: _*)
      .sortWithinPartitions(keys: _*)
  }

  /** Bounded-output presentation sort with ZERO added exchange (r22):
    * `coalesce(1)` + `sortWithinPartitions`.
    *
    * [[sorted]]'s `repartition(1)` moves the bounded result through one
    * more shuffle (an extra AQE stage round-trip) so that the stage
    * BELOW keeps its parallelism — the right trade when that stage
    * holds real per-row work (windows, joins over user-scale rows:
    * measured +0.1-0.2 s with coalesce on ev_rfm / ev_funnel_time).
    * The fixed-geometry ARRAY faces are the opposite shape: everything
    * between the last data-scale exchange (the per-chunk aggregate,
    * whose map side stays parallel) and the declared sort is
    * O(timesteps x grid)-bounded at ANY corpus scale, so fusing it into
    * one task costs bounded work and saves an entire exchange + its
    * AQE round-trip (and, vs `.orderBy`, the range-sampling pass too).
    * Measured on the 98-query arr family (event-log attribution): the
    * pass-2 sweep spends more time in Catalyst/AQE re-planning between
    * jobs (15.8 s) than inside them (12.9 s) — dropping one exchange
    * per query attacks both halves.
    *
    * Row order is bit-identical to `.orderBy(keys)` (total keys, same
    * global sort). */
  def fused(first: String, rest: String*)(df: DataFrame): DataFrame =
    fusedBy((first +: rest).map(org.apache.spark.sql.functions.col): _*)(df)

  /** [[fused]] with Column sort keys (the [[sortedBy]] twin). */
  def fusedBy(cols: Column*)(df: DataFrame): DataFrame =
    df.coalesce(1).sortWithinPartitions(cols: _*)
}
