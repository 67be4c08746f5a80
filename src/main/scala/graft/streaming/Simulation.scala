package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.arrays.ChunkedArray

/** One chunk message from a producer — the streaming analog of
  * doreisa's `Client.add_chunk` (doreisa/simulation_node.py:35-75).
  * `chunkSum` is the producer-side partial reduction: as in the
  * reference, where scheduling actors pass object *refs* (not data) to
  * the head (doreisa/_scheduling_actor.py), the driver-visible state
  * holds scalars per chunk, never elements.
  */
case class ChunkMsg(name: String, timestep: Long, nbChunks: Int, chunkSum: Double)

/** Completed timestep emitted once all chunks arrived — with the delta
  * vs the previous completed timestep (doreisa `window_size=2`). */
case class TimestepTotal(name: String, timestep: Long, total: Double, delta: Option[Double])

/** Completed timestep with the totals of the last `window_size` completed
  * timesteps (doreisa's general `window_size=k` list, oldest -> newest;
  * clipped at the stream start like the reference's
  * `range(max(iteration - window_size + 1, 0), iteration + 1)` —
  * doreisa/window_api.py:93-97). */
case class TimestepWindow(name: String, timestep: Long, window: Seq[Double])

private case class WinAsmState(
    partial: Map[Long, (Double, Int)], // timestep -> (running sum, chunks seen)
    completed: Map[Long, Double], // completed, not yet dropped from any future window
    nextEmit: Long)

private case class AsmState(
    partial: Map[Long, (Double, Int)], // timestep -> (running sum, chunks seen)
    completed: Map[Long, Double]) // completed timestep -> total (pruned to a horizon)

private object AsmState {
  /** Completed totals retained for delta lookups (doreisa keeps
    * `window_size` arrays; deltas need t-1, the horizon covers stragglers
    * completing far out of order). */
  val Horizon = 64
}

/** Array definition, mirroring doreisa.window_api.ArrayDefinition
  * (name, window_size, preprocess) — doreisa/window_api.py:14-18. */
case class ArrayDef(name: String, windowSize: Int = 1, preprocess: Column => Column = identity)

/** SURVEY §2.A streaming runner: the reference's per-iteration analytics
  * loop (doreisa/window_api.py:38-119) re-expressed on Structured
  * Streaming. No head actor, no per-node scheduling actors: arrival
  * tracking is `flatMapGroupsWithState` keyed by array name, and the
  * "assemble then reduce" step ships only per-chunk partials. Backpressure
  * (doreisa `max_pending_arrays`) maps to trigger intervals +
  * `maxFilesPerTrigger`/`maxOffsetsPerTrigger` on the source.
  */
object Simulation {

  /** Pack chunk rows into at most the cluster's task-slot count of input
    * partitions before they reach a stateful operator. A source such as
    * `MemoryStream` yields one partition per `addData` call, i.e. one
    * per rank push, so without this every micro-batch pays one
    * single-row map task per rank ahead of the state shuffle. The
    * coalesce is narrow (no extra exchange) and a no-op when the source
    * already has that many partitions or fewer.
    *
    * The width is `defaultParallelism`, read when the query is built:
    * this assumes static allocation (local mode or a fixed executor
    * set). Under dynamic allocation it can be the pre-executor value,
    * which only narrows the packed map stage; the state shuffle keeps
    * `spark.sql.shuffle.partitions`. */
  private def packed(rows: DataFrame): DataFrame =
    rows.coalesce(rows.sparkSession.sparkContext.defaultParallelism)

  /** Producer-side partial reduction: turn raw chunk rows
    * (name/timestep/nbChunks/pos/data) into [[ChunkMsg]]s, applying the
    * per-chunk preprocess at ingest — the same placement as the
    * reference, which preprocesses on the producing node
    * (doreisa/simulation_node.py:57). */
  def toMessages(chunks: DataFrame, defs: Seq[ArrayDef]): Dataset[ChunkMsg] = {
    import chunks.sparkSession.implicits._
    val pre = defs.map(d => d.name -> d.preprocess).toMap
    val preprocessed = pre.foldLeft(packed(chunks)) { case (df, (nm, f)) =>
      df.withColumn("data", when(col("name") === nm, transform(col("data"), f))
        .otherwise(col("data")))
    }
    // One message per chunk (no pre-aggregation: a streaming aggregate
    // cannot precede flatMapGroupsWithState); the payload is reduced to
    // one scalar map-side, so only O(#chunks) bytes reach the state op.
    preprocessed.select(col("name"), col("timestep"), col("nbChunks"),
        ChunkedArray.chunkSumDec(col("data")).cast("double").as("chunkSum"))
      .as[ChunkMsg]
  }

  /** Assemble timesteps from chunk messages; emit exactly once per
    * completed timestep, with the sliding-window delta (vs timestep-1,
    * whenever that timestep has completed — timesteps may complete out of
    * order). Duplicate/late chunks for an already-completed timestep are
    * dropped, so at-least-once sources cannot re-open a timestep. State
    * per array name is O(in-flight + horizon) scalars.
    *
    * `idleTtlMs` is the [[KeyedState]] idle TTL, keyed per array name:
    * without it, a timestep that never completes pins its partial entry
    * forever. */
  def assemble(msgs: Dataset[ChunkMsg], idleTtlMs: Long = 0L): Dataset[TimestepTotal] = {
    import msgs.sparkSession.implicits._
    KeyedState.fold(msgs.groupByKey(_.name), AsmState(Map.empty, Map.empty), idleTtlMs) {
      (name: String, it: Iterator[ChunkMsg], st0: AsmState) =>
        var st = st0
        val out = scala.collection.mutable.ArrayBuffer.empty[TimestepTotal]
        // deltas for timesteps whose predecessor completes later in the
        // batch are resolved after the loop
        val pendingDelta = scala.collection.mutable.ArrayBuffer.empty[Int]
        it.foreach { m =>
          if (!st.completed.contains(m.timestep)) {
            val (s0, c0) = st.partial.getOrElse(m.timestep, (0.0, 0))
            val (s1, c1) = (s0 + m.chunkSum, c0 + 1)
            if (c1 >= m.nbChunks) {
              val done = st.completed + (m.timestep -> s1)
              st = AsmState(
                st.partial - m.timestep,
                done.filter { case (t, _) => t >= m.timestep - AsmState.Horizon })
              val delta = st.completed.get(m.timestep - 1).map(s1 - _)
              if (delta.isEmpty) pendingDelta += out.size
              out += TimestepTotal(name, m.timestep, s1, delta)
            } else {
              st = st.copy(partial = st.partial + (m.timestep -> (s1, c1)))
            }
          }
        }
        pendingDelta.foreach { i =>
          val t = out(i)
          out(i) = t.copy(delta = st.completed.get(t.timestep - 1).map(t.total - _))
        }
        (st, out.iterator)
    }
  }

  /** Assemble timesteps and emit each with its trailing `window_size`
    * totals — the general doreisa `window_size=k` contract
    * (doreisa/window_api.py:88-97): delivery is strictly in timestep
    * order per array (the reference's iteration loop blocks until every
    * array of iteration t has arrived), each emission carries the totals
    * of [max(t-k+1, start), t] oldest -> newest ([[KeyedState.drain]]),
    * and window sizes are per-array (mixed sizes across names,
    * tests/test_several_arrays.py).
    *
    * Out-of-order completions buffer until the gap fills; a permanently
    * missing timestep stalls that array's emission exactly as the
    * reference's `get_next_array` loop would, with state growing
    * O(buffered completions) — bound the producers' advance with source
    * backpressure (`maxFilesPerTrigger`, the `max_pending_arrays`
    * analog). Chunks below the emission watermark are dropped, so
    * at-least-once replays cannot re-open an emitted timestep.
    *
    * `idleTtlMs` is the [[KeyedState]] idle TTL, keyed per array name;
    * the emission watermark expires with the rest of the state, so a
    * post-expiry replay re-emits from the replayed timestep on. */
  def assembleWindows(
      msgs: Dataset[ChunkMsg],
      defs: Seq[ArrayDef],
      start: Long = 0L,
      idleTtlMs: Long = 0L): Dataset[TimestepWindow] = {
    import msgs.sparkSession.implicits._
    val winSize = defs.map(d => d.name -> d.windowSize).toMap
    require(winSize.values.forall(_ >= 1), "windowSize must be >= 1")
    KeyedState.fold(msgs.groupByKey(_.name), WinAsmState(Map.empty, Map.empty, start), idleTtlMs) {
      (name: String, it: Iterator[ChunkMsg], st0: WinAsmState) =>
        var st = st0
        it.foreach { m =>
          // below the watermark = already emitted (or a pre-start replay)
          if (m.timestep >= st.nextEmit && !st.completed.contains(m.timestep)) {
            val (s0, c0) = st.partial.getOrElse(m.timestep, (0.0, 0))
            val (s1, c1) = (s0 + m.chunkSum, c0 + 1)
            st = if (c1 >= m.nbChunks) {
              WinAsmState(st.partial - m.timestep, st.completed + (m.timestep -> s1), st.nextEmit)
            } else {
              st.copy(partial = st.partial + (m.timestep -> (s1, c1)))
            }
          }
        }
        val (completed, nextEmit, wins) =
          KeyedState.drain(st.completed, st.nextEmit, winSize.getOrElse(name, 1), start)
        (WinAsmState(st.partial, completed, nextEmit),
          wins.iterator.map { case (t, w) => TimestepWindow(name, t, w) })
    }
  }

  /** The one delivery spelling of the `run*` loops: start `rows` as an
    * Append-mode query whose micro-batches go to `onBatch`. */
  private def deliver[T](rows: Dataset[T], trigger: Trigger)(
      onBatch: (Dataset[T], Long) => Unit): StreamingQuery =
    rows.writeStream.outputMode(OutputMode.Append()).trigger(trigger).foreachBatch(onBatch).start()

  /** [[deliver]] with the in-order callback tail: each micro-batch's
    * per-timestep rows are collected and handed to `each` sorted by
    * (name, timestep). Collected rows are per-timestep scalars
    * (O(#timesteps * k) per batch), never chunk payloads. */
  private def deliverInOrder[T](rows: Dataset[T], trigger: Trigger)(
      key: T => (String, Long))(each: T => Unit): StreamingQuery =
    deliver(rows, trigger)((batch, _) => batch.collect().sortBy(key).foreach(each))

  /** Run the per-timestep callback loop (doreisa `run_simulation`):
    * completed timesteps stream into `onTimestep`. */
  def run(
      chunks: DataFrame,
      defs: Seq[ArrayDef],
      onTimestep: (String, Long, Double, Option[Double]) => Unit,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    deliverInOrder(assemble(toMessages(chunks, defs)), trigger)(t => (t.name, t.timestep)) { t =>
      onTimestep(t.name, t.timestep, t.total, t.delta)
    }

  /** `run` with the general windowed contract: `onTimestep(name, t,
    * window)` receives the last `ArrayDef.windowSize` completed totals
    * (oldest -> newest), strictly in timestep order per array —
    * [[runWindowsPrepared]] with nothing to prepare. */
  def runWindows(
      chunks: DataFrame,
      defs: Seq[ArrayDef],
      onTimestep: (String, Long, Seq[Double]) => Unit,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    runWindowsPrepared(chunks, defs, prepare = _ => (), advance = 0, onTimestep, trigger = trigger)

  /** Release each timestep's FULL chunk set once every chunk arrived —
    * the payload-level analog of [[assemble]], for callbacks that compute
    * on the arrays themselves rather than on totals (the reference hands
    * the callback a complete distributed array per iteration,
    * doreisa/window_api.py:88-103). State is keyed by (name, timestep):
    * payloads buffer only while the timestep is in flight and are freed
    * on emission; a 'done' marker (one boolean per completed timestep)
    * rejects at-least-once replays.
    *
    * `doneTtlMs` is the [[KeyedState]] idle TTL, keyed per (name,
    * timestep): it expires the marker AND any stuck partial buffer, so a
    * partial timestep idle past the TTL is dropped rather than
    * completed. */
  def assembleChunks(chunks: DataFrame, doneTtlMs: Long = 0L): Dataset[RawChunk] = {
    import chunks.sparkSession.implicits._
    val keyed = packed(chunks.select(col("name"), col("timestep"), col("nbChunks"), col("pos"), col("data")))
      .as[RawChunk]
      .groupByKey(c => (c.name, c.timestep))
    KeyedState.fold(keyed, ChunkAsmState(Vector.empty, done = false), doneTtlMs) {
      (_: (String, Long), it: Iterator[RawChunk], st0: ChunkAsmState) =>
        var st = st0
        val out = scala.collection.mutable.ArrayBuffer.empty[RawChunk]
        it.foreach { c =>
          if (!st.done && !st.buffered.exists(_.pos == c.pos)) {
            val buf = st.buffered :+ c
            st = if (buf.length >= c.nbChunks) {
              out ++= buf
              ChunkAsmState(Vector.empty, done = true) // payloads freed
            } else st.copy(buffered = buf)
          }
        }
        (st, out.iterator)
    }
  }

  /** Run an arbitrary distributed [[ChunkedArray]] computation on the
    * live stream, per completed timestep — the streaming form of "the
    * callback runs dask.array ops on the assembled array" (stencils,
    * slices, matmuls, ... — anything batch [[ChunkedArray]] offers).
    * Each micro-batch holds only COMPLETE timesteps (courtesy of
    * [[assembleChunks]]); `op` runs as a distributed batch plan over
    * them, and `sink` receives the result DataFrame to write/aggregate —
    * chunk payloads never pass through the driver unless the sink
    * chooses to collect.
    *
    * `sink` is called exactly once per micro-batch. The frame is not
    * cached: each action the sink runs evaluates the chunk assembly
    * once, so a sink that collects runs one Spark job per micro-batch.
    * A micro-batch in which no timestep completed hands the sink an
    * EMPTY frame (Spark's own `foreachBatch` contract), so a sink that
    * must not act on empty input checks for it itself. */
  def runArrayOp(
      chunks: DataFrame,
      name: String,
      geom: graft.arrays.ArrayGeometry,
      op: ChunkedArray => DataFrame,
      sink: (DataFrame, Long) => Unit,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    deliver(assembleChunks(chunks.filter(col("name") === name)), trigger) { (batch, batchId) =>
      val df = batch.toDF().select(col("timestep"), col("pos"), col("data"))
      sink(op(ChunkedArray(df, geom)), batchId)
    }

  /** [[runWindows]] with preparation pipelined `advance` iterations ahead
    * — doreisa's `preparation_advance` (doreisa/window_api.py:58-72 calls
    * `prepare_iteration(t)` `preparation_advance` iterations before the
    * arrays for t are processed, so graph-building overlaps data
    * arrival). Contract delivered here: `prepare(t')` has been invoked
    * for every `start <= t' <= t + advance` before the callback for
    * timestep t runs; each t' is prepared exactly once, in increasing
    * order. Preparations at and beyond `start + advance` run between
    * micro-batches on the driver; kick off heavy Spark work inside
    * `prepare` with [[graft.Async.prepare]] to overlap it with the
    * stream (plans themselves are lazy, so typical preparation is
    * cheap plan construction). */
  def runWindowsPrepared(
      chunks: DataFrame,
      defs: Seq[ArrayDef],
      prepare: Long => Unit,
      advance: Int,
      onTimestep: (String, Long, Seq[Double]) => Unit,
      start: Long = 0L,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    require(advance >= 0, "preparation advance must be >= 0")
    // driver-side high-water mark; foreachBatch bodies run sequentially
    // per query, so plain state + a monotone guard is enough
    var prepared = start - 1
    def prepareThrough(t: Long): Unit = {
      while (prepared < t) { prepared += 1; prepare(prepared) }
    }
    // prime the pipeline before any data arrives, as the reference does
    // for the first `preparation_advance` iterations
    prepareThrough(start + advance)
    deliverInOrder(assembleWindows(toMessages(chunks, defs), defs, start), trigger)(
        t => (t.name, t.timestep)) { t =>
      prepareThrough(t.timestep + advance)
      onTimestep(t.name, t.timestep, t.window)
    }
  }
}

/** One raw chunk released by [[Simulation.assembleChunks]] once its
  * timestep completed. */
case class RawChunk(name: String, timestep: Long, nbChunks: Int, pos: Seq[Int], data: Seq[Double])

private case class ChunkAsmState(buffered: Vector[RawChunk], done: Boolean)

/** One chunk of the streaming elementwise window delta:
  * `data = chunk(t) - chunk(t-1)` at this grid position. */
case class DeltaChunk(name: String, timestep: Long, pos: Seq[Int], data: Seq[Double])

private case class WinState(recent: Map[Long, Seq[Double]], maxT: Long)

/** Streaming ELEMENTWISE sliding window (doreisa `window_size=2` where
  * the callback computes `(arr(t) - arr(t-1))` on the arrays themselves,
  * tests/test_sliding_window.py:22-27): state is keyed by (name, pos), so
  * each grid position's payload history lives on one partition and the
  * delta is chunk-local — the stream-time analog of [[graft.arrays.ChunkedArray.zipWith]]
  * on a shifted timeline. State per key is `horizon` payloads.
  */
object WindowedArrays {

  private def byPosition(chunks: DataFrame) = {
    import chunks.sparkSession.implicits._
    chunks.select(col("name"), col("timestep"), col("pos"), col("data"))
      .as[(String, Long, Seq[Int], Seq[Double])]
      .groupByKey { case (name, _, pos, _) => (name, pos) }
  }

  /** Emit `chunk(t) - chunk(t-1)` per grid position as chunks arrive.
    * Out-of-order timesteps resolve in BOTH directions within the
    * retained horizon: a late predecessor triggers its waiting
    * successor's delta. Chunks older than (max seen - horizon) are
    * rejected, so at-least-once replays within the horizon are deduped
    * and older ones cannot re-emit (the same horizon caveat as
    * [[Simulation.assemble]]). Consecutive chunks at one grid position
    * must keep one payload length (contract failure fails the query
    * loudly rather than truncating silently).
    *
    * `idleTtlMs` is the [[KeyedState]] idle TTL, keyed per (name, pos):
    * without it a dead producer pins every grid position's
    * recent-payload map forever. A post-expiry replay is treated as a
    * fresh stream at that position (its first chunk emits no delta). */
  def elementwiseDelta(
      chunks: DataFrame, horizon: Int = 8, idleTtlMs: Long = 0L): Dataset[DeltaChunk] = {
    import chunks.sparkSession.implicits._
    def diff(name: String, t: Long, cur: Seq[Double], prev: Seq[Double], pos: Seq[Int]): DeltaChunk = {
      require(cur.length == prev.length,
        s"chunk $name$pos changed payload length at t=$t: ${prev.length} -> ${cur.length}")
      DeltaChunk(name, t, pos, cur.zip(prev).map { case (x, y) => x - y })
    }
    KeyedState.fold(byPosition(chunks), WinState(Map.empty, Long.MinValue), idleTtlMs) {
      (_: (String, Seq[Int]), it: Iterator[(String, Long, Seq[Int], Seq[Double])], st0: WinState) =>
        var st = st0
        val out = scala.collection.mutable.ArrayBuffer.empty[DeltaChunk]
        // process in timestep order so same-batch predecessors resolve
        it.toSeq.sortBy(_._2).foreach { case (name, t, pos, data) =>
          val tooOld = st.maxT != Long.MinValue && t <= st.maxT - horizon
          if (!tooOld && !st.recent.contains(t)) {
            val keep = math.max(t, st.maxT)
            st = WinState((st.recent + (t -> data))
              .filter { case (t0, _) => t0 >= keep - horizon }, keep)
            st.recent.get(t - 1).foreach(prev => out += diff(name, t, data, prev, pos))
            // late predecessor: emit the successor's waiting delta
            st.recent.get(t + 1).foreach(next => out += diff(name, t + 1, next, data, pos))
          }
        }
        (st, out.iterator)
    }
  }

  /** Emit each chunk with the last `k` payloads at its grid position
    * (oldest -> newest, clipped at `start`) — the chunk-local face of
    * doreisa's `window_size=k` list: a consumer computes `arr(t) -
    * arr(t-j)` or a k-array average per position without any shuffle.
    * Delivery is strictly in timestep order per (name, pos)
    * ([[KeyedState.drain]], as in [[Simulation.assembleWindows]]); an
    * emitted timestep's watermark rejects replays, and a missing timestep
    * stalls that position. State per key is the buffered payloads —
    * O(k + out-of-order advance).
    *
    * `idleTtlMs` is the [[KeyedState]] idle TTL, keyed per (name, pos);
    * the emission watermark expires with the buffered payloads, so a
    * post-expiry replay re-emits from the replayed timestep on. */
  def chunkWindows(
      chunks: DataFrame, k: Int, start: Long = 0L, idleTtlMs: Long = 0L): Dataset[ChunkWindow] = {
    import chunks.sparkSession.implicits._
    require(k >= 1, "window size must be >= 1")
    KeyedState.fold(byPosition(chunks), ChunkWinState(Map.empty, start), idleTtlMs) {
      (key: (String, Seq[Int]), it: Iterator[(String, Long, Seq[Int], Seq[Double])], st0: ChunkWinState) =>
        var buffered = st0.buffered
        it.foreach { case (_, t, _, data) =>
          if (t >= st0.nextEmit && !buffered.contains(t)) buffered += t -> data
        }
        val (left, nextEmit, wins) = KeyedState.drain(buffered, st0.nextEmit, k, start)
        (ChunkWinState(left, nextEmit),
          wins.iterator.map { case (t, w) => ChunkWindow(key._1, t, key._2, w) })
    }
  }
}

/** One chunk with the trailing `k` payloads at its grid position
  * (oldest -> newest; `window.last` is timestep `timestep`'s payload). */
case class ChunkWindow(name: String, timestep: Long, pos: Seq[Int], window: Seq[Seq[Double]])

private case class ChunkWinState(buffered: Map[Long, Seq[Double]], nextEmit: Long)

/** SURVEY §2.C streaming variants: event-time pipelines with watermarks
  * (readStream -> transform -> writeStream). */
object EventPipelines {

  /** Tumbling 1-hour event-time aggregation with a late-data watermark. */
  def hourly(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))

  /** Gap-based sessionization via Spark's native session window — the
    * streaming twin of Relational.evSessionize. */
  def sessions(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
}
