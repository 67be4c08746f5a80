package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftexpr.StencilExpressions

import graft.arrays.{ArrayGeometry, Halo}

/** One stencil-result chunk emitted once its neighborhood completed. */
case class HaloChunk(name: String, timestep: Long, pos: Seq[Int], data: Seq[Double])

private case class HaloState(strips: Map[String, Seq[Double]], done: Boolean)

/** A completed neighborhood: the position's own payload ("c") and its
  * in-grid neighbors' faces ("l$d"/"h$d"), the batch stencil's message
  * map. */
private case class HaloHood(name: String, timestep: Long, pos: Seq[Int], strips: Map[String, Seq[Double]])

/** Streaming (2N+1)-point Laplacian WITHOUT assembling full timesteps —
  * the incremental form of [[graft.arrays.ChunkedArray.stencilLaplacian]]
  * for streams where chunks trickle in (sparse producers, stragglers).
  *
  * Each arriving chunk is exploded into the batch stencil's own
  * messages ([[graft.arrays.Halo.laplacianMessages]], at most 2N+1 in
  * grid): its full payload to its own grid position plus one boundary
  * FACE to each in-grid neighbor (O(surface) bytes per neighbor, the
  * halo-exchange contract). State is keyed by (name, timestep,
  * position); a position fires as soon as its own payload and every
  * expected neighbor face have arrived — a chunk whose neighborhood is
  * complete emits its stencil immediately, even while the rest of the
  * timestep is still in flight. Compare [[Simulation.runArrayOp]] +
  * batch stencil, which waits for ALL chunks of a timestep before any
  * output.
  *
  * A completed neighborhood goes through the batch stencil's own native
  * Laplacian kernel, so each streamed chunk is bit-equal to the batch
  * chunk at that position.
  *
  * Contract: the array is dense (every in-grid position's chunk arrives
  * eventually — the same density [[graft.operators.ArrayQueries]]
  * guarantees by zero-filling); global-boundary halos are zero.
  * Duplicate messages from at-least-once replays are deduped by kind,
  * and a completed position ignores further input. State per key is the
  * buffered strips, freed on emission; the done marker remains, with no
  * [[KeyedState]] idle TTL (the spec suite drives finite streams).
  */
object HaloStencil {

  /** `2N*v[x] - Σ_d (v[x-e_d] + v[x+e_d])` per chunk, incrementally. */
  def stencilChunks(chunks: DataFrame, geom: ArrayGeometry): Dataset[HaloChunk] = {
    import chunks.sparkSession.implicits._
    val n = geom.dims
    val elems = geom.chunkElems
    val chunksPerDim = geom.chunksPerDim
    // self + one message per in-grid neighbor of p
    def expectedMsgs(p: Seq[Int]): Int =
      1 + (0 until n).map(d =>
        (if (p(d) > 0) 1 else 0) + (if (p(d) < chunksPerDim(d) - 1) 1 else 0)).sum

    val valid = chunks.select(col("name"), col("timestep"), col("pos"), col("data"))
      .as[(String, Long, Seq[Int], Seq[Double])]
      .map { case c @ (name, t, pos, data) =>
        require(data.length == elems,
          s"chunk $name$pos at t=$t has ${data.length} elements, geometry wants $elems")
        c
      }.toDF("name", "timestep", "pos", "data")
    val neighborhoods = Halo.messages(valid, Seq("name", "timestep"),
        Halo.laplacianMessages(geom.chunkShape), chunksPerDim)
      .as[(String, Long, Seq[Int], String, Seq[Double])]
      .groupByKey { case (name, t, pos, _, _) => (name, t, pos) }
    KeyedState.fold(neighborhoods, HaloState(Map.empty, done = false), idleTtlMs = 0L) {
      (key: (String, Long, Seq[Int]), it: Iterator[(String, Long, Seq[Int], String, Seq[Double])],
       st0: HaloState) =>
        val (name, t, pos) = key
        var st = st0
        val out = scala.collection.mutable.ArrayBuffer.empty[HaloHood]
        it.foreach { case (_, _, _, kind, strip) =>
          if (!st.done && !st.strips.contains(kind)) {
            val strips = st.strips + (kind -> strip)
            st = if (strips.size >= expectedMsgs(pos)) {
              out += HaloHood(name, t, pos, strips)
              HaloState(Map.empty, done = true) // strips freed
            } else st.copy(strips = strips)
          }
        }
        (st, out.iterator)
    }.select(col("name"), col("timestep"), col("pos"),
      StencilExpressions.stencilLaplacian(col("strips"), col("pos"), geom.chunkShape, chunksPerDim)
        .as("data"))
      .as[HaloChunk]
  }
}
