package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftexpr.StencilExpressions

import graft.arrays.ArrayGeometry

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
  * Each arriving chunk is exploded into at most 2N+1 messages: its full
  * payload to its own grid position plus one boundary FACE to each
  * in-grid neighbor (O(surface) bytes per neighbor, the halo-exchange
  * contract). State is keyed by (name, timestep, position); a position
  * fires as soon as its own payload and every expected neighbor face
  * have arrived — a chunk whose neighborhood is complete emits its
  * stencil immediately, even while the rest of the timestep is still in
  * flight. Compare [[Simulation.runArrayOp]] + batch stencil, which
  * waits for ALL chunks of a timestep before any output.
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
    val shape = geom.chunkShape
    val strides = shape.scanRight(1)(_ * _).tail
    val elems = geom.chunkElems
    val chunksPerDim = geom.chunksPerDim

    // dims remaining when dim d is fixed, with their row-major strides
    // inside the extracted face slab (mirrors the batch operator)
    def remWithSlabStrides(d: Int): Seq[(Int, Int)] = {
      val rem = shape.indices.filterNot(_ == d)
      rem.zip(rem.map(shape).scanRight(1)(_ * _).tail)
    }
    def face(data: Seq[Double], d: Int, fixed: Int): Seq[Double] = {
      val rem = remWithSlabStrides(d)
      (0 until elems / shape(d)).map { s =>
        val flat = rem.foldLeft(fixed * strides(d)) { case (acc, (j, ss)) =>
          acc + ((s / ss) % shape(j)) * strides(j)
        }
        data(flat)
      }
    }
    def inGrid(p: Seq[Int]): Boolean =
      p.indices.forall(d => p(d) >= 0 && p(d) < chunksPerDim(d))
    // self + one message per in-grid neighbor of p
    def expectedMsgs(p: Seq[Int]): Int =
      1 + (0 until n).map(d =>
        (if (p(d) > 0) 1 else 0) + (if (p(d) < chunksPerDim(d) - 1) 1 else 0)).sum

    val neighborhoods = chunks.select(col("name"), col("timestep"), col("pos"), col("data"))
      .as[(String, Long, Seq[Int], Seq[Double])]
      .flatMap { case (name, t, pos, data) =>
        require(data.length == elems,
          s"chunk $name$pos at t=$t has ${data.length} elements, geometry wants $elems")
        val self = (name, t, pos, "c", data)
        val halos = (0 until n).flatMap { d =>
          def shifted(o: Int) = pos.updated(d, pos(d) + o)
          // receiver's low-side halo is MY high face, and vice versa
          Seq((shifted(+1), s"l$d", face(data, d, shape(d) - 1)),
            (shifted(-1), s"h$d", face(data, d, 0)))
            .collect { case (p, kind, strip) if inGrid(p) => (name, t, p, kind, strip) }
        }
        self +: halos
      }
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
      StencilExpressions.stencilLaplacian(col("strips"), col("pos"), shape, chunksPerDim).as("data"))
      .as[HaloChunk]
  }
}
