package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The in-situ loop's keyed state: the one spelling of the idle TTL and
  * of the window drain for [[Simulation]], [[WindowedArrays]] and
  * [[HaloStencil]], whose state machines supply only a per-key step.
  *
  * Idle-TTL contract (`idleTtlMs`): at 0 a key's state lives until its
  * step drops it. Above 0 a processing-time timeout expires the key's
  * WHOLE state (stuck partials, done markers, buffered completions and
  * the emission watermark alike) that long after its last input; the
  * expiring call emits nothing. Without a TTL a dead producer pins its
  * keys forever, the streaming face of the memory-release contract
  * (doreisa tests/test_memory_release.py). Choose the TTL longer than
  * both the producers' stall ceiling and the source's replay horizon: a
  * replay after expiry meets fresh state and re-emits its timestep.
  * Pair a TTL with an explicit trigger interval: the timeout runs a
  * no-data batch per trigger, so the default ASAP trigger would
  * busy-loop. */
private[streaming] object KeyedState {

  /** `groupByKey(...).flatMapGroupsWithState` in Append mode: `step`
    * folds one micro-batch of a key's input into its state (starting
    * from `empty`) and returns the new state with the rows to emit. */
  def fold[K, V, S: Encoder, U: Encoder](
      grouped: KeyValueGroupedDataset[K, V], empty: S, idleTtlMs: Long)(
      step: (K, Iterator[V], S) => (S, Iterator[U])): Dataset[U] = {
    val timeout =
      if (idleTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    grouped.flatMapGroupsWithState(OutputMode.Append(), timeout)(
      (key: K, it: Iterator[V], state: GroupState[S]) => {
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val (next, out) = step(key, it, state.getOption.getOrElse(empty))
          state.update(next)
          if (idleTtlMs > 0) state.setTimeoutDuration(idleTtlMs)
          out
        }
      })
  }

  /** The doreisa `window_size=k` drain (doreisa/window_api.py:93-97):
    * from the watermark `nextEmit`, emit each consecutive complete
    * timestep t with its values over `[max(t-k+1, start), t]` (oldest ->
    * newest), drop what no later window reads (below `t+2-k`) and move
    * the watermark past t. Returns the pruned map, the new watermark and
    * the `(t, window)` emissions in timestep order. */
  def drain[A](done: Map[Long, A], nextEmit: Long, k: Int, start: Long)
      : (Map[Long, A], Long, Seq[(Long, Seq[A])]) = {
    var left = done
    var t = nextEmit
    val out = Seq.newBuilder[(Long, Seq[A])]
    while (left.contains(t)) {
      out += t -> (math.max(t - k + 1, start) to t).map(left)
      left = left.filter { case (t0, _) => t0 >= t + 2 - k }
      t += 1
    }
    (left, t, out.result())
  }
}
