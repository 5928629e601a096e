package graft.streaming

import java.sql.Timestamp
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoder, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.unsafe.types.UTF8String

/** A key's state value together with the event-time deadline it holds. */
final case class Open[S](value: S, closeAtMs: Long)

/** The one event-time lifecycle of graft's keyed-state operators
  * ([[DedupState]], [[StreamCep]], [[StreamCuration]] and both
  * [[StreamDedup]] operators). Each operator supplies only its per-row
  * fold and, optionally, what to emit when a key closes.
  *
  * Close rule: a key closes `gap` after the newest event time it has
  * seen. After each batch that reaches the key, with `wm` the current
  * watermark:
  *
  *  - `candidate` = `max(maxTs + gap, wm + 1)` when the batch carries a
  *    non-null `ts` (`maxTs` is the newest of them), otherwise
  *    `wm + max(gap, 1 ms)`, so a key whose rows all lack event time
  *    still closes instead of holding state forever;
  *  - `deadline` = `max(previous deadline, candidate)`: a batch never
  *    pulls a live key's deadline earlier, whether its rows are out of
  *    order or lack `ts`, so a key cannot close (and forget what it has
  *    seen) before `gap` has passed since its newest event.
  *
  * The `wm + 1` clamp exists because one micro-batch can span far more
  * event time than `gap` (a backfill over years of history): an old
  * key's natural close time may already be behind the watermark, which
  * Spark rejects as a timeout; `wm + 1` closes it at the next batch,
  * which is the same outcome. Spark does not hand the previous timeout
  * back to the state function, so the deadline is stored in the state
  * value ([[Open]]); changing it changes the state schema.
  */
object EventTimeClose {

  /** Milliseconds of a day/time interval string such as "30 minutes".
    * Month-bearing intervals have no fixed length (their months would
    * silently count as 0 ms) and are rejected.
    */
  def gapMs(gap: String): Long = {
    val iv = IntervalUtils.stringToInterval(UTF8String.fromString(gap))
    require(iv.months == 0, s"gap must be day/time-based, got month-bearing interval '$gap'")
    iv.days * 86400000L + iv.microseconds / 1000L
  }

  /** The close rule above as a pure function (all values in epoch ms). */
  def deadline(previous: Option[Long], maxTs: Option[Long], wm: Long, gapMs: Long): Long = {
    val candidate = maxTs match {
      case Some(t) => math.max(t + gapMs, wm + 1)
      case None => wm + math.max(gapMs, 1L)
    }
    previous.fold(candidate)(math.max(_, candidate))
  }

  /** `flatMapGroupsWithState` in append mode with event-time timeouts
    * under the close rule. `step` folds one batch of a key's rows into its
    * state (`init` for a new key) and must consume `rows` before it
    * returns; `ts` reads a row's event time. A key that times out runs
    * `onClose` on its last state and is then removed.
    */
  def flatMapGroups[K, V, S: TypeTag, U: Encoder](grouped: KeyValueGroupedDataset[K, V],
      gap: String, ts: V => Timestamp, init: S,
      onClose: (K, S) => Iterator[U] = (_: K, _: S) => Iterator.empty)(
      step: (K, S, Iterator[V]) => (S, Iterator[U])): Dataset[U] = {
    val gapMillis = gapMs(gap)
    grouped.flatMapGroupsWithState[Open[S], U](
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (key: K, rows: Iterator[V], state: GroupState[Open[S]]) =>
        if (state.hasTimedOut) {
          val last = state.get.value
          state.remove()
          onClose(key, last)
        } else {
          val previous = state.getOption
          var maxTs = Long.MinValue
          val tracked = rows.map { r =>
            val t = ts(r)
            if (t != null) maxTs = math.max(maxTs, t.getTime)
            r
          }
          val (next, out) = step(key, previous.fold(init)(_.value), tracked)
          val closeAt = deadline(previous.map(_.closeAtMs),
            Some(maxTs).filter(_ != Long.MinValue), state.getCurrentWatermarkMs(), gapMillis)
          state.update(Open(next, closeAt))
          state.setTimeoutTimestamp(closeAt)
          out
        }
    }(Encoders.product[Open[S]], implicitly[Encoder[U]])
  }
}
