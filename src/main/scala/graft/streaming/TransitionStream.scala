package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming form of [[graft.ops.Analytics.eventTransitions]]: the
  * per-user LAST event is carried as `flatMapGroupsWithState` state, so
  * the pair that straddles a micro-batch boundary (last event of batch
  * n, first of batch n+1) is emitted exactly once — the case a naive
  * per-batch `lead()` silently drops. Downstream
  * `groupBy(from_type, to_type).count()` (or
  * [[SketchIngest.ingestCountBatch]] with that fold, for an at-rest
  * continuously-maintained matrix) reproduces the batch operator's
  * counts.
  *
  * Ordering: within a batch, a user's events are sorted by
  * (ts, event_id) before the fold — the batch operator's exact
  * ordering; across batches the engine's standard per-key
  * ordered-delivery contract (ST2) applies. State per user is one
  * (ts, event_id, event_type) triple — bounded by distinct users, not
  * event volume (add an upstream TTL if the key space is unbounded).
  */
object TransitionStream {

  final case class UserEvent(user_id: Long, ts: Timestamp, event_id: Long, event_type: String)
  final case class Transition(user_id: Long, from_type: String, to_type: String)
  final case class LastEvent(ts: Timestamp, event_id: Long, event_type: String)

  private def micros(t: Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

  /** Fold one user's (ts, id)-sorted batch slice against the carried
    * last event. Shared by the stream and the spec's cross-check.
    */
  def fold(
      user: Long,
      prev: Option[LastEvent],
      sorted: Seq[UserEvent]
  ): (Option[LastEvent], Seq[Transition]) = {
    var last = prev
    val out = Seq.newBuilder[Transition]
    sorted.foreach { e =>
      last.foreach(l => out += Transition(user, l.event_type, e.event_type))
      last = Some(LastEvent(e.ts, e.event_id, e.event_type))
    }
    (last, out.result())
  }

  /** The streaming operator: one row per consecutive (from, to) pair
    * as it becomes known.
    */
  def transitionStream(events: Dataset[UserEvent]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvent, Transition](
        OutputMode.Append,
        GroupStateTimeout.NoTimeout
      ) { (user, it, state: GroupState[LastEvent]) =>
        val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_id))
        val (last, out) = fold(user, state.getOption, sorted)
        last.foreach(state.update)
        out.iterator
      }
  }
}
