package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event on the behavioral stream (mirrors the events table columns
  * the transition miner uses). */
case class TransitionEvent(user_id: Long, ts: java.sql.Timestamp,
                           event_id: Long, event_type: String)

/** Keyed state: the latest event seen per user (ts + id for ordering,
  * type for the pair emit). */
case class LastEvent(tsMillis: Long, eventId: Long, eventType: String)

/** An emitted first-order transition. */
case class Transition(user_id: Long, prev: String, cur: String)

/** Streaming twin of GraphPack's q103 transition miner: the batch side is
  * a lag window per user; the streaming side keeps ONE row of state per
  * user (the last event) and emits a (prev, cur) pair per arriving event.
  * Within a micro-batch the group iterator is sorted by (ts, event_id) —
  * the same total order the batch lag uses — so a stream fed in event-time
  * order produces exactly the batch pair multiset (parity proven in
  * StreamingGraphSpec).
  *
  * Scale shape: state is O(users) single rows (RocksDB-backed in
  * production config); the per-batch sort is per
  * (user, micro-batch) slice, never global. Late events older than the
  * stored last event would emit a pair the batch twin orders differently —
  * feed through a watermark + sorted replay for exactly-once order, or
  * accept per-batch order (the reference's serving loop makes the same
  * at-least-once trade, SURVEY §2.9). */
object StreamingTransitions {

  def transitions(events: Dataset[TransitionEvent]): Dataset[Transition] = {
    implicit val outEnc = Encoders.product[Transition]
    implicit val stateEnc = Encoders.product[LastEvent]
    implicit val keyEnc = Encoders.scalaLong
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[TransitionEvent], state: GroupState[LastEvent]) =>
          val sorted = it.toIndexedSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var prev = state.getOption
          val out = Vector.newBuilder[Transition]
          sorted.foreach { e =>
            prev.foreach(p => out += Transition(uid, p.eventType, e.event_type))
            prev = Some(LastEvent(e.ts.getTime, e.event_id, e.event_type))
          }
          prev.foreach(state.update)
          out.result().iterator
      }
  }
}
