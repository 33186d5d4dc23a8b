package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** S17 — streaming heavy hitters: "which users dominate the event stream
  * RIGHT NOW", answered from bounded state. Exact per-key counting keys
  * the state store by user — O(#keys) state, unbounded on an open
  * key domain (the thing a 100 TB stream cannot afford). SpaceSaving
  * (Metwally et al. 2005) keeps a fixed `capacity` of counters per state
  * shard: a new key evicts the current minimum and inherits its count as
  * its error bound. Guarantees (per shard, N = events seen):
  *   - est ≥ true ≥ est − err for every tracked key;
  *   - any key with true count > N/capacity is tracked (no false
  *     negatives above the threshold);
  *   - Σ est = N (counts are conserved).
  * Sharding by key hash keeps each group's arrival order deterministic
  * under replay (within a shard, batches fold in event_id order — the
  * repo's streaming convention), and a top-k over the union of shard
  * summaries serves the dashboard.
  */
object HeavyHitters {

  case class Ev(event_id: Long, user_id: Long)
  case class Counter(key: Long, est: Long, err: Long)
  case class ShardSummary(shard: Int, key: Long, est: Long, err: Long)
  case class ShardState(counters: Map[Long, (Long, Long)])

  /** Reference SpaceSaving fold — also the per-batch state transition.
    * Deterministic: the evicted minimum tie-breaks on (est, err, key). */
  private[graft] def spaceSavingFold(keys: Seq[Long], capacity: Int,
      init: Map[Long, (Long, Long)] = Map.empty): Map[Long, (Long, Long)] = {
    var m = init
    keys.foreach { k =>
      m.get(k) match {
        case Some((est, err)) => m = m.updated(k, (est + 1L, err))
        case None if m.size < capacity => m = m.updated(k, (1L, 0L))
        case None =>
          val (mk, (mv, me)) = m.minBy { case (k2, (v, e)) => (v, e, k2) }
          m = (m - mk).updated(k, (mv + 1L, mv))
      }
    }
    m
  }

  private def update(capacity: Int)(shard: Int, evs: Iterator[Ev],
      state: GroupState[ShardState]): Iterator[ShardSummary] = {
    val arrivals = evs.toSeq.sortBy(_.event_id).map(_.user_id)
    val m = spaceSavingFold(arrivals, capacity,
      state.getOption.map(_.counters).getOrElse(Map.empty))
    state.update(ShardState(m))
    // emit the full (bounded: capacity rows) summary each batch — the
    // latest emission per shard is the current answer
    m.toSeq.sortBy { case (k, _) => k }
      .map { case (k, (est, err)) => ShardSummary(shard, k, est, err) }
      .iterator
  }

  /** Streaming form: per-shard SpaceSaving summaries, re-emitted each
    * batch the shard sees data. */
  def apply(events: Dataset[Ev], nShards: Int = 4, capacity: Int = 16): Dataset[ShardSummary] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (math.floorMod(e.user_id, nShards.toLong)).toInt)
      .flatMapGroupsWithState[ShardState, ShardSummary](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(update(capacity))
  }
}
