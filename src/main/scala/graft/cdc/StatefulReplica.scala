package graft.cdc

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-key replica state for the state-store path. `row` is None only
  * transiently (a key that dies within a batch removes its state
  * entirely rather than parking a tombstone). */
final case class ReplicaState(row: Option[PersonRow])

/** One emitted state transition: the key's new live image, or a
  * tombstone (`live = false`) when the key ends the batch deleted. */
final case class ReplicaUpdate(id: Int, live: Boolean,
    row: Option[PersonRow])

/** The state-store alternative to [[Replicate]]'s bucketed-parquet
  * merge (SURVEY.md §2.9 T7's second option): keyed mutable state in
  * Spark's state store via `flatMapGroupsWithState`, exactly the
  * reference's in-database target table re-expressed as managed
  * streaming state.
  *
  * Trade-off vs `foreachBatch` + replica files: state lives in the
  * checkpoint (RocksDB/HDFS-backed at scale), updates are pure
  * per-key compute with no file rewrite — lower latency — but the
  * replica is only queryable through the emitted change stream (or
  * state-store readers), not as a plain table. The engine default
  * stays the parquet replica; this path serves low-latency consumers.
  *
  * Scale: state is partitioned by key hash across executors; a
  * micro-batch shuffles only its own rows. State size = live keys ×
  * row width, independent of stream length.
  */
object StatefulReplica {
  /** changes → stream of per-key state transitions (Update mode).
    * Within a batch, a key's events fold in lsn order with the exact
    * reference semantics ([[Replicate.foldEvent]]). */
  def liveUpdates(changes: Dataset[PersonChange]): Dataset[ReplicaUpdate] = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes.groupByKey(_.id)
      .flatMapGroupsWithState[ReplicaState, ReplicaUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (id, events, state: GroupState[ReplicaState]) =>
          val init = state.getOption.flatMap(_.row)
          val fin = events.toSeq.sortBy(_.lsn).foldLeft(init)(
            Replicate.foldEvent)
          // dead keys remove their state outright — a retained
          // tombstone buys nothing on this order-dependent path (U on
          // absent is a no-op, I re-creates) and would grow state with
          // every key ever seen instead of the live set
          if (fin.isDefined) state.update(ReplicaState(fin))
          else if (state.exists) state.remove()
          Iterator(ReplicaUpdate(id, fin.isDefined, fin))
      }
  }
}
