package graft.cdc

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One generic parsed change — [[MultiTable.parseAll]]'s row shape,
  * typed for the state-store path. `img`/`created_at` are None for
  * deletes (the envelope carries only the identity). */
final case class MtChange(tbl: String, lsn: Long, action: String,
    key: String, img: Option[String],
    created_at: Option[java.sql.Timestamp])

/** Per-(table, key) state: the live image and the FIRST insert's
  * timestamp (preserved across upserts — ON CONFLICT semantics). */
final case class MtRowState(img: String,
    created_at: Option[java.sql.Timestamp])

private[cdc] final case class MtReplicaState(row: Option[MtRowState])

/** One emitted transition: the (table, key)'s new live image, or a
  * tombstone (`live = false`). */
final case class MtUpdate(tbl: String, key: String, live: Boolean,
    img: Option[String], created_at: Option[java.sql.Timestamp])

/** The state-store cell of the multi-table matrix —
  * [[StatefulReplica]]'s flatMapGroupsWithState fold over the generic
  * (table, key) keyed change shape, so {single, multi} × {rename,
  * manifest, state-store, JDBC} is complete with no exceptions. The
  * fold IS the reference replay per key: I upserts (first insert's
  * created_at preserved), U updates only a live key, D tombstones.
  * State partitions by (table, key) hash — tables share executors
  * instead of each owning a skew-prone partition range, and state size
  * stays live-keys × row width, independent of stream length. */
object StatefulMultiTable {
  /** parsed generic changes → stream of per-(table, key) state
    * transitions (Update mode). Within a batch a key's events fold in
    * lsn order. */
  def liveUpdates(parsed: DataFrame): Dataset[MtUpdate] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    parsed.as[MtChange].groupByKey(c => (c.tbl, c.key))
      .flatMapGroupsWithState[MtReplicaState, MtUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case ((tbl, key), events, state: GroupState[MtReplicaState]) =>
          val init = state.getOption.flatMap(_.row)
          val fin = events.toSeq.sortBy(_.lsn).foldLeft(init) { (cur, e) =>
            e.action match {
              case "I" => Some(MtRowState(e.img.getOrElse(""),
                cur.flatMap(_.created_at).orElse(e.created_at)))
              case "U" => cur.map(_.copy(img = e.img.getOrElse("")))
              case _ => None // "D"
            }
          }
          // dead keys REMOVE their state rather than parking a
          // tombstone (under NoTimeout a tombstone would grow state with
          // every key ever seen). Removal is semantics-preserving:
          // this path is order-dependent by contract, a later U on
          // absent state is already a no-op, and a later I re-creates
          // the key — so state size really is live keys × row width.
          if (fin.isDefined) state.update(MtReplicaState(fin))
          else if (state.exists) state.remove()
          Iterator(MtUpdate(tbl, key, fin.isDefined, fin.map(_.img),
            fin.flatMap(_.created_at)))
      }
  }
}
