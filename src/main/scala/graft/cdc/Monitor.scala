package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** The pubsub monitor loop re-expressed (pubsub/main.go:128-209): source
  * count vs target count vs source-rows-passing-filter count and an
  * in-sync verdict.
  *
  * This is the reference's own correctness oracle (`✓ In sync` when
  * target == σ_filter(source), pubsub/main.go:184-198) — reused verbatim
  * by our test suite (SURVEY.md §5).
  */
object Monitor {
  final case class SyncStatus(
      sourceCount: Long, // pubsub/main.go:159
      targetCount: Long, // pubsub/main.go:165
      sourceFilteredCount: Long, // pubsub/main.go:186
      inSync: Boolean) {
    def verdict: String = if (inSync) "✓ In sync" else "⟳ Syncing"
  }

  /** Compare a source state against the replica under a publication
    * filter. All three counts are cheap count aggregates — at scale each
    * is a metadata-only parquet row-count unless a filter applies. */
  def status(source: Dataset[PersonRow], target: Dataset[PersonRow],
      rowFilter: Option[Column]): SyncStatus = {
    val filtered = rowFilter.map(source.filter).getOrElse(source)
    val sc = source.count()
    val tc = target.count()
    val fc = filtered.count()
    SyncStatus(sc, tc, fc, inSync = tc == fc) // pubsub/main.go:192-198
  }

  /** `pg_subscription` projection analog (P2, pubsub/main.go:135-140:
    * `SELECT subenabled FROM pg_subscription WHERE subname = $1`): the
    * session's active streaming queries as (sub_name, sub_id, enabled).
    * Queryable like any DataFrame — `.filter(col("sub_name") === n)`
    * is the reference's WHERE clause. */
  def subscriptions(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.streams.active.toSeq
      .map(q => (Option(q.name).getOrElse(""), q.id.toString, q.isActive))
      .toDF("sub_name", "sub_id", "enabled")
  }

  /** Catalog projection analog (P2): the session catalog's tables with
    * the columns the reference projects from its control views
    * (README.md:168-178 `pg_publication` etc.). `listTables` already IS
    * a Dataset — this narrows it to the projection shape. */
  def catalogTables(spark: SparkSession): DataFrame =
    spark.catalog.listTables()
      .select(col("name"), col("tableType"), col("isTemporary"))
}
