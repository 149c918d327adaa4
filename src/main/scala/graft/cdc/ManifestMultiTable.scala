package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Multi-table replication under the OBJECT-STORE commit protocol —
  * [[MultiTable]]'s fan-out stored by [[ManifestReplica]] instead of
  * directory renames, so the matrix {single, multi} × {rename,
  * manifest, state-store, JDBC} shares one summary algebra.
  *
  * Each declared table is its own manifest root at `<root>/<table>/` —
  * per-table commit streams, per-table time travel and gc, no
  * cross-table coupling in the commit path (one log per table, as a
  * table format deploys). Every commit, fold and read goes through
  * [[ManifestReplica]]'s `*With` helpers under [[MultiTable.MtShape]]
  * (generic key + JSON image summaries); this module only routes each
  * table to its root and projects the typed rows
  * ([[MultiTable.projectTyped]]), so every crash-window and concurrency
  * argument in the ManifestReplica header carries over unchanged. */
object ManifestMultiTable {
  import MultiTable.MtShape

  private def tableDir(root: String, spec: TableSpec): String =
    s"$root/${spec.table}"

  /** Bulk-load one table's initial state — a full-replace manifest
    * commit ([[ManifestReplica.snapshot]] over the generic shape). */
  def snapshot(spark: SparkSession, rows: DataFrame, root: String,
      spec: TableSpec,
      numBuckets: Int = MultiTable.DefaultNumBuckets): Unit =
    ManifestReplica.snapshotWith(spark, tableDir(root, spec), numBuckets,
      MultiTable.rowsAsMtSummaries(rows, spec), MtShape)

  /** Apply one micro-batch of PARSED generic changes to every declared
    * table's manifest replica: per table, one O(batch-slice) summary →
    * delta placement → single manifest commit, then an inline fold at
    * the threshold; replayed epochs are no-ops exactly as in
    * [[ManifestReplica.applyBatch]]. Tables absent from the batch are
    * skipped ([[MultiTable.forEachPresent]]) — which matters here: an
    * empty per-trigger commit would burn a manifest version and trim an
    * idle table's time-travel/changes window down to the last few
    * triggers regardless of traffic. */
  def applyBatch(spark: SparkSession, parsed: DataFrame, root: String,
      specs: Seq[TableSpec], batchId: Long,
      numBuckets: Int = MultiTable.DefaultNumBuckets,
      compactEvery: Int = Replicate.DefaultCompactEvery): Unit =
    MultiTable.forEachPresent(parsed, specs) { (spec, slice) =>
      ManifestReplica.applyWith(spark, tableDir(root, spec),
        MultiTable.summarizeMt(slice, numBuckets), MtShape, numBuckets,
        batchId, compactEvery, compactAsync = false)
    }

  /** Incremental fold of one table's pending deltas into new
    * generations of only the buckets they touch —
    * [[ManifestReplica.compact]] over the generic shape. */
  def compact(spark: SparkSession, dir: String,
      numBuckets: Int = MultiTable.DefaultNumBuckets): Unit =
    ManifestReplica.compactWith(spark, dir, numBuckets, MtShape, None)

  /** Merge-on-read typed view of one table through its newest
    * manifest. */
  def readTable(spark: SparkSession, root: String, spec: TableSpec)
      : DataFrame =
    MultiTable.projectTyped(
      ManifestReplica.readWith(spark, tableDir(root, spec), MtShape), spec)

  /** Time travel for one table — [[ManifestReplica.readReplicaAt]]'s
    * contract over the generic shape (per-table manifest roots make
    * retention per-table by construction: a hot table's commits never
    * trim an idle table's window). */
  def readTableAt(spark: SparkSession, root: String, spec: TableSpec,
      version: Long): DataFrame = {
    val dir = tableDir(root, spec)
    MultiTable.projectTyped(ManifestReplica.readAt(spark, dir,
      ManifestReplica.manifestAt(spark, dir, version), MtShape), spec)
  }

  /** Per-table change feed — [[ManifestReplica.changesSince]]'s
    * contract (gap-checked delta range as generic summary rows, one
    * row per key per batch). */
  def changesSince(spark: SparkSession, root: String, spec: TableSpec,
      sinceVersion: Long): DataFrame =
    ManifestReplica.changesSinceWith(spark, tableDir(root, spec),
      sinceVersion, MtShape)

  /** Committed manifest versions of one table (time-travel targets). */
  def versions(spark: SparkSession, root: String, spec: TableSpec)
      : Seq[Long] =
    ManifestReplica.versions(spark, tableDir(root, spec))

  /** Retention-aware reclamation across every declared table — each
    * table's root gets [[ManifestReplica.gc]]'s exact sweep (keep
    * everything any retained version names), independently. */
  def gc(spark: SparkSession, root: String, specs: Seq[TableSpec],
      graceMs: Long = 0L): Unit =
    specs.foreach(sp => ManifestReplica.gc(spark, tableDir(root, sp),
      graceMs))

  /** Drop one table's replica entirely (S9) — the schema-independent
    * [[ManifestReplica.truncate]] on its root. */
  def truncate(spark: SparkSession, root: String, spec: TableSpec): Unit =
    ManifestReplica.truncate(spark, tableDir(root, spec))

  /** Physically remove one table's tombstones —
    * [[ManifestReplica.vacuum]] over the generic shape (the privacy-
    * delete / reclamation pass; same precondition: the source can no
    * longer deliver lsns below the tombstones' delete lsns). Pending
    * deltas fold first; every live bucket is rewritten one generation
    * up with only its alive keys; like the single-table vacuum this
    * deliberately collapses the table's time-travel window before
    * sweeping (it exists to remove bytes). */
  def vacuum(spark: SparkSession, root: String, spec: TableSpec,
      numBuckets: Int = MultiTable.DefaultNumBuckets): Unit =
    ManifestReplica.vacuumWith(spark, tableDir(root, spec), numBuckets,
      MtShape)

  /** The continuous multi-table pipeline on the manifest protocol:
    * one change-log stream → `parser` once per trigger (wal2json
    * [[MultiTable.parseAll]] by default; [[MultiTable.parseAllDebezium]]
    * for a Debezium topic set) → per-table manifest-committed apply. */
  def start(spark: SparkSession, changeDir: String, root: String,
      checkpointDir: String, specs: Seq[TableSpec],
      numBuckets: Int = MultiTable.DefaultNumBuckets,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds"),
      maxFilesPerTrigger: Option[Int] = None,
      compactEvery: Int = Replicate.DefaultCompactEvery,
      parser: (DataFrame, Seq[TableSpec]) => DataFrame =
        MultiTable.parseAll): StreamingQuery =
    ChangeSource.run(ChangeSource.rawLines(spark, changeDir,
        maxFilesPerTrigger), "graft-replicate-multitable-manifest",
        checkpointDir, trigger) { (batch, epochId) =>
      applyBatch(spark, parser(batch, specs), root, specs,
        batchId = epochId, numBuckets = numBuckets,
        compactEvery = compactEvery)
    }
}
