package graft.ml

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{MapType, StringType}

import graft.cdc.{ChangeGen, ChangeSource, Ivm, MtDelta, MultiTable}

/** CDC-MAINTAINED dataset export — the PUBLISH step of the pipeline
  * riding the same change feed as the three maintained indexes
  * ([[AnnIndex]], [[TextIndex]], [[DedupIndex]]): the exported shard
  * files and their integrity manifest ([[TextAnalysis.exportManifest]]'s
  * shape) stay warm under continuous document
  * inserts/updates/deletes, so a 100 TB re-publish is change-volume
  * work instead of a full re-export.
  *
  * The decisive property: a doc's shard is
  * `hash60("shard:" + doc_id) % NumShards` — a function of the KEY
  * alone — so BOTH the departing and arriving shard of any change are
  * known from the delta without reading the export (the L104 no-probe
  * property, here for free since old and new shard coincide). Per
  * epoch:
  *
  *  - `shards/` (doc_id, text, n_chars, shard), `partitionBy(shard)`:
  *    the touched shard partitions advance by keyed set algebra —
  *    (current minus changed docs) ∪ +new images — exactly
  *    [[DedupIndex.applyEpoch]]'s rewrite, hence replay-idempotent.
  *  - `manifest/` (one row per shard, `partitionBy(shard)`): the
  *    touched shards' rows RE-DERIVE from the rewritten partitions
  *    only (a partition-pruned aggregate — the promise in
  *    [[TextAnalysis.exportManifest]]'s Scaladoc made real); untouched
  *    shards' rows are untouched files. `n_docs`/`n_chars`/`checksum`
  *    are additive, so they ALSO advance by signed delta — the
  *    mergeable-manifest identity the spec pins against the re-derived
  *    row — but `id_lo`/`id_hi` cannot retract under deletes, which is
  *    why the shipped path re-aggregates the touched shard instead of
  *    folding deltas.
  *
  * Scale: per-epoch work is change-volume + touched-shards sized;
  * reads are partition-pruned to the touched shards; writes are
  * dynamic partition overwrites of exactly those shards. A consumer
  * verifies a downloaded shard against its manifest row without
  * contacting the producer; after any epoch the maintained manifest
  * equals the one a full re-export would write (the declared row's
  * oracle theorem).
  */
object ShardExport {
  import MlFunctions.{hash60, hash60Seeded}
  import TextAnalysis.{ChkMod, NumShards}

  /** Same change-stream contract as the other maintained artifacts. */
  val DocSpec = TextIndex.DocSpec

  /** Shuffle width for change-volume-sized maintenance exchanges
    * ([[TextIndex.MicroShuffle]]'s rationale). */
  val MicroShuffle = 8

  /** A doc's one-and-only shard ([[TextAnalysis.shardAssign]]'s key). */
  def shardOf(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    hash60Seeded(lit("shard"), docId) % NumShards

  // shard carried as int so in-memory rows and the partition column
  // read back from parquet (always int-inferred) union without a cast
  private def withShard(rows: DataFrame): DataFrame =
    rows.select(col("doc_id"), col("text"),
      length(col("text")).cast("long").as("n_chars"),
      shardOf(col("doc_id")).cast("int").as("shard"))

  /** THE manifest aggregate — one row per shard over
    * (shard, doc_id, n_chars, h) rows. Shared by the static
    * [[TextAnalysis.exportManifest]] row and the maintained export, so
    * the "maintained == re-exported" theorem can't be broken by the
    * two aggregates drifting apart. */
  def manifestAggOver(rows: DataFrame): DataFrame =
    rows
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        min(col("doc_id")).as("id_lo"),
        max(col("doc_id")).as("id_hi"),
        sum(col("h")).as("checksum"))

  /** [[manifestAggOver]] with the hash derived from the carried text
    * (the maintained path, where n_chars = length(text) by the change
    * contract). */
  private def manifestAgg(rows: DataFrame): DataFrame =
    manifestAggOver(rows.select(col("shard"), col("doc_id"),
      col("n_chars"), (hash60(col("text")) % ChkMod).as("h")))

  /** Full export: shard files + manifest, partition-per-shard. The
    * rebuild the incremental path is proven equal to. */
  def buildExport(docs: DataFrame, shardsPath: String,
      manifestPath: String): Unit = {
    val rows = withShard(docs.select("doc_id", "text"))
      .localCheckpoint(true)
    rows.repartition(col("shard"))
      .write.mode(SaveMode.Overwrite).partitionBy("shard")
      .parquet(shardsPath)
    manifestAgg(rows).repartition(MicroShuffle, col("shard"))
      .write.mode(SaveMode.Overwrite).partitionBy("shard")
      .parquet(manifestPath)
    graft.streaming.StreamHygiene.releaseBlocks(rows)
  }

  /** Apply ONE micro-batch of full-image retraction deltas to the
    * maintained export: the changed docs' shards (key-derived, both
    * signs) name the touched partitions; those shard files advance by
    * keyed set algebra and their manifest rows re-derive from the
    * rewritten partitions only. An emptied shard loses both its files
    * and its manifest row. Returns the touched shards; |returned| ==
    * |rewritten partitions| per artifact is the spec pin. */
  def applyEpoch(spark: SparkSession, batch: Dataset[MtDelta],
      shardsPath: String, manifestPath: String): Seq[Int] = {
    val df = batch.toDF()
    val textCol = element_at(
      from_json(col("img"), MapType(StringType, StringType)), "text")
    val rows = df.filter(col("tbl") === DocSpec.table)
      .select(col("key").cast("long").as("doc_id"), col("sign"),
        textCol.as("text"))
      .localCheckpoint(true)
    val changed = rows.select("doc_id").distinct()
    // ONE aggregate witnesses the touched shards AND delete presence
    // (r17 optimization round, guide §1.2 — the AnnIndex combined-
    // aggregate shape): the former repartition+distinct+collect spent
    // an exchange and a job on ≤ NumShards ints
    val agg = rows.agg(
      collect_set(shardOf(col("doc_id")).cast("int")).as("shards"),
      max(when(col("sign") === -1, 1).otherwise(0)).as("neg")).head()
    val touched = agg.getSeq[Int](0).sorted
    val hasNeg = !agg.isNullAt(1) && agg.getInt(1) == 1
    if (touched.isEmpty) {
      graft.streaming.StreamHygiene.releaseBlocks(rows)
      return touched
    }
    val plus = withShard(rows.filter(col("sign") === 1).drop("sign"))
    // hasPartitions, not root-exists: an all-shards-emptied export
    // must read as absent (ADVICE r14 #2)
    val hasExport = IndexFs.hasPartitions(spark, shardsPath, "shard")
    val current =
      if (hasExport) spark.read.parquet(shardsPath)
        .filter(col("shard").isin(touched: _*))
      else plus.limit(0)
    // materialize BEFORE the write (the overwrite must not scan the
    // partitions it replaces)
    val next = current
      .join(broadcast(changed), Seq("doc_id"), "left_anti")
      .unionByName(plus)
      .localCheckpoint(true)
    next.repartition(MicroShuffle, col("shard"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard").parquet(shardsPath)
    // the manifest is ≤ NumShards rows — bounded model state. ONE
    // aggregate job collects it; the parquet write streams the
    // collected rows back out as a local relation (zero recompute) and
    // the emptied-shard set falls out of the same rows (r17
    // optimization round: checkpoint + write + re-collect was three
    // jobs over the same ≤ 8-row aggregate)
    val manifest = manifestAgg(next)
    val manRows = manifest.collect()
    spark.createDataFrame(
        java.util.Arrays.asList(manRows: _*), manifest.schema)
      .repartition(MicroShuffle, col("shard"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard").parquet(manifestPath)
    // a shard the batch emptied has no next rows and hence no next
    // manifest row — clear both partitions explicitly (an insert-only
    // epoch cannot empty a shard; `hasNeg` witnesses that from the
    // same aggregate that named the touched shards)
    if (hasNeg) {
      val nonEmpty = manRows.map(_.getInt(0)).toSet
      touched.filterNot(nonEmpty).foreach { s =>
        Seq(s"$shardsPath/shard=$s", s"$manifestPath/shard=$s")
          .foreach(IndexFs.deleteDir(spark, _))
      }
    }
    // epoch-local checkpoints are dead once both writes committed
    graft.streaming.StreamHygiene.releaseBlocks(rows, next)
    touched
  }

  /** The published manifest, as a consumer reads it. */
  def readManifest(spark: SparkSession, manifestPath: String): DataFrame =
    spark.read.parquet(manifestPath)
      .select(col("shard").cast("long").as("shard"), col("n_docs"),
        col("n_chars"), col("id_lo"), col("id_hi"), col("checksum"))
      .orderBy("shard")

  /** The declared row's composition: script N epochs of document
    * changes through the real streaming path ([[TextIndex.epochScript]]
    * — raw ops dumped for the oracle), maintain the export per
    * trigger, then publish the manifest. The oracle re-derives the
    * identical manifest from a FULL RE-EXPORT of the replica fold —
    * maintained == re-exported after N epochs is the row's theorem. */
  def cdcMaintainAndPublish(spark: SparkSession, docs: DataFrame,
      opsDumpPath: String, epochs: Int = 3): DataFrame = {
    val m = cdcMaintain(spark, docs, opsDumpPath, epochs)
    readManifest(spark, m.manifestPath)
  }

  /** Handle to a session's maintained export — the publish phase's
    * whole dependency. */
  final case class MaintainedExport(shardsPath: String,
      manifestPath: String)

  /** The stream-and-maintain pass, memoized per (session, ops path) —
    * see [[Memo]]: one pass per JVM; the change-log and
    * checkpoint temp dirs are removed as soon as the stream finishes,
    * the shards + manifest artifacts live until JVM exit. */
  def cdcMaintain(spark: SparkSession, docs: DataFrame,
      opsDumpPath: String, epochs: Int = 3): MaintainedExport =
    Memo.get("expcdc", (spark, opsDumpPath)) {
      import spark.implicits._
      val snap: Seq[(Long, String)] =
        docs.select("doc_id", "text").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
      val ops = TextIndex.epochScript(snap, epochs)
      ops.map(o => (o.lsn, o.action, o.docId, o.text.orNull))
        .toDF("lsn", "action", "doc_id", "text")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(opsDumpPath)
      val changeDir = Files.createTempDirectory("graft-expcdc-log").toString
      val ckptDir = Files.createTempDirectory("graft-expcdc-ckpt").toString
      val expRoot = Memo.keepUntilExit(
        Files.createTempDirectory("graft-expcdc-out").toString)
      val shardsPath = s"$expRoot/shards"
      val manifestPath = s"$expRoot/manifest"
      try {
        ops.groupBy(_.epoch).toSeq.sortBy(_._1).foreach { case (e, group) =>
          ChangeGen.writeLineBatches(changeDir,
            group.sortBy(_.lsn).map(TextIndex.toLine), batches = 1,
            startIndex = e)
        }
        // maintenance width + AQE off for the whole span
        // (StreamHygiene.withMaintainConf — TextIndex's rationale)
        graft.streaming.StreamHygiene.withMaintainConf(spark,
            MicroShuffle) {
          val q = Ivm.mtDeltas(MultiTable.parseAll(
              ChangeSource.rawLines(spark, changeDir, Some(1)), Seq(DocSpec)))
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckptDir)
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (batch: Dataset[MtDelta], _: Long) =>
              applyEpoch(spark, batch, shardsPath, manifestPath); ()
            }
            .start()
          try q.awaitTermination() finally q.stop()
        }
        MaintainedExport(shardsPath, manifestPath)
      } finally graft.streaming.StreamHygiene.cleanupRun(
        Seq(changeDir, ckptDir), owner = Some(spark))
    }

}
