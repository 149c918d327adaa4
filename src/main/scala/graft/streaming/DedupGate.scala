package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ml.{DedupIndex, IndexFs}

/** The INDEXED continuous dedup gate — [[IncrementalDedup]]'s
  * screen-admit-append loop upgraded to the partition-pruned store its
  * own Scaladoc names as the sub-hour-cadence design ("bucket the
  * store by band-key range so the probe prunes partitions"): new docs
  * stream in, each micro-batch screens against the
  * [[graft.ml.DedupIndex]] band/signature layout (reads ≤ the probes'
  * own band buckets + the candidates' signature buckets — per-trigger
  * probe cost independent of how large the accepted corpus has grown),
  * survivors are admitted AND appended to the index, so the next batch
  * dedups against everything accepted so far. The flat-store pipeline
  * scans O(corpus signatures) per trigger; this one reads
  * O(probe-touched partitions) — the difference between a daily and a
  * continuous cadence at 100 TB.
  *
  * ## Exactly-once
  *
  * The [[IncrementalDedup]] discipline, both rules: writes are
  * EPOCH-KEYED — the index layout carries a second partition level
  * (`bucket`/`sbucket`, `batch`), and each epoch
  * dynamic-partition-overwrites exactly its own (bucket, batch=id)
  * dirs, as do the accepted/rejected outputs — and reads are
  * EPOCH-SCOPED — the screen passes `visible = batch < id` into
  * [[graft.ml.DedupIndex.screenIndex]], so a replayed epoch never sees
  * its own pre-crash appends (the self-match-at-1.0 hazard the
  * accepted-epoch replay spec pins). Serving prunes on `bucket` as
  * before; the `batch` level fragments a bucket by write epoch, and
  * the repair is [[compactGate]] — NOT the single-level
  * [[graft.ml.DedupIndex.compactIndex]], which would demote `batch` to
  * a data column and leave the store with conflicting directory
  * structures.
  */
object DedupGate {
  import DedupIndex.MicroShuffle

  /** Same acceptance threshold as the declared dedup-screen rows. */
  val MinEst: Double = DedupIndex.MinEst

  /** Seed the gate's index from the corpus: epoch -1, before every
    * streamed batch. */
  def seedGate(corpus: DataFrame, bandsPath: String,
      sigsPath: String): Unit = {
    val sigs = DedupIndex.sigRowsFor(corpus.select("doc_id", "text"))
      .localCheckpoint(true)
    DedupIndex.bandRowsFor(sigs)
      .withColumn("batch", lit(-1L))
      .repartition(col("bucket"))
      .write.mode(SaveMode.Overwrite).partitionBy("bucket", "batch")
      .parquet(bandsPath)
    sigs.withColumn("sbucket", DedupIndex.sigBucketOf(col("doc_id")))
      .withColumn("batch", lit(-1L))
      .repartition(col("sbucket"))
      .write.mode(SaveMode.Overwrite).partitionBy("sbucket", "batch")
      .parquet(sigsPath)
    StreamHygiene.releaseBlocks(sigs)
  }

  /** Compact one gate sub-artifact's epoch fragmentation — the
    * two-level twin of [[graft.ml.DedupIndex.compactIndex]]: append
    * epochs land one batch subdir per touched bucket, so append-heavy
    * buckets accumulate `batch=` leaves and the pruned screen read
    * amplifies. For buckets holding more than `maxFiles` parquet files
    * across their `batch <= upToBatch` subdirs, the rows consolidate
    * into the bucket's `batch=-1` (seed) partition and the merged
    * epoch subdirs are removed; buckets below the threshold, and every
    * `batch > upToBatch` partition, stay byte-identical. Content is
    * untouched (a pure layout rewrite — spec-pinned).
    *
    * REPLAY-SAFETY PRECONDITION: the stream's checkpoint must have
    * committed past `upToBatch` (run compaction with the gate stopped,
    * like any offline maintenance): a later replay of an epoch
    * ≤ `upToBatch` would dynamic-overwrite its (bucket, batch=id)
    * partitions — now empty — and duplicate the consolidated rows.
    * Epochs the checkpoint may still replay must stay out of the merge
    * range. Returns the compacted bucket ids. */
  def compactGate(spark: SparkSession, path: String, partCol: String,
      upToBatch: Long, maxFiles: Int = 4): Seq[Int] = {
    def mergeable(bucketDir: String): Seq[String] =
      IndexFs.childDirs(spark, bucketDir)
        .filter(d => d.startsWith("batch=") &&
          d.stripPrefix("batch=").toLong <= upToBatch)
    val frag = IndexFs.partitionValues(spark, path, partCol)
      .filter { b =>
        mergeable(s"$path/$partCol=$b")
          .map(d => IndexFs.dataFiles(spark, s"$path/$partCol=$b/$d")
            .count(_.endsWith(".parquet"))).sum > maxFiles
      }
    frag.foreach { b =>
      val rows = spark.read.parquet(path)
        .filter(col(partCol) === b && col("batch") <= upToBatch)
        .drop("batch").localCheckpoint(true)
      // hash-partition on the bucket column like DedupIndex.compactIndex:
      // every row of this pass shares one bucket value, so one task owns
      // the write → one file in batch=-1. Round-robin (no key) spread the
      // rewrite over MicroShuffle=8 tasks → up to 8 files > maxFiles=4,
      // so the bucket was re-flagged and rewritten on every later call
      // (ADVICE r14 #1: compaction that never converges).
      rows.withColumn("batch", lit(-1L))
        .repartition(DedupIndex.MicroShuffle, col(partCol))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol, "batch").parquet(path)
      mergeable(s"$path/$partCol=$b")
        .filter(_ != "batch=-1")
        .foreach(d => IndexFs.deleteDir(spark, s"$path/$partCol=$b/$d"))
      StreamHygiene.releaseBlocks(rows)
    }
    frag
  }

  /** All accepted documents so far (original rows). */
  def accepted(spark: SparkSession, outDir: String): DataFrame =
    spark.read.schema(IncrementalDedup.DocSchema)
      .parquet(s"$outDir/accepted/batch=*")

  /** All rejections so far: (doc_id, matched_id, est_jaccard). */
  def rejected(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/rejected/batch=*")

  /** Screen ONE batch against the index and admit+append survivors —
    * the foreachBatch body, callable directly for batch backfills.
    * Idempotent per `batchId` (see the object doc). */
  def applyBatch(batch: DataFrame, bandsPath: String, sigsPath: String,
      outDir: String, batchId: Long, minEst: Double = MinEst): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    // ONE signing pass serves the whole trigger: screen with the
    // batch's signatures, append the accepted SUBSET of the same frame
    // (the flat pipeline's "reused three times" discipline, kept)
    val pSig = DedupIndex
      .sigRowsFor(batch.select("doc_id", "text")).localCheckpoint(true)
    val matched = DedupIndex.screenSigs(spark, pSig, bandsPath, sigsPath,
        minEst, visible = col("batch") < batchId)
      .localCheckpoint(true) // tiny: ≤ one row per new doc
    val matchedIds = broadcast(matched.select("doc_id"))
    // the surviving-side frames are NOT checkpointed (r17 optimization
    // round, guide §1.2): each is a broadcast anti-join off an already
    // materialized side (`pSig` checkpoint / the trigger's one day
    // file), so re-deriving inside the write job is a map-side pass —
    // cheaper than a materialization job per frame
    val acceptedDocs = batch.join(matchedIds, Seq("doc_id"), "left_anti")
    // index append, epoch-keyed: dynamic overwrite of exactly this
    // epoch's own (bucket, batch=id) partitions — change-volume-sized
    val sigs = pSig.join(matchedIds, Seq("doc_id"), "left_anti")
    DedupIndex.bandRowsFor(sigs)
      .withColumn("batch", lit(batchId))
      .repartition(MicroShuffle, col("bucket"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket", "batch").parquet(bandsPath)
    sigs.withColumn("sbucket", DedupIndex.sigBucketOf(col("doc_id")))
      .withColumn("batch", lit(batchId))
      .repartition(MicroShuffle, col("sbucket"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("sbucket", "batch").parquet(sigsPath)
    acceptedDocs
      .select(IncrementalDedup.DocSchema.fieldNames.map(col).toSeq: _*)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/accepted/batch=$batchId")
    matched.write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/rejected/batch=$batchId")
    // trigger-local checkpoints are dead once the four writes committed
    StreamHygiene.releaseBlocks(pSig, matched)
  }

  /** One single-file "day" of docs with a strictly increasing mtime —
    * harness-side (the file source orders by (mtime, path); equal
    * mtimes can reorder epochs, the r6 CDC find). */
  private def writeDayFile(df: DataFrame, docsDir: String, i: Int): Unit = {
    val stage =
      java.nio.file.Files.createTempDirectory("gate-stage").toString
    df.select(IncrementalDedup.DocSchema.fieldNames.map(col).toSeq: _*)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(docsDir, f"day$i%03d.parquet")
    java.nio.file.Files.move(part.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    require(dst.setLastModified(1700000000000L + i * 60000L))
  }

  /** The declared row's composition (`ml_dedup_gate_index`): seed the
    * gate from the 90% corpus, stream the `ml_dedup_stream` epochs
    * (doc_id % 20 == 0, then % 20 == 10) through the REAL file-stream
    * gate — each wave screens against the pruned index and the
    * accepted docs' signatures append before the next wave — and
    * return one row per screened doc: (doc_id, epoch, accepted,
    * matched_id, est_jaccard). Identical fold semantics to
    * `ml_dedup_stream`, except unscreenable docs (< 3 tokens, no
    * shingles) are ADMITTED here — the gate passes what it cannot
    * screen, where the signature-level row never sees them — so the
    * oracle derives the accepted sets from the raw doc relations.
    * The stream-and-gate pass is memoized ([[gateMaintain]]) and the
    * row reads the gate's outputs — the marginal (serve-side) cost,
    * like every maintained-family row. */
  def gateRunDeclared(spark: SparkSession, docs: DataFrame): DataFrame = {
    val outDir = gateMaintain(spark, docs)
    def rej(e: Int): DataFrame =
      spark.read.parquet(s"$outDir/rejected/batch=${e - 1}")
        .select(col("doc_id"), lit(e).as("epoch"), lit(0).as("accepted"),
          col("matched_id"), col("est_jaccard"))
    def acc(e: Int): DataFrame =
      spark.read.schema(IncrementalDedup.DocSchema)
        .parquet(s"$outDir/accepted/batch=${e - 1}")
        .select(col("doc_id"), lit(e).as("epoch"), lit(1).as("accepted"),
          lit(null).cast("long").as("matched_id"),
          lit(null).cast("double").as("est_jaccard"))
    rej(1).unionByName(acc(1)).unionByName(rej(2)).unionByName(acc(2))
      .orderBy("doc_id")
  }

  /** The gate's stream-and-screen pass, memoized per (session, corpus
    * plan) in [[graft.ml.Memo]]. The fixture stream is deterministic
    * per corpus, so one pass per JVM serves every later invocation;
    * Bench resets the `gatecdc` tag with the rest of the CDC family and
    * repays this pass inside the timed `cdc_maint_shared_pass` line.
    * The gate's index, checkpoint, and day files are removed when the
    * stream finishes; the accepted/rejected OUTPUT dirs (the row's
    * whole read dependency) live until JVM exit. Returns the output
    * root. */
  def gateMaintain(spark: SparkSession, docs: DataFrame): String =
    graft.ml.Memo.get("gatecdc",
        (spark, docs.queryExecution.analyzed.canonicalized)) {
      val newDir =
        java.nio.file.Files.createTempDirectory("gate-days").toString
      val idxRoot =
        java.nio.file.Files.createTempDirectory("gate-idx").toString
      val outDir = graft.ml.Memo.keepUntilExit(
        java.nio.file.Files.createTempDirectory("gate-out").toString)
      val ckpt =
        java.nio.file.Files.createTempDirectory("gate-ckpt").toString
      val (bandsPath, sigsPath) = (s"$idxRoot/bands", s"$idxRoot/sigs")
      try {
        seedGate(docs.filter(col("doc_id") % 10 =!= 0), bandsPath,
          sigsPath)
        writeDayFile(docs.filter(col("doc_id") % 20 === 0), newDir, 1)
        writeDayFile(docs.filter(col("doc_id") % 20 === 10), newDir, 2)
        // maintenance width + AQE off for the whole span
        // (StreamHygiene.withMaintainConf — the screen/append body
        // queries are change-volume-sized like the CDC maintains')
        StreamHygiene.withMaintainConf(spark, MicroShuffle) {
          val q = start(spark, newDir, bandsPath, sigsPath, outDir, ckpt,
            maxFilesPerTrigger = Some(1))
          try q.awaitTermination() finally q.stop()
        }
        outDir
      } finally StreamHygiene.cleanupRun(Seq(newDir, idxRoot, ckpt),
        owner = Some(spark))
    }

  /** Continuous pipeline: stream new-doc parquet files, screen each
    * micro-batch against the index, grow the index. Restart on the
    * same `checkpointDir` resumes exactly. */
  def start(spark: SparkSession, newDocsDir: String, bandsPath: String,
      sigsPath: String, outDir: String, checkpointDir: String,
      minEst: Double = MinEst,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val reader = spark.readStream.schema(IncrementalDedup.DocSchema)
    val withMax = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
    withMax.parquet(newDocsDir)
      .writeStream
      .queryName("graft-dedup-gate")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        applyBatch(b.toDF(), bandsPath, sigsPath, outDir, id, minEst)
      }
      .start()
  }
}
