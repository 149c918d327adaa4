package graft.ml

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, MapType, StringType, StructField, StructType}

import graft.cdc.{ChangeGen, ChangeSource, Ivm, MtDelta, MultiTable, TableSpec}

/** CDC-MAINTAINED inverted text index — the lexical-retrieval twin of
  * [[AnnIndex]] (the L104 shape applied to BM25 serving): document
  * inserts/updates/deletes flow through the SAME replica stream
  * machinery every CDC table uses ([[graft.cdc.ChangeSource]] slot
  * scan → [[graft.cdc.MultiTable.parseAll]] envelope decode →
  * [[graft.cdc.Ivm.mtDeltas]] full-image retraction deltas), changed
  * docs re-tokenize, and each epoch rewrites ONLY the term-hash bucket
  * partitions its changes touch. Because the -old/+new retraction
  * images carry the full text on BOTH sides, a changed doc's departing
  * postings are derivable from the delta alone — no index lookup finds
  * where its old terms lived, the same no-probe property that makes
  * [[AnnIndex.applyEpoch]] change-volume-sized.
  *
  * Layout: postings live `partitionBy(bucket)` where
  * `bucket = pmod(hash(term), NumBuckets)` — a term's ENTIRE posting
  * list lives in exactly one partition, so (a) serving a bounded query
  * prunes the read to ≤ |query terms| partitions and (b) df(term) is
  * exact from the probed rows alone, no corpus-wide aggregate at serve
  * time. `dlen` is denormalized onto every posting row: it only
  * changes when its doc changes, and a changed doc rewrites all its
  * postings anyway, so the denormalization can never go stale.
  *
  * Corpus-level BM25 scalars (N docs, T total tokens) are maintained
  * as a per-epoch SIGNED DELTA log partitioned by epoch — each batch
  * dynamic-partition-overwrites its own epoch partition, so replay
  * after a checkpoint restart rewrites exactly its own files (the same
  * idempotence-by-keyed-write contract as the postings), and serving
  * folds the tiny log (one row per epoch) by addition. A mutable
  * single-row stats file would double-count under replay; the
  * epoch-keyed log cannot.
  *
  * Epoch apply is REPLAY-IDEMPOTENT by construction: a touched
  * bucket's next content is (current content minus the changed docs'
  * postings) ∪ (the +new images' postings) — keyed set algebra over
  * (doc_id within bucket), so re-applying a batch recomputes identical
  * partitions (spec-pinned, TextIndexSpec).
  *
  * Scale: the delta side is change-volume-sized (a changed doc's
  * postings ≈ its distinct terms); the state side reads are
  * PARTITION-PRUNED to the touched buckets; the write is a dynamic
  * partition overwrite of exactly those buckets; serving reads
  * ≤ |query terms| partitions + the epoch-row stats log — search cost
  * is independent of how much of the corpus is cold. At 100 TB the
  * bucket count scales with vocabulary mass: hot buckets split via
  * [[splitBucket]] (extendible hashing — the split rewrites ONLY the
  * hot bucket, and every bucket derivation thereafter runs through the
  * persisted genealogy, [[splitBucketOf]]); the maintenance algebra is
  * unchanged.
  */
object TextIndex {
  import TextAnalysis.{Bm25K, Bm25Query, Bm25Scale}

  /** The document table's change-stream contract: key `doc_id`, image
    * column `text` (space-separated tokens — [[MlFunctions.tokens]]'
    * contract, and the fixture's). */
  val DocSpec: TableSpec = TableSpec("document", "doc_id", None,
    StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType))))

  /** Term-hash partition count. Fixture-sized here; at scale this is
    * the layout's fan-out knob (more buckets = finer pruning, smaller
    * rewrite units — and per-epoch commit cost grows with the touched
    * dir count, so the knob trades serve-side pruning against
    * maintenance overhead). */
  val NumBuckets = 16

  /** Shuffle width for change-volume-sized maintenance work: a
    * micro-batch's postings are change-sized, not corpus-sized, so its
    * exchanges must not inherit the corpus-sized session width — 32
    * near-empty reducers per tiny distinct/repartition is pure task
    * overhead (measured ~0.3 s per job at harness scale). Every
    * maintenance exchange below is pinned to this width explicitly. */
  val MicroShuffle = 8

  /** Fresh-key namespace for the synthetic epoch script's inserts. */
  val InsertIdBase = 2000000L

  /** A term's one-and-only partition (unsplit layout). */
  def bucketOf(term: Column): Column =
    pmod(hash(term), lit(NumBuckets))

  // ---- hot-bucket split (extendible hashing) ------------------------------

  /** One hot-bucket split record: `parent` was split while living at
    * local modulus `mod`, its rows re-hashed at 2·`mod` — each lands
    * back in `parent` or moves to `child = parent + mod`. The ordered
    * split list IS the layout's directory (extendible hashing with
    * per-bucket local depth — Fagin et al., TODS '79): bucket ids are
    * `pmod(hash(term), localMod)` values, so fresh child ids can never
    * collide with live ones, and ONLY the split bucket's partitions
    * rewrite — the rest of the index is untouched by a split
    * (the [[AnnIndex.splitCell]] discipline applied to a hash layout,
    * VERDICT r14 #4). */
  final case class HashSplit(parent: Int, child: Int, mod: Int)

  /** Hard bound on the residue-table size, i.e. on the genealogy's
    * max local modulus (VERDICT r15 flag #2): the descent table is
    * `mMax` ints serialized as a `typedLit` into EVERY task binary at
    * every derivation site, so it must stay bounded model state. At
    * 32768 entries the literal is 128 KiB — harmless — and reaching it
    * from base 16 takes ELEVEN doublings of one bucket (2048× the
    * bucket's starting key share), far past any sane layout (re-key
    * with a larger [[NumBuckets]] long before that). The bound FAILS
    * LOUDLY like the schema-evolution contract: [[splitBucket]]
    * refuses to create the over-deep split, [[splitIfHot]]'s policy
    * skips at-bound buckets (an automated loop must degrade, not
    * crash the stream), and [[splitLookup]] re-checks on the serve
    * path so a genealogy written by a foreign maintainer cannot smuggle
    * an unbounded literal into the plan. */
  val MaxDescentEntries: Int = 1 << 15

  /** True iff bucket `b` may split again under [[MaxDescentEntries]]
    * (its doubled local modulus still tabulates within the bound). */
  def canSplit(splits: Seq[HashSplit], b: Int,
      base: Int = NumBuckets): Boolean =
    2 * localModOf(splits, b, base) <= MaxDescentEntries

  /** A term's partition under the split genealogy. The genealogy
    * lesson from the ANN layout applies verbatim: EVERY bucket
    * derivation — serve-side probes, an epoch's departing -old
    * postings, its arriving +new postings — must run through this
    * map; deriving any of them with the base [[bucketOf]] would name
    * partitions that no longer hold (or no longer receive) the term.
    *
    * The descent itself is METADATA, so it is precomputed driver-side
    * into a residue table and the column is ONE hash + one pmod + one
    * array lookup, constant-size regardless of genealogy depth: every
    * modulus in the genealogy is `NumBuckets·2^k` and divides the max
    * modulus `M`, so `pmod(hash, m) = pmod(hash, M) % m` — the final
    * bucket is a pure function of `pmod(hash, M)`, tabulated once
    * (`M` entries, bounded model state). The first cut emitted the
    * descent as a nested when-chain instead; at ~10 splits Catalyst's
    * optimizer (NestedColumnAliasing semanticEquals over the repeated
    * hash subtrees) went quadratic and a single epoch's plan took
    * minutes — the table form is also the faster PLAN, not just the
    * faster expression. */
  def splitBucketOf(term: Column, splits: Seq[HashSplit]): Column =
    splitLookup(hash(term), splits, NumBuckets)

  /** The residue table itself — bucket-of-residue for every residue
    * mod the genealogy's max modulus. Pure (driver-side model state);
    * its equivalence to the naive per-hash descent is
    * property-pinned (SplitDescentSpec). */
  private[graft] def descentTable(splits: Seq[HashSplit],
      base: Int): IndexedSeq[Int] = {
    val mMax = (base +: splits.map(s => 2 * s.mod)).max
    (0 until mMax).map { r =>
      var b = r % base
      splits.foreach(s => if (b == s.parent) b = r % (2 * s.mod))
      b
    }
  }

  /** The shared residue-table descent: tabulate bucket-of-residue for
    * every residue mod the genealogy's max modulus, then index it.
    * `private[graft]` so SplitDescentSpec can pin the depth guard. */
  private[graft] def splitLookup(h: Column, splits: Seq[HashSplit],
      base: Int): Column =
    if (splits.isEmpty) pmod(h, lit(base))
    else {
      val table = descentTable(splits, base)
      require(table.size <= MaxDescentEntries,
        s"split genealogy too deep: residue table would need " +
          s"${table.size} entries (bound $MaxDescentEntries) — the " +
          "descent literal rides every task binary; re-key the layout " +
          "with a larger bucket count instead of splitting further")
      element_at(typedLit(table), pmod(h, lit(table.size)) + 1)
    }

  /** The local modulus bucket `b` currently lives at: `base`
    * (this layout's [[NumBuckets]]; [[DedupIndex]] passes its own),
    * doubled each time `b` was a split's parent or child. */
  def localModOf(splits: Seq[HashSplit], b: Int,
      base: Int = NumBuckets): Int =
    splits.foldLeft(Map.empty[Int, Int].withDefaultValue(base)) {
      (m, s) => m.updated(s.parent, 2 * s.mod).updated(s.child, 2 * s.mod)
    }(b)

  /** Split ONE hot bucket: read exactly its partition, re-hash its
    * rows at the doubled local modulus, dynamic-overwrite the two
    * result partitions (a degenerate side that gets no rows keeps no
    * dir). Every other partition stays byte-identical — the rewrite
    * unit is the split bucket, never the index (spec-pinned). Returns
    * the extended split list; the caller persists it next to the index
    * ([[saveSplits]]) exactly like the ANN quantizer's genealogy. */
  def splitBucket(spark: SparkSession, indexPath: String, b: Int,
      splits: Seq[HashSplit]): Seq[HashSplit] = {
    require(canSplit(splits, b),
      s"bucket $b is at the genealogy depth bound (local mod " +
        s"${localModOf(splits, b)}, table cap $MaxDescentEntries): " +
        "re-key the layout with a larger bucket count")
    val m = localModOf(splits, b)
    val s = HashSplit(b, b + m, m)
    val rows = indexScan(spark, indexPath, Seq(b))
      .withColumn("bucket", pmod(hash(col("term")), lit(2 * m)))
      // materialize BEFORE the write: the overwrite must not scan the
      // very partition it is replacing
      .localCheckpoint(true)
    rows.repartition(MicroShuffle, col("bucket"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(indexPath)
    val nonEmpty = rows.select("bucket")
      .repartition(MicroShuffle, col("bucket")).distinct().collect()
      .map(_.getInt(0)).toSet
    Seq(s.parent, s.child).filterNot(nonEmpty).foreach(c =>
      IndexFs.deleteDir(spark, s"$indexPath/bucket=$c"))
    graft.streaming.StreamHygiene.releaseBlocks(rows)
    splits :+ s
  }

  /** Size-triggered split policy — the re-balance composed WITH
    * maintenance (the [[AnnIndex.splitCell]]-in-the-loop story applied
    * to the hash layout): after an epoch lands, split any TOUCHED
    * bucket whose row count exceeds `maxRows`, extending the genealogy
    * the NEXT epoch and every serve derive through. Touched-only by
    * design — the check reads only the epoch's own buckets
    * (partition-pruned), so the policy adds change-volume-sized work,
    * never an index scan; an epoch that touches nothing checks
    * nothing. One split per hot bucket per call: a child still above
    * the threshold is caught the next time an epoch touches it, so
    * repeated epochs converge without a rebalance storm (at most one
    * doubling per bucket per epoch).
    *
    * SPLITTABILITY GUARD: a bucket is split only if its hottest single
    * term's posting list is itself under the threshold. A term's whole
    * posting list lives in one bucket BY DESIGN (that is what makes
    * df(term) exact from the probed rows), so no number of hash splits
    * can ever get a one-hot-term bucket under `maxRows` — an unguarded
    * policy cascades splits forever against it (found the hard way:
    * the unguarded loop grew an unbounded genealogy in the spec).
    * Such a bucket is a DIFFERENT problem with a different tool —
    * sub-blocking the posting list (the [[Dedup]] hot-bucket
    * sub-blocking lesson), or in BM25 terms: a term whose df is a
    * large fraction of the corpus scores near zero idf and belongs on
    * a stopword path, not in a bigger bucket. Callers persist the
    * returned genealogy ([[saveSplits]]) with the same cadence as the
    * index writes.
    *
    * REPLAY-SAFETY PRECONDITION (the [[graft.streaming.DedupGate]]
    * compaction doctrine): THIS entry — the [[saveSplits]]-directory
    * form — runs OUTSIDE the stream's checkpoint window, between runs
    * or after the epoch's commit is durable: a split is a layout move
    * the genealogy file and the partition dirs must agree on, and a
    * stream replay that re-applies an epoch with a genealogy from the
    * other side of an in-flight split derives the -old departing
    * buckets against the wrong layout and strands rows. The IN-STREAM
    * form exists since r16: [[applyEpochRebalanced]] runs this same
    * selection inside the trigger against the epoch-keyed genealogy
    * LOG ([[saveSplitLogEpoch]]), write-ahead-ordered and healed on
    * replay — use it when re-balance must not stop the stream; keep
    * this offline entry for operator-initiated maintenance. */
  def splitIfHot(spark: SparkSession, indexPath: String,
      touched: Seq[Int], splits: Seq[HashSplit],
      maxRows: Long): Seq[HashSplit] = {
    if (touched.isEmpty) return splits
    // hasPartitions, not assumed-present (ADVICE r15 #1): an epoch
    // that retracts every touched partition's rows deletes the emptied
    // dirs but keeps the root and still reports non-empty `touched` —
    // an unguarded read then hits parquet schema inference on a
    // partition-less root and throws (the applyEpoch guard's exact
    // failure mode, on the policy's own read)
    if (!IndexFs.hasPartitions(spark, indexPath, "bucket")) return splits
    // one pruned pass over the touched buckets: total mass + the
    // hottest single term's mass (the splittability witness)
    val hot = indexScan(spark, indexPath, touched)
      .groupBy("bucket", "term").count()
      .groupBy("bucket")
      .agg(sum("count").as("n"), max("count").as("hottest"))
      .filter(col("n") > maxRows && col("hottest") <= maxRows)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
      .sortBy { case (b, n) => (-n, b) }.map(_._1)
    // depth bound: the automated policy SKIPS an at-bound bucket (a
    // maintenance loop must degrade, not crash the stream); only the
    // operator-invoked splitBucket throws
    hot.foldLeft(splits)((s, b) =>
      if (canSplit(s, b)) splitBucket(spark, indexPath, b, s) else s)
  }

  /** SUB-BLOCK one guarded-hot bucket's posting list — the repair for
    * the bucket the splittability guard refuses (VERDICT r15 next #3,
    * composing L66's blocked-postings idea into the maintained index).
    * A one-hot-term bucket co-locates its term's whole posting list BY
    * DESIGN (that is what makes df exact from the probed rows), so no
    * hash split can shrink it; what CAN be bounded is the file — the
    * unit a scan parallelizes over. The rewrite re-lands the bucket's
    * rows as ⌈n/blockRows⌉ files of at most `blockRows` rows each
    * (`maxRecordsPerFile` — the writer rolls files at the bound; one
    * writing task, so the block boundaries are deterministic given the
    * checkpointed row order). Serving needs NO code change: the
    * pruned scan reads the same partition, now splittable across
    * tasks file-by-file (size `spark.sql.files.maxPartitionBytes` to
    * ≈ one block at deployment scale so the file really is the task
    * unit); df counts the same rows; the groupBy folds across blocks
    * like any files. Content is untouched (pure layout — spec-pinned);
    * every other partition stays byte-identical. An epoch that later
    * touches the bucket rewrites it one-file again and the policy
    * re-blocks it — change-volume-sized churn, the same trade as
    * compaction. Returns the file count written. */
  def subBlockBucket(spark: SparkSession, indexPath: String, b: Int,
      blockRows: Long): Int = {
    val rows = indexScan(spark, indexPath, Seq(b))
      .orderBy("doc_id", "term") // deterministic block boundaries
      // materialize BEFORE the write: the overwrite must not scan the
      // very partition it is replacing
      .localCheckpoint(true)
    rows.coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", blockRows)
      .partitionBy("bucket").parquet(indexPath)
    graft.streaming.StreamHygiene.releaseBlocks(rows)
    IndexFs.dataFileCount(spark, s"$indexPath/bucket=$b")
  }

  /** [[splitIfHot]] with the sub-blocking repair wired in: buckets the
    * splittability guard refuses (hottest single term above the
    * threshold) are [[subBlockBucket]]ed at `blockRows` instead of
    * skipped — already-blocked buckets (file count at or above the
    * needed block count) are left alone, so repeated calls converge.
    * Returns the (possibly extended) genealogy; blocking never touches
    * it (a file-level move needs no bucket derivation change). */
  def splitOrBlockIfHot(spark: SparkSession, indexPath: String,
      touched: Seq[Int], splits: Seq[HashSplit], maxRows: Long,
      blockRows: Long): Seq[HashSplit] = {
    if (touched.isEmpty) return splits
    if (!IndexFs.hasPartitions(spark, indexPath, "bucket")) return splits
    val stats = indexScan(spark, indexPath, touched)
      .groupBy("bucket", "term").count()
      .groupBy("bucket")
      .agg(sum("count").as("n"), max("count").as("hottest"))
      .filter(col("n") > maxRows)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy { case (b, n, _) => (-n, b) }
    val out = stats.filter(_._3 <= maxRows).map(_._1)
      .foldLeft(splits)((s, b) =>
        if (canSplit(s, b)) splitBucket(spark, indexPath, b, s) else s)
    stats.filter(_._3 > maxRows).foreach { case (b, n, _) =>
      val needed = ((n + blockRows - 1) / blockRows).toInt
      if (needed > 1 &&
          IndexFs.dataFileCount(spark, s"$indexPath/bucket=$b") < needed)
        subBlockBucket(spark, indexPath, b, blockRows)
    }
    out
  }

  /** Persist the split genealogy — bounded model state (one row per
    * split), the layout's directory a restarted maintainer/server
    * reloads. */
  def saveSplits(spark: SparkSession, path: String,
      splits: Seq[HashSplit]): Unit = {
    import spark.implicits._
    splits.zipWithIndex
      .map { case (s, i) => (i, s.parent, s.child, s.mod) }
      .toDF("ord", "parent", "child", "mod").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Reload a [[saveSplits]] dump, in split order. */
  def loadSplits(spark: SparkSession, path: String): Seq[HashSplit] =
    spark.read.parquet(path).collect()
      .map(r => (r.getInt(0), HashSplit(r.getInt(1), r.getInt(2),
        r.getInt(3))))
      .sortBy(_._1).map(_._2).toSeq

  // ---- epoch-keyed genealogy log (in-stream re-balance) -------------------

  /** Write one epoch's genealogy entries to the epoch-keyed split LOG
    * (VERDICT r15 next #1 — the "not built" admission this round
    * builds). [[saveSplits]] is a mutable whole-file overwrite, which
    * is why the r15 split policy carried an offline-only
    * REPLAY-SAFETY PRECONDITION: a stream replay could see a genealogy
    * from the other side of an in-flight split. This log applies the
    * BM25 stats-log doctrine to the genealogy itself: each epoch's
    * split entries live in their own `epoch=` partition, written with
    * a dynamic partition overwrite — so a replayed epoch rewrites
    * exactly its own entries (idempotent), and the genealogy a replay
    * derives against is exactly the prefix the epochs before it
    * committed. Entries carry (ord within epoch); the full genealogy
    * is the log in (epoch, ord) order. Empty `entries` writes nothing
    * (the epoch partition, if a crashed attempt created one, is
    * preserved — the caller always passes its cumulative entry list,
    * never a shrinking one). */
  def saveSplitLogEpoch(spark: SparkSession, path: String, epoch: Long,
      entries: Seq[HashSplit]): Unit = {
    import spark.implicits._
    if (entries.isEmpty) return
    entries.zipWithIndex
      .map { case (s, i) => (i, s.parent, s.child, s.mod, epoch) }
      .toDF("ord", "parent", "child", "mod", "epoch").coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("epoch").parquet(path)
  }

  /** Reload the genealogy log in commit order: (epoch asc, ord asc).
    * Absent/empty log reads as the empty genealogy. */
  def loadSplitLog(spark: SparkSession, path: String)
      : Seq[(Long, HashSplit)] =
    if (!IndexFs.hasPartitions(spark, path, "epoch")) Seq.empty
    else spark.read.parquet(path)
      .select(col("epoch").cast("long"), col("ord"), col("parent"),
        col("child"), col("mod"))
      .collect()
      .map(r => ((r.getLong(0), r.getInt(1)),
        HashSplit(r.getInt(2), r.getInt(3), r.getInt(4))))
      .sortBy(_._1).map { case ((e, _), s) => (e, s) }.toSeq

  /** HEAL one logged split's physical move — the recovery half of the
    * write-ahead protocol, generic over the hash layouts (`rehash` is
    * the layout's key hash at the DOUBLED modulus: `hash(term)` here,
    * `hash(band, bk)` for [[DedupIndex]]). Reads BOTH of the split's
    * partitions (whatever state the crash left them in), re-hashes
    * every row at 2·mod, and dynamic-overwrites the two results —
    * idempotent by construction: if the pre-crash move completed this
    * rewrites identical content; if it never started this IS the move;
    * a side the rehash empties is cleared. Atomicity unit is the job
    * commit, the same assumption every dynamic-partition-overwrite in
    * the maintenance family already makes. */
  private[ml] def healSplitOn(spark: SparkSession, path: String,
      s: HashSplit, rehash: Column): Unit = {
    if (!IndexFs.hasPartitions(spark, path, "bucket")) return
    val rows = spark.read.parquet(path)
      .filter(col("bucket").isin(s.parent, s.child))
      .withColumn("bucket", rehash)
      // materialize BEFORE the write: the overwrite must not scan the
      // very partitions it is replacing
      .localCheckpoint(true)
    val nonEmpty = rows.select("bucket")
      .repartition(MicroShuffle, col("bucket")).distinct().collect()
      .map(_.getInt(0)).toSet
    if (nonEmpty.nonEmpty)
      rows.repartition(MicroShuffle, col("bucket"))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(path)
    Seq(s.parent, s.child).filterNot(nonEmpty).foreach(b =>
      IndexFs.deleteDir(spark, s"$path/bucket=$b"))
    graft.streaming.StreamHygiene.releaseBlocks(rows)
  }

  /** Apply ONE micro-batch WITH the in-stream re-balance protocol —
    * the composition that lifts [[splitIfHot]]'s offline-only
    * precondition. Per epoch `batchId`:
    *
    *  1. `prefix` = the log's entries from epochs < `batchId` — the
    *     genealogy this epoch's world starts from; `mine` = entries a
    *     CRASHED attempt of this very epoch already logged (empty on a
    *     first run).
    *  2. HEAL `mine` ([[healSplitOn]]): the write-ahead order below
    *     means a logged entry's physical move may not have happened —
    *     complete it (no-op if it did).
    *  3. [[applyEpoch]] deriving through `prefix ++ mine` — layout and
    *     genealogy now agree, so the keyed set algebra is the usual
    *     replay-idempotent apply.
    *  4. The split policy ([[splitIfHot]]'s selection verbatim), but
    *     each selected bucket's entry is LOGGED to this epoch's
    *     partition BEFORE its physical move (write-ahead). A crash
    *     between the two leaves a logged-unmoved split — exactly what
    *     step 2 heals on replay. The reverse order would be
    *     unrecoverable: a moved-unlogged split leaves the bucket cold
    *     (the policy never re-picks it) with its rows stranded in a
    *     child no genealogy names.
    *
    * Every crash point between job commits therefore replays to the
    * same final (index, log) state — spec-pinned on both hash layouts.
    * Serving during an IN-FLIGHT epoch remains epoch-aligned (read the
    * log, serve between commits — the same visibility contract as the
    * index partitions themselves); the offline [[splitIfHot]] stays
    * for operator-initiated maintenance. Returns the genealogy after
    * this epoch. */
  def applyEpochRebalanced(spark: SparkSession, batch: Dataset[MtDelta],
      indexPath: String, statsPath: String, batchId: Long,
      logPath: String, maxRows: Long): Seq[HashSplit] =
    applyEpochRebalancedLogged(spark, batch, indexPath, statsPath,
      batchId, logPath, maxRows, logHint = None).map(_._2)

  /** [[applyEpochRebalanced]] with the maintainer's in-JVM genealogy
    * cache ([[AnnIndex.applyEpochRebalancedLogged]]'s contract on the
    * hash layout): `logHint` is the log content this process wrote for
    * epoch `batchId − 1` — accepted only for the next consecutive
    * epoch; a replayed/out-of-order epoch passes None and reads the
    * log, so the crash protocol is unchanged. Returns the (epoch,
    * split) log content after this epoch. */
  private[ml] def applyEpochRebalancedLogged(spark: SparkSession,
      batch: Dataset[MtDelta], indexPath: String, statsPath: String,
      batchId: Long, logPath: String, maxRows: Long,
      logHint: Option[Seq[(Long, HashSplit)]]): Seq[(Long, HashSplit)] = {
    val log = logHint.getOrElse(loadSplitLog(spark, logPath))
    require(log.forall(_._1 <= batchId),
      s"genealogy log at $logPath carries entries from epochs past " +
        s"$batchId — the log belongs to a different (further-ahead) " +
        "maintainer; refusing to derive against a future layout")
    val prefix = log.filter(_._1 < batchId).map(_._2)
    val mine = log.filter(_._1 == batchId).map(_._2)
    mine.foreach(s => healSplitOn(spark, indexPath, s,
      pmod(hash(col("term")), lit(2 * s.mod))))
    val gen0 = prefix ++ mine
    val (touched, stats) = applyEpochStats(spark, batch, indexPath,
      statsPath, batchId, splits = gen0)
    val pairs0 = log.filter(_._1 < batchId) ++ mine.map(batchId -> _)
    if (touched.isEmpty ||
        !IndexFs.hasPartitions(spark, indexPath, "bucket")) return pairs0
    // buckets this epoch's CRASHED attempt already split are frozen
    // until the next epoch: a first run computes its hot list once
    // (pre-split counts) and doubles each pick at most once, so a
    // replay — whose hot list sees the healed (post-split) state —
    // must not re-pick a healed parent or its child, or the replayed
    // epoch doubles a bucket twice and its log trace diverges from the
    // crash-free run's (caught by the WAL crash-window spec)
    val frozen = mine.flatMap(s => Seq(s.parent, s.child)).toSet
    // hot list from the epoch's own post-write stats (the rewritten
    // partitions' content IS the `next` frame applyEpochStats
    // aggregated) — same sizes the former post-write index scan read,
    // without the scan job
    val hot = stats
      .filter { case (_, n, hottest) => n > maxRows && hottest <= maxRows }
      .sortBy { case (b, n, _) => (-n, b) }.map(_._1)
      .filterNot(frozen)
    // Entries first, ONE WAL write, then the moves (r17 optimization
    // round, guide §1.2 — the former per-split rewrite of the same
    // epoch partition paid one Spark write job per split): hot buckets
    // are DISTINCT and a hash split touches only its own (parent,
    // child), so every entry is derivable before any move and each
    // split's log-then-move ordering — the crash protocol — is
    // unchanged (a crash mid-move leaves logged-unmoved splits,
    // exactly what replay heals).
    var gen = gen0
    var entries = Seq.empty[HashSplit]
    hot.foreach { b =>
      if (canSplit(gen, b)) {
        val m = localModOf(gen, b)
        val s = HashSplit(b, b + m, m)
        entries = entries :+ s
        gen = gen :+ s
      }
    }
    if (entries.nonEmpty)
      saveSplitLogEpoch(spark, logPath, batchId, mine ++ entries)
    entries.foldLeft(gen0)((s, e) =>
      splitBucket(spark, indexPath, e.parent, s))
    val genFinal = gen
    log.filter(_._1 < batchId) ++
      genFinal.drop(prefix.size).map(batchId -> _)
  }

  // ---- tokenize / encode ------------------------------------------------

  /** Postings for (doc_id, text) rows: (doc_id, term, tf, dlen,
    * bucket). Computed PER ROW (distinct-terms × scan over the token
    * array) — zero shuffle, the whole encode is one codegen'd
    * projection + explode; for very long documents the alternative
    * explode + groupBy form trades one keyed exchange for linear
    * per-row work (the cutover a production build would make
    * per-partition, not per-job). Extra columns named in `keep` are
    * carried through (the signed-delta path keeps `sign`); `splits`
    * routes the bucket assignment through the hot-bucket genealogy
    * ([[splitBucketOf]] — MUST be the maintainer's live split list
    * once any bucket has split). */
  def postingsFor(rows: DataFrame, keep: Seq[String] = Nil,
      splits: Seq[HashSplit] = Nil): DataFrame = {
    val tk = MlFunctions.tokens(col("text"))
    // native TermCounts generator (r17 optimization round): the former
    // per-row `transform(array_distinct(tk), t => size(filter(tk, _ ===
    // t)))` composition was O(distinct·n) interpreted HOF work per doc;
    // the generator is one native sort + run-count (O(n log n)).
    // Values identical; emission order is by term instead of first
    // occurrence — every consumer aggregates, joins, or orders
    // explicitly, so row order is not semantic.
    rows
      .select(col("doc_id") +: tk.as("tk") +: keep.map(col): _*)
      .select(col("doc_id") +: size(col("tk")).cast("long").as("dlen") +:
        graft.functions.VectorFunctions.termCounts(col("tk"))
          .as(Seq("term", "tf")) +: keep.map(col): _*)
      .select(col("doc_id") +: col("term") +: col("tf") +: col("dlen") +:
        splitBucketOf(col("term"), splits).as("bucket") +:
        keep.map(col): _*)
  }

  /** Full build: tokenize every doc, one partition per term bucket.
    * The rebuild the incremental path is proven equal to. */
  def buildIndex(docs: DataFrame, indexPath: String): Unit =
    postingsFor(docs.select("doc_id", "text"))
      .repartition(col("bucket"))
      .write.mode(SaveMode.Overwrite).partitionBy("bucket")
      .parquet(indexPath)

  /** Corpus scalars for a static corpus — (epoch 0, N, T) as the stats
    * log's first row. */
  def buildStats(docs: DataFrame, statsPath: String): Unit =
    docs.select(size(MlFunctions.tokens(col("text"))).cast("long")
        .as("nt"))
      .agg(count(lit(1)).as("dn"), sum(col("nt")).as("dt"))
      .withColumn("epoch", lit(0L))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).partitionBy("epoch")
      .parquet(statsPath)

  /** Partition-pruned postings read of the given buckets. */
  def indexScan(spark: SparkSession, indexPath: String,
      buckets: Seq[Int]): DataFrame =
    spark.read.parquet(indexPath)
      .filter(col("bucket").isin(buckets: _*))

  /** Insert-only fast path (the [[AnnIndex.appendToIndex]] parallel):
    * tokenize NEW docs and APPEND their postings to the touched
    * buckets — files land only under those buckets' dirs, no existing
    * file is rewritten (spec-pinned), and the batch's (ΔN, ΔT) lands
    * as its own stats-log epoch partition. Correct ONLY for docs not
    * already indexed (an update/delete needs [[applyEpoch]]'s
    * retraction algebra). `splits` = the live genealogy — append is a
    * bucket derivation like any other and MUST descend it (the soak
    * spec caught the base-hash variant stranding appended postings in
    * a split bucket's former home). Returns the touched buckets. */
  def appendToIndex(docs: DataFrame, indexPath: String,
      statsPath: String, epoch: Long,
      splits: Seq[HashSplit] = Nil): Seq[Int] = {
    val posts = postingsFor(docs.select("doc_id", "text"),
        splits = splits)
      .localCheckpoint(true)
    val buckets = posts.select("bucket")
      .repartition(MicroShuffle, col("bucket")).distinct().collect()
      .map(_.getInt(0)).toSeq.sorted
    docs.select(size(MlFunctions.tokens(col("text"))).cast("long")
        .as("nt"))
      .agg(count(lit(1)).as("dn"),
        coalesce(sum(col("nt")), lit(0L)).as("dt"))
      .withColumn("epoch", lit(epoch))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("epoch").parquet(statsPath)
    posts.repartition(MicroShuffle, col("bucket"))
      .write.mode(SaveMode.Append).partitionBy("bucket")
      .parquet(indexPath)
    graft.streaming.StreamHygiene.releaseBlocks(posts)
    buckets
  }

  /** Compact fragmented buckets ([[AnnIndex.compactIndex]]'s parallel):
    * append waves land one file per touched bucket, so append-heavy
    * buckets accumulate small files and the pruned serve read
    * amplifies. Rewrites ONLY buckets holding more than `maxFiles`
    * files back to their one-file form; every other partition stays
    * byte-identical and the postings CONTENT is untouched (a pure
    * layout rewrite — spec-pinned). Returns the compacted buckets. */
  def compactIndex(spark: SparkSession, indexPath: String,
      maxFiles: Int = 4): Seq[Int] = {
    val frag = IndexFs.partitionValues(spark, indexPath, "bucket")
      .filter(b =>
        IndexFs.dataFileCount(spark, s"$indexPath/bucket=$b") > maxFiles)
    if (frag.nonEmpty) {
      val rows = indexScan(spark, indexPath, frag).localCheckpoint(true)
      rows.repartition(MicroShuffle, col("bucket"))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(indexPath)
      graft.streaming.StreamHygiene.releaseBlocks(rows)
    }
    frag
  }

  // ---- incremental maintenance -------------------------------------------

  /** Apply ONE micro-batch of full-image retraction deltas
    * ([[graft.cdc.Ivm.mtDeltas]]' rows for [[DocSpec]]) to the
    * maintained postings + stats log. Touched buckets = buckets of the
    * -old images' terms ∪ the +new images' terms — both derivable from
    * the deltas alone; the rewrite reads ONLY those buckets, drops the
    * changed docs' postings, adds the +new postings, and
    * dynamic-partition-overwrites exactly those buckets (a bucket the
    * batch empties is cleared explicitly). The batch's (ΔN, ΔT) lands
    * as the stats log's `epoch=batchId` partition — replay overwrites
    * it in place. Returns the touched buckets; |returned| ==
    * |rewritten partitions| is the spec pin.
    *
    * `splits`: the live hot-bucket genealogy. BOTH sides of the delta
    * derive their buckets through it — the -old image's departing
    * postings and the +new image's arriving ones — so a post-split
    * epoch retracts from and lands in the partitions the terms
    * actually live in (deriving either side with the base hash would
    * leave stale rows in the split bucket's former home — the exact
    * failure the ANN genealogy spec caught, AnnIndexSpec:228). */
  def applyEpoch(spark: SparkSession, batch: Dataset[MtDelta],
      indexPath: String, statsPath: String, batchId: Long,
      splits: Seq[HashSplit] = Nil): Seq[Int] =
    applyEpochStats(spark, batch, indexPath, statsPath, batchId,
      splits, needCounts = false)._1

  /** [[applyEpoch]] that ALSO returns per-bucket (rows, hottest-term
    * df) of the touched buckets' post-write content — the rewritten
    * partitions' content is exactly the `next` frame this method just
    * materialized, so the stats come from the same one aggregate job
    * that finds emptied buckets; [[applyEpochRebalanced]]'s hot-bucket
    * policy reads them instead of re-scanning the index it just wrote
    * (r16 optimization round, guide §1.2 — one index-scan job per
    * epoch removed; the maintain pass's cost is job count, not data). */
  private[graft] def applyEpochStats(spark: SparkSession,
      batch: Dataset[MtDelta], indexPath: String, statsPath: String,
      batchId: Long, splits: Seq[HashSplit] = Nil,
      needCounts: Boolean = true)
      : (Seq[Int], Seq[(Int, Long, Long)]) = {
    import spark.implicits._
    val df = batch.toDF()
    val textCol = element_at(
      from_json(col("img"), MapType(StringType, StringType)), "text")
    // change-volume-sized: one row per (doc, sign), full text image.
    // Checkpointed ONCE: inside foreachBatch every action re-executes
    // the trigger's stateful plan (state-store reads included), so the
    // batch must be materialized before the multi-action apply.
    val rows = df.filter(col("tbl") === DocSpec.table)
      .select(col("key").cast("long").as("doc_id"), col("sign"),
        textCol.as("text"))
      .localCheckpoint(true)
    // per-epoch signed stats delta, collected as ONE bounded row so the
    // same job also witnesses delete presence (r17 optimization round,
    // guide §1.2): an insert-only epoch cannot empty a bucket, so the
    // post-write stats job is skippable when the caller needs no sizes
    val st = rows.select(col("sign").cast("long").as("s"),
        (col("sign") * size(MlFunctions.tokens(col("text")))).cast("long")
          .as("st"))
      .agg(coalesce(sum(col("s")), lit(0L)).as("dn"),
        coalesce(sum(col("st")), lit(0L)).as("dt"),
        max(when(col("s") === -1L, 1).otherwise(0)).as("neg")).head()
    val hasNeg = !st.isNullAt(2) && st.getInt(2) == 1
    // epoch-keyed so replay is a no-op
    Seq((st.getLong(0), st.getLong(1)))
      .toDF("dn", "dt").withColumn("epoch", lit(batchId))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("epoch").parquet(statsPath)
    val posts = postingsFor(rows, keep = Seq("sign"), splits = splits)
    val touched = posts.agg(collect_set(col("bucket"))).head()
      .getSeq[Int](0).sorted
    if (touched.isEmpty) {
      graft.streaming.StreamHygiene.releaseBlocks(rows)
      (touched, Nil)
    } else {
      val newPosts = posts.filter(col("sign") === 1).drop("sign")
      // hasPartitions, not root-exists: an all-partitions-emptied
      // artifact must read as absent (ADVICE r14 #2)
      val hasIndex = IndexFs.hasPartitions(spark, indexPath, "bucket")
      val current =
        if (hasIndex) indexScan(spark, indexPath, touched)
        else newPosts.limit(0)
      // keyed set algebra — idempotent under replay; the changed-doc
      // list is change-volume-sized, hence the broadcast anti-join
      val next = current
        .join(broadcast(rows.select("doc_id").distinct()),
          Seq("doc_id"), "left_anti")
        .unionByName(newPosts)
        // materialize BEFORE the write: the overwrite must not scan
        // the very partitions it is replacing
        .localCheckpoint(true)
      next.repartition(MicroShuffle, col("bucket"))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(indexPath)
      // an insert-only epoch cannot empty a bucket (the AnnIndex
      // insert-only skip, completed here for the text layout — r17
      // optimization round): when the caller needs no sizes either,
      // the post-write stats job is skipped outright
      val stats =
        if (!needCounts && !hasNeg) Nil
        else {
          // one aggregate job: per-bucket (rows, hottest-term df) gives
          // BOTH the emptied-bucket set (a bucket absent from `next`
          // was emptied) and the hot-policy stats over the post-write
          // content
          val s = next.groupBy("bucket", "term").count()
            .groupBy("bucket")
            .agg(sum("count").as("n"), max("count").as("hottest"))
            .collect()
            .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
          val nonEmpty = s.map(_._1).toSet
          touched.filterNot(nonEmpty).foreach(b =>
            IndexFs.deleteDir(spark, s"$indexPath/bucket=$b"))
          s
        }
      // epoch-local checkpoints are dead once the write committed
      graft.streaming.StreamHygiene.releaseBlocks(rows, next)
      (touched, stats)
    }
  }

  // ---- serving ------------------------------------------------------------

  /** BM25 top-k off the maintained artifact — [[TextAnalysis.bm25TopK]]'s
    * exact integer algebra (k1=1.2, b=0.75 as rationals, 2^14 fixed
    * point), but every input is index-resident: the postings read is
    * partition-pruned to the query terms' buckets, df(term) counts the
    * probed rows themselves (a term's whole posting list lives in its
    * bucket), dlen rides on the posting row, and (N, T) folds the
    * epoch-row stats log by addition. No corpus access of any kind. */
  def searchIndex(spark: SparkSession, indexPath: String,
      statsPath: String, queryTerms: Seq[String] = Bm25Query,
      k: Int = Bm25K, splits: Seq[HashSplit] = Nil): DataFrame = {
    import spark.implicits._
    // probes derive through the split genealogy — a split bucket's
    // terms live in the child the map names, not the base-hash home
    val qBuckets = queryTerms.toDF("term")
      .select(splitBucketOf(col("term"), splits)).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val st = spark.read.parquet(statsPath)
      .agg(sum(col("dn")).as("n"), sum(col("dt")).as("t"))
      .collect()(0)
    val (n, t) = (st.getLong(0), st.getLong(1))
    // no checkpoint: the probed read is already pruned to ≤ |terms|
    // partitions; scanning it twice (df pass + scoring pass) is
    // cheaper than materializing it
    val probed = indexScan(spark, indexPath, qBuckets)
      .filter(col("term").isin(queryTerms: _*))
    val dfq = probed.groupBy("term").agg(count(lit(1)).as("df"))
    probed
      .join(broadcast(dfq), Seq("term"))
      .selectExpr("doc_id",
        s"(44 * tf * ${t}L * $Bm25Scale) div " +
          s"(20 * tf * ${t}L + 6 * ${t}L + 18 * dlen * ${n}L) as tr_fp",
        s"2 * (${n}L - df) + 1 as idf_num", "2 * df + 1 as idf_den")
      .selectExpr("doc_id", "(idf_num * tr_fp) div idf_den as contrib_fp")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("matched"),
        sum(col("contrib_fp")).as("score_fp"))
      .orderBy(col("score_fp").desc, col("doc_id"))
      .limit(k)
  }

  // ---- the declared end-to-end row ----------------------------------------

  /** One synthetic change op (harness-side — the ENGINE consumes these
    * only as a parsed stream). */
  final case class DocOp(epoch: Int, lsn: Long, action: String,
      docId: Long, text: Option[String])

  /** Deterministic N-epoch change script over the snapshot: epoch 0 is
    * the initial load; each later epoch e UPDATES doc_id ≡ e (mod 10)
    * to its first-half tokens + " spark merge" (dlen, tf, AND the
    * query-term hits all move — the search must feel the change),
    * DELETES doc_id ≡ e (mod 17), and INSERTS a fresh key
    * [[InsertIdBase]]+id with the last-half tokens + " join window"
    * for doc_id ≡ e (mod 13). lsns increase globally; a U on a key an
    * earlier epoch deleted is a no-op in BOTH engines' folds
    * ([[graft.cdc.Ivm.mtDeltas]] keeps a dead key dead until an I). */
  def epochScript(snap: Seq[(Long, String)], epochs: Int): Seq[DocOp] = {
    val s = snap.sortBy(_._1)
    var lsn = 0L
    def next(): Long = { lsn += 1; lsn }
    val load = s.map { case (id, tx) => DocOp(0, next(), "I", id, Some(tx)) }
    val incr = (1 to epochs).flatMap { e =>
      val ups = s.collect { case (id, tx) if id % 10 == e =>
        val tk = tx.split(" ").toSeq
        DocOp(e, next(), "U", id,
          Some((tk.take((tk.size + 1) / 2) ++ Seq("spark", "merge"))
            .mkString(" ")))
      }
      val dels = s.collect { case (id, _) if id % 17 == e =>
        DocOp(e, next(), "D", id, None) }
      val ins = s.collect { case (id, tx) if id % 13 == e =>
        val tk = tx.split(" ").toSeq
        DocOp(e, next(), "I", InsertIdBase + id,
          Some((tk.drop(tk.size / 2) ++ Seq("join", "window"))
            .mkString(" ")))
      }
      ups ++ dels ++ ins
    }
    load ++ incr
  }

  /** Render a [[DocOp]] as the wal2json-v2 envelope line the document
    * slot emits. The fixture's text is space-separated word tokens —
    * no JSON metacharacters — asserted, not assumed. */
  def toLine(op: DocOp): String = {
    op.text.foreach { t =>
      require(!t.exists(c => c == '"' || c == '\\' || c < ' '),
        s"doc ${op.docId}: text needs JSON escaping; fixture contract broken")
    }
    val head = s""""lsn":${op.lsn},"action":"${op.action}","timestamp":"2026-01-01 00:00:00.000000+00","schema":"public","table":"${DocSpec.table}""""
    op.action match {
      case "D" =>
        s"""{$head,"identity":[{"name":"doc_id","type":"bigint","value":${op.docId}}]}"""
      case _ =>
        s"""{$head,"columns":[{"name":"doc_id","type":"bigint","value":${op.docId}},{"name":"text","type":"text","value":"${op.text.get}"}]}"""
    }
  }

  /** Exact replica fold of the raw ops dump to the final live
    * (doc_id, text) state — liveness gated on an I after the last D,
    * the latest image wins; the oracle runs the same fold in SQL. */
  def foldOps(ops: DataFrame): DataFrame = {
    val lastD = ops.filter(col("action") === "D")
      .groupBy("doc_id").agg(max("lsn").as("dlsn"))
    ops.filter(col("action") =!= "D")
      .join(lastD, Seq("doc_id"), "left")
      .filter(col("lsn") > coalesce(col("dlsn"), lit(-2L)))
      .groupBy("doc_id")
      .agg(max_by(col("text"), col("lsn")).as("text"),
        max(when(col("action") === "I", 1).otherwise(0)).as("has_i"))
      .filter(col("has_i") === 1)
      .select("doc_id", "text")
  }

  /** The declared row's full composition: script N epochs of document
    * changes (raw ops dumped for the oracle), run them through the
    * real streaming path (slot scan → envelope parse → retraction
    * deltas → [[applyEpoch]] per trigger, checkpointed), then serve
    * the standing BM25 query off the maintained postings + stats log.
    * The oracle re-derives the identical top-k from a FULL REBUILD of
    * the replica fold — maintained == rebuilt after N epochs is the
    * row's theorem. Temp dirs are removed after the result
    * materializes. */
  def cdcMaintainAndSearch(spark: SparkSession, docs: DataFrame,
      opsDumpPath: String, epochs: Int = 3, k: Int = Bm25K): DataFrame = {
    val m = cdcMaintain(spark, docs, opsDumpPath, epochs)
    searchIndex(spark, m.indexPath, m.statsPath, k = k)
  }

  /** Handle to a session's maintained artifact — the serve phase's
    * whole dependency. */
  final case class MaintainedText(indexPath: String, statsPath: String)

  /** The declared L114 composition (`ml_bm25_split_serve`): build the
    * postings + stats artifact, split the HOTTEST bucket, then the
    * fuller of its two halves (two genealogy levels, local mods
    * 16 → 32), persist the split directory, and serve the standing
    * BM25 query through a [[loadSplits]]-reloaded map — the
    * restarted-server shape the persistence exists for. Splits are
    * pure layout moves, so the served top-k must equal the plain
    * corpus BM25 derivation; the oracle scores the raw `documents`
    * table and never sees the layout. Build+splits are memoized per
    * (session, corpus plan) — the serve is the row's marginal cost. */
  def splitServe(spark: SparkSession, docs: DataFrame,
      k: Int = Bm25K): DataFrame = {
    val built = Memo.get("txtsplit",
        (spark, docs.queryExecution.analyzed.canonicalized)) {
      val root = Memo.keepUntilExit(
        Files.createTempDirectory("graft-txtsplit").toString)
      val (idx, st) = (s"$root/index", s"$root/stats")
      buildIndex(docs.select("doc_id", "text"), idx)
      buildStats(docs, st)
      // deterministic hot-bucket choice: most rows, ties to lowest id
      def hottest(cands: Option[Seq[Int]]): Int = {
        val counts = spark.read.parquet(idx).groupBy("bucket").count()
        cands.fold(counts)(cs => counts.filter(col("bucket").isin(cs: _*)))
          .collect().map(r => (r.getInt(0), r.getLong(1)))
          .sortBy { case (b, n) => (-n, b) }.head._1
      }
      val h0 = hottest(None)
      var splits = splitBucket(spark, idx, h0, Nil)
      val h1 = hottest(Some(Seq(h0, h0 + NumBuckets)))
      splits = splitBucket(spark, idx, h1, splits)
      saveSplits(spark, s"$root/splits", splits)
      (idx, st, s"$root/splits")
    }
    val (idx, st, splitsPath) = built
    searchIndex(spark, idx, st, k = k,
      splits = loadSplits(spark, splitsPath))
  }

  /** Handle to a re-balanced maintained artifact: the genealogy LOG is
    * part of the serving state (a server derives probe buckets through
    * it). */
  final case class MaintainedTextLog(indexPath: String,
      statsPath: String, logPath: String)

  /** The declared in-stream re-balance composition
    * (`ml_bm25_stream_split`, L115): the [[cdcMaintain]] stream with
    * [[applyEpochRebalanced]] as the trigger body — hot TOUCHED
    * buckets split INSIDE their epoch, write-ahead-logged to the
    * epoch-keyed genealogy log, so re-balance no longer requires
    * stopping the stream (the r15 offline-only precondition, lifted).
    * The split threshold is 1.2× the snapshot's mean bucket mass:
    * term mass is Zipf-skewed, so the hot buckets sit well above the
    * mean at every fixture scale and the policy genuinely fires, while
    * balanced buckets (and split children at ~half the parent) stay
    * put — at most a handful of splits per history, each a
    * single-bucket rewrite. The serve threads the genealogy loaded
    * from the LOG (the restarted-server shape); splits are pure layout
    * moves, so the oracle is the same full-rebuild BM25 fold as
    * `ml_bm25_cdc_index`. */
  def cdcMaintainAndSearchRebalanced(spark: SparkSession,
      docs: DataFrame, opsDumpPath: String, epochs: Int = 3,
      k: Int = Bm25K): DataFrame = {
    val m = cdcMaintainRebalanced(spark, docs, opsDumpPath, epochs)
    searchIndex(spark, m.indexPath, m.statsPath, k = k,
      splits = loadSplitLog(spark, m.logPath).map(_._2))
  }

  /** The re-balanced stream-and-maintain pass, memoized per (session,
    * ops path) — [[cdcMaintain]]'s harness with the in-stream split
    * protocol per trigger and the genealogy log kept next to the
    * artifact. */
  def cdcMaintainRebalanced(spark: SparkSession, docs: DataFrame,
      opsDumpPath: String, epochs: Int = 3): MaintainedTextLog =
    Memo.get("txtss", (spark, opsDumpPath)) {
      import spark.implicits._
      val snap: Seq[(Long, String)] =
        docs.select("doc_id", "text").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
      // 1.2× the snapshot's mean bucket mass (postings / buckets) —
      // one tokenize pass, bounded output, computed before the stream
      val postings = postingsFor(docs.select("doc_id", "text")).count()
      val maxRows = postings * 12 / (10 * NumBuckets)
      val ops = epochScript(snap, epochs)
      ops.map(o => (o.lsn, o.action, o.docId, o.text.orNull))
        .toDF("lsn", "action", "doc_id", "text")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(opsDumpPath)
      val changeDir = Files.createTempDirectory("graft-txtss-log").toString
      val ckptDir = Files.createTempDirectory("graft-txtss-ckpt").toString
      val idxRoot = Memo.keepUntilExit(
        Files.createTempDirectory("graft-txtss-idx").toString)
      val indexPath = s"$idxRoot/index"
      val statsPath = s"$idxRoot/stats"
      val logPath = s"$idxRoot/genealogy"
      try {
        ops.groupBy(_.epoch).toSeq.sortBy(_._1).foreach { case (e, group) =>
          ChangeGen.writeLineBatches(changeDir,
            group.sortBy(_.lsn).map(toLine), batches = 1, startIndex = e)
        }
        // maintenance width + AQE off for the whole span
        // (StreamHygiene.withMaintainConf — cdcMaintain's rationale)
        graft.streaming.StreamHygiene.withMaintainConf(spark,
            MicroShuffle) {
          // in-JVM genealogy cache: the NEXT consecutive epoch reuses
          // the log content this process just wrote instead of
          // re-reading the parquet log (see applyEpochRebalancedLogged)
          var lastLog: Option[(Long, Seq[(Long, HashSplit)])] = None
          val q = Ivm.mtDeltas(MultiTable.parseAll(
              ChangeSource.rawLines(spark, changeDir, Some(1)), Seq(DocSpec)))
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckptDir)
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (batch: Dataset[MtDelta], bid: Long) =>
              val hint = lastLog.collect {
                case (b, l) if b == bid - 1L => l }
              lastLog = Some((bid, applyEpochRebalancedLogged(spark,
                batch, indexPath, statsPath, bid, logPath, maxRows,
                hint)))
              ()
            }
            .start()
          try q.awaitTermination() finally q.stop()
        }
        MaintainedTextLog(indexPath, statsPath, logPath)
      } finally graft.streaming.StreamHygiene.cleanupRun(
        Seq(changeDir, ckptDir), owner = Some(spark))
    }

  /** The stream-and-maintain pass, memoized per (session, ops path) —
    * see [[Memo]]: one pass per JVM; the change-log and
    * checkpoint temp dirs are removed as soon as the stream finishes,
    * the postings + stats artifact lives until JVM exit. */
  def cdcMaintain(spark: SparkSession, docs: DataFrame,
      opsDumpPath: String, epochs: Int = 3): MaintainedText =
    Memo.get("txtcdc", (spark, opsDumpPath)) {
      import spark.implicits._
      val snap: Seq[(Long, String)] =
        docs.select("doc_id", "text").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
      val ops = epochScript(snap, epochs)
      ops.map(o => (o.lsn, o.action, o.docId, o.text.orNull))
        .toDF("lsn", "action", "doc_id", "text")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(opsDumpPath)
      val changeDir = Files.createTempDirectory("graft-txtcdc-log").toString
      val ckptDir = Files.createTempDirectory("graft-txtcdc-ckpt").toString
      val idxRoot = Memo.keepUntilExit(
        Files.createTempDirectory("graft-txtcdc-idx").toString)
      val indexPath = s"$idxRoot/index"
      val statsPath = s"$idxRoot/stats"
      try {
        ops.groupBy(_.epoch).toSeq.sortBy(_._1).foreach { case (e, group) =>
          ChangeGen.writeLineBatches(changeDir,
            group.sortBy(_.lsn).map(toLine), batches = 1, startIndex = e)
        }
        // change-volume-sized stream: MicroShuffle width + AQE off for
        // the WHOLE maintain span — state-store width at stream start
        // AND every foreachBatch body query (which plans against the
        // outer session); see StreamHygiene.withMaintainConf
        graft.streaming.StreamHygiene.withMaintainConf(spark,
            MicroShuffle) {
          val q = Ivm.mtDeltas(MultiTable.parseAll(
              ChangeSource.rawLines(spark, changeDir, Some(1)), Seq(DocSpec)))
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckptDir)
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (batch: Dataset[MtDelta], bid: Long) =>
              applyEpoch(spark, batch, indexPath, statsPath, bid); ()
            }
            .start()
          try q.awaitTermination() finally q.stop()
        }
        MaintainedText(indexPath, statsPath)
      } finally graft.streaming.StreamHygiene.cleanupRun(
        Seq(changeDir, ckptDir), owner = Some(spark))
    }

}
