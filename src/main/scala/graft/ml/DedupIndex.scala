package graft.ml

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{MapType, StringType}

import graft.cdc.{ChangeGen, ChangeSource, Ivm, MtDelta, MultiTable}

/** CDC-MAINTAINED MinHash/LSH dedup index — the third leg of the
  * maintained-index family ([[AnnIndex]] keeps vector serving warm,
  * [[TextIndex]] keeps lexical serving warm; this keeps the NEAR-DUP
  * SCREEN warm). A 100 TB ingest pipeline screens every arriving
  * document against the live corpus ([[Dedup.dedupIncrement]]'s
  * semantics); what makes that affordable continuously is an index the
  * change feed maintains instead of a per-screen corpus signature pass.
  *
  * Document inserts/updates/deletes flow through the SAME replica
  * stream machinery as every CDC table ([[graft.cdc.ChangeSource]]
  * slot scan → [[graft.cdc.MultiTable.parseAll]] envelope decode →
  * [[graft.cdc.Ivm.mtDeltas]] full-image retraction deltas). Because
  * the -old/+new images carry the full text on BOTH sides, a changed
  * doc's DEPARTING band rows are derivable from the delta alone — the
  * same no-probe property that makes [[AnnIndex.applyEpoch]] and
  * [[TextIndex.applyEpoch]] change-volume-sized: minhash the -old
  * image and its band keys name exactly the buckets its old rows live
  * in; no index lookup required.
  *
  * Layout — two co-maintained sub-artifacts:
  *
  *  - `bands/`: one row per (doc, band) = (doc_id, band, bk),
  *    `partitionBy(bucket)` where `bucket = pmod(hash(band, bk), B)` —
  *    the LSH probe structure. A probe doc's own band keys name the
  *    only buckets that can hold a candidate, so the screen's read is
  *    PARTITION-PRUNED to ≤ 16 buckets per probe regardless of corpus
  *    size.
  *  - `sigs/`: one row per doc, wide (doc_id, m0..m63),
  *    `partitionBy(sbucket = pmod(hash(doc_id), B))` — the
  *    verification side. Candidate estimates need the matched docs'
  *    full signatures; keying by doc_id prunes that read to the
  *    candidates' buckets.
  *
  * The signature algebra is [[Dedup.minhashWide]]'s, bit for bit (one
  * md5 per shingle, the 64-member affine family mod [[Dedup.HashP]],
  * band keys = [[Dedup.bandKeys]]' hash of the comma-joined slice), so
  * the maintained screen is value-identical to the from-scratch
  * [[Dedup.dedupIncrement]] — spec-pinned, and the declared row's
  * oracle re-derives it from a FULL REBUILD of the replica fold.
  *
  * Epoch apply is REPLAY-IDEMPOTENT by construction: both tables
  * advance by keyed set algebra — (current content of the touched
  * partitions minus the changed docs' rows) ∪ (the +new images' rows)
  * — so re-applying a batch after a checkpoint restart recomputes
  * identical partitions (no epoch-keyed scalar state exists here; the
  * index carries no corpus-level scalars, unlike [[TextIndex]]'s BM25
  * (N, T) log).
  *
  * Scale: per-epoch work is change-volume-sized (a changed doc is 16
  * band rows + 1 signature row per side); the state-side reads are
  * partition-pruned to the touched buckets; writes are dynamic
  * partition overwrites of exactly those buckets; the screen reads
  * ≤ |probe bands' buckets| + |candidate docs' buckets| partitions —
  * screen cost is independent of how much of the corpus is cold. At
  * 100 TB the bucket count scales with corpus mass: hot band buckets
  * split via [[splitBandBucket]] (extendible hashing — the split
  * rewrites ONLY the hot bucket, and every bucket derivation
  * thereafter descends the persisted genealogy,
  * [[splitBandBucketOf]]); the maintenance algebra is unchanged.
  */
object DedupIndex {
  import Dedup.{Bands, HashA, HashB, HashP, NumHashes, RowsPerBand}

  /** Same change-stream contract as the text index: the `document`
    * table keyed by doc_id with a full-text image. */
  val DocSpec = TextIndex.DocSpec

  /** Partition count for both sub-artifacts. Fixture-sized here; the
    * layout's fan-out knob at scale (finer pruning vs per-epoch commit
    * cost — the [[TextIndex.NumBuckets]] trade). */
  val NumBuckets = 16

  /** Shuffle width for change-volume-sized maintenance exchanges
    * ([[TextIndex.MicroShuffle]]'s rationale verbatim). */
  val MicroShuffle = 8

  /** Screen acceptance threshold: estimated Jaccard at or above which
    * a probe is called a near-dup of its best match (matches
    * `ml_dedup_increment` / `ml_dedup_stream`). */
  val MinEst = 0.5

  /** Probe derivation knobs for the declared row: every
    * ([[ProbeMod]])th snapshot doc, truncated to its first ⌊2n/3⌋
    * tokens — a graded near-dup of its source (shingle containment
    * ≈ 2/3) that the maintained screen must still resolve against the
    * EVOLVED corpus. Probe ids live in the negative namespace (the
    * [[Dedup.bandingSCurve]] convention) so they can never collide
    * with live doc_ids, including the epoch script's fresh inserts. */
  val ProbeMod = 20
  val ProbeRem = 5

  /** A band row's one-and-only partition (unsplit layout). Spark-side
    * Murmur3 — the bucket is engine metadata (probe and maintenance
    * compute it the same way); the oracle never needs it. */
  def bandBucketOf(band: Column, bk: Column): Column =
    pmod(hash(band, bk), lit(NumBuckets))

  /** A band row's partition under the hot-bucket split genealogy —
    * the [[TextIndex.splitBucketOf]] extendible-hash descent, keyed on
    * (band, bk) instead of the term (same precomputed residue table —
    * one hash + one pmod + one array lookup). EVERY bucket derivation
    * — the screen's probe buckets, an epoch's departing -old band
    * rows, its arriving +new ones — must run through this map once
    * any bucket has split (the L114 genealogy discipline). */
  def splitBandBucketOf(band: Column, bk: Column,
      splits: Seq[TextIndex.HashSplit]): Column =
    TextIndex.splitLookup(hash(band, bk), splits, NumBuckets)

  /** Split ONE hot band bucket ([[TextIndex.splitBucket]] applied to
    * the LSH probe layout): read exactly its partition, re-hash its
    * rows at the doubled local modulus, dynamic-overwrite the two
    * result partitions; every other partition stays byte-identical.
    * Returns the extended split list — persist it with
    * [[TextIndex.saveSplits]] like any layout directory. */
  def splitBandBucket(spark: SparkSession, bandsPath: String, b: Int,
      splits: Seq[TextIndex.HashSplit]): Seq[TextIndex.HashSplit] = {
    require(TextIndex.canSplit(splits, b, NumBuckets),
      s"band bucket $b is at the genealogy depth bound (table cap " +
        s"${TextIndex.MaxDescentEntries}): re-key the layout instead")
    val m = TextIndex.localModOf(splits, b, NumBuckets)
    val s = TextIndex.HashSplit(b, b + m, m)
    val rows = spark.read.parquet(bandsPath)
      .filter(col("bucket") === b)
      .withColumn("bucket",
        pmod(hash(col("band"), col("bk")), lit(2 * m)))
      // materialize BEFORE the write: the overwrite must not scan the
      // very partition it is replacing
      .localCheckpoint(true)
    rows.repartition(MicroShuffle, col("bucket"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(bandsPath)
    val nonEmpty = distinctInts(rows, "bucket").toSet
    Seq(s.parent, s.child).filterNot(nonEmpty).foreach(c =>
      IndexFs.deleteDir(spark, s"$bandsPath/bucket=$c"))
    graft.streaming.StreamHygiene.releaseBlocks(rows)
    splits :+ s
  }

  /** The declared L114 twin on the band layout
    * (`ml_dedup_split_screen`): build both sub-artifacts, split the
    * HOTTEST band bucket and then the fuller of its two halves (two
    * genealogy levels), persist the split directory, and screen the
    * standing probe set through a RELOADED map — the restarted-server
    * shape. Splits are pure layout moves, so the screen must equal
    * the unsplit derivation; the oracle screens probes against the
    * corpus in SQL and never sees the layout. Build + splits memoize
    * per (session, corpus plan); the screen is the row's marginal
    * cost. */
  def splitScreen(spark: SparkSession, docs: DataFrame): DataFrame = {
    val built = Memo.get("ddxsplit",
        (spark, docs.queryExecution.analyzed.canonicalized)) {
      val root = Memo.keepUntilExit(
        Files.createTempDirectory("graft-ddxsplit").toString)
      val (bp, sp) = (s"$root/bands", s"$root/sigs")
      buildIndex(docs.select("doc_id", "text"), bp, sp)
      def hottest(cands: Option[Seq[Int]]): Int = {
        val counts = spark.read.parquet(bp).groupBy("bucket").count()
        cands.fold(counts)(cs => counts.filter(col("bucket").isin(cs: _*)))
          .collect().map(r => (r.getInt(0), r.getLong(1)))
          .sortBy { case (b, n) => (-n, b) }.head._1
      }
      val h0 = hottest(None)
      var splits = splitBandBucket(spark, bp, h0, Nil)
      val h1 = hottest(Some(Seq(h0, h0 + NumBuckets)))
      splits = splitBandBucket(spark, bp, h1, splits)
      TextIndex.saveSplits(spark, s"$root/splits", splits)
      (bp, sp, s"$root/splits")
    }
    val (bp, sp, splitsPath) = built
    screenIndex(spark, probesOf(docs), bp, sp,
      splits = TextIndex.loadSplits(spark, splitsPath))
  }

  /** Size-triggered split policy for the band layout —
    * [[TextIndex.splitIfHot]]'s contract verbatim: touched-only
    * (change-volume-sized check, partition-pruned read), one split per
    * hot bucket per call, converging over epochs; the caller persists
    * the returned genealogy and threads it into the next
    * [[applyEpoch]] and every [[screenIndex]]. The splittability
    * guard's witness here is the hottest single (band, bk) key — a
    * band key's candidate set co-locates by design (that is the LSH
    * probe), so no hash split can shrink a one-hot-key bucket; that
    * case is [[Dedup]]'s hot-bucket SUB-BLOCKING, not a layout
    * split. [[TextIndex.splitIfHot]]'s REPLAY-SAFETY PRECONDITION
    * applies verbatim: run THIS offline entry outside the stream's
    * checkpoint window — or use [[applyEpochRebalanced]], which runs
    * the same selection in-stream against the epoch-keyed genealogy
    * log (r16). */
  def splitIfHot(spark: SparkSession, bandsPath: String,
      touched: Seq[Int], splits: Seq[TextIndex.HashSplit],
      maxRows: Long): Seq[TextIndex.HashSplit] = {
    if (touched.isEmpty) return splits
    // same empty-root guard as [[TextIndex.splitIfHot]] (ADVICE r15
    // #1): an all-partitions-emptied artifact must read as absent
    if (!IndexFs.hasPartitions(spark, bandsPath, "bucket")) return splits
    val hot = spark.read.parquet(bandsPath)
      .filter(col("bucket").isin(touched: _*))
      .groupBy("bucket", "band", "bk").count()
      .groupBy("bucket")
      .agg(sum("count").as("n"), max("count").as("hottest"))
      .filter(col("n") > maxRows && col("hottest") <= maxRows)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
      .sortBy { case (b, n) => (-n, b) }.map(_._1)
    // depth bound: skip, don't throw — the [[TextIndex.splitIfHot]]
    // policy-vs-operator contract
    hot.foldLeft(splits)((s, b) =>
      if (TextIndex.canSplit(s, b, NumBuckets))
        splitBandBucket(spark, bandsPath, b, s)
      else s)
  }

  /** Apply ONE micro-batch WITH the in-stream re-balance protocol on
    * the band layout — [[TextIndex.applyEpochRebalanced]]'s
    * write-ahead contract verbatim (heal this epoch's logged-unmoved
    * splits → apply through the committed prefix → select hot TOUCHED
    * band buckets → log each entry to the epoch's partition BEFORE its
    * physical move). The genealogy log is [[TextIndex]]'s epoch-keyed
    * format ([[TextIndex.saveSplitLogEpoch]] /
    * [[TextIndex.loadSplitLog]]); only the key hash differs
    * (`hash(band, bk)`). Every crash point between job commits replays
    * to the same final (bands, sigs, log) state — spec-pinned. The
    * sigs sub-artifact needs no re-balance (one row per doc, keyed by
    * doc_id — mass per bucket is corpus/B by construction, not
    * key-skewed like band buckets). Returns the genealogy after this
    * epoch. */
  def applyEpochRebalanced(spark: SparkSession, batch: Dataset[MtDelta],
      bandsPath: String, sigsPath: String, batchId: Long,
      logPath: String, maxRows: Long): Seq[TextIndex.HashSplit] = {
    val log = TextIndex.loadSplitLog(spark, logPath)
    require(log.forall(_._1 <= batchId),
      s"genealogy log at $logPath carries entries from epochs past " +
        s"$batchId — refusing to derive against a future layout")
    val prefix = log.filter(_._1 < batchId).map(_._2)
    val mine = log.filter(_._1 == batchId).map(_._2)
    mine.foreach(s => TextIndex.healSplitOn(spark, bandsPath, s,
      pmod(hash(col("band"), col("bk")), lit(2 * s.mod))))
    val gen0 = prefix ++ mine
    val ((touchedB, _), bandStats) = applyEpochBandStats(spark, batch,
      bandsPath, sigsPath, splits = gen0)
    if (touchedB.isEmpty ||
        !IndexFs.hasPartitions(spark, bandsPath, "bucket")) return gen0
    // replay pacing: buckets this epoch's crashed attempt already
    // split wait for the next epoch ([[TextIndex.applyEpochRebalanced]]
    // — one doubling per bucket per epoch holds under replay too)
    val frozen = mine.flatMap(s => Seq(s.parent, s.child)).toSet
    // hot list from the epoch's own post-write stats (the rewritten
    // partitions' content IS the `next` frame applyKeyed aggregated) —
    // same sizes the former post-write scan read, without the scan job
    val hot = bandStats
      .filter { case (_, n, hottest) => n > maxRows && hottest <= maxRows }
      .sortBy { case (b, n, _) => (-n, b) }.map(_._1)
      .filterNot(frozen)
    // entries first, ONE WAL write, then the moves — the
    // [[TextIndex.applyEpochRebalanced]] batching (r17 optimization
    // round): hot buckets are distinct and each split touches only its
    // own (parent, child), so every entry is durable before any move
    // and each split's log-then-move ordering is unchanged
    var gen = gen0
    var entries = Seq.empty[TextIndex.HashSplit]
    hot.foreach { b =>
      if (TextIndex.canSplit(gen, b, NumBuckets)) {
        val m = TextIndex.localModOf(gen, b, NumBuckets)
        val s = TextIndex.HashSplit(b, b + m, m)
        entries = entries :+ s
        gen = gen :+ s
      }
    }
    if (entries.nonEmpty)
      TextIndex.saveSplitLogEpoch(spark, logPath, batchId,
        mine ++ entries)
    entries.foldLeft(gen0)((s, e) =>
      splitBandBucket(spark, bandsPath, e.parent, s))
    gen
  }

  /** A signature row's one-and-only partition. */
  def sigBucketOf(docId: Column): Column =
    pmod(hash(docId), lit(NumBuckets))

  // ---- encode -------------------------------------------------------------

  /** Wide minhash signatures for (doc_id, text) rows, grouped by
    * (doc_id ++ keep) — [[Dedup.minhashWide]]'s exact algebra, with
    * extra key columns carried through so a retraction batch can sign
    * the -old and +new images of the same doc separately
    * (`keep = Seq("sign")`). Docs shorter than 3 tokens produce no
    * shingles and hence NO signature row — they are unscreenable by
    * construction, in both engines. */
  def sigRowsFor(rows: DataFrame, keep: Seq[String] = Nil): DataFrame =
    rows
      .select(col("doc_id") +: MlFunctions.tokens(col("text")).as("tk") +:
        keep.map(col): _*)
      .select(col("doc_id") +: graft.functions.VectorFunctions
        .ngramWindows(col("tk"), 3).as(Seq("shpos", "sh")) +:
        keep.map(col): _*)
      .drop("shpos")
      .withColumn("x", MlFunctions.hash60(col("sh")) % HashP)
      .groupBy(col("doc_id") +: keep.map(col): _*)
      .agg(
        min((lit(HashA(0)) * col("x") + HashB(0)) % HashP).as("m0"),
        (1 until NumHashes).map(h =>
          min((lit(HashA(h)) * col("x") + HashB(h)) % HashP).as(s"m$h")): _*)

  /** Long-form band rows (doc_id, band, bk, bucket) from wide
    * signatures — [[Dedup.bandKeys]]' key derivation with the
    * partition column attached and `keep` columns carried through. */
  def bandRowsFor(sigs: DataFrame, keep: Seq[String] = Nil,
      splits: Seq[TextIndex.HashSplit] = Nil): DataFrame = {
    val keyCols = (0 until Bands).map { b =>
      val slice =
        (0 until RowsPerBand).map(r => col(s"m${b * RowsPerBand + r}"))
      MlFunctions.hash60(concat_ws(",", slice: _*)).as(s"bk$b")
    }
    val stackArgs =
      (0 until Bands).map(b => s"bigint($b), bk$b").mkString(", ")
    sigs.select(col("doc_id") +: keyCols ++: keep.map(col): _*)
      .selectExpr(
        Seq("doc_id", s"stack($Bands, $stackArgs) AS (band, bk)") ++
          keep: _*)
      .withColumn("bucket",
        splitBandBucketOf(col("band"), col("bk"), splits))
  }

  // ---- build / append / compact ------------------------------------------

  /** Full build: one signature pass, both sub-artifacts written
    * partition-per-bucket. The rebuild the incremental path is proven
    * equal to. */
  def buildIndex(docs: DataFrame, bandsPath: String,
      sigsPath: String): Unit = {
    // one corpus pass feeds both writes — materialized once; the wide
    // signature table is O(docs × 64 longs), tiny relative to the text
    val sigs = sigRowsFor(docs.select("doc_id", "text"))
      .localCheckpoint(true)
    bandRowsFor(sigs).repartition(col("bucket"))
      .write.mode(SaveMode.Overwrite).partitionBy("bucket")
      .parquet(bandsPath)
    sigs.withColumn("sbucket", sigBucketOf(col("doc_id")))
      .repartition(col("sbucket"))
      .write.mode(SaveMode.Overwrite).partitionBy("sbucket")
      .parquet(sigsPath)
    graft.streaming.StreamHygiene.releaseBlocks(sigs)
  }

  /** Insert-only fast path ([[TextIndex.appendToIndex]]'s parallel):
    * sign NEW docs and APPEND their rows to the touched buckets — no
    * existing file is rewritten (spec-pinned). Correct ONLY for docs
    * not already indexed; an update/delete needs [[applyEpoch]]'s
    * retraction algebra. `splits` = the live band-bucket genealogy —
    * append derives buckets like any other path and must descend it
    * ([[TextIndex.appendToIndex]]'s soak lesson). Returns (band
    * buckets, sig buckets) touched. */
  def appendToIndex(docs: DataFrame, bandsPath: String,
      sigsPath: String,
      splits: Seq[TextIndex.HashSplit] = Nil): (Seq[Int], Seq[Int]) = {
    val sigs = sigRowsFor(docs.select("doc_id", "text"))
      .localCheckpoint(true)
    val bands = bandRowsFor(sigs, splits = splits).localCheckpoint(true)
    val tb = distinctInts(bands, "bucket")
    val sigsB = sigs.withColumn("sbucket", sigBucketOf(col("doc_id")))
    val ts = distinctInts(sigsB, "sbucket")
    bands.repartition(MicroShuffle, col("bucket"))
      .write.mode(SaveMode.Append).partitionBy("bucket").parquet(bandsPath)
    sigsB.repartition(MicroShuffle, col("sbucket"))
      .write.mode(SaveMode.Append).partitionBy("sbucket").parquet(sigsPath)
    graft.streaming.StreamHygiene.releaseBlocks(sigs, bands)
    (tb, ts)
  }

  /** Compact fragmented partitions of one sub-artifact
    * ([[TextIndex.compactIndex]]'s parallel, parameterized on the
    * partition column): rewrites ONLY partitions holding more than
    * `maxFiles` files; every other partition stays byte-identical and
    * the content is untouched. Returns the compacted bucket ids. */
  def compactIndex(spark: SparkSession, path: String, partCol: String,
      maxFiles: Int = 4): Seq[Int] = {
    val frag = IndexFs.partitionValues(spark, path, partCol)
      .filter(v =>
        IndexFs.dataFileCount(spark, s"$path/$partCol=$v") > maxFiles)
    if (frag.nonEmpty) {
      val rows = spark.read.parquet(path)
        .filter(col(partCol).isin(frag: _*)).localCheckpoint(true)
      rows.repartition(MicroShuffle, col(partCol))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol).parquet(path)
      graft.streaming.StreamHygiene.releaseBlocks(rows)
    }
    frag
  }

  // ---- incremental maintenance -------------------------------------------

  /** Apply ONE micro-batch of full-image retraction deltas
    * ([[graft.cdc.Ivm.mtDeltas]]' rows for [[DocSpec]]) to the
    * maintained index. Touched band buckets = buckets of the -old
    * images' bands ∪ the +new images' bands (both signed from the
    * delta text alone — the no-probe property); touched sig buckets =
    * the changed docs' own buckets. Each table's rewrite reads ONLY
    * its touched partitions, drops the changed docs' rows, adds the
    * +new rows, and dynamic-partition-overwrites exactly those buckets
    * (a bucket the batch empties is cleared explicitly). Returns
    * (band buckets, sig buckets); |returned| == |rewritten partitions|
    * per table is the spec pin. */
  def applyEpoch(spark: SparkSession, batch: Dataset[MtDelta],
      bandsPath: String, sigsPath: String,
      splits: Seq[TextIndex.HashSplit] = Nil): (Seq[Int], Seq[Int]) =
    applyEpochBandStats(spark, batch, bandsPath, sigsPath, splits,
      needStats = false)._1

  /** [[applyEpoch]] that ALSO returns the touched band buckets'
    * post-write (rows, hottest-(band,bk) count) — the rewritten
    * partitions' content is exactly the `next` frame [[applyKeyed]]
    * just materialized, so the stats ride the same aggregate job that
    * finds emptied buckets; [[applyEpochRebalanced]]'s hot-bucket
    * policy reads them instead of re-scanning the artifact it just
    * wrote (r16 optimization round, guide §1.2). */
  private[graft] def applyEpochBandStats(spark: SparkSession,
      batch: Dataset[MtDelta], bandsPath: String, sigsPath: String,
      splits: Seq[TextIndex.HashSplit] = Nil, needStats: Boolean = true)
      : ((Seq[Int], Seq[Int]), Seq[(Int, Long, Long)]) = {
    val df = batch.toDF()
    val textCol = element_at(
      from_json(col("img"), MapType(StringType, StringType)), "text")
    // change-volume-sized: one row per (doc, sign), full text image.
    // Checkpointed ONCE — inside foreachBatch every action re-executes
    // the trigger's stateful plan (TextIndex.applyEpoch's rationale).
    val rows = df.filter(col("tbl") === DocSpec.table)
      .select(col("key").cast("long").as("doc_id"), col("sign"),
        textCol.as("text"))
      .localCheckpoint(true)
    // both signs signed in one pass; each side is its own row
    val sigs = sigRowsFor(rows, keep = Seq("sign")).localCheckpoint(true)
    // both signs' buckets descend the split genealogy — the -old
    // image's departing rows live where the map says, not where the
    // base hash would put them (the L114 discipline). NOT pinned: the
    // band expansion is a map-side generator off the `sigs` checkpoint,
    // cheaper to re-derive per consumer than to materialize (r17
    // optimization round, guide §1.2)
    val bands = bandRowsFor(sigs, keep = Seq("sign"), splits = splits)
    // ONE aggregate witnesses both artifacts' touched partitions AND
    // delete presence — band rows carry every signed doc (each sig row
    // expands to its bands), so the sbucket set over band rows equals
    // the set over changed docs; the former shape spent two
    // repartition+distinct+collect jobs on ≤ NumBuckets ints each
    val agg = bands.agg(
      collect_set(col("bucket")).as("tb"),
      collect_set(sigBucketOf(col("doc_id"))).as("ts"),
      max(when(col("sign") === -1, 1).otherwise(0)).as("neg")).head()
    val touchedB = agg.getSeq[Int](0).sorted
    val touchedS = agg.getSeq[Int](1).sorted
    val hasNeg = !agg.isNullAt(2) && agg.getInt(2) == 1
    val changed = sigs.select("doc_id").distinct()
    val bandStats = applyKeyed(spark, bandsPath, "bucket", touchedB,
      changed, bands.filter(col("sign") === 1).drop("sign"),
      hasNeg, needStats, hotKeys = Seq("band", "bk"))
    applyKeyed(spark, sigsPath, "sbucket", touchedS, changed,
      sigs.filter(col("sign") === 1).drop("sign")
        .withColumn("sbucket", sigBucketOf(col("doc_id"))),
      hasNeg, needStats = false)
    // epoch-local checkpoints are dead once both writes committed
    graft.streaming.StreamHygiene.releaseBlocks(rows, sigs)
    ((touchedB, touchedS), bandStats)
  }

  /** The keyed set algebra shared by both sub-artifacts: next content
    * of the touched partitions = (current minus changed docs) ∪ plus —
    * idempotent under replay; the changed-doc list is
    * change-volume-sized, hence the broadcast anti-join. */
  private def applyKeyed(spark: SparkSession, path: String,
      partCol: String, touched: Seq[Int], changedIds: DataFrame,
      plus: DataFrame, hasNeg: Boolean, needStats: Boolean,
      hotKeys: Seq[String] = Nil)
      : Seq[(Int, Long, Long)] = {
    if (touched.isEmpty) return Nil
    // hasPartitions, not a bare root-exists check: an artifact whose
    // every partition an earlier epoch emptied must read as absent
    // (parquet schema inference on the bare root throws — ADVICE r14 #2)
    val hasIdx = IndexFs.hasPartitions(spark, path, partCol)
    val current =
      if (hasIdx) spark.read.parquet(path)
        .filter(col(partCol).isin(touched: _*))
      else plus.limit(0)
    // materialize BEFORE the write: the overwrite must not scan the
    // very partitions it is replacing
    val next = current
      .join(broadcast(changedIds), Seq("doc_id"), "left_anti")
      .unionByName(plus)
      .localCheckpoint(true)
    next.repartition(MicroShuffle, col(partCol))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(path)
    // one aggregate job: per-partition counts give BOTH the emptied
    // set (a value absent from `next` was emptied) and — with
    // `hotKeys` — the hot-policy stats over the post-write content.
    // An insert-only epoch (`!hasNeg`) cannot empty a partition, so
    // when the caller needs no sizes either the job is skipped
    // outright (r17 optimization round — the AnnIndex insert-only
    // skip, completed for the band layout)
    val stats =
      if (!needStats && !hasNeg) Nil
      else if (needStats && hotKeys.nonEmpty)
        next.groupBy(partCol, hotKeys: _*).count()
          .groupBy(partCol)
          .agg(sum("count").as("n"), max("count").as("hottest"))
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
          .toSeq
      else
        next.groupBy(partCol).count().collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(1))).toSeq
    if (hasNeg) {
      val nonEmpty = stats.map(_._1).toSet
      touched.filterNot(nonEmpty).foreach(b =>
        IndexFs.deleteDir(spark, s"$path/$partCol=$b"))
    }
    graft.streaming.StreamHygiene.releaseBlocks(next)
    stats
  }

  /** Distinct values of a small int column, MicroShuffle-wide (the
    * bucket-accounting collect — bounded by [[NumBuckets]]). */
  private def distinctInts(df: DataFrame, c: String): Seq[Int] =
    df.select(c).repartition(MicroShuffle, col(c)).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted

  // ---- serving: the screen ------------------------------------------------

  /** Screen `probes` (doc_id, text) against the maintained index:
    * probe band keys prune the bands read to their own buckets, the
    * banded equi-join yields candidates, candidate doc ids prune the
    * signature read to their buckets, and the estimate is the
    * agreeing-minhash share over the two wide rows — value-identical
    * to [[Dedup.dedupIncrement]] against a fresh corpus signature
    * pass (spec-pinned). One row per matched probe: (doc_id,
    * matched_id, est_jaccard), its best live match (max estimate, min
    * id tie) at `minEst` or above. The probe side is ≪ the corpus, so
    * its signatures, bands, and the candidate list broadcast; the
    * index is read pruned, never shuffled.
    *
    * `visible` further restricts BOTH reads — a partition predicate for
    * layouts that carry an extra epoch level (the
    * [[graft.streaming.DedupGate]] `batch` column: a replaying epoch
    * must not see its own pre-crash appends). The default sees the
    * whole index. */
  def screenIndex(spark: SparkSession, probes: DataFrame,
      bandsPath: String, sigsPath: String,
      minEst: Double = MinEst,
      visible: Column = lit(true),
      splits: Seq[TextIndex.HashSplit] = Nil): DataFrame =
    screenSigs(spark,
      sigRowsFor(probes.select("doc_id", "text")).localCheckpoint(true),
      bandsPath, sigsPath, minEst, visible, splits)

  /** [[screenIndex]] over ALREADY-SIGNED probes (a materialized
    * [[sigRowsFor]] frame) — the entry a caller that needs the probe
    * signatures for its own purposes uses, so one signing pass serves
    * both (the [[graft.streaming.DedupGate]] per-batch path: screen
    * with the batch's signatures, then append the accepted subset of
    * the SAME frame — the batch is never signed twice). */
  def screenSigs(spark: SparkSession, pSig: DataFrame,
      bandsPath: String, sigsPath: String,
      minEst: Double = MinEst,
      visible: Column = lit(true),
      splits: Seq[TextIndex.HashSplit] = Nil): DataFrame = {
    val empty = pSig.select(col("doc_id"),
      col("doc_id").as("matched_id"),
      lit(0.0).as("est_jaccard")).limit(0)
    // probe buckets descend the split genealogy like every derivation
    val pBand = bandRowsFor(pSig, splits = splits).localCheckpoint(true)
    val pBuckets = distinctInts(pBand, "bucket")
    if (pBuckets.isEmpty) return empty
    val idxBands = spark.read.parquet(bandsPath)
      .filter(col("bucket").isin(pBuckets: _*)).filter(visible)
    val cands = idxBands.as("c")
      .join(broadcast(pBand.as("p")),
        col("c.band") === col("p.band") && col("c.bk") === col("p.bk"))
      .select(col("p.doc_id").as("probe_id"),
        col("c.doc_id").as("matched_id"))
      .distinct()
      .localCheckpoint(true)
    val cBuckets = distinctInts(
      cands.select(sigBucketOf(col("matched_id")).as("sbucket")), "sbucket")
    if (cBuckets.isEmpty) return empty
    val idxSigs = spark.read.parquet(sigsPath)
      .filter(col("sbucket").isin(cBuckets: _*)).filter(visible)
    val matches = (0 until NumHashes)
      .map(h => when(col(s"o.m$h") === col(s"p.m$h"), 1).otherwise(0))
      .reduce(_ + _)
    val est = idxSigs.as("o")
      .join(broadcast(cands), col("o.doc_id") === col("matched_id"))
      .join(broadcast(pSig.as("p")), col("p.doc_id") === col("probe_id"))
      .select(col("probe_id").as("doc_id"), col("matched_id"),
        (matches.cast("double") / NumHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)
    val w = Window.partitionBy("doc_id")
      .orderBy(col("est_jaccard").desc, col("matched_id"))
    est.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("doc_id", "matched_id", "est_jaccard")
      .orderBy("doc_id")
  }

  /** The declared row's probe set: every [[ProbeMod]]th snapshot doc
    * truncated to its first ⌊2n/3⌋ tokens (kept only when the
    * truncation still shingles, n' ≥ 3), ids negated into the probe
    * namespace. Derived from the ORIGINAL snapshot — the oracle
    * re-derives it identically from the `documents` table. */
  def probesOf(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % ProbeMod === ProbeRem)
      .select(col("doc_id"), MlFunctions.tokens(col("text")).as("tk"))
      .withColumn("n", expr("(size(tk) * 2) div 3"))
      .filter(col("n") >= 3)
      .select((-col("doc_id")).as("doc_id"),
        array_join(expr("slice(tk, 1, n)"), " ").as("text"))

  // ---- the declared end-to-end row ----------------------------------------

  /** The full composition: script N epochs of document changes
    * ([[TextIndex.epochScript]] — the same insert/update/delete mix
    * the text index row drives, raw ops dumped for the oracle), run
    * them through the real streaming path (slot scan → envelope parse
    * → retraction deltas → [[applyEpoch]] per trigger, checkpointed),
    * then screen the standing probe set against the maintained index.
    * The oracle re-derives the identical screen from a FULL REBUILD of
    * the replica fold — maintained == rebuilt after N epochs is the
    * row's theorem. Temp dirs are removed after the result
    * materializes. */
  def cdcMaintainAndScreen(spark: SparkSession, docs: DataFrame,
      opsDumpPath: String, epochs: Int = 3): DataFrame = {
    val m = cdcMaintain(spark, docs, opsDumpPath, epochs)
    screenIndex(spark, probesOf(docs), m.bandsPath, m.sigsPath)
  }

  /** Handle to a session's maintained artifact — the screen phase's
    * whole dependency. */
  final case class MaintainedDedup(bandsPath: String, sigsPath: String)

  /** The stream-and-maintain pass, memoized per (session, ops path) —
    * see [[Memo]]: one pass per JVM; the change-log and
    * checkpoint temp dirs are removed as soon as the stream finishes,
    * the band + signature sub-artifacts live until JVM exit. */
  def cdcMaintain(spark: SparkSession, docs: DataFrame,
      opsDumpPath: String, epochs: Int = 3): MaintainedDedup =
    Memo.get("dedupcdc", (spark, opsDumpPath)) {
      import spark.implicits._
      val snap: Seq[(Long, String)] =
        docs.select("doc_id", "text").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
      val ops = TextIndex.epochScript(snap, epochs)
      ops.map(o => (o.lsn, o.action, o.docId, o.text.orNull))
        .toDF("lsn", "action", "doc_id", "text")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(opsDumpPath)
      val changeDir = Files.createTempDirectory("graft-dedupcdc-log").toString
      val ckptDir = Files.createTempDirectory("graft-dedupcdc-ckpt").toString
      val idxRoot = Memo.keepUntilExit(
        Files.createTempDirectory("graft-dedupcdc-idx").toString)
      val bandsPath = s"$idxRoot/bands"
      val sigsPath = s"$idxRoot/sigs"
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
              applyEpoch(spark, batch, bandsPath, sigsPath); ()
            }
            .start()
          try q.awaitTermination() finally q.stop()
        }
        MaintainedDedup(bandsPath, sigsPath)
      } finally graft.streaming.StreamHygiene.cleanupRun(
        Seq(changeDir, ckptDir), owner = Some(spark))
    }

}
