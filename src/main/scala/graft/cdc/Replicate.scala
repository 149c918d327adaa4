package graft.cdc

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType, TimestampType}

/** The CDC apply pipeline: maintain a keyed replica of `person` from a
  * stream of row-level changes — the Spark re-expression of the
  * reference's replicator loop (replicator/main.go:154-270) and of the
  * pubsub publication/subscription (pubsub/main.go:79-120).
  *
  * ## Scale design (the 100 TB story): merge-on-read + compaction
  *
  * The replica is parquet **hash-bucketed by key** (`id_bucket =
  * pmod(id, numBuckets)`) plus a hidden **delta log**
  * (`.__delta/batch=<epoch>/`), in the merge-on-read shape of
  * Hudi/Paimon:
  *
  *  - **Per trigger (O(batch), one job)**: reduce the micro-batch to
  *    one summary row per key with ONE shuffle ([[summarizeBucketed]] —
  *    window + hash aggregate reuse the bucket partitioning, fully
  *    whole-stage-codegen) and commit it as delta `batch=<epochId>` via
  *    tmp-write + rename. No base read, no bucket rewrite, no collect.
  *    Replay after a crash overwrites the same delta dir — idempotent.
  *  - **The base holds the SAME per-key summary state as the deltas**
  *    (lsn-stamped last image, first insert, last delete lsn — dead
  *    keys stay as tombstones), so base and deltas fold through ONE
  *    commutative, associative, idempotent algebra
  *    ([[combineSummaries]]): the key's global last-delete lsn is the
  *    max over inputs, and last_img/first_ins are the arg-max/arg-min
  *    by lsn of the structs strictly past it. **Fold order cannot
  *    change the result** — this matters because micro-batch CONTENTS
  *    can arrive out of lsn order (Spark's file source orders by
  *    modification time with nondeterministic ties; Kafka partitions
  *    interleave), and a recency-assuming merge ("batch beats base")
  *    silently loses newer images when an older batch folds later.
  *    Liveness is derived, never assumed: a key is alive iff its
  *    first insert survives past the last delete.
  *  - **Base buckets are generation dirs** `id_bucket=<b>.g<gen>`. A
  *    fold never rewrites a dir: it writes generation `max+1` of every
  *    bucket its deltas touch into a hidden stage dir, commits each
  *    bucket with ONE dir rename, then raises the compaction watermark
  *    (`.__delta/_watermark`) past the consumed deltas. A bucket whose
  *    keys are all vacuumed commits an empty marker file as its newest
  *    generation, so no older generation can resurface.
  *  - **On read** ([[readReplica]]): read the watermark and list the
  *    deltas past it, THEN list the root once and take each bucket's
  *    newest generation; fold base ∪ deltas and project live rows.
  *    That order is what makes any interleaving with a fold exact: a
  *    generation committed after the delta listing only adds deltas
  *    the listing already holds, which the idempotent algebra absorbs,
  *    while the reverse order could pair an old generation with a
  *    delta list that already dropped what it lacks. With no pending
  *    deltas the read is a pure scan + liveness filter.
  *  - **Reclamation is one fold late.** Each fold first deletes what
  *    the PREVIOUS fold superseded — older generations, emptied-bucket
  *    markers, consumed deltas, stray stage dirs of a killed fold —
  *    and an async fold starts only `compactEvery` triggers after the
  *    previous fold ended, so a reader's files outlive the fold that
  *    superseded them by one whole fold cycle (16 s at the reference's
  *    2 s cadence). A reader that outlives the grace fails on the
  *    missing file; it never returns a partial answer.
  *
  * Crash windows need no recovery step: a fold killed before its
  * watermark leaves a mix of old and new generations whose deltas are
  * all still pending, and the union re-folds exactly; its stage dir is
  * hidden and the next fold deletes it. Tombstones are retained (they
  * are what makes late/reordered events safe); [[vacuum]] physically
  * removes them once the source can no longer deliver older lsns (the
  * Postgres slot contract — confirmed_flush_lsn only advances).
  *
  * The streaming path runs compaction ASYNCHRONOUSLY (the Hudi pattern):
  * every trigger is O(batch), the fold happens on a background thread
  * guarded per replica, and change VISIBILITY never waits on it because
  * reads are merge-on-read anyway — the fold only bounds read
  * amplification. Deltas committed during a fold stay untouched (the
  * consumed set is listed once; the watermark rises only to its max).
  * Direct `applyBatch` callers default to the synchronous fold
  * (deterministic for tests/layout assertions). At 100 TB: thousands of
  * buckets, only touched buckets re-generated per fold, and an
  * object-store deployment commits via a manifest instead of directory
  * renames ([[ManifestReplica]]; S3 renames are copies); the dataflow is
  * unchanged.
  *
  * [[MultiTable]] stores its generic (key, JSON image) summaries with
  * this same protocol: every storage helper here takes a [[Shape]]
  * naming the summary schema, key column and key→bucket expression.
  *
  * SCHEMA EVOLUTION — documented decision: this typed single-table path
  * fixes its schema at compile time BY DESIGN — [[PersonRow]] and the
  * summary structs ([[DeltaSchema]]/[[BaseSchema]]) are what buy fully
  * codegen'd folds with no JSON round-trip per column. A deployment
  * that needs to widen a table's schema without a rewrite uses the
  * generic declared-schema path ([[MultiTable]] /
  * [[ManifestMultiTable]] with a single [[TableSpec]]): its replicas
  * store the change image as a JSON column map, so adding a column to
  * the declared schema is a READ-SIDE change only (old rows read as
  * null — pinned in MultiTableSpec's evolution test). Same trade as
  * Dataset[T] vs DataFrame, surfaced at the replica level.
  */
object Replicate {
  val BucketCol = "id_bucket"

  /** Generation `gen` of bucket `b` under the replica root. */
  private def genName(b: Int, gen: Long): String = s"$BucketCol=$b.g$gen"

  /** Hidden dir a fold stages generation `<gen>` in before committing
    * it bucket by bucket (leading dot: invisible to listings and reads). */
  private val StagePrefix = ".__stage-g"

  private[cdc] def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new java.io.IOException(s"replica filesystem op failed: $what")

  /** Shuffle width for per-batch merge stages. CDC micro-batches are
    * small relative to the replica; 32/200 shuffle tasks over a few
    * hundred rows are pure overhead (the round-1 bench lost ~19× of its
    * latency envelope to exactly this). Production tunes it to
    * ~batchRows / 100k. */
  val DefaultMergeParallelism = 8

  /** Bucket count scales with REPLICA size (target: a bucket rewrite ≈
    * one comfortable task, e.g. 128 MB — production on TBs uses
    * thousands). For the fixture/bench-sized replica, 16 measures
    * fastest: at 64+, per-batch fixed costs (partition dirs × writer
    * files × commit renames) dominate and worst-batch latency triples. */
  val DefaultNumBuckets = 16

  /** Compact the delta log into the base every N triggers. Bounds both
    * read amplification (≤ N delta files union'd at read time) and the
    * worst-trigger latency (the compaction batch does the base rewrite;
    * all other triggers are O(batch)). 1 = eager (rewrite per trigger,
    * the round-3 behavior). */
  val DefaultCompactEvery = 8

  /** Hidden delta-log dir under the replica root (leading dot: invisible
    * to Hadoop/Spark listings, so plain reads of the base never pick up
    * delta rows). */
  private val DeltaDirName = ".__delta"

  /** Layout marker at the replica root recording the bucket count the
    * replica was written with. `numBuckets` defines the key→bucket
    * mapping on DISK, so a caller passing a different value would remap
    * keys into fresh dirs while stale copies survive in the old ones —
    * silent duplicates. Was doc-only ("must stay constant"); since the
    * incremental compaction no longer re-buckets the whole base as a
    * side effect, the constraint is now ENFORCED. Underscore prefix =
    * invisible to Spark/Hadoop data listings. */
  private val LayoutFile = "_layout"
  private val layoutSeen =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def checkLayout(fs: FileSystem, base: Path,
      numBuckets: Int): Unit = {
    val cached = layoutSeen.get(base.toString)
    if (cached != null)
      check(cached.intValue == numBuckets,
        s"replica $base laid out with numBuckets=$cached, caller passed $numBuckets")
    else layoutSeen.synchronized {
      // serialized: two concurrent FIRST writers with different bucket
      // counts must not both adopt (check-then-act); after adoption the
      // lock-free cache path above carries every subsequent call
      val raced = layoutSeen.get(base.toString)
      if (raced != null)
        check(raced.intValue == numBuckets,
          s"replica $base laid out with numBuckets=$raced, caller passed $numBuckets")
      else {
        val p = new Path(base, LayoutFile)
        if (fs.exists(p)) {
          val in = fs.open(p)
          val n = try new String(in.readAllBytes(), "UTF-8").trim.toInt
            finally in.close()
          check(n == numBuckets,
            s"replica $base laid out with numBuckets=$n, caller passed $numBuckets")
        } else {
          // adopt — but never blindly: existing bucket dirs prove the
          // real modulus' LOWER bound, and a dir with id >= the adopted
          // count means the caller's modulus is provably wrong — stale
          // higher buckets would hold duplicate keys the incremental
          // compaction never rewrites. One cheap one-time LIST.
          val existing = gensOf(listRoot(fs, base)).map(_.bucket)
          check(existing.forall(_ < numBuckets),
            s"replica $base has bucket dir id_bucket=${existing.max} — " +
              s"cannot adopt numBuckets=$numBuckets")
          // tmp+rename like every other small-file commit here, so a
          // crash mid-write can never leave an empty marker that
          // poisons later startups
          val tmp = new Path(base, s".$LayoutFile.tmp")
          val out = fs.create(tmp, true)
          try out.write(numBuckets.toString.getBytes("UTF-8"))
          finally out.close()
          fs.delete(p, false)
          check(fs.rename(tmp, p), s"commit layout marker $p")
        }
        layoutSeen.put(base.toString, numBuckets)
      }
    }
  }

  /** Forget a replica's cached/persisted layout (snapshot = full
    * overwrite, truncate = fresh start — both may re-bucket). */
  private def resetLayout(fs: FileSystem, base: Path): Unit = {
    layoutSeen.remove(base.toString)
    fs.delete(new Path(base, LayoutFile), false)
  }

  /** Delta on-disk schema = [[summarizeBucketed]] output, passed
    * explicitly to reads to skip footer inference. */
  private[cdc] val DeltaSchema = StructType(Seq(
    StructField(BucketCol, IntegerType),
    StructField("id", IntegerType),
    StructField("last_img", StructType(Seq(
      StructField("lsn", LongType), StructField("name", StringType),
      StructField("uid", StringType), StructField("score", IntegerType)))),
    StructField("first_ins", StructType(Seq(
      StructField("lsn", LongType),
      StructField("created_at", TimestampType)))),
    StructField("last_d_lsn", LongType)))

  /** What the storage protocol needs to know about one summary layout:
    * the delta schema (the base schema is it minus the bucket column),
    * the key column, and the key→bucket expression for a bucket count.
    * The typed path uses [[PersonShape]]; [[MultiTable]] declares the
    * generic (key, JSON image) twin. */
  private[cdc] final case class Shape(deltaSchema: StructType, key: String,
      bucketOf: Int => Column) {
    val baseSchema: StructType =
      StructType(deltaSchema.fields.filterNot(_.name == BucketCol))
  }

  private[cdc] val PersonShape = Shape(DeltaSchema, "id",
    n => pmod(col("id"), lit(n)).cast("int"))

  /** Base-bucket file schema: identical to the deltas minus the bucket
    * column (that is the partition dir). One summary row per key that
    * ever existed — live keys and tombstones alike. */
  private[cdc] val BaseSchema = PersonShape.baseSchema

  /** Lift plain person rows into summary form: image and insert stamped
    * at `lsn` (0 for snapshots — every real change has lsn ≥ 1, so
    * stream events always outrank the initial copy), no delete. */
  def rowsAsSummaries(rows: DataFrame, lsn: Long = 0L): DataFrame =
    rows.select(
      col("id"),
      struct(lit(lsn).as("lsn"), col("name"), col("uid"), col("score"))
        .as("last_img"),
      struct(lit(lsn).as("lsn"), col("created_at")).as("first_ins"),
      lit(null).cast(LongType).as("last_d_lsn"))

  /** Project the live person rows out of folded summaries. A key is
    * alive iff an insert survives past the last delete; its image is
    * the last surviving write, its created_at the first surviving
    * insert's (the reference's ON CONFLICT preservation,
    * replicator/main.go:204-217). */
  def projectAlive(combined: DataFrame): DataFrame =
    combined.filter(col("first_ins").isNotNull)
      .select(col("id"),
        col("last_img.name").as("name"),
        col("last_img.uid").as("uid"),
        col("last_img.score").as("score"),
        col("first_ins.created_at").as("created_at"))

  /** Publication row filter (pubsub/main.go:79), with PostgreSQL's
    * row-filter UPDATE transformation semantics: an UPDATE whose new image
    * leaves the filter is published as DELETE, and one whose new image
    * enters the filter is published as INSERT (the old image may never
    * have reached the subscriber). Our I-fold is an upsert (ON CONFLICT
    * semantics), so U→I is safe when the row is already present too.
    * Deletes always pass through. */
  def withRowFilter(changes: Dataset[PersonChange], pred: Column)
      : Dataset[PersonChange] = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes
      .withColumn("action",
        when(col("action") === "D", lit("D"))
          .when(pred,
            when(col("action") === "U", lit("I")).otherwise(col("action")))
          .otherwise(lit("D")))
      .as[PersonChange]
  }

  /** Parity predicate of the reference publication:
    * `WHERE (score % 2 = 0)` (pubsub/main.go:79). */
  def parityPred: Column = col("score") % 2 === 0

  /** Typed cogroup fold — the TEST ORACLE for the merge semantics
    * (exact reference behavior, replicator/main.go:195-269):
    *  - I on absent key inserts; I on present key updates name/uid/score
    *    but PRESERVES created_at (ON CONFLICT DO UPDATE,
    *    replicator/main.go:204-217);
    *  - U on present key updates name/uid/score, created_at untouched
    *    (replicator/main.go:234-243); U on absent key is a no-op;
    *  - D removes (replicator/main.go:260-261).
    * Changes are applied in lsn order (slot order, SURVEY.md §2.9 T3).
    * Deliberately naive and readable; the engine path is
    * [[summarize]] + [[combineSummaries]] + [[projectAlive]], which
    * CdcSpec asserts equivalent on generated sequences. */
  /** Apply ONE change to a key's state — the reference's switch
    * statement as a pure function, shared by the cogroup oracle and the
    * state-store path ([[StatefulReplica]]). */
  def foldEvent(st: Option[PersonRow], ev: PersonChange): Option[PersonRow] =
    ev.action match {
      case "I" => st match {
        case Some(old) => Some(old.copy(name = ev.name.get,
          uid = ev.uid.get, score = ev.score.get))
        case None => Some(PersonRow(ev.id, ev.name.get, ev.uid.get,
          ev.score.get, ev.created_at.get))
      }
      case "U" => st.map(_.copy(name = ev.name.get, uid = ev.uid.get,
        score = ev.score.get))
      case "D" => None
      case _ => st
    }

  def applyChanges(current: Dataset[PersonRow],
      changes: Dataset[PersonChange]): Dataset[PersonRow] = {
    val spark = current.sparkSession
    import spark.implicits._
    current.groupByKey(_.id).cogroup(changes.groupByKey(_.id)) {
      (_, curIt, chIt) =>
        chIt.toSeq.sortBy(_.lsn)
          .foldLeft(curIt.toSeq.headOption)(foldEvent).iterator
    }
  }

  /** Reduce a micro-batch to ONE row per key — the per-key fold algebra,
    * expressed so the only state-dependent part is explicit:
    *
    *  - `last_d_lsn`: lsn of the key's last delete in the batch (null if
    *    none). Every event before it is irrelevant (state is absent right
    *    after it); every later event is I or U.
    *  - `first_ins`: the first INSERT after the last delete. If present
    *    the key ends the batch alive regardless of prior state; its
    *    created_at is used when the row wasn't already alive.
    *  - `last_img`: image (name/uid/score) of the last non-delete event
    *    after the last delete — the final image if the key ends alive.
    *    With no delete in the batch this is just the last I/U image,
    *    which also covers the all-UPDATE case.
    *
    * Struct max/min order by `lsn` first, so they are argmax/argmin by
    * lsn (lsn is unique per change). Everything is codegen'd: one window
    * (hash-partition by id) + one hash aggregate reusing the same
    * partitioning — a single batch-sized shuffle. */
  def summarize(batch: DataFrame, parallelism: Int = DefaultMergeParallelism)
      : DataFrame = {
    val byId = Window.partitionBy("id")
    val afterD = col("lsn") > coalesce(col("last_d_lsn"), lit(Long.MinValue))
    batch
      .repartition(parallelism, col("id"))
      .withColumn("last_d_lsn",
        max(when(col("action") === "D", col("lsn"))).over(byId))
      .groupBy("id")
      .agg(
        max(when(col("action") =!= "D" && afterD,
          struct(col("lsn"), col("name"), col("uid"), col("score"))))
          .as("last_img"),
        min(when(col("action") === "I" && afterD,
          struct(col("lsn"), col("created_at")))).as("first_ins"),
        max(col("last_d_lsn")).as("last_d_lsn"))
  }

  /** [[summarize]] with the shuffle keyed on `id_bucket` instead of raw
    * `id`: bucket is a function of id, so per-key grouping is preserved,
    * and — because the window/aggregate/merge-join/write downstream all
    * cluster on (bucket, id) ⊇ {bucket} — the ENTIRE apply path runs off
    * this single batch-sized shuffle: no re-shuffle before the join, and
    * each write task holds exactly its bucket(s), emitting one file per
    * bucket. */
  def summarizeBucketed(batch: DataFrame, numBuckets: Int = DefaultNumBuckets)
      : DataFrame = {
    val byKey = Window.partitionBy(BucketCol, "id")
    val afterD = col("lsn") > coalesce(col("last_d_lsn"), lit(Long.MinValue))
    batch
      .withColumn(BucketCol, pmod(col("id"), lit(numBuckets)).cast("int"))
      // repartition WITHOUT an explicit count: AQE sizes the exchange to
      // the batch (a trigger-sized batch folds to one partition → one
      // delta file; a bulk load fans out) — the fixed-width variant
      // either serialized bulk loads or sprayed 16 tiny files per
      // trigger, tripling compaction's scan cost
      .repartition(col(BucketCol))
      .withColumn("last_d_lsn",
        max(when(col("action") === "D", col("lsn"))).over(byKey))
      .groupBy(BucketCol, "id")
      .agg(
        max(when(col("action") =!= "D" && afterD,
          struct(col("lsn"), col("name"), col("uid"), col("score"))))
          .as("last_img"),
        min(when(col("action") === "I" && afterD,
          struct(col("lsn"), col("created_at")))).as("first_ins"),
        max(col("last_d_lsn")).as("last_d_lsn"))
  }

  /** A committed bucket generation: a parquet dir, or the empty marker
    * file of a bucket whose keys were all vacuumed. */
  private final case class Gen(bucket: Int, gen: Long, path: Path,
      isDir: Boolean)

  private def listRoot(fs: FileSystem, root: Path): Seq[FileStatus] =
    if (!fs.exists(root)) Seq.empty else fs.listStatus(root).toSeq

  private def gensOf(entries: Seq[FileStatus]): Seq[Gen] =
    entries.flatMap { st =>
      val n = st.getPath.getName
      if (!n.startsWith(BucketCol + "=")) None
      else {
        val Array(b, g) = n.stripPrefix(BucketCol + "=").split("\\.g")
        Some(Gen(b.toInt, g.toLong, st.getPath, st.isDirectory))
      }
    }

  private def newest(gens: Seq[Gen]): Map[Int, Gen] =
    gens.groupBy(_.bucket).map { case (b, gs) => b -> gs.maxBy(_.gen) }

  /** Compaction watermark file: holds the max batchId folded into the
    * base. Deltas with batchId ≤ watermark are ALREADY in the base and
    * must be ignored: re-applying only an OLDER delta would regress
    * keys whose newer image sat in a reclaimed one. The watermark makes
    * a fold's visible effect atomic: before the marker commits, the
    * full (idempotent) delta set is re-applied over whatever mix of
    * generations is on disk; after it, none are. */
  private val WatermarkFile = "_watermark"

  private def readWatermark(fs: FileSystem, dRoot: Path): Long = {
    val p = new Path(dRoot, WatermarkFile)
    // exists-then-open is a TOCTOU window against [[writeWatermark]]'s
    // delete-then-rename commit from a concurrent fold: a reader that
    // checks existence before the delete and opens after it dies on
    // FileNotFound mid-replace. Open-and-catch instead, retrying while
    // the marker exists: the exists=true/open-fails state can only be
    // the replace window, which a rename resolves in microseconds;
    // stable absence (never compacted) exits as MinValue on the first
    // check.
    while (fs.exists(p)) {
      try {
        val in = fs.open(p)
        return (
          try new String(in.readAllBytes(), "UTF-8").trim.toLong
          finally in.close())
      } catch { case _: java.io.FileNotFoundException => () }
    }
    Long.MinValue
  }

  private def writeWatermark(fs: FileSystem, dRoot: Path, id: Long): Unit = {
    val tmp = new Path(dRoot, s".$WatermarkFile.tmp")
    val out = fs.create(tmp, true)
    try out.write(id.toString.getBytes("UTF-8")) finally out.close()
    val dst = new Path(dRoot, WatermarkFile)
    fs.delete(dst, false)
    check(fs.rename(tmp, dst), s"commit watermark $dst")
  }

  private def batchIdOf(p: Path): Long =
    p.getName.stripPrefix("batch=").toLong

  private def deltaDirsOf(fs: FileSystem, dRoot: Path): Seq[Path] =
    if (!fs.exists(dRoot)) Seq.empty
    else fs.listStatus(dRoot).iterator.map(_.getPath)
      .filter(_.getName.startsWith("batch=")).toSeq

  /** Pending delta dirs: batch=<epoch> with epoch past the compaction
    * watermark. The watermark is read BEFORE the listing: a fold
    * committing in between only leaves already-folded dirs in the
    * list, which the idempotent fold absorbs. */
  private def listDeltas(fs: FileSystem, dRoot: Path): Seq[Path] = {
    val wm = readWatermark(fs, dRoot)
    deltaDirsOf(fs, dRoot).filter(batchIdOf(_) > wm)
  }

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def scanGens(spark: SparkSession, gens: Iterable[Gen],
      schema: StructType): DataFrame = {
    val dirs = gens.filter(_.isDir).map(_.path.toString).toSeq.sorted
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(dirs: _*)
  }

  private def scanDeltas(spark: SparkSession, dirs: Seq[Path], s: Shape)
      : DataFrame =
    spark.read.schema(s.deltaSchema).parquet(dirs.map(_.toString): _*)
      .select(s.deltaSchema.fieldNames.map(col).toSeq: _*)

  /** Fold per-key summaries (one row per key PER INPUT — deltas and/or
    * base) into one summary row per key. The algebra is commutative,
    * associative, and idempotent: the key's global last-delete lsn is
    * the max over inputs, and the surviving image / first-insert are
    * the arg-max / arg-min by lsn of the input structs strictly past it
    * (struct ordering is lsn-first, and lsns are unique) — so fold
    * ORDER never matters, re-folding an already-folded delta is a
    * no-op, and out-of-lsn-order micro-batches converge. One shuffle on
    * `keys.head` feeds the window, the aggregate, and (at compaction,
    * where keys = (bucket, id)) the bucket-partitioned write. */
  def combineSummaries(summaries: DataFrame, keys: Seq[String],
      width: Option[Int] = None): DataFrame = {
    val kc = keys.map(col)
    val byKey = Window.partitionBy(kc: _*)
    def afterD(lsn: Column): Column =
      lsn > coalesce(col("dl"), lit(Long.MinValue))
    width.fold(summaries)(w => summaries.repartition(w, kc.head))
      .withColumn("dl", max(col("last_d_lsn")).over(byKey))
      .groupBy(kc: _*)
      .agg(
        max(when(afterD(col("last_img.lsn")), col("last_img")))
          .as("last_img"),
        min(when(afterD(col("first_ins.lsn")), col("first_ins")))
          .as("first_ins"),
        max(col("last_d_lsn")).as("last_d_lsn"))
  }

  /** The merge-on-read summaries of one replica: each bucket's newest
    * generation ∪ the pending deltas, folded to one row per key
    * (tombstones included). Deltas are listed BEFORE the base — see the
    * header for why that order makes every interleaving with a fold
    * exact. With no pending deltas the newest generations already hold
    * one row per key, so the read is a pure scan. */
  private[cdc] def readWith(spark: SparkSession, dir: String, s: Shape)
      : DataFrame = {
    val (fs, root) = fsOf(spark, dir)
    val deltaDirs = listDeltas(fs, new Path(root, DeltaDirName))
    val base = scanGens(spark, newest(gensOf(listRoot(fs, root))).values,
      s.baseSchema)
    if (deltaDirs.isEmpty) base
    else combineSummaries(base.unionAll(scanDeltas(spark, deltaDirs, s)
      .select(s.baseSchema.fieldNames.map(col).toSeq: _*)), Seq(s.key))
  }

  /** Read the replica — the live rows of [[readWith]]'s merge-on-read
    * view (empty if nothing was ever written). */
  def readReplica(spark: SparkSession, replicaDir: String)
      : Dataset[PersonRow] = {
    import spark.implicits._
    projectAlive(readWith(spark, replicaDir, PersonShape)).as[PersonRow]
  }

  /** In-flight background compactions, one slot per replica dir: at
    * most one async fold per replica, and the handle
    * [[awaitCompactions]] joins. */
  private val compacting =
    new java.util.concurrent.ConcurrentHashMap[String, Thread]()

  /** Triggers per replica dir since its last fold ended. The next async
    * fold waits for `compactEvery` of them, so what a fold supersedes
    * survives at least `compactEvery` triggers past its commit even
    * when folds run longer than a trigger — counting only pending
    * deltas would start the next fold (and its reclaim) right after a
    * long one. */
  private val triggersSinceFold =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Replica dirs with a bulk lifecycle op (snapshot, vacuum, truncate)
    * in flight — the twin of [[ManifestReplica]]'s flag. Concurrent
    * bulk ops fail fast on it, and triggers skip the compaction
    * threshold while it is set, so new folds neither starve the op's
    * write lock nor run a base read from before its rewrite; delta
    * writes stay allowed (the next fold consumes them against the
    * post-op base). */
  private val lifecycleOps =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def lifecycleBusy(dir: String): Boolean =
    lifecycleOps.contains(dir)

  /** Per-replica-dir READ-WRITE locks: the trigger (delta write/commit,
    * threshold folds) and the async fold take the SHARED side — they
    * never contend with each other, preserving the async design's
    * trigger-stays-O(batch) property — while operator ops that rewrite
    * or delete state (snapshot, vacuum, truncate, the public compacts)
    * take the EXCLUSIVE side, so a truncate can never delete a delta
    * mid-commit and a vacuum never folds beside another fold. Readers
    * take no lock. */
  private val dirLocks = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.locks.ReentrantReadWriteLock]()

  private def rwLock(dir: String) =
    dirLocks.computeIfAbsent(dir,
      _ => new java.util.concurrent.locks.ReentrantReadWriteLock())

  private[cdc] def shared[A](dir: String)(body: => A): A = {
    val l = rwLock(dir).readLock(); l.lock()
    try body finally l.unlock()
  }

  private[cdc] def exclusive[A](dir: String)(body: => A): A = {
    val l = rwLock(dir).writeLock(); l.lock()
    try body finally l.unlock()
  }

  private[graft] def withLifecycle[A](dir: String)(body: => A): A = {
    check(lifecycleOps.add(dir), s"lifecycle op already in flight at $dir")
    try body finally lifecycleOps.remove(dir)
  }

  /** Join any in-flight background compactions (clean-shutdown hook:
    * call before `spark.stop()` so a mid-flight fold isn't killed with
    * the context — killed folds are still crash-safe, just wasted). */
  def awaitCompactions(): Unit =
    compacting.values().toArray(Array.empty[Thread]).foreach(_.join())

  /** Join only ONE replica dir's in-flight async fold — what a
    * lifecycle op needs (the global join would stall on unrelated
    * tables' folds in a multi-table deployment). */
  private def awaitCompactions(replicaDir: String): Unit =
    Option(compacting.get(replicaDir)).foreach(_.join())

  /** Apply one micro-batch to the bucketed replica. Idempotent: replaying
    * the last batch after a crash converges to the same state.
    * `numBuckets` must stay constant for a replica's lifetime (it defines
    * the key → bucket mapping; [[checkLayout]] enforces it).
    *
    * `batchId` is the delta's identity and MUST be monotonically
    * increasing across distinct batches for one replica (the streaming
    * path threads the foreachBatch epoch): re-using an id means "this
    * is a REPLAY of that batch" — the delta is overwritten in place,
    * and an id at or below the compaction watermark is discarded as
    * already-applied (both exactly right for crash replay, both data
    * loss if a NEW batch wears an old id). No default value so a direct
    * caller must choose one consciously. */
  def applyBatch(spark: SparkSession, batch: Dataset[PersonChange],
      replicaDir: String, numBuckets: Int = DefaultNumBuckets,
      batchId: Long,
      compactEvery: Int = DefaultCompactEvery,
      compactAsync: Boolean = false): Unit =
    applyWith(spark, replicaDir, summarizeBucketed(batch.toDF(), numBuckets),
      PersonShape, numBuckets, batchId, compactEvery, compactAsync)

  /** One trigger against one replica: commit `summary` (one row per key,
    * with the bucket column) as delta `batch=<batchId>`, then fold once
    * `compactEvery` deltas are pending — inline, or on a background
    * thread when `compactAsync`. */
  private[cdc] def applyWith(spark: SparkSession, dir: String,
      summary: DataFrame, s: Shape, numBuckets: Int, batchId: Long,
      compactEvery: Int, compactAsync: Boolean): Unit = {
    val (fs, root) = fsOf(spark, dir)
    shared(dir) {
      checkLayout(fs, root, numBuckets)
      val dRoot = new Path(root, DeltaDirName)
      // ONE O(batch) job per trigger: no base read, no bucket rewrite,
      // no driver collect
      val tmp = new Path(dRoot, s".tmp-$batchId")
      fs.delete(tmp, true)
      summary.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      // commit: replace-then-rename — replaying this batchId after a
      // crash rebuilds the identical delta, so the replace is idempotent
      val dst = new Path(dRoot, s"batch=$batchId")
      fs.delete(dst, true)
      check(fs.rename(tmp, dst), s"commit delta $dst")
      val due = listDeltas(fs, dRoot).size >= compactEvery &&
        !lifecycleBusy(dir)
      if (!compactAsync) { if (due) foldWith(spark, fs, dir, numBuckets, s) }
      else if (triggersSinceFold.merge(dir, 1, _ + _) >= compactEvery && due)
        foldAsync(spark, fs, dir, numBuckets, s, batchId)
    }
  }

  /** Start a background fold unless one is already running for `dir`
    * (the Hudi pattern): the trigger path stays O(batch) — readers
    * already merge deltas, so visibility gains nothing from an inline
    * fold, and the fold's lumpy cost leaves the latency envelope. */
  private def foldAsync(spark: SparkSession, fs: FileSystem, dir: String,
      numBuckets: Int, s: Shape, batchId: Long): Unit =
    if (!compacting.containsKey(dir)) {
      val t = new Thread(() => {
        // the fold's jobs run in their OWN scheduler pool: under a FAIR
        // session (spark.scheduler.mode=FAIR — Bench and any
        // latency-sensitive deployment set it) the pool time-slices
        // task slots with the trigger's default pool, so a fold's jobs
        // never queue ahead of the next trigger's. Inert under FIFO.
        spark.sparkContext.setLocalProperty(
          "spark.scheduler.pool", "graft-compact")
        // a spawn that raced a starting lifecycle op parks here until
        // the op finishes, then re-checks the flag
        try shared(dir) {
          // bounded footprint: at most [[ManifestReplica.AsyncFoldMaxTasks]]
          // slots at any instant — FAIR weights share slots only at
          // task boundaries, so a full-width merge launched into a
          // trigger gap would convoy the next trigger's write behind
          // whole fold-task durations
          if (!lifecycleBusy(dir))
            foldWith(spark, fs, dir, numBuckets, s,
              maxTasks = Some(ManifestReplica.AsyncFoldMaxTasks))
        }
        catch { case e: Throwable =>
          System.err.println(s"[cdc] async compaction failed (deltas stay live, next trigger retries): $e")
        } finally compacting.remove(dir)
      }, s"graft-compact-$batchId")
      t.setDaemon(true)
      if (compacting.putIfAbsent(dir, t) == null) t.start()
    }

  /** Delete what earlier folds superseded: stray stage dirs of a killed
    * fold, every generation below its bucket's newest, the marker of an
    * emptied bucket (only once its older generations are gone, so none
    * can resurface in between), and deltas at or below the watermark.
    * Returns the newest generation dir of each bucket and the next
    * generation number. */
  private def reclaim(fs: FileSystem, root: Path): (Map[Int, Gen], Long) = {
    val entries = listRoot(fs, root)
    entries.filter(_.getPath.getName.startsWith(StagePrefix))
      .foreach(st => fs.delete(st.getPath, true))
    val gens = gensOf(entries)
    val top = newest(gens)
    gens.filterNot(g => top(g.bucket) == g)
      .foreach(g => check(fs.delete(g.path, true), s"reclaim ${g.path}"))
    top.values.filterNot(_.isDir)
      .foreach(g => check(fs.delete(g.path, false), s"reclaim ${g.path}"))
    val dRoot = new Path(root, DeltaDirName)
    val wm = readWatermark(fs, dRoot)
    deltaDirsOf(fs, dRoot).filter(batchIdOf(_) <= wm)
      .foreach(fs.delete(_, true))
    (top.filter(_._2.isDir), (0L +: gens.map(_.gen)).max + 1)
  }

  /** Commit bucket-partitioned summaries as generation `gen`: Spark
    * writes them into a hidden stage dir, then each bucket commits with
    * ONE dir rename. A bucket of `cover` the output lacks (every key
    * vacuumed) commits an empty marker file instead. */
  private def commitGen(fs: FileSystem, root: Path, out: DataFrame,
      cover: Set[Int], gen: Long): Unit = {
    val stage = new Path(root, s"$StagePrefix$gen")
    out.write.mode(SaveMode.Overwrite).partitionBy(BucketCol)
      .parquet(stage.toString)
    val written = fs.listStatus(stage).iterator.map(_.getPath)
      .filter(_.getName.startsWith(BucketCol + "=")).map { p =>
        val b = p.getName.stripPrefix(BucketCol + "=").toInt
        check(fs.rename(p, new Path(root, genName(b, gen))), s"commit $p")
        b
      }.toSet
    (cover -- written).foreach(b =>
      fs.create(new Path(root, genName(b, gen)), false).close())
    fs.delete(stage, true)
  }

  /** One fold: [[reclaim]], then fold the pending deltas into the newest
    * generation of every bucket they TOUCH and commit the result as the
    * next generation, then the watermark. The touched-bucket set comes
    * off the small deltas (a collect bounded by `numBuckets`) and only
    * those buckets' dirs are read, so an untouched bucket's dir is
    * byte-stable and the fold stays O(hot data), not O(replica), at
    * thousands of buckets. Base and deltas share one summary schema,
    * so the fold is a pure union + [[combineSummaries]] — no join: one
    * bucket-keyed exchange feeds the window, the aggregate, AND the
    * bucket-partitioned write. Dead keys persist as tombstones.
    *
    * `vacuum` instead re-generates EVERY bucket with its tombstones
    * dropped (an all-tombstone bucket commits the empty marker). */
  private def foldWith(spark: SparkSession, fs: FileSystem, dir: String,
      numBuckets: Int, s: Shape, vacuum: Boolean = false,
      maxTasks: Option[Int] = None): Unit = try {
    val root = new Path(dir)
    val (live, gen) = reclaim(fs, root)
    val dRoot = new Path(root, DeltaDirName)
    val deltaDirs = listDeltas(fs, dRoot)
    val deltas = if (deltaDirs.isEmpty) None
      else Some(scanDeltas(spark, deltaDirs, s))
    val touched = deltas.fold(Set.empty[Int])(
      _.select(BucketCol).distinct().collect().map(_.getInt(0)).toSet)
    val cover = if (vacuum) touched ++ live.keySet else touched
    if (cover.nonEmpty) {
      val base = scanGens(spark, cover.flatMap(live.get), s.baseSchema)
        .withColumn(BucketCol, s.bucketOf(numBuckets))
        .select(s.deltaSchema.fieldNames.map(col).toSeq: _*)
      val merged = combineSummaries(deltas.fold(base)(base.unionAll),
        Seq(BucketCol, s.key),
        width = Some(maxTasks.fold(cover.size)(math.min(cover.size, _))))
      commitGen(fs, root,
        if (vacuum) merged.filter(col("first_ins").isNotNull) else merged,
        cover, gen)
      // commit point: once the watermark lands the consumed deltas are
      // invisible everywhere; the next fold reclaims them
      if (deltaDirs.nonEmpty)
        writeWatermark(fs, dRoot, deltaDirs.map(batchIdOf).max)
    }
  } finally triggersSinceFold.put(dir, 0)

  /** Operator-invoked fold of all pending deltas (the public entry over
    * the fold the trigger path schedules, for any [[Shape]]): joins the
    * dir's async fold, then folds under the exclusive lock. */
  private[cdc] def compactWith(spark: SparkSession, dir: String,
      numBuckets: Int, s: Shape): Unit = {
    awaitCompactions(dir)
    exclusive(dir) {
      val (fs, root) = fsOf(spark, dir)
      checkLayout(fs, root, numBuckets)
      foldWith(spark, fs, dir, numBuckets, s)
    }
  }

  /** Operator-invoked fold of all pending deltas into the base — read
    * amplification drops to zero until new deltas land. */
  def compactNow(spark: SparkSession, replicaDir: String,
      numBuckets: Int = DefaultNumBuckets): Unit =
    compactWith(spark, replicaDir, numBuckets, PersonShape)

  /** [[vacuum]] for any [[Shape]]: a registered lifecycle op (concurrent
    * bulk ops fail fast), fold joined BEFORE the write lock (joining a
    * fold parked on the shared side while holding it would deadlock). */
  private[cdc] def vacuumWith(spark: SparkSession, dir: String,
      numBuckets: Int, s: Shape): Unit =
    withLifecycle(dir) {
      awaitCompactions(dir)
      exclusive(dir) {
        val (fs, root) = fsOf(spark, dir)
        checkLayout(fs, root, numBuckets)
        foldWith(spark, fs, dir, numBuckets, s, vacuum = true)
      }
    }

  /** Physically remove tombstones, folding any pending deltas in the
    * same pass. Safe once the source can no longer deliver changes with
    * lsns below the tombstones' delete lsns — the Postgres slot contract
    * (confirmed_flush_lsn only advances; replicator/main.go:159-164
    * consumes with get_changes, which advances it). Until then,
    * tombstones are load-bearing: they are what absorbs a reordered or
    * replayed older event without resurrecting a deleted row. A bucket
    * whose keys are all tombstones reads empty at once, and its last
    * dir goes with the next fold. */
  def vacuum(spark: SparkSession, replicaDir: String,
      numBuckets: Int = DefaultNumBuckets): Unit =
    vacuumWith(spark, replicaDir, numBuckets, PersonShape)

  /** Truncate the replica (S9 — `TRUNCATE TABLE person RESTART IDENTITY`
    * before a subscription re-copy, pubsub/main.go:88): drop every
    * bucket generation, stage dir, the delta log and the compaction
    * watermark, leaving an empty replica root ready for a fresh
    * [[snapshot]] + stream. */
  def truncate(spark: SparkSession, replicaDir: String): Unit =
    withLifecycle(replicaDir) {
      awaitCompactions(replicaDir)
      exclusive(replicaDir) { truncateLocked(spark, replicaDir) }
    }

  private def truncateLocked(spark: SparkSession, replicaDir: String): Unit = {
    val (fs, root) = fsOf(spark, replicaDir)
    listRoot(fs, root).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(BucketCol + "=") || n.startsWith(StagePrefix) ||
          n == DeltaDirName)
        check(fs.delete(st.getPath, true), s"truncate $n")
    }
    resetLayout(fs, root) // a fresh snapshot may re-bucket
  }

  /** [[snapshot]] for any [[Shape]]: `summaries` (one row per key, no
    * bucket column) fully replace the replica as generation 1. */
  private[cdc] def snapshotWith(spark: SparkSession, dir: String,
      numBuckets: Int, summaries: DataFrame, s: Shape): Unit =
    withLifecycle(dir) {
      awaitCompactions(dir)
      exclusive(dir) {
        val (fs, root) = fsOf(spark, dir)
        truncateLocked(spark, dir)
        commitGen(fs, root,
          summaries.withColumn(BucketCol, s.bucketOf(numBuckets)),
          Set.empty, gen = 1L)
        checkLayout(fs, root, numBuckets) // stamp the fresh layout
      }
    }

  /** Initial snapshot (phase 2 of the replicator,
    * replicator/main.go:98-140): bulk-load existing rows into the replica,
    * fully replacing any previous state. The slot-before-copy overlap
    * trick becomes "snapshot then start the stream from offset 0;
    * overlapping changes re-fold idempotently". */
  def snapshot(spark: SparkSession, rows: Dataset[PersonRow],
      replicaDir: String, numBuckets: Int = DefaultNumBuckets): Unit =
    snapshotWith(spark, replicaDir, numBuckets, rowsAsSummaries(rows.toDF()),
      PersonShape)

  /** Snapshot diff — the INVERSE of replication: given two table
    * states, re-derive the minimal change set (I/U/D by key) that maps
    * `oldSnap` to `newSnap`. This is how a pipeline bootstraps CDC for
    * a source with no changelog (the Debezium snapshot-mode analog of
    * pubsub's `copy_data=true` initial sync, pubsub/main.go:96-104),
    * and how replica drift is audited against a fresh extract.
    *
    * One full-outer equi-join on the key: with both snapshots bucketed
    * by key (the replica layout) the join is co-partitioned and
    * exchange-free; otherwise it is the single unavoidable keyed
    * shuffle. Unchanged rows drop before any downstream work. All
    * image columns are non-null in snapshots, so plain `=!=`
    * classification is total. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    val o = oldSnap.select(col("id").as("o_id"), col("name").as("o_name"),
      col("uid").as("o_uid"), col("score").as("o_score"),
      col("created_at").as("o_created_at"))
    val n = newSnap.select(col("id").as("n_id"), col("name").as("n_name"),
      col("uid").as("n_uid"), col("score").as("n_score"),
      col("created_at").as("n_created_at"))
    o.join(n, col("o_id") === col("n_id"), "full_outer")
      .withColumn("op",
        when(col("o_id").isNull, "I")
          .when(col("n_id").isNull, "D")
          .when(col("o_name") =!= col("n_name") ||
            col("o_uid") =!= col("n_uid") ||
            col("o_score") =!= col("n_score") ||
            col("o_created_at") =!= col("n_created_at"), "U")
          .otherwise("="))
      .filter(col("op") =!= "=")
      .select(coalesce(col("n_id"), col("o_id")).as("id"), col("op"),
        col("n_name").as("name"), col("n_uid").as("uid"),
        col("n_score").as("score"), col("n_created_at").as("created_at"))
      .orderBy("id")
  }

  /** The continuous pipeline: change log → parse → optional publication
    * row filter → keyed merge, every `trigger` interval (the 2 s poll,
    * replicator/main.go:154; README.md:35). */
  def start(spark: SparkSession, changeDir: String, replicaDir: String,
      checkpointDir: String, rowFilter: Option[Column] = None,
      numBuckets: Int = DefaultNumBuckets,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds"),
      maxFilesPerTrigger: Option[Int] = None,
      compactEvery: Int = DefaultCompactEvery)
      : StreamingQuery =
    startFrom(spark,
      ChangeSource.readStream(spark, changeDir, maxFilesPerTrigger),
      replicaDir, checkpointDir, rowFilter, numBuckets, trigger,
      compactEvery)

  /** [[start]] with a dead-letter sink: every non-`ok` raw line lands in
    * `quarantineDir` as parquet (value, verdict, batch) instead of being
    * silently dropped — the operational T9 shape (log-and-continue with
    * the log being queryable). One extra O(batch) classify + append per
    * trigger; the replica path is unchanged. (parse additionally
    * requires the id VALUE to cast — a structurally-ok line with a
    * non-integer id is quarantine-invisible by design: the classifier
    * routes structure, the parser owns typing.) */
  def startWithQuarantine(spark: SparkSession, changeDir: String,
      replicaDir: String, checkpointDir: String, quarantineDir: String,
      rowFilter: Option[Column] = None,
      numBuckets: Int = DefaultNumBuckets,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds"),
      maxFilesPerTrigger: Option[Int] = None,
      compactEvery: Int = DefaultCompactEvery): StreamingQuery = {
    val reader = spark.readStream.format("text")
    val lines = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .load(changeDir)
    lines.writeStream
      .queryName("graft-replicate")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val classified = ChangeSource.classify(batch)
        // one OVERWRITTEN dir per epoch, not a blind append: replaying
        // the epoch after a crash rewrites the same dir instead of
        // duplicating its dead letters — the sink stays exactly-once
        // like the replica. Readers see `batch` as a partition column.
        classified.filter(col("verdict") =!= "ok")
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$quarantineDir/batch=$epochId")
        val parsed = ChangeSource.parse(batch)
        val filtered =
          rowFilter.map(withRowFilter(parsed, _)).getOrElse(parsed)
        applyBatch(spark, filtered, replicaDir, numBuckets,
          batchId = epochId, compactEvery = compactEvery,
          compactAsync = true)
      }
      .start()
  }

  /** Source-agnostic pipeline entry: any parsed change stream
    * (wal2json, Debezium, Kafka+either envelope) drives the same
    * filter → merge dataflow. */
  def startFrom(spark: SparkSession, changes: Dataset[PersonChange],
      replicaDir: String, checkpointDir: String,
      rowFilter: Option[Column] = None,
      numBuckets: Int = DefaultNumBuckets,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds"),
      compactEvery: Int = DefaultCompactEvery)
      : StreamingQuery = {
    val filtered = rowFilter.map(withRowFilter(changes, _)).getOrElse(changes)
    filtered.writeStream
      .queryName("graft-replicate")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[PersonChange], epochId: Long) =>
        applyBatch(spark, batch, replicaDir, numBuckets,
          batchId = epochId, compactEvery = compactEvery,
          compactAsync = true)
      }
      .start()
  }
}
