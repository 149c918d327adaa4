package graft.cdc

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Object-store commit protocol for the CDC replica — the deployment
  * shape [[Replicate]]'s header points at for S3-class stores.
  *
  * [[Replicate]] commits by directory rename: atomic and cheap on
  * HDFS/local, but an S3 "rename" is a copy+delete per key — neither
  * atomic nor O(1). The fix is the table-format pattern (public
  * Delta/Iceberg design): **data files are never the commit point; a
  * single small manifest file is.** Readers never list directories —
  * they read the newest manifest and open exactly the bucket
  * generations and delta batches it names. Data placement can then use
  * any non-atomic means (a multi-part upload, a tmp+move, a partial
  * crash leftover): until a manifest names a dir, it does not exist.
  * The commit itself is one `create` of `_manifest.v<N+1>` — a fresh
  * key, so it maps to a single atomic PUT on an object store and an
  * atomic create+rename on HDFS; there is no delete-then-rename window
  * anywhere in the protocol.
  *
  * Layout under the replica root:
  * {{{
  *   _manifest.v<N>        one line-oriented commit record per version;
  *                         max N wins, last [[ManifestHistory]] retained
  *   data/b<bkt>-g<gen>/   one parquet dir per bucket GENERATION
  *   delta/batch=<id>/     per-trigger summary deltas (Replicate schema)
  * }}}
  *
  * Scale notes (the 100 TB story):
  *  - **Compaction is incremental** (as is [[Replicate]]'s fold): only
  *    buckets that actually appear in the pending deltas get a new
  *    generation; an untouched bucket's dir is
  *    byte-identical across commits, and the fold reads only the
  *    touched buckets' base dirs (explicit path list = partition
  *    pruning by construction).
  *  - The touched-bucket list is a `collect()` bounded by `numBuckets`
  *    (thousands at 100 TB — driver-trivial), taken from the deltas,
  *    which are O(batches since last compaction), never from the base.
  *  - The manifest stays O(numBuckets + pending deltas) — a few KB at
  *    thousands of buckets; one PUT per trigger is well inside any
  *    object store's request budget.
  *
  * Crash safety: every path below does arbitrary non-atomic data-file
  * work FIRST and one fresh-key manifest create LAST. A crash anywhere
  * before the create leaves orphan dirs no manifest names — invisible
  * to readers, reclaimed by [[gc]]; a crash after is a completed
  * commit. Replays re-derive the same state: a delta batch already
  * named by the manifest is skipped outright (its content is
  * deterministic in the epoch), one at or below the compaction
  * watermark is discarded.
  *
  * Concurrency: commits go through an optimistic CAS loop
  * ([[commitUpdate]]) — each version is claimed by an atomic exclusive
  * create (`File.createNewFile` O_EXCL on local FS,
  * `create(overwrite=false)` on HDFS — a true cross-process CAS on
  * both; S3-class stores must plug a conditional PUT into
  * [[claimImpl]] or deploy single-writer), and every committer's
  * change is a re-appliable logical update, so the trigger path and a
  * background compaction fold can land in either order without losing
  * each other's work. Bulk lifecycle ops (snapshot/vacuum/truncate)
  * set a per-replica flag that pauses new compaction folds for their
  * duration; gc sweeps under the commit lock.
  *
  * Reader retention (the standard table-format trade): a reader
  * resolves a manifest once at plan time, so reclamation must not race
  * readers. Commits therefore NEVER delete data — consumed deltas and
  * superseded generations stay on disk until the operator's explicit
  * [[gc]]/[[vacuum]] (Delta/Iceberg VACUUM semantics), invoked with
  * whatever grace period the deployment owes its slowest reader. The
  * retained manifest history ([[ManifestHistory]] versions) is
  * therefore snapshot-isolated time travel: [[readReplicaAt]]. (The
  * rename-path twin reclaims inside its folds instead, one fold late: a
  * superseded generation or consumed delta survives one fold cycle, so
  * only a reader slower than that fails on a missing file.)
  *
  * Schema evolution: fixed at compile time by design, same documented
  * decision as [[Replicate]] — widening deployments use the generic
  * declared-schema twin ([[ManifestMultiTable]] with one [[TableSpec]]),
  * whose JSON image map makes a widened schema a read-side change. */
object ManifestReplica {
  import Replicate.{BucketCol, PersonShape, Shape, check, combineSummaries,
    fsOf, projectAlive, rowsAsSummaries, summarizeBucketed, withRowFilter}

  /** One committed replica state. `gen` is the high-water generation
    * counter (monotone across commits, never reused — so a crashed
    * writer's orphan `b<k>-g<gen+1>` dir can collide only with the
    * NEXT attempt of the same fold, which deletes it first). */
  final case class Manifest(gen: Long, watermark: Long,
      buckets: Map[Int, Long], deltas: Set[Long], mod: Int = 0) {
    def bucketDir(root: String, b: Int): String =
      s"$root/data/b$b-g${buckets(b)}"
    def deltaDir(root: String, id: Long): String = s"$root/delta/batch=$id"
  }
  private val Empty = Manifest(0L, Long.MinValue, Map.empty, Set.empty)

  /** `numBuckets` defines the key→bucket mapping on disk, so it must
    * stay constant for a replica's lifetime (a different modulus would
    * remap keys into fresh dirs while stale copies survive — silent
    * duplicates on the no-delta read path). The manifest CARRIES the
    * modulus (`mod=`; 0 = a manifest that predates the field, adopted
    * on next commit) and every writer checks it. */
  private[cdc] def checkMod(m: Manifest, numBuckets: Int, what: String): Unit =
    check(m.mod == 0 || m.mod == numBuckets,
      s"$what: replica laid out with numBuckets=${m.mod}, caller passed $numBuckets")

  private val ManifestPrefix = "_manifest.v"
  private val Header = "graft-manifest-v1"

  /** Manifest versions retained by the commit-time trim — the time-
    * travel window ([[readReplicaAt]]). Data files those versions name
    * stay on disk until [[gc]], so every retained version is readable.
    * Production tunes this to the retention the deployment owes its
    * readers (the Delta/Iceberg VACUUM trade). */
  val ManifestHistory = 4

  /** Committed manifest versions on disk, ascending (history depth =
    * [[ManifestHistory]] until [[gc]]/[[vacuum]] prune). */
  private def listVersions(fs: FileSystem, root: Path): Seq[Long] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).iterator.map(_.getPath.getName)
      .filter(_.startsWith(ManifestPrefix))
      .map(_.stripPrefix(ManifestPrefix).toLong).toSeq.sorted

  private[graft] def readManifestAt(fs: FileSystem, root: Path, v: Long)
      : Manifest = {
    val in = fs.open(new Path(root, s"$ManifestPrefix$v"))
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val lines = text.linesIterator.toSeq
    require(lines.headOption.contains(Header), s"bad manifest v$v")
    var m = Empty
    lines.tail.foreach { l =>
      l.split("=", 2) match {
        case Array("gen", g) => m = m.copy(gen = g.toLong)
        case Array("mod", n) => m = m.copy(mod = n.toInt)
        case Array("watermark", w) => m = m.copy(watermark = w.toLong)
        case Array("delta", d) => m = m.copy(deltas = m.deltas + d.toLong)
        case Array("bucket", bg) =>
          val Array(b, g) = bg.split(":", 2)
          m = m.copy(buckets = m.buckets + (b.toInt -> g.toLong))
        case _ => // forward-compatible: unknown keys ignored
      }
    }
    m
  }

  /** Newest committed manifest, with its version (0 if none). */
  private[cdc] def readManifest(fs: FileSystem, root: Path): (Long, Manifest) = {
    val versions = listVersions(fs, root)
    if (versions.isEmpty) (0L, Empty)
    else (versions.max, readManifestAt(fs, root, versions.max))
  }

  /** How long a claim marker with no manifest behind it must sit before
    * a committer treats it as a crashed claimant's leftover and reclaims
    * the version number (the claim→rename window is milliseconds; 30 s
    * of quiescence is orders of magnitude past it). */
  private val StaleClaimMs = 30000L

  /** Cross-process exclusive create — the commit protocol's one true
    * CAS primitive. A check-then-act `!exists && rename` would not do:
    * POSIX rename replaces an existing target, so two processes could
    * both pass the check and one commit would silently vanish. Local
    * FS: `File.createNewFile`, documented atomic (O_EXCL). HDFS-like stores: `create(overwrite = false)`,
    * an atomic namespace operation. S3-class stores have no conditional
    * create through the generic FileSystem API — a deployment there
    * must either plug a conditional-PUT implementation into this seam
    * (the public Delta LogStore pattern) or run single-writer; plain
    * S3A gives NO cross-process commit safety on its own. */
  private[graft] var claimImpl: (FileSystem, Path) => Boolean =
    (fs, marker) => fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem |
           _: org.apache.hadoop.fs.RawLocalFileSystem =>
        new java.io.File(marker.toUri.getPath).createNewFile()
      case _ =>
        try { fs.create(marker, false).close(); true }
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.io.IOException => false
        }
    }

  /** Second half of the claim seam: is the claim we made still
    * standing? The history trim REVOKES long-stalled claims by deleting
    * their markers ([[commitUpdate]]); [[tryCommit]] re-checks through
    * this hook immediately before its publish rename so a committer
    * stalled past the marker-retention window aborts instead of
    * resurrecting a trimmed version number. A deployment plugging a
    * store-side [[claimImpl]] must plug the matching existence probe
    * here (and revoke claims in its trim path) — the two halves travel
    * together. */
  private[graft] var claimHeldImpl: (FileSystem, Path) => Boolean =
    (fs, marker) => fs.exists(marker)

  /** Serialize stale-claim reclaimers for one version. Local FS: an OS
    * file lock on `.reclaim-v<v>.lock` — atomic across processes AND
    * released by the kernel if its holder crashes, so reclaim needs no
    * staleness scheme of its own (lock files are NEVER deleted, not
    * even by [[truncate]]: on POSIX a deleted-and-recreated lock path
    * means two holders locking different inodes, and this JVM caches
    * its channel per path — they are 0-byte and only appear after a
    * crash recovery). Same-JVM
    * contenders surface as OverlappingFileLockException → busy. Other
    * stores: exclusive create of a reclaim tombstone, itself stolen by
    * atomic rename-aside when aged (a crashed reclaimer); the
    * residual window there needs a crashed reclaimer OF a crashed
    * claimant raced within milliseconds after 30 s of quiescence. */
  private val reclaimChannels = new java.util.concurrent
    .ConcurrentHashMap[String, java.nio.channels.FileChannel]()

  private def withReclaimLock(fs: FileSystem, root: Path, v: Long)
      (body: => Boolean): Boolean = fs match {
    case _: org.apache.hadoop.fs.LocalFileSystem |
         _: org.apache.hadoop.fs.RawLocalFileSystem =>
      val lockPath = java.nio.file.Paths.get(
        root.toUri.getPath, s".reclaim-v$v.lock")
      try {
        // ONE channel per lock path per JVM, cached and NEVER closed:
        // per the FileLock javadoc, closing ANY channel on
        // the file releases every lock this JVM holds on it — so a
        // same-JVM loser's close would silently drop the holder's lock
        // mid-reclaim and let another process in. The cache is bounded
        // by reclaim events (crash recoveries), each one 0-byte.
        val ch = reclaimChannels.computeIfAbsent(lockPath.toString, _ =>
          java.nio.channels.FileChannel.open(lockPath,
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.WRITE))
        val lk =
          try ch.tryLock()
          catch {
            case _: java.nio.channels.OverlappingFileLockException => null
          }
        if (lk == null) false
        else try body finally lk.release()
      } catch { case _: java.io.IOException => false }
    case _ =>
      val tomb = new Path(root, s".reclaim-v$v")
      def grab(): Boolean =
        try { fs.create(tomb, false).close(); true }
        catch { case _: java.io.IOException => false }
      val acquired = grab() || {
        val stale =
          try System.currentTimeMillis() -
            fs.getFileStatus(tomb).getModificationTime > StaleClaimMs
          catch { case _: java.io.FileNotFoundException => false }
        stale && {
          val aside =
            new Path(root, s".reaped-t$v-${java.util.UUID.randomUUID()}")
          (try fs.rename(tomb, aside)
           catch { case _: java.io.IOException => false }) && {
            fs.delete(aside, false); grab()
          }
        }
      }
      acquired && (try body finally fs.delete(tomb, false))
  }

  /** One commit attempt: atomically CLAIM version `v` with an exclusive
    * marker create ([[claimImpl]]), then write the body under a tmp name
    * and rename onto the fresh manifest key — the rename cannot race
    * (the claim made `v` ours alone) and is atomic content visibility
    * for readers. False = a concurrent committer claimed `v` first.
    * A claimant that crashes between claim and rename leaves a marker
    * with no manifest: reclaimed after [[StaleClaimMs]] of quiescence.
    * `private[graft]` so the CAS spec can race two committers WITHOUT
    * the in-JVM commit lock — the honest two-process simulation. */
  private[graft] def tryCommit(fs: FileSystem, root: Path, v: Long,
      m: Manifest): Boolean = {
    if (!fs.exists(root)) check(fs.mkdirs(root), s"mkdirs $root")
    val marker = new Path(root, s".commit-v$v")
    val dst = new Path(root, s"$ManifestPrefix$v")
    def claim(): Boolean = claimImpl(fs, marker)
    def isStale: Boolean =
      try !fs.exists(dst) &&
        System.currentTimeMillis() - fs.getFileStatus(marker)
          .getModificationTime > StaleClaimMs
      catch { case _: java.io.FileNotFoundException => false }
    val claimed = claim() || (isStale && withReclaimLock(fs, root, v) {
      // crashed-claimant recovery: marker with no manifest, quiescent
      // past the grace window → reclaim the version number. Reclaimers
      // are SERIALIZED by withReclaimLock and re-check staleness under
      // it: a marker's mtime only moves forward through a reclaim, so
      // a fresh marker here means we raced a completed reclaim and must
      // not touch it. (Renaming the stale marker aside on a PRE-lock
      // mtime read instead would let two racing reclaimers leapfrog,
      // one stealing the other's fresh re-claim.) Between our delete
      // and claim a brand-new claimant can still slip in — then ITS
      // exclusive create wins and ours fails: either way the version is
      // awarded at most once.
      isStale && { fs.delete(marker, false); claim() }
    })
    if (!claimed) return false
    val body = new StringBuilder(Header).append('\n')
      .append(s"gen=${m.gen}\n").append(s"watermark=${m.watermark}\n")
      .append(s"mod=${m.mod}\n")
    m.buckets.toSeq.sorted.foreach { case (b, g) =>
      body.append(s"bucket=$b:$g\n") }
    m.deltas.toSeq.sorted.foreach(d => body.append(s"delta=$d\n"))
    val tmp = new Path(root, s".tmp-manifest-$v")
    val out = fs.create(tmp, true)
    try out.write(body.toString.getBytes("UTF-8")) finally out.close()
    // Re-verify our claim right before publishing: if the marker is
    // gone, the history trim passed our version's (extended) retention
    // while we stalled — the version number is dead and renaming onto
    // it would resurrect a bogus old version for time-travel readers.
    if (!claimHeldImpl(fs, marker)) { fs.delete(tmp, false); return false }
    check(fs.rename(tmp, dst), s"commit $dst")
    true
  }

  /** Test seam: invoked once per CAS attempt, between the manifest read
    * and the commit attempt — lets specs interleave a competing commit
    * deterministically. Never set outside tests. */
  private[graft] var preCommitHook: () => Unit = () => ()

  /** Per-replica in-JVM commit locks. Cross-process atomicity comes
    * from the exclusive-create claim in [[tryCommit]]; this lock exists
    * so same-JVM committers (the trigger thread and the async
    * compactor) serialize whole read→update→commit sections instead of
    * spinning CAS retries against each other, and so [[gc]]'s sweep
    * cannot interleave between a committer's data placement and its
    * manifest commit. Reentrant by construction (`synchronized`), which
    * the CAS race spec leans on to interleave a nested commit
    * deterministically. */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Optimistic-concurrency commit: read the newest manifest, derive
    * the next state via `update` (None = nothing to do), attempt the
    * fresh-key commit; on contention re-read and RE-APPLY the logical
    * update to the winner's state. Every committer expresses its change
    * as a re-appliable function (add this delta / consume exactly these
    * deltas / replace everything), so a lost race never loses the other
    * writer's work — the property that lets a background compactor and
    * the trigger path commit concurrently against one state file. */
  private[cdc] def lockFor(root: Path): Object =
    commitLocks.computeIfAbsent(root.toString, _ => new Object)

  private[cdc] def commitUpdate(fs: FileSystem, root: Path)
      (update: Manifest => Option[Manifest]): Manifest = {
    val lock = lockFor(root)
    lock.synchronized {
      var attempts = 0
      while (true) {
        val (v, m) = readManifest(fs, root)
        update(m) match {
          case None => return m
          case Some(next) =>
            preCommitHook()
            if (tryCommit(fs, root, v + 1, next)) {
              // trim history beyond the retained window (best-effort;
              // committed state is durable, data reclaim is gc's).
              // Claim markers outlive their manifest by one extra
              // history window: a committer stalled between claim and
              // rename must still find (or miss) its marker when it
              // wakes — trimming the marker with the manifest would let
              // a long-stalled committer rename its tmp onto the freed
              // version number, resurrecting a bogus old version.
              // tryCommit's pre-rename marker re-check is the second
              // line of defense for stalls past BOTH windows.
              fs.listStatus(root).foreach { st =>
                val n = st.getPath.getName
                if (n.startsWith(ManifestPrefix) &&
                    n.stripPrefix(ManifestPrefix).toLong <=
                      v + 1 - ManifestHistory)
                  fs.delete(st.getPath, false)
                else if (n.startsWith(".commit-v") &&
                    n.stripPrefix(".commit-v").toLong <=
                      v + 1 - 2L * ManifestHistory)
                  fs.delete(st.getPath, false)
              }
              return next
            }
            attempts += 1
            check(attempts < 50, s"manifest contention at $root")
        }
      }
      throw new IllegalStateException("unreachable")
    }
  }

  /** Move Spark's `id_bucket=<b>` partition-dir output into per-bucket
    * generation dirs. Placement only — nothing is committed; a crash
    * mid-move strands invisible dirs for [[gc]]. Returns the moved
    * bucket ids. */
  private[cdc] def placeBuckets(fs: FileSystem, root: Path, stage: Path,
      gen: Long): Seq[Int] = {
    val dataDir = new Path(root, "data")
    if (!fs.exists(dataDir)) check(fs.mkdirs(dataDir), s"mkdirs $dataDir")
    val moved = fs.listStatus(stage).iterator.map(_.getPath)
      .filter(_.getName.startsWith(BucketCol + "="))
      .map { p =>
        val b = p.getName.stripPrefix(BucketCol + "=").toInt
        val dst = new Path(dataDir, s"b$b-g$gen")
        fs.delete(dst, true) // leftover from a crashed SAME-gen attempt
        check(fs.rename(p, dst), s"place bucket $dst")
        b
      }.toSeq
    fs.delete(stage, true)
    moved
  }

  /** Bulk-load the initial snapshot and commit manifest v1 (or v+1 over
    * an existing replica — a full overwrite, like the re-subscribe
    * snapshot in the rename path). */
  def snapshot(spark: SparkSession, rows: Dataset[PersonRow], dir: String,
      numBuckets: Int = Replicate.DefaultNumBuckets): Unit =
    snapshotWith(spark, dir, numBuckets, rowsAsSummaries(rows.toDF()),
      PersonShape)

  /** [[snapshot]] for any [[Replicate.Shape]]: `summaries` (one row per
    * key, no bucket column) fully replace the replica. The generation is
    * derived INSIDE the fold monitor: a re-snapshot over a live replica
    * racing a fold could otherwise derive the same gen+1 and clobber the
    * shared `.stage-g<gen>` dir. */
  private[cdc] def snapshotWith(spark: SparkSession, dir: String,
      numBuckets: Int, summaries: DataFrame, s: Shape): Unit = {
    val (fs, root) = fsOf(spark, dir)
    FoldRunner.withLifecycle(dir) {
    foldLock(dir).synchronized {
      val (_, m) = readManifest(fs, root)
      val gen = m.gen + 1
      val stage = new Path(root, s".stage-g$gen")
      writingTo(stage) {
        fs.delete(stage, true)
        summaries.withColumn(BucketCol, s.bucketOf(numBuckets))
          .repartition(numBuckets, col(BucketCol))
          .write.mode(SaveMode.Overwrite).partitionBy(BucketCol)
          .parquet(stage.toString)
        lockFor(root).synchronized {
          val moved = placeBuckets(fs, root, stage, gen)
          // full replace (operator-invoked before the stream starts —
          // the one update that does not merge concurrent state)
          commitUpdate(fs, root)(_ =>
            Some(Manifest(gen, Long.MinValue, moved.map(_ -> gen).toMap,
              Set.empty, mod = numBuckets)))
        }
      }
    }
    // gc INSIDE the lifecycle flag, like vacuumWith: the fail-fast
    // invariant covers the sweep tail too
    gc(spark, dir)
    }
  }

  /** Per-replica monitors serializing whole FOLD/REWRITE bodies
    * (compact, vacuum's rewrite) in-JVM. The commit itself is already
    * CAS-safe; this closes the narrower stage-dir hazard:
    * two same-JVM folds reading the same manifest both derive
    * `gen+1`, write the same `.stage-g<gen>` path, and clobber each
    * other's in-flight files before either commits. Trigger DELTA
    * commits never take this lock — only folds do, and folds re-read
    * the manifest at entry, so a fold parked behind a vacuum resumes
    * against the post-rewrite state. */
  private val foldLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[cdc] def foldLock(dir: String): Object =
    foldLocks.computeIfAbsent(dir, _ => new Object)

  /** Paths an in-JVM writer is currently materializing OUTSIDE the
    * commit lock — the heavy parquet writes (delta tmp dirs, stage
    * dirs) that by design run before lock acquisition, so the lock
    * alone cannot shield them from a concurrent [[gc]] sweep (at
    * `graceMs = 0` gc would delete a live trigger's `delta/.tmp-*`
    * mid-write). Registration spans write → locked placement; gc
    * spares registered paths unconditionally.
    * Cross-process writers remain covered only by `graceMs`. */
  private val inFlightWrites =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[graft] def writingTo[A](p: Path)(body: => A): A = {
    // scheme-stripped form: listStatus returns fully-qualified paths
    // (file:/...), the write sites build unqualified ones
    inFlightWrites.add(p.toUri.getPath)
    try body finally inFlightWrites.remove(p.toUri.getPath)
  }

  /** Apply one micro-batch: O(batch) summary → delta dir → one-PUT
    * commit. Replaying a committed or already-compacted `batchId` is a
    * pure no-op (deltas are deterministic in the epoch's content, and
    * epochs replay with identical content). */
  def applyBatch(spark: SparkSession, batch: Dataset[PersonChange],
      dir: String, numBuckets: Int = Replicate.DefaultNumBuckets,
      batchId: Long, compactEvery: Int = Replicate.DefaultCompactEvery,
      compactAsync: Boolean = false): Unit =
    applyWith(spark, dir, summarizeBucketed(batch.toDF(), numBuckets),
      PersonShape, numBuckets, batchId, compactEvery, compactAsync)

  /** One trigger against one replica, for any [[Replicate.Shape]]:
    * commit `summary` (one row per key, with the bucket column) as delta
    * `batch=<batchId>` by one manifest PUT, then fold once `compactEvery`
    * deltas are pending — inline, or on a background thread when
    * `compactAsync`. `summary` is only executed if the batch is new. */
  private[cdc] def applyWith(spark: SparkSession, dir: String,
      summary: DataFrame, s: Shape, numBuckets: Int, batchId: Long,
      compactEvery: Int, compactAsync: Boolean): Unit = {
    val (fs, root) = fsOf(spark, dir)
    // the WHOLE trigger body — replay pre-check included — sits on the
    // shared side of the per-dir RW lock: a truncate (exclusive) could
    // otherwise delete the manifest between the pre-check's listing and
    // open, or delete the delta tmp mid-write; either kills the stream.
    // Folds/vacuum never delete live delta state, so they stay off this
    // lock entirely
    val committed = Replicate.shared(dir) {
      val (_, m0) = readManifest(fs, root)
      checkMod(m0, numBuckets, "applyBatch")
      if (batchId <= m0.watermark || m0.deltas.contains(batchId)) m0
      else {
        val tmp = new Path(root, s"delta/.tmp-$batchId")
        writingTo(tmp) {
        fs.delete(tmp, true)
        summary.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        // placement + commit under the per-replica lock: a [[gc]] sweep
        // can then never interleave between the rename and the manifest
        // naming it (the heavy summary write above stays outside the
        // lock but inside the in-flight registration)
        lockFor(root).synchronized {
        val dst = new Path(root, s"delta/batch=$batchId")
        fs.delete(dst, true) // unnamed leftover of a crashed attempt
        check(fs.rename(tmp, dst), s"place delta $dst")
        // commitUpdate returns the committed state — no re-read on the
        // hot path (each trigger is one LIST+GET plus one PUT)
        commitUpdate(fs, root)(m =>
          // re-checked against the WINNER's state on contention: a
          // concurrent fold may have consumed everything and raised the
          // watermark past us
          if (batchId <= m.watermark || m.deltas.contains(batchId)) None
          else {
            // re-asserted INSIDE the CAS: a concurrent first-writer may
            // have adopted a different modulus since the pre-write check
            checkMod(m, numBuckets, "applyBatch")
            Some(m.copy(deltas = m.deltas + batchId,
              mod = if (m.mod == 0) numBuckets else m.mod))
          })
        }
        }
      }
    }
    // no new fold while a lifecycle op runs: it would race the op's
    // rewrite for the same gen+1 stage dir, or re-commit buckets folded
    // from a base read that predates it
    if (committed.deltas.size >= compactEvery && !FoldRunner.busy(dir)) {
      if (!compactAsync) compactWith(spark, dir, numBuckets, s, None)
      else FoldRunner.start(spark, dir)(
        compactWith(spark, dir, numBuckets, s, Some(FoldRunner.MaxTasks)))
    }
  }

  /** Merge-on-read view: manifest-named bucket generations ∪
    * manifest-named deltas → one commutative fold → live rows. */
  def readReplica(spark: SparkSession, dir: String): Dataset[PersonRow] = {
    import spark.implicits._
    projectAlive(readWith(spark, dir, PersonShape)).as[PersonRow]
  }

  /** Time travel: the replica as of manifest `version` — any version
    * still inside the [[ManifestHistory]] window (and not yet [[gc]]'d /
    * [[vacuum]]ed, which reclaim the named data files) resolves exactly
    * like a current read, because commits never mutate or delete the
    * files an older manifest names. [[versions]] lists what is
    * available. */
  def readReplicaAt(spark: SparkSession, dir: String, version: Long)
      : Dataset[PersonRow] = {
    import spark.implicits._
    projectAlive(readAt(spark, dir, manifestAt(spark, dir, version),
      PersonShape)).as[PersonRow]
  }

  /** Manifest `version` of `dir`. Opened first and classified on
    * failure: a membership check BEFORE the open would race a
    * concurrent commit's history trim (time travel exists precisely for
    * readers concurrent with a live writer). */
  private[cdc] def manifestAt(spark: SparkSession, dir: String,
      version: Long): Manifest = {
    val (fs, root) = fsOf(spark, dir)
    try readManifestAt(fs, root, version)
    catch { case _: java.io.FileNotFoundException =>
      throw new IllegalArgumentException(
        s"manifest v$version not retained (have ${versions(spark, dir)})")
    }
  }

  /** Change feed (the Delta CDF analog): every delta batch committed
    * AFTER manifest `sinceVersion`, as (batch_id, id, last_img,
    * first_ins, last_d_lsn) summary rows — one row per key per batch,
    * exactly what a downstream incremental consumer folds. Works while
    * the named delta dirs are retained (i.e. until [[gc]]/[[vacuum]] —
    * same retention contract as time travel): commits never delete
    * data, and a batch's id is its epoch, so "committed after v" is
    * precisely "id greater than v's highest committed id". */
  def changesSince(spark: SparkSession, dir: String, sinceVersion: Long)
      : DataFrame =
    changesSinceWith(spark, dir, sinceVersion, PersonShape)

  /** [[changesSince]] for any [[Replicate.Shape]]. */
  private[cdc] def changesSinceWith(spark: SparkSession, dir: String,
      sinceVersion: Long, s: Shape): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val (fs, root) = fsOf(spark, dir)
    // highest committed id (watermark = highest compacted id), clamped:
    // a snapshot-only manifest carries the Long.MinValue watermark
    // sentinel, and epochs start at 0 — without the clamp the bootstrap
    // call "everything since the snapshot" would compute an id range
    // starting at Long.MinValue+1
    def maxBatch(m: Manifest): Long =
      (m.deltas + m.watermark).max.max(-1L)
    val since = maxBatch(manifestAt(spark, dir, sinceVersion))
    val (_, now) = readManifest(fs, root)
    // The committed ids after `since` are reconstructed EXACTLY from
    // the retained manifests, not assumed dense: the multi-table
    // idle-skip makes per-table ids sparse — an idle epoch never commits
    // a delta, and a dense range check would report a spurious gap. The
    // reconstruction is sound because retention trims from the bottom: `sinceVersion` being readable means every
    // later version is too, and each committed delta id appears in its
    // commit version's (retained) manifest — so the union of retained
    // `deltas` sets restricted to (since, maxBatch] is precisely what
    // was committed after `since`. A dir missing from THAT set is a
    // real gap (reclaimed or deleted), not a skip.
    val vs = listVersions(fs, root)
    val ids = vs.filter(_ >= sinceVersion)
      .flatMap { v =>
        // a concurrent commit's history trim can remove a listed
        // version mid-scan; skipping it would silently drop its delta
        // ids from the feed, so a vanished version means this call's
        // retention window is gone — same contract failure as an
        // unretained sinceVersion, same error
        try readManifestAt(fs, root, v).deltas
        catch { case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(
            s"manifest v$v trimmed during the read — feed window lost; read from a newer checkpoint")
        }
      }
      .distinct.filter(id => id > since && id <= maxBatch(now)).sorted
    val feedSchema = StructType(
      StructField("batch_id", LongType) +: s.baseSchema.fields)
    if (ids.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], feedSchema)
    else {
      // ONE listing for the gap check and ONE partition-discovered scan
      // (the dirs are literally batch=<id>) — not N exists round-trips
      // plus an N-deep unionAll
      val deltaRoot = new Path(root, "delta")
      val present =
        if (!fs.exists(deltaRoot)) Set.empty[String]
        else fs.listStatus(deltaRoot).iterator
          .map(_.getPath.getName).toSet
      check(ids.forall(id => present.contains(s"batch=$id")),
        s"change feed gap: a committed batch in ($since, ${maxBatch(now)}] was reclaimed — lower the gc cadence or read from an earlier checkpoint")
      spark.read
        .schema(StructType(s.deltaSchema.fields :+
          StructField("batch", LongType)))
        .option("basePath", deltaRoot.toString)
        .parquet(ids.map(now.deltaDir(dir, _)): _*)
        .select(col("batch").as("batch_id") +:
          s.baseSchema.fieldNames.toSeq.map(col): _*)
    }
  }

  /** Readable manifest versions, ascending. */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val (fs, root) = fsOf(spark, dir)
    listVersions(fs, root)
  }

  /** [[readAt]] through the newest committed manifest. */
  private[cdc] def readWith(spark: SparkSession, dir: String, s: Shape)
      : DataFrame = {
    val (fs, root) = fsOf(spark, dir)
    readAt(spark, dir, readManifest(fs, root)._2, s)
  }

  /** The merge-on-read summaries `m` names: its bucket generations ∪
    * its deltas, folded to one row per key (tombstones included), the
    * base pruned by a pushed key filter under the manifest's modulus
    * ([[Replicate.mergeOnRead]]; none recorded: no pruning). */
  private[cdc] def readAt(spark: SparkSession, dir: String, m: Manifest,
      s: Shape): DataFrame =
    Replicate.mergeOnRead(spark, s, bucketPaths(m, dir, m.buckets.keys),
      Some(m.mod).filter(_ > 0), deltaPaths(m, dir))

  private def bucketPaths(m: Manifest, dir: String, bs: Iterable[Int])
      : Map[Int, Path] =
    bs.map(b => b -> new Path(m.bucketDir(dir, b))).toMap

  private def deltaPaths(m: Manifest, dir: String): Seq[Path] =
    m.deltas.toSeq.sorted.map(id => new Path(m.deltaDir(dir, id)))

  /** Fold pending deltas into new generations of ONLY the buckets they
    * touch, then commit. Untouched buckets keep their generation (and
    * their bytes). */
  def compact(spark: SparkSession, dir: String,
      numBuckets: Int = Replicate.DefaultNumBuckets): Unit =
    compactWith(spark, dir, numBuckets, PersonShape, None)

  /** [[compact]] for any [[Replicate.Shape]]; `maxTasks` caps the
    * merge/write width ([[FoldRunner.MaxTasks]] for background folds).
    * Reclaims nothing: superseded generations and consumed deltas stay
    * on disk until [[gc]]/[[vacuum]], so a reader that resolved the
    * previous manifest finishes its scan against intact files and every
    * retained version stays readable ([[readReplicaAt]]). */
  private[cdc] def compactWith(spark: SparkSession, dir: String,
      numBuckets: Int, s: Shape, maxTasks: Option[Int]): Unit =
      foldLock(dir).synchronized {
    val (fs, root) = fsOf(spark, dir)
    val (_, m) = readManifest(fs, root)
    checkMod(m, numBuckets, "compact")
    if (m.deltas.isEmpty) return
    val deltas = ReplicaIndex.deltas(spark, s, deltaPaths(m, dir))
    // bounded by numBuckets (thousands at 100 TB): driver-side is fine,
    // and it is read off the O(pending batches) deltas, never the base
    val touched = deltas.select(BucketCol).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val baseTouched = ReplicaIndex.base(spark, s,
      bucketPaths(m, dir, touched.filter(m.buckets.contains)), None)
    val gen = m.gen + 1
    val cols = s.deltaSchema.fieldNames.map(col).toSeq
    val merged = combineSummaries(
      baseTouched.withColumn(BucketCol, s.bucketOf(numBuckets))
        .select(cols: _*).unionAll(deltas.select(cols: _*)),
      Seq(BucketCol, s.key),
      width = Some(maxTasks.fold(touched.size.max(1))(c =>
        math.min(touched.size.max(1), c))))
    val stage = new Path(root, s".stage-g$gen")
    writingTo(stage) {
    fs.delete(stage, true)
    merged.write.mode(SaveMode.Overwrite).partitionBy(BucketCol)
      .parquet(stage.toString)
    // placement + commit under the lock (gc-sweep exclusion); the
    // expensive merged fold above runs outside it, so a concurrent
    // trigger's delta commit never waits on the fold itself
    lockFor(root).synchronized {
      val moved = placeBuckets(fs, root, stage, gen)
      // logical update: consume EXACTLY the delta set this fold read,
      // set the touched buckets' new generation. Re-applied verbatim if
      // a trigger's delta-add wins the version race — its fresh delta
      // ids survive in `cur.deltas -- consumed` for the next fold.
      val consumed = m.deltas
      commitUpdate(fs, root) { cur =>
        checkMod(cur, numBuckets, "compact") // re-asserted inside the CAS
        Some(Manifest(cur.gen max gen, cur.watermark max consumed.max,
          cur.buckets ++ moved.map(_ -> gen), cur.deltas -- consumed,
          mod = numBuckets))
      }
    }
    }
  }

  /** Physically remove tombstones — [[Replicate.vacuum]]'s manifest
    * twin, with the same precondition (the source can no longer deliver
    * lsns below the tombstones' delete lsns). Pending deltas fold
    * first; then every live bucket is rewritten one generation up with
    * only its alive keys, committed as usual by a single manifest PUT.
    * Unlike compaction this touches ALL buckets by design — it is the
    * rare, operator-invoked reclamation pass, not the steady-state
    * fold. */
  def vacuum(spark: SparkSession, dir: String,
      numBuckets: Int = Replicate.DefaultNumBuckets): Unit =
    vacuumWith(spark, dir, numBuckets, PersonShape)

  /** [[vacuum]] for any [[Replicate.Shape]]. */
  private[cdc] def vacuumWith(spark: SparkSession, dir: String,
      numBuckets: Int, s: Shape): Unit = {
    // the flag joins any in-flight async fold before the rewrite
    FoldRunner.withLifecycle(dir) {
      // the whole rewrite holds the fold monitor: a trigger fold that
      // raced the lifecycle flag parks until the rewrite commits, then
      // re-reads the post-vacuum manifest (reentrant for the fold below)
      foldLock(dir).synchronized {
      compactWith(spark, dir, numBuckets, s, None)
      val (fs, root) = fsOf(spark, dir)
      val (_, m) = readManifest(fs, root)
      checkMod(m, numBuckets, "vacuum")
      if (m.buckets.nonEmpty) {
      val alive = ReplicaIndex.base(spark, s,
          bucketPaths(m, dir, m.buckets.keys), None)
        .filter(col("first_ins").isNotNull)
        .withColumn(BucketCol, s.bucketOf(numBuckets))
        .repartition(numBuckets, col(BucketCol))
      val gen = m.gen + 1
      val stage = new Path(root, s".stage-g$gen")
      writingTo(stage) {
      fs.delete(stage, true)
      alive.write.mode(SaveMode.Overwrite).partitionBy(BucketCol)
        .parquet(stage.toString)
      lockFor(root).synchronized {
        val moved = placeBuckets(fs, root, stage, gen)
        // buckets whose keys were ALL tombstones produce no output dir
        // and leave the manifest entirely — ending up absent IS the
        // vacuum. Deltas that landed while we rewrote are preserved,
        // not consumed.
        commitUpdate(fs, root) { cur =>
          checkMod(cur, numBuckets, "vacuum") // re-asserted inside CAS
          Some(Manifest(cur.gen max gen, cur.watermark,
            moved.map(_ -> gen).toMap, cur.deltas, mod = numBuckets))
        }
      }
      }
      // vacuum exists to REMOVE bytes (tombstone reclamation / privacy
      // deletes) — it deliberately collapses the time-travel window to
      // the rewritten state before sweeping, or retained history would
      // keep every pre-vacuum generation alive. gc alone (no vacuum)
      // preserves the full retained window.
      pruneHistory(fs, root)
      gc(spark, dir)
      }
      }
    }
  }

  /** Drop every manifest version (and claim marker) below the newest —
    * the deliberate forfeiture of time travel that [[vacuum]] performs
    * before its sweep. */
  private[cdc] def pruneHistory(fs: FileSystem, root: Path): Unit =
    listVersions(fs, root).lastOption.foreach { cur =>
      fs.listStatus(root).foreach { st =>
        val n = st.getPath.getName
        val ver =
          if (n.startsWith(ManifestPrefix))
            Some(n.stripPrefix(ManifestPrefix).toLong)
          else if (n.startsWith(".commit-v"))
            Some(n.stripPrefix(".commit-v").toLong)
          else None
        if (ver.exists(_ < cur)) fs.delete(st.getPath, false)
      }
    }

  /** Truncate (S9 twin of [[Replicate.truncate]]): drop every data
    * generation, delta, and manifest, leaving an empty root that
    * accepts a fresh [[snapshot]]. */
  def truncate(spark: SparkSession, dir: String): Unit = {
    // the flag joins a daemon fold that outlived its stopped stream
    FoldRunner.withLifecycle(dir) {
      val (fs, root) = fsOf(spark, dir)
      // exclusive vs the trigger's SHARED delta section (which is the
      // one writer foldLock/lockFor do not cover)
      Replicate.exclusive(dir) {
      // fold monitor excludes a trigger's INLINE fold (the flag only
      // joins async ones: an inline fold runs on the trigger
      // thread and would otherwise re-commit a manifest over the
      // freshly truncated root); the commit lock excludes a
      // delta commit interleaving the manifest deletes
      foldLock(dir).synchronized { lockFor(root).synchronized {
      if (fs.exists(root)) fs.listStatus(root).foreach { st =>
        val n = st.getPath.getName
        if (n == "data" || n == "delta" || n.startsWith(ManifestPrefix) ||
            n.startsWith(".stage-") || n.startsWith(".tmp-manifest-") ||
            n.startsWith(".commit-v") || n.startsWith(".reaped-") ||
            (n.startsWith(".reclaim-") && !n.endsWith(".lock")))
          check(fs.delete(st.getPath, true), s"truncate $n")
      }
      } }
      }
    }
  }

  /** Reclaim everything NO retained manifest version names — the
    * Delta/Iceberg VACUUM horizon: keeping only the newest version's
    * files would collapse the time-travel window on first use. Kept
    * live:
    *  - every bucket generation any retained manifest names
    *    ([[readReplicaAt]] must serve every version [[versions]] lists);
    *  - every delta dir a retained manifest names, plus every delta id
    *    above the OLDEST retained version's high-water id — the
    *    [[changesSince]] feed from any retained version reads exactly
    *    that range, compacted or not.
    * Swept: crashed stages/placements, superseded generations and
    * consumed deltas older than the whole window, tmp files.
    *
    * Runs under the per-replica commit lock, so it cannot race an
    * in-JVM committer between data placement and manifest commit (a
    * placed-but-uncommitted dir looks orphaned); the heavy parquet
    * writes that run BEFORE the lock (delta tmp, stage dirs) are
    * shielded by the [[inFlightWrites]] registry instead, so
    * `graceMs = 0` is genuinely safe in-JVM. Cross-process placements
    * have neither — `graceMs` additionally spares anything modified
    * within the grace window (pass the retention the deployment owes
    * its slowest reader/committer; 0 = in-JVM-only deployments, the
    * sandbox default). */
  def gc(spark: SparkSession, dir: String, graceMs: Long = 0L): Unit = {
    val (fs, root) = fsOf(spark, dir)
    val lock = commitLocks.computeIfAbsent(root.toString, _ => new Object)
    lock.synchronized {
      val vs = listVersions(fs, root)
      val retained = vs.map(readManifestAt(fs, root, _))
      if (retained.nonEmpty) gcRetained(fs, root, retained, graceMs)
    }
  }

  private def gcRetained(fs: FileSystem, root: Path,
      retained: Seq[Manifest], graceMs: Long): Unit = {
      val liveData = retained
        .flatMap(_.buckets.map { case (b, g) => s"b$b-g$g" }).toSet
      def maxBatch(m: Manifest): Long = (m.deltas + m.watermark).max.max(-1L)
      val feedFloor = maxBatch(retained.head) // oldest retained version
      val feedCeil = maxBatch(retained.last)  // newest committed id —
      // a dir above it is an uncommitted placement (crash leftover or,
      // cross-process only, in-flight — spared by graceMs, never listed
      // by any manifest)
      val namedDeltas = retained.flatMap(_.deltas).toSet
      val cutoff = System.currentTimeMillis() - graceMs
      def sweep(sub: String)(live: String => Boolean): Unit = {
        val p = new Path(root, sub)
        if (fs.exists(p)) fs.listStatus(p).foreach { st =>
          if (!live(st.getPath.getName) && st.getModificationTime < cutoff &&
              !inFlightWrites.contains(st.getPath.toUri.getPath))
            fs.delete(st.getPath, true)
        }
      }
      sweep("data")(liveData.contains)
      sweep("delta") { n =>
        val id = n.stripPrefix("batch=")
        n.startsWith("batch=") && id.nonEmpty && id.forall(_.isDigit) &&
          (namedDeltas.contains(id.toLong) ||
            (id.toLong > feedFloor && id.toLong <= feedCeil))
      }
      fs.listStatus(root).foreach { st =>
        val n = st.getPath.getName
        if ((n.startsWith(".stage-") || n.startsWith(".tmp-manifest-") ||
             n.startsWith(".reaped-")) &&
            st.getModificationTime < cutoff &&
            !inFlightWrites.contains(st.getPath.toUri.getPath))
          fs.delete(st.getPath, true)
      }
  }

  /** Streaming entry: same dataflow as [[Replicate.startFrom]], this
    * commit protocol. `compactAsync = true` moves the fold off the
    * trigger path onto a guarded background thread (one per replica) —
    * safe against in-flight delta commits because both sides commit
    * through the CAS [[commitUpdate]]; the trigger path stays O(batch)
    * and read visibility never waits on the fold (merge-on-read). */
  def startFrom(spark: SparkSession, changes: Dataset[PersonChange],
      dir: String, checkpointDir: String,
      rowFilter: Option[Column] = None,
      numBuckets: Int = Replicate.DefaultNumBuckets,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds"),
      compactEvery: Int = Replicate.DefaultCompactEvery,
      compactAsync: Boolean = false): StreamingQuery =
    ChangeSource.run(rowFilter.map(withRowFilter(changes, _))
        .getOrElse(changes), "graft-replicate-manifest", checkpointDir,
        trigger) { (batch, epochId) =>
      applyBatch(spark, batch, dir, numBuckets, batchId = epochId,
        compactEvery = compactEvery, compactAsync = compactAsync)
    }
}
