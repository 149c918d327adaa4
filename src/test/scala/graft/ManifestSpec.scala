package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc._

/** Object-store manifest commit protocol ([[ManifestReplica]]):
  * convergence, replay idempotence, incremental compaction, and the
  * crash windows the single-PUT commit is supposed to close. */
class ManifestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def asMap(dir: String): Map[Int, (String, String, Int)] =
    ManifestReplica.readReplica(spark, dir).collect()
      .map(r => r.id -> ((r.name, r.uid, r.score))).toMap

  private def wantMap(ops: Seq[ChangeGen.Op]): Map[Int, (String, String, Int)] =
    ChangeGen.replay(ops).map { case (id, p) =>
      id -> ((p.name, p.uid, p.score))
    }

  private def ls(dir: String, sub: String): Set[String] = {
    val p = Paths.get(dir, sub)
    if (!Files.exists(p)) Set.empty
    else {
      val s = Files.list(p)
      try s.map[String](_.getFileName.toString).toArray.map(_.toString).toSet
      finally s.close()
    }
  }

  test("manifest replica: snapshot + batched apply + compaction converge") {
    val ops = ChangeGen.ops(seed = 51, n = 1200)
    val (snapOps, streamOps) = ops.splitAt(400)
    val dir = tmp("man-e2e")
    ManifestReplica.snapshot(spark,
      ChangeGen.replay(snapOps).values.toSeq.toDS(), dir, numBuckets = 8)
    // 8 micro-batches at compactEvery=3: two real compactions mid-stream
    // plus pending deltas left at the end — the read folds them
    streamOps.grouped(100).zipWithIndex.foreach { case (b, i) =>
      ManifestReplica.applyBatch(spark, ChangeGen.toChanges(b).toDS(), dir,
        numBuckets = 8, batchId = i.toLong, compactEvery = 3)
    }
    assert(asMap(dir) === wantMap(ops))
    // and after draining the remaining deltas the state is unchanged
    ManifestReplica.compact(spark, dir, numBuckets = 8)
    assert(asMap(dir) === wantMap(ops))
  }

  test("manifest replica: replayed and pre-watermark epochs are no-ops") {
    val ops = ChangeGen.ops(seed = 52, n = 600)
    val (snapOps, streamOps) = ops.splitAt(200)
    val dir = tmp("man-replay")
    ManifestReplica.snapshot(spark,
      ChangeGen.replay(snapOps).values.toSeq.toDS(), dir, numBuckets = 4)
    val batches = streamOps.grouped(200).toSeq
    ManifestReplica.applyBatch(spark, ChangeGen.toChanges(batches(0)).toDS(),
      dir, numBuckets = 4, batchId = 0L, compactEvery = 100)
    // crash-replay of epoch 0 (identical content — the stream contract)
    ManifestReplica.applyBatch(spark, ChangeGen.toChanges(batches(0)).toDS(),
      dir, numBuckets = 4, batchId = 0L, compactEvery = 100)
    ManifestReplica.applyBatch(spark, ChangeGen.toChanges(batches(1)).toDS(),
      dir, numBuckets = 4, batchId = 1L, compactEvery = 100)
    ManifestReplica.compact(spark, dir, numBuckets = 4)
    val afterCompact = asMap(dir)
    assert(afterCompact === wantMap(ops))
    // replay of an ALREADY-COMPACTED epoch (below the watermark) must
    // not resurrect old state or create a delta (consumed delta DIRS
    // stay on disk until gc — the replay must not add to them)
    val deltaDirsBefore = ls(dir, "delta")
    ManifestReplica.applyBatch(spark, ChangeGen.toChanges(batches(0)).toDS(),
      dir, numBuckets = 4, batchId = 0L, compactEvery = 100)
    assert(asMap(dir) === afterCompact)
    assert(ls(dir, "delta") === deltaDirsBefore,
      "pre-watermark replay wrote a delta")
    // round 6: gc is retention-aware — while the pre-compaction
    // versions are still in the retained window, the consumed delta
    // dirs serve their change feed and MUST survive a gc …
    ManifestReplica.gc(spark, dir)
    assert(ls(dir, "delta") === deltaDirsBefore,
      "gc reclaimed deltas the retained versions still serve")
    assert(asMap(dir) === afterCompact)
    // … vacuum, which exists to remove bytes, collapses the window and
    // reclaims them
    ManifestReplica.vacuum(spark, dir, numBuckets = 4)
    assert(ls(dir, "delta").isEmpty, "vacuum must reclaim consumed deltas")
    assert(asMap(dir) === afterCompact)
  }

  test("manifest compaction is incremental: untouched buckets keep their generation") {
    val dir = tmp("man-incr")
    // ids 0..39 across 8 buckets (pmod(id, 8))
    val rows = (0 until 40).map(i =>
      PersonRow(i, s"n$i", s"u$i", i,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    ManifestReplica.snapshot(spark, rows.toDS(), dir, numBuckets = 8)
    val before = ls(dir, "data")
    assert(before.size === 8)
    // one delta touching ONLY ids ≡ 3 (mod 8) → bucket 3
    val changes = Seq(
      PersonChange(1000L, "U", 3, Some("n3x"), Some("u3"), Some(99), None),
      PersonChange(1001L, "U", 11, Some("n11x"), Some("u11"), Some(99), None))
    ManifestReplica.applyBatch(spark, changes.toDS(), dir, numBuckets = 8,
      batchId = 0L, compactEvery = 1) // compacts immediately
    val after = ls(dir, "data")
    // bucket 3 advanced a generation; the other seven are byte-stable;
    // the superseded b3 gen stays on disk (time-travel retention) until
    // gc reclaims it
    assert((after -- before) === Set("b3-g2"))
    assert(before.subsetOf(after))
    val got = asMap(dir)
    assert(got(3) === (("n3x", "u3", 99)) && got(11) === (("n11x", "u11", 99)))
    assert(got(4) === (("n4", "u4", 4)))
    // round 6: the superseded generation is still named by the retained
    // snapshot/delta manifests — gc keeps it readable for time travel;
    // vacuum (history collapse by design) reclaims it
    ManifestReplica.gc(spark, dir)
    assert(ls(dir, "data").contains("b3-g1"),
      "gc reclaimed a generation a retained version names")
    ManifestReplica.vacuum(spark, dir, numBuckets = 8)
    assert(!ls(dir, "data").contains("b3-g1"),
      "vacuum must reclaim the superseded generation")
    assert(asMap(dir) === got)
  }

  test("manifest crash windows: unnamed dirs are invisible and gc reclaims them") {
    val ops = ChangeGen.ops(seed = 53, n = 300)
    val dir = tmp("man-crash")
    ManifestReplica.snapshot(spark,
      ChangeGen.replay(ops).values.toSeq.toDS(), dir, numBuckets = 4)
    val committed = asMap(dir)
    // simulate crashes BEFORE the manifest PUT in each path:
    // a half-written stage, a placed-but-uncommitted delta, a placed-
    // but-uncommitted bucket generation, and a torn manifest tmp
    Files.createDirectories(Paths.get(dir, ".stage-g99", "id_bucket=0"))
    Files.createDirectories(Paths.get(dir, "delta", "batch=77"))
    Files.write(Paths.get(dir, "delta", "batch=77", "part-0.parquet"),
      Array[Byte](1, 2, 3)) // torn file — must never be opened
    Files.createDirectories(Paths.get(dir, "data", "b0-g99"))
    Files.write(Paths.get(dir, ".tmp-manifest-99"),
      "garbage".getBytes("UTF-8"))
    // readers resolve ONLY through the newest committed manifest
    assert(asMap(dir) === committed)
    ManifestReplica.gc(spark, dir)
    assert(!Files.exists(Paths.get(dir, ".stage-g99")))
    assert(!Files.exists(Paths.get(dir, "delta", "batch=77")))
    assert(!Files.exists(Paths.get(dir, "data", "b0-g99")))
    assert(!Files.exists(Paths.get(dir, ".tmp-manifest-99")))
    assert(asMap(dir) === committed)
  }

  test("manifest vacuum drops tombstones, keeps live rows, survives a re-delivered old delete") {
    val dir = tmp("man-vac")
    val rows = (0 until 20).map(i =>
      PersonRow(i, s"n$i", s"u$i", i,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    ManifestReplica.snapshot(spark, rows.toDS(), dir, numBuckets = 4)
    // delete ids 0..7 (buckets 0..3 all hold tombstones afterwards),
    // plus ALL of bucket 0's keys deleted (0,4,8,12,16 → full-tombstone
    // bucket must vanish from the manifest on vacuum)
    val dels = (0 until 8).map(i =>
      PersonChange(100L + i, "D", i, None, None, None, None)) ++
      Seq(8, 12, 16).map(i =>
        PersonChange(200L + i, "D", i, None, None, None, None))
    ManifestReplica.applyBatch(spark, dels.toDS(), dir, numBuckets = 4,
      batchId = 0L, compactEvery = 1)
    val want = asMap(dir)
    assert(!want.contains(0) && want.contains(9))
    ManifestReplica.vacuum(spark, dir, numBuckets = 4)
    assert(asMap(dir) === want, "vacuum changed visible state")
    // bucket 0 (ids 0,4,8,12,16 — all deleted) is gone physically
    assert(!ls(dir, "data").exists(_.startsWith("b0-")),
      "all-tombstone bucket should be dropped by vacuum")
  }

  test("manifest truncate leaves an empty root that accepts a fresh snapshot") {
    val dir = tmp("man-trunc")
    val rows = (0 until 10).map(i =>
      PersonRow(i, s"n$i", s"u$i", i,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    ManifestReplica.snapshot(spark, rows.toDS(), dir, numBuckets = 4)
    ManifestReplica.applyBatch(spark,
      Seq(PersonChange(50L, "U", 1, Some("x"), Some("u1"), Some(9), None))
        .toDS(), dir, numBuckets = 4, batchId = 0L, compactEvery = 100)
    ManifestReplica.truncate(spark, dir)
    assert(asMap(dir).isEmpty)
    assert(ls(dir, ".").forall(n =>
      !n.startsWith("_manifest") && n != "data" && n != "delta"))
    val fresh = rows.take(3)
    ManifestReplica.snapshot(spark, fresh.toDS(), dir, numBuckets = 4)
    assert(asMap(dir).keySet === Set(0, 1, 2))
  }

  test("property: manifest protocol == naive replay under random replay/compact schedules") {
    // seeded random walks over the protocol's whole surface: in-order
    // applies, replays of already-committed (and possibly compacted)
    // epochs, folds at arbitrary points — the visible state must equal
    // the sequential replay of exactly the batches applied so far, at
    // every probed step, after the final fold, and after vacuum.
    for (seed <- Seq(3L, 17L)) {
      val rnd = new scala.util.Random(seed)
      val ops = ChangeGen.ops(seed, n = 500)
      val (snapOps, streamOps) = ops.splitAt(200)
      val batches = streamOps.grouped(60).toIndexedSeq
      val dir = tmp(s"man-prop-$seed")
      ManifestReplica.snapshot(spark,
        ChangeGen.replay(snapOps).values.toSeq.toDS(), dir, numBuckets = 4)
      var applied = 0
      def model = wantMap(snapOps ++ batches.take(applied).flatten)
      while (applied < batches.size) {
        rnd.nextInt(6) match {
          case 0 if applied > 0 =>
            val b = rnd.nextInt(applied) // crash-replay of an old epoch
            ManifestReplica.applyBatch(spark,
              ChangeGen.toChanges(batches(b)).toDS(), dir, numBuckets = 4,
              batchId = b.toLong, compactEvery = 100)
          case 1 => ManifestReplica.compact(spark, dir, numBuckets = 4)
          case 2 => ManifestReplica.gc(spark, dir) // reclaim mid-stream
          case _ =>
            ManifestReplica.applyBatch(spark,
              ChangeGen.toChanges(batches(applied)).toDS(), dir,
              numBuckets = 4, batchId = applied.toLong, compactEvery = 100)
            applied += 1
        }
        if (rnd.nextInt(3) == 0)
          assert(asMap(dir) === model, s"seed $seed diverged mid-schedule")
      }
      ManifestReplica.compact(spark, dir, numBuckets = 4)
      assert(asMap(dir) === model, s"seed $seed diverged after final fold")
      ManifestReplica.vacuum(spark, dir, numBuckets = 4)
      assert(asMap(dir) === model, s"seed $seed diverged after vacuum")
    }
  }

  test("bucket-count constancy is enforced by both replica paths") {
    // manifest path: the modulus rides in the manifest
    val mDir = tmp("man-mod")
    ManifestReplica.snapshot(spark,
      Seq(PersonRow(1, "a", "u", 1,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))).toDS(),
      mDir, numBuckets = 4)
    val ch = Seq(PersonChange(10L, "U", 1, Some("b"), Some("u"), Some(2),
      None))
    val e1 = intercept[java.io.IOException] {
      ManifestReplica.applyBatch(spark, ch.toDS(), mDir, numBuckets = 8,
        batchId = 0L)
    }
    assert(e1.getMessage.contains("numBuckets=4"))
    // rename path: the _layout marker at the replica root
    val rDir = tmp("cdc-mod")
    Replicate.snapshot(spark,
      Seq(PersonRow(1, "a", "u", 1,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))).toDS(),
      rDir, numBuckets = 4)
    val e2 = intercept[java.io.IOException] {
      Replicate.applyBatch(spark, ch.toDS(), rDir, numBuckets = 8,
        batchId = 0L)
    }
    assert(e2.getMessage.contains("numBuckets=4"))
    // truncate resets the layout: a re-bucketed fresh start is legal
    // (I, not U — an update on the now-empty replica is a no-op)
    Replicate.truncate(spark, rDir)
    Replicate.applyBatch(spark,
      Seq(PersonChange(11L, "I", 1, Some("b"), Some("u"), Some(2),
        Some(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))).toDS(),
      rDir, numBuckets = 8, batchId = 0L)
    assert(Replicate.readReplica(spark, rDir).collect()
      .map(_.name).toSeq === Seq("b"))
  }

  test("manifest time travel survives gc: every listed version readable, feed gap-free") {
    // r5 VERDICT ask #2: gc must keep all data+deltas any RETAINED
    // manifest names — commit 5 versions, gc, then every version
    // `versions()` lists still reads exactly as of its commit and the
    // change feed across the retained window has no gap.
    val dir = tmp("man-tt")
    val rows = (0 until 12).map(i =>
      PersonRow(i, s"n$i", s"u$i", i,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    def upd(lsn: Long, id: Int, v: Int) = PersonChange(lsn, "U", id,
      Some(s"x$lsn"), Some(s"u$id"), Some(v), None)
    def at(v: Long) = ManifestReplica.readReplicaAt(spark, dir, v)
      .collect().map(r => r.id -> ((r.name, r.uid, r.score))).toMap
    ManifestReplica.snapshot(spark, rows.toDS(), dir, numBuckets = 4) // v1
    ManifestReplica.applyBatch(spark,
      Seq(upd(100, 1, 91), PersonChange(101L, "D", 2, None, None, None,
        None)).toDS(), dir, numBuckets = 4, batchId = 0L,
      compactEvery = 100)                                             // v2
    ManifestReplica.compact(spark, dir, numBuckets = 4)               // v3
    ManifestReplica.applyBatch(spark, Seq(upd(102, 3, 93)).toDS(),
      dir, numBuckets = 4, batchId = 1L, compactEvery = 100)          // v4
    ManifestReplica.applyBatch(spark, Seq(upd(103, 4, 94)).toDS(),
      dir, numBuckets = 4, batchId = 2L, compactEvery = 100)          // v5
    // 5 commits; history trims to the ManifestHistory=4 newest
    val vs = ManifestReplica.versions(spark, dir)
    assert(vs.size === ManifestReplica.ManifestHistory)
    val statesBefore = vs.map(v => v -> at(v)).toMap
    val feedBefore = ManifestReplica.changesSince(spark, dir, vs.min)
      .select("batch_id", "id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    ManifestReplica.gc(spark, dir)
    // every version the replica still lists reads as of its commit...
    val vsAfter = ManifestReplica.versions(spark, dir)
    assert(vsAfter === vs, "gc changed the version list")
    vsAfter.foreach { v =>
      assert(at(v) === statesBefore(v), s"v$v unreadable after gc")
    }
    // ...and the change feed across the whole retained window is intact
    val feedAfter = ManifestReplica.changesSince(spark, dir, vsAfter.min)
      .select("batch_id", "id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(feedAfter === feedBefore, "gc opened a change-feed gap")
    assert(feedAfter.map(_._1) === Set(1L, 2L))
    // vacuum is the explicit byte-removal act: it collapses the window
    val now = asMap(dir)
    ManifestReplica.vacuum(spark, dir, numBuckets = 4)
    assert(asMap(dir) === now)
    assert(ManifestReplica.versions(spark, dir).size === 1)
    assert(intercept[IllegalArgumentException] {
      ManifestReplica.readReplicaAt(spark, dir, vs.min)
    }.getMessage.contains("not retained"))
  }

  test("manifest change feed: batches after a version, across compaction, until reclaimed") {
    val dir = tmp("man-cdf")
    val rows = (0 until 8).map(i =>
      PersonRow(i, s"n$i", s"u$i", i,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    ManifestReplica.snapshot(spark, rows.toDS(), dir, numBuckets = 4) // v1
    def upd(lsn: Long, id: Int) = PersonChange(lsn, "U", id,
      Some(s"x$lsn"), Some(s"u$id"), Some(50), None)
    ManifestReplica.applyBatch(spark, Seq(upd(100, 1)).toDS(), dir,
      numBuckets = 4, batchId = 0L, compactEvery = 100) // v2
    val v2 = ManifestReplica.versions(spark, dir).max
    ManifestReplica.applyBatch(spark, Seq(upd(101, 2)).toDS(), dir,
      numBuckets = 4, batchId = 1L, compactEvery = 100) // v3
    val v3 = ManifestReplica.versions(spark, dir).max
    ManifestReplica.compact(spark, dir, numBuckets = 4) // v4: consumes 0,1
    ManifestReplica.applyBatch(spark, Seq(upd(102, 3)).toDS(), dir,
      numBuckets = 4, batchId = 2L, compactEvery = 100) // v5
    // since v2 (batch 0 committed): batches 1 and 2 — including batch
    // 1, already folded into the base (its dir is retained until gc)
    val sinceV2 = ManifestReplica.changesSince(spark, dir, v2)
      .select("batch_id", "id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(sinceV2 === Set((1L, 2), (2L, 3)))
    // since v3 (batches 0,1 committed): only batch 2
    val sinceV3 = ManifestReplica.changesSince(spark, dir, v3)
      .select("batch_id", "id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(sinceV3 === Set((2L, 3)))
    // feed rows ARE the summary algebra: folding them over the v1 state
    // reproduces the current replica
    val cur = ManifestReplica.versions(spark, dir).max
    assert(ManifestReplica.changesSince(spark, dir, cur).isEmpty)
    assert(intercept[IllegalArgumentException] {
      ManifestReplica.changesSince(spark, dir, 999L)
    }.getMessage.contains("not retained"))
    // bootstrap: "everything since the initial snapshot" — the snapshot
    // manifest carries the Long.MinValue watermark sentinel, and the
    // feed must clamp it to the epoch-0 origin, not overflow
    val bDir = tmp("man-cdf-boot")
    ManifestReplica.snapshot(spark, rows.toDS(), bDir, numBuckets = 4)
    val bv1 = ManifestReplica.versions(spark, bDir).max
    ManifestReplica.applyBatch(spark, Seq(upd(200, 1)).toDS(), bDir,
      numBuckets = 4, batchId = 0L, compactEvery = 100)
    ManifestReplica.applyBatch(spark, Seq(upd(201, 2)).toDS(), bDir,
      numBuckets = 4, batchId = 1L, compactEvery = 100)
    val boot = ManifestReplica.changesSince(spark, bDir, bv1)
      .select("batch_id", "id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(boot === Set((0L, 1), (1L, 2)))
  }

  /** One manifest replica path as the CAS spec drives it, over a root
    * dir and 4 buckets: snapshot rows, apply one change as an epoch,
    * fold, read the live rows. */
  private final case class ManifestPath(name: String,
      snapshot: (String, Seq[PersonRow]) => Unit,
      apply: (String, PersonChange, Long) => Unit,
      compact: String => Unit,
      read: String => Map[Int, (String, String, Int)])

  private val typedPath = ManifestPath("typed",
    (dir, rows) =>
      ManifestReplica.snapshot(spark, rows.toDS(), dir, numBuckets = 4),
    (dir, c, id) => ManifestReplica.applyBatch(spark, Seq(c).toDS(), dir,
      numBuckets = 4, batchId = id, compactEvery = 100),
    dir => ManifestReplica.compact(spark, dir, numBuckets = 4),
    asMap)

  /** The generic path with the person table declared: `MtShape`'s
    * schema and hash buckets through the same manifest helpers. */
  private val genericPath = {
    val spec = MtTestSpecs.person
    ManifestPath("generic",
      (root, rows) => ManifestMultiTable.snapshot(spark, rows.toDS().toDF(),
        root, spec, numBuckets = 4),
      (root, c, id) => ManifestMultiTable.applyBatch(spark,
        Seq(("person", c.lsn, c.action, c.id.toString,
          s"""{"id":"${c.id}","name":"${c.name.get}","uid":"${c.uid.get}","score":"${c.score.get}"}""",
          null: java.sql.Timestamp))
          .toDF("tbl", "lsn", "action", "key", "img", "created_at"),
        root, Seq(spec), batchId = id, numBuckets = 4, compactEvery = 100),
      root => ManifestMultiTable.compact(spark, s"$root/person",
        numBuckets = 4),
      root => ManifestMultiTable.readTable(spark, root, spec).collect()
        .map(r => r.getInt(0) ->
          ((r.getString(1), r.getString(2), r.getInt(3)))).toMap)
  }

  test("manifest CAS: a fold losing the version race preserves the winner's delta") {
    Seq(typedPath, genericPath).foreach { p => withClue(s"${p.name}: ") {
      val dir = tmp(s"man-cas-${p.name}")
      val rows = (0 until 16).map(i =>
        PersonRow(i, s"n$i", s"u$i", i,
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      p.snapshot(dir, rows)
      p.apply(dir,
        PersonChange(100L, "U", 1, Some("x1"), Some("u1"), Some(91), None), 0L)
      // interleave: while compact() is between its manifest read and its
      // commit attempt, a trigger lands delta batch=1. The fold's first
      // commit must fail on the taken version and its retry must re-apply
      // "consume exactly batch 0" on top of the winner's state — batch 1
      // survives in the manifest and in the read view.
      @volatile var fired = false
      ManifestReplica.preCommitHook = () => {
        if (!fired) {
          fired = true // self-disarm BEFORE the nested commit recurses
          p.apply(dir, PersonChange(200L, "U", 2, Some("x2"), Some("u2"),
            Some(92), None), 1L)
        }
      }
      try p.compact(dir)
      finally ManifestReplica.preCommitHook = () => ()
      assert(fired, "race hook never fired")
      val got = p.read(dir)
      assert(got(1) === (("x1", "u1", 91)), "folded delta lost")
      assert(got(2) === (("x2", "u2", 92)),
        "concurrently-committed delta lost by the fold's CAS retry")
      // and the pending delta is still fold-able
      p.compact(dir)
      assert(p.read(dir)(2) === (("x2", "u2", 92)))
      // a further compact with nothing pending is a no-op
      p.compact(dir)
      assert(p.read(dir)(2) === (("x2", "u2", 92)))
    } }
  }

  test("gc grace period spares young unnamed dirs (cross-process in-flight placements)") {
    val dir = tmp("man-grace")
    val rows = (0 until 8).map(i =>
      PersonRow(i, s"n$i", s"u$i", i,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    ManifestReplica.snapshot(spark, rows.toDS(), dir, numBuckets = 4)
    // an unnamed placement, as a concurrent OTHER-PROCESS committer
    // would leave mid-commit (no in-JVM lock protects it)
    Files.createDirectories(Paths.get(dir, "data", "b0-g99"))
    ManifestReplica.gc(spark, dir, graceMs = 3600000L)
    assert(Files.exists(Paths.get(dir, "data", "b0-g99")),
      "grace window must spare a fresh unnamed dir")
    // aged past the horizon it is reclaimable garbage
    Files.setLastModifiedTime(Paths.get(dir, "data", "b0-g99"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 7200000L))
    ManifestReplica.gc(spark, dir, graceMs = 3600000L)
    assert(!Files.exists(Paths.get(dir, "data", "b0-g99")),
      "aged unnamed dir must be reclaimed")
  }

  test("manifest cross-process CAS: two lockless racers, exactly one winner; stale claims block then recover") {
    // r5 VERDICT ask #5 / ADVICE medium: the commit point must be a true
    // CAS across processes, not check-then-act. Two threads race
    // tryCommit directly — bypassing the in-JVM commit lock, exactly
    // what two separate JVMs on one filesystem look like — for the SAME
    // version with different payloads; exactly one may win each round.
    val dir = tmp("man-xcas")
    val rows = (0 until 8).map(i =>
      PersonRow(i, s"n$i", s"u$i", i,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    ManifestReplica.snapshot(spark, rows.toDS(), dir, numBuckets = 4)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = ManifestReplica.versions(spark, dir).max
    for (round <- 1 to 40) {
      val v = base + round
      val payload = (g: Long) => ManifestReplica.Manifest(
        g, -1L, Map(0 -> 1L), Set.empty, mod = 4)
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val ts = Seq(100L, 200L).map { g =>
        new Thread(() => {
          barrier.await()
          if (ManifestReplica.tryCommit(fs, root, v, payload(g)))
            wins.incrementAndGet()
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(wins.get() === 1, s"round $round: ${wins.get()} winners")
    }
    // a crashed claimant (marker, no manifest) blocks the version —
    // then ages past the quiescence window and is reclaimed
    val v = ManifestReplica.versions(spark, dir).max + 1
    Files.write(Paths.get(dir, s".commit-v$v"), Array.empty[Byte])
    assert(!ManifestReplica.tryCommit(fs, root, v, ManifestReplica.Manifest(
      1L, -1L, Map(0 -> 1L), Set.empty, mod = 4)),
      "fresh orphan claim must block the version")
    Files.setLastModifiedTime(Paths.get(dir, s".commit-v$v"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 120000L))
    assert(ManifestReplica.tryCommit(fs, root, v, ManifestReplica.Manifest(
      1L, -1L, Map(0 -> 1L), Set.empty, mod = 4)),
      "stale orphan claim must be reclaimed")
  }

  test("claim markers outlive their manifest; a trim-overtaken committer aborts at the rename") {
    // r6 advice: trimming a claim marker WITH its manifest let a
    // committer stalled between claim and rename resurrect the trimmed
    // version number. Two defenses, both pinned here: markers are
    // retained one extra ManifestHistory window (a retained marker
    // blocks any new claimant of a trimmed version), and tryCommit
    // re-verifies its marker immediately before the publish rename (a
    // stall past BOTH windows aborts instead of resurrecting).
    val dir = tmp("man-marker-retention")
    val rows = (0 until 8).map(i =>
      PersonRow(i, s"n$i", s"u$i", i,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    def upd(lsn: Long, id: Int, v: Int) = PersonChange(lsn, "U", id,
      Some(s"x$lsn"), Some(s"u$id"), Some(v), None)
    ManifestReplica.snapshot(spark, rows.toDS(), dir, numBuckets = 4) // v1
    for (b <- 0 until 11)
      ManifestReplica.applyBatch(spark, Seq(upd(100L + b, b % 8, b)).toDS(),
        dir, numBuckets = 4, batchId = b.toLong, compactEvery = 1000)
    val h = ManifestReplica.ManifestHistory
    val names = ls(dir, "")
    val manifestVs = names.filter(_.startsWith("_manifest.v"))
      .map(_.stripPrefix("_manifest.v").toLong)
    val markerVs = names.filter(_.startsWith(".commit-v"))
      .map(_.stripPrefix(".commit-v").toLong)
    val head = manifestVs.max
    assert(manifestVs.min === head - h + 1, "manifest window drifted")
    assert(markerVs.min <= head - h,
      "claim markers must survive their manifest's trim")
    assert(markerVs.min > head - 2L * h,
      "marker retention must itself stay bounded")

    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bogus = ManifestReplica.Manifest(999L, -1L, Map(0 -> 999L),
      Set.empty, mod = 4)
    // defense 1: a trimmed version whose marker is RETAINED — a new
    // claimant finds the (fresh-mtime) marker and is refused
    val vTrimmed = head - h
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root,
      s"_manifest.v$vTrimmed")))
    assert(!ManifestReplica.tryCommit(fs, root, vTrimmed, bogus),
      "retained marker must block re-claiming a trimmed version")
    // defense 2: a version past BOTH windows (marker gone too) — the
    // claim succeeds, but the trim overtakes the stalled committer
    // before its rename (simulated via the claim seam); the pre-rename
    // marker re-check must abort the commit
    val vAncient = head - 2L * h
    assert(!names.contains(s".commit-v$vAncient"))
    val prior = ManifestReplica.claimImpl
    ManifestReplica.claimImpl = (fs2, marker) => {
      val ok = prior(fs2, marker)
      if (ok) fs2.delete(marker, false) // the trim passing mid-stall
      ok
    }
    try
      assert(!ManifestReplica.tryCommit(fs, root, vAncient, bogus),
        "trim-overtaken committer must abort, not resurrect")
    finally ManifestReplica.claimImpl = prior
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root,
      s"_manifest.v$vAncient")), "no bogus resurrected version")
    assert(ManifestReplica.versions(spark, dir).max === head)
  }

  test("claimImpl seam: a plugged conditional-PUT carries the whole CAS protocol") {
    // the documented object-store deployment path: replace the
    // filesystem exclusive-create with a store-side conditional PUT
    // (Delta LogStore pattern). Simulate one with an atomic in-memory
    // key set and run real commits + a lockless two-racer round
    // through it — the seam must carry the protocol, not just exist.
    val claimed = java.util.concurrent.ConcurrentHashMap
      .newKeySet[String]()
    val prior = ManifestReplica.claimImpl
    val priorHeld = ManifestReplica.claimHeldImpl
    // both halves of the seam travel together: the store-side claim set
    // also answers "is my claim still standing?" for the pre-rename check
    ManifestReplica.claimImpl = (_, marker) => claimed.add(marker.toString)
    ManifestReplica.claimHeldImpl =
      (_, marker) => claimed.contains(marker.toString)
    try {
      val dir = tmp("man-claim-seam")
      val rows = (0 until 8).map(i =>
        PersonRow(i, s"n$i", s"u$i", i,
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      ManifestReplica.snapshot(spark, rows.toDS(), dir, numBuckets = 4)
      ManifestReplica.applyBatch(spark,
        Seq(PersonChange(1000L, "U", 1, Some("x"), Some("u1"), Some(99),
          None)).toDS(), dir, numBuckets = 4, batchId = 0L)
      assert(ManifestReplica.readReplica(spark, dir).collect()
        .find(_.id == 1).get.name === "x",
        "commits must flow through the plugged claim")
      // lockless racers through the seam: exactly one winner per round
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      for (round <- 1 to 20) {
        val v = ManifestReplica.versions(spark, dir).max + round
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        val wins = new java.util.concurrent.atomic.AtomicInteger(0)
        val ts = Seq(1L, 2L).map { g =>
          new Thread(() => {
            barrier.await()
            if (ManifestReplica.tryCommit(fs, root, v,
                ManifestReplica.Manifest(g, -1L, Map(0 -> g), Set.empty,
                  mod = 4)))
              wins.incrementAndGet()
          })
        }
        ts.foreach(_.start()); ts.foreach(_.join())
        assert(wins.get() === 1, s"round $round: ${wins.get()} winners")
      }
    } finally {
      ManifestReplica.claimImpl = prior
      ManifestReplica.claimHeldImpl = priorHeld
    }
  }

  test("manifest CAS: racing stale-claim reclaimers award the version at most once") {
    // r6 review: the old reclaim path was delete-marker-then-create —
    // two racers interleaving delete/create could BOTH claim the
    // version and cross-write the manifest (lost update). The fix
    // steals the marker with an atomic rename-aside; of N racers at
    // most one may commit, and the version must end up committed with
    // exactly one body. Many rounds to give the scheduler chances.
    val dir = tmp("man-reclaim-race")
    Files.createDirectories(Paths.get(dir))
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (round <- 1 to 40) {
      val v = round.toLong
      // a crashed claimant's leftover, aged past the quiescence window
      Files.write(Paths.get(dir, s".commit-v$v"), Array.empty[Byte])
      Files.setLastModifiedTime(Paths.get(dir, s".commit-v$v"),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 120000L))
      val barrier = new java.util.concurrent.CyclicBarrier(4)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val ts = (1 to 4).map { g =>
        new Thread(() => {
          barrier.await()
          if (ManifestReplica.tryCommit(fs, root, v,
              ManifestReplica.Manifest(g.toLong, -1L, Map(0 -> g.toLong),
                Set.empty, mod = 4)))
            wins.incrementAndGet()
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(wins.get() <= 1, s"round $round: ${wins.get()} winners")
      if (wins.get() == 1) {
        // the committed body must be internally consistent — written
        // whole by the single winner, not interleaved by a loser
        val m = ManifestReplica.readManifestAt(fs, root, v)
        assert(m.buckets(0) === m.gen,
          s"round $round: body gen ${m.gen} vs bucket ${m.buckets(0)} — cross-written manifest")
      }
    }
  }

  test("gc spares an in-flight unlocked write; sweeps aged leftovers") {
    // r6 review: applyBatch/compact write their heavy parquet OUTSIDE
    // the commit lock by design, so the lock alone cannot shield those
    // paths from a concurrent gc at graceMs=0 — the in-flight registry
    // must. An unregistered aged leftover with the same shape is
    // swept (crash cleanup still works).
    val dir = tmp("man-gc-inflight")
    val rows = (0 until 8).map(i =>
      PersonRow(i, s"n$i", s"u$i", i,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    ManifestReplica.snapshot(spark, rows.toDS(), dir, numBuckets = 4)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(root, "delta/.tmp-99")
    val dead = new org.apache.hadoop.fs.Path(root, "delta/.tmp-98")
    fs.mkdirs(live); fs.mkdirs(dead)
    // both look old enough to sweep; only the registered one survives
    Seq("98", "99").foreach(b =>
      Files.setLastModifiedTime(Paths.get(dir, "delta", s".tmp-$b"),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 3600000L)))
    ManifestReplica.writingTo(live) {
      ManifestReplica.gc(spark, dir, graceMs = 0L)
      assert(fs.exists(live), "gc swept a registered in-flight write")
      assert(!fs.exists(dead), "gc failed to sweep an aged crash leftover")
    }
    ManifestReplica.gc(spark, dir, graceMs = 0L)
    assert(!fs.exists(live),
      "deregistered leftover must be sweepable again")
  }

  test("manifest async compaction converges with the stream") {
    val ops = ChangeGen.ops(seed = 55, n = 800)
    val (snapOps, streamOps) = ops.splitAt(300)
    val changeDir = tmp("man-a-log"); val dir = tmp("man-a-replica")
    val ckpt = tmp("man-a-ckpt")
    ManifestReplica.snapshot(spark,
      ChangeGen.replay(snapOps).values.toSeq.toDS(), dir, numBuckets = 4)
    ChangeGen.writeBatches(changeDir, streamOps, batches = 6)
    val q = ManifestReplica.startFrom(spark,
      ChangeSource.readStream(spark, changeDir, maxFilesPerTrigger = Some(1)),
      dir, ckpt, numBuckets = 4,
      trigger = Trigger.ProcessingTime("1 second"), compactEvery = 2,
      compactAsync = true)
    try q.processAllAvailable() finally q.stop()
    Replicate.awaitCompactions()
    assert(asMap(dir) === wantMap(ops))
  }

  test("Replicate.awaitCompactions joins an in-flight manifest async fold") {
    val ops = ChangeGen.ops(seed = 56, n = 600)
    val (snapOps, streamOps) = ops.splitAt(200)
    val dir = tmp("man-join")
    ManifestReplica.snapshot(spark,
      ChangeGen.replay(snapOps).values.toSeq.toDS(), dir, numBuckets = 4)
    // compactEvery = 1: this trigger's delta starts a background fold
    ManifestReplica.applyBatch(spark, ChangeGen.toChanges(streamOps).toDS(),
      dir, numBuckets = 4, batchId = 0L, compactEvery = 1,
      compactAsync = true)
    Replicate.awaitCompactions()
    val root = new org.apache.hadoop.fs.Path(dir)
    val m = ManifestReplica.readManifestAt(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root,
      ManifestReplica.versions(spark, dir).last)
    assert(m.deltas.isEmpty && m.watermark === 0L,
      s"the fold of batch 0 had not committed when the join returned: $m")
    assert(asMap(dir) === wantMap(ops))
  }

  test("the manifest stream runs as query graft-replicate-manifest") {
    // the name Bench's BatchMetricsListener filters the manifest cells on
    val changeDir = tmp("man-q-log"); val dir = tmp("man-q-replica")
    ChangeGen.writeBatches(changeDir, ChangeGen.ops(seed = 57, n = 50),
      batches = 1)
    val q = ManifestReplica.startFrom(spark,
      ChangeSource.readStream(spark, changeDir), dir, tmp("man-q-ckpt"),
      numBuckets = 4, trigger = Trigger.ProcessingTime("1 second"))
    try {
      assert(q.name === "graft-replicate-manifest")
      q.processAllAvailable()
      assert(q.lastProgress.name === "graft-replicate-manifest")
    } finally q.stop()
  }

  test("manifest stream drives the replicate dataflow end to end") {
    val ops = ChangeGen.ops(seed = 54, n = 800)
    val (snapOps, streamOps) = ops.splitAt(300)
    val changeDir = tmp("man-s-log"); val dir = tmp("man-s-replica")
    val ckpt = tmp("man-s-ckpt")
    ManifestReplica.snapshot(spark,
      ChangeGen.replay(snapOps).values.toSeq.toDS(), dir, numBuckets = 4)
    ChangeGen.writeBatches(changeDir, streamOps, batches = 5)
    val q = ManifestReplica.startFrom(spark,
      ChangeSource.readStream(spark, changeDir, maxFilesPerTrigger = Some(1)),
      dir, ckpt, numBuckets = 4,
      trigger = Trigger.ProcessingTime("1 second"), compactEvery = 3)
    try q.processAllAvailable() finally q.stop()
    assert(asMap(dir) === wantMap(ops))
    // history is trimmed to the retained time-travel window
    val manifests = ls(dir, ".").filter(_.startsWith("_manifest.v"))
    assert(manifests.size <= ManifestReplica.ManifestHistory,
      s"manifest history not trimmed: $manifests")
  }

  test("lifecycle soak: 300 mixed-op triggers under gc/vacuum/async folds stay bounded with live time travel", SlowTest) {
    // The time-axis probe (r6 verdict #3): per-operation specs pin each
    // crash window; this pins the LONG RUN — 300 triggers with gc every
    // 25, vacuum every 100, folds on a concurrent daemon thread, and
    // periodic read/time-travel/change-feed probes. Asserted, not
    // eyeballed: read latency shows no upward trend, metadata file
    // counts stay O(window) (never O(triggers)), every version
    // `versions()` advertises serves a read, and the change feed from
    // the window floor never reports a gap.
    val dir = tmp("man-soak")
    val ops = ChangeGen.ops(seed = 9100L, n = 9300)
    val (snapOps, streamOps) = ops.splitAt(300)
    ManifestReplica.snapshot(spark,
      ChangeGen.replay(snapOps).values.toSeq.toDS(), dir)
    val batches = streamOps.grouped(30).toSeq
    assert(batches.size === 300)
    val readSecs = scala.collection.mutable.ArrayBuffer[Double]()
    var deltaPeak = 0; var dataPeak = 0
    batches.zipWithIndex.foreach { case (b, i) =>
      ManifestReplica.applyBatch(spark, ChangeGen.toChanges(b).toDS(), dir,
        batchId = i.toLong, compactEvery = 4, compactAsync = true)
      val n = i + 1
      if (n % 100 == 0) ManifestReplica.vacuum(spark, dir)
      else if (n % 25 == 0) {
        ManifestReplica.gc(spark, dir)
        val t0 = System.nanoTime()
        assert(ManifestReplica.readReplica(spark, dir).count() > 0)
        readSecs += (System.nanoTime() - t0) / 1e9
        // the probes race the async fold's window trim BY DESIGN: a
        // version listed a moment ago can be trimmed (and its exclusive
        // files swept) before the read executes — the documented
        // retention contract, which trims from the bottom and fails
        // loudly. An operational reader re-lists and retries from the
        // new floor; so does the probe.
        def probeWindow(left: Int): Unit = {
          val vs = ManifestReplica.versions(spark, dir)
          assert(vs.nonEmpty)
          try {
            // the advertised window must SERVE, not just list
            Seq(vs.head, vs.last).distinct.foreach(v =>
              assert(ManifestReplica.readReplicaAt(spark, dir, v)
                .count() > 0))
            // change feed from the window floor: gap check runs inside
            ManifestReplica.changesSince(spark, dir, vs.head).count()
          } catch {
            case e: Exception if left > 0 && Option(e.getMessage).exists(
                m => m.contains("not retained") ||
                  m.contains("FAILED_READ_FILE") ||
                  m.contains("PATH_NOT_FOUND")) =>
              Thread.sleep(100)
              probeWindow(left - 1)
          }
          assert(vs.size <= ManifestReplica.ManifestHistory + 4,
            s"manifest history unbounded at trigger $n: ${vs.size}")
        }
        probeWindow(6)
        deltaPeak = deltaPeak max
          ls(dir, "delta").count(_.startsWith("batch="))
        dataPeak = dataPeak max ls(dir, "data").size
        assert(deltaPeak <= 48,
          s"delta dirs accumulating at trigger $n: $deltaPeak")
        assert(dataPeak <= 16 * (ManifestReplica.ManifestHistory + 4),
          s"bucket generations accumulating at trigger $n: $dataPeak")
      }
    }
    Replicate.awaitCompactions()
    assert(asMap(dir) === wantMap(ops), "soak must converge to the replay")
    // no upward read-latency trend: last-third mean within 3× the
    // first-third mean (+0.5 s noise floor on this box)
    val third = readSecs.size / 3
    val early = readSecs.take(third).sum / third
    val late = readSecs.takeRight(third).sum / third
    assert(late <= early * 3 + 0.5,
      s"read latency trending up over the soak: $readSecs")
  }
}
