package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc._

class CdcSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def replicaAsMap(dir: String): Map[Int, PersonRow] =
    Replicate.readReplica(spark, dir).collect().map(r => r.id -> r).toMap

  // -------------------------------------------------------------------
  // Envelope parsing (S2/X11/X13, F2, malformed handling)
  // -------------------------------------------------------------------

  test("wal2json parse: I/U/D pivot, non-person dropped, malformed skipped") {
    val ops = ChangeGen.ops(seed = 7, n = 50)
    val dir = tmp("cdc-parse")
    ChangeGen.writeBatches(dir, ops, batches = 2, withNoise = true)

    val parsed = ChangeSource.readBatch(spark, dir).collect()
    assert(parsed.length === 50) // audit + malformed lines excluded
    assert(ChangeSource.malformedCount(spark, dir) === 2) // 1 per batch file

    val byLsn = parsed.map(c => c.lsn -> c).toMap
    ops.foreach { op =>
      val c = byLsn(op.lsn)
      assert(c.action === op.action && c.id === op.id)
      if (op.action != "D") {
        assert(c.name.contains(op.name))
        assert(c.uid.contains(op.uid))
        assert(c.score.contains(op.score))
        assert(c.created_at.contains(java.sql.Timestamp.valueOf(op.createdAt)))
      } else {
        // delete carries only the PK image (replicator/main.go:260-261)
        assert(c.name.isEmpty && c.score.isEmpty)
      }
    }
  }

  test("classify routes hostile lines to verdicts without crashing") {
    val lines = Seq(
      ChangeGen.malformedLine, // → malformed_json
      ChangeGen.auditLine(1), // → unknown_table
      ChangeGen.badActionLine(2), // → bad_action
      ChangeGen.missingIdLine(3), // → missing_id
      // duplicate column names: a map build would throw
      // DUPLICATED_MAP_KEY — must classify as ok (an id IS present)
      """{"lsn":4,"action":"I","table":"person","columns":[{"name":"id","value":1},{"name":"id","value":2}]}""",
      ChangeGen.toJsonLine(ChangeGen.ops(seed = 1, n = 1).head) // → ok
    ).toDF("value")
    val verdicts = ChangeSource.classify(lines)
      .groupBy("verdict").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(verdicts === Map("malformed_json" -> 1L, "unknown_table" -> 1L,
      "bad_action" -> 1L, "missing_id" -> 1L, "ok" -> 2L))
  }

  // -------------------------------------------------------------------
  // Merge fold semantics (A6/J1, S5-S8)
  // -------------------------------------------------------------------

  private val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
  private def ch(lsn: Long, a: String, id: Int, name: String = "x",
      score: Int = 2, at: java.sql.Timestamp = t0): PersonChange =
    PersonChange(lsn, a, id,
      if (a == "D") None else Some(name),
      if (a == "D") None else Some(s"uid-$id"),
      if (a == "D") None else Some(score),
      if (a == "D") None else Some(at))

  test("fold: I then U then D leaves no row; D then re-I resurrects") {
    val empty = spark.emptyDataset[PersonRow]
    val gone = Replicate.applyChanges(empty,
      Seq(ch(1, "I", 1), ch(2, "U", 1, "y"), ch(3, "D", 1)).toDS())
    assert(gone.isEmpty)

    val t1 = java.sql.Timestamp.valueOf("2026-02-02 00:00:00")
    val back = Replicate.applyChanges(empty,
      Seq(ch(1, "I", 1), ch(2, "D", 1), ch(3, "I", 1, "z", 4, t1)).toDS())
      .collect()
    assert(back.length === 1)
    assert(back(0).name === "z" && back(0).created_at === t1)
  }

  test("fold: conflicting I and U preserve created_at of the live row") {
    val t1 = java.sql.Timestamp.valueOf("2026-03-03 00:00:00")
    val current = Seq(PersonRow(1, "old", "u1", 1, t0)).toDS()
    // I on existing key = ON CONFLICT DO UPDATE (replicator/main.go:204-217)
    val afterI = Replicate.applyChanges(current,
      Seq(ch(10, "I", 1, "newI", 8, t1)).toDS()).collect()(0)
    assert(afterI.name === "newI" && afterI.score === 8)
    assert(afterI.created_at === t0, "created_at must survive conflict-update")
    // U on existing key never touches created_at (replicator/main.go:234-243)
    val afterU = Replicate.applyChanges(current,
      Seq(ch(11, "U", 1, "newU", 9, t1)).toDS()).collect()(0)
    assert(afterU.name === "newU" && afterU.created_at === t0)
  }

  test("fold: U and D on absent key are no-ops") {
    val empty = spark.emptyDataset[PersonRow]
    assert(Replicate.applyChanges(empty, Seq(ch(1, "U", 42)).toDS()).isEmpty)
    assert(Replicate.applyChanges(empty, Seq(ch(1, "D", 42)).toDS()).isEmpty)
  }

  test("property: engine state == naive replay for random sequences") {
    for (seed <- Seq(1L, 42L, 99L)) {
      val ops = ChangeGen.ops(seed, n = 300)
      val changes = ChangeGen.ops(seed, n = 300) // regenerate: determinism
      assert(ops === changes, "generator must be deterministic in seed")
      val dir = tmp(s"cdc-prop-$seed")
      ChangeGen.writeBatches(dir, ops, batches = 5)
      val got = Replicate.applyChanges(spark.emptyDataset[PersonRow],
        ChangeSource.readBatch(spark, dir))
        .collect().map(r => r.id -> r).toMap
      assert(got === ChangeGen.replay(ops), s"seed $seed diverged")
    }
  }

  // -------------------------------------------------------------------
  // Engine merge path (DataFrame/Tungsten) == typed cogroup oracle
  // -------------------------------------------------------------------

  private def assertMergeAgrees(current: Seq[PersonRow],
      batch: Seq[PersonChange], hint: String): Unit = {
    val curDs = current.toDS()
    val batchDs = batch.toDS()
    val oracle = Replicate.applyChanges(curDs, batchDs)
      .collect().map(r => r.id -> r).toMap
    val got = Replicate.projectAlive(Replicate.combineSummaries(
        Replicate.rowsAsSummaries(curDs.toDF())
          .unionAll(Replicate.summarize(batchDs.toDF())),
        Seq("id")))
      .as[PersonRow].collect().map(r => r.id -> r).toMap
    assert(got === oracle, s"engine merge diverged from oracle: $hint")
  }

  test("summary fold == cogroup oracle on crafted edge sequences") {
    val t1 = java.sql.Timestamp.valueOf("2026-04-04 00:00:00")
    val cur = Seq(PersonRow(1, "old", "u1", 1, t0))
    assertMergeAgrees(cur, Seq(ch(10, "I", 1, "n", 8, t1)), "I-on-present")
    assertMergeAgrees(cur, Seq(ch(10, "U", 1, "n", 9, t1)), "U-on-present")
    assertMergeAgrees(cur, Seq(ch(10, "D", 1)), "D-on-present")
    assertMergeAgrees(cur, Seq(ch(10, "U", 2, "n")), "U-on-absent no-op")
    assertMergeAgrees(cur, Seq(ch(10, "D", 2)), "D-on-absent no-op")
    assertMergeAgrees(cur,
      Seq(ch(10, "D", 1), ch(11, "I", 1, "re", 5, t1)), "delete-then-reinsert")
    assertMergeAgrees(cur,
      Seq(ch(10, "D", 1), ch(11, "U", 1, "ghost")), "U-after-D no-op")
    assertMergeAgrees(cur,
      Seq(ch(10, "I", 1, "a"), ch(11, "U", 1, "b"), ch(12, "D", 1),
        ch(13, "I", 1, "c", 7, t1), ch(14, "U", 1, "d", 3, t1)),
      "full I/U/D/I/U chain")
    assertMergeAgrees(Nil,
      Seq(ch(10, "U", 3, "pre"), ch(11, "I", 3, "ins", 2, t1),
        ch(12, "U", 3, "post", 4, t1)), "U-before-first-I on absent")
  }

  test("summary fold == cogroup oracle on random generated sequences") {
    for (seed <- Seq(3L, 21L, 77L)) {
      val ops = ChangeGen.ops(seed, n = 400)
      val (pre, post) = ops.splitAt(150)
      assertMergeAgrees(ChangeGen.replay(pre).values.toSeq,
        ChangeGen.toChanges(post), s"seed $seed")
    }
  }

  // -------------------------------------------------------------------
  // Bucketed replica apply (S5-S9) + idempotency (T2)
  // -------------------------------------------------------------------

  test("applyBatch: bucketed replica converges and re-delivery is idempotent") {
    val ops = ChangeGen.ops(seed = 5, n = 400)
    val dir = tmp("cdc-apply"); val replica = tmp("cdc-replica")
    ChangeGen.writeBatches(dir, ops, batches = 1, withNoise = false)
    val batch = ChangeSource.readBatch(spark, dir)

    Replicate.applyBatch(spark, batch, replica, numBuckets = 4,
      batchId = 0L)
    val first = replicaAsMap(replica)
    assert(first === ChangeGen.replay(ops))

    // exactly-once story: replaying the same batch (SAME batchId - the
    // replay contract) changes nothing
    Replicate.applyBatch(spark, batch, replica, numBuckets = 4,
      batchId = 0L)
    assert(replicaAsMap(replica) === first)
  }

  test("compaction is incremental: untouched bucket dirs are byte-stable") {
    import java.nio.file.{Files => JFiles, Paths}
    val replica = tmp("cdc-incr")
    val rows = (0 until 40).map(i =>
      PersonRow(i, s"n$i", s"u$i", i,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    Replicate.snapshot(spark, rows.toDS(), replica, numBuckets = 8)
    def bucketFiles(b: Int): Set[(String, Long)] = {
      val p = RenameLayout.newest(replica)(b).path
      val s = JFiles.list(p)
      try s.toArray.map(_.toString).map { f =>
        (f, JFiles.getLastModifiedTime(Paths.get(f)).toMillis)
      }.toSet
      finally s.close()
    }
    val before = (0 until 8).map(bucketFiles)
    // one batch touching ONLY bucket 3 (ids ≡ 3 mod 8), compacted
    // immediately (compactEvery = 1)
    val changes = Seq(
      PersonChange(900L, "U", 3, Some("x3"), Some("u3"), Some(77), None),
      PersonChange(901L, "U", 11, Some("x11"), Some("u11"), Some(77), None))
    Replicate.applyBatch(spark, changes.toDS(), replica, numBuckets = 8,
      batchId = 0L, compactEvery = 1)
    (0 until 8).filterNot(_ == 3).foreach { b =>
      assert(bucketFiles(b) === before(b),
        s"untouched bucket $b was rewritten by an incremental compaction")
    }
    assert(bucketFiles(3) !== before(3), "touched bucket must be refolded")
    val got = replicaAsMap(replica)
    assert(got(3).name === "x3" && got(11).score === 77)
    assert(got(4).name === "n4")
  }

  test("truncate empties the replica (buckets + deltas) and accepts a fresh snapshot") {
    val ops = ChangeGen.ops(seed = 21, n = 300)
    val dir = tmp("cdc-trunc-log"); val replica = tmp("cdc-trunc-replica")
    ChangeGen.writeBatches(dir, ops, batches = 1, withNoise = false)
    // apply WITHOUT compaction so live delta dirs exist at truncate time
    Replicate.applyBatch(spark, ChangeSource.readBatch(spark, dir), replica,
      numBuckets = 4, batchId = 0L, compactEvery = 100)
    assert(replicaAsMap(replica).nonEmpty)

    Replicate.truncate(spark, replica)
    assert(replicaAsMap(replica).isEmpty, "truncated replica must read empty")

    // RESTART IDENTITY analog: the emptied replica accepts a fresh copy
    import spark.implicits._
    val rows = ChangeGen.replay(ops).values.toSeq
    Replicate.snapshot(spark, rows.toDS(), replica, numBuckets = 4)
    assert(replicaAsMap(replica) === ChangeGen.replay(ops))
  }

  test("keyed delete: tombstone guards reorder, vacuum physically drops the dead bucket") {
    val replica = tmp("cdc-replica-drop")
    // two keys in distinct buckets (numBuckets=2: id 2 → bucket 0, id 3 → 1);
    // compactEvery=1 = eager mode, so the layout assertions see the base
    Replicate.applyBatch(spark,
      Seq(ch(1, "I", 2), ch(2, "I", 3)).toDS(), replica, numBuckets = 2,
      batchId = 0L, compactEvery = 1)
    assert(replicaAsMap(replica).keySet === Set(2, 3))
    Replicate.applyBatch(spark,
      Seq(ch(3, "D", 2)).toDS(), replica, numBuckets = 2, batchId = 1L,
      compactEvery = 1)
    assert(replicaAsMap(replica).keySet === Set(3))
    // the dead key's bucket stays as a tombstone (that is what makes a
    // reordered/replayed older event safe) but is invisible to reads
    assert(RenameLayout.newest(replica)(0).isDir)
    // a REORDERED older event (lsn 2.5 < the delete's 3) arriving after
    // the delete compacted must NOT resurrect the key — the tombstone
    // absorbs it
    Replicate.applyBatch(spark,
      Seq(PersonChange(2L, "U", 2, Some("ghost"), Some("g"), Some(1),
        Some(t0))).toDS(), replica, numBuckets = 2, batchId = 2L,
      compactEvery = 1)
    assert(replicaAsMap(replica).keySet === Set(3),
      "tombstone must absorb an out-of-order pre-delete event")
    // vacuum: once the source can't deliver older lsns, tombstones go —
    // at once the dead bucket's newest generation is the empty marker
    // (no rows, not even filtered-out ones), and the next fold drops
    // every dir of it
    Replicate.vacuum(spark, replica, numBuckets = 2)
    assert(!RenameLayout.newest(replica)(0).isDir,
      "vacuumed-empty bucket must hold no rows")
    assert(replicaAsMap(replica).keySet === Set(3))
    Replicate.applyBatch(spark, Seq(ch(5, "U", 3, "after")).toDS(),
      replica, numBuckets = 2, batchId = 3L, compactEvery = 1)
    assert(!RenameLayout.gens(replica).exists(_.bucket == 0),
      s"dead bucket left behind: ${RenameLayout.gens(replica)}")
    assert(replicaAsMap(replica).map { case (k, v) => k -> v.name } ===
      Map(3 -> "after"))
  }

  test("out-of-order micro-batches: later-lsn epoch compacts first, state converges") {
    // Spark's file source breaks modification-time ties nondeterministically
    // (observed: epoch 4 delivering lsns 301-360 before epoch 5's 241-300),
    // so a compaction can fold a LATER-lsn batch before an earlier one
    // arrives. The summary algebra is order-independent: folding epochs in
    // any order, with eager compaction in between, must equal the
    // lsn-order replay.
    val ops = ChangeGen.ops(seed = 53, n = 300)
    val groups = ops.grouped(100).toSeq
    val replica = tmp("cdc-ooo")
    Seq(groups(0), groups(2), groups(1)).zipWithIndex.foreach { case (g, i) =>
      Replicate.applyBatch(spark, ChangeGen.toChanges(g).toDS(), replica,
        numBuckets = 4, batchId = i.toLong, compactEvery = 1)
    }
    assert(replicaAsMap(replica) === ChangeGen.replay(ops))
  }

  test("applyBatch: a fold killed between bucket commits reads exact with no recovery step") {
    import java.nio.file.Paths
    val replica = tmp("cdc-replica-crash")
    Replicate.snapshot(spark,
      (0 until 20).map(i => PersonRow(i, s"n$i", s"u$i", i, t0)).toDS(),
      replica, numBuckets = 2)
    // pending deltas touching both buckets, not yet folded
    Replicate.applyBatch(spark,
      Seq(ch(1, "U", 2, "a"), ch(2, "U", 3, "b"), ch(3, "D", 4)).toDS(),
      replica, numBuckets = 2, batchId = 0L, compactEvery = 100)
    val want = replicaAsMap(replica)
    assert(want(2).name === "a" && !want.contains(4))
    // the same fold, run to completion on a copy
    val done = tmp("cdc-replica-crash-done")
    RenameLayout.copyTree(Paths.get(replica), Paths.get(done))
    Replicate.compactNow(spark, done, numBuckets = 2)

    // killed after committing bucket 0, before bucket 1 and the
    // watermark: a mix of generations plus a stray stage dir — reads
    // exact as it lies on disk
    RenameLayout.plantKilledFold(replica, done, _ == 0)
    assert(RenameLayout.stageDirs(replica).nonEmpty)
    assert(replicaAsMap(replica) === want, "mid-commit crash state")
    // killed after every bucket commit, before the watermark
    val stage = RenameLayout.stageDirs(replica).head
    java.nio.file.Files.move(stage.resolve("id_bucket=1"),
      Paths.get(replica, "id_bucket=1.g2"))
    assert(replicaAsMap(replica) === want, "pre-watermark crash state")

    // the next fold reclaims the leftovers and re-folds the pending
    // deltas over the newest generations idempotently
    Replicate.applyBatch(spark, Seq(ch(4, "U", 3, "c")).toDS(),
      replica, numBuckets = 2, batchId = 1L, compactEvery = 1)
    assert(replicaAsMap(replica) ===
      want.updated(3, want(3).copy(name = "c")))
    assert(RenameLayout.stageDirs(replica).isEmpty, "stage dir not reclaimed")
    assert(RenameLayout.gens(replica).groupBy(_.bucket).values
      .forall(_.size <= 2), s"${RenameLayout.gens(replica)}")
    assert(RenameLayout.pendingDeltas(replica).isEmpty)
  }

  test("stale reads: a frame planned before a fold returns the pre-fold rows; after the next fold it fails") {
    val replica = tmp("cdc-stale")
    Replicate.snapshot(spark,
      (0 until 40).map(i => PersonRow(i, s"n$i", s"u$i", i, t0)).toDS(),
      replica, numBuckets = 4)
    Replicate.applyBatch(spark,
      Seq(ch(1, "U", 1, "x"), ch(2, "D", 2), ch(3, "U", 7, "y")).toDS(),
      replica, numBuckets = 4, batchId = 0L, compactEvery = 100)
    val stale = Replicate.readReplica(spark, replica)
    val want = replicaAsMap(replica)
    // each check is a fresh execution of the stale plan (its file list
    // fixed at planning): a second action on one Dataset would reuse
    // the first's shuffle output and never reopen the files
    Replicate.compactNow(spark, replica, numBuckets = 4)
    assert(stale.select("*").as[PersonRow].collect()
      .map(r => r.id -> r).toMap === want,
      "a read planned before the fold must see the pre-fold files")
    // the next fold reclaims what the first one superseded: the stale
    // frame fails on a missing file instead of answering partially
    Replicate.applyBatch(spark, Seq(ch(4, "U", 1, "z")).toDS(),
      replica, numBuckets = 4, batchId = 1L, compactEvery = 100)
    Replicate.compactNow(spark, replica, numBuckets = 4)
    val e = intercept[Exception](stale.select("*").collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.io.FileNotFoundException]), e.toString)
    assert(replicaAsMap(replica)(1).name === "z")
  }

  test("async compaction: background fold advances the watermark, replica stays exact") {
    import org.apache.hadoop.fs.Path
    val ops = ChangeGen.ops(seed = 37, n = 360)
    val dir = tmp("cdc-async-log"); val replica = tmp("cdc-async-replica")
    val ckpt = tmp("cdc-async-ckpt")
    // 6 files → 6 triggers at maxFilesPerTrigger=1; compactEvery=2 fires
    // background folds repeatedly while later triggers keep writing
    ChangeGen.writeBatches(dir, ops, batches = 6, withNoise = false)
    val q = Replicate.start(spark, dir, replica, ckpt,
      numBuckets = 4, trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger = Some(1), compactEvery = 2)
    try q.awaitTermination() finally q.stop()
    Replicate.awaitCompactions()
    assert(replicaAsMap(replica) === ChangeGen.replay(ops))
    // at least one fold completed: base buckets exist and the watermark
    // consumed some epochs
    val fs = new Path(replica)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(RenameLayout.gens(replica).exists(_.bucket == 0),
      "background fold never wrote the base")
    val wmPath = new Path(s"$replica/.__delta/_watermark")
    assert(fs.exists(wmPath), "compaction watermark missing")
    // replaying the whole stream from a fresh checkpoint over the
    // compacted base converges (already-folded epochs absorb as no-ops)
    val q2 = Replicate.start(spark, dir, replica, tmp("cdc-async-ckpt2"),
      numBuckets = 4, trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger = Some(1), compactEvery = 2)
    try q2.awaitTermination() finally q2.stop()
    Replicate.awaitCompactions()
    assert(replicaAsMap(replica) === ChangeGen.replay(ops))
  }

  test("streaming quarantine: bad lines land in the dead-letter sink, replica converges") {
    val ops = ChangeGen.ops(seed = 31, n = 200)
    val dir = tmp("cdc-q-log"); val replica = tmp("cdc-q-replica")
    val ckpt = tmp("cdc-q-ckpt"); val quar = tmp("cdc-q-dead")
    // 2 batch files, each with audit + malformed noise, plus one file of
    // injected bad-action/missing-id lines
    ChangeGen.writeBatches(dir, ops, batches = 2, withNoise = true)
    Files.write(java.nio.file.Paths.get(dir, "batch_bad.json"),
      Seq(ChangeGen.badActionLine(910001L), ChangeGen.missingIdLine(910002L))
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val q = Replicate.startWithQuarantine(spark, dir, replica, ckpt, quar,
      numBuckets = 4, trigger = Trigger.AvailableNow())
    try q.awaitTermination() finally q.stop()
    assert(replicaAsMap(replica) === ChangeGen.replay(ops))
    def deadCounts: Map[String, Long] = spark.read.parquet(quar)
      .groupBy("verdict").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = Map("malformed_json" -> 2L, "unknown_table" -> 2L,
      "bad_action" -> 1L, "missing_id" -> 1L)
    assert(deadCounts === expected)
    // replay from a FRESH checkpoint re-delivers every epoch: the
    // per-epoch overwrite keeps the dead-letter sink exactly-once
    val q2 = Replicate.startWithQuarantine(spark, dir, replica,
      tmp("cdc-q-ckpt2"), quar, numBuckets = 4,
      trigger = Trigger.AvailableNow())
    try q2.awaitTermination() finally q2.stop()
    assert(deadCounts === expected, "replayed epochs must not duplicate dead letters")
  }

  test("merge-on-read: deltas accumulate, compaction folds them, replay idempotent") {
    val ops = ChangeGen.ops(seed = 17, n = 600)
    val replica = tmp("cdc-mor")

    // 10 batches, compactEvery=8: batches 0..6 pile up deltas, batch 7
    // triggers compaction (8 deltas → base), batches 8..9 are deltas again
    val groups = ops.grouped(60).toSeq
    groups.zipWithIndex.foreach { case (g, i) =>
      Replicate.applyBatch(spark, ChangeGen.toChanges(g).toDS(), replica,
        numBuckets = 4, batchId = i.toLong, compactEvery = 8)
    }
    assert(RenameLayout.pendingDeltas(replica).sorted === Seq(8L, 9L),
      "compaction must have consumed batches 0..7")
    assert(RenameLayout.deltaIds(replica).size === 10,
      "consumed deltas stay on disk until the next fold reclaims them")
    assert(RenameLayout.gens(replica).exists(_.bucket == 0), "base written")
    assert(replicaAsMap(replica) === ChangeGen.replay(ops))

    // checkpoint-replay of the LAST batch (same batchId) converges
    Replicate.applyBatch(spark, ChangeGen.toChanges(groups.last).toDS(),
      replica, numBuckets = 4, batchId = (groups.size - 1).toLong,
      compactEvery = 8)
    assert(replicaAsMap(replica) === ChangeGen.replay(ops))

    // re-applying an ALREADY-COMPACTED delta over the compacted base is
    // absorbed idempotently (a replay of an epoch the fold consumed)
    Replicate.applyBatch(spark, ChangeGen.toChanges(groups(3)).toDS(),
      replica, numBuckets = 4, batchId = 3L, compactEvery = 8)
    assert(replicaAsMap(replica) === ChangeGen.replay(ops))
  }

  // -------------------------------------------------------------------
  // End-to-end stream (S2-S9, T1-T4, T7-T8) with the pubsub oracle
  // -------------------------------------------------------------------

  test("end-to-end: snapshot + stream with parity publication filter") {
    val ops = ChangeGen.ops(seed = 11, n = 500)
    val (snapOps, streamOps) = ops.splitAt(200)

    // phase 2: initial snapshot of pre-existing state (replicator/main.go:98-140)
    val snapState = ChangeGen.replay(snapOps)
    // publication filter applies to the initial copy too (copy_data=true)
    val replica = tmp("cdc-e2e-replica")
    val even = snapState.values.filter(_.score % 2 == 0).toSeq
    Replicate.snapshot(spark, even.toDS(), replica, numBuckets = 4)

    // phase 3: continuous apply of the remaining changes in 4 polls
    val changeDir = tmp("cdc-e2e-log"); val ckpt = tmp("cdc-e2e-ckpt")
    ChangeGen.writeBatches(changeDir, streamOps, batches = 4)
    val q = Replicate.start(spark, changeDir, replica, ckpt,
      rowFilter = Some(Replicate.parityPred), numBuckets = 4,
      trigger = Trigger.ProcessingTime("1 second"))
    try q.processAllAvailable() finally q.stop()

    val sourceState = ChangeGen.replay(ops)
    val want = sourceState.filter(_._2.score % 2 == 0)
    assert(replicaAsMap(replica) === want)

    // the reference's own oracle (pubsub/main.go:184-198)
    val st = Monitor.status(sourceState.values.toSeq.toDS(),
      Replicate.readReplica(spark, replica), Some(Replicate.parityPred))
    assert(st.inSync && st.verdict === "✓ In sync")
    assert(st.targetCount === want.size.toLong)
  }

  test("hot-key skew: fold converges on a 50%-in-10-keys schedule; summary output absorbs per key") {
    // r10 verdict #4: pmod(id, buckets) maps each hot key to ONE
    // bucket; the fold must converge regardless, and the reason the
    // batch stays bounded is ALGEBRAIC — the per-batch summary emits
    // one row per touched key, not per change, so downstream delta
    // files and merges never see the skew
    val ops = ChangeGen.skewedOps(seed = 91L, n = 4000, hotKeys = 10,
      hotFrac = 0.55)
    val hotShare = ops.count(_.id <= 10).toDouble / ops.size
    assert(hotShare >= 0.5, s"schedule must be skewed (got $hotShare)")
    val (snapOps, streamOps) = ops.splitAt(1000)
    val replica = tmp("cdc-skew-replica")
    Replicate.snapshot(spark,
      ChangeGen.replay(snapOps).values.toSeq.toDS(), replica,
      numBuckets = 8)
    val changeDir = tmp("cdc-skew-log"); val ckpt = tmp("cdc-skew-ckpt")
    ChangeGen.writeBatches(changeDir, streamOps, batches = 4)
    val q = Replicate.start(spark, changeDir, replica, ckpt,
      numBuckets = 8, trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger = Some(1), compactEvery = 2)
    try q.awaitTermination() finally q.stop()
    Replicate.awaitCompactions()
    assert(replicaAsMap(replica) === ChangeGen.replay(ops))
    // per-key absorption: a maximally skewed batch (every change on
    // the hot keys) summarizes to exactly the touched-key count
    val hotBatch = ChangeGen.toChanges(
      streamOps.filter(_.id <= 10).take(1000)).toDS().toDF()
    val summarized = Replicate.summarizeBucketed(hotBatch, numBuckets = 8)
    assert(summarized.count() ===
      streamOps.filter(_.id <= 10).take(1000).map(_.id).distinct.size
        .toLong)
  }

  test("subscription projection lists running streams only") {
    val ckpt = tmp("cdc-l-ckpt"); val changeDir = tmp("cdc-l-log")
    val replica = tmp("cdc-l-replica")
    ChangeGen.writeBatches(changeDir, ChangeGen.ops(seed = 5, n = 50),
      batches = 1)
    def listed = Monitor.subscriptions(spark)
      .filter(org.apache.spark.sql.functions.col("sub_name")
        === "graft-replicate")
      .collect()
    val q = Replicate.start(spark, changeDir, replica, ckpt,
      numBuckets = 4, trigger = Trigger.ProcessingTime("1 second"))
    try {
      // P2 pg_subscription projection: the running stream is listed,
      // enabled, filterable by name like the reference's WHERE subname
      assert(listed.length === 1 && listed.head.getBoolean(2),
        "active subscription must be listed as enabled")
      q.processAllAvailable()
    } finally q.stop()
    assert(listed.isEmpty)
  }

  // -------------------------------------------------------------------
  // State-store replica path (T7 via flatMapGroupsWithState)
  // -------------------------------------------------------------------

  test("stateful replica: state-store path converges to naive replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val ops = ChangeGen.ops(seed = 23, n = 600)
    val in = MemoryStream[PersonChange](spark)
    val q = StatefulReplica.liveUpdates(in.toDS())
      .writeStream.format("memory").queryName("stateful_replica")
      .outputMode(OutputMode.Update()).start()
    try {
      // three micro-batches — state must carry across batch boundaries
      ops.grouped(200).foreach { batch =>
        in.addData(ChangeGen.toChanges(batch): _*)
        q.processAllAvailable()
      }
      // reconstruct final state: per key, the transition emitted LAST
      // (memory sink appends every batch's updates in order)
      val updates = spark.table("stateful_replica")
        .select("id", "live", "row.name", "row.score", "row.created_at")
        .collect().zipWithIndex
      val lastPerKey = updates.groupBy(_._1.getInt(0)).map { case (id, us) =>
        id -> us.maxBy(_._2)._1
      }
      val live = lastPerKey.collect {
        case (id, r) if r.getBoolean(1) =>
          id -> ((r.getString(2), r.getInt(3), r.getTimestamp(4)))
      }
      val want = ChangeGen.replay(ops).map { case (id, p) =>
        id -> ((p.name, p.score, p.created_at))
      }
      assert(live === want)
    } finally q.stop()
  }

  test("IVM deltas maintain a downstream aggregate by addition alone") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val ops = ChangeGen.ops(seed = 37, n = 900)
    val in = MemoryStream[PersonChange](spark)
    val q = Ivm.deltas(in.toDS()).writeStream.format("memory")
      .queryName("ivm_deltas").outputMode(OutputMode.Update()).start()
    try {
      var consumed = 0
      // the maintained view: parity -> (count, sum(score)), updated
      // ONLY from the delta stream — never from the replica
      val acc = scala.collection.mutable.Map[Long, (Long, Long)]()
      val batches = ops.grouped(300).toSeq
      batches.zipWithIndex.foreach { case (batch, bi) =>
        in.addData(ChangeGen.toChanges(batch): _*)
        q.processAllAvailable()
        val rows = spark.table("ivm_deltas").collect().drop(consumed)
        consumed += rows.length
        rows.foreach { r =>
          val sign = r.getInt(1); val score = r.getInt(2).toLong
          val p = score % 2
          val (c, s) = acc.getOrElse(p, (0L, 0L))
          acc(p) = (c + sign, s + sign * score)
        }
        // after every batch, the maintained view equals the full
        // recompute over the prefix replayed from scratch
        val want = ChangeGen.replay(ops.take(300 * (bi + 1))).values
          .groupBy(_.score % 2)
          .map { case (p, rs) =>
            p.toLong -> ((rs.size.toLong, rs.map(_.score.toLong).sum))
          }
        assert(acc.filter(_._2._1 != 0).toMap === want,
          s"view diverged after batch ${bi + 1}")
      }
    } finally q.stop()
  }

  test("snapshot diff roundtrip: old + diff = new, and the diff is minimal") {
    val ops = ChangeGen.ops(seed = 41L, n = 1200)
    val oldMap = ChangeGen.replay(ops.take(700))
    val newMap = ChangeGen.replay(ops)
    val oldDf = oldMap.values.toSeq.toDS().toDF()
    val newDf = newMap.values.toSeq.toDF()
    val diff = Replicate.snapshotDiff(oldDf, newDf).collect()

    // completeness: applying the emitted change set to the old snapshot
    // reproduces the new one exactly
    val applied = diff.foldLeft(oldMap) { (m, r) =>
      r.getString(1) match {
        case "D" => m - r.getInt(0)
        case _ => m + (r.getInt(0) -> PersonRow(r.getInt(0), r.getString(2),
          r.getString(3), r.getInt(4), r.getTimestamp(5)))
      }
    }
    assert(applied === newMap)

    // minimality: every emitted id genuinely changed state; ops match
    diff.foreach { r =>
      val id = r.getInt(0)
      (oldMap.get(id), newMap.get(id)) match {
        case (None, Some(_)) => assert(r.getString(1) === "I")
        case (Some(_), None) => assert(r.getString(1) === "D")
        case (Some(o), Some(n)) =>
          assert(r.getString(1) === "U" && o != n,
            s"id $id emitted as U but rows are identical")
        case (None, None) => fail(s"diff emitted unknown id $id")
      }
    }
  }

  test("stateful replica: RocksDB state store provider converges identically") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    // The production provider for state that outgrows the heap: RocksDB
    // keeps per-partition state off-heap/on-disk with changelog-style
    // checkpointing, so state size is bounded by local disk, not
    // executor memory. The operator is provider-agnostic — this pins
    // that the SAME liveUpdates converges bit-identically under it and
    // that the provider is genuinely engaged (its custom metrics ride
    // the progress), not silently fallen back.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val ops = ChangeGen.ops(seed = 31, n = 600)
      val in = MemoryStream[PersonChange](spark)
      val q = StatefulReplica.liveUpdates(in.toDS())
        .writeStream.format("memory").queryName("stateful_replica_rocks")
        .outputMode(OutputMode.Update()).start()
      try {
        ops.grouped(200).foreach { batch =>
          in.addData(ChangeGen.toChanges(batch): _*)
          q.processAllAvailable()
        }
        val rocksEngaged = q.lastProgress.stateOperators.exists(
          _.customMetrics.keySet().asScala.exists(
            _.toLowerCase.contains("rocksdb")))
        assert(rocksEngaged, "RocksDB provider metrics absent — " +
          "query silently ran on a different provider")
        val updates = spark.table("stateful_replica_rocks")
          .select("id", "live", "row.name", "row.score", "row.created_at")
          .collect().zipWithIndex
        val live = updates.groupBy(_._1.getInt(0)).flatMap {
          case (id, us) =>
            val r = us.maxBy(_._2)._1
            if (r.getBoolean(1))
              Some(id -> ((r.getString(2), r.getInt(3), r.getTimestamp(4))))
            else None
        }
        val want = ChangeGen.replay(ops).map { case (id, p) =>
          id -> ((p.name, p.score, p.created_at))
        }
        assert(live === want)
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  // -------------------------------------------------------------------
  // Listener counters (A7 processedChanges analog, T8 progress)
  // -------------------------------------------------------------------

  test("BatchMetricsListener counts rows and batches of a replayed stream") {
    val ops = ChangeGen.ops(seed = 13, n = 300)
    val replica = tmp("cdc-m-replica"); val changeDir = tmp("cdc-m-log")
    val ckpt = tmp("cdc-m-ckpt")
    // 3 files + noise rows: listener sees INPUT rows (incl. the audit and
    // malformed lines the parser then drops), like processedChanges++
    // counts every slot line (replicator/main.go:175-188)
    ChangeGen.writeBatches(changeDir, ops, batches = 3)
    val listener = new graft.streaming.BatchMetricsListener(
      Some("graft-replicate"))
    spark.streams.addListener(listener)
    try {
      val q = Replicate.start(spark, changeDir, replica, ckpt,
        numBuckets = 4, maxFilesPerTrigger = Some(1),
        trigger = Trigger.ProcessingTime("1 second"))
      try q.processAllAvailable() finally q.stop()
    } finally spark.streams.removeListener(listener)
    val busy = listener.batches.filter(_.inputRows > 0)
    assert(busy.size === 3) // one per change-log file
    assert(listener.processedRows === 300L + 2 * 3) // +noise lines/file
    assert(listener.worstBatchSec > 0.0)
    assert(listener.rowsPerSec > 0.0)
  }

  test("lifecycle soak: 300 mixed-op triggers under vacuum + async folds stay bounded", SlowTest) {
    // The rename-protocol half of the long-horizon soak (ManifestSpec
    // carries the manifest twin): 300 applyBatch triggers with folds on
    // the concurrent daemon thread (compactAsync), vacuum every 100, and
    // a timed read probe every 25. Asserts the bounds: delta dirs never
    // accumulate O(triggers) (each fold reclaims the previous fold's
    // deltas, keeping them O(compactEvery)), each bucket keeps at most
    // its newest generation plus the one the grace retains, the bucket
    // ids stay within the declared modulus, read latency shows no
    // upward trend, and the final state equals the full replay.
    val dir = tmp("cdc-soak")
    val ops = ChangeGen.ops(seed = 9200L, n = 9300)
    val (snapOps, streamOps) = ops.splitAt(300)
    Replicate.snapshot(spark,
      ChangeGen.replay(snapOps).values.toSeq.toDS(), dir)
    val batches = streamOps.grouped(30).toSeq
    assert(batches.size === 300)
    val readSecs = scala.collection.mutable.ArrayBuffer[Double]()
    batches.zipWithIndex.foreach { case (b, i) =>
      Replicate.applyBatch(spark, ChangeGen.toChanges(b).toDS(), dir,
        batchId = i.toLong, compactEvery = 4, compactAsync = true)
      val n = i + 1
      if (n % 100 == 0) Replicate.vacuum(spark, dir)
      else if (n % 25 == 0) {
        val t0 = System.nanoTime()
        assert(Replicate.readReplica(spark, dir).count() > 0)
        readSecs += (System.nanoTime() - t0) / 1e9
        val deltas = RenameLayout.deltaIds(dir).size
        assert(deltas <= 24, s"delta dirs accumulating at trigger $n: $deltas")
        val gens = RenameLayout.gens(dir).groupBy(_.bucket)
        assert(gens.size <= 16, s"bucket layout drifted at trigger $n: ${gens.keys}")
        assert(gens.values.forall(_.size <= 2),
          s"superseded generations accumulating at trigger $n: $gens")
      }
    }
    Replicate.awaitCompactions()
    assert(replicaAsMap(dir) === ChangeGen.replay(ops),
      "soak must converge to the replay")
    val third = readSecs.size / 3
    val early = readSecs.take(third).sum / third
    val late = readSecs.takeRight(third).sum / third
    assert(late <= early * 3 + 0.5,
      s"read latency trending up over the soak: $readSecs")
  }

  test("concurrent reader soak: through 20+ async folds every read is a committed epoch's state per key, zero missing files", SlowTest) {
    // A reader thread loops readReplica while the writer drives
    // triggers with async folds at the default cadence. Each key of
    // each read (present or absent) must equal the replay at some epoch
    // between the last one committed when the read started and the
    // last one committed when it ended (+1: the in-flight trigger may
    // already have renamed its delta in). A read that listed the root
    // between two bucket commits, or opened a reclaimed file, fails.
    val dir = tmp("cdc-reader-soak")
    val ops = ChangeGen.ops(seed = 9300L, n = 7500)
    val (snapOps, streamOps) = ops.splitAt(300)
    val batches = streamOps.grouped(30).toIndexedSeq
    val states = (0 to batches.size).map(j =>
      ChangeGen.replay(snapOps ++ streamOps.take(30 * j)))
    val keys = ops.map(_.id).toSet
    Replicate.snapshot(spark, states(0).values.toSeq.toDS(), dir)
    val committed = new java.util.concurrent.atomic.AtomicInteger(0)
    val writing = new java.util.concurrent.atomic.AtomicBoolean(true)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (writing.get()) {
        val lo = committed.get()
        try {
          val got = Replicate.readReplica(spark, dir).collect()
            .map(r => r.id -> r).toMap
          val hi = math.min(committed.get() + 1, batches.size)
          keys.iterator.filterNot(k =>
            (lo to hi).exists(j => states(j).get(k) == got.get(k)))
            .take(3).foreach(k => failures.add(
              s"key $k read ${got.get(k)}, not its state in epochs $lo..$hi"))
          reads.incrementAndGet()
        } catch { case e: Throwable => failures.add(e.toString) }
      }
    }, "reader-soak")
    reader.start()
    try batches.zipWithIndex.foreach { case (b, i) =>
      Replicate.applyBatch(spark, ChangeGen.toChanges(b).toDS(), dir,
        batchId = i.toLong, compactAsync = true)
      committed.set(i + 1)
    } finally {
      writing.set(false)
      reader.join()
    }
    Replicate.awaitCompactions()
    import scala.jdk.CollectionConverters._
    assert(failures.isEmpty, failures.asScala.take(5).mkString("\n"))
    // every fold commits one generation number past the snapshot's g1
    val folds = RenameLayout.gens(dir).map(_.gen).max - 1
    assert(folds >= 20, s"only $folds async folds ran")
    assert(reads.get() >= 20, s"only ${reads.get()} reads ran")
    info(s"$folds async folds, ${reads.get()} concurrent reads")
    assert(replicaAsMap(dir) === states.last)
  }
}
