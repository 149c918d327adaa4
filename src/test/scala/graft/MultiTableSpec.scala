package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types._
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc._

/** Multi-table replication ([[MultiTable]]): one envelope stream fans
  * out to independently-keyed per-table replicas, each converging to the
  * naive replay of ITS OWN changes; foreign tables and noise drop at the
  * routing filter. */
class MultiTableSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val personSpec = MtTestSpecs.person
  private val accountSpec = MtTestSpecs.account
  private val specs = MtTestSpecs.both

  private def personMap(root: String): Map[Int, (String, String, Int)] =
    MultiTable.readTable(spark, root, personSpec).collect()
      .map(r => r.getInt(0) -> ((r.getString(1), r.getString(2),
        r.getInt(3)))).toMap

  private def accountMap(root: String): Map[Int, (String, Int)] =
    MultiTable.readTable(spark, root, accountSpec).collect()
      .map(r => r.getInt(0) -> ((r.getString(1), r.getInt(2)))).toMap

  private def wantPerson(ops: Seq[ChangeGen.Op]) =
    ChangeGen.replay(ops).map { case (id, p) =>
      id -> ((p.name, p.uid, p.score)) }
  private def wantAccount(ops: Seq[ChangeGen.Op]) =
    ChangeGen.replay(ops).map { case (id, p) => id -> ((p.name, p.score)) }

  test("one interleaved log converges each table to its own replay") {
    val (pOps, aOps) = ChangeGen.mtOps(seed = 71L, nPerson = 500,
      nAccount = 350)
    val (pSnap, pStream) = pOps.splitAt(200)
    val changeDir = Files.createTempDirectory("mt-log").toString
    val root = Files.createTempDirectory("mt-replica").toString
    val ckpt = Files.createTempDirectory("mt-ckpt").toString
    MultiTable.snapshot(spark,
      ChangeGen.replay(pSnap).values.toSeq.toDS().toDF(), root, personSpec)
    ChangeGen.writeMtBatches(changeDir, pStream, aOps, batches = 4)
    val q = MultiTable.start(spark, changeDir, root, ckpt, specs,
      maxFilesPerTrigger = Some(1),
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      compactEvery = 2)
    try q.awaitTermination() finally q.stop()
    assert(personMap(root) === wantPerson(pOps))
    assert(accountMap(root) === wantAccount(aOps))
    // created_at preservation holds through the generic path too: the
    // account replica's created_at is the FIRST insert's timestamp even
    // after upserting I events (ON CONFLICT semantics, generalized)
    val created = ChangeGen.replay(aOps).map { case (id, p) =>
      id -> p.created_at }
    val gotCreated = MultiTable.readTable(spark, root, accountSpec)
      .select("id", "created_at").collect()
      .map(r => r.getInt(0) -> r.getTimestamp(1)).toMap
    assert(gotCreated === created)
  }

  test("re-snapshot with a different numBuckets re-buckets cleanly; stale bucket count fails fast") {
    // r6 advice claimed MultiTable.snapshot skips the resetLayout step —
    // it doesn't (truncateLocked ends with resetLayout); pin the exact
    // scenario: old-modulus state must be GONE after the re-snapshot,
    // incremental triggers under the new modulus converge, and a caller
    // resuming with the old bucket count dies at checkLayout instead of
    // silently folding against a mixed-modulus layout
    val (pOps, _) = ChangeGen.mtOps(seed = 311L, nPerson = 300, nAccount = 1)
    val (snap1, rest) = pOps.splitAt(100)
    val (snap2src, stream2) = rest.splitAt(100)
    val root = Files.createTempDirectory("mt-rebucket").toString
    val dir = s"$root/${personSpec.table}"

    MultiTable.snapshot(spark,
      ChangeGen.replay(snap1).values.toSeq.toDS().toDF(), root, personSpec,
      numBuckets = 8)
    def buckets: Set[Int] = RenameLayout.gens(dir).map(_.bucket).toSet
    assert(buckets.nonEmpty)

    // full re-snapshot of a DIFFERENT state under a different modulus
    val state2 = ChangeGen.replay(snap1 ++ snap2src)
    MultiTable.snapshot(spark, state2.values.toSeq.toDS().toDF(), root,
      personSpec, numBuckets = 4)
    val after = buckets
    assert(after.forall(_ < 4),
      s"old-modulus bucket dirs survived the re-snapshot: $after")

    // incremental batches under the NEW modulus converge to replay
    def parsedOf(ops: Seq[ChangeGen.Op]) = MultiTable.parseAll(
      ops.map(ChangeGen.toJsonLine).toDF("value"), Seq(personSpec))
    MultiTable.applyBatch(spark, parsedOf(stream2), root, Seq(personSpec),
      batchId = 0L, numBuckets = 4)
    assert(personMap(root) === wantPerson(pOps))

    // resuming with the OLD count is a layout violation, not silent skew
    val e = intercept[java.io.IOException] {
      MultiTable.applyBatch(spark, parsedOf(stream2), root, Seq(personSpec),
        batchId = 1L, numBuckets = 8)
    }
    assert(e.getMessage.contains("numBuckets"))
  }

  test("manifest-protocol multi-table: same fan-out, manifest commits, time travel intact") {
    val (pOps, aOps) = ChangeGen.mtOps(seed = 74L, nPerson = 400,
      nAccount = 250)
    val (pSnap, pStream) = pOps.splitAt(150)
    val changeDir = Files.createTempDirectory("mtm-log").toString
    val root = Files.createTempDirectory("mtm-replica").toString
    val ckpt = Files.createTempDirectory("mtm-ckpt").toString
    ManifestMultiTable.snapshot(spark,
      ChangeGen.replay(pSnap).values.toSeq.toDS().toDF(), root, personSpec)
    ChangeGen.writeMtBatches(changeDir, pStream, aOps, batches = 4)
    val q = ManifestMultiTable.start(spark, changeDir, root, ckpt, specs,
      maxFilesPerTrigger = Some(1),
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      compactEvery = 2)
    try q.awaitTermination() finally q.stop()
    def pMap = ManifestMultiTable.readTable(spark, root, personSpec)
      .collect().map(r => r.getInt(0) ->
        ((r.getString(1), r.getString(2), r.getInt(3)))).toMap
    def aMap = ManifestMultiTable.readTable(spark, root, accountSpec)
      .collect().map(r => r.getInt(0) ->
        ((r.getString(1), r.getInt(2)))).toMap
    assert(pMap === wantPerson(pOps))
    assert(aMap === wantAccount(aOps))
    // the commit machinery IS ManifestReplica's: per-table manifest
    // versions exist, and retention-aware gc keeps them readable
    val pDir = s"$root/person"
    val versions = ManifestReplica.versions(spark, pDir)
    assert(versions.size > 1, "manifest history should be retained")
    ManifestReplica.gc(spark, pDir)
    assert(ManifestReplica.versions(spark, pDir) === versions,
      "gc changed the retained version list")
    assert(pMap === wantPerson(pOps))
    // epoch replay through the manifest path is a no-op
    val parsed = MultiTable.parseAll(
      spark.read.text(changeDir), specs)
    ManifestMultiTable.applyBatch(spark, parsed, root, specs, batchId = 0L)
    assert(pMap === wantPerson(pOps) && aMap === wantAccount(aOps))
  }

  test("manifest multi-table compaction is incremental: a delta touching one hash bucket advances only that bucket's generation") {
    val root = Files.createTempDirectory("mtm-incr").toString
    val rows = (0 until 40).map(i =>
      PersonRow(i, s"n$i", s"u$i", i,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    ManifestMultiTable.snapshot(spark, rows.toDS().toDF(), root, personSpec,
      numBuckets = 8)
    val data = java.nio.file.Paths.get(root, "person", "data")
    def gens: Set[String] = {
      val st = Files.list(data)
      try st.iterator().asScala.map(_.getFileName.toString).toSet
      finally st.close()
    }
    def keysIn(gen: String): Set[String] =
      spark.read.parquet(data.resolve(gen).toString).select("key")
        .as[String].collect().toSet
    val before = gens
    // the bucket holding the most keys, read off disk rather than
    // recomputed, so a wrong bucket expression cannot agree with itself
    val (hot, hotKeys) = before.map(g => g -> keysIn(g)).maxBy(_._2.size)
    val touched = hotKeys.toSeq.sorted.take(2)
    assert(touched.size === 2)
    val parsed = touched.zipWithIndex.map { case (k, i) =>
      ("person", 1000L + i, "U", k,
        s"""{"id":"$k","name":"x$k","uid":"u$k","score":"99"}""",
        null: java.sql.Timestamp)
    }.toDF("tbl", "lsn", "action", "key", "img", "created_at")
    ManifestMultiTable.applyBatch(spark, parsed, root, Seq(personSpec),
      batchId = 0L, numBuckets = 8, compactEvery = 1) // folds at once
    val after = gens
    // only the touched bucket gained a generation, holding exactly the
    // keys it held before; the other buckets' generations are untouched
    val next = hot.replace("-g1", "-g2")
    assert((after -- before) === Set(next))
    assert(before.subsetOf(after))
    assert(keysIn(next) === hotKeys)
    val want = rows.map(r => r.id -> ((r.name, r.uid, r.score))).toMap ++
      touched.map(k => k.toInt -> ((s"x$k", s"u$k", 99)))
    val got = ManifestMultiTable.readTable(spark, root, personSpec).collect()
      .map(r => r.getInt(0) ->
        ((r.getString(1), r.getString(2), r.getInt(3)))).toMap
    assert(got === want)
  }

  private def dbzLine(op: ChangeGen.Op, table: String, labelCol: String,
      amountCol: String): String = {
    val us = java.sql.Timestamp.valueOf(op.createdAt).getTime * 1000
    def j(s: String) = "\"" + s.replace("\\", "\\\\")
      .replace("\"", "\\\"") + "\""
    val uid = if (table == "person") s""","uid":${j(op.uid)}""" else ""
    val row = s"""{"id":${op.id},${j(labelCol)}:${j(op.name)},${j(amountCol)}:${op.score}$uid,"created_at":$us}"""
    val (before, after, o) = op.action match {
      case "I" => ("null", row, "c")
      case "U" => (row, row, "u")
      case _ => (row, "null", "d")
    }
    s"""{"before":$before,"after":$after,"op":"$o","ts_ms":${op.lsn},"source":{"lsn":${op.lsn},"schema":"public","table":"$table"}}"""
  }

  test("debezium envelope drives the same multi-table fan-out") {
    val (pOps, aOps) = ChangeGen.mtOps(seed = 73L, nPerson = 150,
      nAccount = 100)
    val lines = ((pOps.map(o => o.lsn ->
      dbzLine(o, "person", "name", "score")) ++
      aOps.map(o => o.lsn -> dbzLine(o, "account", "owner", "balance")))
      .sortBy(_._1).map(_._2) ++ Seq("""{"op":"c" BROKEN""")).toDF("value")
    val parsed = MultiTable.parseAllDebezium(lines, specs)
    assert(parsed.count() === (pOps.size + aOps.size))
    val root = Files.createTempDirectory("mt-dbz").toString
    MultiTable.applyBatch(spark, parsed, root, specs, batchId = 0L)
    assert(personMap(root) === wantPerson(pOps))
    assert(accountMap(root) === wantAccount(aOps))
    // created_at flows through the epoch-micros conversion
    val created = ChangeGen.replay(aOps).map { case (id, p) =>
      id -> p.created_at }
    val gotCreated = MultiTable.readTable(spark, root, accountSpec)
      .select("id", "created_at").collect()
      .map(r => r.getInt(0) -> r.getTimestamp(1)).toMap
    assert(gotCreated === created)
  }

  test("debezium envelope drives the STREAMING fan-out through the parser seam") {
    // the start() entry points take the envelope parser as a parameter;
    // a Debezium topic set is the same pipeline with parseAllDebezium
    val (pOps, aOps) = ChangeGen.mtOps(seed = 163L, nPerson = 100,
      nAccount = 80)
    val merged = (pOps.map(o => o.lsn ->
      dbzLine(o, "person", "name", "score")) ++
      aOps.map(o => o.lsn -> dbzLine(o, "account", "owner", "balance")))
      .sortBy(_._1).map(_._2)
    val changeDir = Files.createTempDirectory("mtm-dbz-log")
    ChangeGen.writeLineBatches(changeDir.toString, merged, batches = 3)
    val root = Files.createTempDirectory("mtm-dbz-replica").toString
    val ckpt = Files.createTempDirectory("mtm-dbz-ckpt").toString
    val q = ManifestMultiTable.start(spark, changeDir.toString, root,
      ckpt, specs, maxFilesPerTrigger = Some(1),
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      compactEvery = 2, parser = MultiTable.parseAllDebezium)
    try q.awaitTermination() finally q.stop()
    assert(ManifestMultiTable.readTable(spark, root, personSpec)
      .collect().map(r => r.getInt(0) ->
        ((r.getString(1), r.getString(2), r.getInt(3)))).toMap ===
      wantPerson(pOps))
    assert(ManifestMultiTable.readTable(spark, root, accountSpec)
      .collect().map(r => r.getInt(0) ->
        ((r.getString(1), r.getInt(2)))).toMap === wantAccount(aOps))
  }

  test("routing: undeclared tables and malformed lines drop; batch replay is idempotent") {
    val (pOps, aOps) = ChangeGen.mtOps(seed = 72L, nPerson = 120,
      nAccount = 80)
    val root = Files.createTempDirectory("mt-replay").toString
    // raw lines incl. audit-table noise + malformed JSON
    val lines = ((pOps.map(o => o.lsn -> ChangeGen.toJsonLine(o)) ++
      aOps.map(o => o.lsn -> ChangeGen.toAccountJsonLine(o)))
      .sortBy(_._1).map(_._2) ++
      Seq(ChangeGen.auditLine(999999L), ChangeGen.malformedLine)).toDF("value")
    val parsed = MultiTable.parseAll(lines, specs)
    assert(parsed.filter(col("tbl") === "audit").count() === 0)
    assert(parsed.count() === (pOps.size + aOps.size))
    MultiTable.applyBatch(spark, parsed, root, specs, batchId = 0L)
    val p0 = personMap(root); val a0 = accountMap(root)
    assert(p0 === wantPerson(pOps) && a0 === wantAccount(aOps))
    // crash-replay of the same epoch: identical state, no duplicates
    MultiTable.applyBatch(spark, parsed, root, specs, batchId = 0L)
    assert(personMap(root) === p0 && accountMap(root) === a0)
    // compaction folds both tables' deltas without changing state
    MultiTable.compact(spark, s"$root/person")
    MultiTable.compact(spark, s"$root/account")
    assert(personMap(root) === p0 && accountMap(root) === a0)
  }

  test("idle tables are skipped: no per-trigger work, no burned manifest versions") {
    // r6 review: an idle declared table used to pay a full summarize
    // job + an empty delta per trigger — and on the manifest path a
    // manifest COMMIT per trigger, trimming its retained time-travel
    // window to the last ~ManifestHistory triggers of wall-clock.
    val pOps = ChangeGen.ops(seed = 99L, n = 60)
    val lines = pOps.map(ChangeGen.toJsonLine).toDF("value")
    val parsed = MultiTable.parseAll(lines, specs) // person rows only
    // rename path: the idle account table materializes NOTHING
    val root = Files.createTempDirectory("mt-idle").toString
    MultiTable.applyBatch(spark, parsed, root, specs, batchId = 0L)
    assert(personMap(root) === wantPerson(pOps))
    assert(!Files.exists(java.nio.file.Paths.get(root, "account")),
      "idle table must not materialize a replica dir")
    // manifest path: snapshot account so it HAS committed versions,
    // then stream person-only batches past ManifestHistory
    val rootM = Files.createTempDirectory("mtm-idle").toString
    ManifestMultiTable.snapshot(spark,
      Seq((1, "ann", 10,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
        .toDF("id", "owner", "balance", "created_at"),
      rootM, accountSpec)
    val before = ManifestReplica.versions(spark, s"$rootM/account")
    (0L to 6L).foreach(b =>
      ManifestMultiTable.applyBatch(spark, parsed, rootM, specs,
        batchId = b))
    assert(ManifestReplica.versions(spark, s"$rootM/account") === before,
      "idle table burned manifest versions / lost its history window")
    assert(ManifestReplica.versions(spark, s"$rootM/person").nonEmpty,
      "active table must still commit")
    assert(ManifestMultiTable.readTable(spark, rootM, accountSpec)
      .collect().map(r => r.getInt(0) -> ((r.getString(1), r.getInt(2))))
      .toMap === Map(1 -> (("ann", 10))))
  }

  private def personMapOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getInt(0) -> ((r.getString(1), r.getString(2),
      r.getInt(3)))).toMap

  test("multi-table manifest: per-table time travel and change feed") {
    // the single-table manifest advertises readReplicaAt/changesSince;
    // the multi-table generalization must carry them (per-table
    // manifest roots make retention per-table by construction)
    val pOps = ChangeGen.ops(seed = 101L, n = 80)
    val (p1, p2) = pOps.splitAt(40)
    val root = Files.createTempDirectory("mtm-tt").toString
    def parsedOf(ops: Seq[ChangeGen.Op]) =
      MultiTable.parseAll(ops.map(ChangeGen.toJsonLine).toDF("value"),
        specs)
    ManifestMultiTable.applyBatch(spark, parsedOf(p1), root, specs,
      batchId = 0L)
    val v1 = ManifestMultiTable.versions(spark, root, personSpec).max
    ManifestMultiTable.applyBatch(spark, parsedOf(p2), root, specs,
      batchId = 1L)
    // current read = full replay; the retained older version still
    // serves exactly the state it committed
    assert(personMapOf(ManifestMultiTable.readTable(spark, root,
      personSpec)) === wantPerson(pOps))
    assert(personMapOf(ManifestMultiTable.readTableAt(spark, root,
      personSpec, v1)) === wantPerson(p1))
    // change feed from v1 is exactly batch 1, one row per touched key
    val feed = ManifestMultiTable.changesSince(spark, root, personSpec, v1)
    assert(feed.select("batch_id").distinct().collect()
      .map(_.getLong(0)).toSet === Set(1L))
    assert(feed.select("key").distinct().count() ===
      p2.map(_.id).distinct.size)
  }

  test("change feed tolerates sparse per-table ids from idle epochs") {
    // r6 review: the idle-table skip makes per-table delta ids sparse
    // (an idle epoch commits nothing), so the feed must reconstruct
    // committed ids from the retained manifests instead of assuming a
    // dense epoch range — a dense check reported a spurious gap here.
    val pOps = ChangeGen.ops(seed = 107L, n = 60)
    val (pa, pb) = pOps.splitAt(30)
    val aOps = ChangeGen.ops(seed = 109L, n = 20)
    val root = Files.createTempDirectory("mtm-sparse").toString
    def parsedP(ops: Seq[ChangeGen.Op]) =
      MultiTable.parseAll(ops.map(ChangeGen.toJsonLine).toDF("value"),
        specs)
    val parsedA = MultiTable.parseAll(
      aOps.map(o => ChangeGen.toAccountJsonLine(o)).toDF("value"), specs)
    ManifestMultiTable.applyBatch(spark, parsedP(pa), root, specs,
      batchId = 0L)
    val v0 = ManifestMultiTable.versions(spark, root, personSpec).max
    // epoch 1 carries account rows only — person is idle
    ManifestMultiTable.applyBatch(spark, parsedA, root, specs,
      batchId = 1L)
    ManifestMultiTable.applyBatch(spark, parsedP(pb), root, specs,
      batchId = 2L)
    val feed = ManifestMultiTable.changesSince(spark, root, personSpec, v0)
    assert(feed.select("batch_id").distinct().collect()
      .map(_.getLong(0)).toSet === Set(2L),
      "person's feed after v0 is exactly its sparse epoch 2")
    assert(personMapOf(ManifestMultiTable.readTable(spark, root,
      personSpec)) === wantPerson(pOps))
  }

  test("idle tables read exact through a killed fold; their next fold reclaims it") {
    // no recovery step runs anywhere: an idle table's crash state must
    // read exact as it lies on disk, for as long as the table stays idle
    val aOps = ChangeGen.ops(seed = 113L, n = 40)
    val (a1, a2) = aOps.splitAt(20)
    val pOps = ChangeGen.ops(seed = 115L, n = 20)
    val root = Files.createTempDirectory("mt-recover").toString
    def accountBatch(ops: Seq[ChangeGen.Op]) = MultiTable.parseAll(
      ops.map(o => ChangeGen.toAccountJsonLine(o)).toDF("value"), specs)
    MultiTable.applyBatch(spark, accountBatch(a1), root, specs, batchId = 0L)
    MultiTable.compact(spark, s"$root/account")
    MultiTable.applyBatch(spark, accountBatch(a2), root, specs, batchId = 1L)
    val want = wantAccount(aOps)
    assert(accountMap(root) === want)
    // the pending fold, run to completion on a copy, then planted as a
    // fold killed after committing one bucket
    val accountDir = java.nio.file.Paths.get(root, "account")
    val done = Files.createTempDirectory("mt-recover-done")
    RenameLayout.copyTree(accountDir, done)
    MultiTable.compact(spark, done.toString)
    val foldGen = RenameLayout.gens(done.toString).map(_.gen).max
    val first = RenameLayout.gens(done.toString)
      .filter(_.gen == foldGen).map(_.bucket).min
    RenameLayout.plantKilledFold(accountDir.toString, done.toString,
      _ == first)
    assert(RenameLayout.stageDirs(accountDir.toString).nonEmpty)
    assert(accountMap(root) === want, "killed-fold state must read exact")
    // a person-only trigger leaves the idle account table as it is
    MultiTable.applyBatch(spark, MultiTable.parseAll(
      pOps.map(ChangeGen.toJsonLine).toDF("value"), specs), root, specs,
      batchId = 2L)
    assert(accountMap(root) === want)
    assert(RenameLayout.stageDirs(accountDir.toString).nonEmpty)
    // its next fold reclaims the leftovers and stays exact
    MultiTable.compact(spark, accountDir.toString)
    assert(accountMap(root) === want)
    assert(RenameLayout.stageDirs(accountDir.toString).isEmpty)
    assert(RenameLayout.pendingDeltas(accountDir.toString).isEmpty)
  }

  test("stale reads: a readTable frame planned before a fold returns the pre-fold rows; after the next fold it fails") {
    val pOps = ChangeGen.ops(seed = 117L, n = 90)
    val groups = pOps.grouped(30).toSeq
    val root = Files.createTempDirectory("mt-stale").toString
    val dir = s"$root/person"
    def apply(g: Int) = MultiTable.applyBatch(spark, MultiTable.parseAll(
      groups(g).map(ChangeGen.toJsonLine).toDF("value"), specs), root, specs,
      batchId = g.toLong, compactEvery = 100)
    apply(0)
    MultiTable.compact(spark, dir)
    apply(1)
    val stale = MultiTable.readTable(spark, root, personSpec)
    MultiTable.compact(spark, dir)
    // each check is a fresh execution of the stale plan (its file list
    // fixed at planning): a second action on one Dataset would reuse
    // the first's shuffle output and never reopen the files
    def mapOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getInt(0) -> ((r.getString(1), r.getString(2),
        r.getInt(3)))).toMap
    assert(mapOf(stale.select("*")) === wantPerson(groups(0) ++ groups(1)),
      "a read planned before the fold must see the pre-fold files")
    apply(2)
    MultiTable.compact(spark, dir)
    val e = intercept[Exception](stale.select("*").collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.io.FileNotFoundException]), e.toString)
    assert(personMap(root) === wantPerson(pOps))
  }

  test("multi-table rename-path vacuum drops tombstone bytes, preserves state") {
    val pOps = ChangeGen.ops(seed = 137L, n = 120)
    val root = Files.createTempDirectory("mt-vacuum").toString
    MultiTable.applyBatch(spark, MultiTable.parseAll(
      pOps.map(ChangeGen.toJsonLine).toDF("value"), specs), root, specs,
      batchId = 0L)
    val want = personMap(root)
    assert(want === wantPerson(pOps))
    MultiTable.vacuum(spark, root, personSpec)
    assert(personMap(root) === want, "state must survive the rewrite")
    val dir = s"$root/person"
    assert(RenameLayout.pendingDeltas(dir).isEmpty,
      "vacuum must fold pending deltas first")
    val raw = spark.read.schema(MultiTable.MtBaseSchema).parquet(
      RenameLayout.newest(dir).values.filter(_.isDir).map(_.path.toString)
        .toSeq: _*)
    assert(raw.filter(col("first_ins").isNull).count() === 0,
      "tombstone rows must be physically removed")
    assert(raw.count().toInt === want.size)
  }

  test("stream restart resumes from the checkpoint: converged, no duplicates") {
    // T2 across a process boundary: drain half the log, STOP the query,
    // start a NEW query on the same checkpoint over new files — the
    // resumed stream must pick up exactly where the checkpoint left off
    // and converge to the full replay (map equality catches both
    // replayed duplicates and dropped epochs).
    val (pOps, aOps) = ChangeGen.mtOps(seed = 149L, nPerson = 160,
      nAccount = 120)
    val (p1, p2) = pOps.splitAt(80)
    val (a1, a2) = aOps.splitAt(60)
    val changeDir = Files.createTempDirectory("mt-restart-log").toString
    val root = Files.createTempDirectory("mt-restart-replica").toString
    val ckpt = Files.createTempDirectory("mt-restart-ckpt").toString
    def drain(): Unit = {
      val q = MultiTable.start(spark, changeDir, root, ckpt, specs,
        maxFilesPerTrigger = Some(1),
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        compactEvery = 2)
      try q.awaitTermination() finally q.stop()
    }
    ChangeGen.writeMtBatches(changeDir, p1, a1, batches = 3)
    drain()
    assert(personMap(root) === wantPerson(p1))
    ChangeGen.writeMtBatches(changeDir, p2, a2, batches = 3,
      startIndex = 3)
    drain()
    assert(personMap(root) === wantPerson(pOps))
    assert(accountMap(root) === wantAccount(aOps))
  }

  test("concurrent bulk lifecycle ops fail fast instead of silently queueing") {
    // r6 review: MultiTable.snapshot had stopped registering as a
    // lifecycle op — a concurrent truncate would have queued behind the
    // write lock and silently deleted the freshly loaded state. Every
    // bulk rewrite (snapshot/vacuum/truncate, both protocols) must
    // refuse while another holds the table.
    val root = Files.createTempDirectory("mt-conflict").toString
    val dir = s"$root/person"
    val rows = Seq((1, "a", "u", 1,
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "name", "uid", "score", "created_at")
    FoldRunner.withLifecycle(dir) {
      intercept[java.io.IOException] {
        MultiTable.snapshot(spark, rows, root, personSpec)
      }
      intercept[java.io.IOException] {
        MultiTable.vacuum(spark, root, personSpec)
      }
      intercept[java.io.IOException] {
        MultiTable.truncate(spark, root, personSpec)
      }
    }
    // flag released → the same ops proceed
    MultiTable.snapshot(spark, rows, root, personSpec)
    assert(personMap(root) === Map(1 -> (("a", "u", 1))))
    val rootM = Files.createTempDirectory("mtm-conflict").toString
    val dirM = s"$rootM/person"
    FoldRunner.withLifecycle(dirM) {
      intercept[java.io.IOException] {
        ManifestMultiTable.snapshot(spark, rows, rootM, personSpec)
      }
      intercept[java.io.IOException] {
        ManifestMultiTable.vacuum(spark, rootM, personSpec)
      }
    }
    ManifestMultiTable.snapshot(spark, rows, rootM, personSpec)
    assert(ManifestMultiTable.readTable(spark, rootM, personSpec)
      .count() === 1)
  }

  test("a lifecycle flag stops triggers from folding under a vacuum") {
    // a trigger-driven fold under a bulk lifecycle op would fold a base
    // the op is rewriting: the threshold is gated on the per-table
    // lifecycle flag, on both protocols. On the rename path a stray
    // stage dir (a killed fold's leftover) shows whether a fold ran:
    // every fold reclaims it first.
    val pOps = ChangeGen.ops(seed = 139L, n = 60)
    val root = Files.createTempDirectory("mt-lifecycle").toString
    def apply(b: Long) = MultiTable.applyBatch(spark, MultiTable.parseAll(
      pOps.map(ChangeGen.toJsonLine).toDF("value"), specs), root, specs,
      batchId = b, compactEvery = 1)
    apply(0L)
    val dir = s"$root/person"
    val stray = java.nio.file.Paths.get(dir, ".__stage-g99", "id_bucket=0")
    Files.createDirectories(stray)
    val gensBefore = RenameLayout.gens(dir).toSet
    FoldRunner.withLifecycle(dir) { apply(1L) }
    assert(RenameLayout.pendingDeltas(dir) === Seq(1L),
      "compactEvery=1 must NOT fold under the lifecycle flag")
    assert(RenameLayout.gens(dir).toSet === gensBefore)
    assert(Files.exists(stray))
    apply(2L)
    assert(RenameLayout.pendingDeltas(dir).isEmpty,
      "outside the flag the threshold fold runs")
    assert(!Files.exists(stray.getParent), "the fold reclaims stray stage dirs")
    assert(personMap(root) === wantPerson(pOps))
    // manifest path: the compact threshold is also gated
    val rootM = Files.createTempDirectory("mtm-lifecycle").toString
    def applyM(b: Long) = ManifestMultiTable.applyBatch(spark,
      MultiTable.parseAll(pOps.map(ChangeGen.toJsonLine).toDF("value"),
        specs), rootM, specs, batchId = b, compactEvery = 1)
    val dirM = s"$rootM/person"
    FoldRunner.withLifecycle(dirM) { applyM(0L) }
    assert(ManifestReplica.versions(spark, dirM).size === 1,
      "compactEvery=1 must NOT fold under the lifecycle flag (one delta commit only)")
    applyM(1L)
    assert(ManifestReplica.versions(spark, dirM).size >= 2,
      "outside the flag the threshold fold runs")
  }

  test("multi-table manifest vacuum drops tombstone bytes, preserves state, collapses history") {
    val pOps = ChangeGen.ops(seed = 131L, n = 120)
    val root = Files.createTempDirectory("mtm-vacuum").toString
    val parsed = MultiTable.parseAll(
      pOps.map(ChangeGen.toJsonLine).toDF("value"), specs)
    ManifestMultiTable.applyBatch(spark, parsed, root, specs, batchId = 0L)
    val want = personMapOf(
      ManifestMultiTable.readTable(spark, root, personSpec))
    assert(want === wantPerson(pOps))
    ManifestMultiTable.vacuum(spark, root, personSpec)
    // state unchanged through the rewrite
    assert(personMapOf(ManifestMultiTable.readTable(spark, root,
      personSpec)) === want)
    // tombstones are physically gone: the rewritten buckets hold only
    // alive keys (raw generic read, no filter)
    val dir = s"$root/person"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = ManifestReplica.readManifestAt(fs, p,
      ManifestMultiTable.versions(spark, root, personSpec).max)
    assert(m.deltas.isEmpty, "vacuum must fold pending deltas first")
    val raw = spark.read.schema(MultiTable.MtBaseSchema)
      .parquet(m.buckets.keys.toSeq.sorted.map(m.bucketDir(dir, _)): _*)
    assert(raw.filter(col("first_ins").isNull).count() === 0,
      "tombstone rows must be physically removed")
    assert(raw.count().toInt === want.size)
    // vacuum deliberately forfeits time travel before sweeping
    assert(ManifestMultiTable.versions(spark, root, personSpec).size === 1)
  }

  test("schema evolution: a widened declared schema reads old rows with nulls, no rewrite") {
    // the replica stores the envelope's column map as JSON, so adding
    // a column to the DECLARED schema is a read-side change only (the
    // module docstring's claim, pinned here)
    val aOps = ChangeGen.ops(seed = 103L, n = 40)
    val lines = aOps.map(o => ChangeGen.toAccountJsonLine(o)).toDF("value")
    val root = Files.createTempDirectory("mt-evolve").toString
    MultiTable.applyBatch(spark, MultiTable.parseAll(lines, specs), root,
      specs, batchId = 0L)
    val evolved = accountSpec.copy(rowSchema = StructType(
      accountSpec.rowSchema.fields :+ StructField("tier", StringType)))
    val got = MultiTable.readTable(spark, root, evolved)
    assert(got.schema.fieldNames.last === "tier")
    assert(got.filter(col("tier").isNotNull).count() === 0,
      "rows written before the evolution must read tier as null")
    assert(got.collect().map(r => r.getInt(0) -> ((r.getString(1),
      r.getInt(2)))).toMap === wantAccount(aOps),
      "pre-evolution columns must be unaffected")
  }
}
