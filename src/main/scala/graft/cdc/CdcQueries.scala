package graft.cdc

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lead, when}
import org.apache.spark.sql.streaming.Trigger
import graft.sql.Declared

/** CDC dataflow exposed through the driver's query contract, WITH DuckDB
  * oracles: each query persists its deterministic inputs (seeded change
  * log / snapshot) as parquet fixtures at fixed paths, and the oracle SQL
  * recomputes the same semantics over those fixtures via `read_parquet`
  * — last-writer-wins fold, created_at preservation, and the publication
  * row-filter U→I/D transform, all in ANSI SQL, so an engine bug and
  * an oracle bug would have to coincide to pass.
  */
object CdcQueries {
  /** Fixture dir the oracle SQL reads back. The query functions (run by
    * Verify/Bench before the driver's DuckDB pass) write these files;
    * contents are deterministic in the seeds, so any run produces
    * identical fixtures. PID-scoped: concurrent verify/bench
    * runs never race on shared files, and an oracle run without a prior
    * Spark pass fails loudly on a missing dir instead of silently
    * comparing against a stale run's fixtures. The oracle SQL strings
    * embed this path, so driver compare stays within one JVM run. */
  val FixtureDir: String =
    s"/tmp/graft_fixtures_${ProcessHandle.current().pid()}"
  private val snapshotPq = s"$FixtureDir/cdc_snapshot.parquet"
  private val streamPq = s"$FixtureDir/cdc_stream.parquet"
  private val changelogPq = s"$FixtureDir/cdc_changelog.parquet"

  private def dumpChanges(s: SparkSession, ops: Seq[ChangeGen.Op],
      path: String): Unit = {
    import s.implicits._
    ChangeGen.toChanges(ops).toDS().toDF()
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** End-to-end replicate: deterministic change log (seed=42) → snapshot
    * + streaming apply with the parity publication filter → final replica
    * (pubsub pipeline, pubsub/main.go:77-210). Returns the replica sorted
    * by id; the sfDir argument is unused (the CDC source is the generated
    * wal2json log, not the TPC-H fixtures). */
  private val replicateE2e = Declared(
    "cdc_replicate_e2e",
    (s: SparkSession, _: String) => {
      val ops = ChangeGen.ops(seed = 42L, n = 2000)
      val (snapOps, streamOps) = ops.splitAt(800)
      val changeDir = Files.createTempDirectory("graft-cdc-log").toString
      val replica = Files.createTempDirectory("graft-cdc-replica").toString
      val ckpt = Files.createTempDirectory("graft-cdc-ckpt").toString
      import s.implicits._
      // publication filter applies to the initial copy too (copy_data=true)
      val snapState = ChangeGen.replay(snapOps).values
        .filter(_.score % 2 == 0).toSeq
      Replicate.snapshot(s, snapState.toDS(), replica)
      // persist the oracle's ground truth: snapshot state + raw stream ops
      snapState.toDS().toDF().coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(snapshotPq)
      dumpChanges(s, streamOps, streamPq)
      ChangeGen.writeBatches(changeDir, streamOps, batches = 5)
      val q = Replicate.start(s, changeDir, replica, ckpt,
        rowFilter = Some(Replicate.parityPred),
        trigger = Trigger.AvailableNow())
      try q.awaitTermination() finally q.stop()
      Replicate.readReplica(s, replica).orderBy("id").toDF()
    },
    Some(e2eOracleSql(snapshotPq, streamPq)))

  /** The reference fold in ANSI SQL, over a (snapshot, stream) fixture
    * pair. The snapshot is a set of INSERTs at lsn=-1; stream events get
    * the publication row-filter transform (U entering the filter → I,
    * anything leaving it → D). A key is alive iff an INSERT exists after
    * its last DELETE; its image is the last non-delete event, its
    * created_at the FIRST insert after the last delete (ON CONFLICT DO
    * UPDATE preserves created_at). Shared by the rename-commit and
    * manifest-commit e2e queries — same semantics, different replica
    * commit protocol. */
  private def e2eOracleSql(snapPq: String, strPq: String): String =
    s"""WITH snap AS (
       |  SELECT id, name, uid, score, created_at,
       |         CAST(-1 AS BIGINT) AS lsn, 'I' AS action
       |  FROM read_parquet('$snapPq/*.parquet')
       |), stream AS (
       |  SELECT id, name, uid, score, created_at, lsn,
       |    CASE WHEN action = 'D' THEN 'D'
       |         WHEN score % 2 = 0 THEN 'I'
       |         ELSE 'D' END AS action
       |  FROM read_parquet('$strPq/*.parquet')
       |), ev AS (
       |  SELECT * FROM snap UNION ALL SELECT * FROM stream
       |), lastd AS (
       |  SELECT id, max(lsn) AS dlsn FROM ev WHERE action = 'D' GROUP BY id
       |)
       |SELECT e.id,
       |  arg_max(e.name, e.lsn) AS name,
       |  arg_max(e.uid, e.lsn) AS uid,
       |  arg_max(e.score, e.lsn) AS score,
       |  arg_min(e.created_at, e.lsn) FILTER (WHERE e.action = 'I')
       |    AS created_at
       |FROM ev e LEFT JOIN lastd d ON e.id = d.id
       |WHERE e.action <> 'D' AND e.lsn > coalesce(d.dlsn, -2)
       |GROUP BY e.id
       |HAVING count(CASE WHEN e.action = 'I' THEN 1 END) > 0
       |ORDER BY e.id""".stripMargin

  private val manSnapshotPq = s"$FixtureDir/cdc_man_snapshot.parquet"
  private val manStreamPq = s"$FixtureDir/cdc_man_stream.parquet"

  /** [[replicateE2e]] run through the OBJECT-STORE commit protocol
    * ([[ManifestReplica]]): same snapshot ∪ filtered-stream dataflow,
    * but every replica commit is a single manifest PUT instead of
    * directory renames, with incremental per-bucket compaction every 3
    * epochs mid-stream. Distinct seed → distinct fixtures, so the two
    * e2e queries never share files within a run. */
  private val manifestE2e = Declared(
    "cdc_manifest_e2e",
    (s: SparkSession, _: String) => {
      val ops = ChangeGen.ops(seed = 47L, n = 2000)
      val (snapOps, streamOps) = ops.splitAt(800)
      val changeDir = Files.createTempDirectory("graft-man-log").toString
      val replica = Files.createTempDirectory("graft-man-replica").toString
      val ckpt = Files.createTempDirectory("graft-man-ckpt").toString
      import s.implicits._
      val snapState = ChangeGen.replay(snapOps).values
        .filter(_.score % 2 == 0).toSeq
      ManifestReplica.snapshot(s, snapState.toDS(), replica)
      snapState.toDS().toDF().coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(manSnapshotPq)
      dumpChanges(s, streamOps, manStreamPq)
      ChangeGen.writeBatches(changeDir, streamOps, batches = 5)
      // one epoch per log file: five manifest commits + one mid-stream
      // incremental compaction actually exercised, not just possible
      val q = ManifestReplica.startFrom(s,
        ChangeSource.readStream(s, changeDir, maxFilesPerTrigger = Some(1)),
        replica, ckpt, rowFilter = Some(Replicate.parityPred),
        trigger = Trigger.AvailableNow(), compactEvery = 3)
      try q.awaitTermination() finally q.stop()
      ManifestReplica.readReplica(s, replica).orderBy("id").toDF()
    },
    Some(e2eOracleSql(manSnapshotPq, manStreamPq)))

  private val ttSnapshotPq = s"$FixtureDir/cdc_tt_snapshot.parquet"
  private val ttStreamPq = s"$FixtureDir/cdc_tt_stream.parquet"

  /** Snapshot-isolated time travel over the manifest replica — the
    * Delta/Iceberg `VERSION AS OF` read, graduated from spec-only
    * (ManifestSpec) to a full oracle row. The engine replays snapshot +
    * FIVE epochs (one manifest commit each, no compaction interleaved so
    * version ↔ epoch is 1:1), then reads the replica AS OF the version
    * three epochs in — while the oracle's ground-truth dump contains
    * ONLY the three-epoch prefix of the stream. The oracle knows nothing
    * of the later epochs, so any leakage of post-version state into the
    * time-travel read (the bug class retention/trim/gc can introduce)
    * breaks the hash. The target version sits inside the
    * [[ManifestReplica.ManifestHistory]] retention window (last 4 of 6
    * commits) — reading it exercises the trim boundary, not just the
    * head. Scale: the read is the normal manifest-pinned bucket scan;
    * time travel costs nothing beyond retaining manifests (the
    * Delta/Iceberg VACUUM trade, documented on ManifestHistory). */
  private val timeTravel = Declared(
    "cdc_time_travel",
    (s: SparkSession, _: String) => {
      val ops = ChangeGen.ops(seed = 48L, n = 2000)
      val (snapOps, streamOps) = ops.splitAt(800)
      val changeDir = Files.createTempDirectory("graft-tt-log").toString
      val replica = Files.createTempDirectory("graft-tt-replica").toString
      val ckpt = Files.createTempDirectory("graft-tt-ckpt").toString
      import s.implicits._
      val snapState = ChangeGen.replay(snapOps).values
        .filter(_.score % 2 == 0).toSeq
      ManifestReplica.snapshot(s, snapState.toDS(), replica)
      snapState.toDS().toDF().coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(ttSnapshotPq)
      val batches = 5
      ChangeGen.writeBatches(changeDir, streamOps, batches = batches)
      // the first 3 epochs are exactly this prefix — the ONLY stream
      // state the oracle ever sees (chunkSize IS writeBatches' rule)
      val per = ChangeGen.chunkSize(streamOps.size, batches)
      dumpChanges(s, streamOps.take(3 * per), ttStreamPq)
      val q = ManifestReplica.startFrom(s,
        ChangeSource.readStream(s, changeDir, maxFilesPerTrigger = Some(1)),
        replica, ckpt, rowFilter = Some(Replicate.parityPred),
        trigger = Trigger.AvailableNow(),
        compactEvery = 1000) // no mid-stream compaction commits
      try q.awaitTermination() finally q.stop()
      // versions ascending: …, vmax-2 = snapshot + 3 epochs (the last
      // five commits are the five epoch applies)
      val vs = ManifestReplica.versions(s, replica)
      ManifestReplica.readReplicaAt(s, replica, vs.max - 2)
        .orderBy("id").toDF()
    },
    Some(e2eOracleSql(ttSnapshotPq, ttStreamPq)))

  private val cfStreamPq = s"$FixtureDir/cdc_cf_stream.parquet"

  /** The manifest replica as a change-data-feed SOURCE — the Delta CDF
    * `table_changes(since)` analog ([[ManifestReplica.changesSince]]),
    * graduated from spec-only: downstream consumers (a second replica,
    * an index refresher, an IVM view) read exactly the per-key delta
    * summaries committed AFTER a version they have already seen, never
    * a full snapshot diff. The engine replays snapshot + five epoch
    * commits and asks for changes since the version two epochs back;
    * the oracle re-derives the per-(batch, key) LWW summaries —
    * [[Replicate.summarize]]'s exact fold: last delete lsn, arg_max
    * image after it, arg_min insert after it — from a ground-truth dump
    * that contains ONLY the final two epochs' raw ops (batch-stamped by
    * the same ceil(n/batches) grouping `ChangeGen.writeChunks` uses).
    * Struct columns flatten to scalars (array/struct-free result
    * convention). Scale: the feed is a partition-discovered scan of
    * exactly the delta dirs the retained manifests name — cost
    * proportional to the requested window, never to replica size. */
  private val changesSinceFeed = Declared(
    "cdc_changes_since",
    (s: SparkSession, _: String) => {
      val ops = ChangeGen.ops(seed = 49L, n = 2000)
      val (snapOps, streamOps) = ops.splitAt(800)
      val changeDir = Files.createTempDirectory("graft-cf-log").toString
      val replica = Files.createTempDirectory("graft-cf-replica").toString
      val ckpt = Files.createTempDirectory("graft-cf-ckpt").toString
      import s.implicits._
      val snapState = ChangeGen.replay(snapOps).values.toSeq
      ManifestReplica.snapshot(s, snapState.toDS(), replica)
      val batches = 5
      val per = ChangeGen.chunkSize(streamOps.size, batches)
      // ground truth: ONLY the last two epochs' ops, batch-stamped
      ChangeGen.toChanges(streamOps).zipWithIndex
        .map { case (c, i) => ((i / per).toLong, c) }
        .filter(_._1 >= (batches - 2).toLong).toDS()
        .select(col("_1").as("batch_id"), col("_2.*"))
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(cfStreamPq)
      ChangeGen.writeBatches(changeDir, streamOps, batches = batches)
      val q = ManifestReplica.startFrom(s,
        ChangeSource.readStream(s, changeDir, maxFilesPerTrigger = Some(1)),
        replica, ckpt, trigger = Trigger.AvailableNow(),
        compactEvery = 1000)
      try q.awaitTermination() finally q.stop()
      val vs = ManifestReplica.versions(s, replica)
      ManifestReplica.changesSince(s, replica, vs.max - 2)
        .select(col("batch_id"), col("id"),
          col("last_img.lsn").as("img_lsn"),
          col("last_img.name").as("name"),
          col("last_img.uid").as("uid"),
          col("last_img.score").as("score"),
          col("first_ins.lsn").as("ins_lsn"),
          col("first_ins.created_at").as("ins_created_at"),
          col("last_d_lsn"))
        .orderBy("batch_id", "id")
    },
    Some(s"""WITH stream AS (
            |  SELECT * FROM read_parquet('$cfStreamPq/*.parquet')
            |), last_d AS (
            |  SELECT batch_id, id, max(lsn) AS dlsn
            |  FROM stream WHERE action = 'D' GROUP BY 1, 2
            |), j AS (
            |  SELECT s.*, d.dlsn FROM stream s
            |  LEFT JOIN last_d d
            |    ON s.batch_id = d.batch_id AND s.id = d.id
            |)
            |SELECT batch_id, id,
            |  arg_max(lsn, lsn) FILTER (WHERE action <> 'D'
            |    AND lsn > coalesce(dlsn, -1)) AS img_lsn,
            |  arg_max(name, lsn) FILTER (WHERE action <> 'D'
            |    AND lsn > coalesce(dlsn, -1)) AS name,
            |  arg_max(uid, lsn) FILTER (WHERE action <> 'D'
            |    AND lsn > coalesce(dlsn, -1)) AS uid,
            |  arg_max(score, lsn) FILTER (WHERE action <> 'D'
            |    AND lsn > coalesce(dlsn, -1)) AS score,
            |  arg_min(lsn, lsn) FILTER (WHERE action = 'I'
            |    AND lsn > coalesce(dlsn, -1)) AS ins_lsn,
            |  arg_min(created_at, lsn) FILTER (WHERE action = 'I'
            |    AND lsn > coalesce(dlsn, -1)) AS ins_created_at,
            |  max(dlsn) AS last_d_lsn
            |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Batch parse of a generated wal2json v2 log: the S2→X11→X13→F2 slice
    * (slot scan, JSON decode, column pivot, table routing) without the
    * sink. The oracle reads the typed dump of the same seeded ops — the
    * JSON round-trip must reproduce it exactly. */
  private val parseChangelog = Declared(
    "cdc_parse_changelog",
    (s: SparkSession, _: String) => {
      val ops = ChangeGen.ops(seed = 7L, n = 1000)
      val changeDir = Files.createTempDirectory("graft-cdc-parse").toString
      ChangeGen.writeBatches(changeDir, ops, batches = 4)
      dumpChanges(s, ops, changelogPq)
      ChangeSource.readBatch(s, changeDir).orderBy("lsn").toDF()
    },
    Some(s"""SELECT lsn, action, id, name, uid, score, created_at
           |FROM read_parquet('$changelogPq/*.parquet') ORDER BY lsn""".stripMargin))

  private val scd2Pq = s"$FixtureDir/cdc_scd2_changelog.parquet"

  /** SCD Type-2 history off the changelog: where the replica keeps only
    * each key's LATEST image (the reference fold, replicator/main.go:
    * 195-269), a warehouse dimension keeps EVERY image with its validity
    * interval — the standard slowly-changing-dimension shape the same
    * change stream feeds. Each I/U opens a version at its lsn; the next
    * change on the key (any action, deletes included) closes it; a
    * version is current iff nothing follows it. One shuffle, keyed on
    * `id` (the window partition) — at 100 TB this is the same per-key
    * exchange as the replica fold, and the window never sees more than
    * one key's history per task. The oracle re-derives the intervals
    * with the identical window over the dumped typed changelog. */
  private val scd2History = Declared(
    "cdc_scd2_history",
    (s: SparkSession, _: String) => {
      val ops = ChangeGen.ops(seed = 11L, n = 1500)
      val changeDir = Files.createTempDirectory("graft-cdc-scd2").toString
      ChangeGen.writeBatches(changeDir, ops, batches = 4)
      dumpChanges(s, ops, scd2Pq)
      val w = Window.partitionBy("id").orderBy("lsn")
      ChangeSource.readBatch(s, changeDir).toDF()
        .withColumn("valid_to", lead(col("lsn"), 1).over(w))
        .filter(col("action") =!= "D")
        .select(col("id"), col("name"), col("uid"), col("score"),
          col("created_at"), col("lsn").as("valid_from"), col("valid_to"),
          when(col("valid_to").isNull, 1).otherwise(0).as("is_current"))
        .orderBy("id", "valid_from")
    },
    Some(s"""WITH ch AS (
           |  SELECT *, lead(lsn) OVER (PARTITION BY id ORDER BY lsn)
           |    AS valid_to
           |  FROM read_parquet('$scd2Pq/*.parquet')
           |)
           |SELECT id, name, uid, score, created_at,
           |  lsn AS valid_from, valid_to,
           |  CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
           |FROM ch WHERE action <> 'D'
           |ORDER BY id, valid_from""".stripMargin))

  private val scd2AsofPq = s"$FixtureDir/cdc_scd2_asof.parquet"

  /** Temporal AS-OF probe over the SCD2 history — time travel as a
    * QUERY, not a storage feature: snapshot the dimension at four lsn
    * watermarks via interval containment ([valid_from, valid_to) ∋
    * as_of); deleted keys have no covering interval and drop out. The
    * probe set is tiny and broadcasts; a probe TABLE at scale takes
    * the banded range-join pattern (L18) instead. The oracle
    * re-derives history AND snapshots from the dumped typed
    * changelog. */
  private val scd2AsOf = Declared(
    "cdc_scd2_asof",
    (s: SparkSession, _: String) => {
      val ops = ChangeGen.ops(seed = 11L, n = 1500)
      dumpChanges(s, ops, scd2AsofPq)
      import s.implicits._
      import org.apache.spark.sql.functions.broadcast
      val w = Window.partitionBy("id").orderBy("lsn")
      val hist = ChangeGen.toChanges(ops).toDS().toDF()
        .withColumn("valid_to", lead(col("lsn"), 1).over(w))
        .filter(col("action") =!= "D")
      val probes = Seq(200L, 700L, 1100L, 1499L).toDF("as_of")
      hist.join(broadcast(probes),
          col("lsn") <= col("as_of") &&
            (col("valid_to").isNull || col("valid_to") > col("as_of")))
        .select(col("as_of"), col("id"), col("name"), col("uid"),
          col("score"), col("created_at"))
        .orderBy("as_of", "id")
    },
    Some(s"""WITH ch AS (
           |  SELECT *, lead(lsn) OVER (PARTITION BY id ORDER BY lsn)
           |    AS valid_to
           |  FROM read_parquet('$scd2AsofPq/*.parquet')),
           |probes AS (SELECT CAST(unnest([200, 700, 1100, 1499]) AS BIGINT)
           |           AS as_of)
           |SELECT p.as_of, ch.id, ch.name, ch.uid, ch.score, ch.created_at
           |FROM ch JOIN probes p
           |  ON ch.action <> 'D' AND ch.lsn <= p.as_of
           | AND (ch.valid_to IS NULL OR ch.valid_to > p.as_of)
           |ORDER BY as_of, id""".stripMargin))

  private val diffOldPq = s"$FixtureDir/cdc_diff_old.parquet"
  private val diffNewPq = s"$FixtureDir/cdc_diff_new.parquet"

  /** Snapshot diff ([[Replicate.snapshotDiff]]): two states of the same
    * table (the replay at 900 and 1600 ops of one seeded history),
    * diffed back into the minimal I/U/D change set. The oracle runs the
    * same full-outer classification over the dumped snapshots. */
  private val snapshotDiff = Declared(
    "cdc_snapshot_diff",
    (s: SparkSession, _: String) => {
      val ops = ChangeGen.ops(seed = 29L, n = 1600)
      import s.implicits._
      val oldDs = ChangeGen.replay(ops.take(900)).values.toSeq.toDS().toDF()
      val newDs = ChangeGen.replay(ops).values.toSeq.toDS().toDF()
      oldDs.coalesce(1).write.mode(SaveMode.Overwrite).parquet(diffOldPq)
      newDs.coalesce(1).write.mode(SaveMode.Overwrite).parquet(diffNewPq)
      Replicate.snapshotDiff(oldDs, newDs)
    },
    Some(s"""SELECT coalesce(n.id, o.id) AS id,
           |  CASE WHEN o.id IS NULL THEN 'I'
           |       WHEN n.id IS NULL THEN 'D'
           |       ELSE 'U' END AS op,
           |  n.name, n.uid, n.score, n.created_at
           |FROM read_parquet('$diffOldPq/*.parquet') o
           |FULL OUTER JOIN read_parquet('$diffNewPq/*.parquet') n
           |  ON o.id = n.id
           |WHERE o.id IS NULL OR n.id IS NULL
           |   OR (o.name, o.uid, o.score, o.created_at)
           |      <> (n.name, n.uid, n.score, n.created_at)
           |ORDER BY id""".stripMargin))

  private val linesPq = s"$FixtureDir/cdc_rawlines.parquet"

  /** Dead-letter classification of a raw change log (T9): the generated
    * log (with its standard audit-table + malformed noise) plus injected
    * bad-action and missing-id lines, classified per line and counted by
    * verdict. The oracle re-derives every verdict from the RAW LINES via
    * DuckDB's JSON functions — engine-independent semantics, not a dump
    * of our own answer. */
  private val quarantine = Declared(
    "cdc_quarantine",
    (s: SparkSession, _: String) => {
      val ops = ChangeGen.ops(seed = 11L, n = 600)
      val dir = Files.createTempDirectory("graft-cdc-quar").toString
      ChangeGen.writeBatches(dir, ops, batches = 3)
      Files.write(java.nio.file.Paths.get(dir, "batch_bad.json"),
        (Seq(ChangeGen.badActionLine(910001L),
          ChangeGen.badActionLine(910002L),
          ChangeGen.missingIdLine(910003L)))
          .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val lines = s.read.text(dir)
      lines.coalesce(1).write.mode(SaveMode.Overwrite).parquet(linesPq)
      ChangeSource.quarantineSummary(lines)
    },
    Some(s"""WITH lines AS (
           |  SELECT value FROM read_parquet('$linesPq/*.parquet')
           |), parsed AS (
           |  SELECT json_transform(value,
           |    '{"action":"VARCHAR","table":"VARCHAR",
           |      "columns":[{"name":"VARCHAR"}],
           |      "identity":[{"name":"VARCHAR"}]}') AS j
           |  FROM lines WHERE json_valid(value)
           |), cls AS (
           |  SELECT CASE
           |    WHEN j.action IS NULL OR j.action NOT IN ('I','U','D')
           |      THEN 'bad_action'
           |    WHEN coalesce(j."table", '') <> 'person' THEN 'unknown_table'
           |    WHEN coalesce(len(list_filter(j.columns,
           |           c -> c.name = 'id')), 0) = 0
           |     AND coalesce(len(list_filter(j.identity,
           |           c -> c.name = 'id')), 0) = 0 THEN 'missing_id'
           |    ELSE 'ok' END AS verdict
           |  FROM parsed
           |  UNION ALL
           |  SELECT 'malformed_json' AS verdict
           |  FROM lines WHERE NOT json_valid(value)
           |)
           |SELECT verdict, count(*) AS n FROM cls
           |GROUP BY verdict ORDER BY verdict""".stripMargin))

  private val personSpecMt: TableSpec = {
    import org.apache.spark.sql.types._
    TableSpec("person", "id", Some("created_at"),
      StructType(Seq(StructField("id", IntegerType),
        StructField("name", StringType), StructField("uid", StringType),
        StructField("score", IntegerType),
        StructField("created_at", TimestampType))))
  }
  private val accountSpecMt: TableSpec = {
    import org.apache.spark.sql.types._
    TableSpec("account", "id", Some("created_at"),
      StructType(Seq(StructField("id", IntegerType),
        StructField("owner", StringType),
        StructField("balance", IntegerType),
        StructField("created_at", TimestampType))))
  }
  private val mtSpecs = Seq(personSpecMt, accountSpecMt)

  /** Multi-table replication e2e, parameterized over the storage path
    * (one declared row per multi-table cell of the matrix): ONE
    * interleaved change log carrying `person` and `account` rows fans
    * out to two independently-keyed replicas — person bootstrapped from
    * a snapshot, account purely from the stream (both bootstrap modes
    * in one run). `pipeline` bootstraps + runs the streaming fan-out
    * and returns a per-table reader; the result unions both replicas
    * into a common (tbl, id, label, amount, created_at) shape. The
    * oracle replays each table's changes INDEPENDENTLY from its own
    * fixture — "each table's replica equals the filtered replay of its
    * own changes" is literally the compared statement, identical SQL
    * for every storage path. */
  private def mtE2e(name: String, tag: String, seed: Long,
      pipeline: (SparkSession, Seq[PersonRow], String) =>
        TableSpec => DataFrame): Declared = {
    val snapPq = s"$FixtureDir/${tag}_person_snap.parquet"
    val pStrPq = s"$FixtureDir/${tag}_person_stream.parquet"
    val aStrPq = s"$FixtureDir/${tag}_account_stream.parquet"
    Declared(
      name,
      (s: SparkSession, _: String) => {
        import org.apache.spark.sql.functions.{col, lit}
        import s.implicits._
        val (pOps, aOps) = ChangeGen.mtOps(seed, nPerson = 900,
          nAccount = 600)
        val (pSnap, pStream) = pOps.splitAt(400)
        val changeDir = Files.createTempDirectory(s"graft-$tag-log").toString
        val snapState = ChangeGen.replay(pSnap).values.toSeq
        snapState.toDS().toDF().coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(snapPq)
        dumpChanges(s, pStream, pStrPq)
        ChangeGen.toChanges(aOps).toDS().toDF()
          .withColumnRenamed("name", "owner")
          .withColumnRenamed("score", "balance").drop("uid")
          .coalesce(1).write.mode(SaveMode.Overwrite).parquet(aStrPq)
        ChangeGen.writeMtBatches(changeDir, pStream, aOps, batches = 5)
        val read = pipeline(s, snapState, changeDir)
        val p = read(personSpecMt)
          .select(lit("person").as("tbl"), col("id"),
            col("name").as("label"), col("score").as("amount"),
            col("created_at"))
        val a = read(accountSpecMt)
          .select(lit("account").as("tbl"), col("id"),
            col("owner").as("label"), col("balance").as("amount"),
            col("created_at"))
        p.unionAll(a).orderBy("tbl", "id")
      },
      Some(mtFoldOracleSql(snapPq, pStrPq, aStrPq)))
  }

  /** Both tables' plain reference folds (no row filter), unioned into
    * the common (tbl, id, label, amount, created_at) shape — person
    * bootstrapped from a snapshot fixture, account purely from its
    * stream fixture. Shared by every multi-table e2e cell and by the
    * multi-table time-travel row (same fold, prefix-only fixtures). */
  private def mtFoldOracleSql(snapPq: String, pStrPq: String,
      aStrPq: String): String =
    s"""WITH pev AS (
           |  SELECT id, name AS label, score AS amount, created_at,
           |         CAST(-1 AS BIGINT) AS lsn, 'I' AS action
           |  FROM read_parquet('$snapPq/*.parquet')
           |  UNION ALL
           |  SELECT id, name, score, created_at, lsn, action
           |  FROM read_parquet('$pStrPq/*.parquet')
           |), plastd AS (
           |  SELECT id, max(lsn) AS dlsn FROM pev WHERE action = 'D'
           |  GROUP BY id
           |), pfold AS (
           |  SELECT 'person' AS tbl, e.id,
           |    arg_max(e.label, e.lsn) AS label,
           |    arg_max(e.amount, e.lsn) AS amount,
           |    arg_min(e.created_at, e.lsn) FILTER (WHERE e.action = 'I')
           |      AS created_at
           |  FROM pev e LEFT JOIN plastd d ON e.id = d.id
           |  WHERE e.action <> 'D' AND e.lsn > coalesce(d.dlsn, -2)
           |  GROUP BY e.id
           |  HAVING count(CASE WHEN e.action = 'I' THEN 1 END) > 0
           |), aev AS (
           |  SELECT id, owner AS label, balance AS amount, created_at,
           |         lsn, action
           |  FROM read_parquet('$aStrPq/*.parquet')
           |), alastd AS (
           |  SELECT id, max(lsn) AS dlsn FROM aev WHERE action = 'D'
           |  GROUP BY id
           |), afold AS (
           |  SELECT 'account' AS tbl, e.id,
           |    arg_max(e.label, e.lsn) AS label,
           |    arg_max(e.amount, e.lsn) AS amount,
           |    arg_min(e.created_at, e.lsn) FILTER (WHERE e.action = 'I')
           |      AS created_at
           |  FROM aev e LEFT JOIN alastd d ON e.id = d.id
           |  WHERE e.action <> 'D' AND e.lsn > coalesce(d.dlsn, -2)
           |  GROUP BY e.id
           |  HAVING count(CASE WHEN e.action = 'I' THEN 1 END) > 0
           |)
           |SELECT * FROM pfold UNION ALL SELECT * FROM afold
           |ORDER BY tbl, id""".stripMargin

  private val multitableE2e = mtE2e("cdc_multitable_e2e", "cdc_mt", 61L,
    (s, snap, changeDir) => {
      import s.implicits._
      val root = Files.createTempDirectory("graft-mt-replica").toString
      val ckpt = Files.createTempDirectory("graft-mt-ckpt").toString
      MultiTable.snapshot(s, snap.toDS().toDF(), root, personSpecMt)
      val q = MultiTable.start(s, changeDir, root, ckpt, mtSpecs,
        maxFilesPerTrigger = Some(1), trigger = Trigger.AvailableNow(),
        compactEvery = 3)
      try q.awaitTermination() finally q.stop()
      spec => MultiTable.readTable(s, root, spec)
    })

  /** The same fan-out on the MANIFEST commit protocol — the driver's
    * oracle now checks the object-store-shaped multi-table path too. */
  private val mtManifestE2e = mtE2e("cdc_mt_manifest_e2e", "cdc_mtm", 62L,
    (s, snap, changeDir) => {
      import s.implicits._
      val root = Files.createTempDirectory("graft-mtm-replica").toString
      val ckpt = Files.createTempDirectory("graft-mtm-ckpt").toString
      ManifestMultiTable.snapshot(s, snap.toDS().toDF(), root,
        personSpecMt)
      val q = ManifestMultiTable.start(s, changeDir, root, ckpt, mtSpecs,
        maxFilesPerTrigger = Some(1), trigger = Trigger.AvailableNow(),
        compactEvery = 3)
      try q.awaitTermination() finally q.stop()
      spec => ManifestMultiTable.readTable(s, root, spec)
    })

  /** The same fan-out into SQL targets over JDBC (embedded Derby) —
    * person bulk-loaded through Spark's JDBC writer, the stream applied
    * through the three-phase batched sink, read back over JDBC. */
  private val mtJdbcE2e = mtE2e("cdc_mt_jdbc_e2e", "cdc_mtj", 63L,
    (s, snap, changeDir) => {
      import s.implicits._
      System.setProperty("derby.stream.error.file", "/tmp/graft-derby.log")
      val url = s"jdbc:derby:${
        Files.createTempDirectory("graft-mtj-db")}/db;create=true"
      val ckpt = Files.createTempDirectory("graft-mtj-ckpt").toString
      mtSpecs.foreach(JdbcMultiTable.ensureTable(url, _))
      snap.toDS().toDF().write.mode("append")
        .jdbc(url, "person", new java.util.Properties)
      val q = JdbcMultiTable.start(s, changeDir, url, ckpt, mtSpecs,
        trigger = Trigger.AvailableNow(), maxFilesPerTrigger = Some(1))
      try q.awaitTermination() finally q.stop()
      spec => {
        import org.apache.spark.sql.functions.col
        s.read.jdbc(url, spec.table, new java.util.Properties)
          .select(spec.rowSchema.fieldNames.toSeq.map(col): _*)
      }
    })

  private val jdbcSnapPq = s"$FixtureDir/cdc_jdbc_snap.parquet"
  private val jdbcStrPq = s"$FixtureDir/cdc_jdbc_stream.parquet"

  /** [[replicateE2e]]'s dataflow against a REAL SQL target over JDBC
    * (S1's production form — the Spark distribution ships embedded
    * Derby, so the whole path executes
    * in-sandbox): bulk JDBC load → change stream → per-key summaries →
    * transactional prepared-statement apply ([[JdbcReplica]]) → final
    * table read back through the PARTITIONED `spark.read.jdbc` extract.
    * No publication filter (that transform is pinned by the other two
    * e2e rows); the oracle is the plain reference fold. */
  private val jdbcE2e = Declared(
    "cdc_jdbc_e2e",
    (s: SparkSession, _: String) => {
      val ops = ChangeGen.ops(seed = 67L, n = 2000)
      val (snapOps, streamOps) = ops.splitAt(800)
      val changeDir = Files.createTempDirectory("graft-jdbc-log").toString
      val ckpt = Files.createTempDirectory("graft-jdbc-ckpt").toString
      System.setProperty("derby.stream.error.file", "/tmp/graft-derby.log")
      val url =
        s"jdbc:derby:${Files.createTempDirectory("graft-jdbc-db")}/db;create=true"
      import s.implicits._
      val snapState = ChangeGen.replay(snapOps).values.toSeq
      JdbcReplica.load(snapState.toDS(), url, "person")
      snapState.toDS().toDF().coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(jdbcSnapPq)
      dumpChanges(s, streamOps, jdbcStrPq)
      ChangeGen.writeBatches(changeDir, streamOps, batches = 5)
      val q = JdbcReplica.start(s, changeDir, url, "person", ckpt,
        trigger = Trigger.AvailableNow(), maxFilesPerTrigger = Some(1))
      try q.awaitTermination() finally q.stop()
      JdbcReplica.snapshot(s, url, "person").toDF().orderBy("id")
    },
    Some(plainFoldOracleSql(jdbcSnapPq, jdbcStrPq)))

  /** The reference fold with NO publication filter — [[e2eOracleSql]]
    * minus the row-filter transform. Shared by the JDBC and state-store
    * e2e rows (the filter transform is pinned by the other two). */
  private def plainFoldOracleSql(snapPq: String, strPq: String): String =
    s"""WITH snap AS (
       |  SELECT id, name, uid, score, created_at,
       |         CAST(-1 AS BIGINT) AS lsn, 'I' AS action
       |  FROM read_parquet('$snapPq/*.parquet')
       |), ev AS (
       |  SELECT * FROM snap
       |  UNION ALL
       |  SELECT id, name, uid, score, created_at, lsn, action
       |  FROM read_parquet('$strPq/*.parquet')
       |), lastd AS (
       |  SELECT id, max(lsn) AS dlsn FROM ev WHERE action = 'D'
       |  GROUP BY id
       |)
       |SELECT e.id,
       |  arg_max(e.name, e.lsn) AS name,
       |  arg_max(e.uid, e.lsn) AS uid,
       |  arg_max(e.score, e.lsn) AS score,
       |  arg_min(e.created_at, e.lsn) FILTER (WHERE e.action = 'I')
       |    AS created_at
       |FROM ev e LEFT JOIN lastd d ON e.id = d.id
       |WHERE e.action <> 'D' AND e.lsn > coalesce(d.dlsn, -2)
       |GROUP BY e.id
       |HAVING count(CASE WHEN e.action = 'I' THEN 1 END) > 0
       |ORDER BY e.id""".stripMargin

  private val stateSnapPq = s"$FixtureDir/cdc_state_snap.parquet"
  private val stateStrPq = s"$FixtureDir/cdc_state_stream.parquet"

  /** [[jdbcE2e]]'s dataflow through the STATE-STORE cell
    * ([[StatefulReplica]], flatMapGroupsWithState): the snapshot
    * bootstraps as an epoch-0 wave of lsn-0 inserts, the stream arrives
    * over real micro-batch boundaries, and the replica is the final
    * live-key state read back from the emitted update stream — so the
    * oracle checks this cell too, not only the seeded equivalence
    * property. */
  private val statefulE2e = Declared(
    "cdc_stateful_e2e",
    (s: SparkSession, _: String) => {
      val ops = ChangeGen.ops(seed = 69L, n = 2000)
      val (snapOps, streamOps) = ops.splitAt(800)
      import s.implicits._
      val snapState = ChangeGen.replay(snapOps).values.toSeq
      snapState.toDS().toDF().coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(stateSnapPq)
      dumpChanges(s, streamOps, stateStrPq)
      // lsn 0 sits below every stream lsn (they start at 801), so the
      // bootstrap folds exactly like the oracle's lsn=-1 snapshot rows
      val bootstrap = snapState.map(p => PersonChange(0L, "I", p.id,
        Some(p.name), Some(p.uid), Some(p.score), Some(p.created_at)))
      val per = ChangeGen.chunkSize(streamOps.size, 5)
      val waves = bootstrap +:
        ChangeGen.toChanges(streamOps).grouped(per).toSeq
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.functions.{col, lit, max_by, pmod, struct}
      val in = MemoryStream[PersonChange](s)
      // Distributed sink: each batch's update stream
      // lands as a hash-bucketed parquet APPEND — the same bucketed
      // layout the file replicas use — with the epoch stamped, and the
      // final replica materializes as a distributed last-update-per-key
      // fold over that log. No driver-side collect anywhere in the sink
      // path; at 100× the only thing that grows is executor-side work.
      val updDir = Files.createTempDirectory("graft-state-upd").toString
      val q = StatefulReplica.liveUpdates(in.toDS())
        .writeStream.outputMode("update")
        .option("checkpointLocation",
          Files.createTempDirectory("graft-state-ckpt").toString)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[ReplicaUpdate], bid: Long) =>
            batch.toDF()
              .withColumn("epoch", lit(bid))
              .withColumn("bucket", pmod(col("id"), lit(16)))
              .repartition(col("bucket"))
              .write.mode(SaveMode.Append)
              .partitionBy("bucket").parquet(updDir)
        }
        .start()
      try waves.foreach { w =>
        if (w.nonEmpty) in.addData(w)
        q.processAllAvailable()
      } finally q.stop()
      // a key appears at most once per epoch (flatMapGroupsWithState
      // emits one transition per key per batch), so max_by(epoch) is
      // exact; tombstoned keys drop via the live flag
      s.read.parquet(updDir)
        .groupBy(col("id"))
        .agg(max_by(struct(col("live"), col("row")), col("epoch")).as("u"))
        .filter(col("u.live"))
        .select(col("u.row.id").as("id"), col("u.row.name").as("name"),
          col("u.row.uid").as("uid"), col("u.row.score").as("score"),
          col("u.row.created_at").as("created_at"))
        .orderBy("id")
    },
    Some(plainFoldOracleSql(stateSnapPq, stateStrPq)))

  /** The multi-table state-store cell ([[StatefulMultiTable]]) through
    * the SAME harness and oracle as the other three mt cells: the
    * harness's change-log files feed one-file-per-epoch (the slot-poll
    * contract), the person snapshot bootstraps as an epoch-0 wave of
    * lsn-0 lines, and each table's replica materializes from the final
    * live (table, key) state. */
  private val mtStatefulE2e = mtE2e("cdc_mt_stateful_e2e", "cdc_mts", 64L,
    (s, snap, changeDir) => {
      import s.implicits._
      import scala.jdk.CollectionConverters._
      val snapLines = snap.map(p => ChangeGen.toJsonLine(ChangeGen.Op(
        0L, "I", p.id, p.name, p.uid, p.score,
        p.created_at.toLocalDateTime)))
      val files = new java.io.File(changeDir).listFiles()
        .filter(_.getName.endsWith(".json")).sortBy(_.getName)
      val waves = snapLines +: files.toSeq.map(f =>
        java.nio.file.Files.readAllLines(f.toPath).asScala.toSeq)
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.functions.{col, hash, lit, max_by, pmod,
        struct}
      val in = MemoryStream[String](s)
      // Distributed sink (multi-table cell): per-batch
      // updates append into a per-table hash-bucketed layout — the mt
      // replica directory shape — and each table's replica materializes
      // as a distributed last-update-per-(table, key) fold. No
      // batch.collect() anywhere in the sink path.
      val updDir = Files.createTempDirectory("graft-mts-upd").toString
      val q = StatefulMultiTable.liveUpdates(
          MultiTable.parseAll(in.toDF(), mtSpecs))
        .writeStream.outputMode("update")
        .option("checkpointLocation",
          Files.createTempDirectory("graft-mts-ckpt").toString)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[MtUpdate], bid: Long) =>
            batch.toDF()
              .withColumn("epoch", lit(bid))
              .withColumn("bucket", pmod(hash(col("key")), lit(16)))
              .repartition(col("tbl"), col("bucket"))
              .write.mode(SaveMode.Append)
              .partitionBy("tbl", "bucket").parquet(updDir)
        }
        .start()
      try waves.foreach { w =>
        if (w.nonEmpty) in.addData(w)
        q.processAllAvailable()
      } finally q.stop()
      val upd = s.read.parquet(updDir)
      spec => {
        import org.apache.spark.sql.functions.{element_at, from_json}
        import org.apache.spark.sql.types.{MapType, StringType}
        val parsed = upd.filter(col("tbl") === spec.table)
          .groupBy(col("key"))
          .agg(max_by(struct(col("live"), col("img"), col("created_at")),
            col("epoch")).as("u"))
          .filter(col("u.live"))
          .select(col("key"),
            from_json(col("u.img"), MapType(StringType, StringType)).as("m"),
            col("u.created_at").as("created_at"))
        // created_at comes from the STATE (first-insert preservation),
        // not the last image; every other column decodes from the image
        val cols = spec.rowSchema.fields.toSeq.map { f =>
          if (spec.createdAtCol.contains(f.name))
            col("created_at").cast(f.dataType).as(f.name)
          else if (f.name == spec.keyCol)
            col("key").cast(f.dataType).as(f.name)
          else element_at(col("m"), f.name).cast(f.dataType).as(f.name)
        }
        parsed.select(cols: _*)
      }
    })

  private val ivmStrPq = s"$FixtureDir/cdc_ivm_stream.parquet"

  /** IVM-maintained aggregate as a declared oracle row:
    * the retraction stream ([[Ivm.deltas]] — `-old, +new` per key
    * transition) feeds a downstream parity → (count, sum(score)) view
    * maintained by PURE ADDITION over the delta log; the oracle fully
    * recomputes the final replica from the raw dumped ops and
    * re-aggregates. Equality pins the changelog contract end-to-end:
    * every transition carries both sides, no-ops emit nothing, deleted
    * keys retract their contribution.
    *
    * Scale: the deltas land as hash-bucketed parquet appends (the
    * distributed-sink doctrine of the state-store cells — no driver
    * collect), and the maintained view's input is change-volume-sized:
    * at 100 TB the view never re-reads the replica. */
  private val ivmView = Declared(
    "cdc_ivm_view",
    (s: SparkSession, _: String) => {
      val ops = ChangeGen.ops(seed = 53L, n = 1500)
      dumpChanges(s, ops, ivmStrPq)
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.functions.{lit, pmod, sum}
      val in = MemoryStream[PersonChange](s)
      val deltaDir = Files.createTempDirectory("graft-ivm-deltas").toString
      val q = Ivm.deltas(in.toDS())
        .writeStream.outputMode("update")
        .option("checkpointLocation",
          Files.createTempDirectory("graft-ivm-ckpt").toString)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[AggDelta], bid: Long) =>
            batch.toDF()
              .withColumn("bucket", pmod(col("id"), lit(16)))
              .repartition(col("bucket"))
              .write.mode(SaveMode.Append)
              .partitionBy("bucket").parquet(deltaDir)
        }
        .start()
      try ChangeGen.toChanges(ops).grouped(300).foreach { w =>
        in.addData(w)
        q.processAllAvailable()
      } finally q.stop()
      // the maintained view: an additive fold of the delta log alone —
      // never a replica rescan; parity classes folding to zero count
      // have fully retracted and drop out (the live-key contract)
      s.read.parquet(deltaDir)
        .groupBy(pmod(col("score"), lit(2)).cast("long").as("parity"))
        .agg(sum(col("sign")).as("cnt"),
          sum(col("sign") * col("score")).as("sum_score"))
        .filter(col("cnt") =!= 0)
        .orderBy("parity")
    },
    Some(s"""WITH ev AS (
           |  SELECT id, score, lsn, action
           |  FROM read_parquet('$ivmStrPq/*.parquet')
           |), lastd AS (
           |  SELECT id, max(lsn) AS dlsn FROM ev WHERE action = 'D'
           |  GROUP BY id
           |), replica AS (
           |  SELECT e.id, arg_max(e.score, e.lsn) AS score
           |  FROM ev e LEFT JOIN lastd d ON e.id = d.id
           |  WHERE e.action <> 'D' AND e.lsn > coalesce(d.dlsn, -2)
           |  GROUP BY e.id
           |  HAVING count(CASE WHEN e.action = 'I' THEN 1 END) > 0
           |)
           |SELECT CAST(score % 2 AS BIGINT) AS parity,
           |  CAST(count(*) AS BIGINT) AS cnt,
           |  CAST(sum(score) AS BIGINT) AS sum_score
           |FROM replica GROUP BY 1 ORDER BY 1""".stripMargin))

  private val ivmjPStrPq = s"$FixtureDir/cdc_ivmj_person_stream.parquet"
  private val ivmjAStrPq = s"$FixtureDir/cdc_ivmj_account_stream.parquet"

  /** Incrementally-maintained JOIN view as a declared oracle row: one
    * interleaved two-table change log →
    * [[Ivm.mtDeltas]] per-table full-image retraction deltas →
    * [[Ivm.applyJoinBatch]]'s delta-join maintenance
    * (dP ⋈ A_post ∪ P_pre ⋈ dA — the exact bilinear identity, so
    * per-trigger work is change-volume-sized and the view never
    * re-reads either relation) → the maintained view is the additive
    * fold of the view delta log alone ([[Ivm.joinView]]). The oracle
    * FULLY RECOMPUTES the join from both tables' raw dumped ops: each
    * side's reference fold, equijoined on id. Epoch-prefix equality
    * and replay idempotence (dynamic epoch-partition overwrite) are
    * spec-pinned (IvmJoinSpec). */
  private val ivmJoin = Declared(
    "cdc_ivm_join",
    (s: SparkSession, _: String) => {
      import s.implicits._
      val (pOps, aOps) = ChangeGen.mtOps(77L, nPerson = 900,
        nAccount = 600)
      val changeDir = Files.createTempDirectory("graft-ivmj-log").toString
      val stateDir =
        Files.createTempDirectory("graft-ivmj-state").toString + "/log"
      val viewDir =
        Files.createTempDirectory("graft-ivmj-view").toString + "/log"
      val ckpt = Files.createTempDirectory("graft-ivmj-ckpt").toString
      dumpChanges(s, pOps, ivmjPStrPq)
      ChangeGen.toChanges(aOps).toDS().toDF()
        .withColumnRenamed("name", "owner")
        .withColumnRenamed("score", "balance").drop("uid")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(ivmjAStrPq)
      ChangeGen.writeMtBatches(changeDir, pOps, aOps, batches = 5)
      val q = Ivm.mtDeltas(MultiTable.parseAll(
          ChangeSource.rawLines(s, changeDir, Some(1)), mtSpecs))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: Dataset[MtDelta], bid: Long) =>
          Ivm.applyJoinBatch(s, batch, bid, stateDir, viewDir,
            personSpecMt, accountSpecMt)
        }
        .start()
      try q.awaitTermination() finally q.stop()
      Ivm.joinView(s, viewDir, personSpecMt, accountSpecMt).orderBy("id")
    },
    Some(s"""WITH pev AS (
           |  SELECT id, name, uid, score, lsn, action
           |  FROM read_parquet('$ivmjPStrPq/*.parquet')
           |), plastd AS (
           |  SELECT id, max(lsn) AS dlsn FROM pev WHERE action = 'D'
           |  GROUP BY id
           |), pfold AS (
           |  SELECT e.id,
           |    arg_max(e.name, e.lsn) AS name,
           |    arg_max(e.uid, e.lsn) AS uid,
           |    arg_max(e.score, e.lsn) AS score
           |  FROM pev e LEFT JOIN plastd d ON e.id = d.id
           |  WHERE e.action <> 'D' AND e.lsn > coalesce(d.dlsn, -2)
           |  GROUP BY e.id
           |  HAVING count(CASE WHEN e.action = 'I' THEN 1 END) > 0
           |), aev AS (
           |  SELECT id, owner, balance, lsn, action
           |  FROM read_parquet('$ivmjAStrPq/*.parquet')
           |), alastd AS (
           |  SELECT id, max(lsn) AS dlsn FROM aev WHERE action = 'D'
           |  GROUP BY id
           |), afold AS (
           |  SELECT e.id,
           |    arg_max(e.owner, e.lsn) AS owner,
           |    arg_max(e.balance, e.lsn) AS balance
           |  FROM aev e LEFT JOIN alastd d ON e.id = d.id
           |  WHERE e.action <> 'D' AND e.lsn > coalesce(d.dlsn, -2)
           |  GROUP BY e.id
           |  HAVING count(CASE WHEN e.action = 'I' THEN 1 END) > 0
           |)
           |SELECT p.id, p.name, p.uid, p.score, a.owner, a.balance
           |FROM pfold p JOIN afold a ON p.id = a.id
           |ORDER BY p.id""".stripMargin))

  private val ivmjaPStrPq = s"$FixtureDir/cdc_ivmja_person_stream.parquet"
  private val ivmjaAStrPq = s"$FixtureDir/cdc_ivmja_account_stream.parquet"

  /** Distributive aggregate OVER the maintained join — IVM composes:
    * the view delta log [[cdc_ivm_join]] maintains is itself a
    * retraction stream, so any downstream additive aggregate (here
    * score-parity → (row count, sum of balances)) is maintained by
    * pure addition over the SIGNED view deltas — `sum(sign)` and
    * `sum(sign * balance)` — never by re-joining or re-reading either
    * relation. The oracle fully recomputes both replicas, joins, and
    * aggregates. Scale: the aggregate's input is the change-volume-
    * sized view delta stream; this is the two-level materialized-view
    * cascade (table deltas → join deltas → aggregate) every IVM
    * engine builds, closed under composition. */
  private val ivmJoinAgg = Declared(
    "cdc_ivm_join_agg",
    (s: SparkSession, _: String) => {
      import org.apache.spark.sql.functions.{col, lit, pmod, sum}
      import s.implicits._
      val (pOps, aOps) = ChangeGen.mtOps(83L, nPerson = 700,
        nAccount = 500)
      val changeDir = Files.createTempDirectory("graft-ivmja-log").toString
      val stateDir =
        Files.createTempDirectory("graft-ivmja-state").toString + "/log"
      val viewDir =
        Files.createTempDirectory("graft-ivmja-view").toString + "/log"
      val ckpt = Files.createTempDirectory("graft-ivmja-ckpt").toString
      dumpChanges(s, pOps, ivmjaPStrPq)
      ChangeGen.toChanges(aOps).toDS().toDF()
        .withColumnRenamed("name", "owner")
        .withColumnRenamed("score", "balance").drop("uid")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(ivmjaAStrPq)
      ChangeGen.writeMtBatches(changeDir, pOps, aOps, batches = 4)
      val q = Ivm.mtDeltas(MultiTable.parseAll(
          ChangeSource.rawLines(s, changeDir, Some(1)), mtSpecs))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: Dataset[MtDelta], bid: Long) =>
          Ivm.applyJoinBatch(s, batch, bid, stateDir, viewDir,
            personSpecMt, accountSpecMt)
        }
        .start()
      try q.awaitTermination() finally q.stop()
      // the maintained aggregate: an additive fold of the SIGNED view
      // deltas alone; parity classes folding to zero have fully
      // retracted and drop out
      s.read.parquet(viewDir)
        .groupBy(pmod(col("score"), lit(2)).cast("long").as("parity"))
        .agg(sum(col("sign")).as("cnt"),
          sum(col("sign") * col("balance")).as("sum_balance"))
        .filter(col("cnt") =!= 0)
        .orderBy("parity")
    },
    Some(s"""WITH pev AS (
           |  SELECT id, score, lsn, action
           |  FROM read_parquet('$ivmjaPStrPq/*.parquet')
           |), plastd AS (
           |  SELECT id, max(lsn) AS dlsn FROM pev WHERE action = 'D'
           |  GROUP BY id
           |), pfold AS (
           |  SELECT e.id, arg_max(e.score, e.lsn) AS score
           |  FROM pev e LEFT JOIN plastd d ON e.id = d.id
           |  WHERE e.action <> 'D' AND e.lsn > coalesce(d.dlsn, -2)
           |  GROUP BY e.id
           |  HAVING count(CASE WHEN e.action = 'I' THEN 1 END) > 0
           |), aev AS (
           |  SELECT id, balance, lsn, action
           |  FROM read_parquet('$ivmjaAStrPq/*.parquet')
           |), alastd AS (
           |  SELECT id, max(lsn) AS dlsn FROM aev WHERE action = 'D'
           |  GROUP BY id
           |), afold AS (
           |  SELECT e.id, arg_max(e.balance, e.lsn) AS balance
           |  FROM aev e LEFT JOIN alastd d ON e.id = d.id
           |  WHERE e.action <> 'D' AND e.lsn > coalesce(d.dlsn, -2)
           |  GROUP BY e.id
           |  HAVING count(CASE WHEN e.action = 'I' THEN 1 END) > 0
           |)
           |SELECT CAST(p.score % 2 AS BIGINT) AS parity,
           |  CAST(count(*) AS BIGINT) AS cnt,
           |  CAST(sum(a.balance) AS BIGINT) AS sum_balance
           |FROM pfold p JOIN afold a ON p.id = a.id
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  private val mttSnapPq = s"$FixtureDir/cdc_mtt_person_snap.parquet"
  private val mttPStrPq = s"$FixtureDir/cdc_mtt_person_stream.parquet"
  private val mttAStrPq = s"$FixtureDir/cdc_mtt_account_stream.parquet"

  /** Per-table manifest time travel — [[timeTravel]]'s prefix-dump
    * contract graduated to the MULTI-TABLE manifest protocol
    * ([[ManifestMultiTable.readTableAt]]). Snapshot + five interleaved
    * epochs commit per-table
    * manifest versions; each table is then read AS OF the version that
    * covers exactly the first THREE epochs, while the oracle's
    * ground-truth dumps contain ONLY each table's rows from those
    * epochs — post-version leakage on either table breaks the hash.
    * Version arithmetic is derived, not assumed: absent tables burn no
    * manifest version ([[ManifestMultiTable.applyBatch]] skips them),
    * so each table's AS-OF target is `max - (its present epochs after
    * the prefix)`, computed from the same merge-sort + ceil-chunk rule
    * `writeMtBatches` uses. The account lsns are shifted (evenly, so
    * lsn parity still encodes the table) into the person stream's
    * range so both tables genuinely interleave across epochs. Scale:
    * per-table manifest roots make retention per-table by
    * construction; the AS-OF read is the normal manifest-pinned
    * bucket scan of that table alone. */
  private val mtTimeTravel = Declared(
    "cdc_mt_time_travel",
    (s: SparkSession, _: String) => {
      import org.apache.spark.sql.functions.{col, lit}
      import s.implicits._
      val (pOps, aRaw) = ChangeGen.mtOps(66L, nPerson = 900,
        nAccount = 600)
      val (pSnap, pStream) = pOps.splitAt(400)
      val shift =
        ((pStream.map(_.lsn).min - aRaw.map(_.lsn).min) / 2) * 2
      val aOps = aRaw.map(o => o.copy(lsn = o.lsn + shift))
      val changeDir = Files.createTempDirectory("graft-mtt-log").toString
      val root = Files.createTempDirectory("graft-mtt-replica").toString
      val ckpt = Files.createTempDirectory("graft-mtt-ckpt").toString
      val snapState = ChangeGen.replay(pSnap).values.toSeq
      ManifestMultiTable.snapshot(s, snapState.toDS().toDF(), root,
        personSpecMt)
      val batches = 5
      ChangeGen.writeMtBatches(changeDir, pStream, aOps,
        batches = batches)
      // epoch membership re-derived with writeMtBatches' exact rules:
      // merge-sort by lsn (unique across tables — parity-disjoint),
      // then ceil-split; lsn → epoch index is therefore exact
      val mergedLsns = (pStream.map(_.lsn) ++ aOps.map(_.lsn)).sorted
      val per = ChangeGen.chunkSize(mergedLsns.size, batches)
      val epochOf: Map[Long, Int] = mergedLsns.grouped(per).zipWithIndex
        .flatMap { case (ls, i) => ls.map(_ -> i) }.toMap
      val pPrefix = pStream.filter(o => epochOf(o.lsn) < 3)
      val aPrefix = aOps.filter(o => epochOf(o.lsn) < 3)
      snapState.toDS().toDF().coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(mttSnapPq)
      dumpChanges(s, pPrefix, mttPStrPq)
      ChangeGen.toChanges(aPrefix).toDS().toDF()
        .withColumnRenamed("name", "owner")
        .withColumnRenamed("score", "balance").drop("uid")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(mttAStrPq)
      val q = ManifestMultiTable.start(s, changeDir, root, ckpt, mtSpecs,
        maxFilesPerTrigger = Some(1), trigger = Trigger.AvailableNow(),
        compactEvery = 1000) // no compaction commits: version ↔ epoch
      try q.awaitTermination() finally q.stop()
      // commits after each table's target = its distinct present
      // epochs beyond the prefix (never > 2, so the target version is
      // always inside the ManifestHistory retention window)
      def laterEpochs(lsns: Seq[Long]): Long =
        lsns.map(epochOf).distinct.count(_ >= 3).toLong
      val pAt = ManifestMultiTable.versions(s, root, personSpecMt).max -
        laterEpochs(pStream.map(_.lsn))
      val aAt = ManifestMultiTable.versions(s, root, accountSpecMt).max -
        laterEpochs(aOps.map(_.lsn))
      val p = ManifestMultiTable.readTableAt(s, root, personSpecMt, pAt)
        .select(lit("person").as("tbl"), col("id"),
          col("name").as("label"), col("score").as("amount"),
          col("created_at"))
      val a = ManifestMultiTable.readTableAt(s, root, accountSpecMt, aAt)
        .select(lit("account").as("tbl"), col("id"),
          col("owner").as("label"), col("balance").as("amount"),
          col("created_at"))
      p.unionAll(a).orderBy("tbl", "id")
    },
    Some(mtFoldOracleSql(mttSnapPq, mttPStrPq, mttAStrPq)))

  private val mtcsPStrPq = s"$FixtureDir/cdc_mtcs_person_feed.parquet"
  private val mtcsAStrPq = s"$FixtureDir/cdc_mtcs_account_feed.parquet"

  /** Per-table change feed over the MULTI-TABLE manifest log —
    * [[cdc_changes_since]]'s contract generalized: each table's
    * downstream consumer reads exactly the per-key generic summaries
    * committed after a version IT has already seen, independently of
    * the other tables' commit cadence (idle-skip makes per-table
    * versions sparse in global epochs — precisely what the
    * gap-reconstruction logic handles). Both tables ask for "since my
    * max version − 2", i.e. each one's own LAST TWO present epochs;
    * the typed image fields are parsed out of the generic JSON image
    * at the edge (the [[MultiTable.readTable]] discipline). The oracle
    * re-derives each table's per-(epoch, key) LWW summaries from a
    * ground-truth dump holding ONLY that table's ops in those epochs,
    * epoch-stamped by the same merge-sort/ceil-split rules
    * `writeMtBatches` uses. Scale: two partition-discovered scans of
    * exactly the requested delta dirs — cost ∝ the window, never
    * replica size. */
  private val mtChangesSince = Declared(
    "cdc_mt_changes_since",
    (s: SparkSession, _: String) => {
      import org.apache.spark.sql.functions.{col, get_json_object, lit}
      import s.implicits._
      val (pOps, aRaw) = ChangeGen.mtOps(68L, nPerson = 900,
        nAccount = 600)
      val (pSnap, pStream) = pOps.splitAt(400)
      val shift =
        ((pStream.map(_.lsn).min - aRaw.map(_.lsn).min) / 2) * 2
      val aOps = aRaw.map(o => o.copy(lsn = o.lsn + shift))
      val changeDir = Files.createTempDirectory("graft-mtcs-log").toString
      val root = Files.createTempDirectory("graft-mtcs-replica").toString
      val ckpt = Files.createTempDirectory("graft-mtcs-ckpt").toString
      ManifestMultiTable.snapshot(s,
        ChangeGen.replay(pSnap).values.toSeq.toDS().toDF(), root,
        personSpecMt)
      val batches = 5
      ChangeGen.writeMtBatches(changeDir, pStream, aOps,
        batches = batches)
      val mergedLsns = (pStream.map(_.lsn) ++ aOps.map(_.lsn)).sorted
      val per = ChangeGen.chunkSize(mergedLsns.size, batches)
      val epochOf: Map[Long, Int] = mergedLsns.grouped(per).zipWithIndex
        .flatMap { case (ls, i) => ls.map(_ -> i) }.toMap
      // ground truth: per table, ops in ITS last two present epochs,
      // stamped with the global epoch id
      def lastTwo(lsns: Seq[Long]): Set[Int] =
        lsns.map(epochOf).distinct.sorted.takeRight(2).toSet
      val pKeep = lastTwo(pStream.map(_.lsn))
      val aKeep = lastTwo(aOps.map(_.lsn))
      ChangeGen.toChanges(pStream).zip(pStream)
        .filter { case (_, o) => pKeep(epochOf(o.lsn)) }
        .map { case (c, o) => (epochOf(o.lsn).toLong, c) }.toDS()
        .select(col("_1").as("batch_id"), col("_2.*"))
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(mtcsPStrPq)
      ChangeGen.toChanges(aOps).zip(aOps)
        .filter { case (_, o) => aKeep(epochOf(o.lsn)) }
        .map { case (c, o) => (epochOf(o.lsn).toLong, c) }.toDS()
        .select(col("_1").as("batch_id"), col("_2.*"))
        .withColumnRenamed("name", "owner")
        .withColumnRenamed("score", "balance").drop("uid")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(mtcsAStrPq)
      val q = ManifestMultiTable.start(s, changeDir, root, ckpt, mtSpecs,
        maxFilesPerTrigger = Some(1), trigger = Trigger.AvailableNow(),
        compactEvery = 1000) // no folds: version ↔ present epoch
      try q.awaitTermination() finally q.stop()
      def feed(spec: TableSpec, fields: Seq[(String, String)])
          : org.apache.spark.sql.DataFrame = {
        val v = ManifestMultiTable.versions(s, root, spec).max - 2
        val base = ManifestMultiTable.changesSince(s, root, spec, v)
        val img = fields.map { case (jf, as) =>
          (if (as == "amount")
            get_json_object(col("last_img.img"), s"$$.$jf").cast("int")
          else get_json_object(col("last_img.img"), s"$$.$jf")).as(as)
        }
        base.select(Seq(lit(spec.table).as("tbl"), col("batch_id"),
          col("key").cast("int").as("id"),
          col("last_img.lsn").as("img_lsn")) ++ img ++ Seq(
          col("first_ins.lsn").as("ins_lsn"),
          col("first_ins.created_at").as("ins_created_at"),
          col("last_d_lsn")): _*)
      }
      feed(personSpecMt, Seq("name" -> "label", "score" -> "amount"))
        .unionAll(
          feed(accountSpecMt, Seq("owner" -> "label", "balance" -> "amount")))
        .orderBy("tbl", "batch_id", "id")
    },
    Some {
      def foldSql(tbl: String, pq: String, nameCol: String,
          numCol: String): String =
        s"""SELECT '$tbl' AS tbl, batch_id, id,
           |  arg_max(lsn, lsn) FILTER (WHERE action <> 'D'
           |    AND lsn > coalesce(dlsn, -1)) AS img_lsn,
           |  arg_max($nameCol, lsn) FILTER (WHERE action <> 'D'
           |    AND lsn > coalesce(dlsn, -1)) AS label,
           |  arg_max($numCol, lsn) FILTER (WHERE action <> 'D'
           |    AND lsn > coalesce(dlsn, -1)) AS amount,
           |  arg_min(lsn, lsn) FILTER (WHERE action = 'I'
           |    AND lsn > coalesce(dlsn, -1)) AS ins_lsn,
           |  arg_min(created_at, lsn) FILTER (WHERE action = 'I'
           |    AND lsn > coalesce(dlsn, -1)) AS ins_created_at,
           |  max(dlsn) AS last_d_lsn
           |FROM (
           |  SELECT s.*, d.dlsn
           |  FROM read_parquet('$pq/*.parquet') s
           |  LEFT JOIN (
           |    SELECT batch_id, id, max(lsn) AS dlsn
           |    FROM read_parquet('$pq/*.parquet')
           |    WHERE action = 'D' GROUP BY 1, 2) d
           |    ON s.batch_id = d.batch_id AND s.id = d.id)
           |GROUP BY 2, 3""".stripMargin
      s"""${foldSql("person", mtcsPStrPq, "name", "score")}
         |UNION ALL
         |${foldSql("account", mtcsAStrPq, "owner", "balance")}
         |ORDER BY tbl, batch_id, id""".stripMargin
    })

  private val mtcSnapPq = s"$FixtureDir/cdc_mtc_person_snap.parquet"
  private val mtcPStrPq = s"$FixtureDir/cdc_mtc_person_stream.parquet"
  private val mtcAStrPq = s"$FixtureDir/cdc_mtc_account_stream.parquet"

  /** Consistent CROSS-TABLE snapshot — the guarantee epoch-aligned
    * per-table versions exist for, made consumer-visible: both tables
    * are read AS OF the SAME epoch boundary (the three-epoch prefix)
    * and JOINED, so every person row pairs with the account state that
    * was true at that instant. This is the transactional-consistency
    * property logical replication promises across tables (the
    * reference's publication covers multiple tables under one slot, so
    * a subscriber's cross-table read is consistent by construction);
    * here each table's AS-OF version is DERIVED from its own commit
    * count past the prefix, and the oracle folds ONLY the prefix of
    * each raw stream — reading either table one version off (the
    * mixed-epoch join every naive per-table reader risks) pairs rows
    * across epochs and breaks the hash. Scale: two manifest-pinned
    * bucket scans + one keyed join; the epoch alignment itself is
    * O(versions) metadata. */
  private val mtConsistentJoin = Declared(
    "cdc_mt_consistent_join",
    (s: SparkSession, _: String) => {
      import org.apache.spark.sql.functions.col
      import s.implicits._
      val (pOps, aRaw) = ChangeGen.mtOps(67L, nPerson = 900,
        nAccount = 600)
      val (pSnap, pStream) = pOps.splitAt(400)
      val shift =
        ((pStream.map(_.lsn).min - aRaw.map(_.lsn).min) / 2) * 2
      val aOps = aRaw.map(o => o.copy(lsn = o.lsn + shift))
      val changeDir = Files.createTempDirectory("graft-mtc-log").toString
      val root = Files.createTempDirectory("graft-mtc-replica").toString
      val ckpt = Files.createTempDirectory("graft-mtc-ckpt").toString
      val snapState = ChangeGen.replay(pSnap).values.toSeq
      ManifestMultiTable.snapshot(s, snapState.toDS().toDF(), root,
        personSpecMt)
      val batches = 5
      ChangeGen.writeMtBatches(changeDir, pStream, aOps,
        batches = batches)
      val mergedLsns = (pStream.map(_.lsn) ++ aOps.map(_.lsn)).sorted
      val per = ChangeGen.chunkSize(mergedLsns.size, batches)
      val epochOf: Map[Long, Int] = mergedLsns.grouped(per).zipWithIndex
        .flatMap { case (ls, i) => ls.map(_ -> i) }.toMap
      val pPrefix = pStream.filter(o => epochOf(o.lsn) < 3)
      val aPrefix = aOps.filter(o => epochOf(o.lsn) < 3)
      snapState.toDS().toDF().coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(mtcSnapPq)
      dumpChanges(s, pPrefix, mtcPStrPq)
      ChangeGen.toChanges(aPrefix).toDS().toDF()
        .withColumnRenamed("name", "owner")
        .withColumnRenamed("score", "balance").drop("uid")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(mtcAStrPq)
      val q = ManifestMultiTable.start(s, changeDir, root, ckpt, mtSpecs,
        maxFilesPerTrigger = Some(1), trigger = Trigger.AvailableNow(),
        compactEvery = 1000) // no compaction commits: version ↔ epoch
      try q.awaitTermination() finally q.stop()
      def laterEpochs(lsns: Seq[Long]): Long =
        lsns.map(epochOf).distinct.count(_ >= 3).toLong
      val pAt = ManifestMultiTable.versions(s, root, personSpecMt).max -
        laterEpochs(pStream.map(_.lsn))
      val aAt = ManifestMultiTable.versions(s, root, accountSpecMt).max -
        laterEpochs(aOps.map(_.lsn))
      ManifestMultiTable.readTableAt(s, root, personSpecMt, pAt)
        .select(col("id"), col("name"), col("score"))
        .join(
          ManifestMultiTable.readTableAt(s, root, accountSpecMt, aAt)
            .select(col("id"), col("owner"), col("balance")),
          "id")
        .orderBy("id")
    },
    Some(s"""WITH pev AS (
           |  SELECT id, name, score,
           |         CAST(-1 AS BIGINT) AS lsn, 'I' AS action
           |  FROM read_parquet('$mtcSnapPq/*.parquet')
           |  UNION ALL
           |  SELECT id, name, score, lsn, action
           |  FROM read_parquet('$mtcPStrPq/*.parquet')
           |), plastd AS (
           |  SELECT id, max(lsn) AS dlsn FROM pev WHERE action = 'D'
           |  GROUP BY id
           |), pfold AS (
           |  SELECT e.id, arg_max(e.name, e.lsn) AS name,
           |    arg_max(e.score, e.lsn) AS score
           |  FROM pev e LEFT JOIN plastd d ON e.id = d.id
           |  WHERE e.action <> 'D' AND e.lsn > coalesce(d.dlsn, -2)
           |  GROUP BY e.id
           |  HAVING count(CASE WHEN e.action = 'I' THEN 1 END) > 0
           |), aev AS (
           |  SELECT id, owner, balance, lsn, action
           |  FROM read_parquet('$mtcAStrPq/*.parquet')
           |), alastd AS (
           |  SELECT id, max(lsn) AS dlsn FROM aev WHERE action = 'D'
           |  GROUP BY id
           |), afold AS (
           |  SELECT e.id, arg_max(e.owner, e.lsn) AS owner,
           |    arg_max(e.balance, e.lsn) AS balance
           |  FROM aev e LEFT JOIN alastd d ON e.id = d.id
           |  WHERE e.action <> 'D' AND e.lsn > coalesce(d.dlsn, -2)
           |  GROUP BY e.id
           |  HAVING count(CASE WHEN e.action = 'I' THEN 1 END) > 0
           |)
           |SELECT p.id, p.name, p.score, a.owner, a.balance
           |FROM pfold p JOIN afold a ON p.id = a.id
           |ORDER BY p.id""".stripMargin))

  private val svSnapPq = s"$FixtureDir/cdc_sv_snapshot.parquet"
  private val svStreamPq = s"$FixtureDir/cdc_sv_stream.parquet"
  private val svSourcePq = s"$FixtureDir/cdc_sv_source.parquet"

  /** The monitor's in-sync verdict as a declared oracle row — the
    * reference's own correctness oracle (pubsub/main.go:184-198: source
    * count, target count, source-rows-passing-filter count, ✓/⟳
    * verdict), through [[Monitor]]. One parity-filtered replication runs
    * end-to-end; [[Monitor.status]] then compares the replica against
    * the full source state twice — once under the publication filter
    * (in sync: target == σ_filter(source)) and once without (syncing:
    * target < source) — so BOTH verdict branches are hash-checked. The
    * oracle re-derives the replica from the raw snapshot/stream
    * fixtures via the reference fold and recomputes all three counts
    * and both verdicts itself. Scale: each probe is three count
    * aggregates — metadata-only scans unless a filter applies. */
  private val syncVerdict = Declared(
    "cdc_sync_verdict",
    (s: SparkSession, _: String) => {
      val ops = ChangeGen.ops(seed = 71L, n = 1200)
      val (snapOps, streamOps) = ops.splitAt(500)
      val changeDir = Files.createTempDirectory("graft-sv-log").toString
      val replica = Files.createTempDirectory("graft-sv-replica").toString
      val ckpt = Files.createTempDirectory("graft-sv-ckpt").toString
      import s.implicits._
      val snapState = ChangeGen.replay(snapOps).values
        .filter(_.score % 2 == 0).toSeq
      Replicate.snapshot(s, snapState.toDS(), replica)
      snapState.toDS().toDF().coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(svSnapPq)
      dumpChanges(s, streamOps, svStreamPq)
      // the monitor's SOURCE: the full unfiltered table state
      val sourceState = ChangeGen.replay(ops).values.toSeq
      sourceState.toDS().toDF().coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(svSourcePq)
      ChangeGen.writeBatches(changeDir, streamOps, batches = 3)
      val q = Replicate.start(s, changeDir, replica, ckpt,
        rowFilter = Some(Replicate.parityPred),
        trigger = Trigger.AvailableNow())
      try q.awaitTermination() finally q.stop()
      val source = sourceState.toDS()
      val target = Replicate.readReplica(s, replica)
      val withF = Monitor.status(source, target,
        Some(Replicate.parityPred))
      val noF = Monitor.status(source, target, None)
      Seq(
        ("no_filter", noF.sourceCount, noF.targetCount,
          noF.sourceFilteredCount, noF.verdict),
        ("parity_filter", withF.sourceCount, withF.targetCount,
          withF.sourceFilteredCount, withF.verdict))
        .toDF("probe", "source_count", "target_count",
          "source_filtered_count", "verdict")
        .orderBy("probe")
    },
    Some(s"""WITH replica AS (
           |  SELECT id FROM (${e2eOracleSql(svSnapPq, svStreamPq)})
           |), src AS (
           |  SELECT * FROM read_parquet('$svSourcePq/*.parquet')
           |), counts AS (
           |  SELECT (SELECT count(*) FROM src) AS sc,
           |         (SELECT count(*) FROM replica) AS tc,
           |         (SELECT count(*) FROM src WHERE score % 2 = 0) AS fc
           |)
           |SELECT * FROM (
           |  SELECT 'no_filter' AS probe, sc AS source_count,
           |    tc AS target_count, sc AS source_filtered_count,
           |    CASE WHEN tc = sc THEN '✓ In sync' ELSE '⟳ Syncing' END
           |      AS verdict
           |  FROM counts
           |  UNION ALL
           |  SELECT 'parity_filter', sc, tc, fc,
           |    CASE WHEN tc = fc THEN '✓ In sync' ELSE '⟳ Syncing' END
           |  FROM counts)
           |ORDER BY probe""".stripMargin))

  val all: Seq[Declared] =
    Seq(replicateE2e, manifestE2e, timeTravel, changesSinceFeed,
      parseChangelog,
      scd2History, scd2AsOf, snapshotDiff, quarantine, ivmView,
      multitableE2e, mtManifestE2e, mtJdbcE2e, jdbcE2e, statefulE2e,
      mtStatefulE2e, mtTimeTravel, mtChangesSince, mtConsistentJoin,
      syncVerdict,
      ivmJoin, ivmJoinAgg)
}
