package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc._

/** JDBC source/sink against a REAL SQL database — embedded Derby ships
  * with the Spark distribution, so S1's production form (partitioned
  * `spark.read.jdbc` extract + prepared-statement apply into a SQL
  * target, replicator/main.go:98-269) runs end-to-end in-sandbox. */
class JdbcSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  System.setProperty("derby.stream.error.file", "/tmp/graft-derby.log")

  private def freshDb(name: String): String =
    s"jdbc:derby:${Files.createTempDirectory(name)}/db;create=true"

  private def tableMap(url: String, table: String)
      : Map[Int, (String, String, Int, java.sql.Timestamp)] = {
    val c = JdbcReplica.connect(url)
    try {
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(
          s"SELECT id, name, uid, score, created_at FROM $table")
        val out = scala.collection.mutable.Map
          [Int, (String, String, Int, java.sql.Timestamp)]()
        while (rs.next()) out(rs.getInt(1)) =
          ((rs.getString(2), rs.getString(3), rs.getInt(4),
            rs.getTimestamp(5)))
        rs.close(); out.toMap
      } finally st.close()
    } finally c.close()
  }

  test("jdbc pipeline: partitioned snapshot read + transactional streaming apply equal replay") {
    val url = freshDb("jdbc-e2e")
    val ops = ChangeGen.ops(seed = 81L, n = 1200)
    val (snapOps, streamOps) = ops.splitAt(400)
    val snapState = ChangeGen.replay(snapOps).values.toSeq

    // bulk load the source-of-truth state, then the PARTITIONED extract
    JdbcReplica.load(snapState.toDS(), url, "person")
    val got = JdbcReplica.snapshot(spark, url, "person", numPartitions = 4)
    assert(got.rdd.getNumPartitions === 4,
      "snapshot read must fan out over range partitions")
    assert(got.collect().map(p => p.id -> p.name).toMap ===
      snapState.map(p => p.id -> p.name).toMap)

    // continuous apply: change log → summaries → JDBC transactions
    val changeDir = Files.createTempDirectory("jdbc-log").toString
    val ckpt = Files.createTempDirectory("jdbc-ckpt").toString
    ChangeGen.writeBatches(changeDir, streamOps, batches = 4)
    val q = JdbcReplica.start(spark, changeDir, url, "person", ckpt,
      trigger = Trigger.AvailableNow(), maxFilesPerTrigger = Some(1))
    try q.awaitTermination() finally q.stop()

    val want = ChangeGen.replay(ops)
    val gotFinal = tableMap(url, "person")
    assert(gotFinal.view.mapValues(v => (v._1, v._2, v._3)).toMap ===
      want.map { case (id, p) => id -> ((p.name, p.uid, p.score)) })
    // created_at preserved across upserts (the ON CONFLICT semantics the
    // update-then-insert emulation must keep)
    assert(gotFinal.view.mapValues(_._4).toMap ===
      want.map { case (id, p) => id -> p.created_at })

    // replaying an already-committed epoch is a transactional no-op
    // (the (epoch, partition) marker short-circuits before any write)
    val lastBatch = ChangeGen.toChanges(
      streamOps.takeRight(streamOps.size / 4)).toDS()
    JdbcReplica.applyBatch(lastBatch, url, "person", batchId = 3L)
    assert(tableMap(url, "person") === gotFinal,
      "epoch replay mutated the target")

    // the reference monitor's parity probe, production form
    JdbcReplica.load(spark.createDataset(Seq.empty[PersonRow]), url,
      "person_src") // ensure table exists for the probe
    val (_, tgt) = JdbcReplica.parity(url, "person_src", "person")
    assert(tgt === want.size.toLong)
  }

  test("identity restart: post-snapshot target inserts draw above the replicated key space") {
    // the reference's post-bulk-copy `ALTER SEQUENCE person_id_seq
    // RESTART WITH max+1` (replicator/main.go:143-150), Derby form
    val url = freshDb("jdbc-seq")
    val snapState = ChangeGen.replay(ChangeGen.ops(seed = 91L, n = 300))
      .values.toSeq
    val maxId = snapState.map(_.id).max
    JdbcReplica.load(snapState.toDS(), url, "person") // restarts identity
    val c = JdbcReplica.connect(url)
    try {
      val st = c.createStatement()
      try {
        st.executeUpdate("INSERT INTO person (name, uid, score, " +
          "created_at) VALUES ('direct', 'u-d', 1, CURRENT_TIMESTAMP)")
        val rs = st.executeQuery("SELECT MAX(id) FROM person")
        rs.next()
        assert(rs.getInt(1) === maxId + 1,
          "generator must restart above the replicated key space")
        rs.close()
      } finally st.close()
    } finally c.close()
    // negative control: without the restart a fresh table's generator
    // starts at 1 — exactly the collision the reference's restart
    // exists to prevent
    JdbcReplica.ensureTables(url, "person_raw")
    val c2 = JdbcReplica.connect(url)
    try {
      val st = c2.createStatement()
      try {
        st.executeUpdate("INSERT INTO person_raw VALUES (1, " +
          "'replicated', 'u-1', 1, CURRENT_TIMESTAMP)")
        val ex = intercept[java.sql.SQLException] {
          st.executeUpdate("INSERT INTO person_raw (name, uid, score, " +
            "created_at) VALUES ('direct', 'u-d', 1, CURRENT_TIMESTAMP)")
        }
        assert(ex.getSQLState === "23505",
          "the un-restarted generator collides with the replicated row")
      } finally st.close()
    } finally c2.close()
  }

  test("jdbc apply: a NEW epoch with regressing content still applies (markers key on epoch)") {
    val url = freshDb("jdbc-epochs")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    JdbcReplica.load(Seq(PersonRow(1, "a", "u1", 10, t0)).toDS(),
      url, "person")
    JdbcReplica.applyBatch(
      Seq(PersonChange(100L, "U", 1, Some("b"), Some("u1"), Some(20),
        None)).toDS(), url, "person", batchId = 0L)
    assert(tableMap(url, "person")(1)._1 === "b")
    // distinct epoch, same key: applies (only same-epoch replays skip)
    JdbcReplica.applyBatch(
      Seq(PersonChange(101L, "D", 1, None, None, None, None)).toDS(),
      url, "person", batchId = 1L)
    assert(!tableMap(url, "person").contains(1))
    // delete-then-reinsert inside ONE batch: reborn with the new image
    JdbcReplica.applyBatch(
      Seq(PersonChange(102L, "I", 1, Some("c"), Some("u2"), Some(30),
          Some(t0)),
        PersonChange(103L, "D", 1, None, None, None, None),
        PersonChange(104L, "I", 1, Some("d"), Some("u3"), Some(40),
          Some(java.sql.Timestamp.valueOf("2024-02-02 00:00:00"))))
        .toDS(), url, "person", batchId = 2L)
    val r = tableMap(url, "person")(1)
    assert(r._1 === "d" && r._3 === 40)
    assert(r._4 === java.sql.Timestamp.valueOf("2024-02-02 00:00:00"))
  }

  test("jdbc apply: a null score binds SQL NULL, not 0 (matrix parity)") {
    // the parquet/state-store cells preserve a null score in the winning
    // image (e.g. a TOAST-style update that omits the column); the JDBC
    // sink used to coerce it to 0 — a silent cross-path divergence the
    // equivalence fixtures never caught because they always carry scores
    val url = freshDb("jdbc-nullscore")
    JdbcReplica.ensureTables(url, "person")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    JdbcReplica.applyBatch(
      Seq(PersonChange(1L, "I", 1, Some("a"), Some("u1"), None, Some(t0)),
        PersonChange(2L, "I", 2, Some("b"), Some("u2"), Some(7), Some(t0)),
        PersonChange(3L, "U", 2, Some("b2"), Some("u2"), None, None))
        .toDS(), url, "person", batchId = 0L)
    def scoreOf(id: Int): Option[Int] = {
      val c = JdbcReplica.connect(url)
      try {
        val st = c.prepareStatement("SELECT score FROM person WHERE id=?")
        try {
          st.setInt(1, id)
          val rs = st.executeQuery()
          assert(rs.next()); val v = rs.getInt(1)
          val out = if (rs.wasNull()) None else Some(v)
          rs.close(); out
        } finally st.close()
      } finally c.close()
    }
    assert(scoreOf(1) === None, "fresh insert with no score must be NULL")
    assert(scoreOf(2) === None, "null-score update must overwrite with NULL")
  }

  test("jdbc batching: >1000 keys in one partition apply correctly across chunk boundaries") {
    // applyOps chunks at JdbcBatchSize=1000 and executes three
    // batch phases per chunk; 2500 keys on parallelism=1 crosses two
    // chunk boundaries and exercises every statement path at volume:
    // insert-on-miss (fresh keys), update-hit, delete, delete+rebirth.
    val url = freshDb("jdbc-chunks")
    JdbcReplica.ensureTables(url, "person")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-03-03 00:00:00")
    val n = 2500
    val ins = (1 to n).map(i => PersonChange(i.toLong, "I", i,
      Some(s"n$i"), Some(s"u$i"), Some(i), Some(t0)))
    JdbcReplica.applyBatch(ins.toDS(), url, "person", batchId = 0L,
      parallelism = 1)
    assert(tableMap(url, "person").size === n)
    val upd = (1 to n).filter(_ % 3 == 0).map(i =>
      PersonChange(10000L + i, "U", i, Some(s"N$i"), Some(s"u$i"),
        Some(i * 2), None))
    val del = (1 to 600).filter(_ % 3 == 1).map(i =>
      PersonChange(20000L + i, "D", i, None, None, None, None))
    val reb = (1 to 600).filter(_ % 3 == 2).flatMap(i => Seq(
      PersonChange(30000L + i, "D", i, None, None, None, None),
      PersonChange(40000L + i, "I", i, Some(s"R$i"), Some(s"r$i"),
        Some(i * 3), Some(t1))))
    JdbcReplica.applyBatch((upd ++ del ++ reb).toDS(), url, "person",
      batchId = 1L, parallelism = 1)
    val got = tableMap(url, "person")
    val want = (1 to n).flatMap { i =>
      if (i % 3 == 0) Some(i -> ((s"N$i", s"u$i", i * 2, t0)))
      else if (i <= 600 && i % 3 == 1) None // deleted
      else if (i <= 600 && i % 3 == 2)
        Some(i -> ((s"R$i", s"r$i", i * 3, t1))) // reborn, new created_at
      else Some(i -> ((s"n$i", s"u$i", i, t0))) // untouched
    }.toMap
    assert(got === want)
  }

  test("jdbc stream restart resumes from the checkpoint: converged, no duplicates") {
    // the destructive SQL sink is where restart safety is earned the
    // hard way: a resumed query replays at most its current epoch, and
    // the (target, epoch, partition) markers make that replay a no-op.
    // Drain half the log, stop, restart on the same checkpoint over new
    // files — final table equals the full replay exactly.
    val url = freshDb("jdbc-restart")
    val ops = ChangeGen.ops(seed = 157L, n = 600)
    val (h1, h2) = ops.splitAt(300)
    val changeDir = Files.createTempDirectory("jdbc-restart-log").toString
    val ckpt = Files.createTempDirectory("jdbc-restart-ckpt").toString
    def drain(): Unit = {
      val q = JdbcReplica.start(spark, changeDir, url, "person", ckpt,
        trigger = Trigger.AvailableNow(), maxFilesPerTrigger = Some(1))
      try q.awaitTermination() finally q.stop()
    }
    ChangeGen.writeBatches(changeDir, h1, batches = 3)
    drain()
    assert(tableMap(url, "person").keySet ===
      ChangeGen.replay(h1).keySet)
    ChangeGen.writeBatches(changeDir, h2, batches = 3, startIndex = 3)
    drain()
    val want = ChangeGen.replay(ops).map { case (id, p) =>
      id -> ((p.name, p.uid, p.score, p.created_at)) }
    assert(tableMap(url, "person") === want)
  }

  test("jdbc multi-table: one interleaved log fans out to typed SQL targets") {
    val specs = MtTestSpecs.both
    val url = freshDb("jdbc-mt")
    val (pOps, aOps) = ChangeGen.mtOps(seed = 121L, nPerson = 400,
      nAccount = 300)
    val changeDir = Files.createTempDirectory("jdbc-mt-log").toString
    val ckpt = Files.createTempDirectory("jdbc-mt-ckpt").toString
    ChangeGen.writeMtBatches(changeDir, pOps, aOps, batches = 4)
    val q = JdbcMultiTable.start(spark, changeDir, url, ckpt, specs,
      trigger = Trigger.AvailableNow(), maxFilesPerTrigger = Some(1))
    try q.awaitTermination() finally q.stop()
    // each SQL target equals the replay of ITS OWN changes, with
    // created_at preserved through upserts (ON CONFLICT semantics)
    val wantP = ChangeGen.replay(pOps).map { case (id, p) =>
      id -> ((p.name, p.uid, p.score, p.created_at)) }
    assert(tableMap(url, "person") === wantP)
    def accountTable: Map[Int, (String, Int, java.sql.Timestamp)] = {
      val c = JdbcReplica.connect(url)
      try {
        val st = c.createStatement()
        try {
          val rs = st.executeQuery(
            "SELECT id, owner, balance, created_at FROM account")
          val out = scala.collection.mutable.Map
            [Int, (String, Int, java.sql.Timestamp)]()
          while (rs.next()) out(rs.getInt(1)) =
            ((rs.getString(2), rs.getInt(3), rs.getTimestamp(4)))
          rs.close(); out.toMap
        } finally st.close()
      } finally c.close()
    }
    val wantA = ChangeGen.replay(aOps).map { case (id, p) =>
      id -> ((p.name, p.score, p.created_at)) }
    assert(accountTable === wantA)
    // replaying a committed epoch is a no-op for EVERY declared table
    // (markers key on (target, epoch, partition))
    val lines = (pOps.take(50).map(ChangeGen.toJsonLine) ++
      aOps.take(50).map(o => ChangeGen.toAccountJsonLine(o))).toDF("value")
    JdbcMultiTable.applyBatch(spark,
      MultiTable.parseAll(lines, specs), url, specs, batchId = 3L)
    assert(tableMap(url, "person") === wantP,
      "replayed epoch must be skipped by its markers")
    assert(accountTable === wantA,
      "replayed epoch must be skipped for the second table too")
  }

  test("jdbc connect retry: transient failures back off and the alternate endpoint is the immediate fallback") {
    val url = freshDb("jdbc-retry")
    // first-attempt-fails fake over a REAL connection factory: the
    // primary endpoint refuses twice then recovers; the fake records
    // the exact attempt order
    val attempts = scala.collection.mutable.ArrayBuffer[String]()
    var failuresLeft = 2
    def flaky(u: String): java.sql.Connection = {
      attempts += u
      if (u.startsWith("bad:") || { val f = failuresLeft > 0
          if (f) failuresLeft -= 1; f })
        throw new java.sql.SQLException(s"connection refused: $u")
      java.sql.DriverManager.getConnection(u)
    }

    // transient refusal on a single endpoint: bounded backoff, recovers
    val c1 = JdbcReplica.connectWithRetry(Seq(url), rounds = 3,
      backoffMs = 1, open = flaky)
    try assert(!c1.isClosed) finally c1.close()
    assert(attempts.toSeq === Seq(url, url, url),
      "two refusals then success on the recovered endpoint")

    // alternate endpoint: the fallback is tried WITHIN the same round
    // (reference semantics: the docker hostname is the immediate
    // fallback, pubsub/main.go:109-119), so a dead primary costs one
    // failed attempt, not a full backoff cycle
    attempts.clear(); failuresLeft = 0
    val c2 = JdbcReplica.connectWithRetry(Seq(s"bad:$url", url),
      rounds = 3, backoffMs = 1, open = flaky)
    try assert(!c2.isClosed) finally c2.close()
    assert(attempts.toSeq === Seq(s"bad:$url", url),
      "fallback endpoint reached in round 1, no extra rounds")

    // every endpoint dead for every round: the failure is loud, carries
    // the endpoint list, and chains the last refusal as its cause
    attempts.clear()
    val ex = intercept[java.sql.SQLException] {
      JdbcReplica.connectWithRetry(Seq("bad:a", "bad:b"), rounds = 2,
        backoffMs = 1, open = flaky)
    }
    assert(attempts.toSeq === Seq("bad:a", "bad:b", "bad:a", "bad:b"))
    assert(ex.getMessage.contains("bad:a") && ex.getMessage.contains("bad:b"))
    assert(ex.getCause != null &&
      ex.getCause.getMessage.contains("connection refused"))
  }
}
