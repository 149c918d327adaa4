package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.cdc._

/** Model equivalence (r5 VERDICT ask #7, extended round 6 to the full
  * matrix): the SAME generated change schedules drive every replica
  * implementation — rename-commit ([[Replicate]]), manifest-commit
  * ([[ManifestReplica]]), state-store ([[StatefulReplica]]), and the
  * JDBC sink ([[JdbcReplica]]) — single- AND multi-table — and every
  * one must end in the naive sequential replay's state.
  *
  * 100+ seeds at test-suite cost: each seed owns a DISJOINT key range,
  * so all seeds' batch-b slices union into ONE shared micro-batch per
  * path — per-key semantics can't couple across seeds (every fold,
  * window, and state partition is keyed), so this is 100 independent
  * random schedules riding the same constant number of Spark jobs. */
class ReplicaEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("property: all four single-table paths equal naive replay over 100 seeds") {
    val Seeds = 100
    val Batches = 4
    // per seed: a distinct op count, a distinct random split into 4
    // (possibly empty) contiguous micro-batches, keys offset into the
    // seed's own range
    val perSeed: Seq[(Int, IndexedSeq[Seq[PersonChange]], Map[Int, PersonRow])] =
      (1 to Seeds).map { seed =>
        val rnd = new scala.util.Random(seed * 7L)
        val ops = ChangeGen.ops(seed, n = 40 + seed % 25)
          .map(o => o.copy(id = o.id + seed * 10000))
        val cuts = IndexedSeq.fill(Batches - 1)(rnd.nextInt(ops.size + 1))
          .sorted
        val bounds = (0 +: cuts :+ ops.size).sliding(2).toIndexedSeq
        val batches = bounds.map { case Seq(a, b) =>
          ChangeGen.toChanges(ops.slice(a, b))
        }
        (seed, batches, ChangeGen.replay(ops))
      }
    val want: Map[Int, (String, String, Int)] =
      perSeed.flatMap(_._3).map { case (id, p) =>
        id -> ((p.name, p.uid, p.score))
      }.toMap

    val sharedBatches: IndexedSeq[Seq[PersonChange]] =
      (0 until Batches).map(b => perSeed.flatMap(_._2(b)))

    // rename-commit path (mid-stream compactions at compactEvery=2)
    val rDir = Files.createTempDirectory("eq-rename").toString
    sharedBatches.zipWithIndex.foreach { case (batch, b) =>
      Replicate.applyBatch(spark, batch.toDS(), rDir, numBuckets = 8,
        batchId = b.toLong, compactEvery = 2)
    }
    val gotRename = Replicate.readReplica(spark, rDir).collect()
      .map(r => r.id -> ((r.name, r.uid, r.score))).toMap

    // manifest-commit path
    val mDir = Files.createTempDirectory("eq-man").toString
    sharedBatches.zipWithIndex.foreach { case (batch, b) =>
      ManifestReplica.applyBatch(spark, batch.toDS(), mDir, numBuckets = 8,
        batchId = b.toLong, compactEvery = 2)
    }
    val gotManifest = ManifestReplica.readReplica(spark, mDir).collect()
      .map(r => r.id -> ((r.name, r.uid, r.score))).toMap

    // state-store path: one stream, real micro-batch boundaries (each
    // addData + processAllAvailable is one epoch through the state
    // store); final state = last update per key
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[PersonChange](spark)
    val state = new java.util.concurrent.ConcurrentHashMap[Int,
      Option[PersonRow]]()
    val q = StatefulReplica.liveUpdates(in.toDS())
      .writeStream
      .outputMode("update")
      .option("checkpointLocation",
        Files.createTempDirectory("eq-state-ckpt").toString)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[ReplicaUpdate], _: Long) =>
          batch.collect().foreach(u => state.put(u.id, u.row))
      }
      .start()
    try {
      sharedBatches.foreach { batch =>
        if (batch.nonEmpty) in.addData(batch)
        q.processAllAvailable()
      }
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    val gotState = state.asScala.toMap.collect {
      case (id, Some(p)) => id -> ((p.name, p.uid, p.score))
    }

    assert(gotRename === want, "rename-commit replica diverged from replay")
    assert(gotManifest === want, "manifest replica diverged from replay")
    assert(gotState === want, "state-store replica diverged from replay")

    // point lookups, which prune the base scan to the key's bucket, on
    // both file protocols: sampled live keys, deleted keys, and keys no
    // change ever named
    import org.apache.spark.sql.functions.col
    val seen = sharedBatches.flatten.map(_.id).toSet
    val sample = new scala.util.Random(5L)
    val probes =
      sample.shuffle(want.keys.toSeq.sorted).take(8) ++
        sample.shuffle((seen -- want.keys).toSeq.sorted).take(8) ++
        Seq(-1, 0, 15000, Seeds * 10000 + 9999).filterNot(seen)
    assert(probes.size === 20)
    probes.foreach { k =>
      Seq("rename" -> (() => Replicate.readReplica(spark, rDir)),
        "manifest" -> (() => ManifestReplica.readReplica(spark, mDir))
      ).foreach { case (name, read) =>
        val got = read().filter(col("id") === k).collect()
          .map(r => r.id -> ((r.name, r.uid, r.score))).toMap
        assert(got === want.get(k).map(k -> _).toMap,
          s"$name point lookup of $k diverged from replay")
      }
    }

    // JDBC sink (destructive apply; batches arrive in op order, which
    // the contiguous random splits preserve) — the fourth single-table
    // path joins the same schedules
    System.setProperty("derby.stream.error.file", "/tmp/graft-derby.log")
    val url = s"jdbc:derby:${
      Files.createTempDirectory("eq-jdbc")}/db;create=true"
    JdbcReplica.ensureTables(url, "person")
    sharedBatches.zipWithIndex.foreach { case (batch, b) =>
      JdbcReplica.applyBatch(batch.toDS(), url, "person",
        batchId = b.toLong)
    }
    val gotJdbc = {
      val c = JdbcReplica.connect(url)
      try {
        val st = c.createStatement()
        try {
          val rs = st.executeQuery("SELECT id, name, uid, score FROM person")
          val out = scala.collection.mutable.Map
            [Int, (String, String, Int)]()
          while (rs.next()) out(rs.getInt(1)) =
            ((rs.getString(2), rs.getString(3), rs.getInt(4)))
          rs.close(); out.toMap
        } finally st.close()
      } finally c.close()
    }
    assert(gotJdbc === want, "JDBC replica diverged from replay")
  }

  test("bucket-of-literal evaluator agrees with the dir every snapshot key was written to") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
      EqualTo, Literal}
    import org.apache.spark.sql.types.{IntegerType, StringType}
    val n = 8
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // negative keys too: the bucket expression must match pmod's sign
    val rows = ChangeGen.replay(ChangeGen.ops(7L, n = 3000)).values.toSeq ++
      (1 to 50).map(i => PersonRow(-i * 7, s"neg$i", s"u$i", i, t0))
    def check(dir: String, s: Replicate.Shape, key: AttributeReference)
        : Int = {
      val bucketsOf = ReplicaIndex.keyBuckets(spark, s, n)
      val dirs = RenameLayout.newest(dir)
      assert(dirs.size === n, dir)
      dirs.toSeq.map { case (b, g) =>
        val keys = spark.read.parquet(g.path.toString).select(key.name)
          .collect().map(_.get(0))
        keys.foreach { k =>
          assert(bucketsOf(EqualTo(key, Literal(k))) === Some(Set(b)),
            s"key $k was written to bucket $b")
        }
        keys.length
      }.sum
    }
    val rDir = Files.createTempDirectory("eq-bucket-person").toString
    Replicate.snapshot(spark, rows.toDS(), rDir, numBuckets = n)
    assert(check(rDir, Replicate.PersonShape,
      AttributeReference("id", IntegerType)()) === rows.size)
    val mtRoot = Files.createTempDirectory("eq-bucket-mt").toString
    MultiTable.snapshot(spark, rows.toDF(), mtRoot, MtTestSpecs.person,
      numBuckets = n)
    assert(check(s"$mtRoot/person", MultiTable.MtShape,
      AttributeReference("key", StringType)()) === rows.size)
  }

  test("property: all four MULTI-TABLE paths equal replay over 30 seeds") {
    import org.apache.spark.sql.functions.{col, from_json}
    import org.apache.spark.sql.types.{MapType, StringType}
    val specs = MtTestSpecs.both
    val Seeds = 30
    val Batches = 3
    // per seed: interleaved person+account ops on the seed's own key
    // range, split into random contiguous micro-batches of RAW lines
    val perSeed = (1 to Seeds).map { seed =>
      val rnd = new scala.util.Random(seed * 13L)
      val (pOps0, aOps0) = ChangeGen.mtOps(seed, nPerson = 30 + seed % 20,
        nAccount = 20 + seed % 15)
      val pOps = pOps0.map(o => o.copy(id = o.id + seed * 10000))
      val aOps = aOps0.map(o => o.copy(id = o.id + seed * 10000))
      val lines = (pOps.map(o => o.lsn -> ChangeGen.toJsonLine(o)) ++
        aOps.map(o => o.lsn -> ChangeGen.toAccountJsonLine(o)))
        .sortBy(_._1).map(_._2)
      val cuts = IndexedSeq.fill(Batches - 1)(rnd.nextInt(lines.size + 1))
        .sorted
      val bounds = (0 +: cuts :+ lines.size).sliding(2).toIndexedSeq
      val batches = bounds.map { case Seq(a, b) => lines.slice(a, b) }
      (batches, ChangeGen.replay(pOps), ChangeGen.replay(aOps))
    }
    // oracle: (table, key) -> (name-ish, score-ish)
    val want: Map[(String, String), (String, Int)] =
      perSeed.flatMap(_._2).map { case (id, p) =>
        ("person", id.toString) -> ((p.name, p.score)) }.toMap ++
      perSeed.flatMap(_._3).map { case (id, p) =>
        ("account", id.toString) -> ((p.name, p.score)) }.toMap
    val sharedBatches: IndexedSeq[Seq[String]] =
      (0 until Batches).map(b => perSeed.flatMap(_._1(b)))
    def parsedOf(lines: Seq[String]) =
      MultiTable.parseAll(lines.toDF("value"), specs)
    def readBoth(read: TableSpec => org.apache.spark.sql.DataFrame)
        : Map[(String, String), (String, Int)] =
      specs.flatMap { spec =>
        val (nameCol, scoreCol) =
          if (spec.table == "person") ("name", "score")
          else ("owner", "balance")
        read(spec).select(col(spec.keyCol).cast(StringType),
            col(nameCol), col(scoreCol)).collect()
          .map(r => (spec.table, r.getString(0)) ->
            ((r.getString(1), r.getInt(2))))
      }.toMap

    // rename-commit fan-out (mid-stream compactions)
    val rRoot = Files.createTempDirectory("eqmt-rename").toString
    sharedBatches.zipWithIndex.foreach { case (batch, b) =>
      MultiTable.applyBatch(spark, parsedOf(batch), rRoot, specs,
        batchId = b.toLong, compactEvery = 2)
    }
    assert(readBoth(MultiTable.readTable(spark, rRoot, _)) === want,
      "multi-table rename replica diverged from replay")

    // manifest-commit fan-out
    val mRoot = Files.createTempDirectory("eqmt-man").toString
    sharedBatches.zipWithIndex.foreach { case (batch, b) =>
      ManifestMultiTable.applyBatch(spark, parsedOf(batch), mRoot, specs,
        batchId = b.toLong, compactEvery = 2)
    }
    assert(readBoth(ManifestMultiTable.readTable(spark, mRoot, _)) === want,
      "multi-table manifest replica diverged from replay")

    // JDBC fan-out (embedded Derby)
    val url = s"jdbc:derby:${
      Files.createTempDirectory("eqmt-jdbc")}/db;create=true"
    specs.foreach(JdbcMultiTable.ensureTable(url, _))
    sharedBatches.zipWithIndex.foreach { case (batch, b) =>
      JdbcMultiTable.applyBatch(spark, parsedOf(batch), url, specs,
        batchId = b.toLong)
    }
    val gotJdbc = specs.flatMap { spec =>
      val (nameCol, scoreCol) =
        if (spec.table == "person") ("name", "score")
        else ("owner", "balance")
      val c = JdbcReplica.connect(url)
      try {
        val st = c.createStatement()
        try {
          val rs = st.executeQuery(
            s"SELECT id, $nameCol, $scoreCol FROM ${spec.table}")
          val out = scala.collection.mutable.Buffer
            [((String, String), (String, Int))]()
          while (rs.next()) out += ((spec.table, rs.getInt(1).toString) ->
            ((rs.getString(2), rs.getInt(3))))
          rs.close(); out.toSeq
        } finally st.close()
      } finally c.close()
    }.toMap
    assert(gotJdbc === want, "multi-table JDBC replica diverged from replay")

    // state-store fan-out: one stream of raw lines through real
    // micro-batch boundaries; final state = last update per (tbl, key)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[String](spark)
    val state = new java.util.concurrent.ConcurrentHashMap[
      (String, String), MtUpdate]()
    val q = StatefulMultiTable.liveUpdates(
        MultiTable.parseAll(in.toDF(), specs))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation",
        Files.createTempDirectory("eqmt-state-ckpt").toString)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[MtUpdate], _: Long) =>
          batch.collect().foreach(u => state.put((u.tbl, u.key), u))
      }
      .start()
    try {
      sharedBatches.foreach { batch =>
        if (batch.nonEmpty) in.addData(batch)
        q.processAllAvailable()
      }
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    val live = state.asScala.values.filter(_.live).toSeq
    val gotState =
      if (live.isEmpty) Map.empty[(String, String), (String, Int)]
      else live.map(u => (u.tbl, u.key, u.img.get))
        .toDF("tbl", "key", "img")
        .select(col("tbl"), col("key"),
          from_json(col("img"), MapType(StringType, StringType)).as("m"))
        .collect().map { r =>
          val m = r.getMap[String, String](2)
          val (nameCol, scoreCol) =
            if (r.getString(0) == "person") ("name", "score")
            else ("owner", "balance")
          (r.getString(0), r.getString(1)) ->
            ((m(nameCol), m(scoreCol).toInt))
        }.toMap
    assert(gotState === want,
      "multi-table state-store replica diverged from replay")
  }
}
