package cdcbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.cdc.{ChangeGen, ChangeSource, Monitor, PersonRow, Replicate}

/** `cdc_sync`: trickle replication at the reference's 2 s poll cadence,
  * timed as true change visibility.
  *
  * Open loop: a writer thread lands one file of [[FileChanges]] changes
  * every [[IntervalMs]] and never waits on the replica. One op = one
  * file, timed from its due time until the checker's
  * `Replicate.readReplica` lookup returns that file's probe key with its
  * expected image. */
object CdcSync {
  val FileChanges = 250
  val IntervalMs = 2000L
  /** Ops replayed into the initial snapshot: about 50k live keys. */
  val SnapshotOps = 112000
  /** Files run back to back before timing: one fold cycle. */
  val WarmFiles = 8
  /** A probe that stays wrong this long is a failed op. */
  val VisibleTimeoutMs = 30000L

  /** Timed files per run: whole fold cycles (`compactEvery` files each)
    * covering at least `seconds` of the cadence, and at least two cycles:
    * op times spread 0.6-1.4 s within a run, so one cycle's 8 medians
    * moved 18% between runs. */
  def timedFiles(seconds: Int): Int = {
    val cycle = Replicate.DefaultCompactEvery
    cycle * math.max(2,
      math.ceil(seconds * 1000.0 / IntervalMs / cycle).toInt)
  }

  /** The seeded change stream cut into files, with one probe per file:
    * the last insert/update in the file whose key no later change
    * touches, so its final image is the one to wait for. */
  final case class Plan(snapshot: Seq[ChangeGen.Op],
      files: IndexedSeq[Seq[ChangeGen.Op]], probes: IndexedSeq[PersonRow],
      expected: Map[Int, PersonRow])

  def plan(seed: Long, nFiles: Int): Plan = {
    val ops = ChangeGen.ops(seed, SnapshotOps + nFiles * FileChanges)
    val (snap, stream) = ops.splitAt(SnapshotOps)
    val files = stream.grouped(FileChanges).toIndexedSeq
    val lastFile = files.zipWithIndex
      .flatMap { case (f, i) => f.map(_.id -> i) }.toMap
    val expected = ChangeGen.replay(ops)
    val probes = files.zipWithIndex.map { case (f, i) =>
      val op = f.reverseIterator
        .find(o => o.action != "D" && lastFile(o.id) == i)
        .getOrElse(sys.error(s"file $i has no probe key"))
      expected(op.id)
    }
    Plan(snap, files, probes, expected)
  }

  /** Land a file atomically: write under a hidden name (the file source
    * skips names starting with '.'), then rename. */
  def land(dir: String, i: Int, ops: Seq[ChangeGen.Op]): Unit = {
    val lines = ops.map(ChangeGen.toJsonLine) ++
      Seq(ChangeGen.auditLine(900000L + i), ChangeGen.malformedLine)
    val tmp = Paths.get(dir, f".batch_$i%05d.json.tmp")
    Files.write(tmp, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(dir, f"batch_$i%05d.json"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Delta dirs the replica's merge-on-read currently folds. */
  private def pendingDeltas(replica: String): Int = {
    val d = Paths.get(replica, ".__delta")
    if (!Files.isDirectory(d)) 0
    else {
      val st = Files.list(d)
      try st.filter(p => p.getFileName.toString.startsWith("batch=")).count().toInt
      finally st.close()
    }
  }

  /** Poll samples of one probe: lookup ms and pending deltas. */
  final class Polls {
    val readMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val deltas = scala.collection.mutable.ArrayBuffer.empty[Double]
  }

  /** A lookup that lost a race with the async fold: the fold's
    * rename-aside swap removed a file the read had already listed. */
  def missingFile(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.io.FileNotFoundException])

  /** Polls the replica until `want` is visible; returns the epoch ms it
    * was seen, or None on timeout. A lookup that fails on a missing file
    * is counted in `retries` and polled again, so its cost stays inside
    * the op's visibility time. */
  def awaitVisible(spark: SparkSession, replica: String, want: PersonRow,
      polls: Option[Polls], retries: java.util.concurrent.atomic.AtomicInteger)
      : Option[Long] = {
    val deadline = System.currentTimeMillis() + VisibleTimeoutMs
    var seen: Option[Long] = None
    while (seen.isEmpty && System.currentTimeMillis() < deadline) {
      polls.foreach(_.deltas += pendingDeltas(replica).toDouble)
      val t0 = System.nanoTime()
      val got =
        try Replicate.readReplica(spark, replica)
          .filter(col("id") === want.id).collect().toSeq
        catch { case e: Exception if missingFile(e) =>
          retries.incrementAndGet(); Nil }
      polls.foreach(_.readMs += (System.nanoTime() - t0) / 1e6)
      if (got == Seq(want)) seen = Some(System.currentTimeMillis())
    }
    seen
  }

  private def timedMs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val sink = new MetricSink
    val nTimed = timedFiles(ctx.seconds)
    val changeDir = ctx.dir("changes")
    val replica = ctx.dir("replica")
    val ckpt = ctx.dir("checkpoint")

    // load: generate, snapshot, start the stream
    val loadT0 = System.nanoTime()
    val p = plan(ctx.seed, WarmFiles + nTimed)
    val snapRows = ChangeGen.replay(p.snapshot).values.toSeq
    Replicate.snapshot(spark, snapRows.toDS(), replica)
    val q = Replicate.start(spark, changeDir, replica, ckpt,
      trigger = Trigger.ProcessingTime(0L))
    val loadS = (System.nanoTime() - loadT0) / 1e9

    // warm: files back to back, each waited for
    val retries = new java.util.concurrent.atomic.AtomicInteger()
    val warmT0 = System.nanoTime()
    var failed = 0
    val warmOpS = (0 until WarmFiles).map { i =>
      val t0 = System.currentTimeMillis()
      land(changeDir, i, p.files(i))
      awaitVisible(spark, replica, p.probes(i), None, retries) match {
        case Some(t) => (t - t0) / 1000.0
        case None => failed += 1; 0.0
      }
    }
    val (_, joinWarmMs) = timedMs(Replicate.awaitCompactions())
    val warmS = (System.nanoTime() - warmT0) / 1e9
    require(failed == 0, s"$failed warm files never became visible")

    // timed: open-loop writer, checker on this thread
    val probe = if (ctx.trace) Some(new JobProbe) else None
    val start = System.currentTimeMillis() + 200L
    val due = Array.tabulate(nTimed)(j => start + j * IntervalMs)
    val landedAt = new Array[Long](nTimed)
    val landed = Array.fill(nTimed)(new CountDownLatch(1))
    val writer = new Thread(() => {
      (0 until nTimed).foreach { j =>
        val wait = due(j) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        land(changeDir, WarmFiles + j, p.files(WarmFiles + j))
        landedAt(j) = System.currentTimeMillis()
        landed(j).countDown()
      }
    }, "cdcbench-writer")
    writer.setDaemon(true)
    writer.start()
    val visibleAt = new Array[Long](nTimed)
    val opS = new Array[Double](nTimed)
    val polls = Array.fill(nTimed)(new Polls)
    // traced runs alternate: odd ops traced, even ops bare
    def traced(j: Int) = ctx.trace && j % 2 == 1
    (0 until nTimed).foreach { j =>
      probe.foreach(pr =>
        if (traced(j)) pr.on(spark.sparkContext) else pr.off(spark.sparkContext))
      landed(j).await()
      awaitVisible(spark, replica, p.probes(WarmFiles + j),
        if (traced(j)) Some(polls(j)) else None, retries) match {
        case Some(t) =>
          visibleAt(j) = t
          opS(j) = (t - due(j)) / 1000.0
        case None => failed += 1
      }
    }
    writer.join()
    probe.foreach(_.off(spark.sparkContext))
    val ok = (0 until nTimed).filter(visibleAt(_) > 0)
    val (_, joinEndMs) = timedMs(Replicate.awaitCompactions())
    val triggers = TriggerStat.withData(q).filter(_.startMs >= start)
    q.stop()

    // the whole replica against the replayed source
    val expectedDs: Dataset[PersonRow] = p.expected.values.toSeq.toDS()
    val (status, monitorMs) = timedMs(
      Monitor.status(expectedDs, Replicate.readReplica(spark, replica), None))
    val want = Fingerprint.of(expectedDs.toDF())
    val (same, verifyMs) = timedMs(
      Fingerprint.of(Replicate.readReplica(spark, replica).toDF()) == want)
    var correct = same && status.verdict == "✓ In sync" && failed == 0

    val bare = ok.filterNot(traced).map(opS(_))
    sink("setup_s") = (ctx.sessionS + loadS + warmS, "s")
    sink("setup.session_s") = (ctx.sessionS, "s")
    sink("setup.warm_s") = (warmS, "s")
    if (ctx.trace) {
      val late = (0 until nTimed).map(j => (landedAt(j) - due(j)).toDouble)
      sink.p50("gen.late_ms_p50", late, "ms")
      sink("gen.late_ms_max") = (late.max, "ms")
      // files still unseen when the last one landed, that one excluded
      val unseen = ok.count(j => j < nTimed - 1 &&
        visibleAt(j) > landedAt(nTimed - 1))
      sink("gen.backlog_files_end") = (unseen.toDouble, "count")
      reportStream(sink, triggers)
      sink.p50("stream.pickup_ms_p50", (0 until nTimed).flatMap { j =>
        triggers.find(_.startMs >= landedAt(j))
          .map(t => (t.startMs - landedAt(j)).toDouble)
      }, "ms")
      val tracedOps = ok.filter(traced)
      sink.p50("cdc.read_ms_p50", tracedOps.flatMap(polls(_).readMs), "ms")
      sink.p50("cdc.pending_deltas_p50", tracedOps.flatMap(polls(_).deltas),
        "count")
      sink("cdc.fold_join_ms") = (joinWarmMs + joinEndMs, "ms")
      sink("cdc.read_retries") = (retries.get.toDouble, "count")
      sink("cdc.monitor_ms") = (monitorMs, "ms")
      sink("cdc.verify_ms") = (verifyMs, "ms")
      val nChanges = p.files.map(_.size).sum
      sink("cdc.parse_rows_per_s") = (parseRate(nChanges, () =>
        ChangeSource.readBatch(spark, changeDir).write.format("noop")
          .mode("overwrite").save()), "1/s")
      probe.foreach { pr =>
        pr.settle()
        JobProbe.report(sink, tracedOps.map(j => OpJobs(
          pr.window(due(j), visibleAt(j)), visibleAt(j) - due(j), 0)))
      }
      val tr = tracedOps.map(opS(_))
      if (tr.nonEmpty && bare.nonEmpty)
        sink("trace.overhead_pct") =
          (100.0 * (Stats.median(tr) / Stats.median(bare) - 1.0), "%")
      // the whole change log applied on one core: the scaling baseline
      val one = ctx.restart(1)
      val replica1 = ctx.dir("replica-1core")
      locally {
        import one.implicits._
        Replicate.snapshot(one, snapRows.toDS(), replica1)
      }
      val t0 = System.nanoTime()
      val q1 = Replicate.start(one, changeDir, replica1,
        ctx.dir("checkpoint-1core"), trigger = Trigger.AvailableNow(),
        maxFilesPerTrigger = Some(1))
      try q1.awaitTermination() finally q1.stop()
      Replicate.awaitCompactions()
      sink("cdc.rows_per_s_1core") = (nChanges / ((System.nanoTime() - t0) / 1e9),
        "1/s")
      correct &&= Fingerprint.of(Replicate.readReplica(one, replica1).toDF()) == want
    }
    Outcome(nTimed, failed, correct, bare, sink.toMap, Map(
      "op_s" -> opS.map(Json.num).mkString("[", ", ", "]"),
      "late_ms" -> (0 until nTimed).map(j => (landedAt(j) - due(j)).toString)
        .mkString("[", ", ", "]"),
      "monitor" -> Json.str(status.verdict),
      "read_retries" -> retries.get.toString,
      "load_s" -> Json.num(loadS), "warm_s" -> Json.num(warmS),
      "warm_op_s" -> warmOpS.map(Json.num).mkString("[", ", ", "]"),
      "snapshot_keys" -> snapRows.size.toString,
      "triggers" -> triggers.size.toString))
  }

  /** The `stream.*` metrics from the triggers' progress. */
  private def reportStream(sink: MetricSink, ts: Seq[TriggerStat]): Unit = {
    sink("stream.triggers") = (ts.size.toDouble, "count")
    sink.p50("stream.rows_per_trigger_p50", ts.map(_.rows.toDouble), "count")
    TriggerStat.Phases.foreach { case (name, key) =>
      sink.p50(s"stream.${name}_ms_p50", ts.map(_.ms(key).toDouble), "ms")
    }
  }

  /** Rows per second of a parse-to-noop job, median of three. */
  private def parseRate(rows: Long, job: () => Unit): Double = {
    val secs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      job()
      (System.nanoTime() - t0) / 1e9
    }
    rows / Stats.median(secs)
  }
}
