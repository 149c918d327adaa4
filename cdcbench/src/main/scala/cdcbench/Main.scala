package cdcbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** What a workload hands back: op counts, the run's verdict, the op
  * times (s) behind `op_p50_s` and `op_mean_s`, and its other metrics by
  * name. `detail` holds raw samples for the human reader. */
final case class Outcome(attempted: Int, failed: Int, correct: Boolean,
    opS: Seq[Double], metrics: Map[String, Metric],
    detail: Map[String, String])

/** Everything a workload gets from the harness: the run's arguments, its
  * work dir, and the Spark session, which `restart` replaces (the
  * single-core probe). */
final class Ctx(val seed: Long, val seconds: Int, val trace: Boolean,
    val work: Path, val sessionS: Double,
    private var current: SparkSession) {
  def spark: SparkSession = current
  def restart(cores: Int): SparkSession = {
    Session.stop(current)
    current = Session.start(cores, work)
    current
  }
  /** A fresh, empty directory under the run's work dir. */
  def dir(name: String): String = {
    val p = work.resolve("data").resolve(name)
    Dirs.delete(p)
    Files.createDirectories(p)
    p.toString
  }
}

object Session {
  /** FAIR pools as in `graft.Bench`: the trigger's jobs in `default`, the
    * async CDC fold in `graft-compact`; `default`'s minShare is 3/4 of
    * the cores (24 of 32 there). */
  private def fairXml(cores: Int, work: Path): String = {
    val f = work.resolve("fair.xml")
    Files.writeString(f,
      s"""<?xml version="1.0"?>
         |<allocations>
         |  <pool name="default">
         |    <schedulingMode>FIFO</schedulingMode>
         |    <weight>8</weight>
         |    <minShare>${math.max(1, cores * 3 / 4)}</minShare>
         |  </pool>
         |  <pool name="graft-compact">
         |    <schedulingMode>FIFO</schedulingMode>
         |    <weight>1</weight>
         |    <minShare>0</minShare>
         |  </pool>
         |</allocations>""".stripMargin)
    f.toString
  }

  /** The session conf of `graft.Bench.main`, with scratch space kept
    * under the run's work dir. */
  def start(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("cdcbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", fairXml(cores, work))
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.streams.active.foreach(_.stop())
    graft.cdc.Replicate.awaitCompactions()
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** The conf keys that shape performance, for the run record. */
  def confOf(s: SparkSession): Map[String, String] =
    s.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k.startsWith("spark.scheduler.") ||
        k == "spark.master" || k == "spark.default.parallelism"
    }
}

object Dirs {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally st.close()
  }
}

/** Load and steal evidence sampled from /proc, so a slow run carries
  * its own explanation. */
object Host {
  def loadAvg(): Seq[Double] =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")
      .take(3).toSeq.map(_.toDouble)
    catch { case _: Exception => Seq.empty }

  /** (steal, total) jiffies over all cpus, from /proc/stat. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readString(Paths.get("/proc/stat")).linesIterator
        .next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  def heapFlags(): Seq[String] =
    scala.jdk.CollectionConverters.ListHasAsScala(
      java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments).asScala.toSeq
      .filter(a => a.startsWith("-X") && !a.startsWith("-Xlog"))
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  }

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Benchmark entry point. Usage:
  * {{{
  * Main --workload <cdc_sync|queries> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir>
  * Main --calibrate <population out> --rows <row list out> --work <dir>
  * }}}
  * Prints a `host` line, a `detail` line and, last, the result object. */
object Main {
  /** End-to-end metrics, printed on untraced runs. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "op_mean_s" -> "s")

  /** Per-layer metrics, printed on traced runs. A workload that bypasses
    * a layer reports 0 for it. */
  val PerLayer: Seq[(String, String)] = Seq(
    "gen.late_ms_p50" -> "ms", "gen.late_ms_max" -> "ms",
    "gen.backlog_files_end" -> "count",
    "setup.session_s" -> "s", "setup.fixture_s" -> "s",
    "setup.warm_s" -> "s",
    "stream.triggers" -> "count", "stream.rows_per_trigger_p50" -> "count") ++
    TriggerStat.Phases.map { case (n, _) => s"stream.${n}_ms_p50" -> "ms" } ++
    Seq(
      "stream.pickup_ms_p50" -> "ms",
      "cdc.read_ms_p50" -> "ms", "cdc.pending_deltas_p50" -> "count",
      "cdc.read_retries" -> "count",
      "cdc.fold_join_ms" -> "ms", "cdc.parse_rows_per_s" -> "1/s",
      "cdc.monitor_ms" -> "ms", "cdc.verify_ms" -> "ms",
      "cdc.rows_per_s_1core" -> "1/s",
      "core.tables_ms_p50" -> "ms",
      "query.build_ms_p50" -> "ms", "query.plan_ms_p50" -> "ms",
      "query.exec_ms_p50" -> "ms", "query.sql_ms_sum" -> "ms",
      "query.streaming_ms_sum" -> "ms", "query.ml_ms_sum" -> "ms",
      "spark.jobs_p50" -> "count", "spark.stages_p50" -> "count",
      "spark.tasks_p50" -> "count", "spark.eager_jobs_p50" -> "count",
      "spark.driver_gap_ms_p50" -> "ms", "spark.task_ms_sum" -> "ms",
      "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
      "spark.spill_bytes" -> "B", "spark.gc_ms" -> "ms",
      "trace.overhead_pct" -> "%")

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "cdc_sync" -> CdcSync.run,
    "queries" -> Queries.run)

  /** Session start repeated this many times; setup reports the median. */
  val SessionStarts = 3

  private def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_(0).startsWith("--")),
      s"expected --key value pairs, got ${args.mkString(" ")}")
    args.grouped(2).map(a => a(0).drop(2) -> a(1)).toMap
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val work = Paths.get(opts.getOrElse("work", "cdcbench/work/run"))
      .toAbsolutePath
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors
    opts.get("calibrate") match {
      case Some(population) =>
        val spark = Session.start(cores, work)
        try Queries.calibrate(spark, work, Paths.get(population),
          Paths.get(opts("rows")))
        finally Session.stop(spark)
      case None => bench(opts, work, cores)
    }
  }

  private def bench(opts: Map[String, String], work: Path, cores: Int)
      : Unit = {
    val workload = opts("workload")
    val body = Workloads.getOrElse(workload, sys.error(
      s"unknown workload $workload; one of ${Workloads.keys.mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    require(seconds >= 1, "seconds must be at least 1")
    val trace = opts.get("trace").contains("1")
    val load0 = Host.loadAvg()
    val (steal0, total0) = Host.cpuJiffies()

    val starts = (1 to SessionStarts).map { i =>
      val t0 = System.nanoTime()
      val s = Session.start(cores, work)
      s.range(1).count() // first job: executor threads and codegen up
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < SessionStarts) Session.stop(s)
      (dt, s)
    }
    val ctx = new Ctx(seed, seconds, trace, work,
      Stats.median(starts.map(_._1)), starts.last._2)
    val conf = Session.confOf(ctx.spark)
    val out = try body(ctx) finally Session.stop(ctx.spark)

    val (steal1, total1) = Host.cpuJiffies()
    val stealPct =
      if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0)
      else 0.0
    val host = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "seconds" -> seconds.toString, "trace" -> trace.toString,
      "nproc" -> cores.toString,
      "commit" -> Json.str(sys.props.getOrElse("cdcbench.commit", "unknown")),
      "load_start" -> load0.map(Json.num).mkString("[", ", ", "]"),
      "load_end" -> Host.loadAvg().map(Json.num).mkString("[", ", ", "]"),
      "steal_pct" -> Json.num(stealPct),
      "heap" -> Host.heapFlags().map(Json.str).mkString("[", ", ", "]"),
      "session_starts_s" -> starts.map(s => Json.num(s._1))
        .mkString("[", ", ", "]"),
      "spark_conf" -> Json.obj(conf.toSeq.sorted.map { case (k, v) =>
        k -> Json.str(v) }))
    // a percentile is printed only where ten samples lie beyond it
    val tail = Stats.supportedQuantile(out.opS, 0.9)
    val summary = Seq(
      "ops" -> out.opS.size.toString,
      "op_p90_s" -> tail.map(Json.num).getOrElse(Json.str(
        s"unsupported: ${out.opS.size} samples, p90 needs 100")),
      "failed_share" -> Json.num(Stats.failureShare(out.failed, out.attempted)))
    println(Json.obj(Seq("host" -> Json.obj(host))))
    println(Json.obj(Seq("detail" -> Json.obj(
      (out.detail.toSeq ++ summary).sortBy(_._1)))))

    val all = out.metrics ++ (if (out.opS.isEmpty) Nil else Seq(
      "op_p50_s" -> Metric(Stats.median(out.opS), "s"),
      "op_mean_s" -> Metric(Stats.mean(out.opS), "s")))
    val wanted = if (trace) PerLayer else EndToEnd
    val missing = wanted.map(_._1).filterNot(all.contains)
    val metrics = wanted.map { case (n, unit) =>
      val m = all.getOrElse(n,
        if (trace) Metric(0.0, unit)
        else sys.error(s"workload $workload did not report $n"))
      require(m.unit == unit, s"$n: unit ${m.unit}, declared $unit")
      n -> Json.obj(Seq("value" -> Json.num(m.value),
        "unit" -> Json.str(m.unit)))
    }
    if (trace && missing.nonEmpty)
      System.err.println(s"[cdcbench] layers bypassed by $workload " +
        s"(reported as 0): ${missing.mkString(", ")}")
    println(Json.obj(Seq(
      "correct" -> out.correct.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.obj(metrics))))
  }
}

/** Accumulates a workload's metrics. */
final class MetricSink {
  private val m = mutable.LinkedHashMap.empty[String, Metric]
  def update(name: String, vu: (Double, String)): Unit =
    m(name) = Metric(vu._1, vu._2)
  def p50(name: String, xs: Seq[Double], unit: String): Unit =
    update(name, (if (xs.isEmpty) 0.0 else Stats.median(xs), unit))
  def toMap: Map[String, Metric] = m.toMap
}
