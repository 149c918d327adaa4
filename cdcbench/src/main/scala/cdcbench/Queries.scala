package cdcbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** `queries`: the analyst path. A committed list of declared rows
  * (queries.tsv, made by [[calibrate]]) runs over seeded fixtures, in a
  * seeded order per pass. One op = one row: build, plan, then a `noop`
  * write. Every op's result is checked against the fingerprint committed
  * with the row. */
object Queries {
  /** The committed row list, relative to the checkout root. */
  val RowList = "cdcbench/queries.tsv"
  /** Fixture seed: fixed, so the committed fingerprints hold for every
    * run seed; the run seed orders the rows. */
  val FixtureSeed = 42L
  /** Serial warm passes after the concurrent cold one. */
  val WarmPasses = 3

  final case class Row(name: String, family: String, warmMs: Double, fp: Fp)

  /** Timed passes: about `seconds` of op time at the committed warm
    * times, at least two (a traced run needs a bare and a traced one).
    * Fixed by the row list, so every run times the same ops. */
  def timedPasses(seconds: Int, rows: Seq[Row]): Int =
    math.max(2, math.round(seconds * 1000.0 / rows.map(_.warmMs).sum).toInt)

  def readRows(path: Path): Seq[Row] =
    Files.readAllLines(path).toArray(Array.empty[String]).toSeq
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map { l =>
        val Array(n, fam, ms, fp) = l.split("\t")
        Row(n, fam, ms.toDouble, Fp.parse(fp))
      }

  /** Family of a declared row: the module that declares it. */
  def family(name: String): String = {
    def in(ds: Seq[graft.sql.Declared]) = ds.exists(_.name == name)
    if (in(graft.sql.Relational.all) || in(graft.sql.SqlQueries.all)) "sql"
    else if (in(graft.streaming.WindowQueries.all)) "streaming"
    else if (in(graft.ml.MlQueries.all)) "ml"
    else "cdc"
  }

  /** Timings of one op, in ms, and the fingerprint of its result. */
  final case class Op(row: String, buildMs: Double, planMs: Double,
      execMs: Double, t0: Long, planEnd: Long, end: Long, fp: Fp) {
    def totalMs: Double = buildMs + planMs + execMs
  }

  /** One op. The built frame carries an observed fingerprint, so the
    * `noop` write that is timed also checks the result. */
  def op(spark: SparkSession, dir: String, name: String): Op = {
    val fn = SparkEntry.queries(name)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val o = Fingerprint.observed(fn(spark, dir))
    val n1 = System.nanoTime()
    o.df.queryExecution.executedPlan
    val n2 = System.nanoTime()
    val planEnd = System.currentTimeMillis()
    o.df.write.format("noop").mode("overwrite").save()
    val n3 = System.nanoTime()
    Op(name, (n1 - n0) / 1e6, (n2 - n1) / 1e6, (n3 - n2) / 1e6, t0, planEnd,
      System.currentTimeMillis(), o.result)
  }

  /** The first, cold pass, four rows at a time: compiling each row's
    * plans is driver work that overlaps well. */
  private def coldPass(spark: SparkSession, dir: String, names: Seq[String])
      : Seq[Op] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try names.map { n =>
      val run: java.util.concurrent.Callable[Op] = () => op(spark, dir, n)
      pool.submit(run)
    }.map(_.get())
    finally pool.shutdown()
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val sink = new MetricSink
    val rows = readRows(Paths.get(RowList))
    val byName = rows.map(r => r.name -> r).toMap
    val fixtures = ctx.dir("fixtures")
    val f0 = System.nanoTime()
    Fixtures.write(spark, FixtureSeed, fixtures)
    val fixtureS = (System.nanoTime() - f0) / 1e9
    val rnd = new Random(ctx.seed)
    def order(): Seq[String] = rnd.shuffle(rows.map(_.name))

    def check(o: Op): Boolean = (o.fp == byName(o.row).fp) || {
      System.err.println(s"[cdcbench] ${o.row}: result ${o.fp}, " +
        s"committed ${byName(o.row).fp}")
      false
    }
    val warmT0 = System.nanoTime()
    val cold = {
      val p0 = System.nanoTime()
      val ok = coldPass(spark, fixtures, order()).map(check)
      (ok.count(!_), (System.nanoTime() - p0) / 1e9)
    }
    val warm = cold +: (1 to WarmPasses).map { _ =>
      val p0 = System.nanoTime()
      val ok = order().map(n => check(op(spark, fixtures, n)))
      (ok.count(!_), (System.nanoTime() - p0) / 1e9)
    }
    val warmS = (System.nanoTime() - warmT0) / 1e9

    // timed: a fixed number of whole passes; a traced run traces each
    // row in every other pass, half the rows in each pass
    val probe = if (ctx.trace) Some(new JobProbe) else None
    val index = rows.map(_.name).zipWithIndex.toMap
    var failed = 0
    val passes = (0 until timedPasses(ctx.seconds, rows)).map { i =>
      order().map { n =>
        val traced = ctx.trace && (i + index(n)) % 2 == 1
        probe.foreach(pr =>
          if (traced) pr.on(spark.sparkContext) else pr.off(spark.sparkContext))
        val o = op(spark, fixtures, n)
        probe.foreach(_.off(spark.sparkContext))
        if (!check(o)) failed += 1
        o -> traced
      }
    }
    val all = passes.flatten
    // a row's ops are summarized first, so the median is a row's, not a
    // draw from the cluster of rows around it; the mean is unchanged
    def rowMeans(os: Seq[Op]): Seq[Double] = os.groupBy(_.row).values
      .map(rs => Stats.mean(rs.map(_.totalMs / 1000.0))).toSeq
    val bareS = rowMeans(all.filterNot(_._2).map(_._1))
    sink("setup_s") = (ctx.sessionS + warmS, "s")
    sink("setup.session_s") = (ctx.sessionS, "s")
    sink("setup.fixture_s") = (fixtureS, "s")
    sink("setup.warm_s") = (warmS, "s")
    if (ctx.trace) {
      val tr = all.filter(_._2).map(_._1)
      sink.p50("query.build_ms_p50", tr.map(_.buildMs), "ms")
      sink.p50("query.plan_ms_p50", tr.map(_.planMs), "ms")
      sink.p50("query.exec_ms_p50", tr.map(_.execMs), "ms")
      Seq("sql", "streaming", "ml").foreach { fam =>
        sink(s"query.${fam}_ms_sum") = (all.map(_._1).filter(o =>
          byName(o.row).family == fam).map(_.totalMs).sum / passes.size, "ms")
      }
      probe.foreach { pr =>
        pr.settle()
        JobProbe.report(sink, tr.map(o => OpJobs(pr.window(o.t0, o.end),
          o.end - o.t0, pr.window(o.t0, o.planEnd).jobs)))
      }
      sink("trace.overhead_pct") = (100.0 *
        (Stats.median(rowMeans(tr)) / Stats.median(bareS) - 1.0), "%")
      // direct loader calls, three rounds over every fixture table
      val loads = (1 to 3).flatMap(_ => Fixtures.Rows.map { case (t, _) =>
        val t0 = System.nanoTime()
        graft.core.Tables(spark, fixtures, t)
        (System.nanoTime() - t0) / 1e6
      })
      sink.p50("core.tables_ms_p50", loads, "ms")
    }
    Outcome(all.size, failed, failed == 0 && warm.forall(_._1 == 0),
      bareS, sink.toMap, Map(
      "passes" -> passes.size.toString,
      "fixture_s" -> Json.num(fixtureS),
      "warm_pass_s" -> warm.map(w => Json.num(w._2)).mkString("[", ", ", "]"),
      "row_ms" -> Json.obj(all.map(_._1).groupBy(_.row).toSeq.sortBy(_._1).map {
        case (n, os) => n -> os.map(o => Json.num(o.totalMs))
          .mkString("[", ", ", "]") })))
  }

  // ---- calibration: produces queries.tsv --------------------------------

  /** Rows whose cost depends on shared memo state: the consumers of the
    * Dedup, Similarity and MaintainedMemo memos (`graft.Bench`'s
    * shared-pass consumer sets). */
  val MemoConsumers: Set[String] = Set("ml_dedup_near",
    "ml_levenshtein_near", "ml_chargram_jaccard", "ml_dedup_corpus",
    "ml_dedup_clusters", "ml_dedup_corpus_cc", "ml_minhash_sig",
    "ml_dedup_increment", "ml_dedup_stream", "ml_pq_ann", "ml_ivfadc",
    "ml_ivfadc_indexed", "ml_ann_recall_multi", "ml_ann_filtered_indexed",
    "ml_ann_cdc_index", "ml_ann_cell_split", "ml_ann_stream_split",
    "ml_bm25_cdc_index", "ml_bm25_stream_split", "ml_dedup_cdc_index",
    "ml_hybrid_cdc_serve", "ml_export_incremental", "ml_dedup_gate_index",
    "ml_bm25_split_serve", "ml_dedup_split_screen")
  /** Stream-harness rows: their time is the harness, not the engine. */
  val Harness: Set[String] = Set("events_stream_dedup",
    "ml_quality_gate_stream", "ml_outlier_mad_stream",
    "agg_heavy_hitters_stream", "ml_contamination_stream")
  /** Warm time above which calibration leaves a row out. */
  val MaxWarmMs = 2500.0
  /** Rows picked per family, from rows at or under SelectMaxMs warm
    * (LightMlMs for `ml`): a pass must fit the run's time budget. */
  val PerFamily: Map[String, Int] = Map("sql" -> 4, "streaming" -> 3, "ml" -> 3)
  val SelectMaxMs = 1000.0
  val LightMlMs = 1000.0

  def candidates: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
    .filterNot(n => n.startsWith("cdc_") || Harness(n) || MemoConsumers(n))
    .filter(n => family(n) != "cdc")

  /** Evenly spaced picks over rows sorted by warm time, so each family's
    * sample spans its cost range. */
  def stratify(rows: Seq[Row]): Seq[Row] =
    PerFamily.toSeq.sortBy(_._1).flatMap { case (fam, k) =>
      val limit = if (fam == "ml") LightMlMs else SelectMaxMs
      val pool = rows.filter(r => r.family == fam && r.warmMs <= limit)
        .sortBy(r => (r.warmMs, r.name))
      if (pool.size <= k) pool
      else (0 until k).map(i => pool(i * (pool.size - 1) / (k - 1)))
    }

  /** Runs every candidate row cold, then twice warm with fingerprints.
    * Rows that fail, take over 3x the warm limit cold, exceed the warm
    * limit or fingerprint differently twice are left out with a reason.
    * Every candidate's verdict goes to `population` (name, family,
    * warm ms or blank, fingerprint or the reason), then [[select]]
    * writes the row list. */
  def calibrate(spark: SparkSession, work: Path, population: Path,
      out: Path): Unit = {
    val fixtures = work.resolve("data/fixtures").toString
    Fixtures.write(spark, FixtureSeed, fixtures)
    def attempt(n: String): Either[String, Op] =
      try Right(op(spark, fixtures, n))
      catch { case e: Throwable => Left(s"failed: ${e.getClass.getSimpleName}") }
    val lines = candidates.map { n =>
      val v: Either[String, (Double, Fp)] = attempt(n).flatMap { cold =>
        if (cold.totalMs > 3 * MaxWarmMs) Left(f"cold ${cold.totalMs}%.0f ms")
        else {
          val runs = (1 to 2).map(_ => attempt(n).map(o => o.totalMs -> o.fp))
          runs.collectFirst { case Left(why) => why }.toLeft {
            val ok = runs.collect { case Right(r) => r }
            (ok.map(_._1).min, ok.head._2, ok.map(_._2).distinct.size)
          }.flatMap { case (warm, fp, distinct) =>
            if (distinct > 1) Left("nondeterministic")
            else if (warm > MaxWarmMs) Left(f"warm $warm%.0f ms")
            else Right(warm -> fp)
          }
        }
      }
      val line = v.fold(why => s"$n\t${family(n)}\t\t$why",
        { case (ms, fp) => f"$n\t${family(n)}\t$ms%.0f\t$fp" })
      println(s"calibrate\t$line")
      line
    }
    Files.write(population, (Seq(
      "# Every candidate row of the `queries` workload (`run.py --calibrate`):",
      s"# fixture seed $FixtureSeed, 4 cores; warm_ms is the faster of two warm",
      "# runs; rows left out carry the reason instead of a fingerprint.",
      "# name\tfamily\twarm_ms\trows:hash") ++ lines)
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    select(population, out)
  }

  /** Writes the stratified row list from a calibration population. */
  private def select(population: Path, out: Path): Unit = {
    val kept = Files.readAllLines(population).toArray(Array.empty[String]).toSeq
      .filterNot(_.startsWith("#")).map(_.split("\t"))
      .collect { case Array(n, fam, ms, fp) if ms.nonEmpty =>
        Row(n, fam, ms.toDouble, Fp.parse(fp)) }
    val lines = Seq(
      "# Row list for the `queries` workload: Queries.stratify over",
      "# queries.population.tsv (`run.py --calibrate`).",
      "# name\tfamily\twarm_ms\trows:hash") ++
      stratify(kept).map(r => f"${r.name}\t${r.family}\t${r.warmMs}%.0f\t${r.fp}")
    Files.write(out, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
