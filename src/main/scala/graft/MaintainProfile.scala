package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev-only profiler for the shared maintain/build passes
  * (optimization rounds): replays Bench's exact warm-then-timed
  * sequence for `cdc_maint_shared_pass` / `index_build_shared_pass`
  * with a job-level listener, and prints every Spark job's duration +
  * call site, aggregated by call site — the per-job breakdown the
  * disabled UI would otherwise show. Never run by the driver.
  *
  * Usage: sbt "runMain graft.MaintainProfile /root/testdata/sf0.1 maint"
  *   (second arg: maint | build)
  */
object MaintainProfile {
  private final case class Job(id: Int, site: String, desc: String,
      start: Long, var end: Long = 0L)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val which = if (args.length > 1) args(1) else "maint"
    val spark = GraftSession(defaultCpus = 32)

    val jobs = scala.collection.mutable.ArrayBuffer.empty[Job]
    val open = scala.collection.mutable.HashMap.empty[Int, Job]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          val site = Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .getOrElse("?")
          val desc = Option(e.properties)
            .flatMap(p =>
              Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          val j = Job(e.jobId, site, desc, e.time)
          jobs += j; open(e.jobId) = j
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          open.remove(e.jobId).foreach(_.end = e.time)
        }
    }

    val tmp = java.nio.file.Files.createTempDirectory("graft-prof")
      .toString
    def p(n: String) = s"$tmp/$n"
    def runPass(): Unit = which match {
      case "build" => graft.ml.MlQueries.indexBuildSharedPass(spark, sfDir)
      case "annss" => graft.ml.AnnIndex.cdcMaintainRebalanced(spark,
        graft.core.Tables(spark, sfDir, "embeddings"),
        p("cent"), p("cb"), p("ops"), p("log"))
      case "txtss" => graft.ml.TextIndex.cdcMaintainRebalanced(spark,
        graft.core.Tables(spark, sfDir, "documents"), p("tops"))
      case "dedupcdc" => graft.ml.DedupIndex.cdcMaintain(spark,
        graft.core.Tables(spark, sfDir, "documents"), p("dops"))
      case "hybcdc" => graft.ml.HybridServe.cdcMaintain(spark,
        graft.core.Tables(spark, sfDir, "documents"),
        graft.core.Tables(spark, sfDir, "embeddings"),
        p("hcent"), p("hcb"), p("hdoc"), p("hemb"))
      case "gatecdc" => graft.streaming.DedupGate.gateMaintain(spark,
        graft.core.Tables(spark, sfDir, "documents"))
      case "expcdc" => graft.ml.ShardExport.cdcMaintain(spark,
        graft.core.Tables(spark, sfDir, "documents"), p("eops"))
      case "anncdc" => graft.ml.AnnIndex.cdcMaintain(spark,
        graft.core.Tables(spark, sfDir, "embeddings"),
        p("acent"), p("acb"), p("aops"))
      case "txtcdc" => graft.ml.TextIndex.cdcMaintain(spark,
        graft.core.Tables(spark, sfDir, "documents"), p("tcops"))
      case _       => graft.ml.MlQueries.cdcMaintainSharedPass(spark, sfDir)
    }
    // warm pass (Bench pass-1 analog), then reset the memo tags Bench
    // resets so the profiled pass rebuilds exactly what Bench times
    runPass()
    graft.ml.Memo.clear(Seq("index_build_shared_pass", "cdc_maint_shared_pass")
      .flatMap(graft.ml.SharedPass.named(_).memoTags): _*)

    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    runPass()
    val wall = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)

    val done = jobs.synchronized(jobs.filter(_.end > 0).toVector)
    val bySite = done.groupBy(_.site)
      .map { case (s, js) =>
        (s, js.size, js.map(j => j.end - j.start).sum / 1000.0)
      }.toSeq.sortBy(-_._3)
    // driver-gap accounting: wall time during which NO job was running
    // (planning, scheduling, stream commits, driver-side compute)
    val ivs = done.map(j => (j.start, j.end)).sortBy(_._1)
    var covered = 0L; var hi = 0L
    ivs.foreach { case (s, e) =>
      if (s > hi) { hi = s }
      if (e > hi) { covered += e - hi; hi = e }
    }
    println(f"== $which pass: wall $wall%.1f s, ${done.size} jobs, " +
      f"job-time sum ${done.map(j => j.end - j.start).sum / 1000.0}%.1f s, " +
      f"job-covered ${covered / 1000.0}%.1f s (gap ${
        wall - covered / 1000.0}%.1f s)")
    bySite.take(50).foreach { case (s, n, sec) =>
      println(f"  $sec%7.2f s  $n%4d jobs  $s")
    }
    // the slowest individual jobs, with their UI description — the
    // per-epoch anatomy the aggregated site view hides
    println("-- slowest jobs --")
    done.sortBy(j => -(j.end - j.start)).take(30).foreach { j =>
      println(f"  ${(j.end - j.start) / 1000.0}%6.2f s  job ${j.id}%4d  " +
        f"${j.site}%-32s ${j.desc.take(90)}")
    }
    spark.stop()
  }
}
