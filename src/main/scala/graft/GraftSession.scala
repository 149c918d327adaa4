package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** The Spark session every engine main runs in (Bench, Verify,
  * PlanDump, MaintainProfile), so the oracle checks the same session
  * configuration the bench times. */
object GraftSession {
  /** FAIR pool shares for the latency-sensitive session: the trigger's
    * jobs run in the default pool (minShare 3/4 of the task slots —
    * 24 of 32 — weight 8), the async CDC fold in "graft-compact"
    * (weight 1, no minShare) — the fold takes only slack slots, so its
    * lumpy cost stretches the FOLD, not the trigger latency envelope.
    * The same file is what a production deployment ships; the fold's
    * pool name is fixed in `graft.cdc.FoldRunner`. */
  private def fairSchedulerXml(cpus: Int): String = {
    val f = Files.createTempFile("graft-fair", ".xml")
    // read by the scheduler for the session's whole life → JVM-exit
    // cleanup
    f.toFile.deleteOnExit()
    Files.writeString(f,
      s"""<?xml version="1.0"?>
         |<allocations>
         |  <pool name="default">
         |    <schedulingMode>FIFO</schedulingMode>
         |    <weight>8</weight>
         |    <minShare>${math.max(1, cpus * 3 / 4)}</minShare>
         |  </pool>
         |  <pool name="graft-compact">
         |    <schedulingMode>FIFO</schedulingMode>
         |    <weight>1</weight>
         |    <minShare>0</minShare>
         |  </pool>
         |</allocations>""".stripMargin)
    f.toString
  }

  /** A `local[cpus]` session, `cpus` from `SPARK_GRAFT_CPUS` or else
    * the calling main's `defaultCpus`. */
  def apply(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // FAIR so the async CDC fold's jobs (pool "graft-compact")
      // time-slice with the trigger's instead of queueing ahead of
      // them — under FIFO a 256-bucket fold's jobs occupy every task
      // slot and its lumpy cost lands on the NEXT trigger's latency.
      // The allocation file pins the trigger pool's minShare/weight so
      // the fold only consumes slack slots: equal-weight FAIR still
      // halved the trigger's slots mid-fold (measured 2.5-3.5 s
      // spikes).
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file",
        fairSchedulerXml(cpus.toInt))
      // Whole-stage-codegen class cache (a STATIC conf, so set here):
      // the default caches 100 generated classes while a full pass
      // compiles ~10× that many distinct stages, so a warm pass
      // evicted itself and every timed query recompiled its codegen
      // (~3 s of fixed overhead on ml_lm_bigram at sf0.001). Nothing
      // about results or data is cached.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
