package graft

import java.nio.file.{Files, Paths}

/** Dev-only plan dumper (optimization rounds): writes
  * `.explain("formatted")` for the named declared queries to
  * `<outDir>/<name>.txt` — the evidence files committed under
  * plans/r16/. Never run by the driver.
  *
  * Usage: SPARK_GRAFT_QUERIES=a,b,c sbt "runMain graft.PlanDump
  *   /root/testdata/sf0.1 plans/r16 _before"  (suffix optional)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = if (args.length > 2) args(2) else ""
    val spark = GraftSession(defaultCpus = 32)
    new java.io.File(outDir).mkdirs()
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/$name$suffix.txt"), plan)
          System.err.println(s"[plandump] wrote $name")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: $e")
        }
      }
    spark.stop()
  }
}
