package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver's parquet fixtures (repo:TESTDATA.md).
  *
  * Every operator takes an `sfDir` so the identical logical plan runs at any
  * scale factor. At cluster scale these become catalog tables; the physical
  * path (vectorized parquet scan + column pruning + predicate pushdown) is
  * unchanged, so plans validated here transfer to the 100 TB layout.
  *
  * Schemas are resolved once per file set: `spark.read.parquet` infers a
  * schema with a footer-read job on every call, so [[apply]] infers it the
  * first time and then reads with `spark.read.schema(s).parquet(path)`,
  * which runs no job. The cache holds only the inferred `StructType` —
  * no rows, no plan, no session — one entry per qualified table path,
  * keyed by every file under the path (name, length, mtime, listed on
  * every call without a job) and the session's `spark.sql.parquet.*` and
  * `spark.sql.legacy.parquet.*` values. A rewritten fixture or a changed
  * parquet conf misses the key and infers again, so a stale schema is
  * never read. Inference runs outside any lock (concurrent first calls
  * may each infer; they agree).
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private final case class Key(files: Seq[(String, Long, Long)],
      conf: Seq[(String, String)])
  private val schemas = new ConcurrentHashMap[String, (Key, StructType)]()

  private def files(fs: FileSystem, p: Path): Seq[(String, Long, Long)] =
    fs.listStatus(p).toSeq.flatMap { s =>
      if (s.isDirectory) files(fs, s.getPath)
      else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
    }

  private def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(p).toString
    val key = Key(files(fs, p).sortBy(_._1), spark.conf.getAll.toSeq
      .filter { case (k, _) => k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.") }.sorted)
    val schema = Option(schemas.get(qualified)).collect {
      case (k, s) if k == key => s
    }.getOrElse {
      val s = spark.read.parquet(path).schema
      schemas.put(qualified, (key, s))
      s
    }
    spark.read.schema(schema).parquet(path)
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped in two fixture generations: TIMESTAMP(NANOS)
      // parquet (which Spark 4 rejects outright — read as long via the
      // legacy conf and rebuild; nanos are µs-aligned so `DIV 1000` is
      // exact) and, since the 2026-08-13 regeneration, plain
      // timestamp[us] (isAdjustedToUTC=false → TIMESTAMP_NTZ under
      // Spark 4's inferTimestampNTZ). Normalize BOTH to session-TZ
      // TimestampType (session TZ pinned UTC — wall-clock preserving)
      // so every downstream plan sees one type regardless of which
      // fixture generation is on disk.
      if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = read(spark, s"$dir/$name.parquet")
      val ts = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          org.apache.spark.sql.functions.expr("timestamp_micros(ts DIV 1000)")
        case org.apache.spark.sql.types.TimestampType |
            org.apache.spark.sql.types.TimestampNTZType =>
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType)
        // fail fast on any other type: a future fixture regeneration
        // shipping ts as e.g. string/double must not silently cast
        // (possibly to nulls) — re-check all fixture schemas instead
        case other => throw new IllegalStateException(
          s"events.ts: unexpected fixture type $other — fixture " +
            "generation changed again; re-check schemas (TESTDATA.md)")
      }
      raw.withColumn("ts", ts)
    } else read(spark, s"$dir/$name.parquet")
  }
}
