package graft

import java.nio.file.Files
import java.time.Instant
import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{BinaryType, StringType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables

/** `Tables` infers a fixture's schema once per file set: a repeated call
  * runs no Spark job and reads what `spark.read.parquet` reads, while a
  * rewritten file or a changed parquet conf infers again. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("tables-spec").toString

  /** Runs `body` and counts the Spark jobs it started: jobs carry a
    * fresh job group, and a sentinel job in a second group marks the
    * point where the in-order listener bus has delivered them all. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${UUID.randomUUID}"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      val r = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30.seconds.toNanos
      while (!seen.contains(s"$group-end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$group-end"), "sentinel job never delivered")
      (r, seen.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  /** Writes one parquet file with parquet-mr directly, as a non-Spark
    * writer (the driver's pyarrow fixtures) does: no Spark schema in the
    * footer, so the parquet logical types alone decide the inference. */
  private def rawParquet(file: String, schema: String,
      rows: Seq[Seq[(String, Any)]]): Unit = {
    val t = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(new Path(file)).withType(t)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val groups = new SimpleGroupFactory(t)
    try rows.foreach { r =>
      val g = groups.newGroup()
      r.foreach {
        case (c, v: Long) => g.add(c, v)
        case (c, v: Int) => g.add(c, v)
        case (c, v: Double) => g.add(c, v)
        case (c, v: String) => g.add(c, v)
        case (c, v) => fail(s"unsupported value $v for $c")
      }
      w.write(g)
    } finally w.close()
  }

  test("a repeated call on an unchanged table runs no job and reads what spark.read.parquet reads") {
    val dir = tmp()
    (1 to 50).map(i => (i, s"v$i", i * 0.5)).toDF("k", "s", "d")
      .repartition(3).write.parquet(s"$dir/spark_dir.parquet")
    // both fixture layouts: a Spark-written dir and a single file
    Seq(dir -> "spark_dir", "/root/testdata/sf0.001" -> "nation").foreach {
      case (d, t) =>
        Tables(spark, d, t)
        val (df, jobs) = jobsDuring(Tables(spark, d, t))
        assert(jobs === 0, s"$t: second call started $jobs job(s)")
        val plain = spark.read.parquet(s"$d/$t.parquet")
        assert(df.schema === plain.schema, t)
        assert(df.collect().map(_.toString).sorted ===
          plain.collect().map(_.toString).sorted, t)
    }
  }

  test("a fixture rewritten in place with other columns reads with the new schema") {
    val dir = tmp()
    val file = s"$dir/t.parquet"
    rawParquet(file, "message t { required int64 a; required binary b (UTF8); }",
      Seq(Seq("a" -> 1L, "b" -> "x")))
    assert(Tables(spark, dir, "t").columns.toSeq === Seq("a", "b"))
    Thread.sleep(5) // a distinct mtime even where length could tie
    rawParquet(file, "message t { required int64 a; required double c; }",
      Seq(Seq("a" -> 2L, "c" -> 2.5), Seq("a" -> 3L, "c" -> 3.5)))
    val df = Tables(spark, dir, "t")
    assert(df.columns.toSeq === Seq("a", "c"))
    assert(df.orderBy("a").as[(Long, Double)].collect().toSeq ===
      Seq(2L -> 2.5, 3L -> 3.5))
  }

  test("changing spark.sql.parquet.binaryAsString infers again") {
    val dir = tmp()
    rawParquet(s"$dir/bin.parquet", "message t { required binary b; }",
      Seq(Seq("b" -> "raw")))
    val key = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables(spark, dir, "bin").schema("b").dataType === BinaryType)
      spark.conf.set(key, "true")
      val (df, jobs) = jobsDuring(Tables(spark, dir, "bin"))
      assert(df.schema("b").dataType === StringType)
      assert(jobs >= 1, "a changed parquet conf must infer the schema again")
      assert(df.as[String].collect().toSeq === Seq("raw"))
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("events.ts normalizes to TimestampType for both fixture generations, cold and cached") {
    val at = Instant.ofEpochSecond(1700000000L, 123456000L)
    val micros = 1700000000123456L
    Seq(
      "TIMESTAMP(NANOS,false)" -> micros * 1000L,
      "TIMESTAMP(MICROS,false)" -> micros).foreach { case (logical, v) =>
      val dir = tmp()
      rawParquet(s"$dir/events.parquet",
        s"message e { required int64 user_id; required int64 ts ($logical); }",
        Seq(Seq("user_id" -> 7L, "ts" -> v)))
      val (cold, _) = jobsDuring(Tables(spark, dir, "events"))
      val (cached, jobs) = jobsDuring(Tables(spark, dir, "events"))
      assert(jobs === 0, s"$logical: cached call started $jobs job(s)")
      Seq(cold, cached).foreach { df =>
        assert(df.schema("ts").dataType === TimestampType, logical)
        assert(df.select("ts").as[java.sql.Timestamp].head().toInstant === at,
          logical)
      }
    }
  }

  test("four concurrent first calls on a cold path agree on the schema") {
    val dir = tmp()
    (1 to 20).map(i => (i.toLong, s"n$i")).toDF("id", "name")
      .write.parquet(s"$dir/cold.parquet")
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val start = new CountDownLatch(1)
      val calls = (1 to 4).map(_ => Future {
        start.await()
        Tables(spark, dir, "cold").schema
      })
      start.countDown()
      val schemas = Await.result(Future.sequence(calls), 2.minutes)
      assert(schemas.distinct.size === 1)
      assert(schemas.head === spark.read.parquet(s"$dir/cold.parquet").schema)
    } finally pool.shutdown()
  }
}
