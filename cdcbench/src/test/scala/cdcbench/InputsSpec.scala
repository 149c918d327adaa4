package cdcbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's inputs depend on the seed only, and its declared
  * metrics match BENCHMARK.json. */
class InputsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  override def afterAll(): Unit = {
    spark.stop()
    dirs.foreach(Dirs.delete)
  }

  private def tmp(): Path = {
    val d = Files.createTempDirectory("cdcbench-test")
    dirs += d
    d
  }

  /** Every file under `dir` by relative path, with its bytes; Spark's
    * part-file names carry a job id, so that part is dropped. */
  private def bytes(dir: Path): Seq[(String, Seq[Byte])] = {
    val st = Files.walk(dir)
    try st.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .map(f => dir.relativize(f).toString
        .replaceAll("part-\\d+-[0-9a-f-]+", "part") ->
        Files.readAllBytes(f).toSeq)
      .sortBy(_._1)
    finally st.close()
  }

  private def syncFiles(seed: Long): Seq[(String, Seq[Byte])] = {
    val d = tmp()
    CdcSync.plan(seed, 4).files.zipWithIndex
      .foreach { case (f, i) => CdcSync.land(d.toString, i, f) }
    bytes(d)
  }

  test("cdc_sync: the same seed lands the same bytes") {
    assert(syncFiles(7) == syncFiles(7))
    assert(syncFiles(7) != syncFiles(8))
  }

  test("cdc_sync: each probe key is untouched after its file") {
    val p = CdcSync.plan(3, 24)
    p.probes.zipWithIndex.foreach { case (row, i) =>
      assert(p.files.drop(i + 1).forall(_.forall(_.id != row.id)))
      assert(p.expected.get(row.id).contains(row))
      assert(p.files(i).exists(o => o.id == row.id && o.action != "D"))
    }
  }

  test("queries: the same seed writes the same fixture bytes") {
    def fixtures(seed: Long) = {
      val d = tmp()
      Fixtures.write(spark, seed, d.toString)
      bytes(d).filterNot(_._1.endsWith("_SUCCESS"))
    }
    val a = fixtures(42)
    assert(a.map(_._1).count(_.endsWith(".parquet")) == Fixtures.Rows.size)
    assert(a == fixtures(42))
    assert(a != fixtures(43))
  }

  test("queries: the committed row list is a valid stratified sample") {
    val rows = Queries.readRows(java.nio.file.Paths.get("queries.tsv"))
    assert(rows.map(_.name).distinct.size == rows.size)
    assert(rows.forall(r => Queries.candidates.contains(r.name)))
    assert(rows.forall(r => r.warmMs <= Queries.MaxWarmMs))
    assert(rows.forall(r => r.family == Queries.family(r.name)))
    assert(rows.map(_.family).toSet == Set("sql", "streaming", "ml"))
    assert(Queries.stratify(rows).toSet == rows.toSet)
  }

  test("stratify spans each family's cost range deterministically") {
    val rows = (1 to 30).map(i => Queries.Row(s"s$i", "sql", i * 10.0,
      Fp(1, "0"))) ++ (1 to 3).map(i => Queries.Row(s"m$i", "ml",
      i * 600.0, Fp(1, "0")))
    val picked = Queries.stratify(rows)
    val sql = picked.filter(_.family == "sql")
    assert(sql.size == Queries.PerFamily("sql"))
    assert(sql.head.name == "s1" && sql.last.name == "s30")
    assert(picked.filter(_.family == "ml").map(_.name) == Seq("m1"))
    assert(Queries.stratify(rows) == picked)
  }

  test("BENCHMARK.json declares exactly the metrics the harness prints") {
    val j = new ObjectMapper().readTree(
      java.nio.file.Paths.get("..", "BENCHMARK.json").toFile)
    def names(key: String) =
      j.get(key).elements().asScala.map(m =>
        m.get("name").asText() -> m.get("unit").asText()).toSeq
    assert(names("end_to_end") == Main.EndToEnd)
    assert(names("per_layer") == Main.PerLayer)
    assert(j.get("workloads").elements().asScala.map(_.get("name").asText())
      .toSet == Main.Workloads.keySet)
  }
}
