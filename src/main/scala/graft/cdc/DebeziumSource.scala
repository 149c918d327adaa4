package graft.cdc

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Debezium-envelope adapter — the production ingestion path
  * (SURVEY.md §0: "Structured Streaming + Debezium/Kafka source"; CDC
  * capture itself stays external). Translates Debezium's
  * postgres-connector JSON events for the `person` table into the same
  * [[PersonChange]] rows the wal2json path produces, so everything
  * downstream (filter → merge → monitor) is source-agnostic.
  *
  * Envelope (public Debezium message format, unwrapped payload):
  * `{"before": {...}|null, "after": {...}|null, "op": "c|u|d|r",
  *   "ts_ms": ..., "source": {"lsn": ..., "table": ...}}`
  *  - op c (create), r (snapshot read) → I; u → U; d → D
  *  - the after image carries the row; deletes carry only `before`
  *  - `source.lsn` is the commit LSN — our explicit ordering column
  *
  * Same narrow plan as [[ChangeSource.parse]] — one decode per line,
  * then one whole-stage-codegen'd filter and projection: at production
  * scale this runs map-side on the Kafka partitions with no shuffle
  * before the keyed merge.
  */
object DebeziumSource {
  private val rowStruct = StructType(Seq(
    StructField("id", IntegerType),
    StructField("name", StringType),
    StructField("uid", StringType),
    StructField("score", IntegerType),
    // Debezium emits TIMESTAMP columns as epoch-micros integers
    StructField("created_at", LongType)))

  val envelope: StructType = StructType(Seq(
    StructField("before", rowStruct),
    StructField("after", rowStruct),
    StructField("op", StringType),
    StructField("ts_ms", LongType),
    StructField("source", StructType(Seq(
      StructField("lsn", LongType),
      StructField("schema", StringType),
      StructField("table", StringType))))))

  /** Parse Debezium JSON lines into [[PersonChange]] rows. Malformed
    * lines and events for other tables are dropped (log-and-continue,
    * replicator/main.go:186-193). */
  def parse(lines: DataFrame): Dataset[PersonChange] = {
    val spark = lines.sparkSession
    import spark.implicits._
    ChangeSource.decode(lines, envelope)
      .filter(col("op").isin("c", "u", "d", "r"))
      .filter(col("source.table") === "person")
      .select(
        col("source.lsn").as("lsn"),
        when(col("op") === "d", "D")
          .when(col("op") === "u", "U")
          .otherwise("I").as("action"), // c and r are both inserts
        coalesce(col("after.id"), col("before.id")).as("id"),
        col("after.name").as("name"),
        col("after.uid").as("uid"),
        col("after.score").as("score"),
        timestamp_micros(col("after.created_at")).as("created_at"))
      .filter(col("id").isNotNull)
      .as[PersonChange]
  }

  /** Batch read of a directory of Debezium JSON lines. */
  def readBatch(spark: SparkSession, dir: String): Dataset[PersonChange] =
    parse(spark.read.text(dir))

  /** Streaming read — swap for `format("kafka")` +
    * `col("value").cast("string")` in production; the parse stage is
    * identical. */
  def readStream(spark: SparkSession, dir: String): Dataset[PersonChange] =
    parse(spark.readStream.format("text").load(dir))
}
