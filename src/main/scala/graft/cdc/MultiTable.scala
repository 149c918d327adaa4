package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** One replicated table's contract: how to route it out of the shared
  * envelope stream, which column is its key, and its typed row schema.
  *
  * `createdAtCol` names the insert-stamped column preserved across
  * upserts (the reference's ON CONFLICT semantics for `person.created_at`,
  * replicator/main.go:204-217); None for tables without one. */
final case class TableSpec(
    table: String,
    keyCol: String,
    createdAtCol: Option[String],
    rowSchema: StructType)

/** Multi-table CDC replication — the generalization of [[Replicate]]'s
  * single `person` pipeline to the shape a real Debezium topic set has:
  * ONE change stream carrying rows for N tables
  * (the reference routes on `table == "person"` and drops the rest,
  * replicator/main.go:191-193; a production slot carries the whole
  * publication), fanned out to N independently-keyed replicas.
  *
  * Design (Spark-first, one scan per trigger):
  *  - **Parse once, route N ways.** [[parseAll]] decodes the wal2json
  *    envelope once per line into a GENERIC change row —
  *    `(tbl, lsn, action, key STRING, img JSON-string, created_at)` —
  *    for every declared table at once. The per-trigger fan-out caches
  *    that parsed batch and filters per table; the raw text is scanned
  *    once no matter how many tables subscribe.
  *  - **Schema-generic summary algebra.** [[Replicate]]'s per-key fold
  *    needs only (a) an orderable image and (b) the key — so the
  *    generic image is the envelope's column map AS A JSON STRING
  *    (maps aren't orderable in Spark; strings are, and the struct
  *    comparison orders by the unique `lsn` first so the img text is
  *    never semantically compared). [[Replicate.summarizeWith]] and
  *    [[Replicate.combineSummaries]] run over [[MtShape]] unchanged;
  *    only the final typed projection differs.
  *  - **Same storage machinery.** Each table lives at
  *    `<root>/<table>/` and is stored by [[Replicate]]'s own helpers
  *    under [[MtShape]]: bucket generation dirs, hidden delta log,
  *    compaction watermark, layout marker, one-fold reclamation grace
  *    — so every crash-window argument in [[Replicate]]'s header
  *    carries over unchanged. Buckets key on a hash of the string key
  *    ([[MtShape]]; production pins the hash function version with the
  *    layout).
  *  - **Typed projection at the edge.** [[readTable]] folds
  *    base ∪ deltas and only THEN parses the winning image's JSON once
  *    per surviving key, casting each field to `rowSchema`'s type —
  *    O(live keys), not O(events), and the replica files stay
  *    schema-evolution-friendly (adding a column is just a new key in
  *    the JSON map).
  *
  * At 100 TB: tables partition the work naturally (separate dirs,
  * separate buckets); hot tables get their own stream with this same
  * module declared single-table. The per-trigger cost is one source
  * scan + one O(batch-slice) summary job per touched table. */
object MultiTable {
  import Replicate.BucketCol

  /** Generic delta schema: [[Replicate.DeltaSchema]] with the typed
    * image replaced by (key STRING, img JSON-string). */
  private[cdc] val MtDeltaSchema = StructType(Seq(
    StructField(BucketCol, IntegerType),
    StructField("key", StringType),
    StructField("last_img", StructType(Seq(
      StructField("lsn", LongType), StructField("img", StringType)))),
    StructField("first_ins", StructType(Seq(
      StructField("lsn", LongType),
      StructField("created_at", TimestampType)))),
    StructField("last_d_lsn", LongType)))

  /** The generic summaries' storage shape, keyed on the string key. */
  private[graft] val MtShape = Replicate.Shape(MtDeltaSchema, "key",
    n => pmod(hash(col("key")), lit(n)))

  private[graft] val MtBaseSchema = MtShape.baseSchema

  val DefaultNumBuckets = 8

  private def tableDir(root: String, spec: TableSpec): String =
    s"$root/${spec.table}"

  /** Decode raw wal2json lines into generic change rows for ALL declared
    * tables in one narrow stage, each line decoded once
    * ([[ChangeSource.decode]]): no shuffle, no per-table rescan.
    * Unknown tables and malformed lines drop here (the F2 routing
    * filter, generalized from `= "person"` to the declared set). */
  def parseAll(lines: DataFrame, specs: Seq[TableSpec]): DataFrame = {
    import Wal2JsonSchema._
    routeDecoded(ChangeSource.decode(lines, envelope)
      .filter(col("action").isin("I", "U", "D"))
      .select(
        col("table").as("tbl"),
        col("lsn"),
        col("action"),
        map_from_arrays(col("columns.name"), col("columns.value"))
          .as("cols"),
        map_from_arrays(col("identity.name"), col("identity.value"))
          .as("ident")),
      specs, to_timestamp(_, tsFormat))
  }

  /** Debezium-envelope twin of [[parseAll]] (a real Debezium topic set
    * IS the multi-table deployment this module models): before/after
    * images decode as generic string maps — Spark's JSON parser copies
    * non-string scalars through as raw JSON text, the same property the
    * wal2json path leans on — so ONE parser serves every declared
    * table. op c/r → I, u → U, d → D; `source.lsn` orders; TIMESTAMP
    * columns arrive as epoch-micros integers, converted for the table's
    * declared created_at column. */
  def parseAllDebezium(lines: DataFrame, specs: Seq[TableSpec])
      : DataFrame = {
    val imgMap = MapType(StringType, StringType)
    val env = StructType(Seq(
      StructField("before", imgMap),
      StructField("after", imgMap),
      StructField("op", StringType),
      StructField("ts_ms", LongType),
      StructField("source", StructType(Seq(
        StructField("lsn", LongType),
        StructField("schema", StringType),
        StructField("table", StringType))))))
    routeDecoded(ChangeSource.decode(lines, env)
      .filter(col("op").isin("c", "u", "d", "r"))
      .select(
        col("source.table").as("tbl"),
        col("source.lsn").as("lsn"),
        when(col("op") === "d", "D")
          .when(col("op") === "u", "U")
          .otherwise("I").as("action"), // c and r are both inserts
        col("after").as("cols"), col("before").as("ident")),
      specs, c => timestamp_micros(c.cast(LongType)))
  }

  /** The envelope-independent tail of both parsers, over decoded
    * `(tbl, lsn, action, cols, ident)` rows: keep the declared tables,
    * resolve each table's key and created_at column NAMES through a
    * table-dispatched when-chain, render the image map as JSON, convert
    * the created_at text with the envelope's `toTs`, and drop keyless
    * rows. */
  private def routeDecoded(decoded: DataFrame, specs: Seq[TableSpec],
      toTs: Column => Column): DataFrame = {
    def dispatch(f: TableSpec => Column) =
      specs.foldLeft(lit(null).cast(StringType)) { (acc, sp) =>
        when(col("tbl") === sp.table, f(sp)).otherwise(acc)
      }
    decoded
      .filter(col("tbl").isin(specs.map(_.table): _*))
      .select(
        col("tbl"), col("lsn"), col("action"),
        dispatch(sp => coalesce(element_at(col("cols"), sp.keyCol),
          element_at(col("ident"), sp.keyCol))).as("key"),
        to_json(col("cols")).as("img"),
        toTs(dispatch(sp => sp.createdAtCol
            .map(c => element_at(col("cols"), c))
            .getOrElse(lit(null).cast(StringType)))).as("created_at"))
      .filter(col("key").isNotNull)
  }

  /** [[Replicate.summarizeBucketed]] over the generic change shape: one
    * batch-sized shuffle keyed on the hash bucket feeds the window, the
    * aggregate, and the bucket-partitioned delta write. */
  private[cdc] def summarizeMt(batch: DataFrame, numBuckets: Int): DataFrame =
    Replicate.summarizeWith(
      batch.withColumn(BucketCol, MtShape.bucketOf(numBuckets)), MtShape,
      Seq(BucketCol, "key"), None)

  /** Lift typed rows into generic summary form for the initial
    * [[snapshot]] (lsn 0 — outranked by every real change). */
  private[cdc] def rowsAsMtSummaries(rows: DataFrame, spec: TableSpec)
      : DataFrame = {
    val imgMap = map(spec.rowSchema.fields.flatMap(f =>
      Seq(lit(f.name), col(f.name).cast(StringType))).toSeq: _*)
    rows.select(
      col(spec.keyCol).cast(StringType).as("key"),
      struct(lit(0L).as("lsn"), to_json(imgMap).as("img")).as("last_img"),
      struct(lit(0L).as("lsn"),
        spec.createdAtCol.map(col).getOrElse(lit(null).cast(TimestampType))
          .as("created_at")).as("first_ins"),
      lit(null).cast(LongType).as("last_d_lsn"))
  }

  /** Bulk-load one table's initial state (full overwrite) —
    * [[Replicate.snapshot]] over the generic schema. */
  def snapshot(spark: SparkSession, rows: DataFrame, root: String,
      spec: TableSpec, numBuckets: Int = DefaultNumBuckets): Unit =
    Replicate.snapshotWith(spark, tableDir(root, spec), numBuckets,
      rowsAsMtSummaries(rows, spec), MtShape)

  /** Hand every declared table present in a parsed batch its slice
    * (`tbl` dropped), with the parse cached across the slices. Presence
    * is one bounded `groupBy(tbl)` over the cached parse. An absent table
    * costs no summarize job, no empty delta dir (which would count toward
    * `compactEvery` and periodically fold nothing) and, on the manifest
    * path, no burned manifest version per trigger. Presence derives from
    * batch content, so an epoch replay skips identically. */
  private[cdc] def forEachPresent(parsed: DataFrame, specs: Seq[TableSpec])
      (apply: (TableSpec, DataFrame) => Unit): Unit = {
    parsed.persist()
    try {
      val present =
        parsed.select("tbl").distinct().collect().map(_.getString(0)).toSet
      specs.filter(sp => present.contains(sp.table)).foreach(sp =>
        apply(sp, parsed.filter(col("tbl") === sp.table).drop("tbl")))
    } finally parsed.unpersist()
  }

  /** Apply one micro-batch of PARSED generic changes to every declared
    * table present in it: summarize each table's slice and hand it to
    * [[Replicate]]'s trigger body (delta commit, threshold fold) —
    * idempotent under replay for the same reasons. */
  def applyBatch(spark: SparkSession, parsed: DataFrame, root: String,
      specs: Seq[TableSpec], batchId: Long,
      numBuckets: Int = DefaultNumBuckets,
      compactEvery: Int = Replicate.DefaultCompactEvery): Unit =
    forEachPresent(parsed, specs) { (spec, slice) =>
      Replicate.applyWith(spark, tableDir(root, spec),
        summarizeMt(slice, numBuckets), MtShape, numBuckets, batchId,
        compactEvery, compactAsync = false)
    }

  /** Fold one table's pending deltas into the buckets they touch —
    * [[Replicate.compactNow]] over the generic schema. */
  def compact(spark: SparkSession, dir: String,
      numBuckets: Int = DefaultNumBuckets): Unit =
    Replicate.compactWith(spark, dir, numBuckets, MtShape)

  /** Physically remove one table's tombstones — [[Replicate.vacuum]]
    * over the generic schema (same precondition: the source can no
    * longer deliver lsns below the tombstones' delete lsns). */
  def vacuum(spark: SparkSession, root: String, spec: TableSpec,
      numBuckets: Int = DefaultNumBuckets): Unit =
    Replicate.vacuumWith(spark, tableDir(root, spec), numBuckets, MtShape)

  /** Drop one table's replica entirely (S9) — [[Replicate.truncate]]
    * on its root (schema-independent). */
  def truncate(spark: SparkSession, root: String, spec: TableSpec): Unit =
    Replicate.truncate(spark, tableDir(root, spec))

  /** Merge-on-read view of one table, projected to its typed schema:
    * fold base ∪ pending deltas, keep live keys, parse each surviving
    * image's JSON once and cast per the declared schema. */
  def readTable(spark: SparkSession, root: String, spec: TableSpec)
      : DataFrame =
    projectTyped(Replicate.readWith(spark, tableDir(root, spec), MtShape),
      spec)

  /** Live-rows typed projection over folded generic summaries. Shared
    * by both commit protocols. */
  private[cdc] def projectTyped(folded: DataFrame, spec: TableSpec)
      : DataFrame =
    typedRows(folded.filter(col("first_ins").isNotNull), spec, Nil)

  /** Generic summaries as typed rows: parse each winning image's JSON
    * once and cast each field per the declared schema, the key from
    * `key` and created_at from the first insert; the `carry` columns
    * follow the typed ones unchanged. */
  private[cdc] def typedRows(summaries: DataFrame, spec: TableSpec,
      carry: Seq[String]): DataFrame = {
    val m = from_json(col("last_img.img"),
      MapType(StringType, StringType)).as("m")
    summaries
      .select(Seq(col("key"), m, col("first_ins.created_at").as("__cat")) ++
        carry.map(col): _*)
      .select(spec.rowSchema.fields.map { f =>
        if (f.name == spec.keyCol)
          col("key").cast(f.dataType).as(f.name)
        else if (spec.createdAtCol.contains(f.name))
          col("__cat").cast(f.dataType).as(f.name)
        else element_at(col("m"), f.name).cast(f.dataType).as(f.name)
      }.toSeq ++ carry.map(col): _*)
  }

  // ---- declared-schema version log ---------------------------------------

  private def schemaLogDir(root: String, table: String): Path =
    new Path(s"$root/$table/_schema")

  /** Record the declared schema in the LAYOUT's version log —
    * `<table>/_schema/v<N>.json`, one small StructType-JSON file per
    * DDL change. The reference's model is DDL-first
    * (writer/main.go:34-41); versioning the DDL in the replica layout
    * makes mid-stream widening an auditable event: a stream (re)start
    * with an unchanged spec appends nothing, a widened spec appends
    * v<N+1>, and rows written before v<N+1> read null for its new
    * columns (the read-side widening trade in [[Replicate]]'s header).
    * Publish is write-tmp-then-rename, so a torn write is never a
    * readable version. Returns the current version number. */
  def recordSchema(spark: SparkSession, root: String,
      spec: TableSpec): Int = {
    val dir = schemaLogDir(root, spec.table)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    schemaVersions(spark, root, spec.table).lastOption match {
      case Some((v, s)) if s == spec.rowSchema => v
      case last =>
        last.foreach { case (_, prev) =>
          validateWidening(prev, spec.rowSchema, spec.table) }
        val v = last.map(_._1 + 1).getOrElse(1)
        val tmp = new Path(dir, s".tmp-v$v.json")
        val out = fs.create(tmp, true)
        try out.write(spec.rowSchema.json.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        Replicate.check(fs.rename(tmp, new Path(dir, s"v$v.json")),
          s"schema log publish failed: ${spec.table} v$v")
        v
    }
  }

  /** The declared schema-evolution CONTRACT: the only
    * supported transition is WIDENING — every previously-declared
    * column must survive with an identical type; only new columns may
    * appear (they read null on pre-evolution rows). A dropped column
    * or a type change (int→long included) is rejected LOUDLY here, at
    * version-record time, before any row is written under the new
    * spec — never silently mis-applied. Rationale: a drop orphans
    * committed data the older layout versions still name, and a
    * retype would make `element_at(img, col).cast(...)` silently
    * null-out unparseable history; both need an explicit migration
    * (rewrite under a new table), not an append to the version log.
    * The JDBC path enforces the same contract against the PHYSICAL
    * table ([[JdbcMultiTable.ensureTable]]). */
  def validateWidening(prev: StructType, next: StructType,
      table: String): Unit = {
    val nextByName = next.fields.map(f => f.name -> f.dataType).toMap
    val dropped = prev.fields.filterNot(f => nextByName.contains(f.name))
    require(dropped.isEmpty,
      s"schema evolution on '$table' drops column(s) " +
        s"${dropped.map(_.name).mkString(", ")} — only widening " +
        "(adding columns) is supported; dropping requires an explicit " +
        "table rewrite")
    val retyped = prev.fields.filter(f =>
      nextByName.get(f.name).exists(_ != f.dataType))
    require(retyped.isEmpty,
      s"schema evolution on '$table' changes type(s) of " +
        retyped.map(f =>
          s"${f.name}: ${f.dataType.simpleString} → " +
            s"${nextByName(f.name).simpleString}").mkString(", ") +
        " — type changes are not supported; migrate via an explicit " +
        "table rewrite")
  }

  /** All recorded declared-schema versions of a table, oldest first. */
  def schemaVersions(spark: SparkSession, root: String, table: String)
      : Seq[(Int, StructType)] = {
    val dir = schemaLogDir(root, table)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toInt }
      .sorted
      .map { v =>
        val in = fs.open(new Path(dir, s"v$v.json"))
        val text =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        v -> DataType.fromJson(text).asInstanceOf[StructType]
      }
  }

  /** The newest layout-declared schema, if any was recorded. */
  def declaredSchema(spark: SparkSession, root: String, table: String)
      : Option[StructType] =
    schemaVersions(spark, root, table).lastOption.map(_._2)

  /** [[readTable]] under the LATEST layout-declared schema: a reader
    * still carrying a pre-widening spec sees the widened table (new
    * columns null on old rows) without a code redeploy — the read-side
    * half of schema evolution. Falls back to the caller's spec when no
    * version was ever recorded. */
  def readTableVersioned(spark: SparkSession, root: String,
      spec: TableSpec): DataFrame =
    readTable(spark, root, spec.copy(rowSchema =
      declaredSchema(spark, root, spec.table).getOrElse(spec.rowSchema)))

  /** The continuous multi-table pipeline: one change-log stream →
    * `parser` once per trigger → per-table keyed apply. `parser`
    * defaults to the wal2json envelope ([[parseAll]]); pass
    * [[parseAllDebezium]] for a Debezium topic set — the downstream
    * fan-out is identical. Each declared spec's schema is recorded in
    * the layout's version log at stream start ([[recordSchema]]), so a
    * restart with a widened spec IS the evolution event. */
  def start(spark: SparkSession, changeDir: String, root: String,
      checkpointDir: String, specs: Seq[TableSpec],
      numBuckets: Int = DefaultNumBuckets,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds"),
      maxFilesPerTrigger: Option[Int] = None,
      compactEvery: Int = Replicate.DefaultCompactEvery,
      parser: (DataFrame, Seq[TableSpec]) => DataFrame = parseAll)
      : StreamingQuery = {
    specs.foreach(recordSchema(spark, root, _))
    ChangeSource.run(ChangeSource.rawLines(spark, changeDir,
        maxFilesPerTrigger), "graft-replicate-multitable", checkpointDir,
        trigger) { (batch, epochId) =>
      applyBatch(spark, parser(batch, specs), root, specs,
        batchId = epochId, numBuckets = numBuckets,
        compactEvery = compactEvery)
    }
  }
}
