package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Multi-table CDC replication into SQL targets — [[MultiTable]]'s
  * fan-out with [[JdbcReplica]]'s transactional sink, completing the
  * replication matrix: {single, multi} × {rename, manifest,
  * state-store, JDBC} all share one summary algebra.
  *
  * Per declared [[TableSpec]], the target table's DDL is derived from
  * `rowSchema` (ANSI types, key column PRIMARY KEY), and each
  * micro-batch slice reduces to per-key summaries whose winning image
  * is projected to TYPED columns in Spark (one executor-side
  * `from_json` + cast per surviving key — [[MultiTable.typedRows]],
  * the projection [[MultiTable.readTable]] uses) and handed to
  * [[JdbcReplica.applySummaries]], the sink the single-table cell uses:
  * statement shapes, the three-phase `executeBatch` engine, created_at
  * preservation (the UPDATE never touches the column), and the
  * (target, epoch, partition) exactly-once markers are one code path,
  * so every ordering and idempotency argument there carries over per
  * table.
  *
  * Like the single-table JDBC sink (and unlike the summary-fold
  * replicas), this applies destructively and requires micro-batches in
  * lsn order — the replication-slot / single-topic-partition
  * guarantee. */
object JdbcMultiTable {
  import JdbcReplica.{connect, jdbcType}

  private def sqlType(f: StructField, isKey: Boolean): String =
    f.dataType match {
      case IntegerType => "INT"
      case LongType => "BIGINT"
      case DoubleType => "DOUBLE"
      case FloatType => "REAL"
      case BooleanType => "BOOLEAN"
      case TimestampType => "TIMESTAMP"
      case DateType => "DATE"
      case StringType =>
        // free-text columns get the widest portable VARCHAR (Derby's
        // max; a 500-char default fails the stream on values the other
        // three matrix cells accept). Keys stay modest so they index
        // everywhere; override either via "maxLength" in the field's
        // metadata.
        val len =
          if (f.metadata.contains("maxLength")) f.metadata.getLong("maxLength")
          else if (isKey) 500L else 32672L
        s"VARCHAR($len)"
      case other =>
        throw new IllegalArgumentException(s"no SQL mapping for $other")
    }

  /** Create one table's target (+ the shared epoch-marker table) if
    * absent, with DDL derived from the declared schema — or WIDEN an
    * existing one: declared columns missing from the live table are
    * added with `ALTER TABLE … ADD COLUMN` (nullable — pre-evolution
    * rows read SQL NULL, the same semantics as the parquet replicas'
    * read-side widening). DDL-first like the reference: the declared
    * spec IS the contract, and only widening is handled — a dropped or
    * retyped column is rejected HERE, before any row is written under
    * the new spec, never silently mis-applied. */
  def ensureTable(url: String, spec: TableSpec): Unit = {
    JdbcReplica.ensureEpochTable(url)
    val c = connect(url)
    try {
      if (!JdbcReplica.tableExists(c, spec.table)) {
        val cols = spec.rowSchema.fields.map { f =>
          val isKey = f.name == spec.keyCol
          val constraint = if (isKey) " PRIMARY KEY" else ""
          s"${f.name} ${sqlType(f, isKey)}$constraint"
        }.mkString(", ")
        val st = c.createStatement()
        try st.executeUpdate(s"CREATE TABLE ${spec.table} ($cols)")
        finally st.close()
      } else {
        val existing = JdbcReplica.tableColumnTypes(c, spec.table)
        val declared = spec.rowSchema.fieldNames
          .map(_.toLowerCase).toSet
        // the schema-evolution contract against the PHYSICAL table
        // (the JDBC half of [[MultiTable.validateWidening]]): a live
        // column the spec no longer declares, or whose declared type
        // maps to a different SQL type, is rejected loudly — the sink
        // would otherwise leave dropped columns silently stale on every
        // upsert, and a retype would bind mismatched parameters at
        // apply time.
        val dropped = existing.keySet -- declared
        require(dropped.isEmpty,
          s"schema evolution on '${spec.table}' drops live column(s) " +
            s"${dropped.toSeq.sorted.mkString(", ")} — only widening " +
            "is supported; dropping requires an explicit migration")
        val retyped = spec.rowSchema.fields.filter { f =>
          existing.get(f.name.toLowerCase)
            .exists(_ != jdbcType(f.dataType))
        }
        require(retyped.isEmpty,
          s"schema evolution on '${spec.table}' changes the SQL type " +
            s"of ${retyped.map(_.name).mkString(", ")} — type changes " +
            "are not supported; migrate via an explicit table rewrite")
        spec.rowSchema.fields
          .filterNot(f => existing.contains(f.name.toLowerCase))
          .foreach { f =>
            val st = c.createStatement()
            try st.executeUpdate(s"ALTER TABLE ${spec.table} " +
              s"ADD COLUMN ${f.name} ${sqlType(f, isKey = false)}")
            finally st.close()
          }
      }
    } finally c.close()
  }

  /** Per-key summaries of one table's batch slice, projected to typed
    * columns + [[JdbcReplica.FlagCols]] — the executor-side decode that
    * keeps the JDBC partition loop free of JSON work. */
  private[graft] def typedSummaries(slice: DataFrame, spec: TableSpec,
      parallelism: Int): DataFrame =
    MultiTable.typedRows(JdbcReplica.withFlags(Replicate.summarizeWith(
      slice, MultiTable.MtShape, Seq("key"), Some(parallelism))),
      spec, JdbcReplica.FlagCols)

  /** Apply one micro-batch of PARSED generic changes to every declared
    * table's SQL target — per table, one summary job feeding
    * per-partition marker-guarded transactions; absent tables are
    * skipped ([[MultiTable.forEachPresent]]). */
  def applyBatch(spark: SparkSession, parsed: DataFrame, url: String,
      specs: Seq[TableSpec], batchId: Long, parallelism: Int = 4): Unit =
    MultiTable.forEachPresent(parsed, specs) { (spec, slice) =>
      JdbcReplica.applySummaries(typedSummaries(slice, spec, parallelism),
        url, spec, batchId)
    }

  /** The continuous multi-table pipeline into SQL targets: one
    * change-log stream → [[MultiTable.parseAll]] once per trigger →
    * per-table transactional JDBC apply. */
  def start(spark: SparkSession, changeDir: String, url: String,
      checkpointDir: String, specs: Seq[TableSpec],
      trigger: Trigger = Trigger.ProcessingTime("2 seconds"),
      maxFilesPerTrigger: Option[Int] = None,
      parallelism: Int = 4,
      parser: (DataFrame, Seq[TableSpec]) => DataFrame =
        MultiTable.parseAll): StreamingQuery = {
    specs.foreach(ensureTable(url, _))
    ChangeSource.run(ChangeSource.rawLines(spark, changeDir,
        maxFilesPerTrigger), "graft-replicate-multitable-jdbc", checkpointDir,
        trigger) { (batch, epochId) =>
      applyBatch(spark, parser(batch, specs), url, specs,
        batchId = epochId, parallelism = parallelism)
    }
  }
}
