package graft.cdc

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One retraction-stream element: a key's contribution entering
  * (`sign = +1`) or leaving (`sign = -1`) the view. */
final case class AggDelta(id: Int, sign: Int, score: Int)

/** One GENERIC retraction-stream element — [[AggDelta]] for the
  * multi-table shape: the (table, key)'s full image entering or
  * leaving its relation. Both sides of every transition are carried,
  * so a downstream JOIN view can subtract the old contribution. */
final case class MtDelta(tbl: String, key: String, sign: Int,
    img: String, created_at: Option[java.sql.Timestamp])

/** Incremental view maintenance over the change stream — the
  * Flink-changelog / Materialize shape: fold each key's micro-batch to
  * its old→new transition (the exact replica semantics,
  * [[Replicate.foldEvent]]), and emit it as RETRACTION deltas — `-old,
  * +new` — so ANY distributive downstream aggregate (count, sum, and
  * their quotients) is maintained by pure addition, never by
  * rescanning the replica.
  *
  * This is what [[StatefulReplica.liveUpdates]] cannot give a
  * downstream aggregate: its updates carry only the NEW image, so a
  * consumer cannot subtract the old contribution. The delta stream
  * carries both sides of every transition; a no-op transition (key
  * folds back to its prior image) emits nothing.
  *
  * Scale: identical to the state-store replica — state is the live-key
  * image map, hash-partitioned by key; each micro-batch shuffles only
  * its own rows; the emitted deltas are at most 2 rows per touched
  * key per batch, so the maintained aggregate's input is
  * change-volume-sized, independent of replica size. Exactly the
  * 100 TB materialized-view story: the view never re-reads the
  * table. */
object Ivm {
  /** changes → retraction deltas (Update mode; pair with a downstream
    * additive fold — `foreachBatch` into the aggregate table, or a
    * driver-side accumulator in tests). */
  def deltas(changes: Dataset[PersonChange]): Dataset[AggDelta] = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes.groupByKey(_.id)
      .flatMapGroupsWithState[ReplicaState, AggDelta](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (id, events, state: GroupState[ReplicaState]) =>
          val init = state.getOption.flatMap(_.row)
          val fin = events.toSeq.sortBy(_.lsn).foldLeft(init)(
            Replicate.foldEvent)
          if (fin.isDefined) state.update(ReplicaState(fin))
          else if (state.exists) state.remove()
          if (init == fin) Iterator.empty
          else
            (init.map(o => AggDelta(id, -1, o.score)) ++
              fin.map(n => AggDelta(id, +1, n.score))).iterator
      }
  }

  /** [[deltas]] for the GENERIC (table, key) change shape
    * ([[MultiTable.parseAll]]'s rows): per (table, key), the
    * micro-batch folds to its old→new transition with
    * [[StatefulMultiTable]]'s exact replica semantics, emitted as
    * `-old, +new` full-image retraction deltas. This is the per-table
    * retraction input delta-join view maintenance needs
    * ([[applyJoinBatch]]) — [[StatefulMultiTable.liveUpdates]] carries
    * only the new image, so a join view could never subtract the old
    * one. */
  def mtDeltas(parsed: DataFrame): Dataset[MtDelta] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    parsed.as[MtChange].groupByKey(c => (c.tbl, c.key))
      .flatMapGroupsWithState[MtReplicaState, MtDelta](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case ((tbl, key), events, state: GroupState[MtReplicaState]) =>
          val init = state.getOption.flatMap(_.row)
          val fin = events.toSeq.sortBy(_.lsn).foldLeft(init) { (cur, e) =>
            e.action match {
              case "I" => Some(MtRowState(e.img.getOrElse(""),
                cur.flatMap(_.created_at).orElse(e.created_at)))
              case "U" => cur.map(_.copy(img = e.img.getOrElse("")))
              case _ => None // "D"
            }
          }
          if (fin.isDefined) state.update(MtReplicaState(fin))
          else if (state.exists) state.remove()
          if (init == fin) Iterator.empty
          else
            (init.map(o => MtDelta(tbl, key, -1, o.img, o.created_at)) ++
              fin.map(n => MtDelta(tbl, key, +1, n.img, n.created_at)))
              .iterator
      }
  }

  // ---- delta-join view maintenance -----------------------------------
  //
  // The maintained view V = P ⋈ A (both relations keyed, so join
  // multiplicity is 0/1). Per micro-batch b with per-table signed
  // delta sets dP_b / dA_b, the exact bilinear identity
  //
  //   V_b − V_{b−1} = dP_b ⋈ A_b  ∪  P_{b−1} ⋈ dA_b
  //
  // (post-state on the right side, pre-state on the left — same-batch
  // changes on both tables count exactly once) makes per-trigger work
  // change-volume-sized: the view NEVER re-reads either relation in
  // full. States and view live as one epoch-partitioned signed-delta
  // log; every write is a DYNAMIC partition overwrite of the batch's
  // own epoch partition, so a replayed epoch (checkpoint restart)
  // rewrites exactly its own files — idempotent by construction.
  //
  // Scale: the delta sides are change-volume-sized; the state sides
  // are read bucket-PRUNED (only the hash buckets the opposite delta
  // touches — partition pruning on the bucket dir column), so each
  // trigger's state scan is bounded by touched-buckets size, not
  // relation size. At 100 TB the state side would be the compacted
  // bucketed replica itself (the same layout ManifestMultiTable
  // maintains) rather than a fold of the full delta history; the
  // epoch-log form here keeps every batch's input reproducible for
  // the restart contract, and the fold it needs is per-(key, img)
  // additive — the identical summary algebra the replicas run.

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, hash, lit, pmod, sum}

  private def bucketOf(numBuckets: Int): Column =
    pmod(hash(col("key")), lit(numBuckets))

  /** Decode signed generic deltas to typed value columns: `key`,
    * `sign`, and the spec's non-key, non-created_at columns parsed
    * from the JSON image (the same read-edge projection
    * [[MultiTable.readTable]] uses). */
  private def typedDeltas(df: DataFrame, spec: TableSpec): DataFrame = {
    import org.apache.spark.sql.functions.{element_at, from_json}
    import org.apache.spark.sql.types.{MapType, StringType}
    val m = from_json(col("img"), MapType(StringType, StringType))
    val vals = spec.rowSchema.fields.toSeq
      .filterNot(f => f.name == spec.keyCol ||
        spec.createdAtCol.contains(f.name))
      .map(f => element_at(m, f.name).cast(f.dataType).as(f.name))
    df.select(Seq(col("key"), col("sign")) ++ vals: _*)
  }

  /** Fold a signed-delta slice to its live state (net multiplicity
    * per (key, image) > 0 — exactly one surviving image per live key,
    * since deltas are ±transitions) and decode it. */
  private def foldTyped(df: DataFrame, spec: TableSpec): DataFrame =
    typedDeltas(
      df.groupBy("key", "img")
        .agg(sum(col("sign")).as("mult"))
        .filter(col("mult") > 0)
        .withColumn("sign", lit(1)),
      spec)

  private def readLog(spark: SparkSession, dir: String): Option[DataFrame] =
    if (new java.io.File(dir).exists()) Some(spark.read.parquet(dir))
    else None

  /** Apply ONE micro-batch of generic retraction deltas
    * ([[mtDeltas]]' rows for both tables) to the maintained join
    * view: land the epoch's deltas in the state log, compute the
    * epoch's view deltas via the bilinear identity, land those in the
    * view log. Exposed as a pure-ish function (state = the two
    * directories) so the restart contract — re-applying an epoch is a
    * no-op — is directly testable. */
  def applyJoinBatch(spark: SparkSession, batch: Dataset[MtDelta],
      bid: Long, stateDir: String, viewDir: String,
      pSpec: TableSpec, aSpec: TableSpec, numBuckets: Int = 16): Unit = {
    val deltas = batch.toDF()
      .withColumn("epoch", lit(bid))
      .withColumn("bucket", bucketOf(numBuckets))
    deltas.persist()
    try {
      // 1. land this epoch's per-table deltas — dynamic overwrite of
      //    exactly this epoch's partitions (replay-idempotent)
      deltas.repartition(col("tbl"), col("bucket"))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("tbl", "epoch", "bucket")
        .parquet(stateDir)
      val dP = deltas.filter(col("tbl") === pSpec.table)
      val dA = deltas.filter(col("tbl") === aSpec.table)
      // touched buckets per side — bounded by numBuckets, collected as
      // metadata to drive partition pruning on the opposite state
      def buckets(df: DataFrame): Seq[Int] =
        df.select("bucket").distinct().collect().map(_.getInt(0)).toSeq
      val pTouched = buckets(dA) // buckets P is probed at (by dA)
      val aTouched = buckets(dP) // buckets A is probed at (by dP)
      val log = readLog(spark, stateDir).get // just written above
      def statePart(tbl: String, maxEpochIncl: Long, touched: Seq[Int])
          : DataFrame =
        log.filter(col("tbl") === tbl &&
          col("epoch") <= maxEpochIncl &&
          col("bucket").isin(touched: _*))
      // post-state of A (this epoch included), pre-state of P
      val aPost = foldTyped(statePart(aSpec.table, bid, aTouched), aSpec)
      val pPre = foldTyped(statePart(pSpec.table, bid - 1, pTouched),
        pSpec)
      val side1 = typedDeltas(dP, pSpec)
        .join(aPost.drop("sign"), "key")
      val side2 = pPre.drop("sign")
        .join(typedDeltas(dA, aSpec), "key")
      val viewCols = Seq(col("key"), col("sign")) ++
        (valueCols(pSpec) ++ valueCols(aSpec)).map(col)
      val dV = side1.select(viewCols: _*)
        .unionByName(side2.select(viewCols: _*))
        .withColumn("epoch", lit(bid))
      dV.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch")
        .parquet(viewDir)
    } finally deltas.unpersist()
  }

  private def valueCols(spec: TableSpec): Seq[String] =
    spec.rowSchema.fieldNames.toSeq
      .filterNot(n => n == spec.keyCol || spec.createdAtCol.contains(n))

  /** The maintained join view: the additive fold of the view delta
    * log alone — sum of signs per distinct row, keep the net-positive
    * ones (0/1 for a keyed equijoin). The key column is typed by the
    * LEFT spec's key type and named after it. */
  def joinView(spark: SparkSession, viewDir: String,
      pSpec: TableSpec, aSpec: TableSpec): DataFrame = {
    val vals = valueCols(pSpec) ++ valueCols(aSpec)
    val keyType = pSpec.rowSchema(pSpec.keyCol).dataType
    readLog(spark, viewDir) match {
      case None => // no epochs landed yet: empty view
        // Value columns carry the specs' REAL types (the same rowSchema
        // lookup as keyType), so consumers see one schema whether or
        // not an epoch has landed.
        def valType(n: String) =
          (if (pSpec.rowSchema.fieldNames.contains(n)) pSpec.rowSchema
           else aSpec.rowSchema)(n).dataType
        val schema = org.apache.spark.sql.types.StructType(
          org.apache.spark.sql.types.StructField(pSpec.keyCol, keyType) +:
            vals.map(n =>
              org.apache.spark.sql.types.StructField(n, valType(n))))
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      case Some(log) =>
        log.groupBy(col("key"), org.apache.spark.sql.functions
            .struct(vals.map(col): _*).as("v"))
          .agg(sum(col("sign")).as("mult"))
          .filter(col("mult") > 0)
          .select(Seq(col("key").cast(keyType).as(pSpec.keyCol)) ++
            vals.map(n => col(s"v.$n").as(n)): _*)
    }
  }
}
