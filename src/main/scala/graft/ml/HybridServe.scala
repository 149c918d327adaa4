package graft.ml

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.cdc.{ChangeGen, ChangeSource, Ivm, MtDelta, MultiTable}

/** The maintained RETRIEVAL STACK served off ONE replication stream —
  * the deployment shape the maintained-index family exists for: a
  * single multi-table CDC subscription (the reference's
  * one-subscription-many-tables model, pubsub/main.go:99-120) carries
  * `document` AND `embedding` changes; each micro-batch routes its
  * deltas to BOTH index maintainers ([[TextIndex.applyEpoch]] for the
  * inverted postings, [[AnnIndex.applyEpoch]] for the IVFADC cells —
  * each filters its own table from the shared batch), and serving
  * fuses the two maintained rankings by reciprocal-rank fusion
  * ([[TextAnalysis.hybridRetrieve]]'s integer RRF algebra). One
  * stream, one checkpoint, two warm indexes, one fused answer.
  *
  * Scale: everything inherits the members' shapes — per-epoch work is
  * change-volume + touched-partitions sized on both indexes, the
  * lexical serve reads ≤ |query terms| term buckets, the semantic
  * serve probes nprobe cells, and the fusion operates on two ≤k-row
  * lists. The stream is the SAME one the replica tables use: at
  * 100 TB this is not an extra pipeline, it is two more subscribers
  * to the change feed that already exists.
  *
  * One convention difference vs the static `ml_hybrid_rrf` row: the
  * semantic list is the maintained IVFADC search, whose candidate set
  * naturally contains the query vector itself (rank 1, distance 0);
  * the static row's cosine scan excludes self. The oracle mirrors the
  * maintained convention — a deployment drops the self row
  * post-fusion if it wants to. */
object HybridServe {
  import TextAnalysis.{Bm25K, RrfDepth, RrfK, RrfScale}

  /** THE reciprocal-rank fusion — shared by the static `ml_hybrid_rrf`
    * row ([[TextAnalysis.hybridRetrieve]] delegates here) and the
    * maintained serve, so the two cannot drift. `lexTopK` is a scored
    * (doc_id, …, score_fp) list ≤ k rows; `semTopK` a ranked
    * (vec_id, rank, …) list.
    *
    * The lexical ranks derive via collect_list → sort_array →
    * posexplode over the bounded list rather than a global window: a
    * `Window.orderBy` with no partition fires WindowExec's "No
    * Partition Defined" degradation warning on every (re)plan, and
    * Spark 4's EliminateWindowPartitions strips any constant partition
    * key one could scope it with. struct(-score_fp, doc_id) ascending
    * == (score_fp desc, doc_id asc), the same total order. */
  def fuse(lexTopK: DataFrame, semTopK: DataFrame): DataFrame = {
    val lex = lexTopK
      .agg(sort_array(collect_list(struct(
        (-col("score_fp")).as("neg_fp"), col("doc_id")))).as("ranked"))
      .select(posexplode(col("ranked")).as(Seq("pos", "entry")))
      .select(col("entry.doc_id").as("doc_id"),
        (col("pos") + 1).cast("long").as("lex_rank"))
    val sem = semTopK
      .select(col("vec_id").as("doc_id"), col("rank").as("sem_rank"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        (coalesce(expr(s"$RrfScale div ($RrfK + lex_rank)"), lit(0L)) +
          coalesce(expr(s"$RrfScale div ($RrfK + sem_rank)"), lit(0L)))
          .as("rrf_fp"))
      .orderBy(col("rrf_fp").desc, col("doc_id"))
  }

  /** The declared row's composition: freeze the ANN model on the
    * embedding snapshot (dumped for the oracle), script N epochs of
    * BOTH tables' changes ([[TextIndex.epochScript]] +
    * [[AnnIndex.epochScript]], raw ops dumped per table), interleave
    * them into ONE change log, drive ONE stream that maintains BOTH
    * indexes per trigger, then serve the fused ranking off the two
    * maintained artifacts. The oracle FULLY REBUILDS both sides from
    * the folded ops (BM25 over the document fold; the IVFADC chain
    * over the embedding fold + frozen-model dumps) and fuses with the
    * same integer RRF — maintained == rebuilt, jointly, is the row's
    * theorem. */
  def cdcMaintainAndServe(spark: SparkSession, docs: DataFrame,
      emb: DataFrame, centroidPath: String, codebookPath: String,
      docOpsPath: String, embOpsPath: String, epochs: Int = 3)
      : DataFrame = {
    val m = cdcMaintain(spark, docs, emb, centroidPath, codebookPath,
      docOpsPath, embOpsPath, epochs)
    val lexTopK = TextIndex.searchIndex(spark, m.txtIdx, m.txtStats,
      k = Bm25K)
    val live = AnnIndex.foldOps(spark.read.parquet(embOpsPath))
    val qs = live.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("q").as("qq"))
    val semTopK = AnnIndex.searchIndex(spark, m.annIdx, live, qs,
      m.cents, m.cb, RrfDepth, Similarity.IvfAdcProbe)
    fuse(lexTopK, semTopK)
  }

  /** Handle to a session's jointly-maintained artifacts — the serve
    * phase's whole dependency. */
  final case class MaintainedHybrid(txtIdx: String, txtStats: String,
      annIdx: String, cents: Seq[Seq[Long]], cb: Seq[Seq[Seq[Long]]])

  /** The one-stream-two-maintainers pass, memoized per (session, ops
    * paths) — see [[Memo]]: one pass per JVM; the change-log
    * and checkpoint temp dirs are removed as soon as the stream
    * finishes, both index artifacts live until JVM exit. */
  def cdcMaintain(spark: SparkSession, docs: DataFrame,
      emb: DataFrame, centroidPath: String, codebookPath: String,
      docOpsPath: String, embOpsPath: String, epochs: Int = 3)
      : MaintainedHybrid =
    Memo.get("hybcdc", (spark, docOpsPath, embOpsPath)) {
      import spark.implicits._
      val (cents, cb) = Similarity.ivfAdcModel(emb, centroidPath,
        codebookPath)
      val docSnap: Seq[(Long, String)] =
        docs.select("doc_id", "text").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
      val embSnap: Seq[(Long, Array[Long])] =
        Similarity.quantized(emb).select("vec_id", "q").collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toSeq
      val docOps = TextIndex.epochScript(docSnap, epochs)
      val embOps = AnnIndex.epochScript(embSnap, epochs)
      docOps.map(o => (o.lsn, o.action, o.docId, o.text.orNull))
        .toDF("lsn", "action", "doc_id", "text")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(docOpsPath)
      embOps.map(o => (o.lsn, o.action, o.vecId, o.emb.orNull))
        .toDF("lsn", "action", "vec_id", "emb")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(embOpsPath)
      val changeDir = Files.createTempDirectory("graft-hyb-log").toString
      val ckptDir = Files.createTempDirectory("graft-hyb-ckpt").toString
      val idxRoot = Memo.keepUntilExit(
        Files.createTempDirectory("graft-hyb-idx").toString)
      val txtIdx = s"$idxRoot/postings"
      val txtStats = s"$idxRoot/stats"
      val annIdx = s"$idxRoot/cells"
      try {
        // one change-log file per epoch carrying BOTH tables' lines —
        // the multi-table slot; per-key lsn order is what the fold
        // consumes, and each table owns its keys
        val byEpoch = (0 to epochs).map { e =>
          docOps.filter(_.epoch == e).sortBy(_.lsn).map(TextIndex.toLine) ++
            embOps.filter(_.epoch == e).sortBy(_.lsn).map(AnnIndex.toLine)
        }
        byEpoch.zipWithIndex.foreach { case (lines, e) =>
          ChangeGen.writeLineBatches(changeDir, lines, batches = 1,
            startIndex = e)
        }
        // maintenance width + AQE off for the whole span
        // (StreamHygiene.withMaintainConf — TextIndex's rationale)
        graft.streaming.StreamHygiene.withMaintainConf(spark,
            TextIndex.MicroShuffle) {
          val q = Ivm.mtDeltas(MultiTable.parseAll(
              ChangeSource.rawLines(spark, changeDir, Some(1)),
              Seq(TextIndex.DocSpec, AnnIndex.EmbSpec)))
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckptDir)
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (batch: Dataset[MtDelta], bid: Long) =>
              // one shared batch, two subscribers — each applier filters
              // its own table's deltas
              val pinned = batch.localCheckpoint(true)
              TextIndex.applyEpoch(spark, pinned, txtIdx, txtStats, bid)
              AnnIndex.applyEpoch(spark, pinned, annIdx, cents, cb)
              graft.streaming.StreamHygiene.releaseBlocks(pinned.toDF())
              ()
            }
            .start()
          try q.awaitTermination() finally q.stop()
        }
        MaintainedHybrid(txtIdx, txtStats, annIdx, cents, cb)
      } finally graft.streaming.StreamHygiene.cleanupRun(
        Seq(changeDir, ckptDir), owner = Some(spark))
    }

}
