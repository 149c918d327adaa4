package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc.{ChangeGen, MultiTable, TableSpec}
import graft.ml.{Dedup, Memo, SharedPass}

/** The two halves of the engine composed: a `documents` corpus
  * maintained as a CDC replica (the live-ingest shape — crawl workers
  * emitting insert/update/delete events through a changelog) feeding
  * the ML dedup surface directly off the replica read. At 100 TB this
  * is the daily loop: the corpus is never a static parquet drop, it is
  * a replicated table whose current image the curation passes consume.
  */
class CdcMlIntegrationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val docSpec = TableSpec("documents", "doc_id", None,
    StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))

  /** wal2json-v2 line for a documents-table change (texts here carry no
    * JSON metacharacters, so plain interpolation is safe). */
  private def docLine(lsn: Long, action: String, id: Long,
      text: String = ""): String = {
    val head = s""""lsn":$lsn,"action":"$action","timestamp":"2026-01-01 00:00:00.000000+00","schema":"public","table":"documents""""
    action match {
      case "D" =>
        s"""{$head,"identity":[{"name":"doc_id","type":"bigint","value":$id}]}"""
      case a =>
        val cols =
          s"""{"name":"doc_id","type":"bigint","value":$id},""" +
          s"""{"name":"text","type":"text","value":"$text"},""" +
          s"""{"name":"lang","type":"text","value":"en"},""" +
          s"""{"name":"source","type":"text","value":"cdc"},""" +
          s"""{"name":"n_chars","type":"bigint","value":${text.length}}"""
        val ident = if (a == "U")
          s""","identity":[{"name":"doc_id","type":"bigint","value":$id}]"""
        else ""
        s"""{$head,"columns":[$cols]$ident}"""
    }
  }

  test("CDC-replicated documents feed dedup: replica image == replay, dups collapse") {
    // texts: four groups of planted exact duplicates across 12 inserts
    def t(g: Long) = s"group $g sentence body repeated verbatim"
    val inserts = (1L to 12L).map(id => (id, "I", id, t(id % 4)))
    // then: U5 makes doc 5 unique (leaves its old group), U9 moves doc 9
    // into group 1, D3 removes a duplicate, D10 removes a whole doc
    val tail = Seq(
      (13L, "U", 5L, "now a unique text after the update"),
      (14L, "U", 9L, t(1)),
      (15L, "D", 3L, ""),
      (16L, "D", 10L, ""))
    val ops = inserts.map { case (lsn, a, id, tx) => (lsn, a, id, tx) } ++ tail
    val lines = ops.map { case (lsn, a, id, tx) => docLine(lsn, a, id, tx) }

    // in-memory replay = the semantic ground truth
    val replay = scala.collection.mutable.Map[Long, String]()
    ops.foreach {
      case (_, "D", id, _) => replay.remove(id)
      case (_, _, id, tx) => replay(id) = tx
    }
    val expected = replay.toSeq.map { case (id, tx) =>
      (id, tx, "en", "cdc", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

    val changeDir = Files.createTempDirectory("cdcml-log").toString
    val root = Files.createTempDirectory("cdcml-replica").toString
    val ckpt = Files.createTempDirectory("cdcml-ckpt").toString
    ChangeGen.writeLineBatches(changeDir, lines, batches = 4)
    val q = MultiTable.start(spark, changeDir, root, ckpt, Seq(docSpec),
      maxFilesPerTrigger = Some(1), trigger = Trigger.AvailableNow(),
      compactEvery = 2)
    try q.awaitTermination() finally q.stop()

    val replica = MultiTable.readTable(spark, root, docSpec)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "text", "lang", "source", "n_chars")
        .collect().map(_.toString).sorted.toSeq
    assert(rows(replica) === rows(expected),
      "replica image must equal the changelog replay")

    // the ML surface consumes the replica directly: dedup over the
    // replica == dedup over the ground-truth corpus, and the planted
    // groups actually collapsed
    def dedupRows(df: org.apache.spark.sql.DataFrame) =
      Dedup.exact(df).collect().map(_.toString).sorted.toSeq
    assert(dedupRows(replica) === dedupRows(expected))
    val survivors = Dedup.exact(replica).select("keeper_id")
      .as[Long].collect().toSet
    // group 0 = {4,8,12} → 4; group 1 = {1,9} (9 moved in, 5 moved out)
    // → 1; group 2 = {2,6} (10 deleted) → 2; group 3 = {7,11} (3
    // deleted) → 7; unique doc 5 survives alone
    assert(survivors === Set(1L, 2L, 4L, 5L, 7L))

    val lshTags = SharedPass.named("lsh_shared_pass").memoTags
    // the LSH banding path composes too: near-dup pairs computed off
    // the replica read equal pairs off the ground truth (identical
    // texts are J=1.0 pairs, so every planted group must surface)
    Memo.clear(lshTags: _*) // replica and expected must not share a memo key
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.nearDupPairs(df).select("doc_a", "doc_b")
        .as[(Long, Long)].collect().toSet
    val fromReplica = pairsOf(replica)
    Memo.clear(lshTags: _*)
    assert(fromReplica === pairsOf(expected))
    assert(fromReplica.contains((4L, 8L)) && fromReplica.contains((1L, 9L)),
      "planted exact-dup pairs must surface through the banding join")
    Memo.clear(lshTags: _*)
  }
}
