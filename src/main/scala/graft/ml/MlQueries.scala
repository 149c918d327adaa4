package graft.ml

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.sql.Declared

/** Declared queries for the LLM-data-pipeline operators (dedup,
  * similarity search, text analysis, multimodal metadata), each with a
  * DuckDB oracle over the same fixture tables.
  *
  * Oracle strategy: every float the queries emit is derived from exact
  * integer arithmetic (md5-hex→int64 hashes, fixed-point quantized
  * embeddings, integer-ratio stats), so Spark and DuckDB produce
  * BIT-IDENTICAL values — the driver's exact-equality compare passes
  * without tolerance. Probabilistic structures (LSH bands, simhash
  * blocks) are either mirrored verbatim in the SQL (minhash banding) or
  * provably equivalent to their exhaustive form (simhash byte-blocking
  * has recall 1.0 for hamming ≤ 6 by pigeonhole, so the all-pairs oracle
  * matches by theorem, not by luck).
  */
object MlQueries {
  import Dedup.{Bands, NumHashes, RowsPerBand, SimHashBits, MaxHamming}
  import MlFunctions.QScale
  import Similarity.{NProbe, QueryStride, TopK}

  /** DuckDB md5-hex→int64, the oracle twin of [[MlFunctions.hash60]]. */
  private def sqlHash60(x: String): String =
    s"CAST('0x' || substr(md5($x), 1, 15) AS BIGINT)"

  // ---- shared SQL fragments ------------------------------------------

  /** Word-3-shingle CTE body over `documents` (mirrors
    * [[MlFunctions.shingles]]). */
  private val shingleCte =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |shg AS (
      |  SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS sh
      |  FROM toks, unnest(range(1, len(tk) - 1)) AS t(i))""".stripMargin

  /** The affine hash family as a VALUES relation (h, a, b). */
  private val hashFamilySql: String = (0 until NumHashes).map { h =>
    s"(CAST(${h} AS BIGINT), CAST(${Dedup.HashA(h)} AS BIGINT), " +
      s"CAST(${Dedup.HashB(h)} AS BIGINT))"
  }.mkString(",\n    ")

  /** Long-form minhash signature CTE (requires [[shingleCte]]): one md5
    * per shingle, 64 affine hashes mod P (mirrors
    * [[Dedup.minhashWide]]). */
  private val sigCte =
    s"""shh AS (
       |  SELECT doc_id, ${sqlHash60("sh")} % ${Dedup.HashP} AS x FROM shg),
       |hf(h, a, b) AS (VALUES
       |    $hashFamilySql),
       |sig AS (
       |  SELECT doc_id, h, min((a * x + b) % ${Dedup.HashP}) AS m
       |  FROM shh, hf
       |  GROUP BY doc_id, h)""".stripMargin

  /** Quantized embedding elements CTE (mirrors [[MlFunctions.quantize]]):
    * (vec_id, label, i, q). */
  private val qeCte =
    s"""qe AS (
       |  SELECT vec_id, label, i,
       |         CAST(floor(CAST(embedding[i] AS DOUBLE) * $QScale + 0.5)
       |              AS BIGINT) AS q
       |  FROM embeddings, unnest(range(1, 65)) AS t(i))""".stripMargin

  private val nrmCte =
    "nrm AS (SELECT vec_id, sum(q*q) AS n2 FROM qe GROUP BY vec_id)"

  /** PID-scoped fixture dir for model state the oracle must read back
    * (the [[graft.cdc.CdcQueries.FixtureDir]] pattern): the query run
    * writes it, the oracle SQL `read_parquet`s it within the same
    * driver invocation. */
  private val FixtureDir: String =
    s"/tmp/graft_fixtures_${ProcessHandle.current().pid()}"
  private val pqCbPq = s"$FixtureDir/pq_codebook.parquet"
  private val ivfadcCentPq = s"$FixtureDir/ivfadc_centroids.parquet"
  private val ivfadcCbPq = s"$FixtureDir/ivfadc_codebook.parquet"
  private val ivfadcIdxCentPq = s"$FixtureDir/ivfadc_idx_centroids.parquet"
  private val ivfadcIdxCbPq = s"$FixtureDir/ivfadc_idx_codebook.parquet"
  private val ivfadcIdxPq = s"$FixtureDir/ivfadc_index.parquet"
  private val recallPqCbPq = s"$FixtureDir/recall_pq_codebook.parquet"
  private val recallAdcCentPq = s"$FixtureDir/recall_adc_centroids.parquet"
  private val recallAdcCbPq = s"$FixtureDir/recall_adc_codebook.parquet"
  private val ivfLabelsPq = s"$FixtureDir/ivf_trained_labels.parquet"
  private val annCdcCentPq = s"$FixtureDir/anncdc_centroids.parquet"
  private val annCdcCbPq = s"$FixtureDir/anncdc_codebook.parquet"
  private val annCdcOpsPq = s"$FixtureDir/anncdc_ops.parquet"
  private val annSsCentPq = s"$FixtureDir/annss_centroids.parquet"
  private val annSsCbPq = s"$FixtureDir/annss_codebook.parquet"
  private val annSsOpsPq = s"$FixtureDir/annss_ops.parquet"
  private val annSsLogPq = s"$FixtureDir/annss_genealogy.parquet"
  private val txtCdcOpsPq = s"$FixtureDir/txtcdc_ops.parquet"
  private val txtSsOpsPq = s"$FixtureDir/txtss_ops.parquet"
  private val dedupCdcOpsPq = s"$FixtureDir/dedupcdc_ops.parquet"
  private val expCdcOpsPq = s"$FixtureDir/expcdc_ops.parquet"
  private val hybCentPq = s"$FixtureDir/hyb_centroids.parquet"
  private val hybCbPq = s"$FixtureDir/hyb_codebook.parquet"
  private val hybDocOpsPq = s"$FixtureDir/hyb_doc_ops.parquet"
  private val hybEmbOpsPq = s"$FixtureDir/hyb_emb_ops.parquet"
  private val splitCent0Pq = s"$FixtureDir/split_centroids_pre.parquet"
  private val splitCent1Pq = s"$FixtureDir/split_centroids_post.parquet"
  private val splitCbPq = s"$FixtureDir/split_codebook.parquet"

  private def cosSql(d: String, na: String, nb: String): String =
    s"CAST($d AS DOUBLE) / (sqrt(CAST($na AS DOUBLE)) * sqrt(CAST($nb AS DOUBLE)))"

  // ---- dedup ----------------------------------------------------------

  private val dedupExact = Declared(
    "ml_dedup_exact",
    (s, d) => Dedup.exact(Tables(s, d, "documents")).orderBy("content_hash"),
    Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
           |       count(*) AS dup_cnt
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin))

  private val minhashSig = Declared(
    "ml_minhash_sig",
    (s, d) => Dedup.minhashLong(Tables(s, d, "documents")),
    Some(s"""WITH $shingleCte,
            |$sigCte
            |SELECT doc_id, h, m AS minhash
            |FROM sig ORDER BY doc_id, h""".stripMargin))

  /** Shared CTE chain for the LSH near-dup pipeline, ending in
    * `ndp(doc_a, doc_b, jaccard)` — the verified pairs. */
  private val nearPairsCtes =
    s"""$shingleCte,
       |$sigCte,
       |bands AS (
       |  SELECT doc_id, h // $RowsPerBand AS band,
       |         ${sqlHash60("string_agg(m::VARCHAR, ',' ORDER BY h)")} AS bk
       |  FROM sig GROUP BY doc_id, h // $RowsPerBand),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
       |sets AS (SELECT DISTINCT doc_id, sh FROM shg),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sets GROUP BY doc_id),
       |intr AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS ix
       |  FROM cand c
       |  JOIN sets sa ON sa.doc_id = c.doc_a
       |  JOIN sets sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
       |  GROUP BY c.doc_a, c.doc_b),
       |ndp AS (
       |  SELECT doc_a, doc_b, jaccard FROM (
       |    SELECT n.doc_a, n.doc_b,
       |           CAST(n.ix AS DOUBLE) / (za.sz + zb.sz - n.ix) AS jaccard
       |    FROM intr n
       |    JOIN sz za ON za.doc_id = n.doc_a
       |    JOIN sz zb ON zb.doc_id = n.doc_b)
       |  WHERE jaccard >= 0.7)""".stripMargin

  private val dedupNear = Declared(
    "ml_dedup_near",
    (s, d) => Dedup.nearDupPairs(Tables(s, d, "documents"), minJaccard = 0.7),
    Some(s"""WITH $nearPairsCtes
            |SELECT doc_a, doc_b, jaccard FROM ndp
            |ORDER BY doc_a, doc_b""".stripMargin))

  private val levNear = Declared(
    "ml_levenshtein_near",
    (s, d) => Dedup.levenshteinNearDups(Tables(s, d, "documents")),
    Some(s"""WITH $nearPairsCtes
            |SELECT p.doc_a, p.doc_b,
            |       CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
            |       p.jaccard
            |FROM ndp p
            |JOIN documents da ON da.doc_id = p.doc_a
            |JOIN documents db ON db.doc_id = p.doc_b
            |ORDER BY doc_a, doc_b""".stripMargin))

  private val charGramJac = Declared(
    "ml_chargram_jaccard",
    (s, d) => Dedup.charGramJaccard(Tables(s, d, "documents")),
    Some(s"""WITH $nearPairsCtes,
            |cg AS (
            |  SELECT DISTINCT doc_id,
            |         substr(text, CAST(i AS INT), ${Dedup.CharGramLen}) AS g
            |  FROM documents,
            |       unnest(range(1, length(text) - ${Dedup.CharGramLen - 2}))
            |         AS t(i)
            |  WHERE length(text) >= ${Dedup.CharGramLen}),
            |csz AS (SELECT doc_id, count(*) AS sz FROM cg GROUP BY doc_id),
            |cintr AS (
            |  SELECT p.doc_a, p.doc_b, count(*) AS ix
            |  FROM ndp p
            |  JOIN cg ga ON ga.doc_id = p.doc_a
            |  JOIN cg gb ON gb.doc_id = p.doc_b AND gb.g = ga.g
            |  GROUP BY p.doc_a, p.doc_b)
            |SELECT n.doc_a, n.doc_b,
            |       CAST(n.ix AS DOUBLE) / (za.sz + zb.sz - n.ix)
            |         AS char_jaccard
            |FROM cintr n
            |JOIN csz za ON za.doc_id = n.doc_a
            |JOIN csz zb ON zb.doc_id = n.doc_b
            |ORDER BY doc_a, doc_b""".stripMargin))

  /** Incremental-dedup oracle: same signature family split by the same
    * increment predicate, same banding, same agreeing-minhash estimate. */
  private val dedupIncrement = Declared(
    "ml_dedup_increment",
    (s, d) => {
      val docs = Tables(s, d, "documents")
      // minhash is per-row independent, so sign/sigo are FILTERS of the
      // corpus signature table — the family's one memoized pass (and,
      // staged, one parquet table) instead of two fresh corpus scans
      val sigs = Dedup.signatures(docs)
      Dedup.dedupIncrement(
        sigs.filter(col("doc_id") % 10 === 0),
        sigs.filter(col("doc_id") % 10 =!= 0),
        minEst = 0.5)
    },
    Some(s"""WITH $shingleCte,
            |$sigCte,
            |sign AS (SELECT * FROM sig WHERE doc_id % 10 = 0),
            |sigo AS (SELECT * FROM sig WHERE doc_id % 10 <> 0),
            |bandn AS (
            |  SELECT doc_id, h // $RowsPerBand AS band,
            |         ${sqlHash60("string_agg(m::VARCHAR, ',' ORDER BY h)")} AS bk
            |  FROM sign GROUP BY doc_id, h // $RowsPerBand),
            |bando AS (
            |  SELECT doc_id, h // $RowsPerBand AS band,
            |         ${sqlHash60("string_agg(m::VARCHAR, ',' ORDER BY h)")} AS bk
            |  FROM sigo GROUP BY doc_id, h // $RowsPerBand),
            |cand AS (
            |  SELECT DISTINCT i.doc_id AS new_id, c.doc_id AS matched_id
            |  FROM bandn i JOIN bando c ON i.band = c.band AND i.bk = c.bk),
            |est AS (
            |  SELECT cd.new_id AS doc_id, cd.matched_id,
            |         CAST(sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END)
            |              AS DOUBLE) / $NumHashes AS est_jaccard
            |  FROM cand cd
            |  JOIN sign a ON a.doc_id = cd.new_id
            |  JOIN sigo b ON b.doc_id = cd.matched_id AND b.h = a.h
            |  GROUP BY cd.new_id, cd.matched_id)
            |SELECT doc_id, matched_id, est_jaccard FROM (
            |  SELECT doc_id, matched_id, est_jaccard,
            |         row_number() OVER (PARTITION BY doc_id
            |           ORDER BY est_jaccard DESC, matched_id) AS rn
            |  FROM est WHERE est_jaccard >= 0.5)
            |WHERE rn = 1 ORDER BY doc_id""".stripMargin))

  /** The banding S-curve eval ([[Dedup.bandingSCurve]]): graded
    * prefix-truncation variants planted over every 10th doc sweep the
    * exact-Jaccard deciles, and the report measures — per decile — the
    * share of pairs the 16×4 band join recovers. The oracle re-derives
    * the planting (negative variant ids), the df ≤ [[Dedup.SCurveDfCap]]
    * shingle universe, the inverted index over it, the integer decile
    * binning, the full minhash/banding chain, and the left-join count. */
  private val dedupSCurve = Declared(
    "ml_dedup_scurve",
    (s, d) => Dedup.bandingSCurve(Tables(s, d, "documents")),
    Some(s"""WITH qt AS (
            |  SELECT doc_id, string_split(text, ' ') AS tk
            |  FROM documents WHERE doc_id % ${Dedup.SCurveSampleMod} = 0),
            |vars AS (
            |  SELECT -(${Dedup.SCurveVariantBase} * l + doc_id) AS doc_id,
            |         array_to_string(tk[1:CAST((len(tk) * l) // 10 AS INT)],
            |                         ' ') AS text
            |  FROM qt, unnest(range(1, 10)) AS t(l)
            |  WHERE (len(tk) * l) // 10 >= 3),
            |planted AS (
            |  SELECT doc_id, text FROM documents
            |  UNION ALL SELECT doc_id, text FROM vars),
            |toks AS (SELECT doc_id, string_split(text, ' ') AS tk
            |         FROM planted),
            |shg AS (
            |  SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS sh
            |  FROM toks, unnest(range(1, len(tk) - 1)) AS t(i)),
            |$sigCte,
            |bands AS (
            |  SELECT doc_id, h // $RowsPerBand AS band,
            |         ${sqlHash60("string_agg(m::VARCHAR, ',' ORDER BY h)")} AS bk
            |  FROM sig GROUP BY doc_id, h // $RowsPerBand),
            |cand AS (
            |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            |  FROM bands a JOIN bands b
            |    ON a.band = b.band AND a.bk = b.bk AND b.doc_id <> a.doc_id
            |  WHERE a.doc_id < 0),
            |sets AS (SELECT DISTINCT doc_id, sh FROM shg),
            |keep AS (SELECT sh FROM sets GROUP BY sh
            |         HAVING count(*) <= ${Dedup.SCurveDfCap}),
            |setsk AS (SELECT s.doc_id, s.sh
            |          FROM sets s JOIN keep k ON k.sh = s.sh),
            |sz AS (SELECT doc_id, count(*) AS sz FROM setsk GROUP BY doc_id),
            |intr AS (
            |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS ix
            |  FROM setsk sa JOIN setsk sb
            |    ON sb.sh = sa.sh AND sb.doc_id <> sa.doc_id
            |  WHERE sa.doc_id < 0
            |  GROUP BY 1, 2),
            |binned AS (
            |  SELECT i.doc_a, i.doc_b,
            |         least(9, (i.ix * 10) // (za.sz + zb.sz - i.ix)) AS bin
            |  FROM intr i
            |  JOIN sz za ON za.doc_id = i.doc_a
            |  JOIN sz zb ON zb.doc_id = i.doc_b)
            |SELECT bin, count(*) AS n_pairs, count(c.doc_a) AS n_cand,
            |       CAST(count(c.doc_a) AS DOUBLE) / count(*) AS cand_share
            |FROM binned b
            |LEFT JOIN cand c ON c.doc_a = b.doc_a AND c.doc_b = b.doc_b
            |GROUP BY bin ORDER BY bin""".stripMargin))

  /** One banding+estimate screen stage as CTEs: increment relation
    * `inc` vs signature-store relation `store` (both long-form sigs),
    * ending in `out(doc_id, matched_id, est_jaccard)` — each doc's best
    * store match at ≥ 0.5. The same fragment instantiated per epoch
    * gives the SEQUENTIAL screen an exact SQL form. */
  private def screenCtes(inc: String, store: String, out: String): String =
    s"""bn_$out AS (
       |  SELECT doc_id, h // $RowsPerBand AS band,
       |         ${sqlHash60("string_agg(m::VARCHAR, ',' ORDER BY h)")} AS bk
       |  FROM $inc GROUP BY doc_id, h // $RowsPerBand),
       |bo_$out AS (
       |  SELECT doc_id, h // $RowsPerBand AS band,
       |         ${sqlHash60("string_agg(m::VARCHAR, ',' ORDER BY h)")} AS bk
       |  FROM $store GROUP BY doc_id, h // $RowsPerBand),
       |cd_$out AS (
       |  SELECT DISTINCT i.doc_id AS new_id, c.doc_id AS matched_id
       |  FROM bn_$out i JOIN bo_$out c ON i.band = c.band AND i.bk = c.bk),
       |es_$out AS (
       |  SELECT cd.new_id AS doc_id, cd.matched_id,
       |         CAST(sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END)
       |              AS DOUBLE) / $NumHashes AS est_jaccard
       |  FROM cd_$out cd
       |  JOIN $inc a ON a.doc_id = cd.new_id
       |  JOIN $store b ON b.doc_id = cd.matched_id AND b.h = a.h
       |  GROUP BY cd.new_id, cd.matched_id),
       |$out AS (
       |  SELECT doc_id, matched_id, est_jaccard FROM (
       |    SELECT doc_id, matched_id, est_jaccard,
       |           row_number() OVER (PARTITION BY doc_id
       |             ORDER BY est_jaccard DESC, matched_id) AS rn
       |    FROM es_$out WHERE est_jaccard >= 0.5)
       |  WHERE rn = 1)""".stripMargin

  /** The STREAMING incremental-dedup semantics as a declared query
    * (r7): two "daily" epochs screened SEQUENTIALLY — epoch 2's store
    * is the corpus PLUS epoch 1's accepted signatures, exactly what
    * [[graft.streaming.IncrementalDedup]] does per micro-batch (its
    * checkpoint/restart behavior is spec-pinned; this row pins the
    * fold semantics against the DuckDB oracle). One row per screened
    * doc: (doc_id, epoch, accepted, matched_id, est_jaccard). */
  private val dedupStream = Declared(
    "ml_dedup_stream",
    (s, d) => {
      import org.apache.spark.sql.DataFrame
      val sigs = Dedup.signatures(Tables(s, d, "documents"))
      val corpus = sigs.filter(col("doc_id") % 10 =!= 0)
      val i1 = sigs.filter(col("doc_id") % 20 === 0)
      val i2 = sigs.filter(col("doc_id") % 20 === 10)
      // epoch 1's screen feeds THREE branches (its own output rows, the
      // accepted-signature anti-join, and epoch 2's store) — pin it
      // once or Spark recomputes the banding screen per branch
      val r1 = Dedup.dedupIncrement(i1, corpus, minEst = 0.5)
        .localCheckpoint()
      val a1Sigs = i1.join(r1.select("doc_id"), Seq("doc_id"), "left_anti")
        .localCheckpoint()
      val r2 = Dedup.dedupIncrement(i2, corpus.unionByName(a1Sigs),
        minEst = 0.5)
      val a2 = i2.select("doc_id")
        .join(r2.select("doc_id"), Seq("doc_id"), "left_anti")
      def rej(r: DataFrame, e: Int): DataFrame =
        r.select(col("doc_id"), lit(e).as("epoch"), lit(0).as("accepted"),
          col("matched_id"), col("est_jaccard"))
      def acc(a: DataFrame, e: Int): DataFrame =
        a.select(col("doc_id"), lit(e).as("epoch"), lit(1).as("accepted"),
          lit(null).cast("long").as("matched_id"),
          lit(null).cast("double").as("est_jaccard"))
      rej(r1, 1).unionByName(acc(a1Sigs.select("doc_id"), 1))
        .unionByName(rej(r2, 2)).unionByName(acc(a2, 2))
        .orderBy("doc_id")
    },
    Some(s"""WITH $shingleCte,
            |$sigCte,
            |sc AS (SELECT * FROM sig WHERE doc_id % 10 <> 0),
            |i1 AS (SELECT * FROM sig WHERE doc_id % 20 = 0),
            |i2 AS (SELECT * FROM sig WHERE doc_id % 20 = 10),
            |${screenCtes("i1", "sc", "rej1")},
            |a1 AS (SELECT DISTINCT doc_id FROM i1
            |       WHERE doc_id NOT IN (SELECT doc_id FROM rej1)),
            |st2 AS (SELECT * FROM sc
            |        UNION ALL
            |        SELECT s.* FROM sig s JOIN a1 USING (doc_id)),
            |${screenCtes("i2", "st2", "rej2")},
            |a2 AS (SELECT DISTINCT doc_id FROM i2
            |       WHERE doc_id NOT IN (SELECT doc_id FROM rej2))
            |SELECT doc_id, epoch, accepted, matched_id, est_jaccard FROM (
            |  SELECT doc_id, 1 AS epoch, 0 AS accepted,
            |         matched_id, est_jaccard FROM rej1
            |  UNION ALL
            |  SELECT doc_id, 1, 1, CAST(NULL AS BIGINT),
            |         CAST(NULL AS DOUBLE) FROM a1
            |  UNION ALL
            |  SELECT doc_id, 2, 0, matched_id, est_jaccard FROM rej2
            |  UNION ALL
            |  SELECT doc_id, 2, 1, CAST(NULL AS BIGINT),
            |         CAST(NULL AS DOUBLE) FROM a2)
            |ORDER BY doc_id""".stripMargin))

  /** L112 — the INDEXED continuous dedup gate
    * ([[graft.streaming.DedupGate]]): the `ml_dedup_stream` fold
    * semantics driven through the REAL file stream against the
    * [[graft.ml.DedupIndex]] partitioned store — per trigger the
    * screen reads only the probes' band buckets + the candidates'
    * signature buckets (never the whole store, the upgrade
    * [[graft.streaming.IncrementalDedup]]'s Scaladoc names for
    * sub-daily cadence), survivors append epoch-keyed
    * (bucket, batch=id) partitions, and replay is exact because reads
    * are epoch-scoped (`batch < id`) as well as writes epoch-keyed.
    * One divergence from the signature-level row, by design: docs too
    * short to shingle are ADMITTED (the gate passes what it cannot
    * screen), so the oracle derives accepted sets from the raw doc
    * relations instead of the signature relation. */
  private val dedupGate = Declared(
    "ml_dedup_gate_index",
    (s, d) => graft.streaming.DedupGate.gateRunDeclared(s,
      Tables(s, d, "documents")),
    Some(s"""WITH $shingleCte,
            |$sigCte,
            |sc AS (SELECT * FROM sig WHERE doc_id % 10 <> 0),
            |i1 AS (SELECT * FROM sig WHERE doc_id % 20 = 0),
            |i2 AS (SELECT * FROM sig WHERE doc_id % 20 = 10),
            |${screenCtes("i1", "sc", "rej1")},
            |a1 AS (SELECT DISTINCT doc_id FROM documents
            |       WHERE doc_id % 20 = 0
            |         AND doc_id NOT IN (SELECT doc_id FROM rej1)),
            |st2 AS (SELECT * FROM sc
            |        UNION ALL
            |        SELECT s.* FROM sig s JOIN a1 USING (doc_id)),
            |${screenCtes("i2", "st2", "rej2")},
            |a2 AS (SELECT DISTINCT doc_id FROM documents
            |       WHERE doc_id % 20 = 10
            |         AND doc_id NOT IN (SELECT doc_id FROM rej2))
            |SELECT doc_id, epoch, accepted, matched_id, est_jaccard FROM (
            |  SELECT doc_id, 1 AS epoch, 0 AS accepted,
            |         matched_id, est_jaccard FROM rej1
            |  UNION ALL
            |  SELECT doc_id, 1, 1, CAST(NULL AS BIGINT),
            |         CAST(NULL AS DOUBLE) FROM a1
            |  UNION ALL
            |  SELECT doc_id, 2, 0, matched_id, est_jaccard FROM rej2
            |  UNION ALL
            |  SELECT doc_id, 2, 1, CAST(NULL AS BIGINT),
            |         CAST(NULL AS DOUBLE) FROM a2)
            |ORDER BY doc_id""".stripMargin))

  private val dedupSimhash = Declared(
    "ml_dedup_simhash",
    (s, d) => Dedup.simhashPairs(Tables(s, d, "documents")),
    // all-pairs oracle == blocked engine result by pigeonhole (≤6 bit
    // diffs over 7 byte-blocks force a shared block)
    Some(s"""WITH tok AS (
            |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            |  FROM documents),
            |tc AS (
            |  SELECT doc_id, tok, count(*) AS cnt,
            |         ${sqlHash60("'t:' || tok")} AS th
            |  FROM tok GROUP BY doc_id, tok),
            |bits AS (
            |  SELECT doc_id, b, sum(cnt * (2 * ((th >> b) & 1) - 1)) AS s
            |  FROM tc, unnest(range(0, $SimHashBits)) AS u(b)
            |  GROUP BY doc_id, b),
            |sig AS (
            |  SELECT doc_id,
            |         sum(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << b)
            |                  ELSE 0 END) AS simhash
            |  FROM bits GROUP BY doc_id)
            |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
            |         AS hamming
            |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            |WHERE bit_count(xor(a.simhash, b.simhash)) <= $MaxHamming
            |ORDER BY doc_a, doc_b""".stripMargin))

  /** Recursive-CTE connected components over the verified pair graph:
    * `reach(u, r)` = "r reaches u"; min reachable id per node = its
    * component label (UNION dedups, so cycles terminate). Requires
    * [[nearPairsCtes]] under a WITH RECURSIVE header. */
  private val clusterCtes =
    s"""e AS (
       |  SELECT doc_a AS u, doc_b AS v FROM ndp
       |  UNION ALL SELECT doc_b, doc_a FROM ndp),
       |reach(u, r) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
       |  UNION
       |  SELECT e.v, reach.r FROM reach JOIN e ON e.u = reach.u),
       |cl AS (SELECT u AS doc_id, min(r) AS cluster_id
       |       FROM reach GROUP BY u)""".stripMargin

  private val dedupClusters = Declared(
    "ml_dedup_clusters",
    (s, d) => Dedup.dedupClusters(Tables(s, d, "documents")),
    Some(s"""WITH RECURSIVE $nearPairsCtes,
            |$clusterCtes
            |SELECT doc_id, cluster_id FROM cl ORDER BY doc_id""".stripMargin))

  private val ccCorpusSql =
    s"""WITH RECURSIVE $nearPairsCtes,
       |$clusterCtes,
       |keep AS (SELECT min(doc_id) AS doc_id FROM documents
       |         GROUP BY md5(text))
       |SELECT d.doc_id, d.lang, d.source, d.n_chars
       |FROM documents d
       |JOIN keep k ON k.doc_id = d.doc_id
       |WHERE d.doc_id NOT IN
       |  (SELECT doc_id FROM cl WHERE doc_id <> cluster_id)
       |ORDER BY d.doc_id""".stripMargin

  private val dedupCorpusCC = Declared(
    "ml_dedup_corpus_cc",
    (s, d) => Dedup.dedupCorpusCC(Tables(s, d, "documents")),
    Some(ccCorpusSql))

  /** Drives [[Dedup.pipeline]] end-to-end: every stage (signatures →
    * pairs → clusters → corpus) written to and re-read from parquet —
    * the staged 100 TB operational shape — with the final corpus checked
    * against the same recursive-CTE oracle as the in-memory path. */
  private val dedupPipeline = Declared(
    "ml_dedup_pipeline",
    (s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-dedup-stages").toString
      Dedup.pipeline(Tables(s, d, "documents"), dir).corpus.orderBy("doc_id")
    },
    Some(ccCorpusSql))

  private val dedupCorpus = Declared(
    "ml_dedup_corpus",
    (s, d) => Dedup.dedupCorpus(Tables(s, d, "documents")),
    Some(s"""WITH $nearPairsCtes,
            |keep AS (SELECT min(doc_id) AS doc_id FROM documents
            |         GROUP BY md5(text))
            |SELECT d.doc_id, d.lang, d.source, d.n_chars
            |FROM documents d
            |JOIN keep k ON k.doc_id = d.doc_id
            |WHERE d.doc_id NOT IN (SELECT DISTINCT doc_b FROM ndp)
            |ORDER BY d.doc_id""".stripMargin))

  // ---- similarity -----------------------------------------------------

  private def topkTailSql(dotsCte: String): String =
    s"""$dotsCte,
       |scored AS (
       |  SELECT d.query_id, d.neighbor_id,
       |         ${cosSql("d.d", "na.n2", "nb.n2")} AS cos
       |  FROM dots d
       |  JOIN nrm na ON na.vec_id = d.query_id
       |  JOIN nrm nb ON nb.vec_id = d.neighbor_id)
       |SELECT query_id, neighbor_id, cos, CAST(rn AS BIGINT) AS "rank"
       |FROM (SELECT query_id, neighbor_id, cos,
       |        row_number() OVER (PARTITION BY query_id
       |                           ORDER BY cos DESC, neighbor_id) AS rn
       |      FROM scored)
       |WHERE rn <= $TopK ORDER BY query_id, rn""".stripMargin

  private val cosineTopk = Declared(
    "ml_cosine_topk",
    (s, d) => Similarity.cosineTopK(Tables(s, d, "embeddings")),
    Some(s"""WITH $qeCte,
            |$nrmCte,
            |${topkTailSql(
              s"""dots AS (
                 |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 |         sum(a.q * b.q) AS d
                 |  FROM qe a JOIN qe b ON a.i = b.i AND a.vec_id <> b.vec_id
                 |  WHERE a.vec_id % $QueryStride = 0
                 |  GROUP BY a.vec_id, b.vec_id)""".stripMargin)}""".stripMargin))

  /** k-NN classification oracle: the cosine-topk pipeline (same CTEs)
    * plus a majority vote — max neighbor-label count, ties to the
    * lowest label via the row_number ordering. */
  private val knnClassify = Declared(
    "ml_knn_classify",
    (s, d) => Similarity.knnClassify(Tables(s, d, "embeddings")),
    Some(s"""WITH $qeCte,
            |$nrmCte,
            |dots AS (
            |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
            |         sum(a.q * b.q) AS d
            |  FROM qe a JOIN qe b ON a.i = b.i AND a.vec_id <> b.vec_id
            |  WHERE a.vec_id % $QueryStride = 0
            |  GROUP BY a.vec_id, b.vec_id),
            |scored AS (
            |  SELECT d.query_id, d.neighbor_id,
            |         ${cosSql("d.d", "na.n2", "nb.n2")} AS cos
            |  FROM dots d
            |  JOIN nrm na ON na.vec_id = d.query_id
            |  JOIN nrm nb ON nb.vec_id = d.neighbor_id),
            |top AS (
            |  SELECT query_id, neighbor_id FROM (
            |    SELECT query_id, neighbor_id,
            |      row_number() OVER (PARTITION BY query_id
            |        ORDER BY cos DESC, neighbor_id) AS rn
            |    FROM scored)
            |  WHERE rn <= ${Similarity.TopK}),
            |votes AS (
            |  SELECT t.query_id, e.label, count(*) AS c
            |  FROM top t JOIN embeddings e ON e.vec_id = t.neighbor_id
            |  GROUP BY 1, 2),
            |pred AS (
            |  SELECT query_id, label AS predicted FROM (
            |    SELECT query_id, label, row_number() OVER (
            |      PARTITION BY query_id ORDER BY c DESC, label) AS r
            |    FROM votes)
            |  WHERE r = 1)
            |SELECT p.query_id, p.predicted, e.label AS actual,
            |  CAST(p.predicted = e.label AS INT) AS correct
            |FROM pred p JOIN embeddings e ON e.vec_id = p.query_id
            |ORDER BY query_id""".stripMargin))

  /** Oracle for the native float-cosine expression: an explicit 64-term
    * left-associated sum — float→double casts and float×float products
    * are exact, and the addition chain matches the codegen loop's
    * ascending-index accumulation, so the doubles are bit-identical. */
  private val cosineTopkFast = Declared(
    "ml_cosine_topk_fast", {
      (s, d) => Similarity.cosineTopKFast(Tables(s, d, "embeddings"))
    },
    Some {
      def terms(x: String, y: String): String = (1 to 64).map(i =>
        s"(CAST($x.embedding[$i] AS DOUBLE) * CAST($y.embedding[$i] AS DOUBLE))")
        .mkString("\n      + ")
      s"""WITH scored AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |    (${terms("q", "e")})
         |    / (sqrt(${terms("q", "q")})
         |       * sqrt(${terms("e", "e")})) AS cos
         |  FROM embeddings q JOIN embeddings e
         |    ON q.vec_id % $QueryStride = 0 AND e.vec_id <> q.vec_id)
         |SELECT query_id, neighbor_id, cos, CAST(rn AS BIGINT) AS "rank"
         |FROM (SELECT query_id, neighbor_id, cos,
         |        row_number() OVER (PARTITION BY query_id
         |                           ORDER BY cos DESC, neighbor_id) AS rn
         |      FROM scored)
         |WHERE rn <= $TopK ORDER BY query_id, rn""".stripMargin
    })

  private val annIvf = Declared(
    "ml_ann_ivf",
    (s, d) => Similarity.ivfTopK(Tables(s, d, "embeddings")),
    Some(s"""WITH $qeCte,
            |$nrmCte,
            |cent AS (SELECT label, i, sum(q) AS cs FROM qe GROUP BY label, i),
            |qv AS (SELECT vec_id AS query_id, i, q FROM qe
            |       WHERE vec_id % $QueryStride = 0),
            |cell AS (
            |  SELECT qv.query_id, c.label,
            |         ${cosSql("sum(qv.q * c.cs)", "sum(qv.q * qv.q)",
                               "sum(c.cs * c.cs)")} AS cell_cos
            |  FROM qv JOIN cent c ON qv.i = c.i
            |  GROUP BY qv.query_id, c.label),
            |probe AS (
            |  SELECT query_id, label FROM (
            |    SELECT query_id, label,
            |           row_number() OVER (PARTITION BY query_id
            |                              ORDER BY cell_cos DESC, label) AS r
            |    FROM cell)
            |  WHERE r <= $NProbe),
            |${topkTailSql(
              s"""dots AS (
                 |  SELECT p.query_id, e.vec_id AS neighbor_id,
                 |         sum(qv.q * e.q) AS d
                 |  FROM probe p
                 |  JOIN qe e ON e.label = p.label AND e.vec_id <> p.query_id
                 |  JOIN qv ON qv.query_id = p.query_id AND qv.i = e.i
                 |  GROUP BY p.query_id, e.vec_id)""".stripMargin)}""".stripMargin))

  /** SRP-LSH oracle: hyperplanes regenerated from the same md5 hash
    * (`srp:t:h:i` → centered weight), sign bits → per-table buckets,
    * query probes = exact bucket + every one-bit flip, candidates
    * reranked by the shared exact-cosine tail. */
  private val annSrp = Declared(
    "ml_ann_lsh",
    (s, d) => Similarity.srpTopK(Tables(s, d, "embeddings")),
    Some(s"""WITH $qeCte,
            |$nrmCte,
            |hp AS (
            |  SELECT t.t, h.h, i.i,
            |         ${sqlHash60(s"'srp:' || t.t || ':' || h.h || ':' || i.i")}
            |           % 2001 - 1000 AS r
            |  FROM range(0, ${Similarity.SrpTables}) t(t),
            |       range(0, ${Similarity.SrpBits}) h(h),
            |       range(1, 65) i(i)),
            |bits AS (
            |  SELECT e.vec_id, p.t, p.h,
            |         CASE WHEN sum(e.q * p.r) >= 0 THEN 1 ELSE 0 END AS b
            |  FROM qe e JOIN hp p ON e.i = p.i
            |  GROUP BY e.vec_id, p.t, p.h),
            |buck AS (
            |  SELECT vec_id, t, CAST(sum(b * (1 << h)) AS BIGINT) AS bk
            |  FROM bits GROUP BY vec_id, t),
            |flips AS (
            |  SELECT CAST(0 AS BIGINT) AS fl
            |  UNION ALL
            |  SELECT CAST(1 << h AS BIGINT) FROM range(0, ${Similarity.SrpBits}) h(h)),
            |probes AS (
            |  SELECT b.vec_id AS query_id, b.t, xor(b.bk, f.fl) AS bk
            |  FROM buck b, flips f WHERE b.vec_id % $QueryStride = 0),
            |cand AS (
            |  SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
            |  FROM probes p
            |  JOIN buck c ON c.t = p.t AND c.bk = p.bk
            |             AND c.vec_id <> p.query_id),
            |${topkTailSql(
              s"""dots AS (
                 |  SELECT cd.query_id, cd.neighbor_id, sum(qv.q * e.q) AS d
                 |  FROM cand cd
                 |  JOIN qe e ON e.vec_id = cd.neighbor_id
                 |  JOIN qe qv ON qv.vec_id = cd.query_id AND qv.i = e.i
                 |  GROUP BY cd.query_id, cd.neighbor_id)""".stripMargin)}"""
      .stripMargin))

  /** JL projection oracle: same md5-derived weight matrix, long-form
    * integer dot per (vector, target dim). */
  /** PQ-ANN oracle: re-derives encoding and ADC from the dumped
    * codebooks. The query-side (vec, m, code) distance table doubles as
    * the ADC lookup table — `adc` joins it against the corpus encoding
    * instead of recomputing distances, exactly the LUT a production ADC
    * scan builds per query. Tie-breaks match the engine bit-for-bit via
    * the shared d2·K+code packing. */
  private val pqAnn = Declared(
    "ml_pq_ann",
    (s, d) => Similarity.pqTopK(Tables(s, d, "embeddings"), pqCbPq),
    Some(s"""WITH $qeCte,
            |cb AS (SELECT m, code, centroid
            |       FROM read_parquet('$pqCbPq/*.parquet')),
            |dist AS (
            |  SELECT qe.vec_id, cb.m, cb.code,
            |    CAST(sum(
            |      (qe.q - cb.centroid[(qe.i - 1) % ${Similarity.PqDims} + 1])
            |      * (qe.q - cb.centroid[(qe.i - 1) % ${Similarity.PqDims} + 1]))
            |      AS BIGINT) AS d2
            |  FROM qe JOIN cb ON (qe.i - 1) // ${Similarity.PqDims} = cb.m
            |  GROUP BY qe.vec_id, cb.m, cb.code),
            |enc AS (SELECT vec_id, m,
            |          CAST(min(d2 * ${Similarity.PqK} + code)
            |               % ${Similarity.PqK} AS INT) AS code
            |        FROM dist GROUP BY vec_id, m),
            |adc AS (
            |  SELECT q.vec_id AS query_id, e.vec_id,
            |         CAST(sum(q.d2) AS BIGINT) AS adc
            |  FROM dist q JOIN enc e ON q.m = e.m AND q.code = e.code
            |  WHERE q.vec_id % ${Similarity.QueryStride} = 0
            |  GROUP BY 1, 2),
            |cand AS (SELECT query_id, vec_id, adc,
            |           row_number() OVER (PARTITION BY query_id
            |             ORDER BY adc, vec_id) AS crank
            |         FROM adc),
            |ex AS (
            |  SELECT c.query_id, c.vec_id, c.adc,
            |    CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS exact_d2
            |  FROM cand c
            |  JOIN qe a ON a.vec_id = c.query_id
            |  JOIN qe b ON b.vec_id = c.vec_id AND b.i = a.i
            |  WHERE c.crank <= ${Similarity.PqTopK}
            |  GROUP BY 1, 2, 3)
            |SELECT query_id,
            |  CAST(row_number() OVER (PARTITION BY query_id
            |    ORDER BY exact_d2, vec_id) AS BIGINT) AS rank,
            |  vec_id, adc, exact_d2
            |FROM ex ORDER BY query_id, rank""".stripMargin))

  /** IVFADC oracle: coarse centroids + residual codebooks read from the
    * dumped model state; residual encoding, coarse probing, the
    * query-residual ADC LUT per probed cell, and exact rerank all
    * re-derived in SQL with the same integer arithmetic. */
  private val ivfAdc = Declared(
    "ml_ivfadc",
    (s, d) => Similarity.ivfAdcTopK(Tables(s, d, "embeddings"),
      ivfadcCentPq, ivfadcCbPq),
    Some(ivfAdcOracleSql(ivfadcCentPq, ivfadcCbPq)))

  /** The IVFADC oracle, parameterized by the model-dump paths so the
    * in-memory and index-served rows each read back their OWN dumped
    * state (identical algebra; the index is a pure layout change), and
    * by optional corpus/query category predicates (the pre-filtered
    * serving row restricts both sides; TRUE = the unfiltered rows'
    * exact former text modulo the added conjuncts). */
  private def ivfAdcOracleSql(centPath: String, cbPath: String,
      corpusPred: String = "TRUE", queryPred: String = "TRUE"): String =
    s"""WITH $qeCte,
            |cent AS (SELECT label, centroid
            |         FROM read_parquet('$centPath/*.parquet')),
            |cb AS (SELECT m, code, centroid
            |       FROM read_parquet('$cbPath/*.parquet')),
            |re AS (
            |  SELECT qe.vec_id, qe.label, qe.i,
            |         qe.q - cent.centroid[qe.i] AS r
            |  FROM qe JOIN cent ON qe.label = cent.label),
            |dist AS (
            |  SELECT re.vec_id, cb.m, cb.code,
            |    CAST(sum(
            |      (re.r - cb.centroid[(re.i - 1) % ${Similarity.PqDims} + 1])
            |      * (re.r - cb.centroid[(re.i - 1) % ${Similarity.PqDims} + 1]))
            |      AS BIGINT) AS d2
            |  FROM re JOIN cb ON (re.i - 1) // ${Similarity.PqDims} = cb.m
            |  GROUP BY 1, 2, 3),
            |enc AS (SELECT vec_id, m,
            |          CAST(min(d2 * ${Similarity.PqK} + code)
            |               % ${Similarity.PqK} AS INT) AS code
            |        FROM dist GROUP BY 1, 2),
            |cq AS (
            |  SELECT qe.vec_id AS query_id, cent.label AS cell,
            |    CAST(sum((qe.q - cent.centroid[qe.i])
            |             * (qe.q - cent.centroid[qe.i])) AS BIGINT) AS cd2
            |  FROM qe CROSS JOIN cent
            |  WHERE qe.vec_id % ${Similarity.QueryStride} = 0
            |    AND ($queryPred)
            |  GROUP BY 1, 2),
            |probe AS (
            |  SELECT query_id, cell FROM (
            |    SELECT query_id, cell, row_number() OVER (
            |      PARTITION BY query_id ORDER BY cd2, cell) AS pr
            |    FROM cq)
            |  WHERE pr <= ${Similarity.IvfAdcProbe}),
            |qlut AS (
            |  SELECT p.query_id, p.cell, cb.m, cb.code,
            |    CAST(sum(
            |      ((qe.q - cent.centroid[qe.i])
            |       - cb.centroid[(qe.i - 1) % ${Similarity.PqDims} + 1])
            |      * ((qe.q - cent.centroid[qe.i])
            |         - cb.centroid[(qe.i - 1) % ${Similarity.PqDims} + 1]))
            |      AS BIGINT) AS d2
            |  FROM probe p
            |  JOIN qe ON qe.vec_id = p.query_id
            |  JOIN cent ON cent.label = p.cell
            |  JOIN cb ON (qe.i - 1) // ${Similarity.PqDims} = cb.m
            |  GROUP BY 1, 2, 3, 4),
            |lv AS (SELECT DISTINCT vec_id, label FROM qe),
            |adc AS (
            |  SELECT q.query_id, lv.vec_id, CAST(sum(q.d2) AS BIGINT) AS adc
            |  FROM qlut q
            |  JOIN lv ON lv.label = q.cell
            |  JOIN enc e ON e.vec_id = lv.vec_id
            |    AND e.m = q.m AND e.code = q.code
            |  WHERE ($corpusPred)
            |  GROUP BY 1, 2),
            |cand AS (SELECT query_id, vec_id, adc,
            |           row_number() OVER (PARTITION BY query_id
            |             ORDER BY adc, vec_id) AS crank
            |         FROM adc),
            |ex AS (
            |  SELECT c.query_id, c.vec_id, c.adc,
            |    CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS exact_d2
            |  FROM cand c
            |  JOIN qe a ON a.vec_id = c.query_id
            |  JOIN qe b ON b.vec_id = c.vec_id AND b.i = a.i
            |  WHERE c.crank <= ${Similarity.PqTopK}
            |  GROUP BY 1, 2, 3)
            |SELECT query_id,
            |  CAST(row_number() OVER (PARTITION BY query_id
            |    ORDER BY exact_d2, vec_id) AS BIGINT) AS rank,
            |  vec_id, adc, exact_d2
            |FROM ex ORDER BY query_id, rank""".stripMargin

  /** L91 — IVFADC served through the materialized cell-partitioned
    * index: same model, same search algebra, but the encoded corpus is
    * WRITTEN `partitionBy(cell)` and the probed search reads it back
    * through partition pruning (files-read == probed cells, pinned in
    * PlanSpec). The oracle is the full in-memory derivation over this
    * row's own model dumps — result equality IS the proof the layout
    * is a pure optimization; MlSpec additionally pins row-for-row
    * equality with `ml_ivfadc`. */
  private val ivfAdcIndexed = Declared(
    "ml_ivfadc_indexed",
    (s, d) => Similarity.ivfAdcTopKIndexed(Tables(s, d, "embeddings"),
      ivfadcIdxCentPq, ivfadcIdxCbPq, ivfadcIdxPq),
    Some(ivfAdcOracleSql(ivfadcIdxCentPq, ivfadcIdxCbPq)))

  /** L103 — pre-filtered serving over the WRITTEN index (VERDICT r13
    * next #7 = the L101 wedge composed onto the L91 layout): the
    * category predicate rides INSIDE the partition-pruned cell scan
    * (the index stores `cat` next to the codes; PlanSpec pins that
    * `PushedFilters` carries the category test while files-read still
    * == probed cells). The oracle is the full IVFADC derivation with
    * the same category restriction on both the query and candidate
    * sides; it shares the L91 row's model dumps and index path — the
    * build is memoized per session, the serve paths differ. */
  private val ivfAdcIndexedFiltered = Declared(
    "ml_ann_filtered_indexed",
    (s, d) => Similarity.ivfAdcTopKIndexedFiltered(
      Tables(s, d, "embeddings"), ivfadcIdxCentPq, ivfadcIdxCbPq,
      ivfadcIdxPq),
    Some(ivfAdcOracleSql(ivfadcIdxCentPq, ivfadcIdxCbPq,
      corpusPred = s"lv.vec_id % ${Similarity.FilterMod} = 0",
      queryPred = s"qe.vec_id % ${Similarity.FilterMod} = 0")))

  /** The full IVFADC re-derivation chain over a dumped ops log +
    * frozen-model dumps, as WITH-clause CTEs: replica fold → quantizer
    * cell assignment → residual PQ encoding → probe selection
    * (`queryPred` picks the query rows) → per-(query, cell, m, code)
    * ADC LUT → ADC candidate top-`k` → exact rerank (`ex`, the final
    * CTE). Every CTE name carries prefix `p` so two chains (or a chain
    * plus other relations) compose in one statement — the
    * `ml_ann_cdc_index` oracle uses it bare; `ml_hybrid_cdc_serve`
    * splices a prefixed instance next to the lexical fold. */
  private def annCdcCtes(opsPq: String, centPq: String, cbPq: String,
      queryPred: String, k: Int, p: String = ""): String = {
    val (pd, pk, np) = (Similarity.PqDims, Similarity.PqK,
      Similarity.IvfAdcProbe)
    s"""${p}ops AS (SELECT lsn, action, vec_id, emb
       |            FROM read_parquet('$opsPq/*.parquet')),
       |${p}lastd AS (SELECT vec_id, max(lsn) AS dlsn FROM ${p}ops
       |          WHERE action = 'D' GROUP BY vec_id),
       |${p}fold AS MATERIALIZED (
       |  SELECT o.vec_id, arg_max(o.emb, o.lsn) AS emb
       |  FROM ${p}ops o LEFT JOIN ${p}lastd d ON o.vec_id = d.vec_id
       |  WHERE o.action <> 'D' AND o.lsn > coalesce(d.dlsn, -2)
       |  GROUP BY o.vec_id
       |  HAVING count(CASE WHEN o.action = 'I' THEN 1 END) > 0),
       |${p}fe AS MATERIALIZED (
       |  SELECT vec_id, i.i, CAST(parts[i.i] AS BIGINT) AS q
       |  FROM (SELECT vec_id, string_split(emb, ',') AS parts
       |        FROM ${p}fold), range(1, 65) i(i)),
       |${p}cent AS (SELECT label, centroid
       |         FROM read_parquet('$centPq/*.parquet')),
       |${p}cb AS (SELECT m, code, centroid
       |       FROM read_parquet('$cbPq/*.parquet')),
       |${p}cd AS MATERIALIZED (
       |  SELECT fe.vec_id, cent.label AS cell,
       |    CAST(sum((fe.q - cent.centroid[fe.i])
       |             * (fe.q - cent.centroid[fe.i])) AS BIGINT) AS d2
       |  FROM ${p}fe fe CROSS JOIN ${p}cent cent
       |  GROUP BY 1, 2),
       |${p}asgn AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2, cell) AS rn
       |    FROM ${p}cd)
       |  WHERE rn = 1),
       |${p}re AS (
       |  SELECT fe.vec_id, fe.i, fe.q - cent.centroid[fe.i] AS r
       |  FROM ${p}fe fe JOIN ${p}asgn a ON a.vec_id = fe.vec_id
       |  JOIN ${p}cent cent ON cent.label = a.cell),
       |${p}dist AS (
       |  SELECT re.vec_id, cb.m, cb.code,
       |    CAST(sum((re.r - cb.centroid[(re.i - 1) % $pd + 1])
       |      * (re.r - cb.centroid[(re.i - 1) % $pd + 1]))
       |      AS BIGINT) AS d2
       |  FROM ${p}re re JOIN ${p}cb cb ON (re.i - 1) // $pd = cb.m
       |  GROUP BY 1, 2, 3),
       |${p}enc AS (SELECT vec_id, m,
       |          CAST(min(d2 * $pk + code) % $pk AS INT) AS code
       |        FROM ${p}dist GROUP BY 1, 2),
       |${p}probe AS (
       |  SELECT vec_id AS query_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2, cell) AS pr
       |    FROM ${p}cd WHERE $queryPred)
       |  WHERE pr <= $np),
       |${p}qlut AS (
       |  SELECT p.query_id, p.cell, cb.m, cb.code,
       |    CAST(sum(((fe.q - cent.centroid[fe.i])
       |               - cb.centroid[(fe.i - 1) % $pd + 1])
       |            * ((fe.q - cent.centroid[fe.i])
       |               - cb.centroid[(fe.i - 1) % $pd + 1]))
       |      AS BIGINT) AS d2
       |  FROM ${p}probe p
       |  JOIN ${p}fe fe ON fe.vec_id = p.query_id
       |  JOIN ${p}cent cent ON cent.label = p.cell
       |  JOIN ${p}cb cb ON (fe.i - 1) // $pd = cb.m
       |  GROUP BY 1, 2, 3, 4),
       |${p}adc AS (
       |  SELECT q.query_id, a.vec_id, CAST(sum(q.d2) AS BIGINT) AS adc
       |  FROM ${p}qlut q
       |  JOIN ${p}asgn a ON a.cell = q.cell
       |  JOIN ${p}enc e ON e.vec_id = a.vec_id
       |    AND e.m = q.m AND e.code = q.code
       |  GROUP BY 1, 2),
       |${p}cand AS (SELECT query_id, vec_id, adc,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY adc, vec_id) AS crank
       |         FROM ${p}adc),
       |${p}ex AS (
       |  SELECT c.query_id, c.vec_id, c.adc,
       |    CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS exact_d2
       |  FROM ${p}cand c
       |  JOIN ${p}fe a ON a.vec_id = c.query_id
       |  JOIN ${p}fe b ON b.vec_id = c.vec_id AND b.i = a.i
       |  WHERE c.crank <= $k
       |  GROUP BY 1, 2, 3)""".stripMargin
  }


  /** L104 — the CDC-MAINTAINED serving index ([[AnnIndex]], VERDICT
    * r13 next #1): a snapshot epoch plus N incremental epochs of
    * embedding inserts/updates/deletes flow through the real streaming
    * path (slot scan → wal2json parse → per-key retraction deltas);
    * each epoch re-encodes only the changed keys against the FROZEN
    * model and rewrites only the touched cell partitions; the stride
    * query workload (drawn from the final live state) is served off
    * the maintained artifact. The oracle FULLY REBUILDS: it folds the
    * dumped raw ops to the final replica state, re-derives quantizer
    * cell assignment, residual encoding, probing, the ADC LUT, and the
    * exact rerank from the dumped frozen model — maintained == rebuilt
    * is the row's theorem. Epoch/partition-touch accounting and replay
    * idempotence are spec-pinned (AnnIndexSpec). */
  private val annCdcIndex = Declared(
    "ml_ann_cdc_index",
    (s, d) => AnnIndex.cdcMaintainAndSearch(s,
      Tables(s, d, "embeddings"), annCdcCentPq, annCdcCbPq, annCdcOpsPq),
    Some(s"""WITH ${annCdcCtes(annCdcOpsPq, annCdcCentPq, annCdcCbPq,
        s"vec_id % ${Similarity.QueryStride} = 0", Similarity.PqTopK)}
            |SELECT query_id,
            |  CAST(row_number() OVER (PARTITION BY query_id
            |    ORDER BY exact_d2, vec_id) AS BIGINT) AS rank,
            |  vec_id, adc, exact_d2
            |FROM ex ORDER BY query_id, rank""".stripMargin))

  /** The IVFADC re-derivation chain WITH the split genealogy — the
    * [[annCdcCtes]] chain where the quantizer is (frozen root, epoch-
    * keyed genealogy LOG) instead of a flat centroid list. Three
    * departures: `cent2` is the extended centroid list (each label's
    * LAST value in log order — a re-split parent's latest child-A
    * centroid wins); assignment descends the split tree (the sticky
    * rule): root argmin (`asgn0`), then one re-route step per
    * genealogy node, taken only while the vector currently sits at the
    * node's parent — precomputed per (vector, node) in `rr` (no
    * aggregates inside the recursion), folded by the recursive `walk`;
    * probing/encoding/LUT run against `cent2`. The engine's theorem
    * (AnnIndexSpec: maintained == sticky-tree rebuild) is what makes
    * this static SQL equal to the streamed, healed, WAL-ordered run:
    * every row's final cell is the full-genealogy descent of its FINAL
    * image, and its codes are residuals against that cell's FINAL
    * centroid. Requires `WITH RECURSIVE`. */
  private def annSsCtes(opsPq: String, centPq: String, cbPq: String,
      logPq: String, queryPred: String, k: Int): String = {
    val (pd, pk, np) = (Similarity.PqDims, Similarity.PqK,
      Similarity.IvfAdcProbe)
    s"""ops AS (SELECT lsn, action, vec_id, emb
       |        FROM read_parquet('$opsPq/*.parquet')),
       |lastd AS (SELECT vec_id, max(lsn) AS dlsn FROM ops
       |          WHERE action = 'D' GROUP BY vec_id),
       |fold AS MATERIALIZED (
       |  SELECT o.vec_id, arg_max(o.emb, o.lsn) AS emb
       |  FROM ops o LEFT JOIN lastd d ON o.vec_id = d.vec_id
       |  WHERE o.action <> 'D' AND o.lsn > coalesce(d.dlsn, -2)
       |  GROUP BY o.vec_id
       |  HAVING count(CASE WHEN o.action = 'I' THEN 1 END) > 0),
       |fe AS MATERIALIZED (
       |  SELECT vec_id, i.i, CAST(parts[i.i] AS BIGINT) AS q
       |  FROM (SELECT vec_id, string_split(emb, ',') AS parts
       |        FROM fold), range(1, 65) i(i)),
       |cent AS (SELECT label, centroid
       |         FROM read_parquet('$centPq/*.parquet')),
       |cbk AS (SELECT m, code, centroid
       |        FROM read_parquet('$cbPq/*.parquet')),
       |spl AS MATERIALIZED (
       |  SELECT row_number() OVER (
       |      ORDER BY CAST(epoch AS BIGINT), ord) AS sid,
       |    parent, child_b, cent_a, cent_b
       |  FROM read_parquet('$logPq/*/*.parquet',
       |                    hive_partitioning = true)),
       |nspl AS (SELECT count(*) AS n FROM spl),
       |cent2 AS MATERIALIZED (
       |  SELECT label, arg_max(centroid, sid) AS centroid FROM (
       |    SELECT label, centroid, 0 AS sid FROM cent
       |    UNION ALL SELECT parent, cent_a, sid FROM spl
       |    UNION ALL SELECT child_b, cent_b, sid FROM spl)
       |  GROUP BY label),
       |cd AS MATERIALIZED (
       |  SELECT fe.vec_id, cent.label AS cell,
       |    CAST(sum((fe.q - cent.centroid[fe.i])
       |             * (fe.q - cent.centroid[fe.i])) AS BIGINT) AS d2
       |  FROM fe CROSS JOIN cent
       |  GROUP BY 1, 2),
       |asgn0 AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2, cell) AS rn
       |    FROM cd)
       |  WHERE rn = 1),
       |rr AS MATERIALIZED (
       |  SELECT vec_id, sid, parent,
       |    CASE WHEN da <= db THEN parent ELSE child_b END AS routed
       |  FROM (
       |    SELECT fe.vec_id, s.sid, s.parent, s.child_b,
       |      CAST(sum((fe.q - s.cent_a[fe.i])
       |               * (fe.q - s.cent_a[fe.i])) AS BIGINT) AS da,
       |      CAST(sum((fe.q - s.cent_b[fe.i])
       |               * (fe.q - s.cent_b[fe.i])) AS BIGINT) AS db
       |    FROM fe CROSS JOIN spl s
       |    GROUP BY 1, 2, 3, 4)),
       |walk AS (
       |  SELECT vec_id, cell, 0 AS i FROM asgn0
       |  UNION ALL
       |  SELECT w.vec_id,
       |    CASE WHEN w.cell = r.parent THEN r.routed ELSE w.cell END,
       |    w.i + 1
       |  FROM walk w JOIN rr r ON r.vec_id = w.vec_id
       |    AND r.sid = w.i + 1),
       |asgn AS MATERIALIZED (
       |  SELECT w.vec_id, w.cell FROM walk w, nspl WHERE w.i = nspl.n),
       |re AS (
       |  SELECT fe.vec_id, fe.i, fe.q - c.centroid[fe.i] AS r
       |  FROM fe JOIN asgn a ON a.vec_id = fe.vec_id
       |  JOIN cent2 c ON c.label = a.cell),
       |dist AS (
       |  SELECT re.vec_id, cbk.m, cbk.code,
       |    CAST(sum((re.r - cbk.centroid[(re.i - 1) % $pd + 1])
       |      * (re.r - cbk.centroid[(re.i - 1) % $pd + 1]))
       |      AS BIGINT) AS d2
       |  FROM re JOIN cbk ON (re.i - 1) // $pd = cbk.m
       |  GROUP BY 1, 2, 3),
       |enc AS (SELECT vec_id, m,
       |          CAST(min(d2 * $pk + code) % $pk AS INT) AS code
       |        FROM dist GROUP BY 1, 2),
       |cd2 AS MATERIALIZED (
       |  SELECT fe.vec_id, c.label AS cell,
       |    CAST(sum((fe.q - c.centroid[fe.i])
       |             * (fe.q - c.centroid[fe.i])) AS BIGINT) AS d2
       |  FROM fe CROSS JOIN cent2 c
       |  WHERE $queryPred
       |  GROUP BY 1, 2),
       |probe AS (
       |  SELECT vec_id AS query_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2, cell) AS pr
       |    FROM cd2)
       |  WHERE pr <= $np),
       |qlut AS (
       |  SELECT p.query_id, p.cell, cbk.m, cbk.code,
       |    CAST(sum(((fe.q - c.centroid[fe.i])
       |               - cbk.centroid[(fe.i - 1) % $pd + 1])
       |            * ((fe.q - c.centroid[fe.i])
       |               - cbk.centroid[(fe.i - 1) % $pd + 1]))
       |      AS BIGINT) AS d2
       |  FROM probe p
       |  JOIN fe ON fe.vec_id = p.query_id
       |  JOIN cent2 c ON c.label = p.cell
       |  JOIN cbk ON (fe.i - 1) // $pd = cbk.m
       |  GROUP BY 1, 2, 3, 4),
       |adc AS (
       |  SELECT q.query_id, a.vec_id, CAST(sum(q.d2) AS BIGINT) AS adc
       |  FROM qlut q
       |  JOIN asgn a ON a.cell = q.cell
       |  JOIN enc e ON e.vec_id = a.vec_id
       |    AND e.m = q.m AND e.code = q.code
       |  GROUP BY 1, 2),
       |cand AS (SELECT query_id, vec_id, adc,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY adc, vec_id) AS crank
       |         FROM adc),
       |ex AS (
       |  SELECT c.query_id, c.vec_id, c.adc,
       |    CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS exact_d2
       |  FROM cand c
       |  JOIN fe a ON a.vec_id = c.query_id
       |  JOIN fe b ON b.vec_id = c.vec_id AND b.i = a.i
       |  WHERE c.crank <= $k
       |  GROUP BY 1, 2, 3)""".stripMargin
  }

  /** L118 — IN-STREAM re-balance on the IVF layout
    * ([[AnnIndex.cdcMaintainAndSearchRebalanced]]): the
    * `ml_ann_cdc_index` stream with the size-triggered cell-split
    * policy running INSIDE each trigger, write-ahead-logged to the
    * epoch-keyed genealogy log with the 2-means child centroids as
    * payload, the epoch's (vec_id, q) REPLICA landing first (split
    * training and healing read real member vectors — the index rows
    * carry only lossy codes). Serves the stride workload drawn from
    * the maintained replica through the quantizer reconstructed from
    * root + LOG. Unlike the text row, splits here are NOT pure layout
    * moves — they change assignment, residuals, and probing — so the
    * oracle re-derives the full post-split chain ([[annSsCtes]]):
    * descent assignment over the logged genealogy, encoding and ADC
    * against the extended centroid list. Crash windows and restart
    * convergence are spec-pinned (AnnIndexSpec). */
  private val annStreamSplit = Declared(
    "ml_ann_stream_split",
    (s, d) => AnnIndex.cdcMaintainAndSearchRebalanced(s,
      Tables(s, d, "embeddings"), annSsCentPq, annSsCbPq, annSsOpsPq,
      annSsLogPq),
    Some(s"""WITH RECURSIVE ${annSsCtes(annSsOpsPq, annSsCentPq,
        annSsCbPq, annSsLogPq,
        s"vec_id % ${Similarity.QueryStride} = 0", Similarity.PqTopK)}
            |SELECT query_id,
            |  CAST(row_number() OVER (PARTITION BY query_id
            |    ORDER BY exact_d2, vec_id) AS BIGINT) AS rank,
            |  vec_id, adc, exact_d2
            |FROM ex ORDER BY query_id, rank""".stripMargin))

  /** L113 — the maintained retrieval stack served off ONE replication
    * stream ([[graft.ml.HybridServe]]): a single multi-table CDC
    * subscription carries document AND embedding changes, each
    * micro-batch routes its deltas to BOTH index maintainers (the L105
    * inverted postings and the L104 IVFADC cells — one shared parsed
    * batch, two subscribers), and serving fuses the maintained BM25
    * top-k with the maintained IVFADC top-k for the standing query
    * vector by the `ml_hybrid_rrf` integer RRF algebra. The oracle
    * FULLY REBUILDS both sides — BM25 over the folded document ops,
    * the complete IVFADC chain over the folded embedding ops + this
    * row's frozen-model dumps — and fuses identically: maintained ==
    * rebuilt, JOINTLY across two indexes fed by one stream, is the
    * row's theorem. (The semantic list keeps the query vector itself
    * at rank 1 — the maintained search's natural convention; the
    * static hybrid row's cosine scan excludes self.) */
  private val hybridCdcServe = Declared(
    "ml_hybrid_cdc_serve",
    (s, d) => HybridServe.cdcMaintainAndServe(s,
      Tables(s, d, "documents"), Tables(s, d, "embeddings"),
      hybCentPq, hybCbPq, hybDocOpsPq, hybEmbOpsPq),
    Some(s"""WITH ${bm25CdcCtes(hybDocOpsPq, "d")},
            |bm AS (
            |  SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score_fp
            |  FROM dc GROUP BY doc_id
            |  ORDER BY score_fp DESC, doc_id LIMIT ${TextAnalysis.Bm25K}),
            |lex AS (
            |  SELECT doc_id, CAST(row_number() OVER (
            |    ORDER BY score_fp DESC, doc_id) AS BIGINT) AS lex_rank
            |  FROM bm),
            |${annCdcCtes(hybEmbOpsPq, hybCentPq, hybCbPq,
               "vec_id = 0", TextAnalysis.RrfDepth, "e")},
            |sem AS (
            |  SELECT vec_id AS doc_id,
            |    CAST(row_number() OVER (ORDER BY exact_d2, vec_id)
            |      AS BIGINT) AS sem_rank
            |  FROM eex)
            |SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
            |  l.lex_rank, s.sem_rank,
            |  CAST(coalesce(${TextAnalysis.RrfScale} //
            |         (${TextAnalysis.RrfK} + l.lex_rank), 0) +
            |       coalesce(${TextAnalysis.RrfScale} //
            |         (${TextAnalysis.RrfK} + s.sem_rank), 0)
            |    AS BIGINT) AS rrf_fp
            |FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
            |ORDER BY rrf_fp DESC, doc_id""".stripMargin))

  /** L106 — adaptive cell split ([[AnnIndex.splitCell]]): the
    * re-balance maintenance between the cheap append path and the rare
    * full re-train. The engine builds the cell-partitioned index,
    * splits the LARGEST cell into two children by a deterministic
    * local 2-means (sticky assignment — only the split cell's members
    * move, exactly two partitions rewrite), and serves the stride
    * workload off the re-balanced artifact. The oracle re-derives
    * pre-split assignment from the pre-split centroid dump, picks the
    * same largest cell (count-desc, ties to the lowest label — pure
    * SQL), applies the same sticky two-child override from the
    * post-split dump, and rebuilds encoding, probing, ADC, and the
    * exact rerank. Partition-touch accounting and the sticky-rebuild
    * identity are spec-pinned (AnnIndexSpec). */
  private val annCellSplit = Declared(
    "ml_ann_cell_split",
    (s, d) => AnnIndex.splitAndServe(s, Tables(s, d, "embeddings"),
      splitCent0Pq, splitCent1Pq, splitCbPq),
    Some {
      val (pd, pk, np, k) = (Similarity.PqDims, Similarity.PqK,
        Similarity.IvfAdcProbe, Similarity.PqTopK)
      s"""WITH $qeCte,
         |cent0 AS (SELECT label, centroid
         |          FROM read_parquet('$splitCent0Pq/*.parquet')),
         |cent1 AS (SELECT label, centroid
         |          FROM read_parquet('$splitCent1Pq/*.parquet')),
         |cb AS (SELECT m, code, centroid
         |       FROM read_parquet('$splitCbPq/*.parquet')),
         |cd0 AS MATERIALIZED (
         |  SELECT qe.vec_id, cent0.label AS cell,
         |    CAST(sum((qe.q - cent0.centroid[qe.i])
         |             * (qe.q - cent0.centroid[qe.i])) AS BIGINT) AS d2
         |  FROM qe CROSS JOIN cent0
         |  GROUP BY 1, 2),
         |asgn0 AS MATERIALIZED (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d2, cell) AS rn
         |    FROM cd0)
         |  WHERE rn = 1),
         |big AS (SELECT cell FROM asgn0
         |        GROUP BY cell ORDER BY count(*) DESC, cell LIMIT 1),
         |nc AS (SELECT count(*) AS c FROM cent0),
         |cd1 AS (
         |  SELECT a.vec_id, c1.label AS cell,
         |    CAST(sum((qe.q - c1.centroid[qe.i])
         |             * (qe.q - c1.centroid[qe.i])) AS BIGINT) AS d2
         |  FROM asgn0 a
         |  JOIN qe ON qe.vec_id = a.vec_id
         |  JOIN cent1 c1 ON c1.label = (SELECT cell FROM big)
         |               OR c1.label = (SELECT c FROM nc)
         |  WHERE a.cell = (SELECT cell FROM big)
         |  GROUP BY 1, 2),
         |asgn AS MATERIALIZED (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d2, cell) AS rn
         |    FROM cd1)
         |  WHERE rn = 1
         |  UNION ALL
         |  SELECT vec_id, cell FROM asgn0
         |  WHERE cell <> (SELECT cell FROM big)),
         |re AS (
         |  SELECT qe.vec_id, qe.i, qe.q - c1.centroid[qe.i] AS r
         |  FROM qe JOIN asgn a ON a.vec_id = qe.vec_id
         |  JOIN cent1 c1 ON c1.label = a.cell),
         |dist AS (
         |  SELECT re.vec_id, cb.m, cb.code,
         |    CAST(sum((re.r - cb.centroid[(re.i - 1) % $pd + 1])
         |      * (re.r - cb.centroid[(re.i - 1) % $pd + 1]))
         |      AS BIGINT) AS d2
         |  FROM re JOIN cb ON (re.i - 1) // $pd = cb.m
         |  GROUP BY 1, 2, 3),
         |enc AS (SELECT vec_id, m,
         |          CAST(min(d2 * $pk + code) % $pk AS INT) AS code
         |        FROM dist GROUP BY 1, 2),
         |cdq AS MATERIALIZED (
         |  SELECT qe.vec_id, c1.label AS cell,
         |    CAST(sum((qe.q - c1.centroid[qe.i])
         |             * (qe.q - c1.centroid[qe.i])) AS BIGINT) AS d2
         |  FROM qe CROSS JOIN cent1 c1
         |  WHERE qe.vec_id % ${Similarity.QueryStride} = 0
         |  GROUP BY 1, 2),
         |probe AS (
         |  SELECT vec_id AS query_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d2, cell) AS pr
         |    FROM cdq)
         |  WHERE pr <= $np),
         |qlut AS (
         |  SELECT p.query_id, p.cell, cb.m, cb.code,
         |    CAST(sum(((qe.q - c1.centroid[qe.i])
         |               - cb.centroid[(qe.i - 1) % $pd + 1])
         |            * ((qe.q - c1.centroid[qe.i])
         |               - cb.centroid[(qe.i - 1) % $pd + 1]))
         |      AS BIGINT) AS d2
         |  FROM probe p
         |  JOIN qe ON qe.vec_id = p.query_id
         |  JOIN cent1 c1 ON c1.label = p.cell
         |  JOIN cb ON (qe.i - 1) // $pd = cb.m
         |  GROUP BY 1, 2, 3, 4),
         |adc AS (
         |  SELECT q.query_id, a.vec_id, CAST(sum(q.d2) AS BIGINT) AS adc
         |  FROM qlut q
         |  JOIN asgn a ON a.cell = q.cell
         |  JOIN enc e ON e.vec_id = a.vec_id
         |    AND e.m = q.m AND e.code = q.code
         |  GROUP BY 1, 2),
         |cand AS (SELECT query_id, vec_id, adc,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY adc, vec_id) AS crank
         |         FROM adc),
         |ex AS (
         |  SELECT c.query_id, c.vec_id, c.adc,
         |    CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS exact_d2
         |  FROM cand c
         |  JOIN qe a ON a.vec_id = c.query_id
         |  JOIN qe b ON b.vec_id = c.vec_id AND b.i = a.i
         |  WHERE c.crank <= $k
         |  GROUP BY 1, 2, 3)
         |SELECT query_id,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY exact_d2, vec_id) AS BIGINT) AS rank,
         |  vec_id, adc, exact_d2
         |FROM ex ORDER BY query_id, rank""".stripMargin
    })

  private val randProj = Declared(
    "ml_rand_proj",
    (s, d) => Similarity.randomProjection(Tables(s, d, "embeddings")),
    Some(s"""WITH $qeCte,
            |pw AS (
            |  SELECT d.d, i.i,
            |         ${sqlHash60("'srp:' || (100 + d.d) || ':0:' || i.i")}
            |           % 2001 - 1000 AS r
            |  FROM range(0, ${Similarity.ProjDims}) d(d), range(1, 65) i(i))
            |SELECT e.vec_id, p.d, CAST(sum(e.q * p.r) AS BIGINT) AS pv
            |FROM qe e JOIN pw p ON e.i = p.i
            |GROUP BY e.vec_id, p.d
            |ORDER BY vec_id, d""".stripMargin))

  /** Lloyd-step oracle: same Σv centroids from the quantized elements,
    * per-(vector, cell) integer dots, argmax with lowest-label ties. */
  private val kmeansStep = Declared(
    "ml_kmeans_step",
    (s, d) => Similarity.kmeansStep(Tables(s, d, "embeddings")),
    Some(s"""WITH $qeCte,
            |$nrmCte,
            |cent AS (SELECT label, i, sum(q) AS cs FROM qe GROUP BY label, i),
            |cn AS (SELECT label, sum(cs*cs) AS nc FROM cent GROUP BY label),
            |asgn AS (
            |  SELECT e.vec_id, c.label AS cand, sum(e.q * c.cs) AS d
            |  FROM qe e JOIN cent c ON e.i = c.i
            |  GROUP BY e.vec_id, c.label),
            |scored AS (
            |  SELECT a.vec_id, a.cand,
            |         ${cosSql("a.d", "n.n2", "cn.nc")} AS score
            |  FROM asgn a
            |  JOIN nrm n ON n.vec_id = a.vec_id
            |  JOIN cn ON cn.label = a.cand)
            |SELECT s.vec_id, e.label, s.cand AS new_label,
            |       CAST(e.label <> s.cand AS INT) AS moved
            |FROM (SELECT vec_id, cand,
            |        row_number() OVER (PARTITION BY vec_id
            |          ORDER BY score DESC, cand) AS rn
            |      FROM scored) s
            |JOIN (SELECT DISTINCT vec_id, label FROM embeddings) e
            |  ON e.vec_id = s.vec_id
            |WHERE s.rn = 1 ORDER BY s.vec_id""".stripMargin))

  private val embedNearDup = Declared(
    "ml_embed_neardup",
    (s, d) => Similarity.embeddingNearDups(Tables(s, d, "embeddings"),
      minCos = 0.4),
    Some(s"""WITH $qeCte,
            |$nrmCte,
            |dots AS (
            |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
            |         a.label AS label, sum(a.q * b.q) AS d
            |  FROM qe a JOIN qe b
            |    ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
            |  GROUP BY a.vec_id, b.vec_id, a.label)
            |SELECT vec_a, vec_b, label, cos FROM (
            |  SELECT t.vec_a, t.vec_b, t.label,
            |         ${cosSql("t.d", "na.n2", "nb.n2")} AS cos
            |  FROM dots t
            |  JOIN nrm na ON na.vec_id = t.vec_a
            |  JOIN nrm nb ON nb.vec_id = t.vec_b)
            |WHERE cos >= 0.4 ORDER BY vec_a, vec_b""".stripMargin))

  /** Semantic-dedup oracle: same blocked pair space, drop side as a NOT
    * IN over the distinct higher ids. */
  private val semDedup = Declared(
    "ml_semantic_dedup",
    (s, d) => Similarity.semanticDedup(Tables(s, d, "embeddings"),
      minCos = 0.4),
    Some(s"""WITH $qeCte,
            |$nrmCte,
            |dots AS (
            |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
            |         sum(a.q * b.q) AS d
            |  FROM qe a JOIN qe b
            |    ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
            |  GROUP BY a.vec_id, b.vec_id),
            |drops AS (
            |  SELECT DISTINCT t.vec_b
            |  FROM dots t
            |  JOIN nrm na ON na.vec_id = t.vec_a
            |  JOIN nrm nb ON nb.vec_id = t.vec_b
            |  WHERE ${cosSql("t.d", "na.n2", "nb.n2")} >= 0.4)
            |SELECT vec_id, label FROM embeddings
            |WHERE vec_id NOT IN (SELECT vec_b FROM drops)
            |ORDER BY vec_id""".stripMargin))

  // ---- text analysis --------------------------------------------------

  private def sqlMarkerList(words: Seq[String]): String =
    s"""list_filter(string_split(text, ' '), t -> t IN (${
      words.map(w => s"'$w'").mkString(", ")}))"""

  private def sqlMarkerCount(words: Seq[String]): String =
    s"CAST(len(${sqlMarkerList(words)}) AS BIGINT)"

  /** The textStats projection (no ORDER BY) — shared by the stats query
    * and the quality gate built on top of it. */
  private val textStatsSql =
    s"""SELECT doc_id, lang, source, n_tokens, n_distinct, n_chars,
       |       avg_token_len, ttr, stop_ratio,
       |       ttr * (1.0 - stop_ratio) *
       |         (CAST(least(n_tokens, 100) AS DOUBLE) / 100.0) AS quality
       |FROM (
       |  SELECT doc_id, lang, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
       |      AS n_distinct,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS avg_token_len,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS ttr,
       |    CAST(len(${sqlMarkerList(TextAnalysis.Stopwords)}) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS stop_ratio
       |  FROM documents)""".stripMargin

  private val textStats = Declared(
    "ml_text_stats",
    (s, d) => TextAnalysis.textStats(Tables(s, d, "documents")),
    Some(s"$textStatsSql\nORDER BY doc_id"))

  /** Text normalization (L51): the fixture text is already clean, so
    * the query seeds deterministic doc_id-derived whitespace mess and a
    * control character into the text on BOTH sides (the [[piiRedact]]
    * pattern), then compares the normalized text exactly. */
  private val textNormalize = Declared(
    "ml_text_normalize",
    (s, d) => {
      val messy = Tables(s, d, "documents").withColumn("text",
        concat(col("text"), lit(" \t\t "),
          expr("repeat(' ', CAST(doc_id % 5 AS INT) + 1)"),
          lit("tail\n\r\u0001x")))
      TextAnalysis.normalizeText(messy)
    },
    Some("""WITH messy AS (
           |  SELECT doc_id,
           |    text || ' ' || chr(9) || chr(9) || ' ' ||
           |    repeat(' ', CAST(doc_id % 5 AS INT) + 1) || 'tail' ||
           |    chr(10) || chr(13) || chr(1) || 'x' AS text
           |  FROM documents
           |), norm AS (
           |  SELECT doc_id, text,
           |    trim(regexp_replace(regexp_replace(text,
           |      '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g'),
           |      '[ \t\n\r\f]+', ' ', 'g')) AS norm_text
           |  FROM messy
           |)
           |SELECT doc_id, norm_text,
           |  CAST(length(text) - length(norm_text) AS BIGINT)
           |    AS chars_removed
           |FROM norm ORDER BY doc_id""".stripMargin))

  /** PII redaction (L50): the fixture text carries no PII, so the query
    * seeds deterministic synthetic PII (doc_id-derived emails / IPs /
    * phone numbers on a doc_id % 3 rotation) into the text on BOTH
    * sides, then compares per-kind match counts and the md5 of the
    * scrubbed text — redaction equality is exact, not sampled. */
  private val piiRedact = Declared(
    "ml_pii_redact",
    (s, d) => {
      val seeded = Tables(s, d, "documents").withColumn("text",
        concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@mail.example.com or 555-867-"),
              lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
            .when(pmod(col("doc_id"), lit(3)) === 1,
              concat(lit(" from 10."),
                pmod(col("doc_id"), lit(256)).cast("string"),
                lit(".0."), pmod(col("doc_id"), lit(100)).cast("string")))
            .otherwise(lit(""))))
      TextAnalysis.piiRedact(seeded)
    },
    Some("""WITH seeded AS (
           |  SELECT doc_id, text ||
           |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' ||
           |           CAST(doc_id AS VARCHAR) ||
           |           '@mail.example.com or 555-867-' ||
           |           lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           |         WHEN doc_id % 3 = 1 THEN ' from 10.' ||
           |           CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
           |           CAST(doc_id % 100 AS VARCHAR)
           |         ELSE '' END AS text
           |  FROM documents
           |)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(text,
           |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
           |    AS n_email,
           |  CAST(len(regexp_extract_all(text,
           |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT)
           |    AS n_ip,
           |  CAST(len(regexp_extract_all(text,
           |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phone,
           |  md5(regexp_replace(regexp_replace(regexp_replace(text,
           |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
           |    '<EMAIL>', 'g'),
           |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'))
           |    AS redacted_md5
           |FROM seeded ORDER BY doc_id""".stripMargin))

  /** Quality-gate oracle: the same stats body, thresholds as INT flags.
    * Shared by the batch row and its streaming twin — one SQL string
    * guarantees the two declared results are held to the SAME oracle. */
  private val qualityGateSql =
    s"""WITH ts AS (
       |$textStatsSql)
       |SELECT doc_id, lang, source, n_tokens, stop_ratio, quality,
       |  len_ok, stop_ok, quality_ok,
       |  CAST(len_ok = 1 AND stop_ok = 1 AND quality_ok = 1 AS INT)
       |    AS keep
       |FROM (
       |  SELECT *,
       |    CAST(n_tokens >= ${TextAnalysis.GateMinTokens} AS INT)
       |      AS len_ok,
       |    CAST(stop_ratio <= ${TextAnalysis.GateMaxStop} AS INT)
       |      AS stop_ok,
       |    CAST(quality >= ${TextAnalysis.GateMinQuality} AS INT)
       |      AS quality_ok
       |  FROM ts)
       |ORDER BY doc_id""".stripMargin

  private val qualityGate = Declared(
    "ml_quality_gate",
    (s, d) => TextAnalysis.qualityGate(Tables(s, d, "documents")),
    Some(qualityGateSql))

  /** Streaming twin of the quality gate — the continuous-ingest shape a
    * production corpus pipeline runs (new crawl documents arrive as a
    * stream; each micro-batch is gated by the SAME operator code as the
    * batch path). Per-doc curation ops are batch-boundary-invariant by
    * construction (the gate consults nothing outside the row), so the
    * streamed result must equal the batch result exactly — which is the
    * oracle: [[qualityGateSql]] verbatim. The fixture streams in over
    * real micro-batch waves; gated output lands as hash-bucketed
    * parquet appends (the distributed-sink doctrine — no driver-side
    * collect in the data path; the orderBy+collect below is the HARNESS
    * feeding the MemoryStream, the events_stream_dedup pattern). */
  private val qualityGateStream = Declared(
    "ml_quality_gate_stream",
    (s, d) => {
      import s.implicits._
      val docs = Tables(s, d, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      val rows = docs.orderBy("doc_id").collect()
      // harness feeder through the one audited shim (ADVICE r13 #4)
      val in = org.apache.spark.sql.graftbridge.StreamBridge
        .memoryStream[(Long, String, String, String, Long)](s)
      val outDir = java.nio.file.Files
        .createTempDirectory("graft-qgate-out").toString
      val ckptDir = java.nio.file.Files
        .createTempDirectory("graft-qgate-ckpt").toString
      val q = in.toDF()
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckptDir)
        .foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
            TextAnalysis.qualityGate(batch)
              .withColumn("bucket", pmod(col("doc_id"), lit(16)))
              .repartition(col("bucket"))
              .write.mode("append").partitionBy("bucket").parquet(outDir)
        }
        .start()
      try rows.grouped(rows.length / 4 + 1).foreach { wave =>
        in.addData(wave.map(r => (r.getLong(0), r.getString(1),
          r.getString(2), r.getString(3), r.getLong(4))))
        q.processAllAvailable()
      } finally q.stop()
      val gateCols = Seq("doc_id", "lang", "source", "n_tokens",
        "stop_ratio", "quality", "len_ok", "stop_ok", "quality_ok",
        "keep")
      // empty-stream guard + per-run dir cleanup (ADVICE r13 #4)
      val res =
        if (rows.isEmpty)
          TextAnalysis.qualityGate(docs.limit(0))
            .select(gateCols.map(col): _*).limit(0).localCheckpoint(true)
        else s.read.parquet(outDir)
          .select(gateCols.map(col): _*).localCheckpoint(true)
      Seq(outDir, ckptDir).foreach(removeDir)
      res.orderBy("doc_id")
    },
    Some(qualityGateSql))

  private val langId = Declared(
    "ml_lang_id",
    (s, d) => TextAnalysis.langId(Tables(s, d, "documents")),
    Some {
      val scores = TextAnalysis.LangMarkers.map { case (l, m) =>
        s"${sqlMarkerCount(m)} AS s_$l"
      }.mkString(",\n    ")
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val caseChain = langs.init.zipWithIndex.map { case (l, i) =>
        val conds = langs.drop(i + 1).map(o => s"s_$l >= s_$o")
          .mkString(" AND ")
        s"WHEN $conds THEN '$l'"
      }.mkString("\n    ")
      s"""SELECT doc_id, lang, pred_lang,
         |       CAST(lang = pred_lang AS INT) AS agree
         |FROM (
         |  SELECT doc_id, lang,
         |    CASE $caseChain
         |    ELSE '${langs.last}' END AS pred_lang
         |  FROM (SELECT doc_id, lang,
         |    $scores
         |  FROM documents))
         |ORDER BY doc_id""".stripMargin
    })

  /** Language-ID confusion matrix ([[TextAnalysis.langConfusion]]):
    * the same generated case-chain prediction as [[langId]], folded to
    * (labeled, predicted) cells with the per-row share. */
  private val langConfusion = Declared(
    "ml_lang_confusion",
    (s, d) => TextAnalysis.langConfusion(Tables(s, d, "documents")),
    Some {
      val scores = TextAnalysis.LangMarkers.map { case (l, m) =>
        s"${sqlMarkerCount(m)} AS s_$l"
      }.mkString(",\n    ")
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val caseChain = langs.init.zipWithIndex.map { case (l, i) =>
        val conds = langs.drop(i + 1).map(o => s"s_$l >= s_$o")
          .mkString(" AND ")
        s"WHEN $conds THEN '$l'"
      }.mkString("\n    ")
      s"""WITH pred AS (
         |  SELECT doc_id, lang,
         |    CASE $caseChain
         |    ELSE '${langs.last}' END AS pred_lang
         |  FROM (SELECT doc_id, lang,
         |    $scores
         |  FROM documents)),
         |cells AS (
         |  SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM pred GROUP BY 1, 2)
         |SELECT lang, pred_lang, n_docs,
         |  CAST(n_docs AS DOUBLE) /
         |    sum(n_docs) OVER (PARTITION BY lang) AS row_share
         |FROM cells
         |ORDER BY lang, pred_lang""".stripMargin
    })

  /** Sequence-packing oracle: same prefix sum per lang, same power-of-two
    * integer division. */
  private val seqPack = Declared(
    "ml_seq_pack",
    (s, d) => TextAnalysis.sequencePack(Tables(s, d, "documents")),
    Some(s"""SELECT doc_id, lang, n_tokens,
            |  cum_before // ${TextAnalysis.PackBudget} AS bin_start,
            |  (cum_before + n_tokens - 1) // ${TextAnalysis.PackBudget}
            |    AS bin_end,
            |  (cum_before + n_tokens - 1) // ${TextAnalysis.PackBudget}
            |    - cum_before // ${TextAnalysis.PackBudget} + 1 AS spans
            |FROM (
            |  SELECT doc_id, lang,
            |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
            |    coalesce(CAST(sum(len(string_split(text, ' '))) OVER (
            |      PARTITION BY lang ORDER BY doc_id
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            |      AS BIGINT), 0) AS cum_before
            |  FROM documents)
            |ORDER BY lang, doc_id""".stripMargin))

  /** Stratified-sampling oracle: identical hash-threshold expression. */
  private val stratSample = Declared(
    "ml_sample_stratified",
    (s, d) => TextAnalysis.stratifiedSample(Tables(s, d, "documents")),
    Some(s"""SELECT doc_id, lang, source FROM documents
            |WHERE ${sqlHash60("'smp:' || doc_id")} % 1000 <
            |  CASE ${TextAnalysis.SampleRates.map { case (l, r) =>
                s"WHEN lang = '$l' THEN $r" }.mkString(" ")} ELSE 0 END
            |ORDER BY doc_id""".stripMargin))

  /** Weighted systematic sampling (L82): the oracle computes the SAME
    * weight-space prefix with one plain per-lang window — equality
    * against the engine's two-level (lang, blk) prefix sum proves the
    * distributed decomposition exact, boundary arithmetic and all. */
  private val weightedSampleQ = Declared(
    "ml_weighted_sample",
    (s, d) => TextAnalysis.weightedSample(Tables(s, d, "documents")),
    Some(s"""WITH w AS (
            |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS w,
            |    CAST(coalesce(sum(n_chars) OVER (
            |      PARTITION BY lang ORDER BY doc_id
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            |      AS BIGINT) AS cum_before
            |  FROM documents)
            |SELECT doc_id, lang, w AS n_chars, cum_before,
            |  CAST((cum_before + w) // ${TextAnalysis.WSampleStride} -
            |       cum_before // ${TextAnalysis.WSampleStride}
            |    AS BIGINT) AS n_picks,
            |  CAST(((cum_before + w) // ${TextAnalysis.WSampleStride} -
            |        cum_before // ${TextAnalysis.WSampleStride}) > 0
            |    AS INT) AS selected
            |FROM w ORDER BY lang, doc_id""".stripMargin))

  /** Shard-assignment oracle: same hash-mod shard key, same within-shard
    * row numbering. */
  private val shardAssign = Declared(
    "ml_shard_assign",
    (s, d) => TextAnalysis.shardAssign(Tables(s, d, "documents")),
    Some(s"""SELECT doc_id, shard,
            |  CAST(row_number() OVER (PARTITION BY shard ORDER BY doc_id)
            |       AS BIGINT) AS pos
            |FROM (SELECT doc_id,
            |        ${sqlHash60("'shard:' || doc_id")}
            |          % ${TextAnalysis.NumShards} AS shard
            |      FROM documents)
            |ORDER BY shard, pos""".stripMargin))

  /** Export-manifest oracle: same shard key as ml_shard_assign, same
    * modular content checksum (residues are < 2^20, so DuckDB's
    * HUGEINT sum cast to BIGINT is exact, like Spark's). */
  private val exportManifest = Declared(
    "ml_export_manifest",
    (s, d) => TextAnalysis.exportManifest(Tables(s, d, "documents")),
    Some(s"""SELECT ${sqlHash60("'shard:' || doc_id")}
            |         % ${TextAnalysis.NumShards} AS shard,
            |  count(*) AS n_docs,
            |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
            |  min(doc_id) AS id_lo, max(doc_id) AS id_hi,
            |  CAST(sum(${sqlHash60("text")} % ${TextAnalysis.ChkMod})
            |    AS BIGINT) AS checksum
            |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin))

  /** L111 — the CDC-MAINTAINED dataset export ([[graft.ml.ShardExport]],
    * the maintained-artifact shape applied to the PUBLISH step): a
    * snapshot epoch plus N incremental epochs of document
    * inserts/updates/deletes flow through the real streaming path; the
    * changed docs' shards are key-derived from the deltas alone, only
    * those shard partitions rewrite (keyed set algebra), and only
    * those shards' manifest rows re-derive (a partition-pruned
    * aggregate) — per-epoch publish work is change-volume +
    * touched-shards sized. The declared row returns the final
    * manifest; the oracle FULLY RE-EXPORTS: it folds the dumped raw
    * ops and re-derives the L107 manifest over the fold — maintained
    * == re-exported is the row's theorem. Shard-touch accounting,
    * replay idempotence, the additive n_docs/n_chars/checksum delta
    * identity, and emptied-shard cleanup are spec-pinned
    * (ShardExportSpec). */
  private val exportCdc = Declared(
    "ml_export_incremental",
    (s, d) => ShardExport.cdcMaintainAndPublish(s,
      Tables(s, d, "documents"), expCdcOpsPq),
    Some(s"""WITH ops AS (SELECT lsn, action, doc_id, text
            |            FROM read_parquet('$expCdcOpsPq/*.parquet')),
            |lastd AS (SELECT doc_id, max(lsn) AS dlsn FROM ops
            |          WHERE action = 'D' GROUP BY doc_id),
            |fold AS MATERIALIZED (
            |  SELECT o.doc_id, arg_max(o.text, o.lsn) AS text
            |  FROM ops o LEFT JOIN lastd d ON o.doc_id = d.doc_id
            |  WHERE o.action <> 'D' AND o.lsn > coalesce(d.dlsn, -2)
            |  GROUP BY o.doc_id
            |  HAVING count(CASE WHEN o.action = 'I' THEN 1 END) > 0)
            |SELECT ${sqlHash60("'shard:' || doc_id")}
            |         % ${TextAnalysis.NumShards} AS shard,
            |  count(*) AS n_docs,
            |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
            |  min(doc_id) AS id_lo, max(doc_id) AS id_hi,
            |  CAST(sum(${sqlHash60("text")} % ${TextAnalysis.ChkMod})
            |    AS BIGINT) AS checksum
            |FROM fold GROUP BY 1 ORDER BY shard""".stripMargin))

  /** Curriculum-order oracle: the naive global row_number over
    * (rank, lang) — the single-sort form the engine's derived-position
    * arithmetic must equal exactly. */
  private val curriculumOrder = Declared(
    "ml_curriculum_order",
    (s, d) => TextAnalysis.curriculumOrder(Tables(s, d, "documents")),
    Some("""WITH ranked AS (
           |  SELECT doc_id, lang,
           |    CAST(row_number() OVER (PARTITION BY lang
           |      ORDER BY n_chars, doc_id) AS BIGINT) AS lang_rank
           |  FROM documents)
           |SELECT doc_id, lang, lang_rank,
           |  CAST(row_number() OVER (ORDER BY lang_rank, lang)
           |    AS BIGINT) AS global_pos
           |FROM ranked ORDER BY global_pos""".stripMargin))

  /** Mixture-rebalance oracle: identical integer budget/rate/threshold
    * arithmetic (sums cast to BIGINT — DuckDB widens sum to HUGEINT). */
  private val mixRebalance = Declared(
    "ml_mixture_rebalance",
    (s, d) => TextAnalysis.mixtureRebalance(Tables(s, d, "documents")),
    Some(s"""WITH ps AS (
            |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS src_chars,
            |         count(*) AS src_docs
            |  FROM documents GROUP BY source),
            |b AS (SELECT CAST(sum(src_chars) AS BIGINT) // count(*) AS budget
            |      FROM ps),
            |r AS (SELECT source, src_docs, src_chars,
            |             least(CAST(1000 AS BIGINT),
            |                   (1000 * b.budget) // src_chars) AS rate
            |      FROM ps, b),
            |k AS (SELECT d.source, count(*) AS kept_docs,
            |             CAST(sum(d.n_chars) AS BIGINT) AS kept_chars
            |      FROM documents d JOIN r ON d.source = r.source
            |      WHERE ${sqlHash60("'mix:' || doc_id")} % 1000 < r.rate
            |      GROUP BY d.source)
            |SELECT r.source, r.src_docs, r.src_chars, r.rate,
            |       coalesce(k.kept_docs, 0) AS kept_docs,
            |       coalesce(k.kept_chars, 0) AS kept_chars
            |FROM r LEFT JOIN k USING (source)
            |ORDER BY source""".stripMargin))

  /** Chunking oracle: same stride windows, same joined-string hash. */
  private val chunking = Declared(
    "ml_chunking",
    (s, d) => TextAnalysis.chunks(Tables(s, d, "documents")),
    Some(s"""WITH toks AS (
            |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
            |c AS (
            |  SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
            |    tk[i*${TextAnalysis.ChunkStride} + 1 :
            |       least(i*${TextAnalysis.ChunkStride}
            |             + ${TextAnalysis.ChunkTokens}, len(tk))] AS ck
            |  FROM toks,
            |    unnest(range(0, (len(tk)-1)//${TextAnalysis.ChunkStride} + 1))
            |      AS t(i))
            |SELECT doc_id, chunk_idx,
            |  CAST(len(ck) AS BIGINT) AS chunk_tokens,
            |  ${sqlHash60("list_aggregate(ck, 'string_agg', ' ')")}
            |    AS chunk_hash
            |FROM c ORDER BY doc_id, chunk_idx""".stripMargin))

  /** Contamination oracle: same 8-gram windows, same benchmark slice. */
  /** Shared oracle for the contamination screen and its streaming twin
    * (the [[outlierMadSql]] discipline — one SQL string holds both
    * declared results to the same screen). */
  private val contamSql =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |g AS (
       |  SELECT DISTINCT doc_id,
       |    list_aggregate(tk[i:i+${TextAnalysis.ContamGram - 1}],
       |      'string_agg', ' ') AS sh
       |  FROM toks,
       |       unnest(range(1, len(tk) - ${TextAnalysis.ContamGram - 2}))
       |         AS t(i)
       |  WHERE len(tk) >= ${TextAnalysis.ContamGram}),
       |bg AS (SELECT DISTINCT doc_id AS bench_id, sh FROM g
       |       WHERE doc_id % 23 = 0)
       |SELECT g.doc_id, count(*) AS shared_grams,
       |       count(DISTINCT bg.bench_id) AS bench_docs
       |FROM g JOIN bg ON g.sh = bg.sh
       |WHERE g.doc_id % 23 <> 0
       |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  private val contam = Declared(
    "ml_contamination",
    (s, d) => TextAnalysis.contamination(Tables(s, d, "documents")),
    Some(contamSql))

  /** Streaming twin of the contamination screen — decontamination as
    * it runs on a CONTINUOUS ingest: the benchmark gram set
    * materializes once as bounded model state (eval suites are KBs–MBs
    * against the corpus), then every arriving micro-batch of training
    * docs probes it via a per-batch broadcast join — the corpus side
    * never shuffles for the screen, matches land as hash-bucketed
    * parquet appends. A doc's grams arrive within one micro-batch, so
    * per-batch aggregation is complete per doc and append-safe;
    * screened on exactly the streamed corpus the result equals the
    * batch screen — which is the oracle, verbatim. */
  private val contamStream = Declared(
    "ml_contamination_stream",
    (s, d) => {
      import s.implicits._
      val docs = Tables(s, d, "documents").select("doc_id", "text")
      val bench = TextAnalysis.benchGramSet(docs).localCheckpoint(true)
      val rows = docs.filter(col("doc_id") % 23 =!= 0).orderBy("doc_id")
        .as[(Long, String)].collect()
      // harness feeder through the one audited shim (ADVICE r13 #4)
      val in = org.apache.spark.sql.graftbridge.StreamBridge
        .memoryStream[(Long, String)](s)
      val outDir = java.nio.file.Files
        .createTempDirectory("graft-contam-out").toString
      val ckptDir = java.nio.file.Files
        .createTempDirectory("graft-contam-ckpt").toString
      val q = in.toDF().toDF("doc_id", "text")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckptDir)
        .foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
            TextAnalysis.contaminationApply(batch, bench)
              .withColumn("bucket", pmod(col("doc_id"), lit(16)))
              .repartition(col("bucket"))
              .write.mode("append").partitionBy("bucket").parquet(outDir)
        }
        .start()
      try rows.grouped(rows.length / 4 + 1).foreach { wave =>
        in.addData(wave.toSeq)
        q.processAllAvailable()
      } finally q.stop()
      // empty-stream guard + per-run dir cleanup (ADVICE r13 #4): an
      // empty corpus leaves no parquet to infer a schema from — the
      // screen over nothing is the empty report, with the same schema
      // the batch screen carries; the materialized checkpoint frees
      // the temp dirs before the frame is consumed
      val res =
        if (rows.isEmpty)
          TextAnalysis.contaminationApply(docs.limit(0), bench)
            .select("doc_id", "shared_grams", "bench_docs").limit(0)
            .localCheckpoint(true)
        else s.read.parquet(outDir)
          .select("doc_id", "shared_grams", "bench_docs")
          .localCheckpoint(true)
      Seq(outDir, ckptDir).foreach(removeDir)
      res.orderBy("doc_id")
    },
    Some(contamSql))

  /** [[quantileStream]] histogram grid: 64 bins of width 16 chars —
    * covers the fixture's n_chars range (44..577) with headroom; at
    * scale the grid IS the accuracy knob (quantiles resolve to bin
    * width), the standard mergeable-histogram trade. */
  private val QsBinW = 16L
  private val QsBins = 64

  /** L109 — streaming quantiles via MERGEABLE HISTOGRAMS (the L102
    * mergeable-sketch pattern, quantile-flavored): each micro-batch
    * aggregates its rows into a per-(lang, bin) fixed-grid histogram
    * (a bounded |langs|×64 counter grid), the driver merges grids by
    * ADDITION — so the merged histogram is bit-identical to one built
    * over the whole stream, which is exactly how 100 TB deployments
    * histogram per partition and fold upward without shuffling values
    * — and grid quantiles (p50/p90/p99 cuts at integer-ceil ranks) come
    * off the merged grid. Unlike the CMS row's within-envelope verdict,
    * histogram-grid quantiles are EXACT under merge, so the oracle is
    * strict equality against the same derivation over the full table. */
  private val quantileStream = Declared(
    "ml_quantile_stream",
    (s, d) => {
      import s.implicits._
      val rows = Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
        .as[(Long, String, Long)].collect()
      val in = org.apache.spark.sql.graftbridge.StreamBridge
        .memoryStream[(Long, String, Long)](s)
      val ckptDir = java.nio.file.Files
        .createTempDirectory("graft-qs-ckpt").toString
      // the accumulated grid — bounded model state (|langs| × QsBins),
      // mutated only on the driver inside foreachBatch
      val grid = scala.collection.mutable.Map
        .empty[(String, Long), Long].withDefaultValue(0L)
      val q = in.toDF().toDF("doc_id", "lang", "n_chars")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckptDir)
        .foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
            batch
              .groupBy(col("lang"),
                least(col("n_chars") / QsBinW, lit(QsBins - 1L))
                  .cast("long").as("bin"))
              .agg(count(lit(1)).as("c"))
              .collect()
              .foreach { r =>
                grid((r.getString(0), r.getLong(1))) += r.getLong(2)
              }
            ()
        }
        .start()
      try rows.grouped(rows.length / 4 + 1).foreach { wave =>
        in.addData(wave.toSeq)
        q.processAllAvailable()
      } finally q.stop()
      removeDir(ckptDir)
      // grid quantiles — integer-exact: rank_p = ceil(p·n/100) without
      // floats, cut = the upper bound of the first bin whose cumulative
      // count reaches the rank
      val out = grid.keys.map(_._1).toSeq.distinct.sorted.flatMap { l =>
        val bins = (0L until QsBins).map(b => grid((l, b)))
        val n = bins.sum
        Seq(50L, 90L, 99L).map { p =>
          val rank = (p * n + 99L) / 100L
          var cum = 0L
          var cut = QsBins * QsBinW
          var b = 0
          var found = false
          while (b < QsBins && !found) {
            cum += bins(b)
            if (cum >= rank) { cut = (b + 1) * QsBinW; found = true }
            b += 1
          }
          (l, p, n, cut)
        }
      }
      out.toDF("lang", "pct", "n_docs", "cut").orderBy("lang", "pct")
    },
    Some(s"""WITH b AS (
            |  SELECT lang,
            |    least(n_chars // $QsBinW, ${QsBins - 1}) AS bin,
            |    count(*) AS c
            |  FROM documents GROUP BY 1, 2),
            |t AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n
            |      FROM b GROUP BY 1),
            |cum AS (
            |  SELECT lang, bin,
            |    CAST(sum(c) OVER (PARTITION BY lang ORDER BY bin)
            |      AS BIGINT) AS cum
            |  FROM b),
            |p(p) AS (VALUES (50), (90), (99))
            |SELECT t.lang, CAST(p.p AS BIGINT) AS pct, t.n AS n_docs,
            |  CAST(coalesce(
            |    (SELECT min((c2.bin + 1) * $QsBinW) FROM cum c2
            |     WHERE c2.lang = t.lang
            |       AND c2.cum >= (p.p * t.n + 99) // 100),
            |    ${QsBins * QsBinW}) AS BIGINT) AS cut
            |FROM t CROSS JOIN p
            |ORDER BY lang, pct""".stripMargin))

  /** Best-effort recursive temp-dir removal for the stream harness rows
    * (ADVICE r13 #4 — per-run dirs must not accumulate). */
  private def removeDir(path: String): Unit = {
    def go(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(go))
      f.delete(); ()
    }
    go(new java.io.File(path))
  }

  /** BM25 oracle: identical rational-k1/b integer arithmetic; DuckDB's
    * `//` is floor division like Spark's `div` (all operands positive
    * here), and its HUGEINT sum is cast back to BIGINT. */
  /** Shared by `ml_bm25_topk` and `ml_bm25_split_serve`: the split is
    * a pure layout move, so the index served through the genealogy
    * must reproduce the plain corpus derivation bit for bit. */
  private val bm25TopkSql =
    s"""WITH tok AS (
            |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
            |  FROM documents),
            |tf AS (SELECT doc_id, term, count(*) AS tf
            |       FROM tok GROUP BY 1, 2),
            |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dlen
            |       FROM tf GROUP BY 1),
            |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            |st AS (SELECT count(*) AS n, CAST(sum(dlen) AS BIGINT) AS t
            |       FROM dl),
            |c AS (
            |  SELECT tf.doc_id,
            |    ((2 * (st.n - df.df) + 1) *
            |     ((44 * tf.tf * st.t * ${TextAnalysis.Bm25Scale}) //
            |      (20 * tf.tf * st.t + 6 * st.t + 18 * dl.dlen * st.n)))
            |      // (2 * df.df + 1) AS contrib
            |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term), st
            |  WHERE tf.term IN (${TextAnalysis.Bm25Query
               .map(t => s"'$t'").mkString(", ")}))
            |SELECT doc_id, count(*) AS matched,
            |  CAST(sum(contrib) AS BIGINT) AS score_fp
            |FROM c GROUP BY doc_id
            |ORDER BY score_fp DESC, doc_id
            |LIMIT ${TextAnalysis.Bm25K}""".stripMargin

  private val bm25 = Declared(
    "ml_bm25_topk",
    (s, d) => TextAnalysis.bm25TopK(Tables(s, d, "documents")),
    Some(bm25TopkSql))

  /** L114 — hot-bucket split serve ([[TextIndex.splitServe]]): build
    * the postings + stats artifact, split the hottest bucket and then
    * its fuller half (two genealogy levels), persist the split
    * directory, and serve the standing BM25 query through the
    * RELOADED split map. Splits never change content, so the oracle
    * is the plain corpus BM25 — equality proves the genealogy routed
    * every probe to the right partition (a wrong descent reads an
    * empty or stale bucket and loses that term's contributions). */
  private val bm25SplitServe = Declared(
    "ml_bm25_split_serve",
    (s, d) => TextIndex.splitServe(s, Tables(s, d, "documents")),
    Some(bm25TopkSql))

  /** Known-item retrieval eval ([[TextAnalysis.knownItemEval]]): the
    * oracle re-derives the query snippets, the full integer BM25
    * scoring over every (query term, posting) pair, the per-query
    * ranking, and the source-rank / rank-1 extraction. */
  private val bm25KnownItem = Declared(
    "ml_bm25_known_item",
    (s, d) => TextAnalysis.knownItemEval(Tables(s, d, "documents")),
    Some(s"""WITH toks AS (
            |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
            |tf AS (SELECT doc_id, t.term, count(*) AS tf
            |       FROM toks, unnest(tk) AS t(term) GROUP BY 1, 2),
            |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dlen
            |       FROM tf GROUP BY 1),
            |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            |st AS (SELECT count(*) AS n, CAST(sum(dlen) AS BIGINT) AS t
            |       FROM dl),
            |q0 AS (
            |  SELECT doc_id AS q_id, tk, len(tk) // 2 AS p FROM toks
            |  WHERE doc_id % ${TextAnalysis.KiQueryMod} = 0
            |    AND len(tk) >= ${2 * TextAnalysis.KiQueryTerms}),
            |qterms AS (
            |  SELECT DISTINCT q_id, t.term
            |  FROM q0, unnest(tk[CAST(p AS INT):
            |    CAST(p + ${TextAnalysis.KiQueryTerms - 1} AS INT)])
            |    AS t(term)),
            |scored AS (
            |  SELECT qt.q_id, f.doc_id,
            |    CAST(sum(((2 * (st.n - df.df) + 1) *
            |      ((44 * f.tf * st.t * ${TextAnalysis.Bm25Scale}) //
            |       (20 * f.tf * st.t + 6 * st.t + 18 * dl.dlen * st.n)))
            |      // (2 * df.df + 1)) AS BIGINT) AS score_fp
            |  FROM qterms qt
            |  JOIN tf f ON f.term = qt.term
            |  JOIN dl ON dl.doc_id = f.doc_id
            |  JOIN df ON df.term = qt.term, st
            |  GROUP BY 1, 2),
            |ranked AS (
            |  SELECT q_id, doc_id,
            |         row_number() OVER (PARTITION BY q_id
            |           ORDER BY score_fp DESC, doc_id) AS rn
            |  FROM scored),
            |topk AS (SELECT * FROM ranked
            |         WHERE rn <= ${TextAnalysis.Bm25K}),
            |pq AS (
            |  SELECT q_id,
            |    max(CASE WHEN rn = 1 THEN doc_id END) AS top1_id,
            |    max(CASE WHEN doc_id = q_id THEN rn END) AS src_rn
            |  FROM topk GROUP BY 1)
            |SELECT q0.q_id, coalesce(pq.src_rn, 0) AS rank,
            |  CASE WHEN pq.src_rn IS NOT NULL THEN 1.0 / pq.src_rn
            |       ELSE 0.0 END AS rr,
            |  pq.top1_id
            |FROM q0 LEFT JOIN pq ON pq.q_id = q0.q_id
            |ORDER BY q0.q_id""".stripMargin))

  /** The document-fold → BM25-contribution chain over a dumped ops
    * log, as WITH-clause CTEs (the [[annCdcCtes]] discipline for the
    * lexical side): replica fold of the raw document ops → tokenize →
    * tf/dlen/df/corpus scalars → per-(doc, query-term) integer BM25
    * contribution (`c`, the final CTE). Prefix `p` lets two chains
    * compose in one statement — `ml_bm25_cdc_index` uses it bare;
    * `ml_hybrid_cdc_serve` splices a `d`-prefixed instance next to the
    * embedding chain. */
  private def bm25CdcCtes(opsPq: String, p: String = ""): String =
    s"""${p}ops AS (SELECT lsn, action, doc_id, text
       |            FROM read_parquet('$opsPq/*.parquet')),
       |${p}lastd AS (SELECT doc_id, max(lsn) AS dlsn FROM ${p}ops
       |          WHERE action = 'D' GROUP BY doc_id),
       |${p}fold AS MATERIALIZED (
       |  SELECT o.doc_id, arg_max(o.text, o.lsn) AS text
       |  FROM ${p}ops o LEFT JOIN ${p}lastd d ON o.doc_id = d.doc_id
       |  WHERE o.action <> 'D' AND o.lsn > coalesce(d.dlsn, -2)
       |  GROUP BY o.doc_id
       |  HAVING count(CASE WHEN o.action = 'I' THEN 1 END) > 0),
       |${p}tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM ${p}fold),
       |${p}tf AS (SELECT doc_id, term, count(*) AS tf
       |       FROM ${p}tok GROUP BY 1, 2),
       |${p}dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dlen
       |       FROM ${p}tf GROUP BY 1),
       |${p}df AS (SELECT term, count(*) AS df FROM ${p}tf GROUP BY 1),
       |${p}st AS (SELECT count(*) AS n, CAST(sum(dlen) AS BIGINT) AS t
       |       FROM ${p}dl),
       |${p}c AS (
       |  SELECT tf.doc_id,
       |    ((2 * (st.n - df.df) + 1) *
       |     ((44 * tf.tf * st.t * ${TextAnalysis.Bm25Scale}) //
       |      (20 * tf.tf * st.t + 6 * st.t + 18 * dl.dlen * st.n)))
       |      // (2 * df.df + 1) AS contrib
       |  FROM ${p}tf tf JOIN ${p}dl dl USING (doc_id)
       |  JOIN ${p}df df USING (term), ${p}st st
       |  WHERE tf.term IN (${TextAnalysis.Bm25Query
         .map(t => s"'$t'").mkString(", ")}))""".stripMargin

  /** L105 — the CDC-MAINTAINED inverted text index ([[TextIndex]],
    * the L104 shape applied to lexical retrieval): a snapshot epoch
    * plus N incremental epochs of document inserts/updates/deletes
    * flow through the real streaming path (slot scan → wal2json parse
    * → per-key retraction deltas); each epoch re-tokenizes only the
    * changed docs and rewrites only the touched term-bucket
    * partitions, with the corpus (N, T) scalars maintained as an
    * epoch-keyed signed-delta log; the standing BM25 query is then
    * served entirely off the maintained artifact (postings read pruned
    * to the query terms' buckets, df from the probed rows, dlen
    * denormalized on the posting). The oracle FULLY REBUILDS: it folds
    * the dumped raw ops to the final corpus and re-derives the same
    * integer BM25 top-k — maintained == rebuilt is the row's theorem.
    * Bucket-touch accounting, replay idempotence, emptied-bucket
    * cleanup, the stats-log fold, and serve-side partition pruning are
    * spec-pinned (TextIndexSpec). */
  private val bm25CdcIndex = Declared(
    "ml_bm25_cdc_index",
    (s, d) => TextIndex.cdcMaintainAndSearch(s,
      Tables(s, d, "documents"), txtCdcOpsPq),
    Some(s"""WITH ${bm25CdcCtes(txtCdcOpsPq)}
            |SELECT doc_id, count(*) AS matched,
            |  CAST(sum(contrib) AS BIGINT) AS score_fp
            |FROM c GROUP BY doc_id
            |ORDER BY score_fp DESC, doc_id
            |LIMIT ${TextAnalysis.Bm25K}""".stripMargin))

  /** L115 — IN-STREAM re-balance
    * ([[TextIndex.cdcMaintainAndSearchRebalanced]]): the
    * `ml_bm25_cdc_index` stream with the size-triggered hot-bucket
    * split policy running INSIDE each trigger, write-ahead-logged to
    * an epoch-keyed genealogy log ([[TextIndex.applyEpochRebalanced]])
    * — the r15 offline-only re-balance precondition, lifted: a split
    * lands within its epoch and a checkpoint replay heals and
    * converges (spec-pinned, TextIndexSpec/DedupIndexSpec). The serve
    * threads the genealogy loaded from the LOG. Splits are pure layout
    * moves, so the oracle is the SAME full-rebuild BM25 fold as the
    * unrebalanced row — equality proves every epoch and the serve
    * derived every bucket through the logged genealogy. */
  private val bm25StreamSplit = Declared(
    "ml_bm25_stream_split",
    (s, d) => TextIndex.cdcMaintainAndSearchRebalanced(s,
      Tables(s, d, "documents"), txtSsOpsPq),
    Some(s"""WITH ${bm25CdcCtes(txtSsOpsPq)}
            |SELECT doc_id, count(*) AS matched,
            |  CAST(sum(contrib) AS BIGINT) AS score_fp
            |FROM c GROUP BY doc_id
            |ORDER BY score_fp DESC, doc_id
            |LIMIT ${TextAnalysis.Bm25K}""".stripMargin))

  /** L110 — the CDC-MAINTAINED MinHash/LSH dedup index
    * ([[graft.ml.DedupIndex]], the maintained-index shape applied to
    * the NEAR-DUP SCREEN — the third leg after the ANN and text
    * indexes): a snapshot epoch plus N incremental epochs of document
    * inserts/updates/deletes flow through the real streaming path
    * (slot scan → wal2json parse → per-key retraction deltas); each
    * epoch re-signs only the changed docs (the -old image names its
    * departing band buckets — no index probe) and rewrites only the
    * touched band-bucket and signature-bucket partitions; the standing
    * probe set (every 20th snapshot doc truncated to its first ⌊2n/3⌋
    * tokens, negative-id namespace) is then screened entirely off the
    * maintained artifact — band read pruned to the probes' own
    * buckets, signature read pruned to the candidates' buckets, best
    * live match per probe at est ≥ 0.5. The oracle FULLY REBUILDS: it
    * folds the dumped raw ops to the final corpus, re-derives the
    * minhash/banding chain over fold ∪ probes, and runs the same
    * screen — maintained == rebuilt is the row's theorem. Bucket-touch
    * accounting, replay idempotence, emptied-bucket cleanup,
    * screen == [[graft.ml.Dedup.dedupIncrement]], append/compaction
    * fast paths, and serve-side partition pruning are spec-pinned
    * (DedupIndexSpec). */
  private val dedupCdcIndex = Declared(
    "ml_dedup_cdc_index",
    (s, d) => DedupIndex.cdcMaintainAndScreen(s,
      Tables(s, d, "documents"), dedupCdcOpsPq),
    Some(s"""WITH ops AS (SELECT lsn, action, doc_id, text
            |            FROM read_parquet('$dedupCdcOpsPq/*.parquet')),
            |lastd AS (SELECT doc_id, max(lsn) AS dlsn FROM ops
            |          WHERE action = 'D' GROUP BY doc_id),
            |fold AS MATERIALIZED (
            |  SELECT o.doc_id, arg_max(o.text, o.lsn) AS text
            |  FROM ops o LEFT JOIN lastd d ON o.doc_id = d.doc_id
            |  WHERE o.action <> 'D' AND o.lsn > coalesce(d.dlsn, -2)
            |  GROUP BY o.doc_id
            |  HAVING count(CASE WHEN o.action = 'I' THEN 1 END) > 0),
            |pv AS (
            |  SELECT -doc_id AS doc_id,
            |         array_to_string(tk[1:(len(tk)*2)//3], ' ') AS text
            |  FROM (SELECT doc_id, string_split(text, ' ') AS tk
            |        FROM documents
            |        WHERE doc_id % ${DedupIndex.ProbeMod} =
            |          ${DedupIndex.ProbeRem}) q
            |  WHERE (len(tk)*2)//3 >= 3),
            |planted AS (SELECT doc_id, text FROM fold
            |            UNION ALL SELECT doc_id, text FROM pv),
            |toks AS (SELECT doc_id, string_split(text, ' ') AS tk
            |         FROM planted),
            |shg AS (
            |  SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS sh
            |  FROM toks, unnest(range(1, len(tk) - 1)) AS t(i)),
            |$sigCte,
            |pi AS (SELECT * FROM sig WHERE doc_id < 0),
            |sto AS (SELECT * FROM sig WHERE doc_id >= 0),
            |${screenCtes("pi", "sto", "outq")}
            |SELECT doc_id, matched_id, est_jaccard FROM outq
            |ORDER BY doc_id""".stripMargin))

  /** L114 on the band layout ([[DedupIndex.splitScreen]]): build,
    * split the hottest band bucket twice (genealogy persisted), and
    * screen the standing probes through the RELOADED split map. The
    * split is a pure layout move, so the oracle derives the identical
    * screen from the corpus alone — equality proves the genealogy
    * routed every probe band and every candidate to the right
    * partition. */
  private val dedupSplitScreen = Declared(
    "ml_dedup_split_screen",
    (s, d) => DedupIndex.splitScreen(s, Tables(s, d, "documents")),
    Some(s"""WITH pv AS (
            |  SELECT -doc_id AS doc_id,
            |         array_to_string(tk[1:(len(tk)*2)//3], ' ') AS text
            |  FROM (SELECT doc_id, string_split(text, ' ') AS tk
            |        FROM documents
            |        WHERE doc_id % ${DedupIndex.ProbeMod} =
            |          ${DedupIndex.ProbeRem}) q
            |  WHERE (len(tk)*2)//3 >= 3),
            |planted AS (SELECT doc_id, text FROM documents
            |            UNION ALL SELECT doc_id, text FROM pv),
            |toks AS (SELECT doc_id, string_split(text, ' ') AS tk
            |         FROM planted),
            |shg AS (
            |  SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS sh
            |  FROM toks, unnest(range(1, len(tk) - 1)) AS t(i)),
            |$sigCte,
            |pi AS (SELECT * FROM sig WHERE doc_id < 0),
            |sto AS (SELECT * FROM sig WHERE doc_id >= 0),
            |${screenCtes("pi", "sto", "outq")}
            |SELECT doc_id, matched_id, est_jaccard FROM outq
            |ORDER BY doc_id""".stripMargin))

  /** Duplicate-span-removal oracle: identical window hashing, coverage
    * masking, and reassembly in DuckDB list lambdas. `coalesce(.., '')`
    * on the reassembled text: string_agg of an empty list is NULL in
    * DuckDB where Spark's concat_ws gives ''. */
  private val dupSpans = Declared(
    "ml_dup_spans",
    (s, d) => TextAnalysis.dupSpans(Tables(s, d, "documents")),
    Some(s"""WITH toks AS (
            |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
            |w AS (
            |  SELECT doc_id, i - 1 AS pos,
            |    ${sqlHash60(
               s"list_aggregate(tk[i:i+${TextAnalysis.SpanGram - 1}], " +
                 "'string_agg', ' ')")} AS wh
            |  FROM toks,
            |    unnest(range(1, len(tk) - ${TextAnalysis.SpanGram - 2}))
            |      AS t(i)
            |  WHERE len(tk) >= ${TextAnalysis.SpanGram}),
            |dw AS (SELECT wh FROM w GROUP BY wh HAVING count(*) >= 2),
            |dp AS (SELECT doc_id, count(*) AS dup_windows,
            |         list_sort(list(pos)) AS dps
            |       FROM w JOIN dw USING (wh) GROUP BY doc_id),
            |base AS (
            |  SELECT t.doc_id, t.tk,
            |    coalesce(dp.dup_windows, 0) AS dup_windows,
            |    coalesce(dp.dps, []) AS dps
            |  FROM toks t LEFT JOIN dp USING (doc_id)),
            |kept AS (
            |  SELECT doc_id, tk, dup_windows,
            |    list_filter(range(0, len(tk)), j ->
            |      len(list_filter(dps, p -> j >= p AND
            |        j <= p + ${TextAnalysis.SpanGram - 1})) = 0) AS ki
            |  FROM base)
            |SELECT doc_id,
            |  CAST(len(tk) AS BIGINT) AS n_tokens,
            |  CAST(greatest(len(tk) - ${TextAnalysis.SpanGram - 1}, 0)
            |    AS BIGINT) AS n_windows,
            |  CAST(dup_windows AS BIGINT) AS dup_windows,
            |  CAST(len(tk) - len(ki) AS BIGINT) AS removed_tokens,
            |  coalesce(list_aggregate(list_transform(ki, j -> tk[j + 1]),
            |    'string_agg', ' '), '') AS clean_text
            |FROM kept ORDER BY doc_id""".stripMargin))

  /** Repetition-filter oracle: word 2-/3-gram windows from the same
    * string_split, duplicate mass and top-gram concentration as
    * integer-ratio doubles, keep verdict at the same thresholds. */
  private val repetition = Declared(
    "ml_repetition",
    (s, d) => TextAnalysis.repetition(Tables(s, d, "documents")),
    Some(s"""WITH toks AS (
            |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
            |g2 AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS sh
            |       FROM toks, unnest(range(1, len(tk))) AS t(i)),
            |g3 AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS sh
            |       FROM toks, unnest(range(1, len(tk) - 1)) AS t(i)),
            |c2 AS (SELECT doc_id, sh, count(*) AS c FROM g2 GROUP BY 1, 2),
            |c3 AS (SELECT doc_id, sh, count(*) AS c FROM g3 GROUP BY 1, 2),
            |s2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
            |              count(*) AS d, max(c) AS t
            |       FROM c2 GROUP BY 1),
            |s3 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
            |              count(*) AS d, max(c) AS t
            |       FROM c3 GROUP BY 1)
            |SELECT doc_id, n_2gram, dup_2gram_frac, top_2gram_frac,
            |       n_3gram, dup_3gram_frac,
            |       CAST(dup_2gram_frac <= ${TextAnalysis.Dup2Max} AND
            |            top_2gram_frac <= ${TextAnalysis.Top2Max} AS INT)
            |         AS keep
            |FROM (
            |  SELECT dd.doc_id,
            |    coalesce(s2.n, 0) AS n_2gram,
            |    coalesce(CAST(s2.n - s2.d AS DOUBLE) / s2.n, 0.0)
            |      AS dup_2gram_frac,
            |    coalesce(CAST(s2.t AS DOUBLE) / s2.n, 0.0)
            |      AS top_2gram_frac,
            |    coalesce(s3.n, 0) AS n_3gram,
            |    coalesce(CAST(s3.n - s3.d AS DOUBLE) / s3.n, 0.0)
            |      AS dup_3gram_frac
            |  FROM documents dd
            |  LEFT JOIN s2 ON s2.doc_id = dd.doc_id
            |  LEFT JOIN s3 ON s3.doc_id = dd.doc_id)
            |ORDER BY doc_id""".stripMargin))

  private val tokenCounts = Declared(
    "ml_token_counts",
    (s, d) => TextAnalysis.tokenCounts(Tables(s, d, "documents")),
    Some("""SELECT doc_id,
           |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
           |    AS re_tokens,
           |  CAST(length(text) AS BIGINT) AS n_chars,
           |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
           |FROM documents ORDER BY doc_id""".stripMargin))

  private val tfidfTopTerms = Declared(
    "ml_tfidf_topterms",
    (s, d) => TextAnalysis.tfIdfTopTerms(Tables(s, d, "documents")),
    Some(s"""WITH tok AS (
            |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
            |  FROM documents),
            |tf AS (SELECT doc_id, term, count(*) AS tf
            |       FROM tok GROUP BY doc_id, term),
            |dl AS (SELECT doc_id, count(*) AS dlen FROM tok GROUP BY doc_id),
            |dfr AS (SELECT term, count(DISTINCT doc_id) AS df
            |        FROM tok GROUP BY term),
            |nn AS (SELECT count(*) AS n FROM documents),
            |s AS (
            |  SELECT tf.doc_id, tf.term, tf.tf,
            |         (CAST(tf.tf AS DOUBLE) / dl.dlen) *
            |           (CAST(nn.n AS DOUBLE) / dfr.df) AS score
            |  FROM tf JOIN dl USING (doc_id) JOIN dfr USING (term)
            |  CROSS JOIN nn)
            |SELECT doc_id, term, tf, score, CAST(rn AS BIGINT) AS "rank"
            |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
            |        ORDER BY score DESC, term) AS rn FROM s)
            |WHERE rn <= ${TextAnalysis.TfIdfTopK}
            |ORDER BY doc_id, rn""".stripMargin))

  private val fingerprint = Declared(
    "ml_fingerprint",
    (s, d) => TextAnalysis.fingerprints(Tables(s, d, "documents")),
    Some(s"""WITH g AS (
            |  SELECT doc_id, i,
            |         ${sqlHash60(s"substr(text, CAST(i AS INT), ${TextAnalysis.GramLen})")} AS gh
            |  FROM documents,
            |       unnest(range(1, length(text) - ${TextAnalysis.GramLen - 2}))
            |         AS t(i)
            |  WHERE length(text) >= ${TextAnalysis.GramLen})
            |SELECT DISTINCT doc_id,
            |       min(gh) OVER (PARTITION BY doc_id ORDER BY i
            |                     ROWS BETWEEN CURRENT ROW AND
            |                     ${TextAnalysis.WinnowWindow - 1} FOLLOWING)
            |         AS fp
            |FROM g ORDER BY doc_id, fp""".stripMargin))

  // ---- multimodal -----------------------------------------------------

  private val mediaMeta = Declared(
    "ml_media_meta",
    (s, d) => Multimodal.asMedia(Tables(s, d, "documents"))
      .withColumn("head", decode(col("payload"), "UTF-8").substr(1, 1))
      .select(
        col("doc_id"), col("format"),
        length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("content_md5"),
        ((ascii(col("head")) * 5) % 1024 + 16)
          .cast("long").as("decoded_width"),
        (((length(col("payload")) % 256) * 3) % 1024 + 16)
          .cast("long").as("decoded_height"))
      .orderBy("doc_id"),
    // md5(text) over VARCHAR == md5 of the UTF-8 payload bytes
    Some("""SELECT doc_id,
           |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'jpeg'
           |       WHEN 1 THEN 'png' ELSE 'wav' END AS format,
           |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           |  md5(text) AS content_md5,
           |  CAST((ascii(substr(text, 1, 1)) * 5) % 1024 + 16 AS BIGINT)
           |    AS decoded_width,
           |  CAST(((octet_length(encode(text)) % 256) * 3) % 1024 + 16
           |       AS BIGINT) AS decoded_height
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Shared oracle CTE: the BMP generation geometry + per-pixel channel
    * formulas ([[Multimodal.toBmp]]) evaluated in pure SQL — the oracle
    * never parses bytes; it recomputes what the engine's parser must
    * EXTRACT from them, so any decode slip breaks the match. */
  private val bmpGeomCte =
    """g AS (
      |  SELECT doc_id,
      |    CAST(16 + doc_id % 16 AS INT) AS w,
      |    CAST(8 + octet_length(encode(text)) % 8 AS INT) AS h,
      |    octet_length(encode(text)) AS tlen
      |  FROM documents)""".stripMargin

  /** Drives the typed mapPartitions decode pipeline end-to-end — REAL
    * since r9 (r8 verdict #4): [[Multimodal.decodeBmp]] parses actual
    * BMP bytes (little-endian header, bottom-up rows, BGR, padding)
    * and the oracle re-derives dims + exact integer pixel stats from
    * the generation formulas, including the position-weighted checksum
    * that catches row-order/channel-order mistakes plain sums miss. */
  private val mediaDecode = Declared(
    "ml_media_decode",
    (s, d) => Multimodal
      .decodeAll(s, Multimodal.asBmpMedia(Tables(s, d, "documents")))
      .toDF()
      .select(col("doc_id"), col("format"), col("n_bytes"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("sum_r"), col("sum_g"), col("sum_b"), col("pos_sum"))
      .orderBy("doc_id"),
    Some(s"""WITH $bmpGeomCte,
            |px AS (
            |  SELECT g.doc_id, g.w, g.h,
            |    (x.x * 7 + y.y * 13 + g.doc_id) % 256 AS r,
            |    (x.x * 3 + y.y * 5 + g.tlen) % 256 AS gr,
            |    (x.x + y.y + 1) % 256 AS b,
            |    y.y * g.w + x.x AS pos
            |  FROM g, unnest(range(0, g.w)) AS x(x),
            |       unnest(range(0, g.h)) AS y(y))
            |SELECT doc_id, 'bmp' AS format,
            |  CAST(54 + ((3 * w + 3) // 4) * 4 * h AS BIGINT) AS n_bytes,
            |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
            |  CAST(sum(r) AS BIGINT) AS sum_r,
            |  CAST(sum(gr) AS BIGINT) AS sum_g,
            |  CAST(sum(b) AS BIGINT) AS sum_b,
            |  CAST(sum(pos * (r + 2 * gr + 3 * b)) AS BIGINT) AS pos_sum
            |FROM px GROUP BY doc_id, w, h
            |ORDER BY doc_id""".stripMargin))

  /** Chains the second typed stage — a REAL nearest-neighbor resample
    * over the decoded raster — onto the parse: the oracle evaluates the
    * same ⌊i·w/out⌋ source mapping against the generation formulas and
    * sums the resampled channels exactly; scale factors stay single
    * IEEE divisions of oracle-checked integer dims. */
  private val mediaResize = Declared(
    "ml_media_resize",
    (s, d) => Multimodal
      .resizeAll(Multimodal.asBmpMedia(Tables(s, d, "documents")))
      .toDF()
      .select(col("doc_id"), col("format"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("out_w").cast("long").as("out_w"),
        col("out_h").cast("long").as("out_h"),
        col("scale_x"), col("scale_y"),
        col("sum_r"), col("sum_g"), col("sum_b"))
      .orderBy("doc_id"),
    Some(s"""WITH $bmpGeomCte,
            |rp AS (
            |  SELECT g.doc_id, g.w, g.h,
            |    (i.i * g.w) // ${Multimodal.ResizeW} AS sx,
            |    (j.j * g.h) // ${Multimodal.ResizeH} AS sy,
            |    g.tlen
            |  FROM g, unnest(range(0, ${Multimodal.ResizeW})) AS i(i),
            |       unnest(range(0, ${Multimodal.ResizeH})) AS j(j))
            |SELECT doc_id, 'bmp' AS format,
            |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
            |  CAST(${Multimodal.ResizeW} AS BIGINT) AS out_w,
            |  CAST(${Multimodal.ResizeH} AS BIGINT) AS out_h,
            |  CAST(${Multimodal.ResizeW} AS DOUBLE) / w AS scale_x,
            |  CAST(${Multimodal.ResizeH} AS DOUBLE) / h AS scale_y,
            |  CAST(sum((sx * 7 + sy * 13 + doc_id) % 256) AS BIGINT)
            |    AS sum_r,
            |  CAST(sum((sx * 3 + sy * 5 + tlen) % 256) AS BIGINT) AS sum_g,
            |  CAST(sum((sx + sy + 1) % 256) AS BIGINT) AS sum_b
            |FROM rp GROUP BY doc_id, w, h
            |ORDER BY doc_id""".stripMargin))

  /** Frame sampling as pure column ops: payload → ≤ 8 evenly-strided
    * 100-byte frames, each sliced from the binary column and md5'd. */
  private val mediaFrames = Declared(
    "ml_media_frames",
    (s, d) => Multimodal
      .frameSample(Multimodal.asMedia(Tables(s, d, "documents")))
      .orderBy("doc_id", "frame_idx"),
    Some(s"""WITH v AS (
            |  SELECT doc_id,
            |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'jpeg'
            |         WHEN 1 THEN 'png' ELSE 'wav' END AS format,
            |    text,
            |    greatest(1, CAST(length(text) // ${Multimodal.FrameBytes}
            |                     AS INT)) AS n_frames
            |  FROM documents),
            |f AS (
            |  SELECT doc_id, format, n_frames, CAST(i AS BIGINT) AS frame_idx,
            |    md5(substr(text,
            |        CAST(i AS INT) * ${Multimodal.FrameBytes} + 1,
            |        ${Multimodal.FrameBytes})) AS frame_sig
            |  FROM v, unnest(range(0, n_frames,
            |    greatest(1, (n_frames + ${Multimodal.MaxFramesPerDoc - 1})
            |                // ${Multimodal.MaxFramesPerDoc}))) AS t(i))
            |SELECT doc_id, format, CAST(n_frames AS BIGINT) AS n_frames,
            |       frame_idx, frame_sig
            |FROM f ORDER BY doc_id, frame_idx""".stripMargin))

  /** Shared audio-generation CTEs: the oracle re-derives frame count
    * and every PCM sample from [[Multimodal.toWav]]'s generation
    * formulas alone — `ag` is per-doc geometry, `sm` the full sample
    * table ((f·7+doc_id) mod 3 = 1 frames silent, voiced samples
    * (i·37 + doc_id·101 + tlen·13) mod 4001 − 2000). */
  private val wavGeomCte =
    """ag AS (
      |  SELECT doc_id, octet_length(encode(text)) AS tlen,
      |    CAST(4 + (doc_id + octet_length(encode(text))) % 4 AS BIGINT)
      |      AS nf
      |  FROM documents)""".stripMargin
  private val wavSampleCte =
    """sm AS (
      |  SELECT ag.doc_id, i.i AS i,
      |    CASE WHEN ((i.i // 64) * 7 + ag.doc_id) % 3 = 1 THEN 0
      |         ELSE (i.i * 37 + ag.doc_id * 101 + ag.tlen * 13) % 4001
      |              - 2000
      |    END AS s
      |  FROM ag, unnest(range(0, ag.nf * 64)) AS i(i))""".stripMargin

  /** Drives the typed RIFF/WAV decode pipeline end-to-end — REAL like
    * the BMP path (r11): [[Multimodal.decodeWav]] walks actual RIFF
    * chunks (fmt validation, a junk LIST chunk it must skip, LE PCM16
    * samples) and the oracle re-derives the container size and exact
    * integer signal stats (Σ s², peak, all-zero frames, sign changes)
    * from the generation formulas — endianness, chunk-offset, or
    * junk-as-samples slips all break the hash. */
  private val audioDecode = Declared(
    "ml_audio_decode",
    (s, d) => Multimodal
      .decodeAudio(s, Multimodal.asWavMedia(Tables(s, d, "documents")))
      .toDF()
      .orderBy("doc_id"),
    Some(s"""WITH $wavGeomCte,
            |$wavSampleCte,
            |z AS (
            |  SELECT doc_id, CAST(sum(s * s) AS BIGINT) AS sq_sum,
            |    CAST(max(abs(s)) AS BIGINT) AS peak_abs,
            |    CAST(coalesce(sum(CASE WHEN s * ps < 0 THEN 1 ELSE 0 END),
            |                  0) AS BIGINT) AS n_zero_cross
            |  FROM (SELECT doc_id, s,
            |          lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS ps
            |        FROM sm)
            |  GROUP BY doc_id),
            |sf AS (
            |  SELECT ag.doc_id,
            |    CAST(sum(CASE WHEN (f.f * 7 + ag.doc_id) % 3 = 1
            |             THEN 1 ELSE 0 END) AS BIGINT) AS n_silent_frames
            |  FROM ag, unnest(range(0, ag.nf)) AS f(f)
            |  GROUP BY ag.doc_id)
            |SELECT a.doc_id, 'wav' AS format,
            |  CAST(64 + 128 * a.nf AS BIGINT) AS n_bytes,
            |  CAST(${Multimodal.AudioRate} AS INT) AS sample_rate,
            |  CAST(a.nf * 64 AS BIGINT) AS n_samples,
            |  a.nf AS n_frames,
            |  z.sq_sum, z.peak_abs, sf.n_silent_frames, z.n_zero_cross
            |FROM ag a
            |JOIN z ON a.doc_id = z.doc_id
            |JOIN sf ON a.doc_id = sf.doc_id
            |ORDER BY a.doc_id""".stripMargin))

  /** Voice-activity segmentation: the codec emits per-frame energy
    * rows ([[Multimodal.audioFrames]]), then maximal voiced runs are
    * found by DECLARATIVE gaps-and-islands (frame_idx − row_number) —
    * segmentation lives in Catalyst, not the codec. The oracle runs
    * the identical island algebra over formula-derived frames. */
  private val audioVad = Declared(
    "ml_audio_vad",
    (s, d) => Multimodal
      .vadSegments(Multimodal
        .audioFrames(s, Multimodal.asWavMedia(Tables(s, d, "documents")))
        .toDF())
      .orderBy("doc_id"),
    Some(s"""WITH $wavGeomCte,
            |fr AS (
            |  SELECT ag.doc_id, f.f AS frame_idx,
            |    CASE WHEN (f.f * 7 + ag.doc_id) % 3 = 1 THEN 1 ELSE 0 END
            |      AS silent
            |  FROM ag, unnest(range(0, ag.nf)) AS f(f)),
            |v AS (
            |  SELECT doc_id, frame_idx,
            |    frame_idx - row_number()
            |      OVER (PARTITION BY doc_id ORDER BY frame_idx) AS grp
            |  FROM fr WHERE silent = 0),
            |seg AS (
            |  SELECT doc_id, grp, count(*) AS seg_len
            |  FROM v GROUP BY doc_id, grp),
            |b AS (
            |  SELECT doc_id, CAST(min(frame_idx) AS BIGINT) AS first_voiced,
            |    CAST(max(frame_idx) AS BIGINT) AS last_voiced
            |  FROM fr WHERE silent = 0 GROUP BY doc_id)
            |SELECT s.doc_id,
            |  CAST(sum(s.seg_len) AS BIGINT) AS voiced_frames,
            |  CAST(count(*) AS BIGINT) AS n_segments,
            |  CAST(max(s.seg_len) AS BIGINT) AS longest_seg,
            |  b.first_voiced, b.last_voiced
            |FROM seg s JOIN b ON s.doc_id = b.doc_id
            |GROUP BY s.doc_id, b.first_voiced, b.last_voiced
            |ORDER BY s.doc_id""".stripMargin))

  /** Chains decimation resample (8 kHz → 4 kHz, keep every 2nd sample)
    * onto the parse — the audio analog of `ml_media_resize`: the
    * oracle sums s² over even sample indices only, so the resample
    * must pick the RIGHT samples, not just the right count. */
  private val audioResample = Declared(
    "ml_audio_resample",
    (s, d) => Multimodal
      .resampleAudio(Multimodal.asWavMedia(Tables(s, d, "documents")))
      .toDF()
      .orderBy("doc_id"),
    Some(s"""WITH $wavGeomCte,
            |$wavSampleCte
            |SELECT a.doc_id, CAST(a.nf * 64 AS BIGINT) AS n_samples,
            |  CAST(${Multimodal.AudioRate} AS INT) AS in_rate,
            |  CAST(${Multimodal.AudioRate / 2} AS INT) AS out_rate,
            |  CAST(a.nf * 32 AS BIGINT) AS out_samples,
            |  CAST(sum(CASE WHEN sm.i % 2 = 0 THEN sm.s * sm.s ELSE 0 END)
            |    AS BIGINT) AS sq_sum
            |FROM ag a JOIN sm ON a.doc_id = sm.doc_id
            |GROUP BY a.doc_id, a.nf
            |ORDER BY a.doc_id""".stripMargin))

  /** Z-order layout key (L49): Morton interleave of the language rank
    * and the capped n_chars lane — exact shift/mask arithmetic, so the
    * oracle computes the identical curve position (the SQL is GENERATED
    * from the same bit loop, [[Layout.morton2Sql]]). The file-layout
    * side (range partition by zval → disjoint per-file envelopes) is
    * pinned in MlSpec; this query pins the curve itself. */
  private val zorder = Declared(
    "ml_zorder",
    (s, d) => Layout.zOrder(Tables(s, d, "documents")),
    Some(s"""SELECT doc_id, lang, n_chars,
            |  CAST(${Layout.morton2Sql(
                  Layout.langLaneSql("lang"),
                  Layout.numLaneSql("n_chars", Layout.NCharsStepBits))}
            |    AS BIGINT) AS zval
            |FROM documents
            |ORDER BY zval, doc_id""".stripMargin))

  /** Hilbert layout key (L80): the locality upgrade over [[zorder]] —
    * same (lang, n_chars) lanes, but positions along the order-8
    * Hilbert curve via the native [[graft.functions.HilbertIndex2]]
    * kernel (the per-level rotation is stateful, so it's a codegen'd
    * loop, not a column composition). The oracle unrolls the identical
    * walk as 8 chained subqueries GENERATED from the same loop
    * ([[Layout.hilbert2Sql]]), so the two engines cannot drift; the
    * unit-step locality property and the file-layout side (disjoint
    * per-file h-envelopes, sidecar pruning) are pinned in MlSpec. */
  private val hilbert = Declared(
    "ml_hilbert",
    (s, d) => Layout.hilbertOrder(Tables(s, d, "documents")),
    Some(s"""SELECT doc_id, lang, n_chars, hd AS hval
            |FROM (${Layout.hilbert2Sql(
                Layout.langLaneSql("lang"),
                Layout.numLaneSql("n_chars", Layout.NCharsStepBits),
                Seq("doc_id", "lang", "n_chars"), "documents")})
            |ORDER BY hval, doc_id""".stripMargin))

  /** Bin-pack compaction plan (L52's declared row — r11 verdict #6):
    * [[Layout.binPackPlan]]'s deterministic concat-and-slice file
    * assignment in Hilbert-curve order. The oracle re-derives the
    * curve via the generated [[Layout.hilbert2Sql]] walk, lays the
    * docs end-to-end with a window prefix sum, and slices at the same
    * power-of-two boundary — per-file doc counts, char mass, and
    * [h_min, h_max] envelopes must all match. Disjoint envelopes are
    * structural (contiguous slices of a total order); the filesystem
    * rewrite half of [[Layout.binPack]] stays spec-pinned (swap
    * atomicity, curve re-pack, sidecar recompute). */
  private val binpack = Declared(
    "ml_binpack",
    (s, d) => Layout.binPackPlan(Tables(s, d, "documents")),
    Some(s"""WITH h AS (
            |  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
            |    hd AS hval
            |  FROM (${Layout.hilbert2Sql(
                Layout.langLaneSql("lang"),
                Layout.numLaneSql("n_chars", Layout.NCharsStepBits),
                Seq("doc_id", "n_chars"), "documents")})),
            |c AS (
            |  SELECT doc_id, n_chars, hval,
            |    coalesce(sum(n_chars) OVER (ORDER BY hval, doc_id
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            |      AS cb
            |  FROM h)
            |SELECT CAST(cb // ${Layout.BinPackTargetChars} AS BIGINT)
            |    AS file_id,
            |  CAST(count(*) AS BIGINT) AS n_docs,
            |  CAST(sum(n_chars) AS BIGINT) AS file_chars,
            |  CAST(min(hval) AS BIGINT) AS h_min,
            |  CAST(max(hval) AS BIGINT) AS h_max
            |FROM c GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Hashed-linear quality classifier: oracle re-derives the md5 weight
    * vector inline (token → bucket → weight), same fold as the Spark
    * literal-array lookup. */
  private val qualityClassifier = Declared(
    "ml_quality_classifier",
    (s, d) => TextAnalysis.qualityClassifier(Tables(s, d, "documents")),
    Some(s"""WITH tok AS (
            |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
            |  FROM documents),
            |w AS (
            |  SELECT doc_id,
            |    (${sqlHash60(s"'qw:' || (${sqlHash60("'qb:' || term")}" +
              s" % ${TextAnalysis.ClfBuckets})")} % 16) - 8 AS w
            |  FROM tok)
            |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
            |  CAST(sum(w) AS BIGINT) AS score_num,
            |  CAST(sum(w) AS DOUBLE) / count(*) AS mean_w,
            |  CAST(sum(w) >= 0 AS INT) AS keep
            |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Calibration-report oracle ([[TextAnalysis.clfCalibration]]):
    * re-derives the classifier score, the rule gate, the fixed-width
    * value binning, and the per-bin keep rates. */
  private val clfCalibration = Declared(
    "ml_clf_calibration",
    (s, d) => TextAnalysis.clfCalibration(Tables(s, d, "documents")),
    Some(s"""WITH ts AS (
            |$textStatsSql),
            |gate AS (
            |  SELECT doc_id,
            |    CAST(n_tokens >= ${TextAnalysis.GateMinTokens}
            |      AND stop_ratio <= ${TextAnalysis.GateMaxStop}
            |      AND quality >= ${TextAnalysis.GateMinQuality} AS INT)
            |      AS keep
            |  FROM ts),
            |tok AS (
            |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
            |  FROM documents),
            |w AS (
            |  SELECT doc_id,
            |    (${sqlHash60(s"'qw:' || (${sqlHash60("'qb:' || term")}" +
              s" % ${TextAnalysis.ClfBuckets})")} % 16) - 8 AS w
            |  FROM tok),
            |clf AS (
            |  SELECT doc_id, CAST(sum(w) AS DOUBLE) / count(*) AS mean_w
            |  FROM w GROUP BY doc_id),
            |b AS (
            |  SELECT c.doc_id, c.mean_w, g.keep,
            |    least(9, CAST(floor((c.mean_w + 8.0) * 10.0 / 15.0)
            |      AS BIGINT)) AS bin
            |  FROM clf c JOIN gate g USING (doc_id))
            |SELECT bin, count(*) AS n_docs,
            |  CAST(sum(keep) AS BIGINT) AS n_keep,
            |  min(mean_w) AS score_lo, max(mean_w) AS score_hi,
            |  CAST(sum(keep) AS DOUBLE) / count(*) AS keep_rate
            |FROM b GROUP BY bin ORDER BY bin""".stripMargin))

  /** Unigram-surprisal oracle: integer floor-log2 via binary-string
    * length (`format('{:b}', …)`), the same bit-length arithmetic the
    * Spark side uses (`length(bin(…)) - 1`). */
  private val lmSurprisal = Declared(
    "ml_lm_surprisal",
    (s, d) => TextAnalysis.lmSurprisal(Tables(s, d, "documents")),
    Some(s"""WITH tok AS (
            |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
            |  FROM documents),
            |tf AS (SELECT doc_id, term, count(*) AS tf
            |       FROM tok GROUP BY doc_id, term),
            |cnt AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
            |nn AS (SELECT count(*) AS n FROM tok),
            |b AS (
            |  SELECT tf.doc_id, tf.tf,
            |         length(format('{:b}', nn.n // cnt.c)) - 1 AS bits
            |  FROM tf JOIN cnt USING (term) CROSS JOIN nn)
            |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
            |  CAST(sum(tf * bits) AS BIGINT) AS sum_bits,
            |  CAST(sum(tf * bits) AS DOUBLE) / sum(tf) AS mean_bits,
            |  CAST(8 * sum(tf * bits) <=
            |       ${TextAnalysis.SurprisalKeepNum} * sum(tf) AS INT)
            |    AS keep
            |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Unrolled BPE training as SQL: w0 is the word-frequency table in
    * delimited-segmentation form; each round i derives pair counts
    * (p_i), the argmax merge (m_i), and the merged word table (w_i).
    * The oracle re-runs the ENTIRE training loop — k rounds unrolled
    * as CTEs — so the learned merges are checked end-to-end, not
    * assumed. */
  private def bpeCtes(k: Int): String = {
    val b = new StringBuilder
    b ++= """w0 AS (
            |  SELECT ',' || array_to_string(
            |           regexp_extract_all(w, '[a-z0-9]'), ',,') || ','
            |           AS s, freq
            |  FROM (SELECT w, count(*) AS freq
            |        FROM (SELECT unnest(string_split(text, ' ')) AS w
            |              FROM documents)
            |        WHERE w <> '' GROUP BY w))""".stripMargin
    for (i <- 1 to k) {
      b ++= s""",
              |p$i AS (
              |  SELECT syms[i] AS lhs, syms[i + 1] AS rhs,
              |         sum(freq) AS pair_count
              |  FROM (SELECT string_split(trim(s, ','), ',,') AS syms,
              |               freq FROM w${i - 1}),
              |       unnest(range(1, len(syms))) AS t(i)
              |  GROUP BY 1, 2),
              |m$i AS (SELECT lhs, rhs, pair_count FROM p$i
              |  ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
              |w$i AS (
              |  SELECT replace(s, ',' || q.lhs || ',,' || q.rhs || ',',
              |                 ',' || q.lhs || q.rhs || ',') AS s, freq
              |  FROM w${i - 1}, m$i AS q)""".stripMargin
    }
    b.toString
  }

  private val bpeMerges = Declared(
    "ml_bpe_merges",
    (s, d) => Bpe.mergeTable(s, Tables(s, d, "documents")),
    Some {
      val union = (1 to Bpe.Merges).map(i =>
        s"SELECT $i AS merge_rank, lhs, rhs, " +
          s"CAST(pair_count AS BIGINT) AS pair_count FROM m$i")
        .mkString("\nUNION ALL ")
      s"WITH ${bpeCtes(Bpe.Merges)}\n$union\nORDER BY merge_rank"
    })

  private val bpeEncode = Declared(
    "ml_bpe_encode",
    (s, d) => Bpe.encode(Tables(s, d, "documents")),
    Some {
      val k = Bpe.Merges
      val enc = (1 to k).foldLeft("',' || array_to_string(" +
        "regexp_extract_all(w, '[a-z0-9]'), ',,') || ','") { (e, i) =>
        s"replace($e, ',' || q$i.lhs || ',,' || q$i.rhs || ',', " +
          s"',' || q$i.lhs || q$i.rhs || ',')"
      }
      val crosses = (1 to k).map(i => s"CROSS JOIN m$i AS q$i").mkString(" ")
      s"""WITH ${bpeCtes(k)},
         |enc AS (
         |  SELECT doc_id, count(*) AS n_words,
         |         sum(length(w)) AS char_tokens,
         |         sum(len(string_split(trim($enc, ','), ',,')))
         |           AS bpe_tokens
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |        FROM documents)
         |  $crosses
         |  WHERE w <> ''
         |  GROUP BY doc_id)
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |  CAST(char_tokens AS BIGINT) AS char_tokens,
         |  CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
         |  CAST(char_tokens AS DOUBLE) / bpe_tokens AS compression
         |FROM enc ORDER BY doc_id""".stripMargin
    })

  /** Tokenizer fertility report ([[Bpe.fertility]]): the per-language
    * disparity aggregate over the same re-derived merge chain as the
    * encode oracle. */
  private val bpeFertility = Declared(
    "ml_bpe_fertility",
    (s, d) => Bpe.fertility(Tables(s, d, "documents")),
    Some {
      val k = Bpe.Merges
      val enc = (1 to k).foldLeft("',' || array_to_string(" +
        "regexp_extract_all(w, '[a-z0-9]'), ',,') || ','") { (e, i) =>
        s"replace($e, ',' || q$i.lhs || ',,' || q$i.rhs || ',', " +
          s"',' || q$i.lhs || q$i.rhs || ',')"
      }
      val crosses = (1 to k).map(i => s"CROSS JOIN m$i AS q$i").mkString(" ")
      s"""WITH ${bpeCtes(k)},
         |enc AS (
         |  SELECT lang, count(*) AS n_words,
         |         sum(length(w)) AS n_chars,
         |         sum(len(string_split(trim($enc, ','), ',,')))
         |           AS bpe_tokens
         |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
         |        FROM documents)
         |  $crosses
         |  WHERE w <> ''
         |  GROUP BY lang)
         |SELECT lang, CAST(n_words AS BIGINT) AS n_words,
         |  CAST(n_chars AS BIGINT) AS n_chars,
         |  CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
         |  CAST(bpe_tokens AS DOUBLE) / n_words AS fertility,
         |  CAST(n_chars AS DOUBLE) / bpe_tokens AS chars_per_token
         |FROM enc ORDER BY lang""".stripMargin
    })

  /** PageRank oracle: the SAME fixed-point power iterations, unrolled
    * (edges re-derived from the cosine top-k CTEs; every division a
    * positive-integer floor → bit-exact). */
  private val pageRank = Declared(
    "ml_pagerank",
    (s, d) => GraphOps.pageRank(Tables(s, d, "embeddings")),
    Some {
      val S = GraphOps.PrScale
      val iters = (1 to GraphOps.PrIters).map { i =>
        s"""in$i AS (
           |  SELECT e.dst AS id, sum(p.pr // d.deg) AS inflow
           |  FROM edges e JOIN pr${i - 1} p ON p.id = e.src
           |  JOIN deg d ON d.src = e.src
           |  GROUP BY 1),
           |pr$i AS (
           |  SELECT nd.id,
           |         ((15 * CAST($S AS BIGINT)) // (100 * nn.n)) +
           |         (${GraphOps.PrDampNum} * coalesce(i.inflow, 0)) // 100
           |           AS pr
           |  FROM nodes nd CROSS JOIN nn
           |  LEFT JOIN in$i i ON i.id = nd.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH $qeCte,
         |$nrmCte,
         |dots AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         sum(a.q * b.q) AS d
         |  FROM qe a JOIN qe b ON a.i = b.i AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id % $QueryStride = 0
         |  GROUP BY a.vec_id, b.vec_id),
         |scored AS (
         |  SELECT d.query_id, d.neighbor_id,
         |         ${cosSql("d.d", "na.n2", "nb.n2")} AS cos
         |  FROM dots d
         |  JOIN nrm na ON na.vec_id = d.query_id
         |  JOIN nrm nb ON nb.vec_id = d.neighbor_id),
         |top AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id) AS rn
         |    FROM scored)
         |  WHERE rn <= $TopK),
         |e0 AS (SELECT query_id AS src, neighbor_id AS dst FROM top),
         |edges AS (SELECT src, dst FROM e0
         |          UNION ALL SELECT dst, src FROM e0),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |pr0 AS (SELECT id, CAST($S AS BIGINT) // nn.n AS pr
         |        FROM nodes, nn),
         |$iters
         |SELECT p.id AS vec_id, CAST(d.deg AS BIGINT) AS deg,
         |  CAST(p.pr AS BIGINT) AS pr_fp
         |FROM pr${GraphOps.PrIters} p JOIN deg d ON d.src = p.id
         |ORDER BY pr_fp DESC, vec_id""".stripMargin
    })

  /** Hybrid-retrieval oracle: the BM25 body + the cosine ranking for
    * query vector 0, fused with integer RRF — every division a
    * positive-integer floor. */
  private val hybridRetrieve = Declared(
    "ml_hybrid_rrf",
    (s, d) => TextAnalysis.hybridRetrieve(
      Tables(s, d, "documents"), Tables(s, d, "embeddings")),
    Some(s"""WITH tok AS (
            |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
            |  FROM documents),
            |tf AS (SELECT doc_id, term, count(*) AS tf
            |       FROM tok GROUP BY 1, 2),
            |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dlen
            |       FROM tf GROUP BY 1),
            |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            |st AS (SELECT count(*) AS n, CAST(sum(dlen) AS BIGINT) AS t
            |       FROM dl),
            |c AS (
            |  SELECT tf.doc_id,
            |    ((2 * (st.n - df.df) + 1) *
            |     ((44 * tf.tf * st.t * ${TextAnalysis.Bm25Scale}) //
            |      (20 * tf.tf * st.t + 6 * st.t + 18 * dl.dlen * st.n)))
            |      // (2 * df.df + 1) AS contrib
            |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term), st
            |  WHERE tf.term IN (${TextAnalysis.Bm25Query
               .map(t => s"'$t'").mkString(", ")})),
            |bm AS (
            |  SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score_fp
            |  FROM c GROUP BY doc_id
            |  ORDER BY score_fp DESC, doc_id LIMIT ${TextAnalysis.Bm25K}),
            |lex AS (
            |  SELECT doc_id, CAST(row_number() OVER (
            |    ORDER BY score_fp DESC, doc_id) AS BIGINT) AS lex_rank
            |  FROM bm),
            |$qeCte,
            |$nrmCte,
            |dots AS (
            |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
            |         sum(a.q * b.q) AS d
            |  FROM qe a JOIN qe b ON a.i = b.i AND a.vec_id <> b.vec_id
            |  WHERE a.vec_id = 0
            |  GROUP BY a.vec_id, b.vec_id),
            |scored AS (
            |  SELECT d.query_id, d.neighbor_id,
            |         ${cosSql("d.d", "na.n2", "nb.n2")} AS cos
            |  FROM dots d
            |  JOIN nrm na ON na.vec_id = d.query_id
            |  JOIN nrm nb ON nb.vec_id = d.neighbor_id),
            |sem AS (
            |  SELECT neighbor_id AS doc_id, CAST(rn AS BIGINT) AS sem_rank
            |  FROM (SELECT neighbor_id, row_number() OVER (
            |          ORDER BY cos DESC, neighbor_id) AS rn FROM scored)
            |  WHERE rn <= ${TextAnalysis.RrfDepth})
            |SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
            |  l.lex_rank, s.sem_rank,
            |  CAST(coalesce(${TextAnalysis.RrfScale} //
            |         (${TextAnalysis.RrfK} + l.lex_rank), 0) +
            |       coalesce(${TextAnalysis.RrfScale} //
            |         (${TextAnalysis.RrfK} + s.sem_rank), 0)
            |    AS BIGINT) AS rrf_fp
            |FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
            |ORDER BY rrf_fp DESC, doc_id""".stripMargin))

  /** Trained-quantizer IVF, full-oracle (r8 verdict #2, the PQ
    * precedent): the kmeans TRAINING loop is not SQL-expressible, but
    * its converged (vec_id, label) assignment is bounded model state —
    * the query run dumps it to fixture parquet, and the oracle
    * re-derives the ENTIRE probed-cell search (centroids, cell ranking,
    * probe, exact-cosine top-k) from those labels in DuckDB, exactly
    * like `ml_ann_ivf` does from the fixture labels. The training
    * itself stays spec-pinned in MlSpec (bounded iterations, monotone
    * movement, Lloyd fixpoint). */
  private val ivfTrained = Declared(
    "ml_ann_ivf_trained",
    (s, d) => Similarity.ivfTopKTrained(
      Tables(s, d, "embeddings"), maxIter = 5,
      labelsPath = Some(ivfLabelsPq)),
    Some(s"""WITH $qeCte,
            |$nrmCte,
            |tl AS (SELECT vec_id, label
            |       FROM read_parquet('$ivfLabelsPq/*.parquet')),
            |qt AS (SELECT qe.vec_id, tl.label, qe.i, qe.q
            |       FROM qe JOIN tl ON qe.vec_id = tl.vec_id),
            |cent AS (SELECT label, i, sum(q) AS cs FROM qt GROUP BY label, i),
            |qv AS (SELECT vec_id AS query_id, i, q FROM qt
            |       WHERE vec_id % $QueryStride = 0),
            |cell AS (
            |  SELECT qv.query_id, c.label,
            |         ${cosSql("sum(qv.q * c.cs)", "sum(qv.q * qv.q)",
                               "sum(c.cs * c.cs)")} AS cell_cos
            |  FROM qv JOIN cent c ON qv.i = c.i
            |  GROUP BY qv.query_id, c.label),
            |probe AS (
            |  SELECT query_id, label FROM (
            |    SELECT query_id, label,
            |           row_number() OVER (PARTITION BY query_id
            |                              ORDER BY cell_cos DESC, label) AS r
            |    FROM cell)
            |  WHERE r <= $NProbe),
            |${topkTailSql(
              s"""dots AS (
                 |  SELECT p.query_id, e.vec_id AS neighbor_id,
                 |         sum(qv.q * e.q) AS d
                 |  FROM probe p
                 |  JOIN qt e ON e.label = p.label AND e.vec_id <> p.query_id
                 |  JOIN qv ON qv.query_id = p.query_id AND qv.i = e.i
                 |  GROUP BY p.query_id, e.vec_id)""".stripMargin)}""".stripMargin))

  /** Data-quality suite oracle: the same one-scan aggregate, unioned
    * into constraint rows (verdicts re-derived independently). */
  private val dqSuite = Declared(
    "ml_dq_suite",
    (s, d) => DataQuality.suite(Tables(s, d, "documents")),
    Some {
      val langs = DataQuality.Langs.map(l => s"'$l'").mkString(", ")
      def row(name: String, num: String, den: String, pass: String) =
        s"""SELECT '$name' AS constraint_name,
           |  CAST($num AS BIGINT) AS metric_num,
           |  CAST($den AS BIGINT) AS metric_den,
           |  CAST($num AS DOUBLE) / ($den) AS metric_value,
           |  CAST($pass AS INT) AS passed FROM a""".stripMargin
      s"""WITH a AS (
         |  SELECT count(*) AS n,
         |    count(CASE WHEN text IS NOT NULL AND length(text) > 0
         |               THEN 1 END) AS txt_ok,
         |    count(DISTINCT doc_id) AS ids,
         |    count(DISTINCT source) AS srcs,
         |    min(n_chars) AS min_c, max(n_chars) AS max_c,
         |    sum(n_chars) AS sum_c,
         |    count(CASE WHEN lang IN ($langs) THEN 1 END) AS lang_ok,
         |    count(CASE WHEN doc_id >= 0 THEN 1 END) AS id_ok
         |  FROM documents)
         |${row("completeness_text", "txt_ok", "n", "txt_ok = n")}
         |UNION ALL ${row("doc_id_non_negative", "id_ok", "n", "id_ok = n")}
         |UNION ALL ${row("lang_in_set", "lang_ok", "n", "lang_ok = n")}
         |UNION ALL ${row("max_n_chars", "max_c", "1",
           s"max_c <= ${DataQuality.MaxChars}")}
         |UNION ALL ${row("max_sources", "srcs", "1",
           s"srcs <= ${DataQuality.MaxSources}")}
         |UNION ALL ${row("mean_n_chars_band", "sum_c", "n",
           s"${DataQuality.MeanLo} * n <= sum_c AND " +
             s"sum_c <= ${DataQuality.MeanHi} * n")}
         |UNION ALL ${row("min_n_chars", "min_c", "1",
           s"min_c >= ${DataQuality.MinChars}")}
         |UNION ALL ${row("uniqueness_doc_id", "ids", "n", "ids = n")}
         |ORDER BY constraint_name""".stripMargin
    })

  /** Bigram Stupid-Backoff oracle: model CTEs over the even-doc_id
    * half, the same bit-length floor-log2 and α=1/4 backoff. */
  private val lmBigram = Declared(
    "ml_lm_bigram",
    (s, d) => TextAnalysis.lmBigram(Tables(s, d, "documents")),
    Some(s"""WITH toks AS (
            |  SELECT doc_id, string_split(text, ' ') AS tk
            |  FROM documents),
            |big AS (
            |  SELECT doc_id, tk[i] || ' ' || tk[i+1] AS bg,
            |         tk[i] AS w1, tk[i+1] AS w2
            |  FROM toks, unnest(range(1, len(tk))) AS t(i)),
            |tf AS (SELECT doc_id, bg, w1, w2, count(*) AS tf
            |       FROM big GROUP BY 1, 2, 3, 4),
            |mt AS (SELECT unnest(string_split(text, ' ')) AS term
            |       FROM documents WHERE doc_id % 2 = 0),
            |c1 AS (SELECT term, count(*) AS c FROM mt GROUP BY 1),
            |mb AS (
            |  SELECT tk[i] || ' ' || tk[i+1] AS bg
            |  FROM (SELECT string_split(text, ' ') AS tk FROM documents
            |        WHERE doc_id % 2 = 0) s,
            |       unnest(range(1, len(tk))) AS t(i)),
            |c12 AS (SELECT bg, count(*) AS c FROM mb GROUP BY 1),
            |nn AS (SELECT count(*) AS n FROM mt),
            |sc AS (
            |  SELECT f.doc_id, f.tf,
            |    CASE WHEN b.c IS NOT NULL
            |         THEN length(format('{:b}', u1.c // b.c)) - 1
            |         ELSE length(format('{:b}',
            |                (4 * nn.n) // greatest(coalesce(u2.c, 1), 1)))
            |              - 1 END AS bits,
            |    CASE WHEN b.c IS NULL THEN 1 ELSE 0 END AS bo
            |  FROM tf f
            |  LEFT JOIN c12 b ON b.bg = f.bg
            |  LEFT JOIN c1 u1 ON u1.term = f.w1
            |  LEFT JOIN c1 u2 ON u2.term = f.w2
            |  CROSS JOIN nn)
            |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_big,
            |  CAST(sum(tf * bits) AS BIGINT) AS sum_bits,
            |  CAST(sum(tf * bo) AS BIGINT) AS n_backoff,
            |  CAST(sum(tf * bits) AS DOUBLE) / sum(tf) AS mean_bits,
            |  CAST(8 * sum(tf * bits) <=
            |       ${TextAnalysis.BigramKeepNum} * sum(tf) AS INT) AS keep
            |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Inverted-index oracle: same tf → rank → block chain; postings
    * re-joined as the ordered comma string. */
  private val postingsIdx = Declared(
    "ml_postings",
    (s, d) => TextAnalysis.postings(Tables(s, d, "documents")),
    Some(s"""WITH tok AS (
            |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
            |  FROM documents),
            |tf AS (SELECT term, doc_id, count(*) AS tf
            |       FROM tok GROUP BY 1, 2),
            |rk AS (
            |  SELECT term, doc_id, tf,
            |         row_number() OVER (PARTITION BY term
            |           ORDER BY doc_id) AS rk
            |  FROM tf)
            |SELECT term,
            |  CAST((rk - 1) // ${TextAnalysis.PostingsBlock} AS BIGINT)
            |    AS block,
            |  CAST(count(*) AS BIGINT) AS block_df,
            |  CAST(sum(tf) AS BIGINT) AS block_cf,
            |  string_agg(CAST(doc_id AS VARCHAR), ','
            |             ORDER BY doc_id) AS postings_docs
            |FROM rk GROUP BY 1, 2 ORDER BY term, block""".stripMargin))

  /** Triangle-counting oracle: the embed-near-dup pair CTEs at the
    * triangle threshold, then the SAME (deg, id) orientation, wedge
    * join + closure. */
  private val triangles = Declared(
    "ml_triangles",
    (s, d) => GraphOps.triangles(Tables(s, d, "embeddings")),
    Some(s"""WITH $qeCte,
            |$nrmCte,
            |dots AS (
            |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
            |         sum(a.q * b.q) AS d
            |  FROM qe a JOIN qe b
            |    ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
            |  GROUP BY a.vec_id, b.vec_id),
            |und AS (
            |  SELECT t.vec_a AS a, t.vec_b AS b
            |  FROM dots t
            |  JOIN nrm na ON na.vec_id = t.vec_a
            |  JOIN nrm nb ON nb.vec_id = t.vec_b
            |  WHERE ${cosSql("t.d", "na.n2", "nb.n2")}
            |        >= ${GraphOps.TriMinCos}),
            |dg AS (SELECT id, count(*) AS deg FROM (
            |         SELECT a AS id FROM und
            |         UNION ALL SELECT b FROM und) GROUP BY 1),
            |dir AS (
            |  SELECT CASE WHEN da.deg < db.deg OR
            |                   (da.deg = db.deg AND u.a < u.b)
            |              THEN u.a ELSE u.b END AS u,
            |         CASE WHEN da.deg < db.deg OR
            |                   (da.deg = db.deg AND u.a < u.b)
            |              THEN u.b ELSE u.a END AS v
            |  FROM und u
            |  JOIN dg da ON da.id = u.a
            |  JOIN dg db ON db.id = u.b),
            |tri AS (
            |  SELECT e1.u, e1.v AS x, e2.v AS y
            |  FROM dir e1
            |  JOIN dir e2 ON e1.u = e2.u AND e1.v < e2.v
            |  JOIN und c ON c.a = e1.v AND c.b = e2.v),
            |pn AS (SELECT id, count(*) AS tri FROM (
            |         SELECT u AS id FROM tri
            |         UNION ALL SELECT x FROM tri
            |         UNION ALL SELECT y FROM tri) GROUP BY 1)
            |SELECT d.id AS vec_id, CAST(d.deg AS BIGINT) AS deg,
            |  CAST(coalesce(p.tri, 0) AS BIGINT) AS tri_cnt
            |FROM dg d LEFT JOIN pn p ON p.id = d.id
            |ORDER BY vec_id""".stripMargin))

  /** k-core decomposition (L81) over the SAME similarity graph as
    * [[triangles]]: the oracle re-derives the edge set and unrolls
    * the identical [[GraphOps.KcoreRounds]] peel rounds as CTE chains
    * (the pagerank/BPE unrolled-loop pattern); the spec pins that the
    * fixture reaches the true fixpoint inside the round budget, so
    * fixed-round semantics == the real k-core. The per-round CTEs are
    * MATERIALIZED: DuckDB inlines plain CTEs, and each round references
    * its predecessor three times, so an inlined chain re-expands the
    * edge derivation 3^rounds times. */
  private val kcoreQ = Declared(
    "ml_kcore",
    (s, d) => GraphOps.kcore(Tables(s, d, "embeddings")),
    Some {
      val k = GraphOps.KcoreK
      val rounds = (1 to GraphOps.KcoreRounds).map { i =>
        s"""kp$i AS MATERIALIZED (
           |  SELECT id FROM (
           |    SELECT id, count(*) AS deg FROM (
           |      SELECT a AS id FROM alive${i - 1}
           |      UNION ALL SELECT b FROM alive${i - 1}) GROUP BY 1)
           |  WHERE deg >= $k),
           |alive$i AS MATERIALIZED (
           |  SELECT a, b FROM alive${i - 1}
           |  WHERE a IN (SELECT id FROM kp$i)
           |    AND b IN (SELECT id FROM kp$i))""".stripMargin
      }.mkString(",\n")
      s"""WITH $qeCte,
         |$nrmCte,
         |dots AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         sum(a.q * b.q) AS d
         |  FROM qe a JOIN qe b
         |    ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
         |  GROUP BY a.vec_id, b.vec_id),
         |und AS MATERIALIZED (
         |  SELECT t.vec_a AS a, t.vec_b AS b
         |  FROM dots t
         |  JOIN nrm na ON na.vec_id = t.vec_a
         |  JOIN nrm nb ON nb.vec_id = t.vec_b
         |  WHERE ${cosSql("t.d", "na.n2", "nb.n2")}
         |        >= ${GraphOps.TriMinCos}),
         |dg AS (SELECT id, count(*) AS deg FROM (
         |         SELECT a AS id FROM und
         |         UNION ALL SELECT b FROM und) GROUP BY 1),
         |alive0 AS MATERIALIZED (SELECT a, b FROM und),
         |$rounds,
         |cd AS (SELECT id, count(*) AS core_deg FROM (
         |         SELECT a AS id FROM alive${GraphOps.KcoreRounds}
         |         UNION ALL SELECT b FROM alive${GraphOps.KcoreRounds})
         |       GROUP BY 1)
         |SELECT d.id AS vec_id, CAST(d.deg AS BIGINT) AS deg,
         |  CAST(coalesce(c.core_deg, 0) AS BIGINT) AS core_deg,
         |  CAST(coalesce(c.core_deg, 0) > 0 AS INT) AS in_core
         |FROM dg d LEFT JOIN cd c ON c.id = d.id
         |ORDER BY vec_id""".stripMargin
    })

  /** Perceptual average-hash over the real BMP decode
    * ([[Multimodal.aHashAll]]): the oracle re-derives each 8×8
    * resampled cell's integer luma from the SAME generator formulas
    * the payload was synthesized from, then re-applies the
    * cross-multiplied mean threshold and the exact bit packing — a
    * parser that misreads one pixel flips hash bits and fails the
    * compare. */
  private val mediaAhash = Declared(
    "ml_media_ahash",
    (s, d) => Multimodal
      .aHashAll(Multimodal.asBmpMedia(Tables(s, d, "documents")))
      .toDF()
      .orderBy("doc_id"),
    Some(s"""WITH $bmpGeomCte,
            |rp AS (
            |  SELECT g.doc_id, g.w, g.h,
            |    CAST(j.j * 8 + i.i AS BIGINT) AS idx,
            |    (i.i * g.w) // ${Multimodal.ResizeW} AS sx,
            |    (j.j * g.h) // ${Multimodal.ResizeH} AS sy,
            |    g.tlen
            |  FROM g, unnest(range(0, ${Multimodal.ResizeW})) AS i(i),
            |       unnest(range(0, ${Multimodal.ResizeH})) AS j(j)),
            |lm AS (
            |  SELECT doc_id, w, h, idx,
            |    ((sx * 7 + sy * 13 + doc_id) % 256)
            |      + 2 * ((sx * 3 + sy * 5 + tlen) % 256)
            |      + ((sx + sy + 1) % 256) AS l
            |  FROM rp),
            |tot AS (SELECT doc_id, sum(l) AS total FROM lm GROUP BY 1)
            |SELECT lm.doc_id, 'bmp' AS format,
            |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
            |  CAST(t.total AS BIGINT) AS luma_sum,
            |  CAST(sum(CASE WHEN lm.l * 64 >= t.total AND idx >= 32
            |    THEN CAST(1 AS BIGINT) << CAST(idx - 32 AS INT)
            |    ELSE 0 END) AS BIGINT) AS ahash_hi,
            |  CAST(sum(CASE WHEN lm.l * 64 >= t.total AND idx < 32
            |    THEN CAST(1 AS BIGINT) << CAST(idx AS INT)
            |    ELSE 0 END) AS BIGINT) AS ahash_lo
            |FROM lm JOIN tot t USING (doc_id)
            |GROUP BY lm.doc_id, w, h, t.total
            |ORDER BY doc_id""".stripMargin))

  /** Banded image near-dup join ([[Multimodal.mediaNearDups]]): the
    * oracle re-derives every aHash from the generator formulas, blocks
    * on the same four 16-bit bands, and verifies the same exact
    * Hamming bound — candidate blocking AND verification both pinned. */
  private val mediaNearDup = Declared(
    "ml_media_neardup",
    (s, d) => Multimodal
      .mediaNearDups(Multimodal.asBmpMedia(Tables(s, d, "documents"))),
    Some(s"""WITH $bmpGeomCte,
            |rp AS (
            |  SELECT g.doc_id, g.w, g.h,
            |    CAST(j.j * 8 + i.i AS BIGINT) AS idx,
            |    (i.i * g.w) // ${Multimodal.ResizeW} AS sx,
            |    (j.j * g.h) // ${Multimodal.ResizeH} AS sy,
            |    g.tlen
            |  FROM g, unnest(range(0, ${Multimodal.ResizeW})) AS i(i),
            |       unnest(range(0, ${Multimodal.ResizeH})) AS j(j)),
            |lm AS (
            |  SELECT doc_id, idx,
            |    ((sx * 7 + sy * 13 + doc_id) % 256)
            |      + 2 * ((sx * 3 + sy * 5 + tlen) % 256)
            |      + ((sx + sy + 1) % 256) AS l
            |  FROM rp),
            |tot AS (SELECT doc_id, sum(l) AS total FROM lm GROUP BY 1),
            |hs AS MATERIALIZED (
            |  SELECT lm.doc_id,
            |    CAST(sum(CASE WHEN lm.l * 64 >= t.total AND idx >= 32
            |      THEN CAST(1 AS BIGINT) << CAST(idx - 32 AS INT)
            |      ELSE 0 END) AS BIGINT) AS hi,
            |    CAST(sum(CASE WHEN lm.l * 64 >= t.total AND idx < 32
            |      THEN CAST(1 AS BIGINT) << CAST(idx AS INT)
            |      ELSE 0 END) AS BIGINT) AS lo
            |  FROM lm JOIN tot t USING (doc_id) GROUP BY lm.doc_id),
            |bands AS MATERIALIZED (
            |  SELECT doc_id, b, CASE b
            |    WHEN 0 THEN lo & 65535 WHEN 1 THEN (lo >> 16) & 65535
            |    WHEN 2 THEN hi & 65535 ELSE (hi >> 16) & 65535 END AS v
            |  FROM hs, unnest(range(0, 4)) AS t(b)),
            |cand AS (
            |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            |  FROM bands x JOIN bands y
            |    ON x.b = y.b AND x.v = y.v AND x.doc_id < y.doc_id)
            |SELECT c.doc_a, c.doc_b,
            |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
            |       AS INT) AS hamming
            |FROM cand c JOIN hs a ON a.doc_id = c.doc_a
            |JOIN hs b ON b.doc_id = c.doc_b
            |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
            |      <= ${Multimodal.AHashMaxHamming}
            |ORDER BY c.doc_a, c.doc_b""".stripMargin))

  /** L93 — temporal media near-dup ([[Multimodal.mediaTemporalDedup]]):
    * the video-dedup shape. The oracle re-derives every FRAME (stream/
    * position/salt geometry), every per-frame aHash (resample + luma
    * bits), the banded candidate join, the Hamming verification, and
    * the gaps-and-islands segmentation — end to end from the generator
    * formulas, the `ml_media_ahash`/`ml_media_neardup` pattern
    * composed with the `ml_audio_vad` island algebra. */
  private val mediaTemporal = Declared(
    "ml_media_temporal",
    (s, d) => Multimodal.mediaTemporalDedup(
      Multimodal.asBmpVideo(Tables(s, d, "documents"))),
    Some(s"""WITH vg AS (
            |  SELECT doc_id, octet_length(encode(text)) AS tlen,
            |    doc_id % ${Multimodal.VideoStreams} AS stream,
            |    doc_id % 3 AS off,
            |    CAST(6 + (doc_id + octet_length(encode(text))) % 5
            |         AS BIGINT) AS nf,
            |    16 + (doc_id % ${Multimodal.VideoStreams}) % 16 AS w,
            |    8 + (doc_id % ${Multimodal.VideoStreams}) % 8 AS h
            |  FROM documents),
            |fr AS (
            |  SELECT doc_id, stream, w, h, CAST(f.f AS BIGINT) AS fi,
            |    f.f + off AS pos,
            |    CASE WHEN (f.f * 5 + doc_id) % 4 = 0
            |         THEN doc_id * 1009 + f.f ELSE 0 END AS salt
            |  FROM vg, unnest(range(0, nf)) AS f(f)),
            |rp AS (
            |  SELECT fr.doc_id, fr.fi, fr.stream, fr.pos, fr.salt,
            |    CAST(j.j * 8 + i.i AS BIGINT) AS idx,
            |    (i.i * w) // ${Multimodal.ResizeW} AS sx,
            |    (j.j * h) // ${Multimodal.ResizeH} AS sy
            |  FROM fr, unnest(range(0, ${Multimodal.ResizeW})) AS i(i),
            |       unnest(range(0, ${Multimodal.ResizeH})) AS j(j)),
            |lm AS (
            |  SELECT doc_id, fi, idx,
            |    ((sx * 73 + sy * 151 + stream * 31 + pos * 97 + salt)
            |     % 256)
            |    + 2 * ((sx * 59 + sy * 37 + stream * 11 + pos * 53 + salt)
            |           % 256)
            |    + ((sx * 29 + sy * 17 + pos * 41 + salt) % 256) AS l
            |  FROM rp),
            |tot AS (SELECT doc_id, fi, sum(l) AS total
            |        FROM lm GROUP BY 1, 2),
            |hs AS MATERIALIZED (
            |  SELECT lm.doc_id, lm.fi,
            |    CAST(sum(CASE WHEN lm.l * 64 >= t.total AND idx >= 32
            |      THEN CAST(1 AS BIGINT) << CAST(idx - 32 AS INT)
            |      ELSE 0 END) AS BIGINT) AS hi,
            |    CAST(sum(CASE WHEN lm.l * 64 >= t.total AND idx < 32
            |      THEN CAST(1 AS BIGINT) << CAST(idx AS INT)
            |      ELSE 0 END) AS BIGINT) AS lo
            |  FROM lm JOIN tot t USING (doc_id, fi)
            |  GROUP BY 1, 2),
            |bands AS (
            |  SELECT doc_id, fi, b.b AS band,
            |    CASE b.b WHEN 0 THEN lo & 65535
            |             WHEN 1 THEN (lo >> 16) & 65535
            |             WHEN 2 THEN hi & 65535
            |             ELSE (hi >> 16) & 65535 END AS v
            |  FROM hs, unnest(range(0, 4)) AS b(b)),
            |cand AS (
            |  SELECT x.doc_id AS doc_a, x.fi AS fa,
            |         y.doc_id AS doc_b, y.fi AS fb
            |  FROM bands x JOIN bands y
            |    ON x.band = y.band AND x.v = y.v AND x.doc_id < y.doc_id
            |  GROUP BY 1, 2, 3, 4),
            |mt AS (
            |  SELECT c.doc_a, c.doc_b, c.fa, c.fb - c.fa AS delta
            |  FROM cand c
            |  JOIN hs a ON a.doc_id = c.doc_a AND a.fi = c.fa
            |  JOIN hs b ON b.doc_id = c.doc_b AND b.fi = c.fb
            |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
            |        <= ${Multimodal.AHashMaxHamming}),
            |isl AS (
            |  SELECT doc_a, doc_b, delta, fa,
            |    fa - row_number() OVER (PARTITION BY doc_a, doc_b, delta
            |                            ORDER BY fa) AS grp
            |  FROM mt)
            |SELECT doc_a, doc_b, delta,
            |  min(fa) AS a_start, max(fa) AS a_end,
            |  min(fa) + delta AS b_start,
            |  CAST(count(*) AS BIGINT) AS n_frames
            |FROM isl GROUP BY doc_a, doc_b, delta, grp
            |HAVING count(*) >= ${Multimodal.MinSegFrames}
            |ORDER BY doc_a, doc_b, delta, a_start""".stripMargin))

  /** MMR diversity selection ([[Similarity.mmrSelect]]): the oracle
    * re-runs the SAME greedy loop — [[Similarity.MmrK]] rounds
    * unrolled as MATERIALIZED CTEs (the BPE/kcore pattern), each round
    * computing every candidate's max-dot against the selected set and
    * taking the integer-argmax pick; selection order, dots, and scores
    * must all match. */
  private val mmr = Declared(
    "ml_mmr",
    (s, d) => Similarity.mmrSelect(Tables(s, d, "embeddings")),
    Some {
      val lam = Similarity.MmrLambdaNum
      val rounds = (1 to Similarity.MmrK).map { i =>
        val divSql =
          if (i == 1) "CAST(0 AS BIGINT) AS div"
          else
            s"""coalesce((
               |      SELECT max(dd.dot) FROM (
               |        SELECT se.vec_id AS sid, sum(e2.q * se2.q) AS dot
               |        FROM sel${i - 1} se
               |        JOIN qe se2 ON se2.vec_id = se.vec_id
               |        JOIN qe e2 ON e2.i = se2.i
               |          AND e2.vec_id = r.vec_id
               |        GROUP BY se.vec_id) dd), 0) AS div""".stripMargin
        s"""pick$i AS MATERIALIZED (
           |  SELECT vec_id, rel, div, $lam * rel - ${10 - lam} * div
           |      AS score
           |  FROM (SELECT r.vec_id, r.rel, $divSql FROM rel r
           |        WHERE r.vec_id NOT IN (SELECT vec_id FROM sel${i - 1}))
           |  ORDER BY score DESC, vec_id LIMIT 1),
           |sel$i AS MATERIALIZED (
           |  SELECT * FROM sel${i - 1}
           |  UNION ALL
           |  SELECT CAST($i AS BIGINT), vec_id, rel, div, score
           |  FROM pick$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH $qeCte,
         |q0 AS (SELECT i, q FROM qe
         |       WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
         |rel AS MATERIALIZED (
         |  SELECT e.vec_id, sum(e.q * q0.q) AS rel
         |  FROM qe e JOIN q0 ON e.i = q0.i
         |  WHERE e.vec_id <> (SELECT min(vec_id) FROM embeddings)
         |  GROUP BY 1),
         |sel0(rank, vec_id, rel, div, score) AS (
         |  SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
         |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
         |         CAST(NULL AS BIGINT) WHERE false),
         |$rounds
         |SELECT rank, vec_id, CAST(rel AS BIGINT) AS rel_dot,
         |  CAST(div AS BIGINT) AS div_dot, CAST(score AS BIGINT) AS score
         |FROM sel${Similarity.MmrK}
         |ORDER BY rank""".stripMargin
    })

  /** ANN recall report ([[Similarity.annRecall]]): the oracle
    * re-derives BOTH sides — the exact brute-force top-k and the
    * probed-IVF top-k, each with the engines' shared fold — and
    * re-counts the overlap, so the recall numbers are pinned
    * end-to-end, not sampled. */
  private val annRecallQ = Declared(
    "ml_ann_recall",
    (s, d) => Similarity.annRecall(Tables(s, d, "embeddings")),
    Some(s"""WITH $qeCte,
            |$nrmCte,
            |bdots AS (
            |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
            |         sum(a.q * b.q) AS d
            |  FROM qe a JOIN qe b ON a.i = b.i AND a.vec_id <> b.vec_id
            |  WHERE a.vec_id % $QueryStride = 0
            |  GROUP BY a.vec_id, b.vec_id),
            |btop AS (
            |  SELECT query_id, neighbor_id FROM (
            |    SELECT d.query_id, d.neighbor_id,
            |      row_number() OVER (PARTITION BY d.query_id
            |        ORDER BY ${cosSql("d.d", "na.n2", "nb.n2")} DESC,
            |                 d.neighbor_id) AS rn
            |    FROM bdots d
            |    JOIN nrm na ON na.vec_id = d.query_id
            |    JOIN nrm nb ON nb.vec_id = d.neighbor_id)
            |  WHERE rn <= ${Similarity.TopK}),
            |cent AS (SELECT label, i, sum(q) AS cs FROM qe GROUP BY label, i),
            |qv AS (SELECT vec_id AS query_id, i, q FROM qe
            |       WHERE vec_id % $QueryStride = 0),
            |cell AS (
            |  SELECT qv.query_id, c.label,
            |         ${cosSql("sum(qv.q * c.cs)", "sum(qv.q * qv.q)",
                             "sum(c.cs * c.cs)")} AS cell_cos
            |  FROM qv JOIN cent c ON qv.i = c.i
            |  GROUP BY qv.query_id, c.label),
            |probe AS (
            |  SELECT query_id, label FROM (
            |    SELECT query_id, label,
            |           row_number() OVER (PARTITION BY query_id
            |                              ORDER BY cell_cos DESC, label) AS r
            |    FROM cell)
            |  WHERE r <= $NProbe),
            |idots AS (
            |  SELECT p.query_id, e.vec_id AS neighbor_id,
            |         sum(qv.q * e.q) AS d
            |  FROM probe p
            |  JOIN qe e ON e.label = p.label AND e.vec_id <> p.query_id
            |  JOIN qv ON qv.query_id = p.query_id AND qv.i = e.i
            |  GROUP BY p.query_id, e.vec_id),
            |itop AS (
            |  SELECT query_id, neighbor_id FROM (
            |    SELECT d.query_id, d.neighbor_id,
            |      row_number() OVER (PARTITION BY d.query_id
            |        ORDER BY ${cosSql("d.d", "na.n2", "nb.n2")} DESC,
            |                 d.neighbor_id) AS rn
            |    FROM idots d
            |    JOIN nrm na ON na.vec_id = d.query_id
            |    JOIN nrm nb ON nb.vec_id = d.neighbor_id)
            |  WHERE rn <= ${Similarity.TopK}),
            |hits AS (
            |  SELECT i.query_id, count(*) AS n_hits
            |  FROM itop i JOIN btop b
            |    ON b.query_id = i.query_id
            |   AND b.neighbor_id = i.neighbor_id
            |  GROUP BY 1)
            |SELECT q.query_id,
            |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
            |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / ${Similarity.TopK}
            |    AS recall
            |FROM (SELECT DISTINCT query_id FROM btop) q
            |LEFT JOIN hits h USING (query_id)
            |ORDER BY q.query_id""".stripMargin))

  /** Filtered-ANN eval ([[Similarity.filteredAnnEval]]): the oracle
    * re-derives the same-category exact baseline, the probed
    * pre-filter search, the unfiltered probed search with its
    * post-filter, and every overlap. */
  private val annFiltered = Declared(
    "ml_ann_filtered",
    (s, d) => Similarity.filteredAnnEval(Tables(s, d, "embeddings")),
    Some {
      val M = Similarity.FilterMod
      s"""WITH $qeCte,
         |$nrmCte,
         |fdots AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         sum(a.q * b.q) AS d
         |  FROM qe a JOIN qe b ON a.i = b.i AND a.vec_id <> b.vec_id
         |   AND b.vec_id % $M = a.vec_id % $M
         |  WHERE a.vec_id % $QueryStride = 0
         |  GROUP BY a.vec_id, b.vec_id),
         |ftop AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT d.query_id, d.neighbor_id,
         |      row_number() OVER (PARTITION BY d.query_id
         |        ORDER BY ${cosSql("d.d", "na.n2", "nb.n2")} DESC,
         |                 d.neighbor_id) AS rn
         |    FROM fdots d
         |    JOIN nrm na ON na.vec_id = d.query_id
         |    JOIN nrm nb ON nb.vec_id = d.neighbor_id)
         |  WHERE rn <= ${Similarity.TopK}),
         |cent AS (SELECT label, i, sum(q) AS cs FROM qe GROUP BY label, i),
         |qv AS (SELECT vec_id AS query_id, i, q FROM qe
         |       WHERE vec_id % $QueryStride = 0),
         |cell AS (
         |  SELECT qv.query_id, c.label,
         |         ${cosSql("sum(qv.q * c.cs)", "sum(qv.q * qv.q)",
                          "sum(c.cs * c.cs)")} AS cell_cos
         |  FROM qv JOIN cent c ON qv.i = c.i
         |  GROUP BY qv.query_id, c.label),
         |probe AS (
         |  SELECT query_id, label FROM (
         |    SELECT query_id, label,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY cell_cos DESC, label) AS r
         |    FROM cell)
         |  WHERE r <= $NProbe),
         |predots AS (
         |  SELECT p.query_id, e.vec_id AS neighbor_id,
         |         sum(qv.q * e.q) AS d
         |  FROM probe p
         |  JOIN qe e ON e.label = p.label AND e.vec_id <> p.query_id
         |   AND e.vec_id % $M = p.query_id % $M
         |  JOIN qv ON qv.query_id = p.query_id AND qv.i = e.i
         |  GROUP BY p.query_id, e.vec_id),
         |pretop AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT d.query_id, d.neighbor_id,
         |      row_number() OVER (PARTITION BY d.query_id
         |        ORDER BY ${cosSql("d.d", "na.n2", "nb.n2")} DESC,
         |                 d.neighbor_id) AS rn
         |    FROM predots d
         |    JOIN nrm na ON na.vec_id = d.query_id
         |    JOIN nrm nb ON nb.vec_id = d.neighbor_id)
         |  WHERE rn <= ${Similarity.TopK}),
         |idots AS (
         |  SELECT p.query_id, e.vec_id AS neighbor_id,
         |         sum(qv.q * e.q) AS d
         |  FROM probe p
         |  JOIN qe e ON e.label = p.label AND e.vec_id <> p.query_id
         |  JOIN qv ON qv.query_id = p.query_id AND qv.i = e.i
         |  GROUP BY p.query_id, e.vec_id),
         |itop AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT d.query_id, d.neighbor_id,
         |      row_number() OVER (PARTITION BY d.query_id
         |        ORDER BY ${cosSql("d.d", "na.n2", "nb.n2")} DESC,
         |                 d.neighbor_id) AS rn
         |    FROM idots d
         |    JOIN nrm na ON na.vec_id = d.query_id
         |    JOIN nrm nb ON nb.vec_id = d.neighbor_id)
         |  WHERE rn <= ${Similarity.TopK}),
         |post AS (
         |  SELECT query_id, neighbor_id FROM itop
         |  WHERE neighbor_id % $M = query_id % $M),
         |nex AS (SELECT query_id, count(*) AS n_exact FROM ftop
         |        GROUP BY 1),
         |npost AS (SELECT query_id, count(*) AS n_post FROM post
         |          GROUP BY 1),
         |hpre AS (
         |  SELECT p.query_id, count(*) AS hits_pre
         |  FROM pretop p JOIN ftop f
         |    ON f.query_id = p.query_id
         |   AND f.neighbor_id = p.neighbor_id
         |  GROUP BY 1),
         |hpost AS (
         |  SELECT p.query_id, count(*) AS hits_post
         |  FROM post p JOIN ftop f
         |    ON f.query_id = p.query_id
         |   AND f.neighbor_id = p.neighbor_id
         |  GROUP BY 1)
         |SELECT n.query_id, CAST(n.n_exact AS BIGINT) AS n_exact,
         |  CAST(coalesce(np.n_post, 0) AS BIGINT) AS n_post,
         |  CAST(coalesce(hp.hits_pre, 0) AS BIGINT) AS hits_pre,
         |  CAST(coalesce(ho.hits_post, 0) AS BIGINT) AS hits_post,
         |  CAST(coalesce(hp.hits_pre, 0) AS DOUBLE) / n.n_exact
         |    AS recall_pre,
         |  CAST(coalesce(ho.hits_post, 0) AS DOUBLE) / n.n_exact
         |    AS recall_post
         |FROM nex n
         |LEFT JOIN npost np USING (query_id)
         |LEFT JOIN hpre hp USING (query_id)
         |LEFT JOIN hpost ho USING (query_id)
         |ORDER BY n.query_id""".stripMargin
    })

  /** L92 — the L89 recall tripwire extended across the WHOLE index
    * family ([[Similarity.annRecallMulti]], VERDICT r12 next #7): one
    * row reports recall@k per (index, query) for IVF, SRP-LSH, PQ-ADC,
    * and IVFADC, each against its metric-exact baseline (cosine top-k
    * for the cosine family, L2 top-k for the ADC family — self
    * included there, as in the ADC candidate spaces). The oracle
    * re-derives ALL FOUR searches and both exact baselines end-to-end
    * — probing, bucketing, encoding, ADC LUTs — from the row's own
    * model dumps, then re-counts every overlap; recall is
    * rerank-invariant (the ADC rerank reorders, never changes, the
    * returned set), so the ADC chains stop at the candidate set. `qe`
    * is MATERIALIZED: DuckDB would otherwise inline the 64-wide unnest
    * into each of its ~12 references. */
  private val annRecallMultiQ = Declared(
    "ml_ann_recall_multi",
    (s, d) => Similarity.annRecallMulti(Tables(s, d, "embeddings"),
      recallPqCbPq, recallAdcCentPq, recallAdcCbPq),
    Some(s"""WITH ${qeCte.replace("qe AS (", "qe AS MATERIALIZED (")},
            |${nrmCte.replace("nrm AS (", "nrm AS MATERIALIZED (")},
            |bdots AS (
            |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
            |         sum(a.q * b.q) AS d
            |  FROM qe a JOIN qe b ON a.i = b.i AND a.vec_id <> b.vec_id
            |  WHERE a.vec_id % $QueryStride = 0
            |  GROUP BY a.vec_id, b.vec_id),
            |btop AS MATERIALIZED (
            |  SELECT query_id, neighbor_id FROM (
            |    SELECT d.query_id, d.neighbor_id,
            |      row_number() OVER (PARTITION BY d.query_id
            |        ORDER BY ${cosSql("d.d", "na.n2", "nb.n2")} DESC,
            |                 d.neighbor_id) AS rn
            |    FROM bdots d
            |    JOIN nrm na ON na.vec_id = d.query_id
            |    JOIN nrm nb ON nb.vec_id = d.neighbor_id)
            |  WHERE rn <= ${Similarity.TopK}),
            |cent AS (SELECT label, i, sum(q) AS cs FROM qe GROUP BY label, i),
            |qv AS (SELECT vec_id AS query_id, i, q FROM qe
            |       WHERE vec_id % $QueryStride = 0),
            |cell AS (
            |  SELECT qv.query_id, c.label,
            |         ${cosSql("sum(qv.q * c.cs)", "sum(qv.q * qv.q)",
                             "sum(c.cs * c.cs)")} AS cell_cos
            |  FROM qv JOIN cent c ON qv.i = c.i
            |  GROUP BY qv.query_id, c.label),
            |probe AS (
            |  SELECT query_id, label FROM (
            |    SELECT query_id, label,
            |           row_number() OVER (PARTITION BY query_id
            |                              ORDER BY cell_cos DESC, label) AS r
            |    FROM cell)
            |  WHERE r <= $NProbe),
            |idots AS (
            |  SELECT p.query_id, e.vec_id AS neighbor_id,
            |         sum(qv.q * e.q) AS d
            |  FROM probe p
            |  JOIN qe e ON e.label = p.label AND e.vec_id <> p.query_id
            |  JOIN qv ON qv.query_id = p.query_id AND qv.i = e.i
            |  GROUP BY p.query_id, e.vec_id),
            |itop AS (
            |  SELECT query_id, neighbor_id FROM (
            |    SELECT d.query_id, d.neighbor_id,
            |      row_number() OVER (PARTITION BY d.query_id
            |        ORDER BY ${cosSql("d.d", "na.n2", "nb.n2")} DESC,
            |                 d.neighbor_id) AS rn
            |    FROM idots d
            |    JOIN nrm na ON na.vec_id = d.query_id
            |    JOIN nrm nb ON nb.vec_id = d.neighbor_id)
            |  WHERE rn <= ${Similarity.TopK}),
            |hp AS (
            |  SELECT t.t, h.h, i.i,
            |         ${sqlHash60(s"'srp:' || t.t || ':' || h.h || ':' || i.i")}
            |           % 2001 - 1000 AS r
            |  FROM range(0, ${Similarity.SrpTables}) t(t),
            |       range(0, ${Similarity.SrpBits}) h(h),
            |       range(1, 65) i(i)),
            |bits AS (
            |  SELECT e.vec_id, p.t, p.h,
            |         CASE WHEN sum(e.q * p.r) >= 0 THEN 1 ELSE 0 END AS b
            |  FROM qe e JOIN hp p ON e.i = p.i
            |  GROUP BY e.vec_id, p.t, p.h),
            |buck AS (
            |  SELECT vec_id, t, CAST(sum(b * (1 << h)) AS BIGINT) AS bk
            |  FROM bits GROUP BY vec_id, t),
            |flips AS (
            |  SELECT CAST(0 AS BIGINT) AS fl
            |  UNION ALL
            |  SELECT CAST(1 << h AS BIGINT) FROM range(0, ${Similarity.SrpBits}) h(h)),
            |probes AS (
            |  SELECT b.vec_id AS query_id, b.t, xor(b.bk, f.fl) AS bk
            |  FROM buck b, flips f WHERE b.vec_id % $QueryStride = 0),
            |lcand AS (
            |  SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
            |  FROM probes p
            |  JOIN buck c ON c.t = p.t AND c.bk = p.bk
            |             AND c.vec_id <> p.query_id),
            |ldots AS (
            |  SELECT cd.query_id, cd.neighbor_id, sum(qv2.q * e.q) AS d
            |  FROM lcand cd
            |  JOIN qe e ON e.vec_id = cd.neighbor_id
            |  JOIN qe qv2 ON qv2.vec_id = cd.query_id AND qv2.i = e.i
            |  GROUP BY cd.query_id, cd.neighbor_id),
            |ltop AS (
            |  SELECT query_id, neighbor_id FROM (
            |    SELECT d.query_id, d.neighbor_id,
            |      row_number() OVER (PARTITION BY d.query_id
            |        ORDER BY ${cosSql("d.d", "na.n2", "nb.n2")} DESC,
            |                 d.neighbor_id) AS rn
            |    FROM ldots d
            |    JOIN nrm na ON na.vec_id = d.query_id
            |    JOIN nrm nb ON nb.vec_id = d.neighbor_id)
            |  WHERE rn <= ${Similarity.TopK}),
            |pcb AS (SELECT m, code, centroid
            |        FROM read_parquet('$recallPqCbPq/*.parquet')),
            |pdist AS MATERIALIZED (
            |  SELECT qe.vec_id, pcb.m, pcb.code,
            |    CAST(sum(
            |      (qe.q - pcb.centroid[(qe.i - 1) % ${Similarity.PqDims} + 1])
            |      * (qe.q - pcb.centroid[(qe.i - 1) % ${Similarity.PqDims} + 1]))
            |      AS BIGINT) AS d2
            |  FROM qe JOIN pcb ON (qe.i - 1) // ${Similarity.PqDims} = pcb.m
            |  GROUP BY qe.vec_id, pcb.m, pcb.code),
            |penc AS (SELECT vec_id, m,
            |           CAST(min(d2 * ${Similarity.PqK} + code)
            |                % ${Similarity.PqK} AS INT) AS code
            |         FROM pdist GROUP BY vec_id, m),
            |padc AS (
            |  SELECT q.vec_id AS query_id, e.vec_id,
            |         CAST(sum(q.d2) AS BIGINT) AS adc
            |  FROM pdist q JOIN penc e ON q.m = e.m AND q.code = e.code
            |  WHERE q.vec_id % $QueryStride = 0
            |  GROUP BY 1, 2),
            |ptop AS (
            |  SELECT query_id, vec_id FROM (
            |    SELECT query_id, vec_id, row_number() OVER (
            |      PARTITION BY query_id ORDER BY adc, vec_id) AS crank
            |    FROM padc)
            |  WHERE crank <= ${Similarity.PqTopK}),
            |acent AS (SELECT label, centroid
            |          FROM read_parquet('$recallAdcCentPq/*.parquet')),
            |acb AS (SELECT m, code, centroid
            |        FROM read_parquet('$recallAdcCbPq/*.parquet')),
            |are AS (
            |  SELECT qe.vec_id, qe.label, qe.i,
            |         qe.q - acent.centroid[qe.i] AS r
            |  FROM qe JOIN acent ON qe.label = acent.label),
            |adist AS MATERIALIZED (
            |  SELECT are.vec_id, acb.m, acb.code,
            |    CAST(sum(
            |      (are.r - acb.centroid[(are.i - 1) % ${Similarity.PqDims} + 1])
            |      * (are.r - acb.centroid[(are.i - 1) % ${Similarity.PqDims} + 1]))
            |      AS BIGINT) AS d2
            |  FROM are JOIN acb ON (are.i - 1) // ${Similarity.PqDims} = acb.m
            |  GROUP BY 1, 2, 3),
            |aenc AS (SELECT vec_id, m,
            |           CAST(min(d2 * ${Similarity.PqK} + code)
            |                % ${Similarity.PqK} AS INT) AS code
            |         FROM adist GROUP BY 1, 2),
            |acq AS (
            |  SELECT qe.vec_id AS query_id, acent.label AS cell,
            |    CAST(sum((qe.q - acent.centroid[qe.i])
            |             * (qe.q - acent.centroid[qe.i])) AS BIGINT) AS cd2
            |  FROM qe CROSS JOIN acent
            |  WHERE qe.vec_id % $QueryStride = 0
            |  GROUP BY 1, 2),
            |aprobe AS (
            |  SELECT query_id, cell FROM (
            |    SELECT query_id, cell, row_number() OVER (
            |      PARTITION BY query_id ORDER BY cd2, cell) AS pr
            |    FROM acq)
            |  WHERE pr <= ${Similarity.IvfAdcProbe}),
            |aqlut AS (
            |  SELECT p.query_id, p.cell, acb.m, acb.code,
            |    CAST(sum(
            |      ((qe.q - acent.centroid[qe.i])
            |       - acb.centroid[(qe.i - 1) % ${Similarity.PqDims} + 1])
            |      * ((qe.q - acent.centroid[qe.i])
            |         - acb.centroid[(qe.i - 1) % ${Similarity.PqDims} + 1]))
            |      AS BIGINT) AS d2
            |  FROM aprobe p
            |  JOIN qe ON qe.vec_id = p.query_id
            |  JOIN acent ON acent.label = p.cell
            |  JOIN acb ON (qe.i - 1) // ${Similarity.PqDims} = acb.m
            |  GROUP BY 1, 2, 3, 4),
            |alv AS (SELECT DISTINCT vec_id, label FROM qe),
            |aadc AS (
            |  SELECT q.query_id, alv.vec_id, CAST(sum(q.d2) AS BIGINT) AS adc
            |  FROM aqlut q
            |  JOIN alv ON alv.label = q.cell
            |  JOIN aenc e ON e.vec_id = alv.vec_id
            |    AND e.m = q.m AND e.code = q.code
            |  GROUP BY 1, 2),
            |atop AS (
            |  SELECT query_id, vec_id FROM (
            |    SELECT query_id, vec_id, row_number() OVER (
            |      PARTITION BY query_id ORDER BY adc, vec_id) AS crank
            |    FROM aadc)
            |  WHERE crank <= ${Similarity.PqTopK}),
            |xl2 AS (
            |  SELECT a.vec_id AS query_id, b.vec_id,
            |         CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d2
            |  FROM qe a JOIN qe b ON a.i = b.i
            |  WHERE a.vec_id % $QueryStride = 0
            |  GROUP BY 1, 2),
            |xltop AS MATERIALIZED (
            |  SELECT query_id, vec_id FROM (
            |    SELECT query_id, vec_id, row_number() OVER (
            |      PARTITION BY query_id ORDER BY d2, vec_id) AS rn
            |    FROM xl2)
            |  WHERE rn <= ${Similarity.PqTopK}),
            |h_ivf AS (
            |  SELECT i.query_id, count(*) AS n_hits FROM itop i
            |  JOIN btop b ON b.query_id = i.query_id
            |             AND b.neighbor_id = i.neighbor_id
            |  GROUP BY 1),
            |h_lsh AS (
            |  SELECT l.query_id, count(*) AS n_hits FROM ltop l
            |  JOIN btop b ON b.query_id = l.query_id
            |             AND b.neighbor_id = l.neighbor_id
            |  GROUP BY 1),
            |h_pq AS (
            |  SELECT p.query_id, count(*) AS n_hits FROM ptop p
            |  JOIN xltop x ON x.query_id = p.query_id AND x.vec_id = p.vec_id
            |  GROUP BY 1),
            |h_adc AS (
            |  SELECT a.query_id, count(*) AS n_hits FROM atop a
            |  JOIN xltop x ON x.query_id = a.query_id AND x.vec_id = a.vec_id
            |  GROUP BY 1),
            |qids AS (SELECT DISTINCT query_id FROM btop)
            |SELECT idx, query_id, n_hits, recall FROM (
            |  SELECT 'ivf' AS idx, q.query_id,
            |    CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
            |    CAST(coalesce(h.n_hits, 0) AS DOUBLE) / ${Similarity.TopK}
            |      AS recall
            |  FROM qids q LEFT JOIN h_ivf h USING (query_id)
            |  UNION ALL
            |  SELECT 'lsh', q.query_id,
            |    CAST(coalesce(h.n_hits, 0) AS BIGINT),
            |    CAST(coalesce(h.n_hits, 0) AS DOUBLE) / ${Similarity.TopK}
            |  FROM qids q LEFT JOIN h_lsh h USING (query_id)
            |  UNION ALL
            |  SELECT 'pq', q.query_id,
            |    CAST(coalesce(h.n_hits, 0) AS BIGINT),
            |    CAST(coalesce(h.n_hits, 0) AS DOUBLE) / ${Similarity.PqTopK}
            |  FROM qids q LEFT JOIN h_pq h USING (query_id)
            |  UNION ALL
            |  SELECT 'ivfadc', q.query_id,
            |    CAST(coalesce(h.n_hits, 0) AS BIGINT),
            |    CAST(coalesce(h.n_hits, 0) AS DOUBLE) / ${Similarity.PqTopK}
            |  FROM qids q LEFT JOIN h_adc h USING (query_id))
            |ORDER BY idx, query_id""".stripMargin))

  /** Farthest-point sampling ([[Similarity.fpsSelect]]): the Gonzalez
    * k-center greedy as an oracle row — the same unrolled-CTE loop as
    * [[mmr]] but with the argMIN-of-nearest-selected objective and a
    * sentinel seed dot. Selection ORDER is pinned, not just the set. */
  private val fps = Declared(
    "ml_fps",
    (s, d) => Similarity.fpsSelect(Tables(s, d, "embeddings")),
    Some {
      val rounds = (2 to Similarity.FpsK).map { i =>
        s"""pick$i AS MATERIALIZED (
           |  SELECT r.vec_id,
           |    (SELECT max(dd.dot) FROM (
           |       SELECT se.vec_id AS sid, sum(e2.q * se2.q) AS dot
           |       FROM sel${i - 1} se
           |       JOIN qe se2 ON se2.vec_id = se.vec_id
           |       JOIN qe e2 ON e2.i = se2.i AND e2.vec_id = r.vec_id
           |       GROUP BY se.vec_id) dd) AS near
           |  FROM (SELECT DISTINCT vec_id FROM qe) r
           |  WHERE r.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
           |  ORDER BY near ASC, vec_id LIMIT 1),
           |sel$i AS MATERIALIZED (
           |  SELECT * FROM sel${i - 1}
           |  UNION ALL
           |  SELECT CAST($i AS BIGINT), vec_id, near FROM pick$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH $qeCte,
         |sel1(rank, vec_id, near) AS (
         |  SELECT CAST(1 AS BIGINT), min(vec_id),
         |         CAST(${Long.MinValue} AS BIGINT) FROM embeddings),
         |$rounds
         |SELECT rank, vec_id, CAST(near AS BIGINT) AS max_sel_dot
         |FROM sel${Similarity.FpsK}
         |ORDER BY rank""".stripMargin
    })

  /** Shared oracle for the MAD gate and its streaming twin — one SQL
    * string holds both declared results to the SAME fold (the
    * [[qualityGateSql]] discipline). DuckDB's `quantile_disc(0.5)` IS
    * the lower median (element ⌊(n−1)/2⌋ of the sorted run), matching
    * the engine's cumulative-count fold, so med/mad/dev/flag all
    * hash-match. */
  private val outlierMadSql =
    s"""WITH med AS (
       |  SELECT lang, quantile_disc(n_chars, 0.5) AS med
       |  FROM documents GROUP BY 1),
       |mad AS (
       |  SELECT d.lang,
       |    quantile_disc(abs(d.n_chars - m.med), 0.5) AS mad
       |  FROM documents d JOIN med m USING (lang) GROUP BY 1)
       |SELECT d.doc_id, d.lang,
       |  CAST(d.n_chars AS BIGINT) AS n_chars,
       |  CAST(m.med AS BIGINT) AS med,
       |  CAST(a.mad AS BIGINT) AS mad,
       |  CAST(abs(d.n_chars - m.med) AS BIGINT) AS dev,
       |  CAST(abs(d.n_chars - m.med) >
       |       ${TextAnalysis.OutlierMadK} * a.mad AS INT) AS outlier
       |FROM documents d JOIN med m USING (lang)
       |JOIN mad a USING (lang)
       |ORDER BY d.doc_id""".stripMargin

  private val outlierMad = Declared(
    "ml_outlier_mad",
    (s, d) => TextAnalysis.outlierMad(Tables(s, d, "documents")),
    Some(outlierMadSql))

  /** Streaming twin of the MAD gate — the TRAIN-THEN-APPLY split every
    * GLOBAL-statistic gate needs on a continuous ingest (unlike the
    * per-row quality gate, the medians consult the whole reference
    * corpus): thresholds train batch-side ([[TextAnalysis.
    * outlierMadModel]] — bounded model state), then each arriving
    * micro-batch applies them as literals. Trained on exactly the
    * streamed corpus, the result equals the batch gate — which is the
    * oracle, verbatim. Same harness shape as
    * [[qualityGateStream]] (MemoryStream waves are the feeder, the
    * gated output lands as hash-bucketed parquet appends). */
  private val outlierMadStream = Declared(
    "ml_outlier_mad_stream",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val docs = Tables(s, d, "documents")
        .select("doc_id", "lang", "n_chars")
      val model = TextAnalysis.outlierMadModel(docs)
      val rows = docs.orderBy("doc_id").collect()
      val in = MemoryStream[(Long, String, Long)](s)
      val outDir = java.nio.file.Files
        .createTempDirectory("graft-madgate-out").toString
      val q = in.toDF().toDF("doc_id", "lang", "n_chars")
        .writeStream.outputMode("append")
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("graft-madgate-ckpt").toString)
        .foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
            TextAnalysis.outlierMadApply(batch, model)
              .withColumn("bucket", pmod(col("doc_id"), lit(16)))
              .repartition(col("bucket"))
              .write.mode("append").partitionBy("bucket").parquet(outDir)
        }
        .start()
      try rows.grouped(rows.length / 4 + 1).foreach { wave =>
        in.addData(wave.map(r => (r.getLong(0), r.getString(1),
          r.getLong(2))))
        q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(outDir)
        .select("doc_id", "lang", "n_chars", "med", "mad", "dev",
          "outlier")
        .orderBy("doc_id")
    },
    Some(outlierMadSql))

  /** Label-propagation communities ([[GraphOps.lpaCommunities]]) —
    * completes the iterative-graph family (CC / PageRank / triangles /
    * k-core): majority-label rounds with a self-vote and
    * smallest-label tie-break, all integer. The oracle re-derives the
    * same similarity graph and re-runs the SAME [[GraphOps.LpaRounds]]
    * rounds as unrolled MATERIALIZED CTEs (the kcore pattern); rounds
    * past the fixture's fixpoint are exact no-ops in both engines. */
  private val lpa = Declared(
    "ml_lpa",
    (s, d) => GraphOps.lpaCommunities(Tables(s, d, "embeddings")),
    Some {
      val rounds = (1 to GraphOps.LpaRounds).map { i =>
        s"""l$i AS MATERIALIZED (
           |  SELECT id, min(lbl) AS lbl FROM (
           |    SELECT v.a AS id, l.lbl, count(*) AS cnt,
           |      max(count(*)) OVER (PARTITION BY v.a) AS mx
           |    FROM votes v JOIN l${i - 1} l ON v.b = l.id
           |    GROUP BY v.a, l.lbl)
           |  WHERE cnt = mx GROUP BY id)""".stripMargin
      }.mkString(",\n")
      val n = GraphOps.LpaRounds
      s"""WITH $qeCte,
         |$nrmCte,
         |dots AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         sum(a.q * b.q) AS d
         |  FROM qe a JOIN qe b
         |    ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
         |  GROUP BY a.vec_id, b.vec_id),
         |und AS MATERIALIZED (
         |  SELECT t.vec_a AS a, t.vec_b AS b
         |  FROM dots t
         |  JOIN nrm na ON na.vec_id = t.vec_a
         |  JOIN nrm nb ON nb.vec_id = t.vec_b
         |  WHERE ${cosSql("t.d", "na.n2", "nb.n2")}
         |        >= ${GraphOps.TriMinCos}),
         |votes AS MATERIALIZED (
         |  SELECT a, b FROM und
         |  UNION ALL SELECT b, a FROM und
         |  UNION ALL SELECT vec_id, vec_id FROM embeddings),
         |l0 AS MATERIALIZED (
         |  SELECT vec_id AS id, vec_id AS lbl FROM embeddings),
         |$rounds,
         |sz AS (SELECT lbl, CAST(count(*) AS BIGINT) AS community_size
         |       FROM l$n GROUP BY 1)
         |SELECT l.id AS vec_id, l.lbl AS community, sz.community_size
         |FROM l$n l JOIN sz ON sz.lbl = l.lbl
         |ORDER BY vec_id""".stripMargin
    })

  /** Native-Generator UDTF query: 3-token sliding windows straight off
    * the tokenizer output via [[graft.functions.NgramWindows]] — the
    * UDTF surface next to the five scalar kernels; the oracle unnests
    * the same windows positionally. */
  private val udtfNgrams = Declared(
    "x_udtf_ngrams",
    (s, d) => Tables(s, d, "documents")
      .select(col("doc_id"),
        graft.functions.VectorFunctions
          .ngramWindows(MlFunctions.tokens(col("text")), 3)
          .as(Seq("pos", "gram")))
      .orderBy("doc_id", "pos"),
    Some("""WITH toks AS (
           |  SELECT doc_id, string_split(text, ' ') AS tk
           |  FROM documents)
           |SELECT doc_id, CAST(i - 1 AS INT) AS pos,
           |  tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS gram
           |FROM toks, unnest(range(1, len(tk) - 1)) AS t(i)
           |ORDER BY doc_id, pos""".stripMargin))

  /** Train/val/test split oracle: the same md5 per-mille threshold and
    * the same (source, split) audit aggregate. */
  private val tvtSplit = Declared(
    "ml_split",
    (s, d) => TextAnalysis.trainValTestSplit(Tables(s, d, "documents")),
    Some(s"""WITH h AS (
            |  SELECT source, n_chars,
            |    ${sqlHash60("'sp:' || doc_id")} % 1000 AS hh
            |  FROM documents)
            |SELECT source,
            |  CASE WHEN hh < ${TextAnalysis.SplitTrain} THEN 'train'
            |       WHEN hh < ${TextAnalysis.SplitVal} THEN 'val'
            |       ELSE 'test' END AS split,
            |  CAST(count(*) AS BIGINT) AS n_docs,
            |  CAST(sum(n_chars) AS BIGINT) AS n_chars
            |FROM h GROUP BY 1, 2 ORDER BY source, split""".stripMargin))

  /** Hard-negative oracle: the same cross-label pair space, rank-1 by
    * (cos desc, neg_id). */
  private val hardNeg = Declared(
    "ml_hard_negatives",
    (s, d) => Similarity.hardNegatives(Tables(s, d, "embeddings")),
    Some(s"""WITH $qeCte,
            |$nrmCte,
            |lab AS (SELECT vec_id, label FROM embeddings),
            |dots AS (
            |  SELECT a.vec_id AS query_id, b.vec_id AS neg_id,
            |         sum(a.q * b.q) AS d
            |  FROM qe a JOIN qe b
            |    ON a.i = b.i AND a.vec_id <> b.vec_id
            |       AND a.label <> b.label
            |  WHERE a.vec_id % $QueryStride = 0
            |  GROUP BY 1, 2),
            |scored AS (
            |  SELECT d.query_id, la.label AS query_label, d.neg_id,
            |         lb.label AS neg_label,
            |         ${cosSql("d.d", "na.n2", "nb.n2")} AS cos
            |  FROM dots d
            |  JOIN nrm na ON na.vec_id = d.query_id
            |  JOIN nrm nb ON nb.vec_id = d.neg_id
            |  JOIN lab la ON la.vec_id = d.query_id
            |  JOIN lab lb ON lb.vec_id = d.neg_id)
            |SELECT query_id, query_label, neg_id, neg_label, cos FROM (
            |  SELECT *, row_number() OVER (PARTITION BY query_id
            |    ORDER BY cos DESC, neg_id) AS rn
            |  FROM scored)
            |WHERE rn = 1 ORDER BY query_id""".stripMargin))

  /** Norm-outlier oracle: hugeint moments, the same integer
    * cross-multiplied z² test. */
  private val embOutliers = Declared(
    "ml_embed_outliers",
    (s, d) => Similarity.normOutliers(Tables(s, d, "embeddings")),
    Some(s"""WITH $qeCte,
            |$nrmCte,
            |m AS (SELECT count(*) AS n, sum(n2) AS s,
            |             sum(n2 * n2) AS qq
            |      FROM nrm)
            |SELECT vec_id, CAST(n2 AS BIGINT) AS n2,
            |  CAST((m.n * n2 - m.s) * (m.n * n2 - m.s) AS DOUBLE) /
            |    CAST(m.n * m.qq - m.s * m.s AS DOUBLE) AS zsq,
            |  CAST((m.n * n2 - m.s) * (m.n * n2 - m.s) >
            |       4 * (m.n * m.qq - m.s * m.s) AS INT) AS is_outlier
            |FROM nrm, m ORDER BY vec_id""".stripMargin))

  /** Matryoshka truncation eval ([[Similarity.matryoshkaRecall]]): the
    * oracle re-derives every prefix-width search — integer prefix
    * dots/norms, the cosine ranking, and the top-k overlap against the
    * full width. */
  private val matryoshka = Declared(
    "ml_matryoshka_recall",
    (s, d) => Similarity.matryoshkaRecall(Tables(s, d, "embeddings")),
    Some {
      val widths = (Similarity.MatryoshkaDims :+ 64)
        .map(w => s"(CAST($w AS BIGINT))").mkString(", ")
      s"""WITH $qeCte,
         |dots AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, w.dims,
         |    sum(a.q * b.q) AS dot,
         |    sum(a.q * a.q) AS na, sum(b.q * b.q) AS nb
         |  FROM (VALUES $widths) AS w(dims)
         |  JOIN qe a ON a.i <= w.dims
         |  JOIN qe b ON b.i = a.i AND b.vec_id <> a.vec_id
         |  WHERE a.vec_id % ${Similarity.QueryStride} = 0
         |  GROUP BY 1, 2, 3),
         |ranked AS (
         |  SELECT query_id, neighbor_id, dims,
         |    row_number() OVER (PARTITION BY query_id, dims
         |      ORDER BY ${cosSql("dot", "na", "nb")} DESC, neighbor_id)
         |      AS rn
         |  FROM dots),
         |topk AS (
         |  SELECT query_id, neighbor_id, dims FROM ranked
         |  WHERE rn <= ${Similarity.TopK})
         |SELECT t.query_id, t.dims, count(f.neighbor_id) AS n_hits,
         |  CAST(count(f.neighbor_id) AS DOUBLE) / ${Similarity.TopK}
         |    AS recall
         |FROM topk t LEFT JOIN topk f
         |  ON f.dims = 64 AND f.query_id = t.query_id
         |  AND f.neighbor_id = t.neighbor_id
         |WHERE t.dims <> 64
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    })

  /** Per-dimension drift report between the two snapshot eras
    * ([[Similarity.embedDrift]]): the oracle re-derives the integer
    * moments per (era, dim), the cross-multiplied Welch z², and the
    * 2σ flag in HUGEINT. */
  private val embDrift = Declared(
    "ml_embed_drift",
    (s, d) => Similarity.embedDrift(Tables(s, d, "embeddings")),
    Some(s"""WITH $qeCte,
            |agg AS (
            |  SELECT i,
            |    count(*) FILTER (WHERE vec_id % 2 = 0) AS n_a,
            |    count(*) FILTER (WHERE vec_id % 2 = 1) AS n_b,
            |    sum(CASE WHEN vec_id % 2 = 0 THEN q ELSE 0 END) AS s_a,
            |    sum(CASE WHEN vec_id % 2 = 1 THEN q ELSE 0 END) AS s_b,
            |    sum(CASE WHEN vec_id % 2 = 0 THEN q * q ELSE 0 END) AS qq_a,
            |    sum(CASE WHEN vec_id % 2 = 1 THEN q * q ELSE 0 END) AS qq_b
            |  FROM qe GROUP BY i),
            |x AS (
            |  SELECT i, n_a, n_b,
            |    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
            |      CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS ms,
            |    CAST(n_a * qq_a - s_a * s_a AS DOUBLE) AS va,
            |    CAST(n_b * qq_b - s_b * s_b AS DOUBLE) AS vb,
            |    CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd
            |  FROM agg),
            |y AS (
            |  SELECT i, n_a, n_b, ms,
            |    va / (nad * nad * nad) + vb / (nbd * nbd * nbd) AS se2
            |  FROM x)
            |SELECT i, n_a, n_b, ms AS mean_shift,
            |  CASE WHEN se2 > 0 THEN ms * ms / se2 ELSE 0.0 END AS zsq,
            |  CASE WHEN se2 > 0 THEN CAST(ms * ms / se2 > 4.0 AS INT)
            |       ELSE CAST(ms <> 0.0 AS INT) END AS drift
            |FROM y ORDER BY i""".stripMargin))

  /** Canonical-form dedup oracle: plant whitespace variants of every
    * 7th document, then dedup on md5 of the SAME normalization — the
    * variants collapse onto their originals (raw-byte hashing would
    * see them as distinct). */
  private val dedupNormalized = Declared(
    "ml_dedup_normalized",
    (s, d) => {
      val docs = Tables(s, d, "documents").select("doc_id", "text")
      val variants = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("  "), regexp_replace(col("text"), " ", "  "),
            lit(" \t")).as("text"))
      TextAnalysis.dedupNormalized(docs.unionByName(variants))
    },
    Some("""WITH planted AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 1000000,
           |    '  ' || replace(text, ' ', '  ') || ' ' || chr(9)
           |  FROM documents WHERE doc_id % 7 = 0),
           |norm AS (
           |  SELECT doc_id,
           |    md5(trim(regexp_replace(regexp_replace(text,
           |      '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g'),
           |      '[ \t\n\r\f]+', ' ', 'g'))) AS content_hash
           |  FROM planted)
           |SELECT content_hash, min(doc_id) AS keeper_id,
           |  CAST(count(*) AS BIGINT) AS dup_cnt
           |FROM norm GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Dataset card — the per-(lang, source) mixture summary every corpus
    * release publishes (counts, char volume, exact mean via one IEEE
    * division of exact sums, exact interpolated median, range, and the
    * corpus share as an exact rational + IEEE quotient). One grouped
    * aggregate over one scan plus a 1-row broadcast total; the result
    * is |langs × sources|-bounded regardless of corpus size. The exact
    * median shuffles whole groups (the cross-engine-verifiable form);
    * at 100 TB swap in the GK sketch exactly as `agg_approx_quantiles`
    * does for `agg_quantiles` — the counts/sums/extrema columns are
    * map-side-combined either way. */
  private val datasetCard = Declared(
    "ml_dataset_card",
    (s, d) => {
      val docs = Tables(s, d, "documents")
      val tot = docs.agg(count(lit(1)).as("corpus_docs"))
      docs.groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          expr("percentile(n_chars, 0.5)").as("p50_chars"))
        .crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("n_docs"),
          col("total_chars"),
          (col("total_chars").cast("double") / col("n_docs"))
            .as("mean_chars"),
          col("p50_chars"), col("min_chars"), col("max_chars"),
          col("corpus_docs"),
          (col("n_docs").cast("double") / col("corpus_docs"))
            .as("doc_share"))
        .orderBy("lang", "source")
    },
    Some("""SELECT lang, source,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
           |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars,
           |  quantile_cont(n_chars, 0.5) AS p50_chars,
           |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
           |  (SELECT CAST(count(*) AS BIGINT) FROM documents)
           |    AS corpus_docs,
           |  CAST(count(*) AS DOUBLE) /
           |    (SELECT count(*) FROM documents) AS doc_share
           |FROM documents GROUP BY lang, source
           |ORDER BY lang, source""".stripMargin))

  /** Char-surprisal oracle: the same bit-length floor-log2 per
    * (doc, char) count, re-derived from a correlated position unnest. */
  private val charSurprisal = Declared(
    "ml_char_surprisal",
    (s, d) => TextAnalysis.charSurprisal(Tables(s, d, "documents")),
    Some("""WITH base AS (
           |  SELECT doc_id, text, length(text) AS len
           |  FROM documents WHERE length(text) > 0),
           |cnts AS (
           |  SELECT doc_id, len, substr(text, CAST(i AS INT), 1) AS c,
           |         count(*) AS cnt
           |  FROM base, unnest(range(1, len + 1)) AS t(i)
           |  GROUP BY 1, 2, 3),
           |agg AS (
           |  SELECT doc_id, CAST(len AS BIGINT) AS len,
           |         CAST(count(*) AS BIGINT) AS distinct_chars,
           |         sum(cnt * (length(bin(len // cnt)) - 1)) AS bitsum
           |  FROM cnts GROUP BY 1, 2)
           |SELECT doc_id, len, distinct_chars, sur14,
           |  CAST(sur14 >= 32768 AS INT) AS keep
           |FROM (SELECT doc_id, len, distinct_chars,
           |        CAST(bitsum * 16384 // len AS BIGINT) AS sur14
           |      FROM agg)
           |ORDER BY doc_id""".stripMargin))

  /** Per-language quantile-cut oracle: quantile_cont is DuckDB's exact
    * interpolated percentile (the dataset-card pairing). */
  private val quantileCut = Declared(
    "ml_quality_quantile_cut",
    (s, d) => TextAnalysis.qualityQuantileCut(Tables(s, d, "documents")),
    Some(s"""WITH th AS (
            |  SELECT lang, CAST(count(*) AS BIGINT) AS lang_docs,
            |         quantile_cont(n_chars, ${TextAnalysis.QuantileCutP})
            |           AS cut
            |  FROM documents GROUP BY lang)
            |SELECT t.lang, t.lang_docs, t.cut,
            |  CAST(sum(CAST(CAST(d.n_chars AS DOUBLE) >= t.cut AS INT))
            |       AS BIGINT) AS n_kept,
            |  CAST(count(*) -
            |       sum(CAST(CAST(d.n_chars AS DOUBLE) >= t.cut AS INT))
            |       AS BIGINT) AS n_dropped
            |FROM documents d JOIN th t USING (lang)
            |GROUP BY t.lang, t.lang_docs, t.cut
            |ORDER BY t.lang""".stripMargin))

  /** Doc-pool oracle: element-wise integer sums per (vec_id div 4)
    * group re-derived from the positional quantize CTE; the md5 rides
    * the dimension-ordered comma join (string_agg ORDER BY i == the
    * Spark transform's array order). */
  private val docEmbedPool = Declared(
    "ml_doc_embed_pool",
    (s, d) => Similarity.docPool(Tables(s, d, "embeddings")),
    Some(s"""WITH $qeCte,
            |pool AS (
            |  SELECT CAST(vec_id // ${Similarity.PoolChunks} AS BIGINT)
            |    AS doc_id, i, CAST(sum(q) AS BIGINT) AS pq
            |  FROM qe GROUP BY 1, 2),
            |ch AS (
            |  SELECT CAST(vec_id // ${Similarity.PoolChunks} AS BIGINT)
            |    AS doc_id, CAST(count(*) AS BIGINT) AS n_chunks
            |  FROM embeddings GROUP BY 1)
            |SELECT p.doc_id, c.n_chunks,
            |  CAST(sum(pq) AS BIGINT) AS pool_sum,
            |  CAST(sum(pq * pq) AS BIGINT) AS pool_norm2,
            |  md5(string_agg(CAST(pq AS VARCHAR), ',' ORDER BY i))
            |    AS pool_md5
            |FROM pool p JOIN ch c USING (doc_id)
            |GROUP BY p.doc_id, c.n_chunks
            |ORDER BY doc_id""".stripMargin))

  val all: Seq[Declared] = Seq(
    charSurprisal, quantileCut, docEmbedPool,
    datasetCard,
    dqSuite, lmBigram, postingsIdx, triangles, kcoreQ, lpa, outlierMad,
    outlierMadStream, udtfNgrams, tvtSplit,
    hardNeg, embOutliers, embDrift, dedupNormalized,
    bpeMerges, bpeEncode, bpeFertility, pageRank, hybridRetrieve,
    ivfTrained,
    dedupExact, minhashSig, dedupNear, levNear, charGramJac, dedupIncrement,
    dedupSCurve,
    dedupStream, dedupGate, dedupSimhash, dedupCorpus, dedupClusters,
    dedupCorpusCC,
    dedupPipeline,
    cosineTopk, cosineTopkFast, knnClassify, annIvf, annSrp, pqAnn, ivfAdc,
    ivfAdcIndexed, ivfAdcIndexedFiltered, annCdcIndex, annStreamSplit,
    annCellSplit,
    hybridCdcServe,
    mmr, fps, annRecallQ, annRecallMultiQ, matryoshka, annFiltered,
    randProj, kmeansStep,
    embedNearDup, semDedup,
    textStats, textNormalize, qualityGate, qualityGateStream,
    qualityClassifier, clfCalibration, lmSurprisal,
    langId, langConfusion, tokenCounts,
    repetition, dupSpans, seqPack, stratSample, weightedSampleQ,
    contam, contamStream, quantileStream, piiRedact,
    shardAssign, mixRebalance, chunking, exportManifest, exportCdc,
    curriculumOrder,
    tfidfTopTerms, bm25, bm25SplitServe, bm25KnownItem, bm25CdcIndex,
    bm25StreamSplit,
    dedupCdcIndex, dedupSplitScreen,
    fingerprint,
    zorder, hilbert,
    binpack,
    mediaMeta, mediaDecode, mediaResize, mediaFrames, mediaAhash,
    mediaNearDup, mediaTemporal,
    audioDecode, audioVad, audioResample)

  /** The maintained-index family's shared stream-and-maintain pass,
    * the body of [[SharedPass]] `cdc_maint_shared_pass`: it builds the
    * eight maintained artifacts the CDC-e2e rows serve from. Uses this
    * object's private fixture paths so the memo keys match the declared
    * rows'. */
  def cdcMaintainSharedPass(s: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    // per-maintain stderr breakdown so the one timed line stays
    // attributable as the family grows (eight maintains as of r16).
    // With the overlap below these are WALL times including overlap —
    // they attribute load, not exclusive cost.
    def timed(name: String)(body: => Any): Unit = {
      val t0 = System.nanoTime()
      body
      System.err.println(f"[bench] maintain $name%-8s ${
        (System.nanoTime() - t0) / 1e9}%.1f s")
    }
    // The eight maintains are INDEPENDENT — disjoint fixture paths,
    // own change streams, own temp dirs, own memo keys — and
    // job-level profiling measured ~35% of the sequential pass's wall
    // as between-job driver gap (planning, scheduling, stream
    // commits). Overlapping 3 at a time (guide §2.6) lets one
    // maintain's tasks back-fill another's driver gap; longest-first
    // minimizes the makespan. Session-conf safety comes from the
    // ref-counted StreamHygiene.withMaintainConf span (all maintains
    // assert the same width); cleanupRun's JVM-wide state-store
    // unload skips itself while any stream is live (its guard), so
    // the pass unloads once at the end, when none is.
    val jobs: Seq[(String, () => Any)] = Seq(
      "annss" -> (() => AnnIndex.cdcMaintainRebalanced(s,
        Tables(s, dir, "embeddings"),
        annSsCentPq, annSsCbPq, annSsOpsPq, annSsLogPq)),
      "dedupcdc" -> (() => DedupIndex.cdcMaintain(s,
        Tables(s, dir, "documents"), dedupCdcOpsPq)),
      "txtss" -> (() => TextIndex.cdcMaintainRebalanced(s,
        Tables(s, dir, "documents"), txtSsOpsPq)),
      "hybcdc" -> (() => HybridServe.cdcMaintain(s,
        Tables(s, dir, "documents"),
        Tables(s, dir, "embeddings"), hybCentPq, hybCbPq, hybDocOpsPq,
        hybEmbOpsPq)),
      "gatecdc" -> (() => graft.streaming.DedupGate.gateMaintain(s,
        Tables(s, dir, "documents"))),
      "txtcdc" -> (() => TextIndex.cdcMaintain(s,
        Tables(s, dir, "documents"), txtCdcOpsPq)),
      "expcdc" -> (() => ShardExport.cdcMaintain(s,
        Tables(s, dir, "documents"), expCdcOpsPq)),
      "anncdc" -> (() => AnnIndex.cdcMaintain(s,
        Tables(s, dir, "embeddings"),
        annCdcCentPq, annCdcCbPq, annCdcOpsPq)))
    // pool of 6 (r17: was 3, then 4) — isolated profiles show every
    // maintain still ~35-45% driver gap (planning, stream WAL commits,
    // fs ops), so with 8 independent maintains a 6-wide pool lets the
    // short ones drain behind the long ones' gaps instead of queueing
    // for a slot (the per-maintain widths stay MicroShuffle-sized, so
    // 6 × 8 ≤ 48 in-flight tasks); A/B numbers in OPTIMIZATION_r17.md.
    // Env override is DEV-ONLY (A/B without a recompile; the driver
    // never sets it). At deployment this is the number of independent
    // maintainers sharing one driver.
    val poolWidth = sys.env.get("SPARK_GRAFT_MAINT_POOL")
      .map(_.toInt).getOrElse(6)
    val pool =
      java.util.concurrent.Executors.newFixedThreadPool(poolWidth)
    try {
      val futs = jobs.map { case (n, f) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = timed(n)(f())
        })
      }
      futs.foreach { fut =>
        try fut.get()
        catch { // surface the maintain's own failure, not the wrapper
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        }
      }
    } finally pool.shutdown()
    // the per-maintain unloads skipped themselves while sibling
    // streams were live — one unload now that none is
    graft.streaming.StreamHygiene.unloadStateStores()
    ()
  }

  /** The split-serving rows' shared BUILD pass, the body of
    * [[SharedPass]] `index_build_shared_pass`: the index builds, the
    * hot-bucket/cell splits and the genealogy persistence behind
    * `ml_bm25_split_serve`, `ml_dedup_split_screen` and
    * `ml_ann_cell_split`. Each callee builds eagerly inside its memo
    * block; the returned serve frames are the rows' marginal work and
    * are not executed here. */
  def indexBuildSharedPass(s: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    // three INDEPENDENT builds (disjoint memo tags + artifact roots,
    // no streams) overlapped like the maintain pass (guide §2.6) —
    // each build alternates corpus-scale jobs with driver-side split
    // bookkeeping, and the other builds' tasks fill those gaps
    val builds: Seq[() => Any] = Seq(
      () => TextIndex.splitServe(s, Tables(s, dir, "documents")),
      () => DedupIndex.splitScreen(s, Tables(s, dir, "documents")),
      () => AnnIndex.splitAndServe(s, Tables(s, dir, "embeddings"),
        splitCent0Pq, splitCent1Pq, splitCbPq))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      builds.map(f => pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = { f(); () }
      })).foreach { fut =>
        try fut.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          throw e.getCause
        }
      }
    } finally pool.shutdown()
    ()
  }
}
