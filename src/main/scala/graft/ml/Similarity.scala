package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import MlFunctions._

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * Array[Float] dim-64, label) — brute-force cosine top-k as the exact
  * baseline and an IVF-style cluster-probed variant as the scale path.
  *
  * ## Scale design (100 TB)
  *
  *  - The query set is always the SMALL side: quantized once and
  *    broadcast, so the corpus never shuffles for the similarity join —
  *    each corpus partition scores its rows against the in-memory query
  *    block (classic block-nested ANN, the dense analog of a broadcast
  *    join). Per-query top-k is a single shuffle of k·|queries| rows.
  *  - IVF: coarse cells come from the fixture's `label` column (the
  *    k-means assignment a production pipeline materializes at ingest).
  *    Unnormalized integer centroid sums keep the centroid direction
  *    exact (cosine is scale-invariant, so Σv works as the centroid —
  *    no float mean, no order dependence). Queries probe the `nprobe`
  *    nearest cells and score ONLY those cells' vectors: the scan is
  *    partition-prunable when the corpus is written partitioned by cell,
  *    cutting scanned volume by ~cells/nprobe (Jégou et al., IVFADC,
  *    TPAMI'11).
  *  - All arithmetic is fixed-point integer ([[MlFunctions.quantize]]):
  *    deterministic at any parallelism, bit-equal to the DuckDB oracle.
  */
object Similarity {
  val TopK = 5
  val NProbe = 2
  /** Every 50th vector doubles as a query (10 queries at sf0.01). */
  val QueryStride = 50

  // One bench or verify pass trains the SAME bounded models repeatedly:
  // coarse centroids and PQ codebooks are re-derived by ml_pq_ann,
  // ml_ivfadc, ml_ivfadc_indexed, ml_ann_recall_multi and the
  // CDC-maintained index row, identical deterministic training over
  // identical inputs. The trainers share them through [[Memo]], keyed by
  // (session, CANONICALIZED analyzed plan of the training frame), so
  // different fixtures or sessions never collide; values are bounded
  // model state (KB of longs). Each declared row still DUMPS the model
  // to its own fixture path (the oracle contract); only the training
  // computation is shared.
  private def planKey(df: DataFrame): AnyRef =
    (df.sparkSession, df.queryExecution.analyzed.canonicalized)

  /** Quantized vectors with their integer norm² precomputed once —
    * pair scoring then costs ONE dot product, not three. */
  private[ml] def quantized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("label"),
        quantize(col("embedding")).as("q"))
      .withColumn("n2", dotQ(col("q"), col("q")))

  private def queries(emb: DataFrame): DataFrame =
    quantized(emb).filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("n2").as("qn2"))

  /** cos from a pair's dot and the two precomputed norms². */
  private def pairCos(a: Column, b: Column, na: Column, nb: Column): Column =
    dotQ(a, b).cast("double") /
      (sqrt(na.cast("double")) * sqrt(nb.cast("double")))

  /** Exact cosine top-k: each query against the full corpus (minus
    * itself). Returns (query_id, neighbor_id, cos, rank). */
  def cosineTopK(emb: DataFrame, k: Int = TopK): DataFrame = {
    // literal query batch (r17 optimization round): the former
    // crossJoin(broadcast(queries)) planned a BroadcastNestedLoopJoin
    // whose per-pair row construction dominated the scan; the batch is
    // bounded workload state (the probed-cells-collect doctrine) and
    // the generator scores a corpus row against all of it in one fused
    // loop. Same integer dot fold, same cos expression — bit-exact.
    val qRows = queries(emb).collect()
    val qids = qRows.map(_.getLong(0)).toSeq
    val qvecs = qRows.map(_.getSeq[Long](1).toSeq).toSeq
    val qaux = qRows.map(_.getLong(2)).toSeq
    val scored = quantized(emb)
      .select(col("vec_id"), col("n2"), graft.functions.VectorFunctions
        .vecScoresBatch(col("q"), qids, qvecs, qaux, mode = 0)
        .as(Seq("query_id", "dot", "qn2")))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (col("dot").cast("double") /
          (sqrt(col("qn2").cast("double")) * sqrt(col("n2").cast("double"))))
          .as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** Exact cosine top-k via the native codegen expression
    * ([[graft.functions.CosineSimFloat]]): float arrays scored in one
    * fused loop, no quantization and no per-row array allocation — the
    * throughput path when cross-engine bit-equality of a quantized proxy
    * isn't required. Same plan shape as [[cosineTopK]]. */
  def cosineTopKFast(emb: DataFrame, k: Int = TopK): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    val qs = base.filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qemb"))
    val scored = base.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.functions.VectorFunctions
          .cosineSimF(col("qemb"), col("embedding")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** [[mmrSelect]] size and trade-off: λ = 7/10 kept rational, so the
    * marginal score is the INTEGER `7·rel − 3·div` over quantized dots
    * — engine-exact, no float λ blend. */
  val MmrK = 10
  val MmrLambdaNum = 7L

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein,
    * SIGIR '98) — the diversity-aware top-k every eval-set builder and
    * dedup-aware sampler runs where plain top-k returns k near-copies
    * of the same neighborhood: greedily pick the candidate maximizing
    * `λ·sim(query, d) − (1−λ)·max_{s∈selected} sim(d, s)`. The query
    * is the corpus's minimum-vec_id vector (a deterministic probe
    * document, excluded from candidacy); similarity is the quantized
    * inner product, so every round's argmax — `7·rel − 3·div`, ties to
    * the smallest vec_id — is exact integer arithmetic on both
    * engines. Emits (rank, vec_id, rel_dot, div_dot, score) for the
    * [[MmrK]] picks in selection order; round 1 has div 0 by
    * definition (nothing selected yet).
    *
    * Scale (r13, VERDICT r12 next #6; hardened r14 per ADVICE r13
    * #1-3): ONE corpus scan computes every candidate's relevance dot
    * and keeps the top-[[SelPoolN]] pool, now ordered by an UPPER
    * BOUND of the marginal score — `ub = 7·rel + 3·⌈√(n2·maxN2)⌉ + 3`
    * ≥ `7·rel − 3·div` for ANY selected set (Cauchy–Schwarz bounds
    * |div| ≤ √(n2_c·n2_s); the +3 absorbs the double-rounding of the
    * √ computed on a 2⁹²-scale product) — so pool membership bounds
    * what an out-of-pool candidate could possibly score. Every greedy
    * round then CERTIFIES itself: when the pool is full (out-of-pool
    * candidates exist), the pooled argmax must score STRICTLY above
    * the pool's minimum ub — every outside candidate scores ≤ that
    * cut, so the pooled pick provably equals the full-corpus pick. An
    * uncertified round (or an exhausted full pool) falls back to the
    * exact k-scan path [[mmrExact]] — pooled == full-corpus greedy is
    * now a THEOREM at every scale, not a fixture measurement, and the
    * declared oracle's full replay stays valid on any data. On every
    * fixture (corpus ≤ [[SelPoolN]]) the pool is the whole corpus and
    * the loop is trivially exact with zero fallback scans. */
  def mmrSelect(emb: DataFrame, k: Int = MmrK,
      poolN: Int = SelPoolN): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val qd = quantized(emb).select(col("vec_id"), col("q"), col("n2"))
    val q0rows = qd.orderBy("vec_id").limit(1).collect()
    require(q0rows.nonEmpty, "mmrSelect: empty corpus")
    val q0id = q0rows(0).getLong(0)
    val q0 = q0rows(0).getSeq[Long](1).toArray
    val maxN2 = qd.agg(max(col("n2"))).head().getLong(0)
    val ub = lit(MmrLambdaNum) * col("rel") +
      lit(10L - MmrLambdaNum) *
        (ceil(sqrt(col("n2").cast("double") * lit(maxN2.toDouble)))
          .cast("long") + 1L)
    val pool = qd.filter(col("vec_id") =!= q0id)
      .select(col("vec_id"), col("q"),
        dotQ(col("q"), typedlit(q0.toSeq)).as("rel"), col("n2"))
      .withColumn("ub", ub)
      .orderBy(col("ub").desc, col("vec_id")).limit(poolN)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2),
        r.getLong(4)))
    val poolFull = pool.length >= poolN
    val ubCut = if (poolFull) pool.map(_._4).min else Long.MinValue
    var sel = Vector.empty[(Long, Long, Long, Long, Long)]
    var selVecs = Vector.empty[Array[Long]]
    var picked = Set.empty[Long]
    var certified = true
    var r = 1
    var done = false
    while (r <= k && !done && certified) {
      // argmax by (score, then smallest vec_id) — the exact tie-break
      // the full-corpus scan uses; all-Long arithmetic, engine-exact
      var best: (Long, Array[Long], Long, Long, Long) = null
      pool.foreach { case (id, qv, rel, _) =>
        if (!picked(id)) {
          val div =
            if (selVecs.isEmpty) 0L else selVecs.map(selDot(_, qv)).max
          val score = MmrLambdaNum * rel - (10L - MmrLambdaNum) * div
          if (best == null || score > best._5 ||
            (score == best._5 && id < best._1))
            best = (id, qv, rel, div, score)
        }
      }
      if (best == null) {
        // pool exhausted: with a full pool, true candidates remain
        // OUTSIDE — that is a fallback, not an early return (the r13
        // code NPE'd here, ADVICE r13 #3)
        if (poolFull) certified = false else done = true
      } else if (poolFull && best._5 <= ubCut) {
        // an out-of-pool candidate could reach ubCut — uncertifiable
        certified = false
      } else {
        sel = sel :+ ((r.toLong, best._1, best._3, best._4, best._5))
        selVecs = selVecs :+ best._2
        picked += best._1
        r += 1
      }
    }
    if (!certified) mmrExact(emb, k)
    else sel.toDF("rank", "vec_id", "rel_dot", "div_dot", "score")
      .orderBy("rank")
  }

  /** The exact multi-scan MMR — [[mmrSelect]]'s fallback when a round
    * cannot certify against the pool's ub cut: k distributed corpus
    * scans, each computing every candidate's max-dot to the ≤k selected
    * literals and taking the (score desc, vec_id) head. Never runs on
    * a corpus that fits the pool; at larger scales it is the
    * correctness anchor the pooled path defers to. */
  private def mmrExact(emb: DataFrame, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val qd = quantized(emb).select(col("vec_id"), col("q"))
    val q0row = qd.orderBy("vec_id").limit(1).collect()(0)
    val q0id = q0row.getLong(0)
    val q0 = q0row.getSeq[Long](1).toArray
    val base = qd.filter(col("vec_id") =!= q0id)
      .select(col("vec_id"), col("q"),
        dotQ(col("q"), typedlit(q0.toSeq)).as("rel"))
      .persist()
    try {
      var sel = Vector.empty[(Long, Long, Long, Long, Long)]
      var selVecs = Vector.empty[Array[Long]]
      var picked = Vector.empty[Long]
      var r = 1
      var done = false
      while (r <= k && !done) {
        val divCol =
          if (selVecs.isEmpty) lit(0L)
          else array_max(array(selVecs.map(v =>
            dotQ(col("q"), typedlit(v.toSeq))): _*))
        val cands =
          (if (picked.isEmpty) base
           else base.filter(!col("vec_id").isin(picked: _*)))
            .select(col("vec_id"), col("q"), col("rel"),
              divCol.as("div"))
            .withColumn("score", lit(MmrLambdaNum) * col("rel") -
              lit(10L - MmrLambdaNum) * col("div"))
            .orderBy(col("score").desc, col("vec_id")).limit(1).collect()
        if (cands.isEmpty) done = true
        else {
          val c = cands(0)
          sel = sel :+ ((r.toLong, c.getLong(0), c.getLong(2),
            c.getLong(3), c.getLong(4)))
          selVecs = selVecs :+ c.getSeq[Long](1).toArray
          picked = picked :+ c.getLong(0)
          r += 1
        }
      }
      sel.toDF("rank", "vec_id", "rel_dot", "div_dot", "score")
        .orderBy("rank")
    } finally { base.unpersist(); () }
  }

  /** Candidate-pool width for [[mmrSelect]]/[[fpsSelect]]: one scan
    * reduces the corpus to this many candidates (broadcast-sized), the
    * greedy loop runs over the pool. Sized far above k so the picks'
    * pool-containment holds with a wide margin at any tested scale. */
  val SelPoolN = 10000

  private def selDot(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** [[fpsSelect]] size (shared with [[MmrK]]'s scale). */
  val FpsK = 10

  /** Farthest-point sampling (Gonzalez '85 — the 2-approximation for
    * k-center, and the standard embedding-space COVERAGE sampler next
    * to [[mmrSelect]]'s relevance-diversity blend): seed with the
    * minimum-vec_id vector, then greedily pick the candidate whose
    * NEAREST selected vector is least similar — `argmin over
    * candidates of max_{s∈selected} dot(d, s)`, ties to the smallest
    * vec_id. Quantized integer dots end to end, so selection order is
    * engine-exact. Emits (rank, vec_id, max_sel_dot) — the seed at
    * rank 1 with the sentinel dot Long.MinValue (nothing selected
    * before it).
    *
    * Scale (r13, the [[mmrSelect]] pool refinement; hardened r14 per
    * ADVICE r13 #1/#3): ONE corpus scan ranks candidates by
    * seed-similarity ASCENDING and keeps the top-[[SelPoolN]] pool;
    * the greedy loop runs over the pool with the same integer argmin
    * and tie-breaks. Every round CERTIFIES itself: an out-of-pool
    * candidate's nearest-selected dot is ≥ its seed dot (the seed is
    * always selected) ≥ the pool's max seed-dot cut — so a pooled pick
    * whose `near` is STRICTLY below that cut provably equals the
    * full-corpus pick. An uncertified round (or an exhausted full
    * pool) falls back to the exact k-scan path [[fpsExact]]: pooled ==
    * full-corpus farthest-first is a THEOREM at every scale, and the
    * declared oracle's full replay stays valid on any data (the r13
    * code diverged silently past the pool, ADVICE r13 #1). On every
    * fixture (corpus ≤ [[SelPoolN]]) the pool is the whole corpus and
    * the loop is trivially exact. The measured pick-containment prefix
    * (max seed-distance rank among picks — VERDICT r13 next #5) is
    * logged per run and exposed via [[fpsContainmentPrefix]], so a
    * deployment SEES how close picks come to the pool boundary. */
  def fpsSelect(emb: DataFrame, k: Int = FpsK,
      poolN: Int = SelPoolN): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val run = fpsPooled(emb, k, poolN)
    if (!run.certified) fpsExact(emb, k)
    else {
      log.info(s"fpsSelect: pick-containment prefix = ${run.maxRank} " +
        s"of pool ${run.poolSize} (poolN=$poolN)")
      run.rows.toDF("rank", "vec_id", "max_sel_dot").orderBy("rank")
    }
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The measured pick-containment prefix of the pooled FPS run on
    * this corpus: the maximum seed-distance rank (1-based, ascending
    * seed-dot order) among the k picks — the observable that tells a
    * deployment how much pool headroom its picks leave (VERDICT r13
    * next #5; MlSpec pins it equals the naive replay's value). */
  def fpsContainmentPrefix(emb: DataFrame, k: Int = FpsK,
      poolN: Int = SelPoolN): Int = fpsPooled(emb, k, poolN).maxRank

  private final case class FpsRun(rows: Vector[(Long, Long, Long)],
      maxRank: Int, poolSize: Int, certified: Boolean)

  private def fpsPooled(emb: DataFrame, k: Int, poolN: Int): FpsRun = {
    val qd = quantized(emb).select(col("vec_id"), col("q"))
    val seeds = qd.orderBy("vec_id").limit(1).collect()
    require(seeds.nonEmpty, "fpsSelect: empty corpus")
    val seedId = seeds(0).getLong(0)
    val seedQ = seeds(0).getSeq[Long](1).toArray
    val pool = qd.filter(col("vec_id") =!= seedId)
      .select(col("vec_id"), col("q"),
        dotQ(col("q"), typedlit(seedQ.toSeq)).as("sd"))
      .orderBy(col("sd").asc, col("vec_id")).limit(poolN)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    val poolFull = pool.length >= poolN
    val sdCut = if (poolFull) pool.map(_._3).max else Long.MaxValue
    var sel = Vector((1L, seedId, Long.MinValue))
    var selVecs = Vector(seedQ)
    var picked = Set(seedId)
    var maxRank = 0
    var certified = true
    var r = 2
    var done = false
    while (r <= k && !done && certified) {
      // argmin of (max selected dot), ties to the smallest vec_id —
      // exactly the full-corpus scan's ordering
      var bid = -1L
      var bq: Array[Long] = null
      var bnear = 0L
      var brank = 0
      var i = 0
      while (i < pool.length) {
        val (id, qv, _) = pool(i)
        if (!picked(id)) {
          val near = selVecs.map(selDot(_, qv)).max
          if (bid < 0 || near < bnear || (near == bnear && id < bid)) {
            bid = id; bq = qv; bnear = near; brank = i + 1
          }
        }
        i += 1
      }
      if (bid < 0) {
        // full pool exhausted: true candidates remain outside → fall
        // back rather than silently truncate (ADVICE r13 #3)
        if (poolFull) certified = false else done = true
      } else if (poolFull && bnear >= sdCut) {
        // an outside candidate (near ≥ its seed dot ≥ sdCut) could tie
        // or beat this pick — uncertifiable
        certified = false
      } else {
        sel = sel :+ ((r.toLong, bid, bnear))
        selVecs = selVecs :+ bq
        picked += bid
        if (brank > maxRank) maxRank = brank
        r += 1
      }
    }
    FpsRun(sel, maxRank, pool.length, certified)
  }

  /** The exact multi-scan farthest-first — [[fpsSelect]]'s fallback
    * when a round cannot certify against the pool's seed-dot cut: k
    * distributed corpus scans, each taking the (max-selected-dot asc,
    * vec_id) head against the ≤k selected literals. */
  private def fpsExact(emb: DataFrame, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val qd = quantized(emb).select(col("vec_id"), col("q"))
    val seed = qd.orderBy("vec_id").limit(1).collect()(0)
    val seedId = seed.getLong(0)
    val seedQ = seed.getSeq[Long](1).toArray
    val base = qd.filter(col("vec_id") =!= seedId).persist()
    try {
      var sel = Vector((1L, seedId, Long.MinValue))
      var selVecs = Vector(seedQ)
      var picked = Vector(seedId)
      var r = 2
      var done = false
      while (r <= k && !done) {
        val nearCol = array_max(array(selVecs.map(v =>
          dotQ(col("q"), typedlit(v.toSeq))): _*))
        val cands = base.filter(!col("vec_id").isin(picked: _*))
          .select(col("vec_id"), col("q"), nearCol.as("near"))
          .orderBy(col("near").asc, col("vec_id")).limit(1).collect()
        if (cands.isEmpty) done = true
        else {
          val c = cands(0)
          sel = sel :+ ((r.toLong, c.getLong(0), c.getLong(2)))
          selVecs = selVecs :+ c.getSeq[Long](1).toArray
          picked = picked :+ c.getLong(0)
          r += 1
        }
      }
      sel.toDF("rank", "vec_id", "max_sel_dot").orderBy("rank")
    } finally { base.unpersist(); () }
  }

  /** Integer centroid components per (label, position): Σ quantized —
    * exact, order-free; direction == mean direction. */
  def centroids(emb: DataFrame): DataFrame =
    quantized(emb)
      .select(col("label"), posexplode(col("q")).as(Seq("i", "qv")))
      .groupBy("label", "i").agg(sum(col("qv")).as("cs"))

  /** IVF-probed top-k: rank cells by query-centroid cosine, search the
    * top `nprobe` cells exhaustively. Same output shape as
    * [[cosineTopK]]; recall < 1 only when a true neighbor lives outside
    * every probed cell. */
  /** Cells each query probes: the `nprobe` nearest by query-centroid
    * cosine. Returns (query_id, label). */
  def probedCells(emb: DataFrame, nprobe: Int = NProbe): DataFrame = {
    val qs = queries(emb)
      .select(col("query_id"), posexplode(col("qq")).as(Seq("i", "qv")))
    // query ⋈ centroid dots in long form: tiny (queries × cells × dim)
    val cellScore = qs.join(broadcast(centroids(emb)), Seq("i"))
      .groupBy("query_id", "label")
      .agg(sum(col("qv") * col("cs")).as("dot"),
        // norms from the same long-form rows: Σqv² is constant per query,
        // Σcs² per cell — computed inline to keep one aggregation
        sum(col("qv") * col("qv")).as("nq"),
        sum(col("cs") * col("cs")).as("nc"))
      .select(col("query_id"), col("label"),
        (col("dot").cast("double") /
          (sqrt(col("nq").cast("double")) * sqrt(col("nc").cast("double"))))
          .as("cell_cos"))
    val wCell = Window.partitionBy("query_id")
      .orderBy(col("cell_cos").desc, col("label"))
    cellScore
      .withColumn("r", row_number().over(wCell)).filter(col("r") <= nprobe)
      .select(col("query_id"), col("label"))
  }

  def ivfTopK(emb: DataFrame, k: Int = TopK, nprobe: Int = NProbe)
      : DataFrame = {
    val probed = probedCells(emb, nprobe)
    val scored = quantized(emb)
      .join(broadcast(probed), Seq("label")) // cell-pruned corpus scan
      .join(broadcast(queries(emb)), Seq("query_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        pairCos(col("qq"), col("q"), col("qn2"), col("n2")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  // ---- SRP-LSH ANN (the hash-bucketed scale path) ---------------------

  /** Hyperplane tables for signed-random-projection LSH (Charikar
    * STOC'02): [[SrpTables]] independent tables of [[SrpBits]] sign bits
    * each. */
  val SrpTables = 8
  val SrpBits = 8

  /** Deterministic integer hyperplane weight for (table, bit, dim 1..64):
    * centered md5-derived value in [-1000, 1000] — the same [[Hash60]]
    * primitive both engines share, so the SQL oracle bakes in identical
    * hyperplanes. */
  private[ml] def srpWeights(t: Int, h: Int): Array[Long] =
    (1 to 64).map(i => Hash60.of(s"srp:$t:$h:$i") % 2001 - 1000).toArray

  /** Per-table SRP bucket keys: bit h of table t is the sign of the
    * quantized vector's integer dot with hyperplane (t,h) — computed by
    * the native fused-loop expression against a literal weight array, so
    * the whole signature is one codegen'd projection (no shuffle, no
    * explode). Returns (vec_id, t, bk) — [[SrpTables]] rows per vector. */
  def srpBuckets(emb: DataFrame): DataFrame = {
    val bucketCols = (0 until SrpTables).map { t =>
      (0 until SrpBits).map { h =>
        when(dotQ(col("q"), typedlit(srpWeights(t, h))) >= 0,
          lit(1L << h)).otherwise(lit(0L))
      }.reduce(_ + _).as(s"bk$t")
    }
    val stackArgs = (0 until SrpTables).map(t => s"bigint($t), bk$t")
      .mkString(", ")
    quantized(emb).select(col("vec_id") +: bucketCols: _*)
      .selectExpr("vec_id",
        s"stack($SrpTables, $stackArgs) AS (t, bk)")
  }

  /** SRP-LSH top-k: candidates = corpus vectors sharing any table bucket
    * with the query under **multi-probe ≤ 1** (the query also probes all
    * [[SrpBits]] one-bit-flip buckets — Lv et al., VLDB'07 — which
    * multiplies only the tiny broadcast side by B+1, never the corpus),
    * exactly reranked and top-k'd like [[cosineTopK]].
    *
    * Scale: the corpus computes its T bucket keys in one codegen'd scan
    * and probes the broadcast query keys — it NEVER shuffles; only the
    * candidate pairs (≪ corpus) hit an exchange (distinct + rerank). The
    * recall/scan trade is tunable by (T, B, probes): sharp in the
    * high-similarity regime SRP targets (cos ≥ 0.8 ⇒ per-table collision
    * ≈ 0.5, recall ≥ 0.99 at T=8), measured 0.64 recall @ ~28% corpus
    * scanned on the fixture's deliberately weak neighbors (mean top-5
    * cos 0.35). Correctness is oracle-exact regardless: DuckDB computes
    * the same buckets from the same md5 hyperplanes. */
  def srpTopK(emb: DataFrame, k: Int = TopK): DataFrame = {
    val buck = srpBuckets(emb)
    val flips = array((Seq(0L) ++ (0 until SrpBits).map(1L << _))
      .map(lit): _*)
    val probes = buck.filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id").as("query_id"), col("t"), col("bk"),
        explode(flips).as("fl"))
      .select(col("query_id"), col("t"),
        col("bk").bitwiseXOR(col("fl")).as("bk"))
    val cand = buck.as("c").join(broadcast(probes.as("p")),
        col("c.t") === col("p.t") && col("c.bk") === col("p.bk") &&
          col("c.vec_id") =!= col("p.query_id"))
      .select(col("p.query_id"), col("c.vec_id").as("neighbor_id"))
      .distinct()
    val scored = quantized(emb)
      .join(broadcast(cand), col("vec_id") === col("neighbor_id"))
      .join(broadcast(queries(emb)), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        pairCos(col("qq"), col("q"), col("qn2"), col("n2")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** Johnson–Lindenstrauss target dimension for [[randomProjection]]. */
  val ProjDims = 16

  /** Random projection to [[ProjDims]] dims (Johnson–Lindenstrauss /
    * Achlioptas '03): proj_d = Σ_i q_i · r(d,i) with the same centered
    * md5-derived integer weights as the SRP hyperplanes — exact integer
    * sums, engine-identical. Distances contract to the lower dimension
    * with bounded distortion, so downstream ANN / clustering runs on a
    * 4× narrower vector. One codegen'd projection per row (native
    * fused-loop dots against literal weight arrays) — no shuffle; the
    * long-form output (vec_id, d, pv) is emitted via `stack` for the
    * cross-engine compare. */
  def randomProjection(emb: DataFrame): DataFrame = {
    val projCols = (0 until ProjDims).map { d =>
      dotQ(col("q"), typedlit(srpWeights(100 + d, 0))).as(s"p$d")
    }
    val stackArgs = (0 until ProjDims).map(d => s"bigint($d), p$d")
      .mkString(", ")
    quantized(emb).select(col("vec_id") +: projCols: _*)
      .selectExpr("vec_id", s"stack($ProjDims, $stackArgs) AS (d, pv)")
      .orderBy("vec_id", "d")
  }

  /** One Lloyd iteration over the coarse cells (the step that PRODUCES
    * the ingest-time clustering IVF consumes): reassign every vector to
    * its nearest centroid by cosine and report the movement. Centroids
    * are tiny model state (cells × dim integers), so they collect to
    * the driver — bounded, like any trained-model broadcast — and
    * become LITERAL weight arrays: assignment is then one codegen'd
    * scan of native fused-loop dots, the corpus never shuffles, and
    * arithmetic stays integer-exact (same Σv centroids as [[centroids]],
    * cosine scale-invariance makes the unnormalized sum the exact
    * direction). Ties take the lowest label. Returns
    * (vec_id, label, new_label, moved). */
  def kmeansStep(emb: DataFrame): DataFrame =
    reassign(emb)
      .select(col("vec_id"), col("label"), col("new_label"), col("moved"))
      .orderBy("vec_id")

  /** The shared reassignment core of [[kmeansStep]] and [[kmeansTrain]]:
    * centroids of the CURRENT (vec_id, label, embedding) assignment are
    * collected (bounded model state) and baked as literal weight
    * arrays; the pass itself is one codegen'd fused-dot scan carrying
    * the embedding through, so the next round needs no join back. */
  /** The literal-dot best-label expression shared by [[reassign]] and
    * the sampled trainer's one-pass [[relabeledSampled]] scan: one
    * struct per live label, argmax by (cosine, then smallest label). */
  private def bestLabelScore(byLabel: Map[Int, (Array[Long], Long)])
      : Column = {
    val scored = byLabel.keys.toSeq.sorted.map { l =>
      val (w, nc) = byLabel(l)
      struct(
        (dotQ(col("q"), typedlit(w)).cast("double") /
          (sqrt(col("n2").cast("double")) *
            sqrt(lit(nc).cast("double")))).as("c"),
        lit(-l).as("nl"))
    }
    array_max(array(scored: _*))
  }

  private def reassign(assign: DataFrame): DataFrame = {
    val cent = centroids(assign).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val byLabel: Map[Int, (Array[Long], Long)] =
      cent.groupBy(_._1).map { case (l, rows) =>
        val w = new Array[Long](64)
        rows.foreach { case (_, i, cs) => w(i) = cs }
        l -> ((w, w.map(v => v * v).sum))
      }
    assign
      .select(col("vec_id"), col("label"), col("embedding"),
        quantize(col("embedding")).as("q"))
      .withColumn("n2", dotQ(col("q"), col("q")))
      .select(col("vec_id"), col("label"), col("embedding"),
        bestLabelScore(byLabel).as("best"))
      .select(col("vec_id"), col("label"), col("embedding"),
        (-col("best.nl")).as("new_label"))
      .withColumn("moved",
        (col("label") =!= col("new_label")).cast("int"))
  }

  /** Iterated Lloyd training (r7 verdict #6) — the loop that makes
    * IVF's ingest-time clustering trainable in-engine: each round
    * refreshes centroids from the current assignment ([[reassign]]'s
    * bounded model-state collect), reassigns every vector in one
    * codegen'd literal-dot scan, and `localCheckpoint`s the new
    * assignment so lineage stays O(1) across rounds (the same
    * discipline as the connected-components label propagation,
    * Dedup.scala). Stops at the fixpoint (a round that moves nothing)
    * or after `maxIter` rounds — iteration count is always bounded.
    *
    * Scale: per round the corpus is scanned once and never shuffled;
    * the only exchange is the centroid aggregation, whose output is
    * cells × dim rows. Returns the final (vec_id, label) assignment and
    * the per-round movement counts (the training curve; on the fixtures
    * it is monotone non-increasing to 0 — spec-pinned). */
  def kmeansTrain(emb: DataFrame, maxIter: Int = 10)
      : (DataFrame, Seq[Long]) = {
    require(maxIter >= 1, s"kmeansTrain: maxIter must be >= 1, got $maxIter")
    var assign = emb.select(col("vec_id"), col("label"), col("embedding"))
    val moves = scala.collection.mutable.ArrayBuffer[Long]()
    var converged = false
    var it = 0
    while (it < maxIter && !converged) {
      val step = reassign(assign)
        .select(col("vec_id"), col("new_label"), col("embedding"),
          col("moved"))
        .localCheckpoint()
      // coalesce: an empty input's sum is null, which must read as a
      // 0-movement (immediately converged) round, not an NPE
      val moved = step.agg(coalesce(sum(col("moved")), lit(0L)))
        .head().getLong(0)
      moves += moved
      assign = step.select(col("vec_id"),
        col("new_label").as("label"), col("embedding"))
      converged = moved == 0L
      it += 1
    }
    (assign.select(col("vec_id"), col("label")).orderBy("vec_id"),
      moves.toSeq)
  }

  /** The corpus with [[kmeansTrain]]'s converged assignment as its
    * `label` — the trained-index build step (one keyed join; at 100 TB
    * this is the rewrite that re-partitions the corpus BY cell, the
    * layout that lets probing read nprobe/cells of the data). */
  def relabeled(emb: DataFrame, maxIter: Int = 10): DataFrame = {
    val (assign, _) = kmeansTrain(emb, maxIter)
    emb.drop("label").join(assign, "vec_id")
  }

  /** Coarse-quantizer training-sample bound — the same faiss
    * convention as [[PqTrainSample]]: k-means centroids train on a
    * bounded sample, never the whole corpus. */
  val KmTrainSample = 65536

  /** Driver-side Lloyd over ONE bounded ordered collect — the coarse
    * quantizer's twin of [[pqTrainOn]] (which cut ml_pq_ann/ml_ivfadc
    * ~35% in r11): [[kmeansTrain]]'s 10-round distributed loop paid a
    * localCheckpoint job + an agg job + a fresh Catalyst pass PER
    * ROUND to train centroids over a corpus that is bounded model
    * state by design. The in-memory loop replicates [[reassign]]'s
    * math EXACTLY — same integer centroid sums, same
    * double-cosine / smallest-label argmax, same fixpoint stop — and
    * returns the centroids the FINAL-round assignment was computed
    * FROM, so for ANY corpus ≤ [[KmTrainSample]] (converged or
    * maxIter-stopped) the one-pass relabel reproduces [[kmeansTrain]]'s
    * returned assignment bit-for-bit (spec-pinned); above the bound
    * the faiss-style subsample is the intended behavior. Returns the
    * live per-label (sum-vector, ‖sum‖²) map. */
  private def kmeansCentroidsSampled(emb: DataFrame, maxIter: Int)
      : Map[Int, (Array[Long], Long)] = {
    val sample = quantized(emb).select(col("vec_id"), col("label"),
        col("q"))
      .orderBy("vec_id").limit(KmTrainSample).collect()
      .map(r => (r.getInt(1), r.getSeq[Long](2).toArray))
    require(sample.nonEmpty, "empty corpus")
    val n2 = sample.map { case (_, q) =>
      q.map(v => v * v).sum }
    var labels: Array[Int] = sample.map(_._1)
    def centroidsOf(ls: Array[Int]): Map[Int, (Array[Long], Long)] =
      ls.zip(sample).groupBy(_._1).map { case (l, members) =>
        val w = new Array[Long](64)
        members.foreach { case (_, (_, q)) =>
          var d = 0
          while (d < 64) { w(d) += q(d); d += 1 }
        }
        l -> ((w, w.map(v => v * v).sum))
      }
    var byLabel = centroidsOf(labels)
    // the centroids the FINAL-round assignment was computed FROM: the
    // one-pass relabel with these reproduces kmeansTrain's returned
    // assignment exactly, converged or not (at maxIter-stop the final
    // assignment derives from the PREVIOUS round's centroids — using
    // the final assignment's own centroids would drift, found by the
    // equality spec)
    var lastUsed = byLabel
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      lastUsed = byLabel
      val next = new Array[Int](labels.length)
      var moved = false
      var i = 0
      while (i < sample.length) {
        val q = sample(i)._2
        var bestL = Int.MaxValue
        var bestC = Double.NegativeInfinity
        // ascending label order + Spark-ordering strict > replicates
        // the struct-max (cosine, then smallest label) tie-break
        // exactly — INCLUDING the degenerate zero-norm row whose
        // cosine is NaN for every label: Spark's ordering puts NaN
        // above every number and NaN == NaN, so the distributed
        // array_max keeps the smallest live label there; the first
        // (smallest) label seeds best and no NaN-vs-NaN comparison
        // replaces it (ADVICE r12 #1, bit-parity on degenerates)
        byLabel.keys.toSeq.sorted.foreach { l =>
          val (w, nc) = byLabel(l)
          var dot = 0L
          var d = 0
          while (d < 64) { dot += q(d) * w(d); d += 1 }
          val c = dot.toDouble /
            (math.sqrt(n2(i).toDouble) * math.sqrt(nc.toDouble))
          val better =
            if (bestL == Int.MaxValue) true
            else if (c.isNaN) !bestC.isNaN
            else if (bestC.isNaN) false
            else c > bestC
          if (better) { bestC = c; bestL = l }
        }
        next(i) = bestL
        if (bestL != labels(i)) moved = true
        i += 1
      }
      labels = next
      byLabel = centroidsOf(labels)
      converged = !moved
      it += 1
    }
    lastUsed
  }

  /** [[relabeled]]'s sampled-trainer twin: centroids from the bounded
    * driver-side Lloyd, then ONE distributed literal-dot scan assigns
    * every corpus vector — 2 jobs total where the distributed trainer
    * paid ~3 per round. At a converged corpus ≤ [[KmTrainSample]] the
    * assignment is bit-identical to [[relabeled]] (the trainer hands
    * back the centroids the final assignment derives from;
    * spec-pinned). */
  def relabeledSampled(emb: DataFrame, maxIter: Int = 10): DataFrame = {
    val byLabel = kmeansCentroidsSampled(emb, maxIter)
    emb.drop("label")
      .withColumn("q", quantize(col("embedding")))
      .withColumn("n2", dotQ(col("q"), col("q")))
      .withColumn("label", (-bestLabelScore(byLabel).getField("nl"))
        .cast("int"))
      .drop("q", "n2")
  }

  /** IVF over a TRAINED coarse quantizer: [[kmeansTrain]] → relabel →
    * the standard probed-cell search, unchanged. Closes the loop from
    * the r7 verdict's kmeans ask: the IVF index is now trainable fully
    * in-engine — no fixture labels in the path.
    *
    * `labelsPath` (r8 verdict #2, the PQ-codebook precedent): when set,
    * the converged (vec_id, label) assignment — the trained model state
    * — is dumped to parquet so the oracle re-derives the probed-cell
    * search from the same labels; the dump costs one extra pass over
    * the already-localCheckpointed assignment, never a retrain. */
  def ivfTopKTrained(emb: DataFrame, k: Int = TopK,
      nprobe: Int = NProbe, maxIter: Int = 10,
      labelsPath: Option[String] = None): DataFrame = {
    // r12: the sampled trainer (bit-identical at any corpus within
    // the sample bound; the spec pins equality against the
    // distributed relabeled())
    val rel = relabeledSampled(emb, maxIter)
    labelsPath.foreach { p =>
      rel.select("vec_id", "label")
        .coalesce(1).write.mode("overwrite").parquet(p)
    }
    ivfTopK(rel, k, nprobe)
  }

  /** ANN recall report — the index-quality evaluation every ANN
    * deployment runs before trusting an approximate index: per query,
    * how many of the EXACT cosine top-k ([[cosineTopK]]) the probed
    * IVF search ([[ivfTopK]]) recovered. Emits (query_id, n_hits,
    * recall) with recall = n_hits/k (an exact small-integer division —
    * engine-identical doubles). Recall < 1 exactly when a true
    * neighbor lives outside every probed cell, so this row doubles as
    * the regression tripwire for nprobe/cell-layout changes.
    *
    * Scale: both sides reuse their own plans (broadcast query block,
    * no corpus shuffle); the comparison itself joins two k·|queries|
    * result sets — model-sized. */
  def annRecall(emb: DataFrame, k: Int = TopK,
      nprobe: Int = NProbe): DataFrame = {
    val brute = cosineTopK(emb, k).select(col("query_id"),
      col("neighbor_id"))
    val ivf = ivfTopK(emb, k, nprobe).select(col("query_id").as("qi"),
      col("neighbor_id").as("ni"))
    val hits = ivf.join(brute,
        col("qi") === col("query_id") && col("ni") === col("neighbor_id"),
        "left_semi")
      .groupBy(col("qi").as("query_id"))
      .agg(count(lit(1)).as("n_hits"))
    brute.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall", col("n_hits").cast("double") / k)
      .orderBy("query_id")
  }

  /** Exact L2 top-k over the quantized ints — the brute-force baseline
    * the PQ-family searches' recall is measured against. Self is
    * INCLUDED, mirroring the ADC searches' candidate space (a query is
    * its own d2=0 top-1 there too). Same broadcast-queries shape as
    * [[cosineTopK]]: one corpus scan, no corpus exchange. */
  private def l2TopK(emb: DataFrame, k: Int): DataFrame = {
    // literal query batch — the cosineTopK rationale; same L2 fold
    val qRows = quantized(emb).filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id"), col("q")).collect()
    val qids = qRows.map(_.getLong(0)).toSeq
    val qvecs = qRows.map(_.getSeq[Long](1).toSeq).toSeq
    val w = Window.partitionBy("query_id").orderBy(col("d2"), col("vec_id"))
    quantized(emb).select(col("vec_id"), graft.functions.VectorFunctions
        .vecScoresBatch(col("q"), qids, qvecs, qids.map(_ => 0L),
          mode = 1).as(Seq("query_id", "d2", "qaux")))
      .select("query_id", "vec_id", "d2")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "vec_id")
  }

  /** [[annRecall]] generalized across the whole index family (VERDICT
    * r12 next #7 — the eval every multi-index deployment runs before
    * choosing a serving path): per (index, query), how many of the
    * metric-exact top-k the approximate search recovered. Cosine-family
    * indexes (IVF, SRP-LSH) are scored against the exact cosine top-k;
    * the L2-family ADC searches (PQ, IVFADC) against the exact L2
    * top-k over the same quantized ints (self included, as in their
    * candidate spaces). Recall counts SET membership — the ADC
    * searches' exact rerank reorders but never changes the returned
    * set, so the comparison is rerank-invariant.
    *
    * Scale: each search keeps its own audited plan; the comparison
    * joins k·|queries| model-sized result sets; exact baselines
    * localCheckpoint so each is computed once across the two indexes
    * it serves. */
  def annRecallMulti(emb: DataFrame, pqCbPath: String,
      adcCentPath: String, adcCbPath: String): DataFrame = {
    def recallOf(name: String, approx: DataFrame, exact: DataFrame,
        k: Int): DataFrame = {
      val a = approx.select(col("query_id").as("qi"),
        col("vec_id").as("ni"))
      val hits = a.join(exact,
          col("qi") === col("query_id") && col("ni") === col("vec_id"),
          "left_semi")
        .groupBy(col("qi").as("query_id"))
        .agg(count(lit(1)).as("n_hits"))
      exact.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(lit(name).as("idx"), col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / k)
            .as("recall"))
    }
    val exactCos = cosineTopK(emb, TopK)
      .select(col("query_id"), col("neighbor_id").as("vec_id"))
      .localCheckpoint()
    val exactL2 = l2TopK(emb, PqTopK).localCheckpoint()
    val ivf = ivfTopK(emb, TopK, NProbe)
      .select(col("query_id"), col("neighbor_id").as("vec_id"))
    val lsh = srpTopK(emb, TopK)
      .select(col("query_id"), col("neighbor_id").as("vec_id"))
    val pq = pqTopK(emb, pqCbPath, PqTopK).select("query_id", "vec_id")
    val adc = ivfAdcTopK(emb, adcCentPath, adcCbPath, PqTopK, IvfAdcProbe)
      .select("query_id", "vec_id")
    recallOf("ivf", ivf, exactCos, TopK)
      .unionByName(recallOf("lsh", lsh, exactCos, TopK))
      .unionByName(recallOf("pq", pq, exactL2, PqTopK))
      .unionByName(recallOf("ivfadc", adc, exactL2, PqTopK))
      .orderBy("idx", "query_id")
  }

  /** Cells larger than this sub-block their pair space (r5 VERDICT ask
    * #4): Σ|cell|² assumes balanced cells, and one degenerate cluster
    * re-introduces the n² corner — both in pair count and in compute,
    * since every same-key pair materializes inside ONE join task. Sized
    * so the fixtures (≈1.2k vectors/cell at sf0.1) never hit it;
    * production sets it to what one task's pair scan comfortably
    * absorbs. */
  val DefaultCellCap = 100000

  /** Embedding near-duplicates, blocked by coarse cluster: same-label
    * pairs with cosine ≥ `minCos`. The label equi-join is the blocking
    * key (near-dups co-cluster), so the pair space is Σ|cell|², not n².
    * Returns (vec_a, vec_b, label, cos).
    *
    * Skew guard: a cell above `cellCap` is re-bucketed into
    * B = ⌈|cell|/cap⌉ hash sub-blocks, and candidates pair within a
    * block and across one adjacent block — the sub-block id joins as an
    * EQUI key, so both the pair count and the per-task compute drop
    * from |cell|² to ~2·cap·|cell| (the examined fraction is ~2/B; the
    * published SemDeDup practice of capping cluster size makes the same
    * recall-for-boundedness trade). Cells at or under the cap take the
    * exact all-pairs path unchanged — sf-fixture results and plans are
    * identical unless a degenerate cell actually occurs. Cell sizes are
    * model-sized driver state (≤ #cells rows, like the centroids
    * collect — bounded). */
  def embeddingNearDups(emb: DataFrame, minCos: Double = 0.4,
      cellCap: Int = DefaultCellCap): DataFrame = {
    val q = quantized(emb)
    // sized off the RAW columns (no quantize work) — one cheap count
    // whose result is model-sized driver state (≤ #cells rows)
    val over = emb.groupBy("label").count().collect()
      .collect { case r if r.getLong(1) > cellCap =>
        r.getInt(0) -> math.ceil(r.getLong(1).toDouble / cellCap).toInt }
      .toMap
    val paired =
      if (over.isEmpty)
        q.as("a").join(q.as("b"),
          col("a.label") === col("b.label") &&
            col("a.vec_id") < col("b.vec_id"))
      else {
        // per-label block count as a literal dispatch (bounded, like the
        // centroid literals); 1 for every non-oversized cell
        val bExpr = over.foldLeft(lit(1)) { case (acc, (l, b)) =>
          when(col("label") === l, lit(b)).otherwise(acc)
        }
        val sub = pmod(hash(col("vec_id")), bExpr)
        val a = q.withColumn("subkey", sub)
        // the probe side emits (sub, sub+1 mod B): within-block pairs
        // match at sub, cross-adjacent at sub+1; array_distinct
        // collapses B=1 to a single key so small cells keep exact
        // all-pairs semantics with no duplicate candidates
        val b = q.withColumn("subkey", explode(array_distinct(
          array(sub, pmod(sub + 1, bExpr)))))
        a.as("a").join(b.as("b"),
          col("a.label") === col("b.label") &&
            col("a.subkey") === col("b.subkey") &&
            col("a.vec_id") < col("b.vec_id"))
      }
    paired
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.label").as("label"),
        pairCos(col("a.q"), col("b.q"), col("a.n2"), col("b.n2")).as("cos"))
      .filter(col("cos") >= minCos)
      .orderBy("vec_a", "vec_b")
  }

  // ---- Product quantization (IVFADC's compression half) ---------------

  /** PQ geometry: 64 dims → [[PqM]] subspaces × [[PqDims]] dims, each
    * coded against a [[PqK]]-centroid codebook ⇒ 8 bytes per vector. */
  val PqM = 8
  val PqDims = 8
  val PqK = 16
  /** Lloyd rounds for codebook training. */
  val PqIters = 4
  /** Result size (ADC candidates = exact-reranked set). */
  val PqTopK = 10

  /** Integer squared L2 between two quantized arrays — the native
    * codegen expression (r17 optimization round, guide §4.1/§1.2 step
    * 2: the former `aggregate(zip_with(...))` form is a HOF chain,
    * which Catalyst evaluates as CodegenFallback with a per-row
    * 64-element intermediate array, and the ANN family pays it per
    * (query × corpus) pair). Bit-identical fold — see
    * [[graft.functions.AnnKernels.l2Sq]]. */
  private[ml] def pqD2(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.l2Sq(a, b)

  /** argmin code for subvector `sv` in subspace `m` against the literal
    * codebook, ties to the LOWEST code: the (d2, code) pair is packed
    * into one integer key d2·K + code so argmin is a plain `array_min`
    * — the same packing the oracle's `min(d2*K + code)` uses, so
    * tie-breaks are bit-identical across engines. */
  private[ml] def pqCode(cb: Column, sv: Column, m: Column): Column = {
    val keys = transform(sequence(lit(0), lit(PqK - 1)),
      c => pqD2(sv, element_at(element_at(cb, m + 1), c + 1)) * PqK + c)
    (array_min(keys) % PqK).cast("int")
  }

  private[ml] def subCol(q: Column, m: Column): Column =
    slice(q, m * lit(PqDims) + 1, lit(PqDims))

  /** Per-query ADC lookup table (Jégou '11's asymmetric-distance
    * table): lut[m][c] = d²(sub_m(v), cb[m][c]), a [[PqM]]×[[PqK]]
    * array attached ONCE per query row. Scoring a corpus pair then
    * costs [[PqM]] array lookups + adds instead of [[PqM]]×[[PqDims]]
    * multiply-subtracts — the table hoists the geometry out of the
    * query×corpus product, the standard trick that makes ADC serve-side
    * cost independent of the vector dimension. Values are identical to
    * inlining [[pqD2]] per pair, so the oracles are untouched. */
  private[ml] def pqLutOf(cbl: Column, v: Column): Column =
    transform(sequence(lit(0), lit(PqM - 1)),
      m => transform(sequence(lit(0), lit(PqK - 1)),
        c => pqD2(subCol(v, m), element_at(element_at(cbl, m + 1), c + 1))))

  /** ADC over an attached [[pqLutOf]] table and an 8-code array —
    * native (same [[pqD2]] rationale; the scoring runs per
    * query × corpus pair). */
  private[ml] def adcFromLut(lut: Column, codes: Column): Column =
    graft.functions.VectorFunctions.adcLut(lut, codes, PqM)

  /** (vec_id, m, sv) exploded quantized subvectors — the training-side
    * table only; encoding never explodes (see [[pqTopK]]). `qdf` is any
    * (vec_id, q: array<long>) frame — raw quantized vectors for plain
    * PQ, coarse-centroid residuals for IVFADC. */
  private def subvectorsOf(qdf: DataFrame): DataFrame =
    qdf
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("q"))
      .select(col("vec_id"), col("m"), subCol(col("q"), col("m")).as("sv"))

  private def subvectors(emb: DataFrame): DataFrame =
    subvectorsOf(quantized(emb))

  /** Per-subspace k-means codebooks (Jégou et al., PQ for nearest
    * neighbor search, TPAMI'11): deterministic init (the [[PqK]] lowest
    * vec_ids' subvectors), then [[PqIters]] Lloyd rounds over ALL
    * subspaces at once — assignment is one scan of the exploded
    * subvector table with the codebooks baked as literals, refresh is
    * one (m, code, dim) aggregation whose ≤ M·K·dims rows are the
    * collected bounded model state (the [[kmeansTrain]] doctrine).
    * Centroid means are floorDiv — exact integers, no float drift;
    * empty cells keep their previous centroid. */
  def pqInit(emb: DataFrame): Seq[Seq[Seq[Long]]] =
    pqInitOn(quantized(emb))

  private def pqInitOn(qdf: DataFrame): Seq[Seq[Seq[Long]]] = {
    val init = qdf.select(col("vec_id"), col("q"))
      .orderBy("vec_id").limit(PqK).collect()
    require(init.length == PqK, s"corpus smaller than $PqK vectors")
    (0 until PqM).map { m =>
      (0 until PqK).map { c =>
        init(c).getSeq[Long](1).slice(m * PqDims, (m + 1) * PqDims).toSeq
      }
    }
  }

  /** Total quantization distortion of a codebook over the corpus:
    * Σ over all (vector, subspace) of the min-code squared error. One
    * aggregation job; the training-quality metric specs assert on. */
  def pqDistortion(emb: DataFrame, cb: Seq[Seq[Seq[Long]]]): Long = {
    val keys = transform(sequence(lit(0), lit(PqK - 1)),
      c => pqD2(col("sv"), element_at(element_at(typedLit(cb),
        col("m") + 1), c + 1)) * PqK + c)
    subvectors(emb)
      .select((array_min(keys).cast("long") / lit(PqK)).cast("long").as("d2"))
      .agg(sum(col("d2"))).head().getLong(0)
  }

  def pqTrain(emb: DataFrame): Seq[Seq[Seq[Long]]] =
    pqTrainOn(quantized(emb))

  /** Codebook training-sample bound — the faiss convention: PQ/k-means
    * codebooks train on a bounded in-memory sample of the corpus (a few
    * hundred vectors per centroid suffices; faiss itself subsamples past
    * `max_points_per_centroid`), never on all of it. 64k vectors is
    * 4096 per centroid at [[PqK]]=16 — far past diminishing returns. */
  val PqTrainSample = 65536

  /** Lloyd entirely driver-side over ONE bounded ordered collect: the
    * training set is ≤ [[PqTrainSample]] vectors BY DESIGN (see above),
    * so iterating Spark jobs over it paid 4+ scheduler round-trips to
    * aggregate what fits in a few MB of driver memory — at bench scale
    * that overhead WAS the cost of `ml_pq_ann`/`ml_ivfadc`. Semantics
    * are bit-identical to the former distributed fold at any corpus
    * ≤ [[PqTrainSample]] vectors (same lowest-ids init, same
    * (d2·K + code) packed argmin tie-break as [[pqCode]], same floorDiv
    * integer means, empty cells keep their previous centroid); above
    * that bound the faiss-style subsampling is the intended behavior
    * and the codebooks differ from an all-corpus fold by design. At
    * 100 TB the one collect stays ≤ sample-bound; the corpus-sized
    * work (encode, ADC, rerank) remains distributed. */
  private def pqTrainOn(qdf: DataFrame): Seq[Seq[Seq[Long]]] =
      Memo.get("pqcb", planKey(qdf)) {
    val sample: Array[Array[Long]] = qdf.select(col("vec_id"), col("q"))
      .orderBy("vec_id").limit(PqTrainSample).collect()
      .map(_.getSeq[Long](1).toArray)
    require(sample.length >= PqK, s"corpus smaller than $PqK vectors")
    var cb: Array[Array[Array[Long]]] =
      Array.tabulate(PqM, PqK, PqDims)((m, c, d) => sample(c)(m * PqDims + d))
    for (_ <- 1 to PqIters) {
      val sums = Array.ofDim[Long](PqM, PqK, PqDims)
      val counts = Array.ofDim[Long](PqM, PqK)
      for (v <- sample; m <- 0 until PqM) {
        var best = 0
        var bestKey = Long.MaxValue
        var c = 0
        while (c < PqK) {
          var d2 = 0L
          var d = 0
          while (d < PqDims) {
            val diff = v(m * PqDims + d) - cb(m)(c)(d)
            d2 += diff * diff
            d += 1
          }
          val key = d2 * PqK + c
          if (key < bestKey) { bestKey = key; best = c }
          c += 1
        }
        counts(m)(best) += 1
        var d = 0
        while (d < PqDims) {
          sums(m)(best)(d) += v(m * PqDims + d)
          d += 1
        }
      }
      cb = Array.tabulate(PqM, PqK, PqDims) { (m, c, d) =>
        if (counts(m)(c) > 0) Math.floorDiv(sums(m)(c)(d), counts(m)(c))
        else cb(m)(c)(d)
      }
    }
    cb.map(_.map(_.toSeq: Seq[Long]).toSeq: Seq[Seq[Long]]).toSeq
  }

  /** PQ-compressed ANN with asymmetric distance computation (ADC) +
    * exact rerank: train codebooks, encode the corpus to [[PqM]] codes
    * per vector IN THE SCAN (one per-row nested argmin — no explode, no
    * exchange), then score each broadcast query against the encoded
    * corpus by Σ_m d²(query_sub_m, codebook[m][code_m]) and exact-rerank
    * the per-query ADC top-[[PqTopK]]. Codebooks are dumped to
    * `codebookPath` so the oracle re-derives encoding + ADC from the
    * same model state.
    *
    * Scale: the corpus is scanned once for encoding+ADC with queries
    * and codebooks broadcast (block-nested ANN, like [[cosineTopK]]);
    * the 8-byte codes are the representation a 100 TB deployment stores
    * — 64× smaller than the raw vectors — and the exact rerank touches
    * only the bounded candidate set. */
  def pqTopK(emb: DataFrame, codebookPath: String, k: Int = PqTopK)
      : DataFrame = {
    val spark = emb.sparkSession
    val cb = pqTrain(emb)
    import spark.implicits._
    (for { m <- 0 until PqM; c <- 0 until PqK } yield (m, c, cb(m)(c)))
      .toDF("m", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(codebookPath)
    val cbl = typedLit(cb)
    val enc = quantized(emb).select(col("vec_id"), col("q"),
      graft.functions.VectorFunctions.pqCodes(col("q"), lit(0), None,
        cb, PqDims, PqK).as("codes"))
    val qs = quantized(emb).filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id").as("query_id"), col("q").as("qq"))
    // the ADC LUTs ride as a LITERAL query batch (r17 — the
    // cosineTopK rationale; formerly a BroadcastNestedLoopJoin): the
    // query×corpus product pays one fused lookup loop per corpus row,
    // not subvector geometry and not per-pair join row construction
    val lutRows = qs
      .select(col("query_id"), pqLutOf(cbl, col("qq")).as("lut"))
      .collect()
    val qids = lutRows.map(_.getLong(0)).toSeq
    val luts = lutRows
      .map(_.getSeq[scala.collection.Seq[Long]](1).flatten.toSeq).toSeq
    val scored = enc
      .select(col("vec_id"), graft.functions.VectorFunctions
        .vecScoresBatch(col("codes"), qids, luts, qids.map(_ => 0L),
          mode = 2, adcK = PqK).as(Seq("query_id", "adc", "qaux")))
      .select("query_id", "vec_id", "adc")
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adc"), col("vec_id"))
    val cand = scored.withColumn("crank", row_number().over(wAdc))
      .filter(col("crank") <= k)
      .select("query_id", "vec_id", "adc")
    val wEx = Window.partitionBy("query_id")
      .orderBy(col("exact_d2"), col("vec_id"))
    cand
      .join(quantized(emb).select(col("vec_id"), col("q")), Seq("vec_id"))
      .join(broadcast(qs), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("adc"),
        pqD2(col("qq"), col("q")).as("exact_d2"))
      .withColumn("rank", row_number().over(wEx).cast("long"))
      .select("query_id", "rank", "vec_id", "adc", "exact_d2")
      .orderBy("query_id", "rank")
  }

  /** k-NN label classification over the exact top-k: each query
    * vector's label predicted by majority vote of its [[TopK]] cosine
    * neighbors (ties to the lowest label), reported against its actual
    * label — the standard embedding-quality probe a training pipeline
    * runs after re-embedding.
    *
    * Scale: the expensive half is [[cosineTopK]] (corpus scan against
    * the broadcast query block); everything after operates on the
    * bounded k·|queries| neighbor set. */
  def knnClassify(emb: DataFrame, k: Int = TopK): DataFrame = {
    val votes = cosineTopK(emb, k)
      .join(emb.select(col("vec_id").as("neighbor_id"), col("label")),
        Seq("neighbor_id"))
      .groupBy("query_id", "label").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("c").desc, col("label"))
    votes.withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select(col("query_id"), col("label").as("predicted"))
      .join(emb.select(col("vec_id").as("query_id"),
        col("label").as("actual")), Seq("query_id"))
      .withColumn("correct", (col("predicted") === col("actual")).cast("int"))
      .select("query_id", "predicted", "actual", "correct")
      .orderBy("query_id")
  }

  // ---- IVFADC: coarse cells + residual PQ ------------------------------

  /** Cells probed per query in [[ivfAdcTopK]]. */
  val IvfAdcProbe = 2

  /** Integer coarse centroids per cell: elementwise floorDiv mean of
    * the quantized members. Bounded model state (cells × 64 longs).
    * Labels must be contiguous 0-based (the fixture contract) so the
    * literal lookup is a plain index — fail fast otherwise. */
  def coarseCentroids(emb: DataFrame): Seq[Seq[Long]] =
      Memo.get("coarse", planKey(emb)) {
    val rows = quantized(emb)
      .select(col("label"), posexplode(col("q")).as(Seq("d", "v")))
      .groupBy("label", "d")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .collect()
    val labels = rows.map(_.getInt(0)).distinct.sorted
    require(labels.sameElements(labels.indices),
      s"labels must be contiguous 0-based, got ${labels.mkString(",")}")
    val byKey = rows.map(r => ((r.getInt(0), r.getInt(1)),
      Math.floorDiv(r.getLong(2), r.getLong(3)))).toMap
    labels.toSeq.map(l => (0 until PqM * PqDims).map(d => byKey((l, d))))
  }

  private[ml] def residual(q: Column, label: Column,
      cents: Seq[Seq[Long]]): Column =
    zip_with(q, element_at(typedLit(cents), label + 1), (a, b) => a - b)

  /** The full IVFADC pipeline (Jégou et al., TPAMI'11 §III): a coarse
    * quantizer (the fixture's `label` cells, integer mean centroids)
    * plus PQ trained on the RESIDUALS v − c(v) — residual energy is far
    * below vector energy, so the same 8-byte code carries much more
    * precision than vanilla PQ. Search probes the [[IvfAdcProbe]]
    * nearest cells by coarse distance and runs ADC only over those
    * cells' members, with the query's residual taken against each
    * probed cell's centroid (the same centroid its members encoded
    * against); exact rerank on the ADC top-k.
    *
    * Scale: the probe table (queries × nprobe, with residuals) is
    * broadcast and the corpus side joins it ON ITS CELL — with the
    * corpus partitioned by cell on disk this prunes to nprobe/cells of
    * the data (the [[ivfTopK]] pruning) AND reads 8-byte codes instead
    * of raw vectors (the PQ compression); no corpus exchange before
    * candidate ranking. Coarse centroids and codebooks dump to fixture
    * parquet so the oracle re-derives encoding, probing, and ADC from
    * the same model state. */
  def ivfAdcTopK(emb: DataFrame, centroidPath: String, codebookPath: String,
      k: Int = PqTopK, nprobe: Int = IvfAdcProbe): DataFrame = {
    val (cents, cb) = ivfAdcModel(emb, centroidPath, codebookPath)
    ivfAdcRank(emb, ivfAdcEncoded(emb, cents, cb),
      ivfAdcProbes(emb, cents, nprobe), cb, k)
  }

  /** [[ivfAdcTopK]] served through a MATERIALIZED cell-partitioned
    * index (VERDICT r12 next #2 — the 100 TB ANN serving layout made
    * real): the encoded corpus (8-byte codes) is written
    * `partitionBy(cell)` — one file per cell via the pre-write
    * `repartition(cell)` — and the probed search reads it back through
    * PARTITION PRUNING: the union of the workload's probed cells (a
    * bounded collect, ≤ |cells| ints of model state) becomes an `IN`
    * partition filter, so the scan touches only probed cells' files —
    * nprobe/cells of the data per query batch, 8-byte codes instead of
    * raw vectors. Rank half identical to the in-memory path
    * (spec-pinned equal); files-read == probed-cells pinned in
    * PlanSpec via [[ivfAdcIndexScan]]. */
  def ivfAdcTopKIndexed(emb: DataFrame, centroidPath: String,
      codebookPath: String, indexPath: String, k: Int = PqTopK,
      nprobe: Int = IvfAdcProbe): DataFrame = {
    val spark = emb.sparkSession
    val (cents, cb) = ivfAdcEnsureIndex(emb, centroidPath, codebookPath,
      indexPath)
    val probed = ivfAdcProbes(emb, cents, nprobe).localCheckpoint()
    val cellsHit = probed.select("pcell").distinct().collect()
      .map(_.getInt(0)).toSeq.sorted
    ivfAdcRank(emb, ivfAdcIndexScan(spark, indexPath, cellsHit), probed,
      cb, k)
  }

  /** BUILD entry point of the indexed IVFADC rows, memoized per
    * (session, corpus, paths) in [[Memo]]: the expensive
    * index write happens once; every serving query — the plain search,
    * the pre-filtered search, a fresh query batch — reads the written
    * artifact back through partition pruning. The index rows carry the
    * filterable metadata column `cat` ([[FilterMod]] category) next to
    * the 8-byte codes: a metadata-constrained deployment stores its
    * filter columns IN the index so the predicate pushes into the
    * pruned scan (the faiss-IDSelector idea as a storage layout);
    * unfiltered reads never pay for it — column pruning drops `cat` at
    * the scan. Incremental maintenance of the same layout lives in
    * [[AnnIndex]] (frozen-model re-encode, cell-partition rewrite). */
  def ivfAdcEnsureIndex(emb: DataFrame, centroidPath: String,
      codebookPath: String, indexPath: String)
      : (Seq[Seq[Long]], Seq[Seq[Seq[Long]]]) = {
    // keyed BY THE PATH with the corpus identity in the value: a
    // different corpus writing the same path must rebuild, or the first
    // corpus's entry would point at the second corpus's files. A
    // mismatch forgets the tag's entries (other paths only rebuild)
    val pk = (planKey(emb), centroidPath, codebookPath)
    def ensure() = Memo.get("annidx", indexPath) {
      val (cents, cb) = ivfAdcModel(emb, centroidPath, codebookPath)
      ivfAdcEncoded(emb, cents, cb)
        .withColumn("cat", pmod(col("vec_id"), lit(FilterMod)))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(indexPath)
      (pk, (cents, cb))
    }
    val (owner, model) = ensure()
    if (owner == pk) model
    else { Memo.clear("annidx"); ensure()._2 }
  }

  /** Pre-filtered SERVE over the written index (VERDICT r13 next #7 —
    * L101's wedge composed onto L91's layout): only category-`cat`
    * rows are eligible, the queries are the stride sample restricted
    * to the same category, and the category test rides INSIDE the
    * partition-pruned scan — the physical plan carries partition
    * filters on `cell` AND `PushedFilters: EqualTo(cat, ...)`
    * simultaneously (PlanSpec pins both), so at 100 TB the scan reads
    * nprobe/cells of the files AND skips non-matching row groups by
    * parquet column statistics. This is the pre-filter side of the
    * [[filteredAnnEval]] wedge as a serving path: all k ADC candidate
    * slots go to eligible vectors at unchanged probe cost. */
  def ivfAdcTopKIndexedFiltered(emb: DataFrame, centroidPath: String,
      codebookPath: String, indexPath: String, k: Int = PqTopK,
      nprobe: Int = IvfAdcProbe, cat: Long = 0L): DataFrame = {
    val spark = emb.sparkSession
    val (cents, cb) = ivfAdcEnsureIndex(emb, centroidPath, codebookPath,
      indexPath)
    val qs = ivfAdcQueries(emb)
      .filter(col("query_id") % FilterMod === cat)
    val probed = ivfAdcProbesOn(qs, cents, nprobe).localCheckpoint()
    val cellsHit = probed.select("pcell").distinct().collect()
      .map(_.getInt(0)).toSeq.sorted
    val enc = spark.read.parquet(indexPath)
      .filter(col("cell").isin(cellsHit: _*) && col("cat") === cat)
      .select(col("vec_id"), col("codes"), col("cell"))
    ivfAdcRankOn(quantized(emb).select(col("vec_id"), col("q")), qs,
      enc, probed, cb, k)
  }

  /** The serving-path scan over a written IVFADC index: partition
    * pruning via a literal `IN` over the probed cells — the plan reads
    * ONLY those cells' files (PlanSpec pins `inputFiles` == |cells|). */
  def ivfAdcIndexScan(spark: SparkSession, indexPath: String,
      cells: Seq[Int]): DataFrame =
    spark.read.parquet(indexPath)
      .filter(col("cell").isin(cells: _*))
      .select(col("vec_id"), col("codes"), col("cell"))

  /** Shared IVFADC model build: coarse integer-mean centroids plus PQ
    * codebooks trained on residuals, both dumped to fixture parquet so
    * the oracle re-derives encoding, probing, and ADC from the same
    * model state. */
  /** Train-only entry: the frozen (coarse centroids, residual
    * codebooks) pair with no dumps — both halves memoized, so the
    * bench's `ann_model_shared_pass` ([[SharedPass]]) and every IVFADC
    * row pay the training exactly once per corpus. */
  def ivfAdcTrain(emb: DataFrame)
      : (Seq[Seq[Long]], Seq[Seq[Seq[Long]]]) = {
    val cents = coarseCentroids(emb)
    (cents, pqTrainOn(quantized(emb).select(col("vec_id"),
      residual(col("q"), col("label"), cents).as("q"))))
  }

  private[ml] def ivfAdcModel(emb: DataFrame, centroidPath: String,
      codebookPath: String): (Seq[Seq[Long]], Seq[Seq[Seq[Long]]]) = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (cents, cb) = ivfAdcTrain(emb)
    cents.zipWithIndex.map { case (c, l) => (l, c) }
      .toDF("label", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(centroidPath)
    (for { m <- 0 until PqM; c <- 0 until PqK } yield (m, c, cb(m)(c)))
      .toDF("m", "code", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(codebookPath)
    (cents, cb)
  }

  /** The encoded corpus: (vec_id, cell, codes) — residual PQ codes,
    * 8 bytes per vector. */
  private def ivfAdcEncoded(emb: DataFrame, cents: Seq[Seq[Long]],
      cb: Seq[Seq[Seq[Long]]]): DataFrame =
    quantized(emb)
      .select(col("vec_id"), col("label").as("cell"),
        graft.functions.VectorFunctions.pqCodes(col("q"),
          col("label").cast("int"), Some(cents), cb, PqDims, PqK)
          .as("codes"))

  private[ml] def ivfAdcQueries(emb: DataFrame): DataFrame =
    quantized(emb).filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id").as("query_id"), col("q").as("qq"))

  /** nprobe nearest cells per query by coarse L2, ties to the lower
    * cell, with the query residual against each probed cell's centroid:
    * (query_id, pcell, qr). The query set is tiny, so the query × cells
    * explode is too. */
  private def ivfAdcProbes(emb: DataFrame, cents: Seq[Seq[Long]],
      nprobe: Int): DataFrame =
    ivfAdcProbesOn(ivfAdcQueries(emb), cents, nprobe)

  /** [[ivfAdcProbes]] over an EXPLICIT query frame (query_id, qq) —
    * the serve-path entry a maintained index uses, where the query
    * workload is an input rather than the fixture stride. */
  private[ml] def ivfAdcProbesOn(qs: DataFrame, cents: Seq[Seq[Long]],
      nprobe: Int): DataFrame = {
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("cd2"), col("pcell"))
    qs
      .select(col("query_id"), col("qq"),
        explode(sequence(lit(0), lit(cents.length - 1))).as("pcell"))
      .withColumn("cd2",
        pqD2(col("qq"), element_at(typedLit(cents), col("pcell") + 1)))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("pcell"),
        residual(col("qq"), col("pcell"), cents).as("qr"))
  }

  /** ADC scoring + exact rerank over an encoded corpus — in-memory or
    * the pruned index read; the plan past the scan is identical. */
  private def ivfAdcRank(emb: DataFrame, enc: DataFrame,
      probed: DataFrame, cb: Seq[Seq[Seq[Long]]], k: Int): DataFrame =
    ivfAdcRankOn(quantized(emb).select(col("vec_id"), col("q")),
      ivfAdcQueries(emb), enc, probed, cb, k)

  /** [[ivfAdcRank]] over EXPLICIT corpus/query frames — corpusQ
    * (vec_id, q) supplies the exact-rerank vectors (at 100 TB: the
    * replica table), qs (query_id, qq) the workload. */
  private[ml] def ivfAdcRankOn(corpusQ: DataFrame, qs: DataFrame,
      enc: DataFrame, probed: DataFrame, cb: Seq[Seq[Seq[Long]]],
      k: Int): DataFrame = {
    // NOTE: this stage deliberately does NOT use the [[pqLutOf]] table
    // that pqTopK scores with: the candidate set is cell-pruned (≪ the
    // full query×corpus product) and attaching a materialized per-probe
    // LUT array measured SLOWER here (nested-array indirection on the
    // broadcast side outweighed the saved multiplies). The ADC itself
    // is the native kernel with the codebook as referenced model state.
    val adc = graft.functions.VectorFunctions.adcResidual(
      col("qr"), col("codes"), cb, PqDims)
    val scored = enc.join(broadcast(probed), col("cell") === col("pcell"))
      .select(col("query_id"), col("vec_id"), adc.as("adc"))
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adc"), col("vec_id"))
    val cand = scored.withColumn("crank", row_number().over(wAdc))
      .filter(col("crank") <= k)
      .select("query_id", "vec_id", "adc")
    val wEx = Window.partitionBy("query_id")
      .orderBy(col("exact_d2"), col("vec_id"))
    cand
      .join(corpusQ.select(col("vec_id"), col("q")), Seq("vec_id"))
      .join(broadcast(qs), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("adc"),
        pqD2(col("qq"), col("q")).as("exact_d2"))
      .withColumn("rank", row_number().over(wEx).cast("long"))
      .select("query_id", "rank", "vec_id", "adc", "exact_d2")
      .orderBy("query_id", "rank")
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. '23): remove
    * embedding-space near-duplicates — drop the higher-id side of every
    * same-cell pair with cosine ≥ `minCos` (greedy keep-lowest, the
    * [[Dedup.dedupCorpus]] convention); returns the surviving
    * (vec_id, label).
    *
    * Scale: the pair space is the cluster-blocked Σ|cell|² of
    * [[embeddingNearDups]] (never n²), and the drop list is tiny
    * relative to the corpus → broadcast anti-join; the corpus itself
    * never shuffles. */
  def semanticDedup(emb: DataFrame, minCos: Double = 0.4,
      cellCap: Int = DefaultCellCap): DataFrame = {
    val drops = embeddingNearDups(emb, minCos, cellCap)
      .select(col("vec_b").as("vec_id")).distinct()
    emb.select("vec_id", "label")
      .join(broadcast(drops), Seq("vec_id"), "left_anti")
      .orderBy("vec_id")
  }

  /** Hard-negative mining — the contrastive-training data op (the
    * "hard negatives" every embedding/reranker training loop mines,
    * e.g. DPR, Karpukhin et al. EMNLP'20): for each query vector, the
    * single nearest corpus vector with a DIFFERENT label. Emits
    * (query_id, query_label, neg_id, neg_label, cos).
    *
    * Scale: the [[cosineTopK]] plan — query block broadcast against
    * one corpus scan, label-mismatch filtered BEFORE ranking (the
    * filter is per-row, so the window sees only cross-label pairs),
    * rank-1 via the WindowGroupLimit path: each task forwards one row
    * per query to the final sort. */
  def hardNegatives(emb: DataFrame): DataFrame = {
    val qs = quantized(emb).filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id").as("query_id"),
        col("label").as("query_label"), col("q").as("qq"),
        col("n2").as("qn2"))
    val scored = quantized(emb).crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id") &&
        col("label") =!= col("query_label"))
      .select(col("query_id"), col("query_label"),
        col("vec_id").as("neg_id"), col("label").as("neg_label"),
        pairCos(col("qq"), col("q"), col("qn2"), col("n2")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neg_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") === 1).drop("rank")
      .orderBy("query_id")
  }

  /** Embedding-norm outlier flags — the embedding sanity check a
    * pipeline runs after (re-)embedding a corpus: vectors whose norm²
    * sits more than 2σ from the corpus mean (degenerate all-zero /
    * clipped / runaway vectors corrupt both training and ANN recall).
    * Exactness: norm² is the exact integer quantized dot; the flag is
    * the integer cross-multiplied z² test (N·n2 − S)² > 4·(N·Q − S²)
    * in decimal arithmetic — no float mean/variance fold anywhere —
    * and the reported z² is one IEEE division of exact decimals.
    * Emits (vec_id, n2, zsq, is_outlier).
    *
    * Scale: one corpus scan for norms, one 3-number moment aggregate
    * (bounded model state, broadcast back), one scan to flag — no
    * shuffle of the corpus at all. */
  def normOutliers(emb: DataFrame): DataFrame = {
    val nrm = quantized(emb).select(col("vec_id"), col("n2"))
    val m = nrm.agg(count(lit(1)).as("n"), sum(col("n2")).as("s"),
      sum(col("n2").cast("decimal(38,0)") * col("n2")).as("qq"))
    nrm.crossJoin(broadcast(m))
      // cast BEFORE the multiply (as var_num already does): n*n2 in
      // Long wraps silently once n·n2 exceeds 2^63, diverging from the
      // hugeint oracle — decimal(38,0) keeps the moment exact at scale
      .withColumn("dev",
        col("n").cast("decimal(38,0)") * col("n2") -
          col("s").cast("decimal(38,0)"))
      .withColumn("var_num",
        col("n").cast("decimal(38,0)") * col("qq") -
          col("s").cast("decimal(38,0)") * col("s"))
      .select(col("vec_id"), col("n2"),
        ((col("dev") * col("dev")).cast("double") /
          col("var_num").cast("double")).as("zsq"),
        ((col("dev") * col("dev")) > col("var_num") * 4).cast("int")
          .as("is_outlier"))
      .orderBy("vec_id")
  }

  /** Synthetic metadata category for [[filteredAnnEval]]: vec_id mod 3
    * (a production table carries a real tenant/category column). */
  val FilterMod = 3L

  /** Filtered-ANN eval — the pre-filter vs post-filter recall wedge
    * every metadata-constrained vector-search deployment measures
    * (faiss IDSelector / the filtered-search literature): when a query
    * must return only SAME-CATEGORY neighbors, post-filtering (search
    * unfiltered, then drop wrong-category hits) wastes top-k slots on
    * vectors the filter discards and silently under-returns, while
    * pre-filtering (the predicate applied INSIDE the probed scan)
    * keeps all k slots for eligible vectors at the same probe cost.
    * Per query: the exact same-category baseline size, the post-filter
    * survivor count, both searches' overlap with the baseline, and the
    * two recalls — the measured gap is the case for pushing filters
    * into the index scan.
    *
    * Shape: three searches share the [[cosineTopK]]/[[ivfTopK]] plans
    * (query block broadcast, probed cells broadcast, the category test
    * a per-row predicate pushed into each scan); overlaps are
    * model-sized semi joins. Counts exact; recalls one IEEE division
    * each, denominated by the exact baseline size (≤ k by
    * construction). */
  def filteredAnnEval(emb: DataFrame, k: Int = TopK,
      nprobe: Int = NProbe): DataFrame = {
    val sameCat =
      col("vec_id") % FilterMod === col("query_id") % FilterMod
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    def rank(scored: DataFrame): DataFrame = scored
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("query_id", "neighbor_id")
    val exactF = rank(quantized(emb).crossJoin(broadcast(queries(emb)))
      .filter(col("vec_id") =!= col("query_id") && sameCat)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        pairCos(col("qq"), col("q"), col("qn2"), col("n2")).as("cos")))
    val pre = rank(quantized(emb)
      .join(broadcast(probedCells(emb, nprobe)), Seq("label"))
      .join(broadcast(queries(emb)), Seq("query_id"))
      .filter(col("vec_id") =!= col("query_id") && sameCat)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        pairCos(col("qq"), col("q"), col("qn2"), col("n2")).as("cos")))
    val post = ivfTopK(emb, k, nprobe)
      .filter(col("neighbor_id") % FilterMod ===
        col("query_id") % FilterMod)
      .select("query_id", "neighbor_id")
    def perQuery(cand: DataFrame, name: String): DataFrame = cand
      .join(exactF, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as(name))
    val nEx = exactF.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
    val nPost = post.groupBy("query_id").agg(count(lit(1)).as("n_post"))
    nEx
      .join(nPost, Seq("query_id"), "left")
      .join(perQuery(pre, "hits_pre"), Seq("query_id"), "left")
      .join(perQuery(post, "hits_post"), Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_post"), lit(0L)).as("n_post"),
        coalesce(col("hits_pre"), lit(0L)).as("hits_pre"),
        coalesce(col("hits_post"), lit(0L)).as("hits_post"))
      .withColumn("recall_pre",
        col("hits_pre").cast("double") / col("n_exact"))
      .withColumn("recall_post",
        col("hits_post").cast("double") / col("n_exact"))
      .orderBy("query_id")
  }

  /** Prefix lengths evaluated by [[matryoshkaRecall]]. */
  val MatryoshkaDims: Seq[Int] = Seq(16, 32)

  /** Dimension-truncation recall eval — the storage-saving question
    * every matryoshka-style deployment asks BEFORE truncating stored
    * vectors (Kusupati et al., NeurIPS'22: nested prefixes of a
    * well-trained embedding carry most of the signal; a 4× dim cut is
    * a 4× index-size cut): per query, how many of the full-dimension
    * exact cosine top-k the PREFIX-truncated exact search recovers at
    * each [[MatryoshkaDims]] width. Random fixture vectors have no
    * matryoshka structure, so the fixture recalls are the honest
    * pessimistic baseline (structure raises them) — the row's job is
    * the measurement machinery, pinned end to end.
    *
    * Shape: ONE corpus scan explodes each vector into its evaluated
    * prefixes (integer dot/norm per width — cosine over a prefix is
    * exact in the same quantized algebra), the bounded query block
    * broadcasts, ranking reuses the [[cosineTopK]] window, and the
    * truncated top-k left-joins the full-width top-k — counts + one
    * IEEE division. Same block-nested cost envelope as the exact
    * baseline it generalizes, ×(1 + |widths|). */
  def matryoshkaRecall(emb: DataFrame, k: Int = TopK): DataFrame = {
    val widths = MatryoshkaDims :+ 64
    val tr = quantized(emb).select(col("vec_id"),
        explode(array(widths.map(d =>
          struct(lit(d.toLong).as("dims"),
            slice(col("q"), 1, d).as("qd"))): _*)).as("t"))
      .select(col("vec_id"), col("t.dims").as("dims"),
        col("t.qd").as("qd"))
      .withColumn("nd", dotQ(col("qd"), col("qd")))
    val qs = tr.filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id").as("query_id"), col("dims"),
        col("qd").as("qv"), col("nd").as("qn"))
    val scored = tr.join(broadcast(qs), Seq("dims"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("dims"),
        col("vec_id").as("neighbor_id"),
        pairCos(col("qv"), col("qd"), col("qn"), col("nd")).as("cos"))
    val w = Window.partitionBy("query_id", "dims")
      .orderBy(col("cos").desc, col("neighbor_id"))
    val top = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "dims", "neighbor_id")
    val full = top.filter(col("dims") === 64)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    top.filter(col("dims") =!= 64)
      .join(full, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id", "dims")
      .agg(count(col("hit")).as("n_hits"))
      .withColumn("recall", col("n_hits").cast("double") / lit(k))
      .orderBy("query_id", "dims")
  }

  /** Per-dimension embedding drift report — the population monitor an
    * embedding pipeline runs BETWEEN corpus snapshots (a silent encoder
    * upgrade, a preprocessing slip, or a domain-mix change shifts
    * component distributions long before ANN recall visibly degrades;
    * the fix-forward is re-encoding, so you want the tripwire EARLY).
    * Eras here are the vec_id parity split (the two-snapshot proxy on
    * one fixture table); per dimension the row reports both eras'
    * counts, the mean shift, and Welch's z² — all from exact integer
    * moments (sums and squared sums of the quantized components in
    * decimal(38,0) — the [[normOutliers]] doctrine): per era,
    * mean = s/n and n³·var = n·qq − s², combined into Welch's
    * z² = (mean_a − mean_b)² / (Aa/na³ + Ab/nb³) by a FIXED sequence
    * of IEEE steps both engines mirror operation for operation. Every
    * integer cast to double stays below 2⁶³ by construction (A ≤
    * n·qq), where BOTH engines' casts are single-rounded — the
    * fully-cross-multiplied form pushes the denominator past int128's
    * exact-cast range and DuckDB's wide-value cast double-rounds
    * (measured: 1 ulp on one fixture dim). The single-rounding
    * guarantee needs n·qq < 2⁶³ — with Q-scale 2²⁰ components that is
    * ~10⁶ rows per era worst-case (~10⁸ for unit-ish vectors); beyond
    * that the moments themselves move to doubles (the bm25 disclosure
    * pattern). Flag at z² > 4 (2σ),
    * the norm-outlier envelope, compared in double on bit-identical
    * values.
    *
    * Scale: ONE corpus scan — the positional explode feeds a map-side
    * combined aggregate over exactly 64 groups; the report is 64 rows
    * of model-sized state. No join, no second pass. */
  def embedDrift(emb: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val el = emb.select(col("vec_id"),
        posexplode(quantize(col("embedding"))))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("i"),
        col("col").as("q"))
    val era0 = col("vec_id") % 2 === 0
    el.groupBy("i")
      .agg(
        count(when(era0, lit(1))).as("n_a"),
        count(when(!era0, lit(1))).as("n_b"),
        sum(when(era0, col("q")).otherwise(lit(0L))).as("s_a"),
        sum(when(!era0, col("q")).otherwise(lit(0L))).as("s_b"),
        sum(when(era0, col("q").cast(dec) * col("q"))
          .otherwise(lit(0L).cast(dec))).as("qq_a"),
        sum(when(!era0, col("q").cast(dec) * col("q"))
          .otherwise(lit(0L).cast(dec))).as("qq_b"))
      .select(col("i"), col("n_a"), col("n_b"),
        (col("s_a").cast("double") / col("n_a").cast("double") -
          col("s_b").cast("double") / col("n_b").cast("double"))
          .as("ms"),
        (col("n_a").cast(dec) * col("qq_a") -
          col("s_a").cast(dec) * col("s_a")).cast("double").as("va"),
        (col("n_b").cast(dec) * col("qq_b") -
          col("s_b").cast(dec) * col("s_b")).cast("double").as("vb"),
        col("n_a").cast("double").as("nad"),
        col("n_b").cast("double").as("nbd"))
      .select(col("i"), col("n_a"), col("n_b"), col("ms"),
        (col("va") / (col("nad") * col("nad") * col("nad")) +
          col("vb") / (col("nbd") * col("nbd") * col("nbd"))).as("se2"))
      .select(col("i"), col("n_a"), col("n_b"),
        col("ms").as("mean_shift"),
        when(col("se2") > 0, col("ms") * col("ms") / col("se2"))
          .otherwise(lit(0.0)).as("zsq"),
        when(col("se2") > 0,
          (col("ms") * col("ms") / col("se2") > 4.0).cast("int"))
          // se2 = 0 with differing means is the infinite-z degenerate —
          // a dead dim whose VALUE changed between snapshots (the
          // encoder-swap signature); zsq stays a finite sentinel 0.0
          // but the drift verdict must still fire
          .otherwise((col("ms") =!= 0.0).cast("int")).as("drift"))
      .orderBy("i")
  }

  /** Chunks per pooled document in [[docPool]]: vec_id div 4 is the
    * synthetic chunk→doc linkage (the fixture has no doc_id column on
    * embeddings; a production table carries one). */
  val PoolChunks = 4L

  /** Chunk→document embedding pooling — the aggregation every
    * long-document retrieval stack runs after chunk-level embedding
    * (a doc's vector = the element-wise mean of its chunks' vectors;
    * mean and sum rank identically under cosine, so the exact integer
    * SUM is the stored form and no float division ever happens).
    * Chunks link to docs by `vec_id div` [[PoolChunks]]. Emits per doc: chunk
    * count, the pooled vector's component sum and exact norm², and an
    * md5 over the comma-joined components (the array-free fingerprint
    * form — result columns avoid arrays by repo convention).
    *
    * Scale: ONE keyed exchange of the original quantized rows (~512 B
    * each — never the 64× positional explosion of [[centroids]],
    * which pays that amplification only because its groups are
    * unbounded cells); groups here are ≤ [[PoolChunks]] rows, folded
    * with an order-free integer `zip_with` sum, so the `collect_list`
    * is bounded by construction. Component sums ≤ 4·2^20, norm² ≤
    * 2^50 — Long-safe with headroom. */
  def docPool(emb: DataFrame): DataFrame = {
    val zero = array_repeat(lit(0L), 64)
    quantized(emb)
      .select(expr(s"vec_id div $PoolChunks").as("doc_id"), col("q"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        aggregate(collect_list(col("q")), zero,
          (acc, x) => zip_with(acc, x, _ + _)).as("pool"))
      .select(col("doc_id"), col("n_chunks"),
        aggregate(col("pool"), lit(0L), _ + _).as("pool_sum"),
        aggregate(col("pool"), lit(0L),
          (acc, v) => acc + v * v).as("pool_norm2"),
        md5(concat_ws(",",
          transform(col("pool"), _.cast("string")))).as("pool_md5"))
      .orderBy("doc_id")
  }
}
