package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sql.{Relational, SqlQueries}

object SparkTestSession {
  private def poolFile: String = {
    val f = java.nio.file.Files.createTempFile("graft-test-pools", ".xml")
    f.toFile.deleteOnExit()
    val in = getClass.getResourceAsStream("/graft-test-pools.xml")
    try java.nio.file.Files.copy(in, f,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    f.toUri.toString
  }

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // FAIR so named scheduler pools exist (ConcurrentPipelinesSpec, the
    // async CDC fold); the allocation file declares them with Spark's
    // undeclared-pool defaults — for the suites that never set a pool
    // this behaves like FIFO in one pool. The resource is copied to a
    // file: under `Test/runMain` it sits in a jar, and Spark cannot open
    // a `jar:` URI as the allocation file
    .config("spark.scheduler.mode", "FAIR")
    .config("spark.scheduler.allocation.file", poolFile)
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
}

class RelationalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("every declared query runs and is non-empty at sf0.001") {
    val empties = Relational.all.filter(_.run(spark, sf).isEmpty).map(_.name)
    assert(empties.isEmpty, s"empty results: $empties")
  }

  test("query names are unique and oracle aliases align") {
    val names = Relational.all.map(_.name)
    assert(names.distinct.size === names.size)
    // every oracle-gated query's output columns appear verbatim in its SQL
    Relational.all.foreach { q =>
      q.oracle.foreach { sql =>
        val cols = q.run(spark, sf).columns
        cols.foreach(c => assert(sql.contains(c), s"${q.name}: '$c' not in oracle SQL"))
      }
    }
  }

  test("a1_count matches fixture row count") {
    val n = Relational.all.find(_.name == "a1_count").get
      .run(spark, sf).collect()(0).getLong(0)
    assert(n === 6000L)
  }

  test("a6 last-writer-wins: window and max_by agree") {
    val w = Relational.all.find(_.name == "a6_lww_window").get.run(spark, sf)
      .select("user_id", "last_event_id", "last_event_type")
    val m = Relational.all.find(_.name == "a6_lww_maxby").get.run(spark, sf)
      .select("user_id", "last_event_id", "last_event_type")
    assert(w.exceptAll(m).isEmpty && m.exceptAll(w).isEmpty)
  }

  test("set algebra invariant: |A∪B| = |A∩B| + |A\\B| + |B\\A| over nation keys") {
    def q(n: String) = Relational.all.find(_.name == n).get.run(spark, sf).count()
    // union/intersect are over customer-vs-supplier nations
    val union = q("set_union"); val inter = q("set_intersect")
    assert(union >= inter)
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("approx_count_distinct envelope verdict: exact cols match, flags set") {
    def one(name: String) =
      Relational.all.find(_.name == name).get.run(spark, sf).collect()(0)
    val exact = one("agg_distinct")
    val approx = one("agg_approx_distinct")
    // cols 0/1 are the exact counts (hash-matched against the oracle)
    Seq(0, 1).foreach { i =>
      assert(approx.getLong(i) === exact.getLong(i), s"exact col $i")
    }
    // cols 2/3 are the 3·rsd envelope verdicts the oracle expects as 1
    Seq(2, 3).foreach { i =>
      assert(approx.getInt(i) === 1, s"envelope flag col $i")
    }
  }

  test("approx_percentile envelope verdict holds and matches the sort") {
    val rows = Relational.all.find(_.name == "agg_approx_quantiles").get
      .run(spark, sf).collect()
    assert(rows.nonEmpty)
    // every per-group flag must be 1 — the literal the oracle expects
    rows.foreach { r =>
      Seq(1, 2, 3).foreach(i => assert(r.getInt(i) === 1,
        s"${r.getString(0)} flag col $i"))
    }
    // independent rank-error check of the raw sketch against the sort
    import org.apache.spark.sql.functions.expr
    val raw = graft.core.Tables(spark, sf, "orders")
      .groupBy("o_orderpriority")
      .agg(
        expr("approx_percentile(o_totalprice, 0.25, 10000)").as("p25"),
        expr("approx_percentile(o_totalprice, 0.5, 10000)").as("p50"),
        expr("approx_percentile(o_totalprice, 0.75, 10000)").as("p75"))
      .collect()
    val orders = graft.core.Tables(spark, sf, "orders")
      .select("o_orderpriority", "o_totalprice").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).sorted }
    raw.foreach { r =>
      val sortedVals = orders(r.getString(0))
      val n = sortedVals.length
      Seq(0.25 -> 1, 0.5 -> 2, 0.75 -> 3).foreach { case (p, i) =>
        val got = r.getDouble(i)
        val rank = sortedVals.count(_ <= got).toDouble / n
        // accuracy 10000 ⇒ eps 1e-4; fixture groups are ~1000 rows so
        // one element is 1e-3 of rank — allow a few elements of slack
        assert(math.abs(rank - p) < 0.01,
          s"${r.getString(0)} p$p: value $got at rank $rank")
      }
    }
  }

  test("catalog projection lists the CTAS table after sql_catalog_ctas runs") {
    SparkEntry.queries("sql_catalog_ctas")(spark, sf).collect()
    val names = graft.cdc.Monitor.catalogTables(spark)
      .select("name").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().toSet
    assert(names.contains("lineitem_stats_cat"),
      s"CTAS table missing from catalog projection: $names")
  }

  test("SQL-text twins return exactly their DataFrame query's rows") {
    Seq("sql_q1_pricing" -> "q1_agg_pricing",
      "sql_q3_shipping" -> "j_q3_shipping",
      "sql_exists_semi" -> "j2_semi_exists",
      "sql_topk" -> "o2_topk").foreach { case (sqlName, dfName) =>
      val viaSql = SqlQueries.all.find(_.name == sqlName).get.run(spark, sf)
      val viaDf = Relational.all.find(_.name == dfName).get.run(spark, sf)
      assert(viaSql.exceptAll(viaDf).isEmpty && viaDf.exceptAll(viaSql).isEmpty,
        s"$sqlName != $dfName")
    }
  }

  test("sql_recursive_chain: materialized-nxt execution == verbatim CTE text") {
    // The engine pre-materializes the successor-edge CTE (Catalyst
    // inlines non-recursive CTEs into every UnionLoop step — the window
    // over orders would recompute per level); this pins that the
    // execution strategy is pure optimization: running the ORACLE's
    // verbatim single-statement text through Spark itself yields the
    // exact same rows.
    val decl = SqlQueries.all.find(_.name == "sql_recursive_chain").get
    val viaMat = decl.run(spark, sf)
    SqlQueries.registerViews(spark, sf)
    val viaText = spark.sql(decl.oracle.get)
    assert(viaMat.exceptAll(viaText).isEmpty && viaText.exceptAll(viaMat).isEmpty,
      "materialized recursive chain diverges from the verbatim CTE text")
  }

  test("CMS merge: batch-wise sketches fold to the whole-stream sketch, estimate for estimate") {
    // the streaming heavy-hitters row rests on this: count-min counter
    // grids ADD, so per-batch sketches merged in arrival order are
    // bit-equivalent to one sketch over the whole stream (same seed =>
    // same hash functions). Probe EVERY distinct key, not just the hot
    // ten.
    import graft.core.Tables
    val keys = Tables(spark, sf, "lineitem").select("l_partkey")
    val whole = keys.stat.countMinSketch("l_partkey", 1e-4, 0.99, 42)
    val parts = (0 until 4).map(i =>
      keys.filter(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("l_partkey"),
        org.apache.spark.sql.functions.lit(4)) === i)
        .stat.countMinSketch("l_partkey", 1e-4, 0.99, 42))
    val merged = parts.reduce { (a, b) => a.mergeInPlace(b); a }
    assert(merged.totalCount() === whole.totalCount())
    val distinct = keys.distinct().collect().map(_.getLong(0))
    distinct.foreach { k =>
      assert(merged.estimateCount(Long.box(k)) ===
        whole.estimateCount(Long.box(k)), s"estimate diverges at $k")
    }
  }

  test("j_q2_mincost: every row achieves the region-wide min for its part") {
    val rows = SqlQueries.all.find(_.name == "j_q2_mincost").get
      .run(spark, sf).collect()
    assert(rows.nonEmpty)
    val perPart = rows.groupBy(_.getLong(0))
    perPart.values.foreach { rs =>
      assert(rs.map(_.getDouble(4)).distinct.length === 1,
        "tied suppliers must share the min cost")
    }
  }
}
