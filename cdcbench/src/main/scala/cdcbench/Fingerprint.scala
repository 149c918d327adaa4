package cdcbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-independent content hash of a result. */
final case class Fp(rows: Long, hash: String) {
  override def toString: String = s"$rows:$hash"
}

object Fp {
  def parse(s: String): Fp = {
    val i = s.indexOf(':')
    Fp(s.take(i).toLong, s.drop(i + 1))
  }
}

object Fingerprint {
  /** Floating values are compared to 10 significant digits: aggregation
    * order (task scheduling, AQE coalescing) moves the last bits of a
    * double sum between runs. */
  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      format_string("%.9e", when(d === 0.0, lit(0.0)).otherwise(d))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case st: StructType =>
      when(c.isNull, lit(null)).otherwise(struct(st.fields.toSeq.map(f =>
        norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        norm(e.getField("key"), kt).as("k"),
        norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  /** `df` with positional column names, and the two aggregates of its
    * fingerprint: row count and the sum of per-row hashes. */
  private def aggregates(df: DataFrame): (DataFrame, Column, Column) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val h = xxhash64((lit(0) +: cols): _*).cast(DecimalType(38, 0))
    (named, count(lit(1)).as("rows"),
      coalesce(sum(h), lit(BigDecimal(0))).as("hash"))
  }

  private def fp(r: org.apache.spark.sql.Row): Fp =
    Fp(r.getAs[Number]("rows").longValue,
      r.getAs[java.math.BigDecimal]("hash").toPlainString)

  /** Fingerprint of `df`, computed in one Spark job. Columns are taken by
    * position, so duplicate output names are fine. */
  def of(df: DataFrame): Fp = {
    val (named, rows, hash) = aggregates(df)
    fp(named.agg(rows, hash).head())
  }

  /** `df` instrumented to fingerprint its own result while an action
    * runs, with no second execution; `result` blocks until it ends. */
  final class Observed(val df: DataFrame, obs: Observation) {
    def result: Fp = {
      val m = obs.get
      Fp(m("rows").asInstanceOf[Number].longValue,
        m("hash").asInstanceOf[java.math.BigDecimal].toPlainString)
    }
  }

  def observed(df: DataFrame): Observed = {
    val (named, rows, hash) = aggregates(df)
    val obs = Observation()
    new Observed(named.observe(obs, rows, hash), obs)
  }
}
