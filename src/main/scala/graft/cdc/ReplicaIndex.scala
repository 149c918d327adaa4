package graft.cdc

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualNullSafe,
  EqualTo, Expression, In, InSet, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation,
  PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

import Replicate.Shape

/** A replica's committed parquet dirs as one Spark [[FileIndex]] — the
  * scan under both commit protocols' merge-on-read reads.
  *
  * The base index maps each bucket id to its committed generation dir
  * and keeps only the buckets a scan's pushed key filter can hit: the
  * optimizer pushes `key = k` through the live-row projection, the
  * per-key fold's aggregate and window (both keyed on the key) and the
  * base ∪ deltas union down to this scan, so a point lookup opens one
  * bucket, not all of them. A literal's bucket comes from the [[Shape]]'s
  * own `bucketOf` (resolved once, evaluated on the literal), so pruning
  * can never disagree with the layout the writers used. Only
  * `key = lit`, `key <=> lit` and `key IN (lits)` prune, and only with
  * non-null literals of the key's exact type; anything else (a cast key,
  * a range, a non-key column) keeps every bucket, as does a replica
  * whose modulus is unknown.
  *
  * A dir is listed when a scan first selects it, and that listing is
  * then fixed for the index (as Spark's own file index fixes its file
  * list). A generation dir reclaimed before that listing fails the scan
  * with `FileNotFoundException` — a missing dir never reads as an empty
  * bucket. The pending deltas scan through the same index, unpruned. */
private[graft] object ReplicaIndex {

  /** The base buckets (bucket id → generation dir) of a replica laid
    * out with `mod` buckets; no `mod` = never prune. */
  def base(spark: SparkSession, s: Shape, dirs: Map[Int, Path],
      mod: Option[Int]): DataFrame =
    scan(spark, new ReplicaIndex(spark, dirs,
      mod.fold(noPruning)(keyBuckets(spark, s, _))), s.baseSchema)

  /** The pending delta dirs, every one read. */
  def deltas(spark: SparkSession, s: Shape, dirs: Seq[Path]): DataFrame =
    scan(spark, new ReplicaIndex(spark, dirs.indices.zip(dirs).toMap,
      noPruning), s.deltaSchema)

  private val noPruning: Expression => Option[Set[Int]] = _ => None

  private def scan(spark: SparkSession, index: ReplicaIndex,
      schema: StructType): DataFrame =
    // the running session is always the classic implementation; the
    // bridge method lives there
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(HadoopFsRelation(index, StructType(Nil),
        schema, None, new ParquetFileFormat, Map.empty)(spark))

  /** `s.bucketOf(n)` resolved against the base schema, once per layout. */
  private val resolved =
    new java.util.concurrent.ConcurrentHashMap[(Shape, Int), Expression]()

  private def bucketExpr(spark: SparkSession, s: Shape, n: Int): Expression =
    resolved.computeIfAbsent((s, n), _ =>
      spark.createDataFrame(java.util.List.of[Row](), s.baseSchema)
        .select(s.bucketOf(n)).queryExecution.analyzed.expressions.head)

  /** The buckets one pushed conjunct confines the key to, if it does. */
  private[graft] def keyBuckets(spark: SparkSession, s: Shape, n: Int)
      : Expression => Option[Set[Int]] = {
    val bucket = bucketExpr(spark, s, n)
    val keyType = s.baseSchema(s.key).dataType
    def isKey(a: Attribute) = a.name == s.key && a.dataType == keyType
    def of(v: Any): Int = bucket.transform {
      case a: Attribute if isKey(a) => Literal(v, keyType)
    }.eval().asInstanceOf[Int]
    def lits(es: Seq[Expression]): Option[Set[Int]] = {
      val typed = es.forall {
        case Literal(v, t) => v != null && t == keyType
        case _ => false
      }
      if (typed) Some(es.collect { case Literal(v, _) => of(v) }.toSet)
      else None
    }
    {
      case EqualTo(a: Attribute, l: Literal) if isKey(a) => lits(Seq(l))
      case EqualTo(l: Literal, a: Attribute) if isKey(a) => lits(Seq(l))
      case EqualNullSafe(a: Attribute, l: Literal) if isKey(a) => lits(Seq(l))
      case EqualNullSafe(l: Literal, a: Attribute) if isKey(a) => lits(Seq(l))
      case In(a: Attribute, list) if isKey(a) => lits(list)
      case InSet(a: Attribute, set) if isKey(a) && !set.contains(null) =>
        Some(set.map(of))
      case _ => None
    }
  }
}

private[cdc] final class ReplicaIndex(spark: SparkSession,
    dirs: Map[Int, Path], bucketsOf: Expression => Option[Set[Int]])
    extends FileIndex {
  private val conf = spark.sparkContext.hadoopConfiguration
  private val listed =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[FileStatus]]()

  /** The data files of dir `b`, listed on first use. */
  private def files(b: Int): Array[FileStatus] =
    listed.computeIfAbsent(b, _ => {
      val p = dirs(b)
      p.getFileSystem(conf).listStatus(p).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    })

  private def all: Seq[FileStatus] = dirs.keys.toSeq.sorted.flatMap(files)

  override def rootPaths: Seq[Path] = dirs.values.toSeq.sortBy(_.toString)
  override def partitionSchema: StructType = StructType(Nil)
  override def sizeInBytes: Long = all.map(_.getLen).sum
  override def inputFiles: Array[String] =
    all.map(_.getPath.toString).toArray
  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep = dataFilters.flatMap(bucketsOf).foldLeft(dirs.keySet)(_ & _)
    Seq(PartitionDirectory(InternalRow.empty,
      keep.toSeq.sorted.flatMap(files).toArray))
  }
}
