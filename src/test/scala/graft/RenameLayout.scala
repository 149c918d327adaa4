package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Test-side view of the rename-path replica layout ([[graft.cdc.Replicate]]):
  * bucket generations `id_bucket=<b>.g<gen>` (a parquet dir, or the empty
  * marker file of a bucket whose keys were all vacuumed), the hidden
  * `.__stage-g<gen>` dir a fold commits from, and the `.__delta` log with
  * its `_watermark`. */
object RenameLayout {
  final case class Gen(bucket: Int, gen: Long, path: Path) {
    def isDir: Boolean = Files.isDirectory(path)
  }

  private def list(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq finally s.close()
    }

  def gens(dir: String): Seq[Gen] = list(Paths.get(dir)).flatMap { p =>
    val n = p.getFileName.toString
    if (!n.startsWith("id_bucket=")) None
    else {
      val Array(b, g) = n.stripPrefix("id_bucket=").split("\\.g")
      Some(Gen(b.toInt, g.toLong, p))
    }
  }

  def newest(dir: String): Map[Int, Gen] =
    gens(dir).groupBy(_.bucket).map { case (b, gs) => b -> gs.maxBy(_.gen) }

  def stageDirs(dir: String): Seq[Path] = list(Paths.get(dir))
    .filter(_.getFileName.toString.startsWith(".__stage-"))

  /** Delta batch ids on disk, pending or kept for the reclamation grace. */
  def deltaIds(dir: String): Seq[Long] = list(Paths.get(dir, ".__delta"))
    .map(_.getFileName.toString).filter(_.startsWith("batch="))
    .map(_.stripPrefix("batch=").toLong)

  def watermark(dir: String): Long = {
    val p = Paths.get(dir, ".__delta", "_watermark")
    if (!Files.exists(p)) Long.MinValue
    else new String(Files.readAllBytes(p), "UTF-8").trim.toLong
  }

  def pendingDeltas(dir: String): Seq[Long] = {
    val wm = watermark(dir)
    deltaIds(dir).filter(_ > wm)
  }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    } finally s.close()
  }

  /** Plant in `live` the on-disk state of a fold killed after it
    * committed the buckets `committed` selects and before its
    * watermark. `done` is a copy of `live` on which that same fold ran
    * to completion: its newest generation is copied in, as committed
    * bucket dirs or as leftovers in the fold's stage dir. */
  def plantKilledFold(live: String, done: String,
      committed: Int => Boolean): Unit = {
    val g = gens(done).map(_.gen).max
    gens(done).filter(_.gen == g).foreach { x =>
      val dst =
        if (committed(x.bucket)) Paths.get(live, x.path.getFileName.toString)
        else Paths.get(live, s".__stage-g$g", s"id_bucket=${x.bucket}")
      copyTree(x.path, dst)
    }
  }
}
