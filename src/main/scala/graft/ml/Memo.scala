package graft.ml

import org.apache.spark.sql.DataFrame

/** The per-session memo: what one session's declared rows share is
  * built once and reused, e.g. the LSH signature and pair frames behind
  * the dedup family, the trained ANN models, and the maintained
  * indexes' stream-and-maintain artifacts. The bench resets it by tag
  * ([[SharedPass]]) so each family's shared work is timed once.
  *
  * An entry lives under a `tag` and a `key`. Callers put the session
  * reference itself in the key (reference equality), so two sessions
  * over the same fixture never share a value bound to the other's plan.
  *
  * - A cold key builds once: racing callers wait on the first caller's
  *   build instead of building again. Several builds write fixed
  *   fixture paths, so a second concurrent build would interleave
  *   overwrites of one artifact.
  * - No build runs under the map lock, so a build may itself call
  *   [[get]] (the pair frame reads the signature frame).
  * - A build that throws memoizes nothing; the next caller builds again
  *   (a caller already waiting on it retries the same build).
  * - Each tag keeps at most [[MaxEntries]] keys, least recently used
  *   out first. Eviction only forgets: a caller may still hold the
  *   value, and a checkpointed frame whose blocks were released could
  *   not be recomputed. The ContextCleaner reaps the blocks once the
  *   value is unreachable.
  * - [[clear]] also forgets, and releases the checkpointed blocks of
  *   `DataFrame` values; its contract is that no reader is outstanding.
  */
object Memo {
  /** Keys kept per tag: one corpus uses one key per tag, so 8 covers a
    * few corpora scanned side by side. */
  val MaxEntries = 8

  /** One build cell. Holding the cell's monitor while building makes a
    * racing caller wait; a build that throws leaves `v` unset. */
  private final class Cell(build: () => AnyRef) {
    @volatile private var v: AnyRef = null
    def value: AnyRef = {
      if (v == null) synchronized {
        if (v == null)
          v = build().ensuring(_ != null, "a memo build returned null")
      }
      v
    }
    def built: Option[AnyRef] = Option(v)
  }

  private def lru() =
    new java.util.LinkedHashMap[AnyRef, Cell](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[AnyRef, Cell]): Boolean =
        size > MaxEntries
    }
  // guarded by its own monitor
  private val tags =
    scala.collection.mutable.HashMap.empty[String, java.util.LinkedHashMap[AnyRef, Cell]]

  /** The value under (`tag`, `key`), built by `build` if absent. */
  def get[V <: AnyRef](tag: String, key: AnyRef)(build: => V): V = {
    val cell = tags.synchronized {
      val m = tags.getOrElseUpdate(tag, lru())
      Option(m.get(key)).getOrElse {
        val fresh = new Cell(() => build)
        m.put(key, fresh)
        fresh
      }
    }
    try cell.value.asInstanceOf[V]
    catch { case e: Throwable =>
      // the next caller installs its own build
      tags.synchronized(tags.get(tag).foreach(_.remove(key, cell)))
      throw e
    }
  }

  /** Forget the entries of `clearTags`, releasing the blocks of the
    * `DataFrame` values among them. */
  def clear(clearTags: String*): Unit = {
    val dropped = tags.synchronized {
      clearTags.flatMap(t => tags.remove(t).toSeq)
        .flatMap(m => m.values().toArray(Array.empty[Cell]).toSeq)
    }
    graft.streaming.StreamHygiene.releaseBlocks(
      dropped.flatMap(_.built).collect { case df: DataFrame => df }: _*)
  }

  /** The number of keys held under `tag`. */
  def size(tag: String): Int =
    tags.synchronized(tags.get(tag).map(_.size()).getOrElse(0))

  private val exitDirs = scala.collection.mutable.ArrayBuffer.empty[String]
  private lazy val hookOnce: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      exitDirs.synchronized(exitDirs.toList)
        .foreach(graft.streaming.StreamHygiene.deleteRec)))
    ()
  }

  /** Register an artifact dir for removal at JVM exit and return it. A
    * memoized artifact must outlive the call that built it, and a
    * forgotten one stays on disk until exit: a rebuild writes fresh
    * dirs, never in place. */
  def keepUntilExit(dir: String): String = {
    hookOnce
    exitDirs.synchronized { exitDirs += dir }
    dir
  }
}
