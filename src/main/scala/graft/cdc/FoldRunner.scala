package graft.cdc

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession

/** The background fold of both commit protocols ([[Replicate]] and
  * [[ManifestReplica]]), the Hudi pattern: the trigger path stays
  * O(batch) — readers merge the pending deltas anyway, so visibility
  * gains nothing from an inline fold, and the fold's lumpy cost leaves
  * the trigger's latency envelope.
  *
  * It holds, per replica dir, the one in-flight fold and the lifecycle
  * flag of a bulk op (snapshot, vacuum, truncate). Each protocol keeps
  * its own locks; this only decides when a fold may start and joins it. */
private[graft] object FoldRunner {
  /** In-flight background folds, one slot per replica dir. */
  private val running = new ConcurrentHashMap[String, Thread]()

  /** Replica dirs with a bulk lifecycle op in flight. Concurrent bulk
    * ops fail fast on it, and no trigger starts a fold while it is set:
    * a fold beside the op would fold a base the op is rewriting (or
    * starve its write lock). Delta writes stay allowed; the next fold
    * consumes them against the post-op base. */
  private val lifecycleOps = ConcurrentHashMap.newKeySet[String]()

  def busy(dir: String): Boolean = lifecycleOps.contains(dir)

  /** Run a bulk lifecycle op on `dir`: fail fast if another holds it,
    * else set the flag, join the dir's in-flight fold, and run `body`. */
  def withLifecycle[A](dir: String)(body: => A): A = {
    Replicate.check(lifecycleOps.add(dir),
      s"lifecycle op already in flight at $dir")
    try { await(dir); body } finally lifecycleOps.remove(dir)
  }

  /** Concurrent-task cap for background folds: FAIR pool weights share
    * slots only as tasks FINISH — a 256-task merge launched into a
    * trigger gap grabs every free slot and the next trigger's delta
    * write convoys behind whole fold-task durations. Capping the fold's
    * merge/write stage to this many partitions bounds its footprint
    * STRUCTURALLY: the trigger pool's minShare is then free at every
    * instant, not just at task boundaries. Foreground folds (compact,
    * vacuum, bench final folds) stay full-width. */
  val MaxTasks = 8

  /** Start `fold` on a daemon thread unless `dir` already has one in
    * flight or a lifecycle op holds it. The fold's jobs run in the
    * `graft-compact` scheduler pool: under a FAIR session the pool
    * time-slices task slots with the trigger's `default` pool, so a
    * fold's jobs never queue ahead of the next trigger's (inert under
    * FIFO). A failed fold leaves its deltas pending; the next due
    * trigger retries it. */
  def start(spark: SparkSession, dir: String)(fold: => Unit): Unit =
    if (!busy(dir) && !running.containsKey(dir)) {
      val t = new Thread(() => {
        spark.sparkContext.setLocalProperty(
          "spark.scheduler.pool", "graft-compact")
        try fold
        catch { case e: Throwable =>
          System.err.println(s"[cdc] async compaction of $dir failed (deltas stay live, next trigger retries): $e")
        } finally running.remove(dir)
      }, s"graft-compact $dir")
      t.setDaemon(true)
      if (running.putIfAbsent(dir, t) == null) t.start()
    }

  /** Join every in-flight background fold, of either protocol. */
  def awaitAll(): Unit =
    running.values().toArray(Array.empty[Thread]).foreach(_.join())

  /** Join only `dir`'s in-flight fold (the global join would stall one
    * table's lifecycle op on every other table's fold). */
  def await(dir: String): Unit = Option(running.get(dir)).foreach(_.join())
}
