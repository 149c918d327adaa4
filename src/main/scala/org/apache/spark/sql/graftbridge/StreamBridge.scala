package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime

/** In-memory streaming source for harness feeders (the deterministic
  * wave-by-wave change generators behind the `_stream` declared rows).
  * `MemoryStream` lives in a `private[sql]`-adjacent package that has
  * already MOVED once (`execution.streaming` → `….runtime` in Spark 4),
  * so the version-brittle import is confined to this one audited shim
  * — a future relocation is a one-file fix. Same pattern as
  * [[ColumnBridge]]. */
object StreamBridge {
  type MemStream[A] = runtime.MemoryStream[A]

  def memoryStream[A: Encoder](spark: SparkSession): MemStream[A] =
    runtime.MemoryStream[A](spark)

  /** Unload every cached state-store provider (same `private[sql]`
    * confinement rationale as above — see
    * [[graft.streaming.StreamHygiene]] for when and why the harness
    * rows call this). */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()
}
