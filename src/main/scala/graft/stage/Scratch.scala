package graft.stage

import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.storage.StorageLevel

/** The one owner of local-checkpoint blocks: every table the engine pins is
  * taken with `checkpoint` and freed with `free` or `release`. Without a
  * release, each `localCheckpoint` pins its blocks for the life of the
  * session: noise at bench scale, but the shuffle-regime scratch (`withN`,
  * `containers`) is corpus x key-sized at 10^12 rows — real executor
  * memory.
  *
  * Stage functions checkpoint INTERMEDIATE tables (bucket directories,
  * gated pairs, CC label generations) into the scratch their caller
  * passes; the caller `release`s once the stage results are block- or
  * parquet-materialized, and on failure. A loop that supersedes its own
  * tables `free`s each one early. Thread-safe: the edge branches
  * checkpoint from concurrent threads.
  *
  * Releasing scratch whose consumer has NOT materialized yet loses data —
  * a locally checkpointed RDD's lineage is truncated and cannot recompute —
  * so `release()` belongs strictly after the forcing call, and callers
  * outside a managed pipeline get [[Scratch.noop]] (nothing is tracked,
  * only an explicit `free` unpersists) by default.
  */
final class Scratch private (recording: Boolean) {
  def this() = this(true)

  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private val releasedN = new java.util.concurrent.atomic.AtomicLong(0L)

  private def track(df: DataFrame): DataFrame = {
    if (recording) tracked.add(df)
    df
  }

  /** `df.localCheckpoint(eager)` (the session's default block level), tracked. */
  def checkpoint(df: DataFrame, eager: Boolean): DataFrame =
    track(df.localCheckpoint(eager))

  def checkpoint(df: DataFrame, eager: Boolean, level: StorageLevel): DataFrame =
    track(df.localCheckpoint(eager, level))

  /** Frees one superseded table now and stops tracking it. */
  def free(df: DataFrame): Unit = {
    tracked.removeIf(_ eq df)
    unpersist(df)
  }

  def release(): Unit = {
    var df = tracked.poll()
    while (df != null) {
      unpersist(df)
      df = tracked.poll()
    }
  }

  private def unpersist(df: DataFrame): Unit = {
    GraftColumnBridge.checkpointedRdd(df).foreach(_.unpersist(blocking = false))
    releasedN.incrementAndGet()
  }

  /** Tables tracked but not yet released (test seam). */
  def pending: Int = tracked.size()

  /** Total tables freed or released so far (test seam: proves scratch
    * flowed end-to-end rather than release() running over an empty queue).
    */
  def releasedCount: Long = releasedN.get()
}

object Scratch {
  /** Tracks nothing and `release()` frees nothing — the default for direct
    * stage-function callers (tests, ad-hoc queries), whose checkpoints live
    * until session end.
    */
  val noop = new Scratch(false)
}
