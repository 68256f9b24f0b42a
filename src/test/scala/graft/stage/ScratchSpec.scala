package graft.stage

import graft.SparkTestSession
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The scratch-checkpoint lifecycle: intermediate localCheckpoint tables
  * (bucket directories, exploded window hashes, gated pairs) are dead
  * weight once their consuming stage materializes — at 10^12 scale the
  * shuffle-regime scratch is corpus x key-sized, so leaving it pinned for
  * the session is real executor memory.
  */
class ScratchSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("release unpersists tracked checkpoint blocks exactly once") {
    val s = new Scratch
    val df = s.checkpoint((1 to 100).toDF("n"), eager = false, StorageLevel.MEMORY_AND_DISK_SER)
    df.count() shouldBe 100L // first consuming job persists the lazy checkpoint
    val rdd = GraftColumnBridge.checkpointedRdd(df).get
    rdd.getStorageLevel should not be StorageLevel.NONE
    // an eager default-level checkpoint that is superseded and freed early
    val early = s.checkpoint((1 to 10).toDF("n"), eager = true)
    val earlyRdd = GraftColumnBridge.checkpointedRdd(early).get
    earlyRdd.getStorageLevel should not be StorageLevel.NONE
    s.pending shouldBe 2

    s.free(early)
    earlyRdd.getStorageLevel shouldBe StorageLevel.NONE
    rdd.getStorageLevel should not be StorageLevel.NONE // the other table stays
    s.pending shouldBe 1
    s.releasedCount shouldBe 1L

    s.release()
    rdd.getStorageLevel shouldBe StorageLevel.NONE
    s.pending shouldBe 0
    s.releasedCount shouldBe 2L

    s.release() // idempotent: the queue is drained, nothing double-frees
    s.releasedCount shouldBe 2L
  }

  test("the noop scratch tracks nothing (direct stage callers keep session-lifetime blocks)") {
    val df = Scratch.noop.checkpoint((1 to 10).toDF("n"), eager = false, StorageLevel.MEMORY_AND_DISK_SER)
    Scratch.noop.pending shouldBe 0
    df.count() shouldBe 10L
    val rdd = GraftColumnBridge.checkpointedRdd(df).get
    Scratch.noop.release()
    rdd.getStorageLevel should not be StorageLevel.NONE // untouched
    Scratch.noop.free(df) // only an explicit free unpersists
    rdd.getStorageLevel shouldBe StorageLevel.NONE
  }
}
