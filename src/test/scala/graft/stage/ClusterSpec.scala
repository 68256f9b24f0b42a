package graft.stage

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Deep-component stress for connected components: the pointer-jumping
  * O(log d) convergence claim (Cluster scaladoc) and the two-generation
  * block-manager bound (round-1 leak fix) pinned at adversarial depth —
  * path-shaped components are the worst case for plain min-label
  * propagation (O(d) iterations).
  */
class ClusterSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("depth-10^4 chains at 10^5 vertices converge in O(log d) iterations, <= 2 live label generations") {
    val chains = 10
    val depth = 10000 // vertices per chain; diameter = depth - 1
    // vertex id "c<chain>_v<idx>" zero-padded so the chain head is the min
    def vid(c: Int, i: Int) = f"c$c%02d_v$i%05d"
    val edges = (0 until chains)
      .flatMap(c => (0 until depth - 1).map(i => (vid(c, i), vid(c, i + 1))))
      .toDF("a_id", "b_id")
    val vertices = (0 until chains)
      .flatMap(c => (0 until depth).map(i => vid(c, i)))
      .toDF("id")

    val storedBefore = spark.sparkContext.getRDDStorageInfo.length
    val (labels, iters) = Cluster.connectedComponentsWithStats(vertices, edges)
    val rows = labels.collect()

    // correctness: every vertex labeled with its chain head
    rows.length shouldBe chains * depth
    rows.foreach { r =>
      val id = r.getString(0)
      r.getString(1) shouldBe (id.take(3) + "_v00000")
    }

    // O(log d): pointer jumping halves the unresolved tree height per
    // round — allow a small constant over ceil(log2(d)) = 14
    iters should be <= 20

    // block-manager bound: the loop frees each superseded generation, so
    // after the run at most the final labels generation (plus nothing
    // else from this call) still holds blocks. unpersist is async ->
    // bounded retry before asserting.
    def stored() = spark.sparkContext.getRDDStorageInfo.length
    var waited = 0
    while (stored() > storedBefore + 2 && waited < 20) { Thread.sleep(250); waited += 1 }
    stored() should be <= (storedBefore + 2)
  }

  test("under the broadcast gate the per-iteration label joins are broadcast, not shuffled") {
    // capture every plan executed DURING the CC call (the loop's
    // checkpoint jobs carry the two per-iteration joins); the final
    // singleton join runs lazily after, so it is out of scope here
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    var labelsOut: org.apache.spark.sql.DataFrame = null
    spark.listenerManager.register(listener)
    try {
      // two components with distinct shapes so the loop actually iterates
      val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")).toDF("a_id", "b_id")
      val vertices = Seq("a", "b", "c", "d", "x", "y", "lone").toDF("id")
      val (labels, iters) = Cluster.connectedComponentsWithStats(vertices, edges)
      iters should be > 0
      labelsOut = labels
      // the listener bus is async — wait until the loop's join plans landed
      var waited = 0
      def joined() = { val ps = plans.toArray(Array.empty[String]); ps.filter(_.contains("Join")) }
      while (!joined().exists(_.contains("BroadcastHashJoin")) && waited < 40) { Thread.sleep(250); waited += 1 }
      val joinPlans = joined()
      withClue(s"captured ${plans.size} plans, ${joinPlans.length} with joins:\n${joinPlans.mkString("\n---\n")}\n") {
        joinPlans.exists(_.contains("BroadcastHashJoin")) shouldBe true
        joinPlans.foreach { p =>
          p should not include "SortMergeJoin"
          p should not include "ShuffledHashJoin"
        }
      }
    } finally spark.listenerManager.unregister(listener)
    // materialized outside the capture window: the final singleton join is
    // not part of the loop and may legitimately shuffle
    labelsOut.count() shouldBe 7L
  }

  test("isolated pairs are contracted before the loop: a pairs-only graph runs zero iterations") {
    // every component is a single edge -> the contraction labels all of
    // them and the residual subgraph is empty, so the loop never starts
    val edges = Seq(("b", "a"), ("c", "d"), ("f", "e")).toDF("a_id", "b_id")
    val vertices = Seq("a", "b", "c", "d", "e", "f", "lone").toDF("id")
    val (labels, iters) = Cluster.connectedComponentsWithStats(vertices, edges)
    iters shouldBe 0
    val byId = labels.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    byId shouldBe Map(
      "a" -> "a", "b" -> "a", "c" -> "c", "d" -> "c",
      "e" -> "e", "f" -> "e", "lone" -> "lone")
  }

  test("mixed graphs split correctly between the pair contraction and the residual loop") {
    // isolated pairs + a path (whose degree-1 tips must NOT contract: the
    // other endpoint has degree 2) + a triangle + a singleton, in both the
    // broadcast and the forced-shuffle regime
    val edges = Seq(
      ("y", "x"),                            // isolated pair
      ("a", "b"), ("b", "c"), ("c", "d"),    // path: tips a,d are degree 1
      ("p", "q"), ("q", "r"), ("r", "p")     // triangle
    ).toDF("a_id", "b_id")
    val vertices = Seq("a", "b", "c", "d", "p", "q", "r", "x", "y", "lone").toDF("id")
    val expect = Map(
      "a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "p" -> "p", "q" -> "p", "r" -> "p",
      "x" -> "x", "y" -> "x", "lone" -> "lone")
    for (gate <- Seq(2000000L, 0L)) {
      val (labels, iters) = Cluster.connectedComponentsReleasable(
        vertices, edges, Scratch.noop, maxIter = 25, maxBroadcastEndpoints = gate)
      withClue(s"gate=$gate: ") {
        labels.collect().map(r => r.getString(0) -> r.getString(1)).toMap shouldBe expect
        iters should be > 0 // the path/triangle residual still iterates
      }
    }
  }

  test("the release hook frees the loop's surviving label blocks after the result materializes") {
    // triangle (iterates) + isolated pair (contracts): both block sources
    // the caller's scratch must hold — the final label generation and the
    // pair labels — and nothing else the loop checkpointed
    val edges = Seq(("p", "q"), ("q", "r"), ("r", "p"), ("y", "x")).toDF("a_id", "b_id")
    val vertices = Seq("p", "q", "r", "x", "y", "lone").toDF("id")
    def stored() = spark.sparkContext.getRDDStorageInfo.length
    val before = stored()
    val scratch = new Scratch
    val (labels, iters) = Cluster.connectedComponentsReleasable(vertices, edges, scratch)
    iters should be > 0
    scratch.pending shouldBe 2
    labels.collect().map(r => r.getString(0) -> r.getString(1)).toMap shouldBe Map(
      "p" -> "p", "q" -> "p", "r" -> "p", "x" -> "x", "y" -> "x", "lone" -> "lone")
    scratch.release()
    // unpersist is async -> bounded retry before asserting all blocks from
    // this call are gone
    var waited = 0
    while (stored() > before && waited < 20) { Thread.sleep(250); waited += 1 }
    stored() should be <= before
  }

  test("beyond the broadcast gate the shuffle-join regime still converges correctly") {
    // gate forced to 0: the exact production code path a >2M-endpoint graph
    // takes, exercised on a small fixture (chain + triangle + singleton)
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("p", "q"), ("q", "r"), ("r", "p"))
      .toDF("a_id", "b_id")
    val vertices = Seq("a", "b", "c", "d", "p", "q", "r", "lone").toDF("id")
    val (labels, iters) = Cluster.connectedComponentsReleasable(
      vertices, edges, Scratch.noop, maxIter = 25, maxBroadcastEndpoints = 0L)
    val byId = labels.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    byId shouldBe Map(
      "a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "p" -> "p", "q" -> "p", "r" -> "p",
      "lone" -> "lone")
    iters should be > 0
  }
}
