package graft

import graft.conf.FuzzyConf
import graft.stage.IndexBuild
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Physical-plan assertions — the "is this the plan you'd want at 100 TB"
  * checks (builder prompt: pushdown, broadcast, partial aggregation,
  * whole-stage codegen), pinned so regressions in plan shape fail loudly.
  */
class PlanSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection push down to the parquet scan") {
    val p = plan(
      spark.read.parquet(s"$sf/documents.parquet")
        .filter(col("doc_id") < 50)
        .select("doc_id", "text"))
    p should include("PushedFilters")
    p should include("LessThan(doc_id,50)")
    // column pruning: lang/source/n_chars are not in ReadSchema
    p should not include "n_chars"
  }

  test("small dimension joins broadcast (customer side of the TPC-H join)") {
    val p = plan(Queries.queries("q_tpch_join_top")(spark, sf))
    p should include("BroadcastHashJoin")
  }

  test("postings build is SHUFFLE-FREE (gram counts computed map-side)") {
    val clips = Seq(("a", "hello world"), ("b", "other text")).toDF("clip_id", "transcript")
    val idx = IndexBuild(clips, "clip_id", "transcript", FuzzyConf())
    val p = plan(idx.postings)
    p should include("gram_counts")
    // the only shuffle in the whole index build is the key-dedup groupBy,
    // which sits below items; postings/norms add NO exchange of their own
    "Exchange".r.findAllIn(p).size shouldBe
      "Exchange".r.findAllIn(plan(idx.items)).size
  }

  test("key-dedup groupBy uses partial (map-side) + final aggregation") {
    val clips = Seq(("a", "hello world"), ("b", "other text")).toDF("clip_id", "transcript")
    val idx = IndexBuild(clips, "clip_id", "transcript", FuzzyConf())
    val p = plan(idx.items)
    // min_by forces SortAggregate (not hash), but the partial/final split —
    // the property that keeps the shuffle input combined map-side — holds
    p should include("partial_min")
    p should include("Exchange")
  }

  test("the dot-product hot path runs inside whole-stage codegen spans") {
    val df = Queries.queries("q_matches_dot")(spark, sf)
    df.collect() // AQE only reveals codegen spans in the FINAL executed plan
    val p = plan(df)
    p should include("isFinalPlan=true")
    p should include("*(") // whole-stage-codegen'd operators print as *(n)
  }

  test("candidate verification semi-join-prunes postings against the pair set") {
    val clips = (0 until 50).map(i => (f"c$i%03d", s"text number $i words here")).toDF("clip_id", "transcript")
    // raw (unmaterialized) build so the executed plan is inspectable; the
    // pruned table is checkpointed inside cosine-mode verifyPairs (one
    // corpus scan for both pair sides), so the pin targets its
    // pre-checkpoint plan
    val idx = IndexBuild(clips, "clip_id", "transcript", FuzzyConf())
    val pairs = Seq(("c000", "c001"), ("c002", "c003")).toDF("a_id", "b_id")
    val p = plan(graft.stage.FindStage.prunedPostings(pairs, idx))
    p should include("LeftSemi")
    // cosine mode still runs off a single materialized pruned-postings scan
    val idxCos = IndexBuild(clips, "clip_id", "transcript", FuzzyConf(useLevenshtein = false))
    val vpCos = plan(graft.stage.FindStage.verifyPairs(pairs, idxCos, 0.33))
    vpCos should (include("ExistingRDD") or include("LogicalRDD")) // checkpointed pruned postings
  }

  test("lev-mode pair verification broadcasts a small pair side, no postings join") {
    val clips = (0 until 50).map(i => (f"c$i%03d", s"text number $i words here")).toDF("clip_id", "transcript")
    val idx = IndexBuild(clips, "clip_id", "transcript", FuzzyConf())
    val pairs = Seq(("c000", "c001"), ("c002", "c003")).toDF("a_id", "b_id")
    val vp = graft.stage.FindStage.verifyPairs(pairs, idx, 0.33)
    vp.collect() // resolve AQE to the final physical plan
    val p = plan(vp)
    // the corpus-sized sigs/items sides are never shuffled for a small
    // pair set: every join is a broadcast join keyed off the pair side
    p should include("BroadcastHashJoin")
    // and the lev path reads no postings (gram column never scanned)
    p should not include "gram_counts"
  }

  test("a micro-batch bringing more than maxBandBucket members into one bucket plans the salted join") {
    // 300 new members join 20 state members in one bucket: above the
    // direct-join cap, so the probe side splits into ceil(300/32) salt
    // chunks instead of landing 300 x 320 rows in a single task
    def keys(prefix: String, n: Int) =
      (0 until n).map(i => (7L, 0, f"$prefix$i%04d", 0L)).toDF("bkey", "ktype", "item_id", "sh")
    val conf = FuzzyConf(maxBandBucket = 100, saltChunk = 32)
    val pairs = graft.stage.Candidates.incrementalPairsFromKeys(keys("n", 300), keys("s", 20), conf)
    plan(pairs) should include("sequence") // the B side's replication to every chunk
    pairs.count() shouldBe 300L * 299 / 2 + 300L * 20
  }

  test("the substring pass hashes windows once: one window-hash Generate, one cap aggregate") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.HyperLogLogPlusPlus
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate}
    import org.apache.spark.sql.execution.LogicalRDD
    // contained keys below L=16 ("hello world", "cat") and at/above it
    val items = Seq(("a", "hello world"), ("b", "ah hello world yes"), ("c", "cat"), ("d", "a cat"),
      ("e", "alabama arkansas"), ("f", "alabama arkansas california")).toDF("item_id", "key")
    val pairs = graft.stage.Candidates.substringPairs(items, maxBucket = 100)
    val lp = pairs.queryExecution.optimizedPlan
    // a table read by two consumers appears twice in the tree: count
    // distinct subtrees
    def distinct[T <: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan](nodes: Seq[T]) =
      nodes.map(_.canonicalized).distinct.size
    distinct(lp.collect { case g: Generate => g }) shouldBe 1
    distinct(lp.collect {
      case a: Aggregate if a.aggregateExpressions.exists(_.exists(_.isInstanceOf[HyperLogLogPlusPlus])) => a
    }) shouldBe 1
    // a query-scale input keeps the whole pass lazy: no checkpointed table
    lp.collect { case r: LogicalRDD => r } shouldBe empty
    pairs.select("a_id", "b_id").as[(String, String)].collect().toSet shouldBe
      Set(("a", "b"), ("c", "d"), ("e", "f"))
  }
}
