package graft.stage

import graft.SparkTestSession
import graft.api.FuzzyPipeline
import graft.conf.FuzzyConf
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Recall under adversarial skew: a near-identical FLOOD far beyond
  * maxSaltedBucket (round 2's drop regime, now the star regime —
  * Candidates.taggedSelfPairs scaladoc) must still cluster as one
  * component, while unrelated background rows stay untouched. The flood
  * is 10k rows / 6k distinct transcripts: too big for the direct AND
  * salted LSH regimes, so only star candidates (plus the exact pass for
  * repeated keys) can connect it.
  */
class SkewRecallSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("10k-member near-identical flood beyond maxSaltedBucket recovers with recall 1.0") {
    val rng = new scala.util.Random(7)
    def word() = Seq.fill(6)(('a' + rng.nextInt(26)).toChar).mkString
    val base = Seq.fill(18)(word()).mkString(" ") // ~125 chars

    // 6000 distinct flood texts: the base plus 5999 single-token-append
    // variants (near-identical, J >> 0.8); 4000 extra rows repeat the
    // first 4000 variants byte-identically -> 10k flood rows total
    val distinctFlood = base +: (1 until 6000).map(i => f"$base v$i%05d")
    val floodRows = (distinctFlood ++ distinctFlood.slice(1, 4001)).zipWithIndex.map {
      case (t, i) => (f"flood_$i%06d", t)
    }
    val bgRows = (0 until 500).map(i => (f"bg_$i%06d", Seq.fill(8)(word()).mkString(" ")))
    val corpus = (floodRows ++ bgRows).toDF("clip_id", "transcript")

    // narrow salted window (50, 150]: near-identical flood buckets land
    // far above maxSaltedBucket -> star regime; keeps the salted
    // regime's inherently quadratic all-pairs volume out of a unit test
    // while proving the star path at 40x the configured bound
    val conf = FuzzyConf(maxBandBucket = 50, maxSaltedBucket = 150)
    val p = FuzzyPipeline(spark, corpus, "clip_id", "transcript", conf)

    // the fixture genuinely exercises the star regime: at least one LSH
    // band bucket must exceed maxSaltedBucket
    import org.apache.spark.sql.functions.{count => fcount, max => fmax}
    val maxBucket = CandidateRefs.bandRows(p.index.sigs)
      .groupBy("bkey").agg(fcount(org.apache.spark.sql.functions.lit(1)).as("n"))
      .agg(fmax("n")).as[Long].head()
    maxBucket should be > conf.maxSaltedBucket.toLong

    val labels = p.clusters().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // recall 1.0 over every implied flood pair == all flood rows share one
    // component (single-token append keeps levNormSim ~ 0.95 >> minScore)
    val floodComps = floodRows.map { case (id, _) => labels(id) }.distinct
    floodComps.length shouldBe 1
    // background rows neither join the flood nor each other
    val bgComps = bgRows.map { case (id, _) => labels(id) }
    bgComps.distinct.length shouldBe bgRows.length
    bgComps should not contain floodComps.head
  }
}
