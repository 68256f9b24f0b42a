package graft.stage

import graft.SparkTestSession
import graft.conf.FuzzyConf
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Skew-regime tests for candidate generation (north rule: "salted
  * repartitioning for skewed shingle bands").
  */
class CandidatesSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def bandsDF(bucketSizes: Map[String, Int]) =
    bucketSizes.toSeq
      .flatMap { case (key, n) => (0 until n).map(i => (key, f"${key}_i$i%06d")) }
      .toDF("bkey", "item_id")

  test("salted hot buckets produce EXACTLY the all-pairs set of the direct join") {
    // 300-member bucket is above cap=100 -> salted regime; 40-member bucket
    // stays direct; the union must equal the unsalted all-pairs ground truth
    val keyed = bandsDF(Map("hot" -> 300, "small" -> 40, "single" -> 1))
    val salted = CandidateRefs
      .bucketSelfPairs(keyed, FuzzyConf(maxBandBucket = 100, saltChunk = 32, maxSaltedBucket = 4096))
      .as[(String, String)].collect().toSet
    val direct = CandidateRefs
      .bucketSelfPairs(keyed, FuzzyConf(maxBandBucket = 1000000, saltChunk = 32, maxSaltedBucket = 4096))
      .as[(String, String)].collect().toSet
    salted.size shouldBe (300 * 299 / 2 + 40 * 39 / 2)
    salted shouldBe direct
  }

  test("buckets beyond maxSaltedBucket switch to the star regime; others unaffected") {
    val keyed = bandsDF(Map("flood" -> 600, "ok" -> 5))
    val pairs = CandidateRefs
      .bucketSelfPairs(keyed, FuzzyConf(maxBandBucket = 100, saltChunk = 32, maxSaltedBucket = 500))
      .as[(String, String)].collect()
    val (floodPairs, okPairs) = pairs.partition(_._1.startsWith("flood"))
    okPairs.length shouldBe 5 * 4 / 2
    // star: exactly one candidate per non-min member, all anchored at the
    // bucket minimum — |bucket| - 1 edges, not |bucket|^2 / 2
    floodPairs.length shouldBe 600 - 1
    all(floodPairs.map(_._1)) shouldBe "flood_i000000"
    floodPairs.map(_._2).distinct.length shouldBe 599
  }

  test("a pair never duplicates across the salted join (a<b once per bucket)") {
    val keyed = bandsDF(Map("hot" -> 150))
    val pairs = CandidateRefs
      .bucketSelfPairs(keyed, FuzzyConf(maxBandBucket = 100, saltChunk = 16, maxSaltedBucket = 4096))
      .as[(String, String)].collect()
    pairs.length shouldBe pairs.toSet.size
    pairs.length shouldBe 150 * 149 / 2
  }

  test("fusedPairs emits exactly lshPairs UNION simhashPairs") {
    val conf = FuzzyConf()
    val clips = graft.audio.ClipSynth.table(spark, 3000, includeAudio = false)
    val idx = graft.stage.IndexBuild(clips, "clip_id", "transcript", conf)
    val sigs = idx.sigs.cache()
    val fused = Candidates.fusedPairs(sigs, conf).as[(String, String)].collect().toSet
    val separate =
      CandidateRefs.lshPairs(sigs, conf).as[(String, String)].collect().toSet ++
        CandidateRefs.simhashPairs(sigs, conf).as[(String, String)].collect().toSet
    fused shouldBe separate
    fused should not be empty // planted dups guarantee collisions
    sigs.unpersist()
  }

  test("union of per-batch incrementalPairs == fusedPairs over the full corpus") {
    val conf = FuzzyConf()
    // 3000 synthetic clips with planted dups; no bucket approaches the
    // caps, so both paths run their direct regimes and the pair SETS must
    // be exactly equal — the incremental union-over-batches coverage
    // argument (Candidates.incrementalPairsFromKeys scaladoc) as a concrete check
    val clips = graft.audio.ClipSynth.table(spark, 3000, includeAudio = false)
    val idx = graft.stage.IndexBuild(clips, "clip_id", "transcript", conf)
    val sigs = idx.sigs.cache()
    // "arrival" split by item id hash: batch 1 = ~2/3, batch 2 = the rest
    import org.apache.spark.sql.functions.{abs => fAbs, col, xxhash64}
    val firstBatch = sigs.filter(fAbs(xxhash64(col("item_id"))) % 3 < 2).cache()
    val secondNew = sigs.filter(fAbs(xxhash64(col("item_id"))) % 3 === 2)
    val incremental =
      CandidateRefs.incrementalPairs(firstBatch, firstBatch.limit(0), conf)
        .as[(String, String)].collect().toSet ++
        CandidateRefs.incrementalPairs(secondNew, firstBatch, conf)
          .as[(String, String)].collect().toSet
    val batch = Candidates.fusedPairs(sigs, conf).as[(String, String)].collect().toSet
    incremental shouldBe batch
    incremental should not be empty
    sigs.unpersist(); firstBatch.unpersist()

    // second input: fused-key rows over three batches with small caps, so
    // later batches probe buckets that already hold state rows in every
    // regime — direct, salted (p > maxBandBucket) and star (n >
    // maxSaltedBucket), band keys and hamming-gated chunk keys alike
    type Key = (Long, Int, String, Long)
    val rnd = new scala.util.Random(7)
    val batchOf = (0 until 600).map(i => if (i == 0) 1 else rnd.nextInt(3))
    def id(i: Int) = f"i$i%04d"
    def sh(i: Int) = 0x5a5a5a5aL ^ (1L << (i % 60)) ^ (1L << (i * 7 % 60))
    // (bkey, ktype, members per batch); i0000 arrives in batch 1 as the new
    // minimum of buckets 1 and 2, exercising the star's old-hub edge
    val buckets = Seq((1L, 0, Seq(30, 20, 5)), (2L, 0, Seq(6, 15, 3)), (3L, 1, Seq(10, 12, 4)),
      (4L, 1, Seq(45, 10, 2)), (5L, 0, Seq(2, 2, 1)))
    val keyBatches: Seq[Seq[Key]] = (0 until 3).map { b =>
      val pool = (1 until 600).filter(batchOf(_) == b)
      buckets.flatMap { case (bkey, ktype, per) =>
        val ids = rnd.shuffle(pool).take(per(b)) ++ (if (b == 1 && bkey <= 2) Seq(0) else Nil)
        ids.map(i => (bkey, ktype, id(i), sh(i)))
      }
    }
    // the stream rule, brute force: per batch and touched bucket of n
    // members (state + batch), every pair with a batch endpoint up to
    // maxSaltedBucket, else each batch member to the bucket minimum and
    // the batch member that IS the minimum to the state minimum
    def streamRule(maxSalted: Int): Set[(String, String)] =
      keyBatches.indices.flatMap { b =>
        val state = keyBatches.take(b).flatten
        keyBatches(b).groupBy(k => (k._1, k._2)).toSeq.flatMap { case (bk, probes) =>
          val old = state.filter(k => (k._1, k._2) == bk)
          val all = old ++ probes
          def ok(x: Key, y: Key) = bk._2 != 1 || java.lang.Long.bitCount(x._4 ^ y._4) <= 3
          def pair(x: Key, y: Key) = if (x._3 < y._3) (x._3, y._3) else (y._3, x._3)
          if (all.size <= maxSalted) probes.flatMap(x => all.filter(y => y._3 != x._3 && ok(x, y)).map(pair(x, _)))
          else {
            val m = all.minBy(_._3)
            probes.flatMap { x =>
              val hub = if (x._3 == m._3) old.minByOption(_._3) else Some(m)
              hub.filter(ok(x, _)).map(pair(x, _))
            }
          }
        }
      }.toSet
    def keysDF(ks: Seq[(Long, Int, String, Long)]) = ks.toDF("bkey", "ktype", "item_id", "sh")
    def union(c: FuzzyConf) = keyBatches.indices.flatMap { b =>
      Candidates.incrementalPairsFromKeys(keysDF(keyBatches(b)), keysDF(keyBatches.take(b).flatten), c)
        .as[(String, String)].collect()
    }.toSet
    // salted, no star: still exactly the batch kernel's pair set
    val salted = FuzzyConf(maxBandBucket = 8, saltChunk = 3)
    val saltedUnion = union(salted)
    saltedUnion shouldBe CandidateRefs.allProbePairs(keysDF(keyBatches.flatten), salted)
      .as[(String, String)].collect().toSet
    saltedUnion shouldBe streamRule(salted.maxSaltedBucket)
    // with stars (buckets 1 and 4 flood from batch 1 on): the stream rule
    val starred = FuzzyConf(maxBandBucket = 8, saltChunk = 3, maxSaltedBucket = 40)
    val starUnion = union(starred)
    starUnion shouldBe streamRule(starred.maxSaltedBucket)
    starUnion should contain(("i0000", keyBatches(0).filter(_._1 == 1L).map(_._3).min)) // old-hub edge
    starUnion.size should be < saltedUnion.size
  }

  test("incremental flood star stays connected when a batch arrival becomes the bucket minimum") {
    // one flooded bucket (maxSaltedBucket = 3): old members o4..o9 whose own
    // arrival-time stars all hang off o4; the next batch brings a0 and a1,
    // BOTH smaller than every old id. a1's star edge goes to the new min
    // a0 — and a0 itself gets NO (member -> min) edge, so without the
    // old-hub patch edge (a0, o4) the old members' stars would strand as a
    // second component
    def keys(ids: Seq[String]) =
      ids.map(id => (7L, 0, id, 0L)).toDF("bkey", "ktype", "item_id", "sh")
    val old = Seq("o4", "o5", "o6", "o7", "o8", "o9")
    val pairs = Candidates
      .incrementalPairsFromKeys(keys(Seq("a0", "a1")), keys(old), FuzzyConf(maxSaltedBucket = 3))
      .as[(String, String)].collect().toSet
    pairs should contain(("a0", "a1")) // star to the new min
    pairs should contain(("a0", "o4")) // patch to the old hub
    pairs.size shouldBe 2 // still linear: no per-member fanout beyond the star
  }

  test("prefixHashes UDF matches the xxhash64 column on ascii and multibyte keys") {
    import org.apache.spark.sql.functions.{col, explode, lit, xxhash64}
    // keys above and at most (L-1)/minRatio = 30 chars (only those also
    // hash shorter windows), ascii and multibyte (BMP only: String.length
    // counts chars here as Spark's substr does)
    val texts = Seq("alabama arkansas california and beyond", "déjà vu naïve café au lait!",
      "mixed ascii and 中文字符 in one key", "0123456789abcdef", "中文 key", "ab", "a")
    val keys = texts.toDF("key")
    val L = Candidates.SubstringPrefixLen
    val shortLens = Array(1, 2, 5, 15)
    def grouped(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    // the engine's window rule, spelled out: (key, 1-based start, length)
    val windows = for {
      k <- texts
      len <- (if (k.length <= 30) shortLens.filter(_ < k.length).toSeq else Nil) :+ L
      start <- 1 to k.length - len + 1
    } yield (k, start, len)
    val viaCol = grouped(windows.toDF("key", "start", "len")
      .select(col("key"), xxhash64(col("key").substr(col("start"), col("len"))).as("h")))
    grouped(keys.select(col("key"), explode(Candidates.prefixHashes(shortLens, None)(col("key"))).as("h"))) shouldBe
      viaCol
    grouped(keys.select(col("key"), explode(Candidates.prefixHashes(Array.empty, None)(col("key"))).as("h"))) shouldBe
      grouped(windows.filter(_._3 == L).toDF("key", "start", "len")
        .select(col("key"), xxhash64(col("key").substr(col("start"), col("len"))).as("h")))
    // with a broadcast match set only the windows found in it are emitted
    val some = viaCol.values.flatten.toArray.distinct.sorted.take(9)
    val bc = spark.sparkContext.broadcast(some)
    val matched = grouped(keys.select(col("key"),
      explode(Candidates.prefixHashes(shortLens, Some(bc))(col("key"))).as("h")))
    matched shouldBe viaCol.view.mapValues(_.filter(some.contains)).filter(_._2.nonEmpty).toMap
  }

  test("substring short-key regime: contained keys below prefixLen are found exactly") {
    import org.apache.spark.sql.functions.col
    val items = Seq(
      ("s1", "hello world"), // 11 chars, contained in s2 (ratio 11/18)
      ("s2", "ah hello world yes"), // 18-char container (>= prefixLen, <= 30: length-L and shorter windows)
      ("s3", "cat"), // contained in s4 at ratio 3/16 < 0.5 -> excluded
      ("s4", "the cat sat here"),
      ("s5", "a"), // 1-char contained in s6 at exactly minRatio
      ("s6", "ab"),
      ("s7", "exactly15charss"), // 15 chars: last short-regime length
      ("s8", "exactly15charss butmore"), // 23-char container (ratio 15/23)
      ("s9", "héllo wörld"), // multibyte contained (11 chars): whole-key
      ("s10", "aa héllo wörld bb") // xxhash64 vs windowHash UDF parity
    ).toDF("item_id", "key")
    val got = Candidates.substringPairs(items, maxBucket = 100000)
      .select("a_id", "b_id").as[(String, String)].collect().toSet
    got should contain(("s1", "s2"))
    got should contain(("s5", "s6"))
    got should contain(("s7", "s8"))
    got should contain(("s9", "s10"))
    got.map(_._1) should not contain "s3"
  }

  test("substringPairs equals the brute-force containment oracle across both length regimes") {
    // tiny alphabet + seeded lengths 1..30 straddling prefixLen=16: dense
    // containment relations for contained keys at or above L (found by
    // the length-L windows) and below it (found by the shorter windows)
    val rnd = new scala.util.Random(42)
    val alpha = "abcdefgh "
    def randStr(len: Int) = (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    // bases of length 1..24 plus derived containers (base wrapped in 0..len+5
    // extra chars, straddling the minRatio boundary) — genuine containment on
    // both sides of L; short alphabet also yields coincidental containments
    val corpus = (0 until 60).flatMap { i =>
      val len = 1 + rnd.nextInt(24)
      val base = randStr(len)
      val extra = rnd.nextInt(len + 6)
      val front = rnd.nextInt(extra + 1)
      val container = randStr(front) + base + randStr(extra - front)
      Seq((f"k$i%03d", base), (f"c$i%03d", container))
    }
    val minRatio = Candidates.SubstringMinRatio
    val oracle = (for {
      (aId, aKey) <- corpus
      (bId, bKey) <- corpus
      if aKey.length < bKey.length && bKey.contains(aKey) &&
        aKey.length.toDouble / bKey.length >= minRatio
    } yield (aId, bId)).toSet
    oracle should not be empty // fixture sanity: contained keys below and above L
    oracle.exists { case (a, _) => corpus.toMap.apply(a).length < 16 } shouldBe true
    oracle.exists { case (a, _) => corpus.toMap.apply(a).length >= 16 } shouldBe true
    // every physical arm: a Seq-backed input is small (lazy plan), an
    // RDD-backed one has unknown stats (materialized plan), and a zero
    // broadcast limit forces the explode-join. The tables each arm
    // checkpoints tell the arms apart: none on the lazy plan, the window
    // hits + candidate pairs on the materialized one, the exploded windows
    // on the explode-join.
    val input = corpus.toDF("item_id", "key")
    val rddBacked = spark.createDataFrame(input.rdd, input.schema)
    SmallInput(input) shouldBe true
    SmallInput(rddBacked) shouldBe false
    val arms = Seq(
      ("lazy broadcast", input, 20000000L, 0),
      ("materialized broadcast", rddBacked, 20000000L, 2),
      ("explode-join", input, 0L, 1))
    arms.foreach { case (arm, in, broadcastLimit, checkpoints) =>
      val scratch = new Scratch()
      try withClue(s"$arm arm: ") {
        Candidates.substringPass(in, 100000, scratch, broadcastLimit)
          .select("a_id", "b_id").as[(String, String)].collect().toSet shouldBe oracle
        scratch.pending shouldBe checkpoints
      }
      finally scratch.release()
    }
  }

  test("simhashPairs with salting still finds hamming<=3 neighbors in a hot chunk bucket") {
    // 120 fingerprints sharing chunk 0 (low 15 bits identical) -> one hot
    // bucket above cap=50; planted neighbor pair differs in 2 high bits
    val base = 0x1234L
    val sigs = ((0 until 118).map { i =>
      (f"r$i%04d", base | ((i.toLong + 7) << 20)) // far apart in high bits
    } :+ ("pairA0", base | (1L << 50)) :+ ("pairB0", base | (1L << 50) | (1L << 58)))
      .toDF("item_id", "simhash")
    val got = CandidateRefs
      .simhashPairs(sigs, FuzzyConf(maxBandBucket = 50, saltChunk = 16, maxSaltedBucket = 4096))
      .as[(String, String)].collect().toSet
    got should contain(("pairA0", "pairB0"))
  }
}
