package graft.stage

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Candidate-pair generation — the scale replacement for the reference's
  * all-items inverted-index walk (Internal.hs:67-74), which at 10^12 rows
  * would make every frequent gram a quadratic bomb (SURVEY.md §4 O1).
  *
  * Three passes, all equi-joins (shuffle-hash/sort-merge under AQE):
  *  - exact: star edges inside identical-key groups — O(group) not
  *    O(group^2), since connected components only needs a spanning star
  *  - MinHash/LSH: self-join on band keys; three skew regimes by bucket
  *    size — direct, salted all-pairs, and STAR (member -> bucket-min,
  *    linear) for flood-sized buckets, so worst-case pair fanout stays
  *    bounded without losing genuine near-identical floods
  *  - SimHash: self-join on 15-bit fingerprint chunks (4 chunks of the
  *    60-bit fingerprint => any pair within hamming distance 3 shares at
  *    least one exact chunk), verified by bit_count(xor) <= maxHamming
  */
object Candidates {

  /** (a_id = item root, b_id = member, kind="exact", score=1.0) for every
    * member that is not its item's root. Equivalent under connected
    * components to all-pairs within a key group. The batch pipeline applies
    * it to the whole members table, StreamDedup to each micro-batch's.
    */
  def exactEdges(members: DataFrame): DataFrame =
    members
      .filter(col("clip_id") =!= col("item_id"))
      .select(
        col("item_id").as("a_id"),
        col("clip_id").as("b_id"),
        lit("exact").as("kind"),
        lit(1.0).as("score"))

  /** All unordered (a_id < b_id) pairs of item_ids sharing a bucket key,
    * over a mixed key space: `keyed` has columns (bkey, ktype, item_id,
    * sh). Three skew regimes by bucket size m (north rule: "salted
    * repartitioning for skewed shingle bands"):
    *
    *  - m <= cap: direct in-bucket self-join — at most ~cap^2 candidate
    *    rows per bucket, fine inside one task;
    *  - cap < m <= maxSalted: SALTED all-pairs — members split into
    *    ceil(m/saltChunk) chunks by an id hash; the A side keeps its home
    *    chunk, the B side is replicated to EVERY chunk, and the join key
    *    becomes (bkey, chunk). Every unordered pair is still produced
    *    exactly once (ordered pair (a,b) materializes only in a's home
    *    chunk; a < b filter halves), but per-task work is bounded by
    *    saltChunk x m instead of m^2 serializing in one task;
    *  - m > maxSalted: STAR — each member pairs with the bucket minimum
    *    only (see FuzzyConf.maxSaltedBucket and below).
    *
    * Rows with ktype = 1 are SimHash chunk keys carrying the full
    * fingerprint in `sh`; pairs from those buckets are kept only at
    * hamming(a_sh, b_sh) <= maxHamming, and the filter runs BEFORE the pair
    * distinct. That placement is the scale lever: at corpus size n the raw
    * 15-bit-chunk collision volume is ~n^2/2^15 pairs (~8M rows at 400k
    * items), and round 2 shuffled all of it through a distinct plus two
    * signature re-joins before filtering — here the xor/bit_count runs
    * inside the join stage and only survivors (plus LSH pairs) reach the
    * distinct.
    *
    * Buckets beyond maxSalted enter the STAR regime (round 2 dropped
    * them): each member pairs with the bucket minimum only — |bucket|
    * candidates instead of |bucket|^2/2. A genuine near-identical flood IS
    * a real duplicate cluster that produces exactly such buckets; the star
    * is the spanning structure connected components needs, and
    * verification prunes the two failure shapes cheaply: a DEGENERATE band
    * (near-constant signature band over dissimilar items) yields star
    * edges that fail the signature gate at |bucket| cost, and a
    * chain-shaped flood whose far ends fail rep-verification still
    * recovers through its other, independent band draws (only buckets
    * > maxSalted go star).
    */
  private[stage] def taggedSelfPairs(
      keyed: DataFrame,
      cap: Int,
      saltChunk: Int,
      maxSalted: Int,
      maxHamming: Int,
      scratch: Scratch = Scratch.noop): DataFrame = {
    val sizes = scratch.checkpoint(keyed
      .groupBy("bkey", "ktype")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > 1), eager = false, StorageLevel.MEMORY_AND_DISK_SER)
    // six downstream branches (small a/b, hot A/B, flood x2) consume the
    // keyed-with-size table. When the non-singleton bucket directory is
    // small (the common case — most band values are unique), BROADCAST it
    // and let every branch recompute the cheap map-side key explode: no
    // multi-million-row block-store materialization (whose long-lived
    // objects were a measured full-GC driver that scaled with task count),
    // no shuffle for the size join. Beyond the limit, fall back to the
    // shuffle join materialized once (the 10^12-scale shape).
    // ONE stats job over the materialized directory blocks: row count
    // (broadcast-vs-shuffle decision) and largest bucket (regime gating)
    val dirStats = sizes
      .agg(count(lit(1)).as("n"), coalesce(max("bucket_n"), lit(0L)).as("mx")).head()
    val (dirRows, maxBucketN) = (dirStats.getLong(0), dirStats.getLong(1))
    val withN =
      if (dirRows <= bucketDirBroadcastLimit) {
        val joined = keyed.join(sizes.hint("broadcast"), Seq("bkey", "ktype"))
        // materialize the PRUNED keyed-with-size table once (scratch-tracked,
        // released with the branch): the directory inner-join drops every
        // singleton-bucket key, so the blocks hold only collision-bucket
        // members — a small fraction of the corpus-×-bands explode — and the
        // a/b sides of the pair self-join read those blocks instead of each
        // re-running the full sigs-scan + key explode + broadcast join
        // (guide §1.2 "don't recompute"; interleaved A/B at 1.6M clips:
        // 13.5-17.1 s -> 9.8-12.1 s for the candidates stage, same pairs)
        scratch.checkpoint(joined, eager = false, StorageLevel.MEMORY_AND_DISK_SER)
      } else
        scratch.checkpoint(keyed.join(sizes, Seq("bkey", "ktype")),
          eager = false, StorageLevel.MEMORY_AND_DISK_SER)
    val keep = (col("ktype") =!= 1) ||
      bit_count(col("a_sh").bitwiseXOR(col("b_sh"))) <= maxHamming

    // A run whose buckets never reach the hot/flood regimes would still
    // PLAN and EXECUTE those branches — two more passes over the keyed
    // explode, a salt explode, a bucket-min aggregation and their AQE
    // stages — only to union empty frames. The maxBucketN gates below skip
    // branches the directory PROVES empty; pair-set output is identical by
    // construction (a skipped branch's filter matches zero rows).
    val small = withN.filter(col("bucket_n") <= cap)
    // SHUFFLE_HASH, not sort-merge (guide §3.1): the join keys are bucket
    // ids whose groups are bounded by `cap`, so the per-partition build
    // side is small and the two full sorts SMJ would pay on the widest
    // tables of the stage buy nothing
    val smallPairs = small
      .select(col("bkey"), col("ktype"), col("item_id").as("a_id"), col("sh").as("a_sh"))
      .hint("shuffle_hash")
      .join(
        small.select(col("bkey"), col("ktype"), col("item_id").as("b_id"), col("sh").as("b_sh")),
        Seq("bkey", "ktype"))
      .filter(col("a_id") < col("b_id") && keep)
      .select("a_id", "b_id")

    val hot = withN
      .filter(col("bucket_n") > cap && col("bucket_n") <= maxSalted)
      .withColumn("n_chunks", ceil(col("bucket_n").cast("double") / saltChunk).cast("int"))
    val hotA = hot.select(
      col("bkey"),
      col("ktype"),
      pmod(xxhash64(col("item_id")), col("n_chunks").cast("long")).cast("int").as("chunk"),
      col("item_id").as("a_id"),
      col("sh").as("a_sh"))
    val hotB = hot.select(
      col("bkey"),
      col("ktype"),
      explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk"),
      col("item_id").as("b_id"),
      col("sh").as("b_sh"))
    val hotPairs = hotA
      .hint("shuffle_hash") // home-chunk side is 1/n_chunks of the replicated side
      .join(hotB, Seq("bkey", "ktype", "chunk"))
      .filter(col("a_id") < col("b_id") && keep)
      .select("a_id", "b_id")

    // star regime: member -> bucket-min edges, one per member
    val flood = withN.filter(col("bucket_n") > maxSalted)
    val floodMin = flood
      .groupBy("bkey", "ktype")
      .agg(min("item_id").as("a_id"), min_by(col("sh"), col("item_id")).as("a_sh"))
    val floodPairs = flood
      .select(col("bkey"), col("ktype"), col("item_id").as("b_id"), col("sh").as("b_sh"))
      .join(floodMin.hint("shuffle_hash"), Seq("bkey", "ktype")) // one row per flooded bucket
      .filter(col("a_id") < col("b_id") && keep)
      .select("a_id", "b_id")

    val unioned =
      if (maxBucketN <= cap) smallPairs
      else if (maxBucketN <= maxSalted) smallPairs.unionByName(hotPairs)
      else smallPairs.unionByName(hotPairs).unionByName(floodPairs)
    unioned.distinct()
  }

  /** Above this many contained-side keys the sorted prefix-hash array can
    * no longer broadcast (~8 bytes/key: 20M keys = 160 MB) and the
    * substring pass falls back to the generic explode-join.
    */
  private val substringBroadcastLimit = 20000000L

  /** Above this many non-singleton buckets the bucket-size directory joins
    * by shuffle instead of broadcast (~32 B/row as an unsafe row: 4M rows
    * ~ 128 MB broadcast).
    */
  private val bucketDirBroadcastLimit = 4000000L

  /** Exact substring-containment pairs — the distributed realization of
    * the north rule's suffix-array pass (SURVEY §7.4). A key `a` is a
    * substring of key `b` iff some suffix of `b` starts with `a`; so match
    * the length-L prefix of every suffix of b (= every L-gram of b)
    * against the length-L prefix of a, then verify real containment. Hot
    * prefixes are capped like LSH buckets.
    *
    * Contained keys SHORTER than L can't carry an L-char prefix, but
    * minRatio bounds their containers to < L/minRatio chars — both sides
    * of that regime are short strings, so a dedicated closure pass
    * explodes every sub-L window of the (short) containers — bounded at
    * ~L²/minRatio window hashes per such row — and joins them against the
    * short contained keys' whole-key hashes. Together the two regimes make
    * the pass exact at every contained length.
    *
    * Two physical paths, picked by contained-side size:
    *  - BROADCAST (<= substringBroadcastLimit keys): the distinct
    *    contained-prefix hashes ship to every task as one sorted long
    *    array; each container row probes its |key| window hashes against
    *    it by binary search and emits ONLY the matches. The generic path's
    *    |corpus| x |key| exploded rows (40M rows / multi-GB checkpoint at
    *    bench scale — 65% of the stage's wall time was GC) never exist.
    *  - EXPLODE-JOIN (beyond the limit): every window hash is exploded and
    *    equi-joined against the contained prefixes — all-shuffle, no
    *    driver-side state, the 10^12-scale shape.
    *
    * Query-scale inputs ([[SmallInput]]) keep the lazy plan: the
    * materialize + count jobs that pay for themselves on a corpus-scale
    * input (one fewer full window-hash pass, no corpus sorts) cost MORE
    * than they save on a query-scale one (measured +1 s on q_substr_pairs'
    * 3 extra jobs at sf0.1). Inputs with unknown stats (checkpointed RDDs —
    * the flagship/stream shape) take the materialized arm.
    *
    * Emits (a_id=contained, b_id=container, kind="substr",
    * score=len(a)/len(b)) for score >= minRatio.
    *
    * NOTE: the pass local-checkpoints intermediate tables (window hits and
    * candidate pairs on corpus-scale input, exploded windows in the
    * explode-join and short-key regimes). With the default
    * [[Scratch.noop]] those blocks stay pinned for the SparkContext
    * lifetime — fine for a one-shot call, but a long-lived driver calling
    * this repeatedly must pass its own `scratch` and `release()` it once
    * the returned pairs are materialized (FuzzyPipeline does).
    */
  def substringPairs(
      items: DataFrame,
      prefixLen: Int,
      minRatio: Double,
      maxBucket: Int,
      scratch: Scratch = Scratch.noop): DataFrame = {
    // query-scale inputs keep the lazy plan; corpus-scale (or
    // unknown-stats) inputs take the materialized/hinted arms below
    val lazyPlan = SmallInput(items)
    val keyed = items.select(col("item_id"), col("key"), length(col("key")).as("klen"))
    val longK = keyed.filter(col("klen") >= prefixLen)
    val contained = longK
      .select(col("item_id").as("a_id"), xxhash64(col("key").substr(lit(1), lit(prefixLen))).as("pfx"))

    // one stats pass over the keyed projection: long-regime row count (the
    // broadcast-vs-explode gate) and short-contained row count (whether the
    // short-key closure regime can produce ANY pair — see below)
    val statsRow = keyed.agg(
      sum(when(col("klen") >= prefixLen, 1L).otherwise(0L)).as("n_long"),
      sum(when(col("klen") >= 1 && col("klen") < prefixLen, 1L).otherwise(0L)).as("n_short"))
      .head()
    val nContained = if (statsRow.isNullAt(0)) 0L else statsRow.getLong(0)
    val nShortContained = if (statsRow.isNullAt(1)) 0L else statsRow.getLong(1)
    val matches: DataFrame =
      if (nContained <= substringBroadcastLimit) {
        val spark = items.sparkSession
        import spark.implicits._
        // collect through the primitive Long encoder (round-3 ADVICE): a
        // collect() of Array[Row] would transiently hold one boxed Long +
        // one Row per prefix on the driver — several GB near the limit —
        // where Dataset[Long].collect lands in one primitive array.
        // Sort DRIVER-SIDE: a distributed orderBy pays a range-partitioning
        // exchange plus its sampling pass over the distinct set just to
        // produce an array the driver flattens anyway; sorting the
        // collected primitive array costs milliseconds (guide §1.2 —
        // remove passes that recompute what one cheap local step knows)
        val pfxSorted = contained.select("pfx").distinct().as[Long].collect()
        java.util.Arrays.sort(pfxSorted)
        val bc = spark.sparkContext.broadcast(pfxSorted)
        val matched = matchedPrefixes(prefixLen, bc)
        val hits = longK.select(col("item_id").as("b_id"), explode(matched(col("key"))).as("pfx"))
        // materialize the window hits once (scratch-released): okPfx and the
        // candidate join both consume `matches`, and without blocks each
        // re-runs the full corpus scan + per-window hash/binary-search UDF
        // pass. The hits hold only MATCHING windows — candidate-volume
        // sized, tiny next to the corpus — so the blocks are cheap by
        // construction in this (broadcast) regime.
        if (lazyPlan) hits
        else scratch.checkpoint(hits, eager = false, StorageLevel.MEMORY_AND_DISK_SER)
      } else {
        // ONLY (id, hash) travels through the explode — the key BODY and
        // even the L-char prefix string are hashed away before the shuffle
        // (a hash collision can only ADD a candidate pair, and the
        // contains() verification below rejects it). Materialized once:
        // the hot-prefix aggregation and the candidate join consume it on
        // different keys, so exchange reuse cannot share the explode.
        val containers = scratch.checkpoint(longK
          .select(col("item_id").as("b_id"),
            explode(prefixHashes(prefixLen)(col("key"))).as("pfx")),
          eager = false, StorageLevel.MEMORY_AND_DISK_SER)
        containers.join(contained.select("pfx").distinct(), Seq("pfx"), "left_semi")
      }

    // cap counts distinct CONTAINERS per prefix, not occurrences: a few
    // long keys with internally repeated L-grams must not push a prefix
    // past the cap and silently drop genuine containment pairs (round-2
    // ADVICE). approx_count_distinct (HLL, ~2% err) suffices — the cap is
    // a fanout bound, not an exact semantic. In broadcast mode `matches`
    // holds only matching windows, so this aggregation is tiny.
    val okPfx = matches
      .groupBy("pfx")
      .agg(approx_count_distinct(col("b_id")).as("n"))
      .filter(col("n") <= maxBucket)
      .select("pfx")
    val candidatePairsRaw = matches
      .join(okPfx, Seq("pfx"))
      .join(contained, Seq("pfx"))
      .filter(col("a_id") =!= col("b_id"))
      .select("a_id", "b_id")
      .distinct()
    // same endpoint joins as the verify gate's (FindStage.endpointJoin):
    // the candidate set is tiny after the prefix match + fanout cap, and
    // joining it to the corpus-sized longK twice as sort-merge shuffles and
    // SORTS the whole key table both times. Materialize the candidates
    // (scratch-released) and pick the join regime from the ACTUAL count.
    val longPairs = {
      val la = longK.select(col("item_id").as("a_id"), col("key").as("a_key"), col("klen").as("a_len"))
      val lb = longK.select(col("item_id").as("b_id"), col("key").as("b_key"), col("klen").as("b_len"))
      val joined =
        if (lazyPlan) candidatePairsRaw.join(la, Seq("a_id")).join(lb, Seq("b_id"))
        else {
          val cand = scratch.checkpoint(candidatePairsRaw, eager = false, StorageLevel.MEMORY_AND_DISK_SER)
          FindStage.endpointJoin(cand, cand.count() <= FindStage.broadcastPairLimit, la, lb)
        }
      joined
        .filter(col("a_len") < col("b_len") && col("b_key").contains(col("a_key")))
        .select(col("a_id"), col("b_id"),
          (col("a_len").cast("double") / col("b_len")).as("score"))
        .filter(col("score") >= minRatio)
        .select(col("a_id"), col("b_id"), lit("substr").as("kind"), col("score"))
    }

    // SHORT-KEY closure regime: contained klen in [1, L); their containers
    // are bounded to (klen/minRatio) < L/minRatio chars, so exploding all
    // strictly-shorter-than-L windows of those short containers is a
    // constant per-row fanout (<= ~L^2/minRatio hashes on rows of <= 30ish
    // chars) — no driver state, shuffle-only, disjoint from the long
    // regime (its pairs all have a_len >= L). Hash collisions only ADD
    // candidates; contains() verification rejects them.
    // the short regime's PAIRS all have a contained side shorter than L:
    // when the corpus holds no such key at all (the common real-transcript
    // shape — the flagship's shortest transcript is far above L), the whole
    // regime — including the O(L^2/minRatio)-per-row window explode over
    // every short container — provably yields the empty set and is skipped
    if (nShortContained == 0L) return longPairs

    val maxShortContainerLen = ((prefixLen - 1) / minRatio).toInt
    val shortContained = keyed
      .filter(col("klen") >= 1 && col("klen") < prefixLen)
      .select(col("item_id").as("a_id"), xxhash64(col("key")).as("subh"),
        col("key").as("a_key"), col("klen").as("a_len"))
    // same two-consumers-on-different-keys shape as the long regime's
    // `containers`: the okSub aggregation and the candidate join would
    // otherwise each re-run the O(L^2/minRatio)-per-row window explode
    val shortWindowed = scratch.checkpoint(keyed
      .filter(col("klen") >= 2 && col("klen") <= maxShortContainerLen)
      .select(col("item_id").as("b_id"), col("key").as("b_key"), col("klen").as("b_len"),
        explode(shortWindowHashes(prefixLen)(col("key"))).as("subh")),
      eager = false, StorageLevel.MEMORY_AND_DISK_SER)
    // same hot-bucket fanout cap as the long regime, per substring hash
    val okSub = shortWindowed
      .groupBy("subh")
      .agg(approx_count_distinct(col("b_id")).as("n"))
      .filter(col("n") <= maxBucket)
      .select("subh")
    val shortPairs = shortWindowed
      .join(okSub, Seq("subh"))
      .join(shortContained, Seq("subh"))
      .filter(col("a_id") =!= col("b_id") &&
        col("a_len") < col("b_len") && col("b_key").contains(col("a_key")))
      .select(col("a_id"), col("b_id"),
        (col("a_len").cast("double") / col("b_len")).as("score"))
      .filter(col("score") >= minRatio)
      .distinct()
      .select(col("a_id"), col("b_id"), lit("substr").as("kind"), col("score"))

    longPairs.unionByName(shortPairs)
  }

  /** Hash of the length-L window at char offset i, value-identical to
    * `xxhash64(substr(key, i+1, L))` (same XXH64, same seed 42). ASCII
    * keys hash in place over the UTF8 bytes (zero copies); multi-byte keys
    * take per-window substrings for char-correct offsets.
    */
  @inline private def windowHash(
      u: org.apache.spark.unsafe.types.UTF8String,
      ascii: Boolean,
      i: Int,
      prefixLen: Int): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    if (ascii) XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset + i, prefixLen, 42L)
    else {
      val s = u.substring(i, i + prefixLen)
      XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
    }
  }

  /** All sliding length-L window hashes of a key in one tight Scala pass:
    * the column form runs a transform() lambda in the HOF interpreter per
    * window — at |corpus| x |key| windows it was ~half the substring
    * pass's cost (round-3 profile: 67 s / 48% GC at 400k items).
    */
  private[stage] def prefixHashes(prefixLen: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (key: String) =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(key)
      val n = math.max(u.numChars() - prefixLen + 1, 0)
      val ascii = u.numBytes == u.numChars()
      val out = new Array[Long](n)
      var i = 0
      while (i < n) { out(i) = windowHash(u, ascii, i, prefixLen); i += 1 }
      out
    }

  /** DISTINCT hashes of every window of length 1..min(L-1, numChars-1) of
    * a (short) key — the short-key closure regime's container side. Only
    * called on keys bounded to < L/minRatio chars, so the per-row fanout
    * is a small constant; strictly-shorter windows only (equal-length
    * containment = key equality = the exact pass's territory).
    */
  private[stage] def shortWindowHashes(prefixLen: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (key: String) =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(key)
      val nc = u.numChars()
      val ascii = u.numBytes == u.numChars()
      val seen = new java.util.HashSet[Long]()
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      var len = 1
      val maxLen = math.min(prefixLen - 1, nc - 1)
      while (len <= maxLen) {
        var i = 0
        val n = nc - len + 1
        while (i < n) {
          val h = windowHash(u, ascii, i, len)
          if (seen.add(h)) out += h
          i += 1
        }
        len += 1
      }
      out.toArray
    }

  /** Window hashes of a key that hit the broadcast sorted contained-prefix
    * array (binary search per window) — the broadcast substring path emits
    * only these, so no corpus x key explode ever materializes.
    */
  private[stage] def matchedPrefixes(
      prefixLen: Int,
      bc: org.apache.spark.broadcast.Broadcast[Array[Long]]): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (key: String) =>
      val set = bc.value
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(key)
      val n = math.max(u.numChars() - prefixLen + 1, 0)
      val ascii = u.numBytes == u.numChars()
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      var i = 0
      while (i < n) {
        val h = windowHash(u, ascii, i, prefixLen)
        if (java.util.Arrays.binarySearch(set, h) >= 0) out += h
        i += 1
      }
      out.toArray
    }

  /** Unordered candidate pairs from LSH band collisions and SimHash chunk
    * collisions at hamming distance <= maxHamming (pigeonhole over 4 x
    * 15-bit chunks: <= 3 differing bits leave at least one chunk
    * identical), fused into ONE keyed table -> one bucket-size
    * aggregation, one materialization, one self-join, one distinct — half
    * the candidate-generation stage chain of running the two passes
    * separately. The serial length of that chain is what bounds single-box
    * (and per-executor) scaling; the work per stage is identical. Band keys
    * and chunk keys live in disjoint (bkey, ktype) spaces, so bucket
    * contents — and therefore the emitted pair set — match the separate
    * passes exactly (CandidatesSpec pins the union equality).
    *
    * NOTE: pair generation local-checkpoints the bucket directory and the
    * pruned keyed-with-size table. With the default [[Scratch.noop]] those
    * blocks stay pinned for the SparkContext lifetime — fine for a
    * one-shot call, but a long-lived driver calling this repeatedly must
    * pass its own `scratch` and `release()` it once the returned pairs are
    * materialized (FuzzyPipeline does).
    */
  def fusedPairs(
      sigs: DataFrame,
      maxHamming: Int,
      maxBandBucket: Int,
      saltChunk: Int = 64,
      maxSaltedBucket: Int = 4096,
      scratch: Scratch = Scratch.noop): DataFrame = {
    taggedSelfPairs(fusedKeyed(sigs), maxBandBucket, saltChunk, maxSaltedBucket, maxHamming, scratch)
  }

  /** The fused (bkey, ktype, item_id, sh) key table of a sigs table — LSH
    * band tokens (ktype 0) + SimHash chunk keys (ktype 1) in one explode.
    * One tight native pass per row (FusedKeysExpr), NOT transform()+
    * struct() columns (HOF lambdas run in the expression interpreter per
    * element — the round-2 profile's hottest stage was exactly such a
    * band-key HOF) and not a tuple UDF (this explode emits bands+4 rows
    * per corpus row, the flagship's largest fanout — the converter boxed
    * the band array in and a Tuple2 per key out).
    */
  private[graft] def fusedKeyed(sigs: DataFrame): DataFrame = {
    val fusedKeys = org.apache.spark.sql.GraftColumnBridge.column(
      graft.sql.FusedKeysExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(col("band_hashes")),
        org.apache.spark.sql.GraftColumnBridge.expression(col("simhash"))))
    sigs
      .select(col("item_id"), col("simhash").as("sh"), explode(fusedKeys).as("k"))
      .select(col("k.bkey").as("bkey"), col("k.ktype").as("ktype"), col("item_id"), col("sh"))
  }

  /** Candidate pairs touching the batch side, over fused-KEY tables
    * (bkey, ktype, item_id, sh): `newKeys` the arriving batch's keys,
    * `allKeys` the accumulated key state INCLUDING the batch (key state is
    * written before pair generation) — the incremental form of
    * [[fusedPairs]] for streaming ingestion. New-vs-new pairs are produced
    * too; the union over batches of these pair sets covers every pair
    * [[fusedPairs]] would emit below the flood regime — a pair (a, b) is
    * generated at the batch that added its later endpoint, when the
    * earlier one is already in `allKeys` (CandidatesSpec pins set
    * equality).
    *
    * Cost: ONE pass over the accumulated key state, semi-join-pruned to
    * the buckets this batch touches, then all shuffles are O(batch x
    * bucket) — never a corpus-wide explode or corpus-wide aggregation.
    * The pruning scan itself is O(|state|) IO per batch in the parquet
    * sandbox; on the Iceberg seam the key table is bucket-partitioned and
    * the same semi-join prunes at the metadata level. The pruned
    * membership is localCheckpointed (two consumers: the bucket directory
    * and the direct join) and `scratch`-tracked for release once the
    * caller materializes the pairs: a long-lived driver calling this per
    * micro-batch with the default [[Scratch.noop]] would grow its pinned
    * blocks by one pruned-state-sized set per batch (StreamDedup
    * .processBatch passes and releases its own).
    *
    * Skew: the probe side is per-member, so fanout is LINEAR in bucket
    * size (the self-join's quadratic salted middle regime has no
    * equivalent here). Buckets <= maxBucket join directly (<= maxBucket
    * partners per probe row); beyond that the probe pairs with the bucket
    * MINIMUM only — the same STAR spanning structure the batch flood
    * regime emits. Cross-batch star connectivity needs one extra edge: a
    * batch arrival that BECOMES the bucket minimum gets no (member -> min)
    * edge itself, and every earlier member's star hangs off the OLD hub —
    * so the new minimum is linked to the pre-batch minimum (the old hub),
    * keeping the bucket one component inductively across batches.
    */
  def incrementalPairsFromKeys(
      newKeys: DataFrame,
      allKeys: DataFrame,
      maxHamming: Int,
      maxBucket: Int,
      scratch: Scratch = Scratch.noop): DataFrame = {
    val touched = newKeys.select("bkey", "ktype").distinct()
    val pruned = scratch.checkpoint(allKeys.join(touched, Seq("bkey", "ktype"), "left_semi"),
      eager = false, StorageLevel.MEMORY_AND_DISK_SER)
    // bucket directory MATERIALIZED (scratch-released like pruned) so one
    // tiny stats job can read the largest bucket: when no touched bucket
    // exceeds maxBucket — the common case outside flood regimes — the
    // star/patch branches and even the probe-side size join are provably
    // no-ops, and skipping them removes a third of the per-micro-batch AQE
    // stage chain (the streaming path runs this once per batch)
    val sizes = scratch.checkpoint(pruned
      .groupBy("bkey", "ktype")
      .agg(
        count(lit(1)).as("bucket_n"),
        min("item_id").as("min_id"),
        min_by(col("sh"), col("item_id")).as("min_sh")),
      eager = false, StorageLevel.MEMORY_AND_DISK_SER)
    val maxBucketN = sizes.agg(coalesce(max("bucket_n"), lit(0L))).head().getLong(0)
    // hamming gate (symmetric) runs inside each branch, before the distinct
    def keep(aSh: org.apache.spark.sql.Column, bSh: org.apache.spark.sql.Column) =
      (col("ktype") =!= 1) || bit_count(aSh.bitwiseXOR(bSh)) <= maxHamming

    if (maxBucketN <= maxBucket) {
      // every bucket is below the cap: the size join adds nothing (inner
      // join with a complete directory, filter passes every row) and
      // star/patch match zero rows — identical pair set, straight join
      return newKeys
        .select(col("bkey"), col("ktype"), col("item_id").as("x_id"), col("sh").as("x_sh"))
        .hint("shuffle_hash") // probe keys are the batch side — the smaller build
        .join(
          pruned.select(col("bkey"), col("ktype"), col("item_id").as("y_id"), col("sh").as("y_sh")),
          Seq("bkey", "ktype"))
        .filter(col("x_id") =!= col("y_id") && keep(col("x_sh"), col("y_sh")))
        .select(
          least(col("x_id"), col("y_id")).as("a_id"),
          greatest(col("x_id"), col("y_id")).as("b_id"))
        .distinct()
    }

    val withN = newKeys.join(sizes, Seq("bkey", "ktype")) // inner: every probe key has >= itself

    val direct = withN
      .filter(col("bucket_n") <= maxBucket)
      .select(col("bkey"), col("ktype"), col("item_id").as("x_id"), col("sh").as("x_sh"))
      .hint("shuffle_hash")
      .join(
        pruned.select(col("bkey"), col("ktype"), col("item_id").as("y_id"), col("sh").as("y_sh")),
        Seq("bkey", "ktype"))
      .filter(col("x_id") =!= col("y_id") && keep(col("x_sh"), col("y_sh")))
      .select(
        least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id"))

    val star = withN
      .filter(
        col("bucket_n") > maxBucket && col("item_id") =!= col("min_id") &&
          keep(col("sh"), col("min_sh")))
      .select(
        least(col("item_id"), col("min_id")).as("a_id"),
        greatest(col("item_id"), col("min_id")).as("b_id"))

    // the old-hub patch edge: pre-batch minimum per flooded bucket (batch
    // members anti-joined away), paired with a batch arrival that is the
    // new bucket minimum. Empty when the bucket min is an old member (the
    // common case) or the bucket is entirely new (the star alone spans it).
    val oldMin = pruned
      .join(newKeys.select("bkey", "ktype", "item_id"),
        Seq("bkey", "ktype", "item_id"), "left_anti")
      .groupBy("bkey", "ktype")
      .agg(min("item_id").as("o_id"), min_by(col("sh"), col("item_id")).as("o_sh"))
    val patch = withN
      .filter(col("bucket_n") > maxBucket && col("item_id") === col("min_id"))
      .join(oldMin, Seq("bkey", "ktype"))
      .filter(keep(col("sh"), col("o_sh")))
      .select(
        least(col("item_id"), col("o_id")).as("a_id"),
        greatest(col("item_id"), col("o_id")).as("b_id"))

    direct.unionByName(star).unionByName(patch).distinct()
  }
}
