package graft.stage

import graft.conf.FuzzyConf
import graft.sql.FusedKeysExpr
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable.ArrayBuffer

/** Candidate-pair generation — the scale replacement for the reference's
  * all-items inverted-index walk (Internal.hs:67-74), which at 10^12 rows
  * would make every frequent gram a quadratic bomb (SURVEY.md §4 O1).
  *
  * Three passes, all equi-joins (shuffle-hash/sort-merge under AQE):
  *  - exact: star edges inside identical-key groups — O(group) not
  *    O(group^2), since connected components only needs a spanning star
  *  - MinHash/LSH: self-join on band keys; three skew regimes — direct,
  *    salted all-pairs, and STAR (probe -> bucket-min, linear) for
  *    flood-sized buckets, so worst-case pair fanout stays bounded without
  *    losing genuine near-identical floods
  *  - SimHash: self-join on 15-bit fingerprint chunks (4 chunks of the
  *    60-bit fingerprint => any pair within hamming distance 3 shares at
  *    least one exact chunk), verified by bit_count(xor) <=
  *    FusedKeysExpr.MaxHamming
  *
  * The last two run fused through ONE bucket-pair kernel,
  * [[taggedSelfPairs]]: every pair sharing a bucket with at least one
  * PROBE endpoint. The batch ([[fusedPairs]]) makes every key a probe; the
  * stream ([[incrementalPairsFromKeys]]) makes its micro-batch's keys the
  * probes of the earlier key state — the streaming join as the batch join
  * probed by the new records only. Star by bucket size n, then direct or
  * salted by probe count p; p = n for the batch.
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

  /** Every unordered (a_id < b_id) pair of item_ids that shares a bucket
    * and has at least one PROBE endpoint — the one bucket-pair kernel of
    * both paths. `keyed` has columns (bkey, ktype, item_id, sh, probe): the
    * batch ([[fusedPairs]]) marks every row a probe, the stream
    * ([[incrementalPairsFromKeys]]) marks its micro-batch's keys probes and
    * the earlier key state non-probes. Three skew regimes per bucket of n
    * members, p of them probes (north rule: "salted repartitioning for
    * skewed shingle bands"):
    *
    *  - n > maxSaltedBucket: STAR — each probe pairs with the bucket
    *    minimum only, and a probe that IS the minimum pairs with the
    *    minimum of the non-probe rows (the old hub; see below);
    *  - p <= maxBandBucket: direct in-bucket join of the probes against
    *    every member — at most ~p x n candidate rows per bucket, fine
    *    inside one task;
    *  - otherwise SALTED — the probes split into ceil(p/saltChunk) chunks
    *    by an id hash; the A (probe) side keeps its home chunk, the B side
    *    (every member) is replicated to EVERY chunk, and the join key
    *    becomes (bkey, chunk). An unordered pair materializes only in its
    *    probe endpoint's home chunk (in the smaller id's when both are
    *    probes), so per-task work is bounded by saltChunk x n instead of
    *    p x n serializing in one task.
    *
    * For the batch p = n, so regimes and chunks follow bucket size alone.
    * For the stream a micro-batch bringing more than maxBandBucket members
    * into one bucket is salted too — batch 0 of a stream is all probes.
    *
    * Rows with ktype = 1 are SimHash chunk keys carrying the full
    * fingerprint in `sh`; pairs from those buckets are kept only at
    * hamming(a_sh, b_sh) <= [[FusedKeysExpr.MaxHamming]], and the filter
    * runs BEFORE the pair distinct. That placement is the scale lever: at
    * corpus size n the raw 15-bit-chunk collision volume is ~n^2/2^15
    * pairs (~8M rows at 400k items), and round 2 shuffled all of it
    * through a distinct plus two signature re-joins before filtering —
    * here the xor/bit_count runs inside the join stage and only survivors
    * (plus LSH pairs) reach the distinct.
    *
    * Buckets beyond maxSaltedBucket enter the STAR regime (round 2 dropped
    * them): |bucket| candidates instead of |bucket|^2/2. A genuine
    * near-identical flood IS a real duplicate cluster that produces
    * exactly such buckets; the star is the spanning structure connected
    * components needs, and verification prunes the two failure shapes
    * cheaply: a DEGENERATE band (near-constant signature band over
    * dissimilar items) yields star edges that fail the signature gate at
    * |bucket| cost, and a chain-shaped flood whose far ends fail
    * rep-verification still recovers through its other, independent band
    * draws. Across stream batches the star needs one extra edge: a probe
    * that BECOMES the bucket minimum gets no (member -> min) edge itself,
    * and every earlier member's star hangs off the OLD hub — so it is
    * linked to the old hub, keeping the bucket one component inductively.
    * The batch has no non-probe rows, so no old hub.
    */
  private[stage] def taggedSelfPairs(
      keyed: DataFrame,
      conf: FuzzyConf,
      scratch: Scratch = Scratch.noop): DataFrame = {
    val (cap, saltChunk, maxSalted) = (conf.maxBandBucket, conf.saltChunk, conf.maxSaltedBucket)
    val sizes = scratch.checkpoint(keyed
      .groupBy("bkey", "ktype")
      .agg(count(lit(1)).as("bucket_n"), count_if(col("probe")).as("probe_n"))
      .filter(col("bucket_n") > 1), eager = false, StorageLevel.MEMORY_AND_DISK_SER)
    // ONE stats job over the materialized directory blocks: row count
    // (broadcast-vs-shuffle decision), largest bucket, largest probe count
    // and non-probe member count (regime and branch gating)
    val dirStats = sizes
      .agg(count(lit(1)), coalesce(max("bucket_n"), lit(0L)), coalesce(max("probe_n"), lit(0L)),
        coalesce(sum(col("bucket_n") - col("probe_n")), lit(0L)))
      .head()
    val (dirRows, maxBucketN, maxProbeN) = (dirStats.getLong(0), dirStats.getLong(1), dirStats.getLong(2))
    val allProbes = dirStats.getLong(3) == 0L
    // six downstream branches (small a/b, hot A/B, flood x2) consume the
    // keyed-with-size table, so it is materialized ONCE (scratch-tracked,
    // released with the branch): the directory inner-join drops every
    // singleton-bucket key, so the blocks hold only collision-bucket
    // members — a small fraction of the corpus-×-bands explode — and the
    // branches read those blocks instead of each re-running the full
    // sigs-scan + key explode + size join (guide §1.2 "don't recompute";
    // interleaved A/B at 1.6M clips: 13.5-17.1 s -> 9.8-12.1 s for the
    // candidates stage, same pairs). A small non-singleton directory (the
    // common case — most band values are unique) is BROADCAST into that
    // join, so it needs no shuffle; beyond the limit the size join
    // shuffles (the 10^12-scale shape).
    val dir = if (dirRows <= bucketDirBroadcastLimit) sizes.hint("broadcast") else sizes
    val withN = scratch.checkpoint(keyed.join(dir, Seq("bkey", "ktype")),
      eager = false, StorageLevel.MEMORY_AND_DISK_SER)
    def keep(aSh: Column, bSh: Column) =
      (col("ktype") =!= 1) || bit_count(aSh.bitwiseXOR(bSh)) <= FusedKeysExpr.MaxHamming
    def unordered(aId: Column, bId: Column) = Seq(least(aId, bId).as("a_id"), greatest(aId, bId).as("b_id"))
    def bSide(df: DataFrame, extra: Column*) = df.select(Seq(col("bkey"), col("ktype")) ++ extra ++
      Seq(col("item_id").as("b_id"), col("sh").as("b_sh"), col("probe").as("b_probe")): _*)
    // probe A x member B: a probe-probe pair once (a < b), a probe-state
    // pair once from its probe end. When the directory proves every member
    // a probe (the batch), the probe filter and the state arm are no-ops
    // and are left out: the direct join's two sides are then the same
    // exchange, which AQE shuffles once. SHUFFLE_HASH, not sort-merge
    // (guide §3.1): the probe side is the smaller build (bounded by `cap`
    // per bucket directly, by saltChunk per chunk salted), and the two full
    // sorts SMJ would pay on the widest tables of the stage buy nothing
    def probesOf(df: DataFrame) = if (allProbes) df else df.filter(col("probe"))
    val once =
      if (allProbes) col("a_id") < col("b_id")
      else col("a_id") < col("b_id") || (!col("b_probe") && col("a_id") =!= col("b_id"))
    def probePairs(a: DataFrame, b: DataFrame, on: Seq[String]) = a
      .hint("shuffle_hash")
      .join(b, on)
      .filter(once && keep(col("a_sh"), col("b_sh")))
      .select(unordered(col("a_id"), col("b_id")): _*)

    // A run whose buckets never reach the hot/flood regimes would still
    // PLAN and EXECUTE those branches — two more passes over the keyed
    // explode, a salt explode, a bucket-min aggregation and their AQE
    // stages — only to union empty frames. The maxProbeN / maxBucketN gates
    // below skip branches the directory PROVES empty; pair-set output is
    // identical by construction (a skipped branch's filter matches zero
    // rows).
    val unsalted = withN.filter(col("bucket_n") <= maxSalted)
    val small = unsalted.filter(col("probe_n") <= cap)
    val smallPairs = probePairs(
      probesOf(small).select(col("bkey"), col("ktype"), col("item_id").as("a_id"), col("sh").as("a_sh")),
      bSide(small), Seq("bkey", "ktype"))

    val hot = unsalted
      .filter(col("probe_n") > cap)
      .withColumn("n_chunks", ceil(col("probe_n").cast("double") / saltChunk).cast("int"))
    val hotPairs = probePairs(
      probesOf(hot).select(
        col("bkey"),
        col("ktype"),
        pmod(xxhash64(col("item_id")), col("n_chunks").cast("long")).cast("int").as("chunk"),
        col("item_id").as("a_id"),
        col("sh").as("a_sh")),
      bSide(hot, explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk")),
      Seq("bkey", "ktype", "chunk"))

    // star regime: probe -> bucket-min edges, one per probe; the probe that
    // is the bucket min links to the old hub (min of the non-probe rows)
    val flood = withN.filter(col("bucket_n") > maxSalted)
    val stateId = when(!col("probe"), col("item_id"))
    val floodMin = flood
      .groupBy("bkey", "ktype")
      .agg(min("item_id").as("m_id"), min_by(col("sh"), col("item_id")).as("m_sh"),
        min(stateId).as("o_id"), min_by(col("sh"), stateId).as("o_sh"))
    val isMin = col("item_id") === col("m_id")
    val floodPairs = flood
      .filter(col("probe"))
      .select(col("bkey"), col("ktype"), col("item_id"), col("sh"))
      .join(floodMin.hint("shuffle_hash"), Seq("bkey", "ktype")) // one row per flooded bucket
      .select(col("ktype"), col("item_id"), col("sh"),
        when(isMin, col("o_id")).otherwise(col("m_id")).as("hub"),
        when(isMin, col("o_sh")).otherwise(col("m_sh")).as("hub_sh"))
      .filter(col("hub").isNotNull && keep(col("sh"), col("hub_sh")))
      .select(unordered(col("item_id"), col("hub")): _*)

    (Seq(smallPairs) ++
      (if (maxProbeN > cap) Seq(hotPairs) else Nil) ++
      (if (maxBucketN > maxSalted) Seq(floodPairs) else Nil))
      .reduce(_ unionByName _)
      .distinct()
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

  /** Join-key prefix length L of the substring pass (SURVEY §7.4). */
  val SubstringPrefixLen = 16

  /** Minimum len(contained)/len(container) for a substring pair to count
    * as a duplicate edge.
    */
  val SubstringMinRatio = 0.5

  /** Longest container that also hashes its sub-L windows:
    * floor((L-1)/minRatio) = 30. A contained key shorter than L has at most
    * L-1 chars, so at minRatio its containers have at most this many.
    */
  private val MaxShortContainerLen = ((SubstringPrefixLen - 1) / SubstringMinRatio).toInt

  /** Exact substring-containment pairs — the distributed realization of
    * the north rule's suffix-array pass (SURVEY §7.4). A key `a` is a
    * substring of key `b` iff some suffix of `b` starts with `a`, so ONE
    * hash join finds every candidate, then real containment is verified:
    *  - contained side: every non-empty key, hashed on its first L chars
    *    (the whole key when shorter);
    *  - container side ([[prefixHashes]]): every length-L window of a key,
    *    and, for keys of at most [[MaxShortContainerLen]] chars, every
    *    strictly shorter window of the lengths some contained key has —
    *    minRatio bounds the containers of a key shorter than L to that
    *    length. Equal-length containment is key equality, the exact pass's
    *    territory.
    * Both sides hash with the same XXH64, so a window matches exactly the
    * contained keys whose join prefix it equals; a 64-bit collision can
    * only ADD a candidate, which the contains() check rejects. Hot window
    * hashes are capped like LSH buckets.
    *
    * Two physical paths, picked by contained-side size:
    *  - BROADCAST (<= substringBroadcastLimit keys): the distinct
    *    contained-prefix hashes ship to every task as one sorted long
    *    array; each container row probes its window hashes against it by
    *    binary search and emits ONLY the matches. The generic path's
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
    * 3 extra jobs at sf0.1). Inputs estimated above the gate, or with
    * unknown stats (an RDD-backed frame), take the materialized arm.
    *
    * Emits (a_id=contained, b_id=container, kind="substr",
    * score=len(a)/len(b)) for score >= [[SubstringMinRatio]].
    *
    * NOTE: the pass local-checkpoints intermediate tables (window hits and
    * candidate pairs on corpus-scale input, exploded windows in the
    * explode-join arm). With the default [[Scratch.noop]] those blocks
    * stay pinned for the SparkContext lifetime — fine for a one-shot call,
    * but a long-lived driver calling this repeatedly must pass its own
    * `scratch` and `release()` it once the returned pairs are materialized
    * (FuzzyPipeline does).
    */
  def substringPairs(items: DataFrame, maxBucket: Int, scratch: Scratch = Scratch.noop): DataFrame =
    substringPass(items, maxBucket, scratch, substringBroadcastLimit)

  /** [[substringPairs]] with the broadcast-vs-explode limit as a parameter,
    * so specs can drive the explode-join arm on a small fixture.
    */
  private[stage] def substringPass(
      items: DataFrame,
      maxBucket: Int,
      scratch: Scratch,
      broadcastLimit: Long): DataFrame = {
    // query-scale inputs keep the lazy plan; corpus-scale (or
    // unknown-stats) inputs take the materialized/hinted arms below
    val lazyPlan = SmallInput(items)
    val keys = items
      .select(col("item_id"), col("key"), length(col("key")).as("klen"))
      .filter(col("klen") >= 1)
    val contained = keys.select(col("item_id").as("a_id"),
      xxhash64(col("key").substr(lit(1), lit(SubstringPrefixLen))).as("pfx"))

    // ONE stats job: contained-side row count (the broadcast-vs-explode
    // gate) and the sub-L lengths contained keys have — the only short
    // window lengths that can match, so the only ones hashed
    val stats = keys
      .agg(count(lit(1)), collect_set(when(col("klen") < SubstringPrefixLen, col("klen"))))
      .head()
    val nContained = stats.getLong(0)
    val shortLens = stats.getSeq[Int](1).sorted.toArray
    val matches: DataFrame =
      if (nContained <= broadcastLimit) {
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
        val hits = keys.select(col("item_id").as("b_id"),
          explode(prefixHashes(shortLens, Some(bc))(col("key"))).as("pfx"))
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
        // even the window string are hashed away before the shuffle.
        // Materialized once: the hot-window aggregation and the candidate
        // join consume it on different keys, so exchange reuse cannot
        // share the explode.
        val containers = scratch.checkpoint(keys
          .select(col("item_id").as("b_id"), explode(prefixHashes(shortLens, None)(col("key"))).as("pfx")),
          eager = false, StorageLevel.MEMORY_AND_DISK_SER)
        containers.join(contained.select("pfx").distinct(), Seq("pfx"), "left_semi")
      }

    // cap counts distinct CONTAINERS per window hash, not occurrences: a
    // few long keys with internally repeated windows must not push a hash
    // past the cap and silently drop genuine containment pairs (round-2
    // ADVICE). approx_count_distinct (HLL, ~2% err) suffices — the cap is
    // a fanout bound, not an exact semantic. `matches` holds only matching
    // windows, so this aggregation is tiny.
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
    // the candidate set is tiny after the window match + fanout cap, and
    // joining it to the corpus-sized key table twice as sort-merge
    // shuffles and SORTS the whole key table both times. Materialize the
    // candidates (scratch-released) and pick the join regime from the
    // ACTUAL count.
    val la = keys.select(col("item_id").as("a_id"), col("key").as("a_key"), col("klen").as("a_len"))
    val lb = keys.select(col("item_id").as("b_id"), col("key").as("b_key"), col("klen").as("b_len"))
    val joined =
      if (lazyPlan) candidatePairsRaw.join(la, Seq("a_id")).join(lb, Seq("b_id"))
      else {
        val cand = scratch.checkpoint(candidatePairsRaw, eager = false, StorageLevel.MEMORY_AND_DISK_SER)
        FindStage.endpointJoin(cand, cand.count() <= FindStage.broadcastPairLimit, la, lb)
      }
    val score = col("a_len").cast("double") / col("b_len")
    joined
      .filter(col("a_len") < col("b_len") && col("b_key").contains(col("a_key")) && score >= SubstringMinRatio)
      .select(col("a_id"), col("b_id"), lit("substr").as("kind"), score.as("score"))
  }

  /** Hash of the length-`len` window at char offset i, value-identical to
    * `xxhash64(substr(key, i+1, len))` (same XXH64, same seed 42). ASCII
    * keys hash in place over the UTF8 bytes (zero copies); multi-byte keys
    * take per-window substrings for char-correct offsets.
    */
  @inline private def windowHash(u: UTF8String, ascii: Boolean, i: Int, len: Int): Long =
    if (ascii) XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset + i, len, 42L)
    else {
      val s = u.substring(i, i + len)
      XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
    }

  /** The substring pass's container side in one tight Scala pass: the
    * hashes of every length-L window of a key and, when the key has at
    * most [[MaxShortContainerLen]] chars, of every window of each length
    * in `shortLens` (all < L) that is shorter than the key. With a
    * broadcast sorted `matchSet` only the hashes found in it (binary
    * search per window) are emitted, so no corpus x key explode ever
    * materializes; without one, every window hash is. The column form
    * ran a transform() lambda in the HOF interpreter per window — at
    * |corpus| x |key| windows it was ~half the pass's cost (round-3
    * profile: 67 s / 48% GC at 400k items).
    */
  private[stage] def prefixHashes(
      shortLens: Array[Int],
      matchSet: Option[Broadcast[Array[Long]]]): UserDefinedFunction =
    udf { (key: String) =>
      val set = if (matchSet.isEmpty) null else matchSet.get.value
      val u = UTF8String.fromString(key)
      val nc = u.numChars()
      val ascii = u.numBytes == nc
      val out = ArrayBuffer.empty[Long]
      def windows(len: Int): Unit = {
        var i = 0
        while (i + len <= nc) {
          val h = windowHash(u, ascii, i, len)
          if (set == null || java.util.Arrays.binarySearch(set, h) >= 0) out += h
          i += 1
        }
      }
      if (nc <= MaxShortContainerLen) shortLens.foreach(len => if (len < nc) windows(len))
      windows(SubstringPrefixLen)
      out.toArray
    }

  /** Unordered candidate pairs from LSH band collisions and SimHash chunk
    * collisions at hamming distance <= [[FusedKeysExpr.MaxHamming]], fused
    * into ONE keyed table -> one bucket-size aggregation, one
    * materialization, one self-join, one distinct — half the
    * candidate-generation stage chain of running the two passes
    * separately. The serial length of that chain is what bounds single-box
    * (and per-executor) scaling; the work per stage is identical. Band keys
    * and chunk keys live in disjoint (bkey, ktype) spaces, so bucket
    * contents — and therefore the emitted pair set — match the separate
    * passes exactly (CandidatesSpec pins the union equality). Every key is
    * a probe of [[taggedSelfPairs]].
    *
    * NOTE: pair generation local-checkpoints the bucket directory and the
    * pruned keyed-with-size table. With the default [[Scratch.noop]] those
    * blocks stay pinned for the SparkContext lifetime — fine for a
    * one-shot call, but a long-lived driver calling this repeatedly must
    * pass its own `scratch` and `release()` it once the returned pairs are
    * materialized (FuzzyPipeline does).
    */
  def fusedPairs(sigs: DataFrame, conf: FuzzyConf, scratch: Scratch = Scratch.noop): DataFrame =
    taggedSelfPairs(fusedKeyed(sigs).withColumn("probe", lit(true)), conf, scratch)

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
    * `stateKeys` the key state of EARLIER batches — the incremental form of
    * [[fusedPairs]] for streaming ingestion: the same kernel
    * ([[taggedSelfPairs]]) with the batch's keys as probes. New-vs-new pairs
    * are produced too; below the star regime the union over batches of
    * these pair sets is exactly what [[fusedPairs]] emits — a pair (a, b)
    * is generated at the batch that added its later endpoint, when the
    * earlier one is already in `stateKeys` (CandidatesSpec pins set
    * equality).
    *
    * Cost: ONE pass over the key state, semi-join-pruned to the buckets
    * this batch touches, then all shuffles are O(batch x bucket) — never a
    * corpus-wide explode or corpus-wide aggregation. The pruning scan
    * itself is O(|state|) IO per batch in the parquet sandbox; on the
    * Iceberg seam the key table is bucket-partitioned and the same
    * semi-join prunes at the metadata level. The pruned, probe-tagged keys
    * are localCheckpointed (two consumers: the kernel's bucket directory
    * and its size join) and `scratch`-tracked for release once the caller
    * materializes the pairs: a long-lived driver calling this per
    * micro-batch with the default [[Scratch.noop]] would grow its pinned
    * blocks by one pruned-state-sized set per batch (StreamDedup
    * .processBatch passes and releases its own).
    */
  def incrementalPairsFromKeys(
      newKeys: DataFrame,
      stateKeys: DataFrame,
      conf: FuzzyConf,
      scratch: Scratch = Scratch.noop): DataFrame = {
    val cols = Seq("bkey", "ktype", "item_id", "sh").map(col)
    val touched = newKeys.select("bkey", "ktype").distinct()
    val keyed = scratch.checkpoint(
      stateKeys.join(touched, Seq("bkey", "ktype"), "left_semi").select(cols :+ lit(false).as("probe"): _*)
        .unionByName(newKeys.select(cols :+ lit(true).as("probe"): _*)),
      eager = false, StorageLevel.MEMORY_AND_DISK_SER)
    taggedSelfPairs(keyed, conf, scratch)
  }
}
