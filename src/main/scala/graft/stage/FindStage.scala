package graft.stage

import graft.sql.{functions => gf}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed `findMin`/`getMatches` (Internal.hs:76-106, Simple.hs:176-186)
  * plus the two dedup verification flavors.
  *
  * Determinism note: every score here is bit-identical to the in-memory
  * oracle because the dot products and squared magnitudes are INTEGER sums
  * (order-free under any shuffle), and only then divided/sqrt'd in double —
  * so top-50 boundaries and minScore filters agree exactly across
  * partitionings, resumes, and cluster sizes. Ties in the cosine sort are
  * broken by the item key (the reference's own tests sort by entry,
  * Spec.hs:136; its runtime tie order is HashMap-fold nondeterminism).
  */
object FindStage {

  /** Cosine candidates kept per query before the Levenshtein rerank: the
    * reference's fixed take-50 (`Internal.hs:87-92`).
    */
  val TopKRerank = 50

  /** Probe-mode findMin. probes: (query_id, query). Returns
    * (query_id, score, matched, gram_size); gram_size 0 = exact pass.
    *
    * Reproduces: exact-key short-circuit (score 1.0, fuzzy skipped) ->
    * gram-size cascade LARGEST FIRST with anti-join fallthrough (SURVEY §4
    * O4: the dense size-2 join runs only for probes size 3 missed).
    *
    * `broadcastProbes` (default true — the reference's query workloads are
    * tiny next to the corpus): hint the probe-gram side broadcast so the
    * postings table is NEVER shuffled for a lookup; disable for bulk-probe
    * workloads whose gram sets exceed broadcast size.
    *
    * The cascade checkpoints each non-final size's matches into `scratch`;
    * a caller looping over batches releases it after each write
    * (StreamFind.writeBatch) — under [[Scratch.noop]] they live for the session.
    */
  def findMin(
      probes: DataFrame,
      idx: IndexTables,
      minScore: Double,
      broadcastProbes: Boolean = true,
      scratch: Scratch = Scratch.noop): DataFrame = {
    val p = probes
      .select(col("query_id").cast("string").as("query_id"), col("query"))
      .withColumn("qkey", lower(col("query")))

    val exact = p
      .join(idx.items.select(col("key").as("qkey"), col("original")), Seq("qkey"))
      .select(col("query_id"), lit(1.0).as("score"), col("original").as("matched"),
        lit(0).as("gram_size"))

    val rest = p
      .join(idx.items.select(col("key").as("qkey")), Seq("qkey"), "left_anti")
      .select("query_id", "qkey")

    val fuzzy = cascade(rest, idx, minScore, excludeSelf = false,
      smallProbes = broadcastProbes, scratch = scratch) { (remaining, n) =>
      // map-side gram counts (GramCountsExpr) — no groupBy per probe
      remaining
        .select(col("query_id"), explode(gf.gramCounts(col("qkey"), n)).as("e"))
        .select(col("query_id"), col("e.gram").as("gram"), col("e.cnt").as("qcnt"))
    }
    exact.unionByName(fuzzy.drop("matched_id"))
  }

  /** Corpus self-matching with FULL reference fidelity — the reference
    * pipeline verbatim as a distributed postings self-join (SURVEY §3.2):
    * every item probes the whole index through the inverted-index equi-join,
    * top-50 crowding and all; the item itself participates in ranking (it
    * occupies a top-50 slot, exactly as a self-query would) but is excluded
    * from the returned edges. Quadratic in postings collisions — correct at
    * any scale but the frequent-gram bomb (SURVEY §7.4) makes it the
    * small-corpus / validation path; `verifyPairs` over LSH candidates is
    * the 10^12 path.
    */
  def selfFindEdges(idx: IndexTables, minScore: Double): DataFrame = {
    val probes = idx.items.select(col("item_id").as("query_id"), col("key").as("qkey"))
    cascade(probes, idx, minScore, excludeSelf = true) { (remaining, n) =>
      idx.postings
        .filter(col("gram_size") === n)
        .select(col("item_id").as("query_id"), col("gram"), col("cnt").as("qcnt"))
        .join(remaining.select("query_id"), Seq("query_id"), "left_semi")
    }.select(col("query_id").as("a_id"), col("matched_id").as("b_id"),
      lit("fuzzy").as("kind"), col("score"))
  }

  /** Shared gram-size cascade. qgrams(remaining, n) must yield
    * (query_id, gram, qcnt) for the still-unresolved probes. Emits
    * (query_id, score, matched, matched_id, gram_size); when excludeSelf,
    * matches with item_id == query_id are dropped AFTER ranking (they still
    * crowd the top-50, as in a true self-query) and a probe falls through
    * to the next size if only its self-match passed.
    */
  private def cascade(
      probes: DataFrame,
      idx: IndexTables,
      minScore: Double,
      excludeSelf: Boolean,
      smallProbes: Boolean = false,
      scratch: Scratch = Scratch.noop
  )(qgrams: (DataFrame, Int) => DataFrame): DataFrame = {
    val conf = idx.conf

    // frequent-gram stop-list (SURVEY §4 O1 / §7.4): a gram appearing in
    // more than maxPostingsPerGram items turns the postings equi-join
    // quadratic ("-t" at 10^12 rows is a petabyte of join output) while
    // carrying almost no cosine discrimination. Drop such grams from the
    // JOIN only — magnitudes stay full, so scores for retained grams are
    // unchanged; below the threshold (default 10k) behavior is exactly the
    // reference's. Documented divergence above it. Computed ONCE for every
    // gram size (round 1 re-ran the df aggregation per cascade size).
    // SMALL-CORPUS SPREAD (guide §2: shuffles are sized by bytes, this work
    // by CPU): the dots join below fans each posting row out once per probe
    // sharing its gram — on a dense-vocabulary corpus that is tens of
    // millions of join+agg operations over a byte-tiny table, and AQE's
    // size-based coalescing serializes them onto 1-2 tasks (measured 17-33 s
    // single-task stages on the sf0.1 documents corpus, whose 1.5M gram
    // occurrences span only 432 distinct trigrams). When the pipeline's
    // leaf-stats gate certified the corpus small (IndexTables
    // .spreadParallelism > 0), an explicit round-robin exchange — cost
    // bounded by the gate — spreads the scan to cluster width; corpus-scale
    // indexes keep the no-shuffle broadcast-probe plan untouched.
    val postingsSrc =
      if (idx.spreadParallelism > 0) idx.postings.repartition(idx.spreadParallelism)
      else idx.postings
    val post =
      if (conf.maxPostingsPerGram > 0) {
        val ok = idx.postings
          .groupBy("gram_size", "gram")
          .agg(count(lit(1)).as("df"))
          .filter(col("df") <= conf.maxPostingsPerGram)
          .select("gram_size", "gram")
        postingsSrc.join(ok, Seq("gram_size", "gram"), "left_semi")
      } else postingsSrc

    // probe-side tables are query-workload sized when smallProbes: hint
    // them broadcast so the corpus-sized postings/norms sides are never
    // shuffled for a lookup
    def probeSide(df: DataFrame): DataFrame = if (smallProbes) df.hint("broadcast") else df

    var remaining = probes
    var acc: Option[DataFrame] = None

    val lastSize = conf.sizesDesc.last
    for (n <- conf.sizesDesc) {
      val qg = qgrams(remaining, n)
      val qnorm = qg.groupBy("query_id").agg(sqrt(sum(col("qcnt") * col("qcnt"))).as("qmag"))

      val dots = probeSide(qg)
        .join(post.filter(col("gram_size") === n).drop("gram_size"), Seq("gram"))
        .groupBy("query_id", "item_id")
        .agg(sum(col("qcnt").cast("long") * col("cnt")).as("dot"))

      val inorm = idx.norms.filter(col("gram_size") === n).select(col("item_id"), col("magnitude"))
      val cos = dots
        .join(probeSide(qnorm), Seq("query_id"))
        .join(inorm, Seq("item_id"))
        .filter(col("qmag") > 0 && col("magnitude") > 0)
        .withColumn("cosine", col("dot") / (col("qmag") * col("magnitude")))

      val withKeys = cos
        .join(idx.items.select(col("item_id"), col("key"), col("original")), Seq("item_id"))
        .join(probeSide(remaining), Seq("query_id"))

      val scored =
        if (conf.useLevenshtein) {
          // take-50 BEFORE the expensive rerank (Internal.hs:90); rerank
          // compares raw lowercased keys, not gram-normalized text
          // (Internal.hs:91 — SURVEY §7.4 asymmetry trap)
          val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("key").asc)
          withKeys
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") <= TopKRerank)
            .withColumn("score", gf.levNormSim(col("qkey"), col("key")))
        } else withKeys.withColumn("score", col("cosine"))

      val passed = scored.filter(col("score") >= minScore)
      val foundRaw =
        (if (excludeSelf) passed.filter(col("item_id") =!= col("query_id")) else passed)
          .select(col("query_id"), col("score"), col("original").as("matched"),
            col("item_id").as("matched_id"), lit(n).as("gram_size"))
      // Materialize each non-final size's matches ONCE (lazy, serialized
      // blocks): `found` feeds the result union AND — via the `remaining`
      // anti-join — both the next size's gram derivation and its probe
      // join, so without a checkpoint the whole size-n subtree (the dots
      // join, the window, the rerank) is re-planned and re-executed once
      // per consumer (profiler: twin 15.5 s stages computing the identical
      // size-3 pass concurrently on q_audio_dedup). Blocks are match-sized
      // (probes x top-50 in lev mode), released with `scratch`.
      val found =
        if (n == lastSize) foundRaw
        else scratch.checkpoint(foundRaw, eager = false, StorageLevel.MEMORY_AND_DISK_SER)

      acc = Some(acc.map(_.unionByName(found)).getOrElse(found))
      remaining = remaining.join(found.select("query_id").distinct(), Seq("query_id"), "left_anti")
    }
    acc.get.select("query_id", "score", "matched", "matched_id", "gram_size")
  }

  /** Postings restricted to ids appearing on either side of the candidate
    * pair set, via a semi-join (broadcastable id set -> the corpus-wide
    * postings table is scanned once and never shuffled whole). Exposed
    * pre-checkpoint so plan tests can pin the LeftSemi shape;
    * [[verifyPairs]] consumes the checkpointed form.
    */
  private[graft] def prunedPostings(pairs: DataFrame, idx: IndexTables): DataFrame = {
    val candIds = pairs
      .select(col("a_id").as("item_id"))
      .unionByName(pairs.select(col("b_id").as("item_id")))
      .distinct()
    idx.postings.join(candIds, Seq("item_id"), "left_semi")
  }

  /** Top-1 per query: deterministic (score desc, matched asc). */
  def bestPerQuery(results: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("matched").asc)
    results.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Above this many candidate pairs the pair side is no longer hinted
    * broadcast in [[verifyPairs]] or in the substring pass's key joins
    * (Candidates.substringPairs): a corpus-scale pair set must shuffle; a
    * bench/query-scale one should never force the corpus-sized sigs /
    * items / key tables through an exchange.
    */
  private[stage] val broadcastPairLimit = 1000000L

  /** A pair table joined to its two endpoint tables: `aSide` on a_id, then
    * `bSide` on b_id. A `small` pair side is hinted broadcast, so the
    * corpus-sized endpoint tables are scanned in place; otherwise the pair
    * side is hinted SHUFFLE-HASH instead of degrading to sort-merge (guide
    * §3.1), and so is `bSide`, which must be the build of the second join
    * rather than the (possibly wide) intermediate streaming into it. The
    * join keys are item ids and the pair rows are narrow: SMJ's full sorts
    * of the wide streamed sides were the dominant cost of the verify gate
    * (interleaved A/B at 1.6M clips / 2.47M pairs: SMJ 8.8-24.1 s vs SHJ
    * 1.9-3.1 s, identical survivor count).
    */
  private[stage] def endpointJoin(
      pairs: DataFrame, small: Boolean, aSide: DataFrame, bSide: DataFrame): DataFrame =
    if (small) pairs.hint("broadcast").join(aSide, Seq("a_id")).join(bSide, Seq("b_id"))
    else pairs.hint("shuffle_hash").join(aSide, Seq("a_id"))
      .join(bSide.hint("shuffle_hash"), Seq("b_id"))

  /** Pair verification for candidate pairs (a_id, b_id) — the 10^12-scale
    * path: the reference scoring kernel applied per candidate pair.
    *
    * score: with useLevenshtein (the reference default), levNormSim(key_a,
    * key_b) — identical to the score the reference rerank would assign.
    * The signature gate already certifies shared grams (see below), so the
    * lev mode goes straight from gate to keys: no postings join at all.
    * Without useLevenshtein, the cosine at the largest gram size where the
    * pair PASSES minScore (mirroring the cascade's fallthrough — see the
    * window comment below), via a postings equi-join RESTRICTED to
    * candidate ids — linear in (pairs x shared grams), never all-pairs.
    * Divergence from probe mode: no per-query top-50 crowding (can only
    * ADD pairs, so recall vs the oracle is preserved; SURVEY §2.5
    * tie-break note).
    *
    * `pairs` must be materialized by the caller (it is counted to pick the
    * broadcast side).
    */
  def verifyPairs(
      pairs: DataFrame,
      idx: IndexTables,
      minScore: Double,
      scratch: Scratch = Scratch.noop): DataFrame = {
    val conf = idx.conf

    // the candidate volume is known (caller materializes pairs): it picks
    // the endpoint-join regime of the gate (endpointJoin — here the
    // streamed sides carry H-component signature arrays)
    val smallPairs = pairs.count() <= broadcastPairLimit

    // signature-estimated Jaccard prefilter: a 128-component compare per
    // pair (cheap) gates the scoring joins. stderr ~ sqrt(j(1-j)/H) ~
    // 0.045, so the default 0.3 cutoff (conf.sigGateMinJaccard — tied to
    // the minScore the run uses, see FuzzyConf scaladoc) sits > 5 sigma
    // below any genuinely-near pair (single-edit J >= 0.65); on
    // vocabulary-dense corpora this drops the candidate volume ~100x.
    // gf.estJaccard is a native codegen expression over the raw array
    // words — the Seq[Long] UDF it replaces boxed 2 x H longs per pair
    // through the converter, a measured slice of the edge stage's GC wall
    val sa = idx.sigs.select(col("item_id").as("a_id"), col("sig").as("a_sig"))
    val sb = idx.sigs.select(col("item_id").as("b_id"), col("sig").as("b_sig"))
    val gatedRaw = endpointJoin(pairs, smallPairs, sa, sb)
      .filter(gf.estJaccard(col("a_sig"), col("b_sig")) >= conf.sigGateMinJaccard)
      .select("a_id", "b_id")

    if (conf.useLevenshtein) {
      // estJaccard >= 0.3 means >= ceil(0.3 * H) equal MinHash components,
      // and an equal component is (64-bit collision aside) a SHARED gramHi
      // shingle — exactly the shared-gram existence the reference's
      // inverted-index walk establishes before its rerank. The lev-mode
      // score never reads the dot product, so the postings machinery the
      // round-2 path ran here (prune + two pair-gram joins + groupBy +
      // window: the most expensive stages of the whole flagship profile)
      // added no information. Straight to the keys.
      val ka = idx.items.select(col("item_id").as("a_id"), col("key").as("a_key"))
      val kb = idx.items.select(col("item_id").as("b_id"), col("key").as("b_key"))
      // large regime: the gate is ~100x selective (FuzzyConf scaladoc), so
      // the survivors are usually broadcastable even when the raw pair set
      // was not — materialize them (scratch-released) and pick the key-join
      // regime from the ACTUAL count: broadcast keeps the corpus-sized items
      // table unshuffled (and per-batch streaming verification O(batch)
      // instead of O(state) for these joins). A small pair set's survivors
      // are small too and stay a lazy plan.
      val (gated, gatedSmall) =
        if (smallPairs) (gatedRaw, true)
        else {
          val g = scratch.checkpoint(gatedRaw, eager = false, StorageLevel.MEMORY_AND_DISK_SER)
          (g, g.count() <= broadcastPairLimit)
        }
      return endpointJoin(gated, gatedSmall, ka, kb)
        .withColumn("score", gf.levNormSim(col("a_key"), col("b_key")))
        .filter(col("score") >= minScore)
        .select(col("a_id"), col("b_id"), lit("fuzzy").as("kind"), col("score"))
    }

    // consumed by three branches below; scratch once the caller's verified
    // edges are materialized
    val gated = scratch.checkpoint(gatedRaw, eager = true)

    // semi-join prune postings to candidate ids BEFORE the pair join: the
    // candidate id set is tiny relative to the corpus (broadcast), so the
    // postings scan shrinks to candidate rows instead of shuffling the
    // full postings table on (b_id, gram_size, gram). ONE scan, lazily
    // materialized — postings is a recompute-on-read projection of items,
    // so feeding the a-side and b-side from separate scans (round 1) paid
    // the corpus-wide gram extraction twice
    val pruned = scratch.checkpoint(prunedPostings(gated, idx), eager = false)
    val pa = pruned
      .select(col("item_id").as("a_id"), col("gram_size"), col("gram"), col("cnt").as("a_cnt"))
    val pb = pruned
      .select(col("item_id").as("b_id"), col("gram_size"), col("gram"), col("cnt").as("b_cnt"))

    val dots = gated
      .join(pa, Seq("a_id"))
      .join(pb, Seq("b_id", "gram_size", "gram"))
      .groupBy("a_id", "b_id", "gram_size")
      .agg(sum(col("a_cnt").cast("long") * col("b_cnt")).as("dot"))

    val na = idx.norms.select(col("item_id").as("a_id"), col("gram_size"), col("magnitude").as("a_mag"))
    val nb = idx.norms.select(col("item_id").as("b_id"), col("gram_size"), col("magnitude").as("b_mag"))
    val cos = dots
      .join(na, Seq("a_id", "gram_size"))
      .join(nb, Seq("b_id", "gram_size"))
      .withColumn("cosine", col("dot") / (col("a_mag") * col("b_mag")))

    // per pair keep the largest gram size whose cosine PASSES minScore —
    // filtering first is what preserves the cascade's fallthrough: a pair
    // can share size-3 grams at cosine3 < minScore yet pass at size 2, and
    // the probe-mode cascade (no size-3 match for the probe) emits it at
    // size 2. Keeping the largest SHARED size before the filter (rounds
    // 1-3) silently dropped exactly those edges. For every pair the
    // cascade finds at size s this reports the same size-s score: the
    // cascade stopping at s means no larger size passed for that pair.
    val w = Window.partitionBy("a_id", "b_id").orderBy(col("gram_size").desc)
    cos
      .filter(col("cosine") >= minScore)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      .withColumn("score", col("cosine"))
      .select(col("a_id"), col("b_id"), lit("fuzzy").as("kind"), col("score"))
  }
}
