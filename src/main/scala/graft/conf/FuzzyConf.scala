package graft.conf

/** Engine configuration.
  *
  * The first four fields mirror the reference's config scalars:
  * gram-size bounds and Levenshtein toggle
  * (`/root/reference/src/Data/FuzzySet/Internal.hs:53-58`), default values
  * (2, 3, true) from `defaultSet`
  * (`/root/reference/src/Data/FuzzySet/Simple.hs:160-161`) and the default
  * minimum score 0.33 (`Simple.hs:226`).
  *
  * The remaining fields configure the scale path (MinHash/LSH, SimHash,
  * skew handling) that the single-node reference does not need: its
  * inverted index (`Internal.hs:51`) is a degenerate LSH with band = one
  * gram, which stops scaling once postings lists grow with corpus size.
  * The skew-regime fields (maxBandBucket, saltChunk, maxSaltedBucket)
  * govern the one bucket-pair kernel (Candidates.taggedSelfPairs) on both
  * paths: the batch pipeline, where every key of a bucket is a probe, and
  * each streaming micro-batch, whose own keys probe the earlier key state.
  *
  * @param gramLo         inclusive lower bound of gram sizes
  * @param gramHi         inclusive upper bound of gram sizes
  * @param useLevenshtein rerank top-50 cosine candidates by normalized
  *                       Levenshtein similarity (`Internal.hs:87-93`; the
  *                       50 is the reference's fixed take,
  *                       FindStage.TopKRerank)
  * @param minScore       drop results scoring below this (`Simple.hs:226`)
  * @param minhashBands   LSH band count
  * @param rowsPerBand    MinHash rows per band. With independent hash
  *                       functions the candidate probability would be the
  *                       S-curve 1 - (1 - j^r)^b for Jaccard j; defaults
  *                       b=21, r=6 put its threshold at (1/21)^(1/6) ~
  *                       0.60, and vocabulary-level similarity (j ~ 0.4)
  *                       collides with probability < 0.09. The signature
  *                       family (h1 + k*h2) mod P is NOT independent
  *                       across components k: one gram can own a long run
  *                       of them (36 of 126 in a recorded miss), so one
  *                       edit that removes it moves many components at
  *                       once and near pairs miss more often than the
  *                       curve says — 2 of 66,641 planted single-typo
  *                       pairs shared no band where the curve expects
  *                       0.05 (CHANGES.md). Token-drop/append dups at
  *                       lower j are covered by the exact-substring pass,
  *                       byte-identical ones by the exact pass
  * @param maxBandBucket  probe rows sharing one bucket (LSH band value or
  *                       SimHash chunk) before the bucket is declared HOT:
  *                       hot buckets switch from the direct in-bucket join
  *                       to SALTED pair generation (north rule: "salted
  *                       repartitioning for skewed shingle bands") —
  *                       per-task work stays bounded by saltChunk x bucket
  *                       instead of probes x bucket in a single task
  * @param saltChunk      target probes per salt chunk inside a hot bucket
  * @param maxSaltedBucket buckets of more members than this (probes or
  *                       not) switch to STAR candidates (probe ->
  *                       bucket-min, linear in bucket size): all-pairs
  *                       volume is quadratic no matter the partitioning,
  *                       but a genuine near-identical flood is a real
  *                       duplicate cluster, and its spanning star is all
  *                       that connected components needs; degenerate
  *                       near-constant bands are pruned by verification
  *                       at |bucket| cost (Candidates.taggedSelfPairs
  *                       scaladoc)
  * @param maxPostingsPerGram stop-list threshold: grams whose document
  *                       frequency exceeds this are dropped from the
  *                       candidate join (they only add quadratic pairs);
  *                       verification still uses full gram vectors
  * @param sigGateMinJaccard MinHash-estimated Jaccard below which a
  *                       candidate pair is dropped before the scoring
  *                       joins (FindStage.verifyPairs). The default 0.3
  *                       sits > 5 sigma below any genuinely-near pair at
  *                       the default minScore 0.33 (stderr ~
  *                       sqrt(j(1-j)/H) ~ 0.045 at H=126); a run with a
  *                       LOWER minScore must lower this gate in step or
  *                       low-J pairs are silently lost before scoring
  *
  * The substring-dup pass (suffix-array stand-in, SURVEY §7.4) is not
  * configured here: its join prefix length L = 16 and minimum
  * len(contained)/len(container) 0.5 are the constants
  * Candidates.SubstringPrefixLen / SubstringMinRatio, and it takes its
  * hot-window cap from maxBandBucket.
  */
final case class FuzzyConf(
    gramLo: Int = 2,
    gramHi: Int = 3,
    useLevenshtein: Boolean = true,
    minScore: Double = 0.33,
    minhashBands: Int = 21,
    rowsPerBand: Int = 6,
    maxBandBucket: Int = 100,
    saltChunk: Int = 64,
    maxSaltedBucket: Int = 4096,
    maxPostingsPerGram: Int = 10000,
    sigGateMinJaccard: Double = 0.3
) {
  require(gramLo >= 2, "gram size must be at least 2 (Internal.hs:193)")
  require(gramHi >= gramLo, "gramHi must be >= gramLo")
  /** MinHash signature length: one component per band row. */
  def minhashHashes: Int = minhashBands * rowsPerBand
  /** Gram sizes in query-cascade order: upper bound first (Simple.hs:181). */
  def sizesDesc: Seq[Int] = gramHi.to(gramLo, -1)
  def sizes: Seq[Int] = gramLo to gramHi
}

object FuzzyConf {
  /** The reference's `defaultSet` config (Simple.hs:160-161, 226). */
  val default: FuzzyConf = FuzzyConf()
}
