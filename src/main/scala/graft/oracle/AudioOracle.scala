package graft.oracle

import graft.audio.ClipSynth
import graft.text.FuzzySetRef
import org.apache.spark.sql.SparkSession

/** Independent in-memory oracle for the three audio queries (round-1
  * CORRECTNESS had them `no_oracle`). WAV bytes and reference-semantics
  * clustering are not expressible in DuckDB SQL over the driver's parquet
  * tables, so the expected values are computed here — single-threaded pure
  * JVM, by implementations INDEPENDENT of the engine's distributed path —
  * and written as parquet that the oracle SQL reads back via
  * `read_parquet('<outDir>/expected/...')`:
  *
  *  - decode: a fresh fixed-layout RIFF parser (not [[graft.audio.Wav]]'s
  *    chunk walker) over the canonical 44-byte container;
  *  - SNR / RMS / zero-crossing math: re-written straight-line loops in the
  *    same IEEE operation order as the engine UDFs, so doubles agree
  *    bit-for-bit within one JVM;
  *  - clusters: the reference-semantics in-memory set ([[FuzzySetRef]],
  *    which carries the Haskell implementation's own behavior, quirks
  *    included) + a sequential union-find — no Spark, no LSH, no
  *    distributed code in the expected-label computation.
  *
  * The INPUT rows (bytes, transcripts) come from the shared deterministic
  * synthesis plan — they are the fixture under test, not part of the
  * checked computation.
  */
object AudioOracle {

  /** Fixed-layout parse of the canonical mono pcm_s16le WAV the fixture
    * emits: byte offsets per the RIFF spec, little-endian, with the header
    * fields asserted rather than searched.
    */
  private[oracle] def decode(bytes: Array[Byte]): (Int, Array[Short]) = {
    def ascii(off: Int, n: Int) = new String(bytes, off, n, "US-ASCII")
    require(ascii(0, 4) == "RIFF" && ascii(8, 4) == "WAVE", "not a RIFF/WAVE file")
    require(ascii(12, 4) == "fmt " && ascii(36, 4) == "data", "non-canonical chunk layout")
    def le16(off: Int): Int = (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    def le32(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
        ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)
    require(le16(20) == 1 && le16(22) == 1 && le16(34) == 16, "not mono pcm_s16le")
    val sr = le32(24)
    val dataLen = le32(40)
    val n = dataLen / 2
    val out = new Array[Short](n)
    var k = 0
    while (k < n) { out(k) = le16(44 + 2 * k).toShort; k += 1 }
    (sr, out)
  }

  /** The fixture's clean-signal definition (FIXTURES.md §B): amplitude
    * 0.8*32767 sine at 440*(1 + i mod 7) Hz.
    */
  private def clean(i: Long, srHz: Int, durMs: Int): Array[Double] = {
    val amp = 0.8 * Short.MaxValue
    val n = (srHz.toLong * durMs / 1000).toInt
    val freq = 440.0 * (1 + (i % 7))
    Array.tabulate(n)(t => amp * math.sin(2.0 * math.Pi * freq * t / srHz))
  }

  private def snrDb(ref: Array[Double], test: Array[Short]): Double = {
    var sig = 0.0; var err = 0.0; var k = 0
    while (k < ref.length) {
      sig += ref(k) * ref(k)
      val e = test(k).toDouble - ref(k)
      err += e * e
      k += 1
    }
    if (err == 0.0) Double.PositiveInfinity else 10.0 * math.log10(sig / err)
  }

  /** Spark's round() on DoubleType: BigDecimal HALF_UP at `scale`. */
  private def sparkRound(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x).setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Expected rows for q_audio_invariant over the first n clips. */
  def expectedInvariant(n: Int, seed: Long = 42L): Seq[(String, Double, Boolean, Boolean)] =
    (0 until n).map { i =>
      val c = ClipSynth.clipAt(i.toLong, seed)
      val (sr, samples) = decode(c.bytes)
      val snr = snrDb(clean(c.base_idx, sr, c.dur_ms), samples)
      val expectTranscript = ClipSynth.clipAt(i.toLong, seed, includeAudio = false).transcript
      (c.clip_id, snr, snr >= graft.audio.Invariant.MinSnrDb, c.transcript == expectTranscript)
    }

  /** Expected rows for q_audio_features over the first n clips: RMS over
    * samples 1..len-1 and zero-crossing-rate pitch estimate, the loops in
    * the engine UDF's operation order.
    */
  def expectedFeatures(n: Int, seed: Long = 42L): Seq[(String, Int, Double, Double)] =
    (0 until n).map { i =>
      val c = ClipSynth.clipAt(i.toLong, seed)
      val (sr, samples) = decode(c.bytes)
      var sumSq = 0.0; var zc = 0; var k = 1
      while (k < samples.length) {
        sumSq += samples(k).toDouble * samples(k)
        if ((samples(k) >= 0) != (samples(k - 1) >= 0)) zc += 1
        k += 1
      }
      val rms = math.sqrt(sumSq / math.max(samples.length - 1, 1))
      val zcrHz = zc.toDouble * sr / (2.0 * samples.length)
      (c.clip_id, c.sr_hz, sparkRound(rms, 3), sparkRound(zcrHz, 1))
    }

  /** Expected (clip_id, component) for q_audio_dedup over the first n
    * clips: reference-semantics matching (exact-key first-writer dedup,
    * then per distinct key the gram-size cascade of getMatches excluding
    * the self hit — exactly the Haskell pipeline) feeding a sequential
    * union-find; component label = minimum clip_id in the component.
    */
  def expectedClusters(n: Int, seed: Long = 42L): Seq[(String, String)] =
    clusterLabels(n, seed, minScore = 0.33, substrMinRatio = None)

  /** Expected (clip_id, component) for q_stream_dedup: the scale path's
    * documented edge contract — exact-key star edges, reference getMatches
    * cascade edges at `minScore`, PLUS substring-containment edges
    * (contained key a strict substring of a longer container key at
    * len(a)/len(b) >= `minRatio`, mirroring Candidates.substringPairs'
    * verified semantics) — fed to the same sequential union-find. Still
    * fully independent of the distributed path: reference-semantics
    * in-memory set + brute-force O(keys^2) contains scan, no Spark.
    * Sound as a scale-path oracle only at minScore above the percolation
    * band (>= 0.5 — BASELINE.md round-4 scale-boundary finding): there the
    * LSH candidate set provably covers every reference edge
    * (MidScaleAgreementSpec measured 1.0 agreement).
    */
  def expectedStreamClusters(n: Int, minScore: Double, minRatio: Double, seed: Long = 42L): Seq[(String, String)] =
    clusterLabels(n, seed, minScore, Some(minRatio))

  private def clusterLabels(
      n: Int, seed: Long, minScore: Double, substrMinRatio: Option[Double]): Seq[(String, String)] = {
    val texts = (0 until n).map(i => ClipSynth.clipAt(i.toLong, seed, includeAudio = false).transcript)
    val ids = (0 until n).map(i => f"clip_$i%012d")

    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); var c = x; while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }; r }
    def union(a: Int, b: Int): Unit = { val ra = find(a); val rb = find(b); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }

    val ref = FuzzySetRef.fromList(texts)
    val keyToFirst = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    texts.zipWithIndex.foreach { case (t, i) =>
      val k = t.toLowerCase(java.util.Locale.ROOT)
      keyToFirst.get(k) match {
        case Some(f) => union(f, i)
        case None => keyToFirst(k) = i
      }
    }
    keyToFirst.foreach { case (k, f) =>
      val res = (ref.gramSizeUpper to ref.gramSizeLower by -1).iterator
        .map(sz => ref.getMatches(k, minScore, sz).filter(_._2.toLowerCase(java.util.Locale.ROOT) != k))
        .find(_.nonEmpty)
        .getOrElse(Nil)
      res.foreach { case (_, m) => union(f, keyToFirst(m.toLowerCase(java.util.Locale.ROOT))) }
    }
    substrMinRatio.foreach { minRatio =>
      val keys = keyToFirst.keys.toArray
      // FIXTURE GUARD (not reference semantics): the engine path this
      // oracle validates (Candidates.substringPairs) caps distinct
      // containers per window at FuzzyConf.maxBandBucket (default 100) — a
      // deliberate hot-window fanout bound for 10^12-row corpora. This
      // brute scan has no cap, so a fixture corpus where a real pair's
      // join window is shared by more containers than the cap would make
      // oracle and engine diverge SILENTLY (a spurious q_stream_dedup
      // failure — or a pass that masks capped-away pairs). Fail loudly at
      // oracle-generation time instead. The window set mirrors the
      // engine's window rule: every length-L window (L = 16), plus every
      // strictly shorter window of a container of at most (L-1)/minRatio
      // chars; a contained key joins on its first L chars. 90 (< 100)
      // leaves headroom for the engine's approx_count_distinct (~2% HLL
      // error) so the fixture never sits ON the cap boundary.
      val L = 16
      val capWithHeadroom = 90
      val containerCount = scala.collection.mutable.HashMap.empty[String, Int]
      val maxShortContainerLen = ((L - 1) / minRatio).toInt
      keys.foreach { b =>
        val wins = scala.collection.mutable.HashSet.empty[String]
        var i = 0
        while (i + L <= b.length) { wins += b.substring(i, i + L); i += 1 } // length-L windows
        if (b.length <= maxShortContainerLen) { // shorter windows of a short container
          val maxLen = math.min(L - 1, b.length - 1)
          var len = 1
          while (len <= maxLen) {
            var j = 0
            while (j + len <= b.length) { wins += b.substring(j, j + len); j += 1 }
            len += 1
          }
        }
        wins.foreach(w => containerCount(w) = containerCount.getOrElse(w, 0) + 1)
      }
      var i = 0
      while (i < keys.length) {
        var j = 0
        while (j < keys.length) {
          val a = keys(i); val b = keys(j)
          if (a.length < b.length && a.length.toDouble / b.length >= minRatio && b.contains(a)) {
            val window = if (a.length >= L) a.substring(0, L) else a
            require(containerCount.getOrElse(window, 0) <= capWithHeadroom,
              s"fixture corpus outgrew the engine's hot-window cap: window of " +
                s"'${a.take(24)}' is contained in ${containerCount(window)} keys " +
                s"(engine caps at 100) — shrink/reshape the fixture or raise maxBandBucket")
            union(keyToFirst(a), keyToFirst(b))
          }
          j += 1
        }
        i += 1
      }
    }
    (0 until n).map(i => (ids(i), ids(find(i))))
  }

  /** Write all expected tables under `expDir` (one parquet dir per query,
    * single file each — they are small validation fixtures).
    */
  def writeExpected(spark: SparkSession, expDir: String, nDedup: Int = 2000, nAudio: Int = 200): Unit = {
    import spark.implicits._
    expectedInvariant(nAudio)
      .toDF("clip_id", "snr_db", "pcm_ok", "transcript_ok")
      .coalesce(1).write.mode("overwrite").parquet(s"$expDir/q_audio_invariant.parquet")
    expectedFeatures(nAudio)
      .toDF("clip_id", "sr_hz", "rms", "est_freq_hz")
      .coalesce(1).write.mode("overwrite").parquet(s"$expDir/q_audio_features.parquet")
    expectedClusters(nDedup)
      .toDF("clip_id", "component")
      .coalesce(1).write.mode("overwrite").parquet(s"$expDir/q_audio_dedup.parquet")
    expectedStreamClusters(nDedup, minScore = 0.5, minRatio = 0.5)
      .toDF("clip_id", "component")
      .coalesce(1).write.mode("overwrite").parquet(s"$expDir/q_stream_dedup.parquet")
  }
}
