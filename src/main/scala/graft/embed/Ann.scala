package graft.embed

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbor search over an embedding column
  * (array<float>) — the training-data-pipeline operator set the reference
  * corpus lacks but a 100 TB corpus needs next to transcript dedup.
  *
  * Two paths:
  *  - brute-force cosine top-k (the correctness baseline): a probe x corpus
  *    nested-loop with the dot product as a codegen'd array expression —
  *    fine for probe sets, quadratic for self-joins;
  *  - random-hyperplane LSH (the scale path): bucket = sign bits of
  *    projections onto `planes` pseudo-random hyperplanes; only same-bucket
  *    pairs are scored, turning the quadratic scan into a bucket equi-join.
  *
  * Determinism/oracle parity: embeddings are quantized to integer
  * milli-units and plane entries are integers derived from md5
  * (entry(p,d) = md5_60("p:d") mod 2001 - 1000), so projections and dot
  * products are EXACT integer sums — DuckDB reproduces buckets and ranking
  * bit-for-bit.
  */
object Ann {

  /** array<float> -> array<long> milli-quantized (exact in both engines). */
  def quantize(v: Column): Column =
    transform(v, e => round(e.cast("double") * 1000, 0).cast("long"))

  /** Integer dot product of two quantized vectors. */
  def dotQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (p, q) => p * q), lit(0L), (acc, x) => acc + x)

  /** Cosine from quantized vectors (double division at the very end). */
  def cosineQ(a: Column, b: Column): Column =
    dotQ(a, b).cast("double") / (sqrt(dotQ(a, a).cast("double")) * sqrt(dotQ(b, b).cast("double")))

  /** Plane entry (p,d): md5-derived int in [-1000, 1000]. Computed
    * driver-side (java MessageDigest md5 == Spark md5 == DuckDB md5) and
    * shipped in the broadcast plane table, so executors pay zero hashing
    * per row.
    */
  def planeEntry(p: Int, d: Int): Long =
    graft.sql.PortableHash.h60(s"$p:$d", 1) % 2001 - 1000

  /** Sign-bit bucket id over `planes` hyperplanes for a quantized vector:
    * bit p set iff sum_d v[d] * entry(g,d) >= 0, with g = band*planes + p
    * (so each band draws an INDEPENDENT set of hyperplanes from the same
    * md5 family). The plane matrix is computed once on the driver and
    * shipped once per executor via a broadcast; a UDF does one tight
    * integer pass per row. Plan size stays O(1) in dim x planes — literal
    * plane arrays bloated the plan with a Catalyst node per entry (a
    * measured multi-second one-time compile on q_embed_lsh_topk) and ran
    * per-element aggregate() lambdas in the HOF interpreter.
    */
  def lshBucket(vq: Column, dim: Int, planes: Int, band: Int = 0): Column = {
    // 63 is the honest Long capacity: plane 63 would set the sign bit
    // (negative bucket keys, breaking the documented [0, 2^planes) range),
    // and at planes >= 65 the shift wraps mod 64 — plane 64 would alias
    // bit 0. More bits per band than this are pointless anyway: split into
    // more bands.
    require(planes >= 1 && planes <= 63, s"planes must be in [1,63], got $planes")
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    // one broadcast per DISTINCT plane table per context — bucketedTopK
    // calls this once per band per side, and a fresh broadcast per call
    // would accumulate identical multi-KB tables on driver + executors for
    // the application lifetime. Keyed by the context's startTime so a
    // restarted context (tests) never reuses a dead context's broadcast;
    // the map stays bounded by the distinct (context, band, planes, dim)
    // configurations actually used.
    // evict entries left behind by stopped contexts (a driver that cycles
    // sessions in one JVM — long test suites, notebooks — would otherwise
    // accumulate dead Broadcast handles and their plane arrays forever)
    val it = planeBcCache.keySet.iterator()
    while (it.hasNext) {
      val k = it.next()
      if (k._1 != sc.startTime) {
        // drop the handle WITHOUT destroy(): Broadcast.destroy routes
        // through the CURRENT SparkEnv keyed by the numeric broadcast id,
        // and a restarted context reuses ids from 0 — destroying a stale
        // handle here could delete a LIVE broadcast of the new context
        // that happens to share its id. The dead context's blocks were
        // already reclaimed when it stopped; the handle itself is the only
        // thing left to release.
        planeBcCache.remove(k)
      }
    }
    val bc = planeBcCache.computeIfAbsent(
      (sc.startTime, band, planes, dim),
      _ => sc.broadcast(Array.tabulate(planes, dim)((p, d) => planeEntry(band * planes + p, d))))
    val bucketUdf = udf { (v: Seq[java.lang.Long]) =>
      // dirty rows — a null vector, a null element, or any length
      // mismatch — land in bucket 0 instead of failing the task
      if (v == null || v.length != dim || v.contains(null)) 0L
      else {
        val pt = bc.value
        var bits = 0L
        var p = 0
        while (p < pt.length) {
          val row = pt(p)
          var s = 0L
          var d = 0
          while (d < row.length) { s += v(d) * row(d); d += 1 }
          if (s >= 0) bits |= (1L << p)
          p += 1
        }
        bits
      }
    }
    bucketUdf(vq)
  }

  private val planeBcCache =
    new java.util.concurrent.ConcurrentHashMap[
      (Long, Int, Int, Int),
      org.apache.spark.broadcast.Broadcast[Array[Array[Long]]]]

  /** Brute-force cosine top-k: probes (query_id, qv) x corpus (vec_id, v),
    * both quantized. Returns (query_id, item_id, cosine) with rank <= k.
    */
  def bruteTopK(probes: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    // quadratic BY CONTRACT (validation baseline — bucketedTopK is the
    // scale path). Pin the nested-loop build side to the probe set: probes
    // are the small side of every sane call, and without the hint AQE is
    // free to broadcast the CORPUS instead, serializing the scan over a
    // probe-count-sized stream (the round-3 q_embed_topk 2.1 -> 5.7 s
    // drift was exactly this plan flip)
    //
    // Per-ROW norms are precomputed on each side before the pair join:
    // cosineQ per pair evaluates THREE interpreted-HOF dot products
    // (dot(a,b), dot(a,a), dot(b,b)) — the self-dots are row-constant, so
    // 2/3 of the per-pair element work was redundant. cosine =
    // dot/(sqrt(aa)*sqrt(bb)) with the same doubles in the same order, so
    // values are bit-identical to cosineQ.
    val cos = probes
      .withColumn("qn", sqrt(dotQ(col("qv"), col("qv")).cast("double")))
      .hint("broadcast")
      .join(corpus.withColumn("vn", sqrt(dotQ(col("v"), col("v")).cast("double"))),
        col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        dotQ(col("qv"), col("v")).cast("double") / (col("qn") * col("vn")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    cos
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id").as("item_id"), col("cosine"))
  }

  /** LSH-bucketed top-k: same contract as [[bruteTopK]], but only
    * same-bucket candidates are scored (equi-join on (band, bucket) instead
    * of the nested loop). MULTI-BAND (round-2 fix — round 1 ran one band,
    * whose recall at scale is low-or-giant-buckets with no middle ground):
    * `bands` independent 2^planes-bucket partitionings; a pair is a
    * candidate if it collides in ANY band, mirroring the MinHash band
    * structure, so recall = 1 - (1 - p_agree^planes)^bands is tunable by
    * adding bands at linear cost. Candidates are deduped on (query, item)
    * BEFORE the vector join, so a pair colliding in several bands is
    * scored once.
    */
  def bucketedTopK(
      probes: DataFrame,
      corpus: DataFrame,
      dim: Int,
      planes: Int,
      k: Int,
      bands: Int = 3): DataFrame = {
    def withBuckets(df: DataFrame, vcol: String, id: String): DataFrame =
      df.select(
        col(id),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"), lshBucket(col(vcol), dim, planes, b).as("bucket"))
        }: _*)).as("bb"))
        .select(col(id), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

    val cand = withBuckets(probes, "qv", "query_id")
      .join(withBuckets(corpus, "v", "vec_id"), Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
      .distinct()
    // same per-row norm precompute as bruteTopK (bit-identical cosine)
    val cos = cand
      .join(probes.select(col("query_id"), col("qv"),
        sqrt(dotQ(col("qv"), col("qv")).cast("double")).as("qn")), Seq("query_id"))
      .join(corpus.select(col("vec_id"), col("v"),
        sqrt(dotQ(col("v"), col("v")).cast("double")).as("vn")), Seq("vec_id"))
      .withColumn("cosine",
        dotQ(col("qv"), col("v")).cast("double") / (col("qn") * col("vn")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    cos
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id").as("item_id"), col("cosine"))
  }
}
