package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.{functions => F}

/** Column-level building blocks for the engine.
  *
  * Everything here composes Spark BUILT-IN expressions (whole-stage codegen,
  * no UDF in the hot path) — per the Catalyst coverage assessment in
  * SURVEY.md §4. Semantics mirror the reference kernels:
  *
  *  - normText / enclosed / shingles <-> `normalized`/`enclosedIn`/`grams`
  *    (`/root/reference/src/Data/FuzzySet/Internal.hs:191-211`,
  *    `Utils.hs:26-30`)
  *  - levNormSim <-> `distance` (`Internal.hs:231-232`)
  *
  * Signatures (MinHash + SimHash + band tokens) come from ONE native
  * kernel, [[sigBandsFromKey]], over the portable md5 family of
  * [[PortableHash]] (md5 prefix -> 60-bit int, Kirsch-Mitzenmacher double
  * hashing mod a 1e9-scale prime), so the DuckDB correctness oracle can
  * reproduce signatures bit-for-bit in plain SQL.
  */
object functions {

  /** Modulus for the portable hash family; small enough that
    * k * (h % P) + (h % P) never overflows Long for k <= 4096 (the oracle
    * SQL computes (h1 + k*h2) % P directly).
    */
  val HashP: Long = 1000000007L

  /** Reference `normalized` (Internal.hs:204-211): lowercase, keep Unicode
    * alphanumerics (L* and Nd/Nl/No), whitespace (Haskell isSpace: \t-\r
    * plus category Zs ONLY — GHC does not treat Zl/Zp U+2028/U+2029 as
    * space, so they are dropped) and ','.
    */
  private[sql] val NormDropRegex =
    "[^\\p{L}\\p{Nd}\\p{Nl}\\p{No}\\t\\n\\x0B\\f\\r\\p{Zs},]"

  def normText(c: Column): Column =
    F.regexp_replace(F.lower(c), NormDropRegex, "")

  /** `enclosedIn '-'` (Utils.hs:26-27). */
  def enclosed(c: Column): Column = F.concat(F.lit("-"), c, F.lit("-"))

  /** Character n-grams over the normalized, hyphen-enclosed input
    * (Internal.hs:191-197) — the native codegen expression
    * [[ShinglesExpr]] (see its scaladoc for why the built-in
    * transform/sequence/substr composition is ~70x slower).
    */
  def shingles(c: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      ShinglesExpr(org.apache.spark.sql.GraftColumnBridge.expression(c), n))

  /** Reference `gramVector` (Internal.hs:161-164) as a native expression:
    * array<struct<gram, cnt>> computed map-side — see GramCountsExpr for
    * why this keeps the postings build shuffle-free.
    */
  def gramCounts(c: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      GramCountsExpr(org.apache.spark.sql.GraftColumnBridge.expression(c), n))

  /** MinHash signature + SimHash + LSH band tokens of a KEY column in one
    * native streaming pass — struct<sig, simhash, band_hashes>, NULL for
    * gram-less keys. The engine's only signature kernel; see
    * [[SigBandsFromKeyExpr]].
    */
  def sigBandsFromKey(keyCol: Column, n: Int, numHashes: Int, bands: Int, rowsPerBand: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      SigBandsFromKeyExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(keyCol),
        n, numHashes, bands, rowsPerBand))

  /** Normalized Levenshtein SIMILARITY (Internal.hs:231-232):
    * 1 - edits/max(len); both-empty => 1.0.
    */
  def levNormSim(a: Column, b: Column): Column = {
    val maxLen = F.greatest(F.length(a), F.length(b))
    F.when(maxLen === 0, F.lit(1.0))
      .otherwise(F.lit(1.0) - F.levenshtein(a, b).cast("double") / maxLen.cast("double"))
  }

  /** Estimated Jaccard from two MinHash signatures: fraction of agreeing
    * components (stderr ~ sqrt(j(1-j)/H)). Native codegen expression
    * (EstJaccardExpr): the zip_with/aggregate HOF form ran in the
    * expression interpreter per component, and a Seq[Long] UDF boxes 2 x H
    * longs per row — both measured GC drivers on the pair-verification
    * gate, which evaluates this once per candidate pair.
    */
  def estJaccard(sigA: Column, sigB: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      EstJaccardExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(sigA),
        org.apache.spark.sql.GraftColumnBridge.expression(sigB)))

  /** LSH band keys of a signature column: array of `bands` strings
    * "<band>:<sig[b*r]>,...". A band key equality <=> the r signature rows
    * in that band all agree — the readable, oracle-reproducible form of
    * the kernel's 64-bit band_hashes.
    */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    F.transform(
      F.sequence(F.lit(0), F.lit(bands - 1)),
      b =>
        F.concat(
          b.cast("string"),
          F.lit(":"),
          F.array_join(
            F.transform(
              F.slice(sig, b * rowsPerBand + 1, F.lit(rowsPerBand)),
              v => v.cast("string")),
            ",")))

  /** Hamming distance between two simhash fingerprints. */
  def hamming(a: Column, b: Column): Column = F.bit_count(a.bitwiseXOR(b))

  /** Polynomial rolling-hash document fingerprint over code points:
    * fold(acc = (acc*31 + ascii(ch)) mod P). Portable to DuckDB
    * list_reduce. Deterministic, order-sensitive (unlike set hashes).
    */
  def rollingFingerprint(c: Column): Column =
    F.when(F.length(c) === 0, F.lit(0L)).otherwise(
      F.aggregate(
        F.sequence(F.lit(1), F.length(c)),
        F.lit(0L),
        (acc, i) => (acc * 31 + F.ascii(c.substr(i, F.lit(1)))) % HashP))

  /** Cosine similarity between two float-array columns (dot / (|a|*|b|)),
    * computed in double precision, left-to-right — matches DuckDB
    * list_reduce order for the oracle.
    */
  def cosineSim(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      F.aggregate(
        F.zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        F.lit(0.0),
        (acc, v) => acc + v)
    dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))
  }
}
