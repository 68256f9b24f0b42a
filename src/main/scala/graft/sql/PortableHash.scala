package graft.sql

/** The portable md5 hash family behind every signature: md5 of UTF-8,
  * first/second 15 hex chars -> 60-bit longs, mod P double hashing —
  * reproducible bit-for-bit by the DuckDB oracle SQL.
  *
  * Holds the per-row accumulator and band mixing of the signature kernel
  * ([[SigBandsFromKeyExpr]]) and the driver-side [[h60]] that derives
  * Ann's hyperplane entries. One tight Scala pass per row, not a column
  * expression: Catalyst inlines single-use projection aliases back into a
  * consuming lambda (CollapseProject) and higher-order functions
  * re-evaluate their array argument per outer element, so an expression
  * form re-ran the per-gram md5 work per signature component — measured
  * 25x slower on the index build.
  */
object PortableHash {

  val P: Long = functions.HashP

  private val HexChars = "0123456789abcdef".toCharArray
  private val digestTL = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def md5Hex(s: String): String = {
    val md = digestTL.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** 60-bit long from 15 hex chars at offset 1 or 17 (1-based, like the
    * SQL substr).
    */
  def h60(s: String, off: Int): Long =
    java.lang.Long.parseLong(md5Hex(s).substring(off - 1, off + 14), 16)

  /** The 60-bit word starting at digest byte `off` (0 for the first hex
    * half, 8 for the second): bytes off..off+6 big-endian plus the HIGH
    * nibble of byte off+7 — bit-identical to
    * `parseLong(md5Hex(s).substring(2*off, 2*off+15), 16)` without
    * materializing the 32-char hex string and two substrings per gram
    * (a measured slice of the signature stage's GC at bench scale).
    */
  @inline private[sql] def digest60(d: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = off
    while (i < off + 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(off + 7) >> 4) & 0xfL)
  }

  /** The thread's reusable md5 instance, reset — for the signature kernel,
    * which streams window bytes directly without a String or byte array per
    * gram.
    */
  private[sql] def md5Reset(): java.security.MessageDigest = {
    val md = digestTL.get()
    md.reset()
    md
  }

  /** Streaming accumulator for one row's signature: MinHash over the
    * distinct grams, SimHash balance over every occurrence.
    */
  final class SigState(numHashes: Int) {
    val sig: Array[Long] = Array.fill(numHashes)(Long.MaxValue)
    private val balance = new Array[Long](60)

    /** Fold one gram occurrence given its two 60-bit md5 words;
      * `distinct` = first occurrence of this gram in the row (minhash uses
      * the distinct set, simhash every occurrence).
      */
    def addWords(h1full: Long, h2full: Long, distinct: Boolean): Unit = {
      // simhash uses every occurrence (multiset weights)
      var b = 0
      while (b < 60) {
        balance(b) += (if (((h1full >>> b) & 1L) == 1L) 1L else -1L)
        b += 1
      }
      if (distinct) {
        val h1 = h1full % P
        val h2 = h2full % P
        var k = 0
        var hk = h1
        while (k < numHashes) {
          if (hk < sig(k)) sig(k) = hk
          k += 1
          // (h1 + k*h2) % P by induction: hk, h2 < P so hk + h2 < 2P and
          // one conditional subtraction IS the modulo — the 64-bit division
          // this replaces ran numHashes times per distinct gram (~6 OPS vs
          // ~30 cycles each), the hottest arithmetic of the signature stage
          hk += h2
          if (hk >= P) hk -= P
        }
      }
    }

    def simhash: Long = {
      var sim = 0L
      var b = 0
      while (b < 60) {
        if (balance(b) > 0) sim |= (1L << b)
        b += 1
      }
      sim
    }
  }

  /** splitmix64 finalizer — strong 64-bit mixing for band tokens. */
  @inline private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Band-collision tokens from a MinHash signature: band b's token mixes
    * (b, sig[b*r] .. sig[b*r+r-1]). Token equality <=> the r signature rows
    * of that band all agree (modulo 64-bit collisions, which can only ADD a
    * candidate pair — pair verification rejects them). Computed here, in
    * the same tight pass as the signature, because the column-expression
    * form (nested transform/slice/array_join) runs in the HOF interpreter
    * at ~300us/row — it was the single hottest spot of the round-2 bench.
    */
  def bandHashes(sig: Array[Long], bands: Int, rowsPerBand: Int): Array[Long] = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = mix64(b.toLong)
      var r = 0
      while (r < rowsPerBand) { h = mix64(h ^ sig(b * rowsPerBand + r)); r += 1 }
      out(b) = h
      b += 1
    }
    out
  }
}
