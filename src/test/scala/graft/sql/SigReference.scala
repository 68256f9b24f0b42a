package graft.sql

/** Scalar parity reference for the signature kernel (SigBandsFromKeyExpr),
  * computed the way the DuckDB oracle SQL does: hex-parsed md5 words
  * ([[PortableHash.h60]]), component k = min over the DISTINCT grams of
  * (h1 + k*h2) mod P, SimHash bit b set iff more gram OCCURRENCES have bit
  * b of h1 set than clear.
  */
object SigReference {

  /** (MinHash signature, 60-bit SimHash) of a gram multiset. */
  def sigAndSimhash(grams: Seq[String], numHashes: Int): (Array[Long], Long) = {
    val p = functions.HashP
    val sig = Array.fill(numHashes)(Long.MaxValue)
    grams.distinct.foreach { g =>
      val h1 = PortableHash.h60(g, 1) % p
      val h2 = PortableHash.h60(g, 17) % p
      for (k <- 0 until numHashes) sig(k) = math.min(sig(k), (h1 + k * h2) % p)
    }
    val balance = new Array[Int](60)
    grams.foreach { g =>
      val h = PortableHash.h60(g, 1)
      for (b <- 0 until 60) balance(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
    }
    val simhash = (0 until 60).foldLeft(0L)((acc, b) => if (balance(b) > 0) acc | (1L << b) else acc)
    (sig, simhash)
  }
}
