package graft.stage

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unfused reference forms of the production candidate passes, for
  * parity specs: single-key-space bucket pairs, band-only and chunk-only
  * passes (whose union [[Candidates.fusedPairs]] must equal), and the
  * signature-table form of [[Candidates.incrementalPairsFromKeys]].
  */
object CandidateRefs {

  /** [[Candidates.taggedSelfPairs]] over one key space: `keyed` has columns
    * (bkey, item_id).
    */
  def bucketSelfPairs(keyed: DataFrame, cap: Int, saltChunk: Int, maxSalted: Int): DataFrame =
    Candidates.taggedSelfPairs(
      keyed.select(col("bkey"), lit(0).as("ktype"), col("item_id"), lit(0L).as("sh")),
      cap, saltChunk, maxSalted, maxHamming = 0)

  /** One (bkey, item_id) row per LSH band token of a sigs table. */
  def bandRows(sigs: DataFrame): DataFrame =
    sigs.select(explode(col("band_hashes")).as("bkey"), col("item_id"))

  /** Unordered candidate pairs (a_id < b_id) from LSH band collisions of a
    * sigs table.
    */
  def lshPairs(sigs: DataFrame, maxBandBucket: Int, saltChunk: Int, maxSaltedBucket: Int): DataFrame =
    bucketSelfPairs(bandRows(sigs), maxBandBucket, saltChunk, maxSaltedBucket)

  /** Unordered candidate pairs from SimHash chunk collisions at hamming
    * distance <= maxHamming; chunk key c is the c-th 15-bit slice of the
    * fingerprint offset by c << 15 (the FusedKeysExpr chunk keys).
    */
  def simhashPairs(
      sigs: DataFrame,
      maxHamming: Int,
      maxBandBucket: Int,
      saltChunk: Int,
      maxSaltedBucket: Int): DataFrame = {
    def chunkKey(c: Int) =
      shiftrightunsigned(col("simhash"), 15 * c).bitwiseAND(lit(0x7fffL)) + lit(c.toLong << 15)
    val chunked = sigs.select(
      explode(array((0 until 4).map(chunkKey): _*)).as("bkey"),
      lit(1).as("ktype"),
      col("item_id"),
      col("simhash").as("sh"))
    Candidates.taggedSelfPairs(chunked, maxBandBucket, saltChunk, maxSaltedBucket, maxHamming)
  }

  /** Candidate pairs touching the `newSigs` side, from signature tables
    * (both sides pay the fused-key explode).
    */
  def incrementalPairs(newSigs: DataFrame, allSigs: DataFrame, maxHamming: Int, maxBucket: Int): DataFrame =
    Candidates.incrementalPairsFromKeys(
      Candidates.fusedKeyed(newSigs), Candidates.fusedKeyed(allSigs), maxHamming, maxBucket)
}
