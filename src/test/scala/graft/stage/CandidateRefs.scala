package graft.stage

import graft.conf.FuzzyConf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unfused reference forms of the production candidate passes, for
  * parity specs: single-key-space bucket pairs, band-only and chunk-only
  * passes (whose union [[Candidates.fusedPairs]] must equal), and the
  * signature-table form of [[Candidates.incrementalPairsFromKeys]].
  */
object CandidateRefs {

  /** [[Candidates.taggedSelfPairs]] with every row a probe (the batch form)
    * over a fused-key table (bkey, ktype, item_id, sh).
    */
  def allProbePairs(keys: DataFrame, conf: FuzzyConf): DataFrame =
    Candidates.taggedSelfPairs(keys.withColumn("probe", lit(true)), conf)

  /** [[allProbePairs]] over one key space: `keyed` has columns
    * (bkey, item_id).
    */
  def bucketSelfPairs(keyed: DataFrame, conf: FuzzyConf): DataFrame =
    allProbePairs(keyed.select(col("bkey"), lit(0).as("ktype"), col("item_id"), lit(0L).as("sh")), conf)

  /** One (bkey, item_id) row per LSH band token of a sigs table. */
  def bandRows(sigs: DataFrame): DataFrame =
    sigs.select(explode(col("band_hashes")).as("bkey"), col("item_id"))

  /** Unordered candidate pairs (a_id < b_id) from LSH band collisions of a
    * sigs table.
    */
  def lshPairs(sigs: DataFrame, conf: FuzzyConf): DataFrame =
    bucketSelfPairs(bandRows(sigs), conf)

  /** Unordered candidate pairs from SimHash chunk collisions at hamming
    * distance <= FusedKeysExpr.MaxHamming; chunk key c is the c-th 15-bit
    * slice of the fingerprint offset by c << 15 (the FusedKeysExpr chunk
    * keys).
    */
  def simhashPairs(sigs: DataFrame, conf: FuzzyConf): DataFrame = {
    def chunkKey(c: Int) =
      shiftrightunsigned(col("simhash"), 15 * c).bitwiseAND(lit(0x7fffL)) + lit(c.toLong << 15)
    val chunked = sigs.select(
      explode(array((0 until 4).map(chunkKey): _*)).as("bkey"),
      lit(1).as("ktype"),
      col("item_id"),
      col("simhash").as("sh"))
    allProbePairs(chunked, conf)
  }

  /** Candidate pairs touching the `newSigs` side against the `stateSigs`
    * of earlier batches, from signature tables (both sides pay the
    * fused-key explode).
    */
  def incrementalPairs(newSigs: DataFrame, stateSigs: DataFrame, conf: FuzzyConf): DataFrame =
    Candidates.incrementalPairsFromKeys(
      Candidates.fusedKeyed(newSigs), Candidates.fusedKeyed(stateSigs), conf)
}
