package graft.stage

import graft.conf.FuzzyConf
import graft.sql.{functions => gf}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference `FuzzySet` record normalized into tables (SURVEY.md §1.2):
  *
  *  - `items`    <-> exactSet  (Internal.hs:50): one row per distinct
  *                   lowercased key; item identity is the minimum source id
  *                   sharing the key (deterministic across partitionings and
  *                   resumes — never monotonically_increasing_id)
  *  - `members`  <-> which source rows collapsed into each item (the
  *                   reference's first-writer-wins dedup, Internal.hs:111;
  *                   intended semantics: dedup on lower(str), SURVEY §2.1)
  *  - `postings` <-> matchDict (Internal.hs:51): gram -> (item, count)
  *  - `norms`    <-> per-item precomputed magnitudes (Internal.hs:38-41)
  *  - `sigs`:    the scale path the reference lacks — MinHash signature,
  *                   SimHash fingerprint and LSH band tokens over the
  *                   gramHi shingle set
  *
  * items, members and sigs are the stored tables; postings and norms are
  * always projections of items, recomputed on read ([[IndexBuild.tables]]).
  */
final case class IndexTables(
    conf: FuzzyConf,
    items: DataFrame, // (item_id, key, original)
    members: DataFrame, // (clip_id, item_id)
    postings: DataFrame, // (gram_size, gram, item_id, cnt)
    norms: DataFrame, // (item_id, gram_size, magnitude)
    sigs: DataFrame, // (item_id, sig: array<long>, simhash: long, band_hashes: array<long>)
    // When > 0, the corpus is PROVABLY SMALL (SmallInput gate in
    // FuzzyPipeline): compute-dense posting scans may be spread over this
    // many partitions by an explicit exchange. The cost of that exchange is
    // bounded by the small-input gate; a corpus-scale index keeps 0 and its
    // postings are never repartitioned (the broadcast-probe design never
    // shuffles them at all). See FindStage.cascade.
    spreadParallelism: Int = 0
)

object IndexBuild {

  /** Batch index build = the reference's `addMany_` fold (Internal.hs:140)
    * as one declarative plan; Catalyst prunes `bytes`/audio columns away
    * because only (idCol, textCol) are selected.
    *
    * `mat(stage, df)` materializes each stored table — items, members,
    * sigs — (parquet checkpoint or localCheckpoint) and its RESULT feeds
    * downstream derivations: members and sigs build from the materialized
    * items, and so do postings/norms ([[tables]]). Those two are map-side
    * projections of items and are never stored: recompute is a cheap
    * parallel map, and at bench scale the stored posting rows (|corpus| x
    * |grams|) caused enough memory pressure that 32 cores ran SLOWER than
    * 8. Deriving from the pre-materialization plans instead would
    * recompute the whole upstream lineage once per table (localCheckpoint
    * and parquet round-trips, unlike .cache(), do not substitute into
    * already-built plans).
    */
  def apply(
      input: DataFrame,
      idCol: String,
      textCol: String,
      conf: FuzzyConf,
      mat: (String, DataFrame) => DataFrame = (_, df) => df,
      spreadParallelism: Int = 0): IndexTables = {
    val rows = keyed(input, idCol, textCol)
    val items = mat("items", itemsOf(rows))
    val members = mat("members", membersOf(rows, items))
    val sigs = mat("sigs", signatures(items, conf))
    tables(conf, items, members, sigs, spreadParallelism)
  }

  /** Source rows as (clip_id, original, key): the string id, the raw text
    * and its lowercased dedup key.
    */
  def keyed(input: DataFrame, idCol: String, textCol: String): DataFrame = input
    .select(col(idCol).cast("string").as("clip_id"), col(textCol).as("original"))
    .withColumn("key", lower(col("original")))

  /** One item per key of a [[keyed]] table: (item_id, key, original), the
    * winner being the minimum clip_id (a distributed table has no row
    * order; TableIO.upsert applies the same rule across batches).
    */
  def itemsOf(keyed: DataFrame): DataFrame = keyed
    .groupBy("key")
    .agg(min("clip_id").as("item_id"), min_by(col("original"), col("clip_id")).as("original"))
    .select("item_id", "key", "original")

  /** (clip_id, item_id): each [[keyed]] row mapped to the item that owns
    * its key in `items`.
    */
  def membersOf(keyed: DataFrame, items: DataFrame): DataFrame = keyed
    .select("clip_id", "key")
    .join(items.select("key", "item_id"), Seq("key"))
    .select("clip_id", "item_id")

  /** The index over stored items/members/sigs tables. The batch build
    * above and the streaming state views (StreamDedup.stateIndex and
    * verifyIndex) all assemble through here, so their postings cannot
    * drift.
    *
    * Postings + norms are pure map-side projections of `items` (item_id,
    * key, ...): one scan, both gram sizes, NO SHUFFLE — gram counts are
    * local to each row (GramCountsExpr scaladoc; the naive explode+groupBy
    * build would shuffle |corpus| x |grams| rows to recount what each row
    * knows).
    */
  def tables(
      conf: FuzzyConf,
      items: DataFrame,
      members: DataFrame,
      sigs: DataFrame,
      spreadParallelism: Int = 0): IndexTables = {
    val sized = items
      .select(
        col("item_id"),
        explode(array(conf.sizes.map(n =>
          struct(lit(n).as("gram_size"), gf.gramCounts(col("key"), n).as("gc"))): _*)).as("sg"))
      .select(col("item_id"), col("sg.gram_size").as("gram_size"), col("sg.gc").as("gc"))

    val postings = sized
      .select(col("item_id"), col("gram_size"), explode(col("gc")).as("e"))
      .select(col("item_id"), col("gram_size"), col("e.gram").as("gram"), col("e.cnt").as("cnt"))

    // integer sum of squares in one pass, sqrt at the end: the aggregate()
    // HOF form runs in the expression interpreter per element (graft perf
    // note) and this executes once per (item, gram_size) over ~|key| counts
    val magUdf = udf { (cnts: Seq[Int]) =>
      var acc = 0L
      var i = 0
      while (i < cnts.length) { val c = cnts(i).toLong; acc += c * c; i += 1 }
      math.sqrt(acc.toDouble)
    }
    val norms = sized
      .select(col("item_id"), col("gram_size"), magUdf(col("gc.cnt")).as("magnitude"))
    IndexTables(conf, items, members, postings, norms, sigs, spreadParallelism)
  }

  /** MinHash signature + SimHash + LSH band tokens of an `items` table via
    * ONE streaming native pass per row (SigBandsFromKeyExpr: normalize ->
    * window -> md5 fused, the gram array never materializes — the
    * pure-expression sig form re-ran md5s per component, the band-key HOF
    * composition interpreted at ~300us/row was round 2's hottest spot, and
    * the UDF/gram-array forms allocated per gram occurrence);
    * value-identical to the DuckDB oracle's signature SQL (FunctionsSpec
    * parity against a scalar reference, q_minhash_sig / q_simhash). NULL
    * ss = the key has no grams (empty normalized text): no signature, no
    * LSH (all-empty sigs would otherwise bucket together and pair up);
    * byte-identical empties still dedup via the exact pass. Shared by the
    * batch build and the streaming per-batch new-item pass.
    */
  def signatures(items: DataFrame, conf: FuzzyConf): DataFrame = items
    .select(col("item_id"),
      gf.sigBandsFromKey(col("key"), conf.gramHi,
        conf.minhashHashes, conf.minhashBands, conf.rowsPerBand).as("ss"))
    .filter(col("ss").isNotNull)
    .select(col("item_id"), col("ss.sig").as("sig"), col("ss.simhash").as("simhash"),
      col("ss.band_hashes").as("band_hashes"))
}
