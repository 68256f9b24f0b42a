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
  *  - `sigs`/`bands`: the scale path the reference lacks — MinHash/LSH and
  *                   SimHash signatures over the gramHi shingle set
  */
final case class IndexTables(
    conf: FuzzyConf,
    items: DataFrame, // (item_id, key, original, n_members)
    members: DataFrame, // (clip_id, item_id)
    postings: DataFrame, // (gram_size, gram, item_id, cnt)
    norms: DataFrame, // (item_id, gram_size, magnitude)
    sigs: DataFrame, // (item_id, sig: array<long>, simhash: long, band_hashes: array<long>)
    bands: DataFrame, // (item_id, band_key: long)
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
    * as one declarative plan: two shuffles (dedup groupBy, postings
    * groupBy); Catalyst prunes `bytes`/audio columns away because only
    * (idCol, textCol) are selected.
    *
    * `mat(stage, df)` materializes each stage table (parquet checkpoint or
    * localCheckpoint) and its RESULT feeds downstream derivations — bands
    * build from the materialized sigs, and postings/norms each re-derive
    * the gram extraction from the materialized ITEMS (both are map-side
    * projections of items — see FuzzyPipeline.mapSideStages: storing or
    * chaining them buys nothing, recompute is a cheap parallel map).
    * Deriving from the pre-materialization plans instead would recompute
    * the whole upstream lineage once per table (localCheckpoint and
    * parquet round-trips, unlike .cache(), do not substitute into
    * already-built plans).
    */
  def apply(
      input: DataFrame,
      idCol: String,
      textCol: String,
      conf: FuzzyConf,
      mat: (String, DataFrame) => DataFrame = (_, df) => df,
      spreadParallelism: Int = 0): IndexTables = {
    val keyed = input
      .select(col(idCol).cast("string").as("clip_id"), col(textCol).as("original"))
      .withColumn("key", lower(col("original")))

    val items = mat("items", keyed
      .groupBy("key")
      .agg(
        min("clip_id").as("item_id"),
        min_by(col("original"), col("clip_id")).as("original"),
        count(lit(1)).as("n_members"))
      .select("item_id", "key", "original", "n_members"))

    val members = mat("members", keyed
      .select("clip_id", "key")
      .join(items.select("key", "item_id"), Seq("key"))
      .select("clip_id", "item_id"))

    val (postingsPlan, normsPlan) = gramProjections(items, conf)
    val postings = mat("postings", postingsPlan)
    val norms = mat("norms", normsPlan)

    val sigs = mat("sigs", signatures(items, conf))

    // band tokens shuffle as 8-byte longs (mixed from the band's signature
    // rows), not ~50-char strings: the LSH self-join shuffles |corpus| x
    // bands rows, so key width dominates shuffle volume and sort-merge
    // compare cost; a 64-bit collision can only ADD a candidate pair, which
    // verification filters (same contract as the hash itself)
    val bands = mat("bands", sigs
      .select(col("item_id"), explode(col("band_hashes")).as("band_key")))

    IndexTables(conf, items, members, postings, norms, sigs, bands, spreadParallelism)
  }

  /** Postings + norms as pure map-side projections of an `items` table
    * (item_id, key, ...): one scan, both gram sizes, NO SHUFFLE — gram
    * counts are local to each row (GramCountsExpr scaladoc; the naive
    * explode+groupBy build would shuffle |corpus| x |grams| rows to
    * recount what each row knows). Shared by the batch build above and
    * the streaming state index (StreamDedup.stateIndex), so the two paths
    * cannot drift.
    */
  def gramProjections(items: DataFrame, conf: FuzzyConf): (DataFrame, DataFrame) = {
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
    (postings, norms)
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
