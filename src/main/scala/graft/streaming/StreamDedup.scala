package graft.streaming

import graft.conf.FuzzyConf
import graft.io.TableIO
import graft.stage.{Candidates, Cluster, FindStage, IndexBuild, IndexTables, Scratch}
import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel

/** Incremental near-duplicate detection over a STREAM of arriving clips —
  * the continuous-ingestion form of the batch dedup pipeline
  * (FuzzyPipeline.dedupEdges), with per-batch work O(batch + pairs)
  * instead of O(corpus):
  *
  *  - state tables under `stateDir` (`items`, `members`, `sigs`),
  *    maintained by insert-only first-writer-wins upserts
  *    (TableIO.upsert — the Iceberg MERGE seam, so on a real catalog the
  *    state is snapshot-isolated Iceberg tables);
  *  - per micro-batch: the batch's key winners upsert into `items`
  *    (losing rows become `members` of the existing item + EXACT edges),
  *    signatures are computed for genuinely-new items only
  *    (IndexBuild.signatures — the same fused native kernel as batch),
  *    the new items' fused keys land in a `keys` state table (partitioned
  *    by batch_id, replay-idempotent), and candidates come from those keys
  *    probing the earlier key state pruned to the batch's buckets, through
  *    the batch's own bucket-pair kernel and skew regimes
  *    (Candidates.incrementalPairsFromKeys — per-batch shuffle is
  *    O(batch x bucket), plus one semi-join-pruned scan of the key state);
  *  - candidate pairs are verified by the batch kernel
  *    (FindStage.verifyPairs over a view of the items and sigs state), so
  *    streaming and batch scores cannot drift;
  *  - verified edges land partitioned by batch_id with dynamic partition
  *    overwrite — a retried micro-batch REPLACES its own partition, making
  *    the at-least-once foreachBatch effectively-once end to end (every
  *    state derivation above is replay-deterministic: upserts are
  *    insert-only no-ops on replay and "new items" are defined by what the
  *    state says won, which the replayed batch re-computes identically).
  *
  * The substring-containment pass is corpus-shaped (every sub-window of
  * every container), not batch-shaped, so it intentionally stays in the
  * periodic batch pipeline — the standard lambda split: streaming covers
  * exact + LSH/SimHash near-dups as clips arrive; a scheduled
  * FuzzyPipeline run (checkpointed, resumable) compacts and adds the
  * substring edges. Union-over-batches pair coverage vs the batch
  * fusedPairs is argued at [[Candidates.incrementalPairsFromKeys]]; label
  * equality of the two paths on substring-free corpora is pinned by
  * StreamDedupSpec.
  */
object StreamDedup {

  /** The one "no data yet" contract for every state read in this file:
    * an ABSENT dir and a dir holding no data entry (dynamic overwrite of
    * an empty frame leaves only _SUCCESS) both mean `fallback`; anything
    * else is `project` over the parquet read, and its read errors
    * propagate. Checked by listing, not by catching the read's
    * AnalysisException: Spark logs that failure as a full ERROR stack
    * trace even when it is caught.
    */
  private def readState(spark: SparkSession, dir: String)(
      project: DataFrame => DataFrame)(fallback: => DataFrame): DataFrame = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    if (hasData) project(spark.read.parquet(dir)) else fallback
  }

  /** Highest batch id ever committed into `stateDir`, from the `_last_batch`
    * marker [[processBatch]] writes (atomically) after each edges commit;
    * None when the state is fresh. An unparseable marker throws: reading it
    * as absent would silently disable the batch-id guard.
    */
  private def lastCommittedBatch(spark: SparkSession, stateDir: String): Option[Long] = {
    val p = new Path(s"$stateDir/_last_batch")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text =
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8").trim
        finally in.close()
      Some(text.toLongOption.getOrElse(
        throw new IllegalStateException(s"unparseable batch marker $p: '$text'")))
    }
  }

  /** Temp file + rename: a crash mid-write never leaves a torn marker. */
  private def writeCommittedBatch(spark: SparkSession, stateDir: String, batchId: Long): Unit = {
    val p = new Path(s"$stateDir/_last_batch")
    val tmp = new Path(s"$stateDir/_last_batch.tmp")
    val fc = FileContext.getFileContext(p.toUri, spark.sparkContext.hadoopConfiguration)
    val out = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
    fc.rename(tmp, p, Options.Rename.OVERWRITE)
  }

  /** Start the streaming dedup: `clips` is a streaming DataFrame carrying
    * (idCol, textCol). Edges accumulate under `stateDir/edges`; read them
    * with [[edges]], label the corpus on demand with [[labels]].
    */
  def dedupStream(
      clips: DataFrame,
      idCol: String,
      textCol: String,
      conf: FuzzyConf,
      stateDir: String,
      checkpointDir: String): StreamingQuery =
    clips.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, idCol, textCol, conf, stateDir)
      }
      .start()

  /** One micro-batch (exposed for replay tests — calling it twice with the
    * same arguments must leave identical state and edges).
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      conf: FuzzyConf,
      stateDir: String): Unit = {
    val spark = batch.sparkSession

    // guard the stateDir against a RESTARTED query with a fresh
    // checkpointDir: batch ids restart at 0 there, and the dynamic
    // partition overwrites below would silently REPLACE earlier batches'
    // keys/edges partitions — old items' fused keys vanish from key state
    // (future arrivals can no longer pair with them) and verified edges
    // are deleted, so labels() under-merges with no error. A crash-replay
    // of the last committed batch re-delivers the SAME id (>=), which
    // stays allowed; only a batch id that moves backwards fails loudly.
    lastCommittedBatch(spark, stateDir).foreach { last =>
      require(
        batchId >= last,
        s"state at $stateDir was committed up to batch $last but this query " +
          s"delivered batch $batchId — a new checkpointDir restarts batch ids at 0 " +
          "and its dynamic partition overwrites would corrupt the accumulated " +
          "keys/edges state. Resume with the original checkpointDir, or point " +
          "the stream at a fresh stateDir.")
    }

    // every table this batch checkpoints, released once in the finally
    // below: after the edges write and the side thread's members upsert
    // (their last consumers), whether the batch commits or fails
    val scratch = new Scratch()

    // independent state-table actions below overlap from a side thread
    // (guide §2.6: actions are serial only because the driver calls them
    // serially; the members upsert touches only the members dir, which
    // nothing else in this batch reads, so overlapping it with the
    // sigs/keys/pairs chain hides its full serial latency). Joined before
    // the edges commit so a batch never marks itself committed with its
    // members write still in flight.
    val sideErr = new java.util.concurrent.atomic.AtomicReference[Throwable]
    var sideThread: Thread = null

    // everything below runs under a finally that JOINS the side thread: a
    // mid-batch failure must not leave the members upsert mutating state
    // dirs while the caller replays the batch
    try {

    // the arriving micro-batch feeds FIVE separate actions below (items
    // upsert, members checkpoint, sigs upsert, keys write, pairs
    // materialization); without a checkpoint each would re-read the
    // batch's offset range from the streaming source — 4-5x source I/O
    // and decode per batch on the hot path
    val keyed = scratch.checkpoint(IndexBuild.keyed(batch, idCol, textCol),
      eager = false, StorageLevel.MEMORY_AND_DISK_SER)

    // the batch's per-key winner, by the batch index build's own rule
    def label(l: String): Unit =
      spark.sparkContext.setJobDescription(s"stream b$batchId: $l")
    label("items upsert")
    val batchItems = IndexBuild.itemsOf(keyed)
    TableIO.upsert(spark, s"$stateDir/items", batchItems, "key")
    val items = spark.read.parquet(s"$stateDir/items")

    // every batch clip maps to the item the STATE says owns its key —
    // replay-stable, since the upsert above is a no-op the second time.
    // EAGER: both the overlapped members upsert and the exact-edge branch
    // below consume it — materializing before the side thread starts
    // keeps the two consumers on blocks instead of racing to compute the
    // same lazy checkpoint
    val batchMembers = scratch.checkpoint(IndexBuild.membersOf(keyed, items),
      eager = true, StorageLevel.MEMORY_AND_DISK_SER)
    sideThread = new Thread(
      () =>
        try {
          spark.sparkContext.setJobDescription(s"stream b$batchId: members upsert")
          TableIO.upsert(spark, s"$stateDir/members", batchMembers, "clip_id")
        } catch { case t: Throwable => sideErr.set(t) },
      "graft-members-upsert")
    sideThread.start()

    // genuinely-new items = batch winners that WON their key in state AND
    // whose fused keys are not already in the keys state from an EARLIER
    // batch. The second condition matters under at-least-once delivery: a
    // later batch that re-sends a clip which is already its key's state
    // winner passes the first join (its item_id IS the state winner), and
    // treating it as new would land its fused keys AGAIN under the new
    // batch_id — inflating bucket_n with phantom members (a bucket near
    // maxSaltedBucket flips to star-only edges and real candidate pairs
    // are lost) and growing the keys state without bound. The CURRENT
    // batch_id is excluded from the seen-set so a crash-replay of this
    // batch (same batch_id, keys already written, edges not yet) still
    // regenerates its keys and edges; partition pruning keeps the read to
    // earlier partitions, which the dynamic overwrite below never touches.
    val seenIds = readState(spark, s"$stateDir/keys")(
      _.filter(col("batch_id") =!= lit(batchId)).select("item_id"))(
      items.select("item_id").limit(0))
    val newItems = items
      .join(batchItems.select("item_id"), Seq("item_id"), "left_semi")
      .join(seenIds, Seq("item_id"), "left_anti")
    // the batch's signature delta IS newSigs: newItems are by construction
    // absent from the keys state, and the insert-only sigs upsert writes
    // exactly these deterministic rows (a crash-replay recomputes the same
    // values, and the upsert no-ops) — so re-reading the whole sigs state
    // back and semi-joining it down to newItems (two state scans per
    // micro-batch) reproduced this very frame. Checkpointed: consumed by
    // the upsert AND by fusedKeyed below.
    label("sigs upsert")
    val newSigs = scratch.checkpoint(IndexBuild.signatures(newItems, conf),
      eager = false, StorageLevel.MEMORY_AND_DISK_SER)
    TableIO.upsert(spark, s"$stateDir/sigs", newSigs, "item_id")

    // fused-KEY state: this batch's key rows land partitioned by batch_id
    // (dynamic overwrite — a replay rewrites identical rows), so candidate
    // generation reads accumulated 8-byte keys back instead of re-exploding
    // every signature in state on every batch; incrementalPairsFromKeys
    // then prunes that state to the batch's buckets in one semi-join scan.
    // Checkpointed: consumed by the keys write AND by candidate generation
    // below — without it the whole newSigs derivation (state reads + the
    // signature kernel) re-runs for each
    val newKeys = scratch.checkpoint(Candidates.fusedKeyed(newSigs),
      eager = false, StorageLevel.MEMORY_AND_DISK_SER)
    label("keys write")
    newKeys
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(s"$stateDir/keys")
    // the key state the batch probes = EARLIER batches' partitions (the
    // current batch's partition is excluded — after the dynamic overwrite
    // above its content is exactly newKeys, which candidate generation
    // reads straight from their just-materialized blocks). A keys dir can
    // be absent only while state holds zero items — same fileless-read
    // contract as edges()
    val stateKeys = readState(spark, s"$stateDir/keys")(
      _.filter(col("batch_id") =!= lit(batchId))
        .select("bkey", "ktype", "item_id", "sh"))(newKeys.limit(0))

    label("candidate pairs")
    val pairs = scratch.checkpoint(
      Candidates.incrementalPairsFromKeys(newKeys, stateKeys, conf, scratch),
      eager = false, StorageLevel.MEMORY_AND_DISK_SER)
    // the batch scratch rides into verifyPairs too: in cosine mode it
    // localCheckpoints gated pairs + pruned postings internally, and the
    // default noop scratch would pin those blocks forever — one leaked
    // candidate+postings-sized block set per micro-batch.
    label("verify+edges write")
    val fuzzy = FindStage.verifyPairs(pairs, verifyIndex(items, stateDir, conf), conf.minScore, scratch)

    // exact edges: only for clips whose edge is not already committed by an
    // EARLIER batch. Under at-least-once delivery a loser clip can be
    // re-sent batches later; batchMembers maps it to its state owner again,
    // and without the anti-join its (owner, clip) edge would be re-written
    // under every re-delivering batch_id — edges() then returns duplicate
    // rows and the edge state grows with re-deliveries (the same unbounded-
    // growth class the seenIds anti-join closes for key state). The CURRENT
    // batch_id is excluded from the seen-set so a crash-replay still
    // regenerates its own partition. dropDuplicates: a micro-batch that
    // carries the same clip row twice must not write the edge twice (the
    // owner is unique per clip, so duplicates are full-row identical).
    val exactRaw = Candidates.exactEdges(batchMembers).dropDuplicates("b_id")
    val priorExact = readState(spark, s"$stateDir/edges")(
      _.filter(col("batch_id") =!= lit(batchId) && col("kind") === lit("exact"))
        .select("b_id"))(exactRaw.select("b_id").limit(0))
    val exact = exactRaw
      .join(priorExact, Seq("b_id"), "left_anti")
      .select("a_id", "b_id", "kind", "score")

    exact.unionByName(fuzzy)
      .withColumn("batch_id", lit(batchId))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(s"$stateDir/edges")
    } finally {
      if (sideThread != null) sideThread.join()
      scratch.release()
      // a failed batch must not leave its step label on the caller's later jobs
      spark.sparkContext.setJobDescription(null)
    }
    // the overlapped members upsert must be durably finished (and any
    // failure propagated) before the batch is marked committed
    if (sideErr.get() != null) throw sideErr.get()
    writeCommittedBatch(spark, stateDir, batchId)
  }

  /** A micro-batch's verify view: the batch kernel's IndexTables over
    * `items` (the items state as the batch already read it) and the sigs
    * state, so verification runs the EXACT batch code path — postings/norms
    * are the same recompute-on-read projections of items the batch
    * pipeline uses, and verifyPairs semi-join-prunes postings to candidate
    * endpoints before the scan, so the cosine-mode projections never
    * materialize corpus-wide here either (lev mode, the default, reads
    * only items + sigs). `members` is empty: verifyPairs never reads it,
    * and the batch's side thread is rewriting the members state meanwhile.
    */
  private[streaming] def verifyIndex(items: DataFrame, stateDir: String, conf: FuzzyConf): IndexTables =
    IndexBuild.tables(conf, items,
      items.select(col("item_id").as("clip_id"), col("item_id")).limit(0),
      items.sparkSession.read.parquet(s"$stateDir/sigs"))

  /** The whole state (items, members, sigs) as an IndexTables view, for
    * reads between micro-batches (the periodic substring compaction).
    */
  def stateIndex(spark: SparkSession, stateDir: String, conf: FuzzyConf): IndexTables =
    IndexBuild.tables(conf,
      spark.read.parquet(s"$stateDir/items"),
      spark.read.parquet(s"$stateDir/members"),
      spark.read.parquet(s"$stateDir/sigs"))

  /** All verified edges accumulated so far: (a_id, b_id, kind, score).
    * A duplicate-free stream writes no parquet files at all (dynamic
    * partition overwrite of an empty frame emits nothing), so an absent /
    * fileless edge dir reads as the empty edge set, not an error.
    */
  def edges(spark: SparkSession, stateDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a_id", StringType), StructField("b_id", StringType),
      StructField("kind", StringType), StructField("score", DoubleType)))
    def empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    readState(spark, s"$stateDir/edges")(
      _.select("a_id", "b_id", "kind", "score"))(empty)
  }

  /** (clip_id, component) labels over everything ingested so far — CC over
    * the accumulated edge set, same call shape as FuzzyPipeline.clusters.
    * On demand / periodic, NOT per micro-batch: at 10^12 rows relabeling
    * the world every batch would dominate the stream; the edge table is
    * the incrementally-maintained state, labels are a (cheap, sparse)
    * derivation from it.
    *
    * The result is an eager local checkpoint taken into `scratch` (the CC
    * loop's own blocks are freed before return). Under the default
    * [[Scratch.noop]] it stays pinned for the session — fine for a one-shot
    * read, but a driver that relabels PERIODICALLY passes its own scratch
    * and releases it once the labels are consumed.
    */
  def labels(spark: SparkSession, stateDir: String, scratch: Scratch = Scratch.noop): DataFrame = {
    val vertices = spark.read.parquet(s"$stateDir/members").select(col("clip_id").as("id"))
    val loop = new Scratch()
    try {
      val (labeled, _) = Cluster.connectedComponentsReleasable(
        vertices, edges(spark, stateDir).select("a_id", "b_id"), loop)
      scratch.checkpoint(labeled.select(col("id").as("clip_id"), col("component")),
        eager = true, StorageLevel.MEMORY_AND_DISK_SER)
    } finally loop.release()
  }
}
