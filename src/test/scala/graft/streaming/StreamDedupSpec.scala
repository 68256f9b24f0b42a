package graft.streaming

import graft.SparkTestSession
import graft.api.FuzzyPipeline
import graft.conf.FuzzyConf
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class StreamDedupSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // distinct multi-word transcripts (no coincidental borderline pairs, no
  // substring containments — the substring pass intentionally stays in the
  // batch pipeline, see StreamDedup scaladoc) + planted duplicates:
  //  c001 exact-dup of c000 (same batch), c102 exact-dup of c000 (LATER
  //  batch -> late exact edge to an existing item), c103 one-char edit of
  //  c002 (cross-batch fuzzy), c104 one-char edit of c105 (in-batch fuzzy)
  private val batch1 = Seq(
    ("c000", "quick brown foxes jump over lazy dogs"),
    ("c001", "Quick Brown Foxes Jump Over Lazy Dogs!"),
    ("c002", "pack my box with five dozen liquor jugs"),
    ("c003", "sphinx of black quartz judge my vow"))
  private val batch2 = Seq(
    ("c102", "quick brown foxes jump over lazy dogs"),
    ("c103", "pack my box with five dosen liquor jugs"),
    ("c104", "how vexingly quick daft zebras jump"),
    ("c105", "how vexingly quick daft zebrar jump"),
    ("c106", "the five boxing wizards move swiftly"))

  private def newDirs() = (
    java.nio.file.Files.createTempDirectory("sdedup-state").toString,
    java.nio.file.Files.createTempDirectory("sdedup-ck").toString)

  test("two-batch incremental dedup == batch pipeline labels on the union") {
    val (stateDir, _) = newDirs()
    val conf = FuzzyConf()
    StreamDedup.processBatch(batch1.toDF("clip_id", "transcript"), 0L,
      "clip_id", "transcript", conf, stateDir)
    StreamDedup.processBatch(batch2.toDF("clip_id", "transcript"), 1L,
      "clip_id", "transcript", conf, stateDir)

    val streamLabels = StreamDedup.labels(spark, stateDir)
      .as[(String, String)].collect().toMap
    val batchLabels = FuzzyPipeline(
      spark, (batch1 ++ batch2).toDF("clip_id", "transcript"), "clip_id", "transcript", conf)
      .clusters().as[(String, String)].collect().toMap
    streamLabels shouldBe batchLabels
    // and the planted structure is actually found, not vacuously equal
    streamLabels("c001") shouldBe "c000" // in-batch exact
    streamLabels("c102") shouldBe "c000" // LATE exact dup joins the old item
    streamLabels("c103") shouldBe "c002" // cross-batch fuzzy edit
    streamLabels("c105") shouldBe "c104" // in-batch fuzzy edit
    streamLabels("c003") shouldBe "c003" // unique rows stay singletons
    streamLabels("c106") shouldBe "c106"
  }

  test("replaying a micro-batch leaves state and edges byte-identical") {
    val (stateDir, _) = newDirs()
    val conf = FuzzyConf()
    StreamDedup.processBatch(batch1.toDF("clip_id", "transcript"), 0L,
      "clip_id", "transcript", conf, stateDir)
    StreamDedup.processBatch(batch2.toDF("clip_id", "transcript"), 1L,
      "clip_id", "transcript", conf, stateDir)
    def snapshot() = (
      spark.read.parquet(s"$stateDir/items").as[(String, String, String)].collect().toSet,
      spark.read.parquet(s"$stateDir/members").as[(String, String)].collect().toSet,
      spark.read.parquet(s"$stateDir/sigs").select("item_id").as[String].collect().toSet,
      StreamDedup.edges(spark, stateDir)
        .as[(String, String, String, Double)].collect().toSet)
    val before = snapshot()
    // the at-least-once replay: the SAME batch re-runs with the same id
    StreamDedup.processBatch(batch2.toDF("clip_id", "transcript"), 1L,
      "clip_id", "transcript", conf, stateDir)
    snapshot() shouldBe before
  }

  test("re-delivering an ingested clip in a LATER batch adds no duplicate key state") {
    import org.apache.spark.sql.functions.col
    val (stateDir, _) = newDirs()
    val conf = FuzzyConf()
    StreamDedup.processBatch(batch1.toDF("clip_id", "transcript"), 0L,
      "clip_id", "transcript", conf, stateDir)
    val keysPerItem = spark.read.parquet(s"$stateDir/keys")
      .filter(col("item_id") === "c000").count()
    keysPerItem should be > 0L
    // the at-least-once upstream re-sends c000 VERBATIM in a later batch
    // (different batch_id — the replay test above covers the same-id case)
    // alongside one genuinely new clip
    val redelivery = Seq(
      ("c000", "quick brown foxes jump over lazy dogs"),
      ("c200", "jackdaws love my big sphinx of quartz"))
    StreamDedup.processBatch(redelivery.toDF("clip_id", "transcript"), 1L,
      "clip_id", "transcript", conf, stateDir)
    val keys = spark.read.parquet(s"$stateDir/keys")
    // c000 is still its key's state winner but NOT new: its fused keys
    // must not appear a second time under batch_id=1 (phantom bucket
    // members / unbounded key-state growth under sustained re-delivery)
    keys.filter(col("item_id") === "c000").count() shouldBe keysPerItem
    keys.groupBy("bkey", "ktype", "item_id", "sh").count()
      .filter(col("count") > 1).count() shouldBe 0L
    // while the genuinely new clip's keys DID land
    keys.filter(col("item_id") === "c200").count() should be > 0L
    // and labels still resolve the corpus correctly
    val labels = StreamDedup.labels(spark, stateDir)
      .as[(String, String)].collect().toMap
    labels("c000") shouldBe "c000"
    labels("c200") shouldBe "c200"
  }

  test("re-delivering a LOSER clip in later batches adds no duplicate exact edge") {
    import org.apache.spark.sql.functions.col
    val (stateDir, _) = newDirs()
    val conf = FuzzyConf()
    StreamDedup.processBatch(batch1.toDF("clip_id", "transcript"), 0L,
      "clip_id", "transcript", conf, stateDir)
    // e001 is a case-only variant of c000's transcript — SAME key after
    // lower(), so it LOSES the key to c000 when it first arrives in batch 1
    // (exact edge written there). The at-least-once upstream then re-sends
    // it verbatim in batch 2 — batchMembers maps it to its state owner
    // again, and without the prior-edge anti-join the (c000, e001) edge
    // would be re-written under every re-delivering batch_id.
    val redelivery = Seq(
      ("e001", "QUICK BROWN FOXES JUMP OVER LAZY DOGS"),
      ("c300", "jackdaws love my big sphinx of quartz"))
    StreamDedup.processBatch(redelivery.toDF("clip_id", "transcript"), 1L,
      "clip_id", "transcript", conf, stateDir)
    StreamDedup.processBatch(redelivery.toDF("clip_id", "transcript"), 2L,
      "clip_id", "transcript", conf, stateDir)
    val edges = StreamDedup.edges(spark, stateDir)
    edges.filter(col("kind") === "exact" && col("b_id") === "e001").count() shouldBe 1L
    // no duplicate rows anywhere in the accumulated edge state
    edges.count() shouldBe edges.distinct().count()
    // and labels still resolve correctly after the re-deliveries
    val labels = StreamDedup.labels(spark, stateDir).as[(String, String)].collect().toMap
    labels("e001") shouldBe "c000"
    labels("c300") shouldBe "c300"
  }

  test("a micro-batch carrying the same clip row twice writes ONE exact edge") {
    import org.apache.spark.sql.functions.col
    val (stateDir, _) = newDirs()
    // d1 is an exact dup of d0 AND arrives twice in the same batch (e.g. a
    // source that duplicated the record): one edge row, not two identical
    val batch = Seq(
      ("d0", "some unique words right here"),
      ("d1", "Some Unique Words Right Here"),
      ("d1", "Some Unique Words Right Here"))
    StreamDedup.processBatch(batch.toDF("clip_id", "transcript"), 0L,
      "clip_id", "transcript", FuzzyConf(), stateDir)
    StreamDedup.edges(spark, stateDir)
      .filter(col("b_id") === "d1").count() shouldBe 1L
  }

  test("a batch id moving backwards fails loudly instead of overwriting state") {
    val (stateDir, _) = newDirs()
    val conf = FuzzyConf()
    StreamDedup.processBatch(batch1.toDF("clip_id", "transcript"), 5L,
      "clip_id", "transcript", conf, stateDir)
    // a RESTART with a fresh checkpointDir restarts batch ids at 0; its
    // dynamic partition overwrites would silently replace batch <= 5's
    // keys/edges partitions — the state guard must refuse instead
    an[IllegalArgumentException] should be thrownBy
      StreamDedup.processBatch(batch2.toDF("clip_id", "transcript"), 0L,
        "clip_id", "transcript", conf, stateDir)
    // replaying the SAME id stays allowed (crash-replay contract)
    StreamDedup.processBatch(batch1.toDF("clip_id", "transcript"), 5L,
      "clip_id", "transcript", conf, stateDir)
  }

  test("an unparseable _last_batch marker fails the batch before it writes any state") {
    val (stateDir, _) = newDirs()
    // a damaged marker must not silently disable the batch-id guard
    java.nio.file.Files.write(java.nio.file.Paths.get(stateDir, "_last_batch"),
      "not-a-batch-id".getBytes("UTF-8"))
    an[IllegalStateException] should be thrownBy
      StreamDedup.processBatch(batch1.toDF("clip_id", "transcript"), 0L,
        "clip_id", "transcript", FuzzyConf(), stateDir)
    new java.io.File(stateDir).list().toSet shouldBe Set("_last_batch")
  }

  private def stored() = spark.sparkContext.getRDDStorageInfo.length
  // unpersist is async -> bounded wait for the block count to fall back
  private def awaitStoredAtMost(n: Int): Int = {
    var waited = 0
    while (stored() > n && waited < 20) { Thread.sleep(250); waited += 1 }
    stored()
  }

  test("a committed micro-batch leaves no persisted RDD blocks behind") {
    val (stateDir, _) = newDirs()
    val before = stored()
    StreamDedup.processBatch(batch1.toDF("clip_id", "transcript"), 0L,
      "clip_id", "transcript", FuzzyConf(), stateDir)
    StreamDedup.edges(spark, stateDir).count() should be > 0L
    // a periodic relabel holds its result in the caller's scratch only
    val relabel = new graft.stage.Scratch
    StreamDedup.labels(spark, stateDir, relabel)
      .as[(String, String)].collect().toMap.apply("c001") shouldBe "c000"
    relabel.release()
    awaitStoredAtMost(before) should be <= before
  }

  test("a micro-batch that fails after checkpointing still frees its blocks") {
    val (stateDir, _) = newDirs()
    // a plain FILE where the edges directory belongs: every table of the
    // batch is checkpointed and materialized before the edges step reads
    // it, which then fails
    java.nio.file.Files.write(java.nio.file.Paths.get(stateDir, "edges"),
      "not a directory".getBytes("UTF-8"))
    val before = stored()
    an[Exception] should be thrownBy
      StreamDedup.processBatch(batch1.toDF("clip_id", "transcript"), 0L,
        "clip_id", "transcript", FuzzyConf(), stateDir)
    new java.io.File(stateDir, "keys").isDirectory shouldBe true // it got that far
    new java.io.File(stateDir, "_last_batch").exists shouldBe false // not committed
    awaitStoredAtMost(before) should be <= before
    // and its step label does not stick to the caller's later jobs
    spark.sparkContext.getLocalProperty("spark.job.description") shouldBe null
  }

  test("a micro-batch's verify view reads the items and sigs state, never members") {
    // the batch's side thread rewrites the members dir while verification
    // runs: the view must not list or read it
    val (stateDir, _) = newDirs()
    StreamDedup.processBatch(batch1.toDF("clip_id", "transcript"), 0L,
      "clip_id", "transcript", FuzzyConf(), stateDir)
    val view = StreamDedup.verifyIndex(spark.read.parquet(s"$stateDir/items"), stateDir, FuzzyConf())
    val files = Seq(view.items, view.members, view.postings, view.norms, view.sigs).flatMap(_.inputFiles)
    files.filter(_.contains("/members/")) shouldBe empty
    files.exists(_.contains("/items/")) shouldBe true
    files.exists(_.contains("/sigs/")) shouldBe true
  }

  test("streaming + periodic substring compaction recovers every planted pair at 6k clips") {
    import org.apache.spark.sql.functions.col
    val (stateDir, _) = newDirs()
    val conf = FuzzyConf()
    val n = 6000L
    val all = graft.audio.ClipSynth.table(spark, n, includeAudio = false)
      .select("clip_id", "transcript").cache()
    // ODD batch boundaries: planted pairs are adjacent (2b, 2b+1) slots,
    // so splitting at 2001/4003 makes pairs straddle batches — the
    // cross-batch new-vs-all join is what's under test, not just in-batch
    val bounds = Seq((0L, 2001L), (2001L, 4003L), (4003L, n))
    bounds.zipWithIndex.foreach { case ((lo, hi), b) =>
      val batch = all.filter(
        col("clip_id") >= f"clip_$lo%012d" && col("clip_id") < f"clip_$hi%012d")
      StreamDedup.processBatch(batch, b.toLong, "clip_id", "transcript", conf, stateDir)
    }
    // the documented lambda split: streaming exact+fuzzy edges PLUS the
    // periodic batch substring compaction over the accumulated items state
    // (token append/drop planted dups are substring-path by design)
    val idx = StreamDedup.stateIndex(spark, stateDir, conf)
    val substr = graft.stage.Candidates.substringPairs(idx.items, conf.maxBandBucket)
    val edges = StreamDedup.edges(spark, stateDir).select("a_id", "b_id")
      .unionByName(substr.select("a_id", "b_id"))
    val verts = spark.read.parquet(s"$stateDir/members").select(col("clip_id").as("id"))
    val labels = graft.stage.Cluster.connectedComponentsWithStats(verts, edges)._1
      .as[(String, String)].collect().toMap
    val planted = graft.audio.ClipSynth.plantedPairs(n)
    planted.size should be > 500
    val missed = planted.filterNot { case (a, b) =>
      labels(f"clip_$a%012d") == labels(f"clip_$b%012d")
    }
    withClue(s"missed ${missed.size}/${planted.size} planted pairs, e.g. ${missed.take(5)}: ") {
      missed shouldBe empty
    }
    all.unpersist()
  }

  test("q_stream_dedup driver query matches the independent oracle at its Verify size") {
    // the exact comparison the driver's DuckDB hash gate makes: the
    // registered query (3 micro-batches of 2000 clips, minScore 0.5,
    // substring compaction, CC) vs the in-memory reference-semantics
    // oracle (getMatches cascade at 0.5 + exact keys + brute containment)
    val got = graft.Queries.queries("q_stream_dedup")(spark, "")
      .as[(String, String)].collect().toMap
    val want = graft.oracle.AudioOracle
      .expectedStreamClusters(2000, minScore = 0.5, minRatio = 0.5)
      .toMap
    got.size shouldBe want.size
    val diffs = want.keysIterator.filter(k => got.get(k) != Some(want(k))).toSeq
    withClue(s"${diffs.size} label diffs, e.g. ${diffs.take(5).map(k => (k, got.get(k), want(k)))}: ") {
      diffs shouldBe empty
    }
  }

  test("a duplicate-free stream yields singleton labels, not a read error") {
    // zero edges means zero parquet files under edges/ (dynamic partition
    // overwrite of an empty frame writes nothing) — labels() must still
    // label every ingested clip as its own singleton
    val (stateDir, _) = newDirs()
    val unique = Seq(("u0", "alpha bravo charlie"), ("u1", "delta echo foxtrot"))
    StreamDedup.processBatch(unique.toDF("clip_id", "transcript"), 0L,
      "clip_id", "transcript", FuzzyConf(), stateDir)
    StreamDedup.labels(spark, stateDir).as[(String, String)].collect().toMap shouldBe
      Map("u0" -> "u0", "u1" -> "u1")
  }

  test("dedupStream wires the micro-batch processor through writeStream") {
    val (stateDir, ckDir) = newDirs()
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, String)]
    val q = StreamDedup.dedupStream(
      stream.toDF().toDF("clip_id", "transcript"),
      "clip_id", "transcript", FuzzyConf(), stateDir, ckDir)
    stream.addData(batch1: _*)
    q.processAllAvailable()
    stream.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    val labels = StreamDedup.labels(spark, stateDir).as[(String, String)].collect().toMap
    labels("c102") shouldBe "c000"
    labels("c105") shouldBe "c104"
    labels.size shouldBe batch1.size + batch2.size
  }
}
