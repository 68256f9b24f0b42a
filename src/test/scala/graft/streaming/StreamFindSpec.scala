package graft.streaming

import graft.SparkTestSession
import graft.conf.FuzzyConf
import graft.stage.IndexBuild
import graft.text.FuzzySetRef
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class StreamFindSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("streaming findMin over micro-batches == batch/oracle results") {
    val corpus = Seq("Jurassic Park", "Terminator", "The Matrix", "Alaska", "Wyoming")
    val clips = corpus.zipWithIndex.map { case (t, i) => (f"c$i%03d", t) }
      .toDF("clip_id", "transcript")
    val idx = IndexBuild(clips, "clip_id", "transcript", FuzzyConf())
    val oracle = FuzzySetRef.fromList(corpus)

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, String)]
    val outDir = java.nio.file.Files.createTempDirectory("stream-find-out").toString
    val ckDir = java.nio.file.Files.createTempDirectory("stream-find-ck").toString
    def stored() = spark.sparkContext.getRDDStorageInfo.length
    val storedBefore = stored()
    val q = StreamFind.findStream(
      stream.toDF().toDF("query_id", "query"), idx, 0.33, outDir, ckDir)

    stream.addData(("q0", "percolator"), ("q1", "alaska"))
    q.processAllAvailable()
    stream.addData(("q2", "Why-oh-me-ing"), ("q3", "zzzz qqqq"))
    q.processAllAvailable()
    q.stop()

    val out = spark.read.parquet(outDir)
      .select("query_id", "score", "matched")
      .as[(String, Double, String)]
      .collect()
      .groupBy(_._1)

    out("q0").map(_._3).toSet shouldBe oracle.find("percolator").map(_._2).toSet
    out("q1").toSeq shouldBe Seq(("q1", 1.0, "Alaska")) // exact short-circuit
    val wy = oracle.find("Why-oh-me-ing")
    out("q2").map(r => (r._3, r._2)).toSet shouldBe wy.map(m => (m._2, m._1)).toSet
    out.get("q3") shouldBe None // no match above threshold

    // at-least-once replay: re-running a micro-batch (same batchId, as a
    // foreachBatch retry would) must not duplicate its output rows
    val before = spark.read.parquet(outDir).count()
    StreamFind.writeBatch(
      Seq(("q0", "percolator"), ("q1", "alaska")).toDF("query_id", "query"),
      batchId = 0L, idx, 0.33, outDir)
    spark.read.parquet(outDir).count() shouldBe before

    // every micro-batch releases the cascade's match blocks after its
    // write: a long-lived query pins nothing per batch. unpersist is async
    // -> bounded wait before asserting
    var waited = 0
    while (stored() > storedBefore && waited < 20) { Thread.sleep(250); waited += 1 }
    stored() should be <= storedBefore
  }

  test("ingestStream: restart from checkpoint does not duplicate ingested rows") {
    // round-4 verdict item 7: findStream's idempotent batch write is pinned
    // above; this pins ingestStream's exactly-once — the file sink's
    // _spark_metadata commit log plus the source checkpoint must make a
    // stop/restart cycle re-ingest NOTHING already committed while still
    // picking up input that arrived in between
    import org.apache.spark.sql.types._
    val srcDir = java.nio.file.Files.createTempDirectory("ingest-src").toString
    val tableDir = java.nio.file.Files.createTempDirectory("ingest-table").toString + "/clips"
    val ckDir = java.nio.file.Files.createTempDirectory("ingest-ck").toString
    val schema = StructType(Seq(
      StructField("clip_id", StringType), StructField("transcript", StringType)))
    def source() = spark.readStream.schema(schema).parquet(srcDir)

    Seq(("c000", "Jurassic Park"), ("c001", "Terminator"))
      .toDF("clip_id", "transcript").write.mode("append").parquet(srcDir)
    val q1 = StreamFind.ingestStream(source(), tableDir, ckDir)
    q1.processAllAvailable()
    q1.stop()
    spark.read.parquet(tableDir).count() shouldBe 2

    // new input lands while the stream is down; restart from the SAME
    // checkpoint — the already-committed batch must not replay
    Seq(("c002", "The Matrix")).toDF("clip_id", "transcript")
      .write.mode("append").parquet(srcDir)
    val q2 = StreamFind.ingestStream(source(), tableDir, ckDir)
    q2.processAllAvailable()
    q2.stop()

    val ids = spark.read.parquet(tableDir).select("clip_id").as[String].collect().sorted
    ids shouldBe Array("c000", "c001", "c002")
  }
}
