package graft.streaming

import graft.stage.{FindStage, IndexTables, Scratch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured Streaming front-ends.
  *
  * The reference has no streaming semantics (SURVEY §2.5) and the dedup
  * engine is deliberately batch-with-checkpoints; what a production corpus
  * DOES stream is (a) newly-arriving clips and (b) lookup traffic. Both
  * are micro-batch shaped, so they ride Structured Streaming's
  * foreachBatch with exactly the batch operators — no second
  * implementation of the semantics to keep in sync.
  */
object StreamFind {

  /** Continuous `findMin` over a stream of probes (query_id, query)
    * against a static index: each micro-batch runs the batch FindStage
    * (exact short-circuit + cascade + rerank) and writes results to
    * `outDir` partitioned by batch id. foreachBatch alone is only
    * at-least-once (a retried/restarted micro-batch re-runs the write), so
    * the write is made IDEMPOTENT per batch: dynamic partition overwrite on
    * `batch_id` replaces a replayed batch's own partition instead of
    * appending a duplicate copy — end-to-end effectively-once output.
    */
  def findStream(
      probes: DataFrame,
      idx: IndexTables,
      minScore: Double,
      outDir: String,
      checkpointDir: String): StreamingQuery =
    probes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, idx, minScore, outDir)
      }
      .start()

  /** One micro-batch's find + idempotent write (exposed for replay tests):
    * re-running the same (batch, batchId) replaces that batch's partition,
    * leaving exactly one copy of its results. The cascade's match blocks
    * go into a per-batch scratch released after the write, so a long-lived
    * query pins nothing per batch.
    */
  def writeBatch(
      batch: DataFrame,
      batchId: Long,
      idx: IndexTables,
      minScore: Double,
      outDir: String): Unit = {
    val scratch = new Scratch()
    try FindStage
      .findMin(batch, idx, minScore, scratch = scratch)
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outDir)
    finally scratch.release()
  }

  /** Streaming clip ingestion: append arriving clips to the corpus table;
    * the next pipeline run (or an Iceberg MERGE on a real catalog) folds
    * them into the index — the streaming form of `addMany`
    * (Simple.hs:308-315).
    */
  def ingestStream(clips: DataFrame, tableDir: String, checkpointDir: String): StreamingQuery =
    clips.writeStream
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", tableDir)
      .start()
}
