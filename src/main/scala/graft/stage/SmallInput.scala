package graft.stage

import org.apache.spark.sql.DataFrame

/** The small-input gate: a frame is SMALL when the optimizer's size
  * estimate of its plan is at most 64 MB. Parquet-backed query-scale
  * inputs report real (small) stats; inputs with UNKNOWN stats
  * (checkpointed RDDs, typed Dataset maps — estimates default to huge) and
  * real corpora are not small. Callers take their query-scale arm on a
  * small input:
  *  - an explicit round-robin spread over cluster width for
  *    compute-dense but byte-tiny tables (Queries.spreadSmall, the
  *    FuzzyPipeline index's `spreadParallelism`): AQE sizes partitions by
  *    bytes and would serialize their per-row CPU onto 1-2 tasks, and the
  *    gate bounds the exchange's cost;
  *  - the substring pass's lazy plan (Candidates.substringPairs), whose
  *    materialize + count jobs cost more than they save below this size.
  */
object SmallInput {
  val MaxBytes: Long = 64L << 20

  def apply(df: DataFrame): Boolean = {
    val est =
      try df.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case scala.util.control.NonFatal(_) => BigInt(Long.MaxValue) }
    est <= MaxBytes
  }
}
