package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev-only: runs the q_stream_dedup driver query at its exact Verify-time
  * size and diffs its labels against AudioOracle.expectedStreamClusters —
  * the same comparison the driver's DuckDB hash gate will make. Usage:
  *   sbt 'Test/runMain graft.tools.StreamOracleCheck <cores>'
  */
object StreamOracleCheck {
  def main(args: Array[String]): Unit = {
    val cores = if (args.length > 0) args(0).toInt else 8
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-stream-oracle-check")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val got = graft.Queries.queries("q_stream_dedup")(spark, "")
      .as[(String, String)].collect().toMap
    val want = graft.oracle.AudioOracle
      .expectedStreamClusters(2000, minScore = 0.5, minRatio = 0.5)
      .toMap
    val missing = want.keySet -- got.keySet
    val extra = got.keySet -- want.keySet
    val diff = want.keysIterator.filter(k => got.get(k).exists(_ != want(k))).toSeq
    println(s"rows got=${got.size} want=${want.size} missing=${missing.size} extra=${extra.size} label_diffs=${diff.size}")
    diff.take(10).foreach(k => println(s"  $k: got=${got(k)} want=${want(k)}"))
    spark.stop()
    if (missing.nonEmpty || extra.nonEmpty || diff.nonEmpty) sys.exit(1)
    println("PARITY OK")
  }
}
