package graft.bench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One Spark job as the listener saw it: the local properties set on the
  * submitting thread — the job group the benchmark sets per span, the
  * scheduler pool and job description the engine sets itself — its wall
  * interval, and the summed metrics of its tasks.
  */
final class JobRec(
    val id: Int,
    val group: String,
    val pool: String,
    val desc: String,
    val startMs: Long) {
  var endMs: Long = startMs
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var outBytes = 0L
  var outRecords = 0L
  /** executor run time (ms) of every task, per stage: for task skew */
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** Benchmark-side listener: records every job with its properties and task
  * metrics. Local properties are inherited by threads the engine starts
  * (edge branches, the members-upsert side thread), so their jobs land in
  * the group of the span that started them.
  */
final class JobLog extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val byId = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String): String =
      Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val j = new JobRec(e.jobId, prop("spark.jobGroup.id"), prop("spark.scheduler.pool"),
      prop("spark.job.description"), e.time)
    jobs += j
    byId(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.diskBytesSpilled
      j.outBytes += m.outputMetrics.bytesWritten
      j.outRecords += m.outputMetrics.recordsWritten
      j.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  /** Job and stage ids restart with every SparkContext: forget the old
    * context's id maps (its jobs stay recorded).
    */
  def newContext(): Unit = synchronized {
    byId.clear()
    stageJob.clear()
  }

  /** Jobs whose group satisfies `p`, after every posted event is delivered. */
  def jobs(sc: SparkContext)(p: String => Boolean): Seq[JobRec] = {
    org.apache.spark.BenchBridge.drainListeners(sc)
    synchronized(jobs.filter(j => p(j.group)).toList)
  }
}

/** Spark work of a set of jobs. `wallS` is the union of their intervals,
  * so overlapping jobs count once; `taskSkew` is max over median task time
  * of the stage that ran longest in total.
  */
final case class Agg(
    jobs: Int,
    tasks: Long,
    wallS: Double,
    cpuS: Double,
    gcS: Double,
    shuffleWriteMb: Double,
    shuffleReadMb: Double,
    spillMb: Double,
    outBytes: Long,
    outRecords: Long,
    taskSkew: Double)

object Agg {
  def of(js: Seq[JobRec]): Agg = {
    val iv = js.map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    val stages = js.flatMap(_.taskMs.toSeq)
    val skew =
      if (stages.isEmpty) 0.0
      else {
        val ts = stages.maxBy(_._2.sum)._2.sorted
        ts.last.toDouble / math.max(ts((ts.size - 1) / 2), 1L)
      }
    Agg(js.size, js.map(_.tasks).sum, covered / 1e3, js.map(_.cpuNs).sum / 1e9,
      js.map(_.gcMs).sum / 1e3, js.map(_.shuffleWrite).sum / 1e6,
      js.map(_.shuffleRead).sum / 1e6, js.map(_.spill).sum / 1e6,
      js.map(_.outBytes).sum, js.map(_.outRecords).sum, skew)
  }
}

final case class Span(id: Int, parent: Int, name: String, op: String, startNs: Long, endNs: Long) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into the engine's public functions:
  * name, start, end, parent span and op id, kept in memory and written with
  * the report at exit. Entering a span sets the Spark job group
  * `<op>|<span>`, so the listener attributes each job to the innermost span
  * open on its submitting thread. Spans are opened from the client thread
  * only.
  */
final class Spans(sc: () => SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil // (span id, job group)
  private var nextId = 0
  var op: String = ""

  def apply[A](name: String)(f: => A): A = {
    val id = { nextId += 1; nextId }
    val parent = stack.headOption.map(_._1).getOrElse(0)
    val group = s"$op|$name"
    val ctx = sc()
    ctx.setLocalProperty("spark.jobGroup.id", group)
    stack = (id, group) :: stack
    val t0 = System.nanoTime()
    try f
    finally {
      done += Span(id, parent, name, op, t0, System.nanoTime())
      stack = stack.tail
      ctx.setLocalProperty("spark.jobGroup.id", stack.headOption.map(_._2).orNull)
    }
  }

  def all: Seq[Span] = done.toList
  def of(opId: String, name: String): Option[Span] = done.find(s => s.op == opId && s.name == name)
}
