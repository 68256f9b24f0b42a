package graft.bench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.util.control.NonFatal

/** One op as the runner recorded it. Phases: `w` warm-up, `t` measured
  * untraced, `x` measured traced, `s` traced at one core (scale table).
  */
final case class OpRec(
    id: String,
    seq: Int,
    phase: String,
    traced: Boolean,
    secs: Double,
    items: Long,
    counts: Map[String, Long],
    stats: Map[String, Double],
    pinnedMb: Double,
    problems: Seq[String]) {
  def ok: Boolean = problems.isEmpty
}

/** Runs one workload in one JVM and prints the result as the last line of
  * standard output:
  *
  *   graft.bench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --work <dir> --report <file>
  *
  * Set-up runs [[SetupReps]] times (median = `setup_s`); the workload's
  * untimed warm-up ops follow; then ops run in a closed loop from this one
  * client thread until `--seconds` of op time are measured and at least the
  * workload's `minSamples` untraced ops ran. With
  * `--trace 1` the window alternates untraced and traced ops, and
  * batch_flagship adds one traced op at `local[1]` for the scale table.
  */
object Main {
  /** Spark task slots: half the host's 4 cores. At these op sizes 2 slots
    * run within ~10% of 4, and they leave cores for the JIT, GC and
    * neighbours, so a partly busy host slows an op half as much.
    */
  val Cores = 2
  val SetupReps = 3

  /** Every per-layer metric a trace run prints, in BENCHMARK.json order;
    * layers a workload does not exercise read 0. find_lookup's `stage.find.*`
    * layer is not in the list (the workload is not in BENCHMARK.json); its
    * trace run shows it in the table and the report.
    */
  val perLayer: Seq[String] =
    Seq("audio.invariant.wall_s", "audio.invariant.cpu_s", "audio.invariant.gc_s") ++
      Seq("items", "sigs").flatMap(t =>
        Seq("wall_s", "cpu_s", "gc_s", "shuffle_write_mb").map(m => s"stage.index.$t.$m")) ++
      Seq("stage.candidates.wall_s", "stage.candidates.shuffle_write_mb",
        "stage.candidates.task_skew", "stage.candidates.pairs", "stage.edges.wall_s") ++
      Seq("verify", "exact", "substr").flatMap(b =>
        Seq(s"stage.edges.$b.wall_s", s"stage.edges.$b.cpu_s")) ++
      Seq("stage.edges.exact_edges", "stage.edges.fuzzy_edges", "stage.edges.substr_edges",
        "stage.edges.gate_yield", "stage.cluster.wall_s", "stage.cluster.iterations",
        "stage.cluster.clusters") ++
      StreamMicrobatch.steps.flatMap { case (_, n) =>
        Seq(s"streaming.$n.wall_s", s"streaming.$n.bytes_written")
      } ++
      Seq("streaming.growth", "io.state_mb", "io.bytes_written_per_clip",
        "spark.jobs_per_op", "spark.tasks_per_op", "blocks.pinned_mb", "trace.overhead_s") ++
      ("op" +: BatchFlagship.stages).map(s => s"scale.$s.eff")

  def session(cores: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-benchmark")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", localDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Per-thread rate of a pure-JVM compute loop (no Spark, no allocation). */
  private def burn(threads: Int, iters: Long): Double = {
    val ts = (0 until threads).map { tid =>
      new Thread(() => {
        var acc = 0.0
        var i = 0L
        while (i < iters) { acc += java.lang.Math.sqrt((i ^ tid).toDouble); i += 1 }
        if (acc == Double.MinValue) println("")
      })
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start())
    ts.foreach(_.join())
    iters / ((System.nanoTime() - t0) / 1e9)
  }

  private def load(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Host facts for attributing a noisy run: cores, memory, heap, load, and
    * a ~1 s burn probe (per-thread loop rate at 1 and at [[Cores]] threads).
    */
  private def hostFacts(): mutable.LinkedHashMap[String, Any] = {
    val mem = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getTotalMemorySize
      case _ => -1L
    }
    val loadBefore = load()
    val iters = 25000000L
    // JIT: the loop runs at a quarter of its final rate until C2 has
    // compiled it, which can take ~75M iterations while the JVM is starting;
    // warm until two short loops agree
    var (prev, rate, tries) = (0.0, burn(1, iters / 5), 1)
    while (math.abs(rate - prev) > 0.05 * rate && tries < 30) {
      prev = rate
      rate = burn(1, iters / 5)
      tries += 1
    }
    val one = burn(1, iters)
    val many = burn(Cores, iters)
    mutable.LinkedHashMap("nproc" -> Runtime.getRuntime.availableProcessors,
      "mem_total_mb" -> mem / (1L << 20), "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "load_1m_before" -> loadBefore, "burn_1t_per_s" -> one, s"burn_${Cores}t_per_s" -> many,
      "burn_scaling" -> many / one)
  }

  private def pinnedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wl = a.get("workload").flatMap(Workload.byName).getOrElse {
      System.err.println(s"unknown workload; one of ${Workload.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val code =
      try run(wl, a("seed").toLong, a("seconds").toDouble, a("trace") == "1", a("work"), a("report"))
      catch {
        case NonFatal(e) =>
          e.printStackTrace()
          3
      }
    sys.exit(code)
  }

  private def run(wl: Workload, seed: Long, seconds: Double, trace: Boolean, work: String,
      report: String): Int = {
    val host = hostFacts()
    val ctx = new Ctx(seed, work, new JobLog)
    val localDir = s"$work/spark-local"

    val setups = (1 to SetupReps).map { r =>
      if (ctx.spark != null) ctx.spark.stop()
      val t0 = System.nanoTime()
      ctx.spark = session(Cores, localDir)
      ctx.log.newContext()
      ctx.spark.sparkContext.addSparkListener(ctx.log)
      ctx.spans.op = s"setup$r"
      ctx.spans("setup")(wl.setup(ctx))
      (System.nanoTime() - t0) / 1e9
    }
    wl.prepare(ctx)

    val ops = mutable.ArrayBuffer.empty[OpRec]
    var seq = 0
    def runOp(phase: String, traced: Boolean): OpRec = {
      // collect the previous op's garbage (and let the context cleaner free
      // its blocks) before timing starts, as Bench.runPair does
      System.gc()
      Thread.sleep(100)
      val pinned = pinnedMb(ctx.spark)
      val id = s"$phase$seq"
      ctx.spans.op = id
      val t0 = System.nanoTime()
      val out =
        try Right(ctx.spans("op")(wl.op(ctx, seq, traced)))
        catch { case NonFatal(e) => Left(e) }
      val secs = (System.nanoTime() - t0) / 1e9
      val work = Agg.of(ctx.log.jobs(ctx.spark.sparkContext)(_.startsWith(s"$id|")))
      ctx.spans.op = s"$id.check"
      val check = out match {
        case Right(o) =>
          try ctx.spans("check")(wl.check(ctx, seq, o, traced))
          catch { case NonFatal(e) => Check(Map.empty, problems = Seq(s"check failed: $e")) }
        case Left(e) => Check(Map.empty, problems = Seq(s"op failed: $e"))
      }
      val rec = OpRec(id, seq, phase, traced, secs, out.map(_.items).getOrElse(0L),
        Map("jobs" -> work.jobs.toLong, "rows_written" -> work.outRecords) ++ check.counts,
        check.stats ++ Map("tasks" -> work.tasks.toDouble, "cpu_s" -> work.cpuS, "gc_s" -> work.gcS),
        pinned, check.problems)
      ops += rec
      seq += 1
      println(f"[bench] $id%-5s ${if (traced) "traced" else "      "} $secs%8.3f s" +
        (if (rec.ok) "" else s"  FAILED: ${rec.problems.take(3).mkString("; ")}"))
      rec
    }

    while (ops.size < wl.warmups && wl.hasOp(seq) && ops.forall(_.ok)) runOp("w", traced = false)
    // whether the last two warm-ups agreed within 10%, for the report
    val warmSettled = ops.size >= 2 && {
      val Seq(a, b) = ops.takeRight(2).map(_.secs).toSeq
      math.abs(a - b) / math.min(a, b) < 0.10
    }

    var used = 0.0
    var i = 0
    def samples = ops.count(_.phase == "t")
    while ((used < seconds || samples < wl.minSamples || (trace && i < 2)) && wl.hasOp(seq) &&
        ops.forall(_.ok)) {
      val traced = trace && i % 2 == 1
      used += runOp(if (traced) "x" else "t", traced).secs
      i += 1
    }

    // the scale table: one traced op at local[1] against the local[Cores] ones
    val scale = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, Double]]
    if (trace && wl == BatchFlagship && ops.forall(_.ok)) {
      ctx.spark.stop()
      ctx.spark = session(1, localDir)
      ctx.log.newContext()
      ctx.spark.sparkContext.addSparkListener(ctx.log)
      val one = runOp("s", traced = true)
      val many = ops.filter(_.phase == "x").toSeq
      ("op" +: BatchFlagship.stages).foreach { st =>
        val w1 = Workload.spanSecs(ctx, one, st)
        val wn = Workload.median(many.map(Workload.spanSecs(ctx, _, st)))
        scale(st) = mutable.LinkedHashMap("wall_1c_s" -> w1, s"wall_${Cores}c_s" -> wn,
          "eff" -> (if (wn > 0) w1 / (Cores * wn) else 0.0))
      }
    }

    ctx.spans.op = "finish"
    val fin =
      try ctx.spans("finish")(wl.finish(ctx))
      catch { case NonFatal(e) => Some(Check(Map.empty, problems = Seq(s"finish failed: $e"))) }
    val window = ops.filter(o => o.phase != "w").toSeq
    val timed = window.filter(_.phase == "t")
    val tracedOps = window.filter(_.phase == "x")
    System.gc()
    Thread.sleep(100)
    val pinnedEnd = pinnedMb(ctx.spark)
    host("load_1m_after") = load()

    // a failed warm-up ends the run before the window: count it, so a run
    // that stopped there still reports what it attempted and what failed
    val counted = window ++ ops.filter(o => o.phase == "w" && !o.ok)
    val attempted = counted.size + fin.size
    val failed = counted.count(!_.ok) + fin.count(!_.ok)
    val correct = ops.forall(_.ok) && fin.forall(_.ok) && timed.nonEmpty
    val setupS = Workload.median(setups)
    val opP50 = Workload.median(timed.map(_.secs))
    val perS = Workload.median(timed.map(o => o.items / o.secs))

    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        val all = window ++ ops.filter(_.phase == "w")
        val growth = {
          // batch wall growth with state: last quarter over first quarter,
          // over every batch after the cold first one
          val xs = all.filter(_.seq > 0).sortBy(_.seq).map(_.secs)
          val q = math.max(xs.size / 4, 1)
          if (xs.size < 2) 0.0 else Workload.median(xs.takeRight(q)) / Workload.median(xs.take(q))
        }
        wl.layers(ctx, tracedOps) ++ Map(
          "spark.jobs_per_op" -> Workload.median(timed.map(_.counts("jobs").toDouble)),
          "spark.tasks_per_op" -> Workload.median(timed.map(_.stats("tasks"))),
          "blocks.pinned_mb" -> pinnedEnd,
          "trace.overhead_s" -> (Workload.median(tracedOps.map(_.secs)) - opP50)) ++
          (if (wl == StreamMicrobatch) Map("streaming.growth" -> growth) else Map.empty) ++
          scale.map { case (st, v) => s"scale.$st.eff" -> v("eff") }
      }

    val metrics: Seq[(String, (Double, String))] =
      if (trace) perLayer.map(n => n -> (layers.getOrElse(n, 0.0), unitOf(n)))
      else Seq("setup_s" -> (setupS, "s"), "op_p50_s" -> (opP50, "s"),
        "items_per_s" -> (perS, "items/s"))

    // report: everything a later reader needs to attribute a run
    val spanTable = ctx.spans.all.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      def m(f: Span => Double) = Workload.median(ss.map(f))
      // Spark work of the span's own job group (children set their own)
      val aggs = ss.map(s => s.id -> Agg.of(ctx.log.jobs(ctx.spark.sparkContext)(_ == s"${s.op}|${s.name}"))).toMap
      def a(f: Agg => Double) = m(s => f(aggs(s.id)))
      n -> mutable.LinkedHashMap("n" -> ss.size, "p50_s" -> m(_.secs),
        "self_p50_s" -> m(s => s.secs - ctx.spans.all.filter(_.parent == s.id).map(_.secs).sum),
        "jobs" -> a(_.jobs), "tasks" -> a(_.tasks.toDouble), "cpu_s" -> a(_.cpuS), "gc_s" -> a(_.gcS),
        "shuffle_write_mb" -> a(_.shuffleWriteMb), "shuffle_read_mb" -> a(_.shuffleReadMb),
        "spill_mb" -> a(_.spillMb), "task_skew" -> a(_.taskSkew))
    }
    val rep = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> Cores, "host" -> host,
      "setup_s" -> mutable.LinkedHashMap("reps" -> setups, "median" -> setupS),
      "warmup" -> mutable.LinkedHashMap("ops" -> ops.count(_.phase == "w"), "settled" -> warmSettled),
      "op_p50_s" -> mutable.LinkedHashMap("value" -> opP50, "samples" -> timed.size),
      s"${wl.unit}_per_s" -> mutable.LinkedHashMap("value" -> perS,
        s"${wl.unit}_per_op" -> timed.headOption.map(_.items).getOrElse(0L)),
      "fail_frac" -> mutable.LinkedHashMap("failed" -> failed, "attempted" -> attempted),
      "ops" -> ops.map(o => mutable.LinkedHashMap("id" -> o.id, "seq" -> o.seq, "traced" -> o.traced,
        "secs" -> o.secs, "items" -> o.items, "counts" -> o.counts, "stats" -> o.stats,
        "pinned_mb_before" -> o.pinnedMb, "problems" -> o.problems)),
      "finish" -> fin.map(f => mutable.LinkedHashMap("counts" -> f.counts, "problems" -> f.problems)),
      "layers" -> layers.toSeq.sortBy(_._1).toMap, "scale" -> scale, "spans_by_name" -> spanTable.toMap,
      "spans" -> ctx.spans.all.map(s => Seq(s.id, s.parent, s.name, s.op, s.startNs, s.endNs)))
    val out = new java.io.PrintWriter(report, "UTF-8")
    try out.println(Json.render(rep)) finally out.close()
    ctx.spark.stop()

    println(f"[bench] host ${Json.render(host)}")
    println(f"[bench] ${wl.name} seed=$seed: setup_s=$setupS%.3f (median of $SetupReps) " +
      f"op_p50_s=$opP50%.3f (n=${timed.size}) ${wl.unit}_per_s=$perS%.1f " +
      s"(${timed.headOption.map(_.items).getOrElse(0L)} ${wl.unit}/op) fail_frac=$failed/$attempted")
    if (trace) layers.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"[bench]   $k%-40s $v%14.4f") }
    fin.filter(!_.ok).foreach(f => println(s"[bench] finish FAILED: ${f.problems.mkString("; ")}"))
    println(Json.render(mutable.LinkedHashMap("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, (v, u)) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u)
      }: _*))))
    if (correct) 0 else 1
  }

  private def unitOf(metric: String): String = metric.split('.').last match {
    case "wall_s" | "cpu_s" | "gc_s" | "overhead_s" => "s"
    case m if m.endsWith("_mb") => "MB"
    case "bytes_written" => "bytes"
    case "bytes_written_per_clip" => "bytes/clip"
    case "pairs" | "exact_edges" | "fuzzy_edges" | "substr_edges" | "iterations" | "clusters" |
        "jobs_per_call" | "jobs_per_op" | "tasks_per_op" => "count"
    case _ => "ratio"
  }
}
