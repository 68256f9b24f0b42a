package graft.bench

import graft.api.FuzzyPipeline
import graft.audio.{ClipSynth, Invariant}
import graft.conf.FuzzyConf
import graft.stage.Cluster
import graft.streaming.StreamDedup
import graft.text.FuzzySetRef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one op handed back, for its untimed correctness check. */
final case class OpOut(items: Long, value: Any)

/** An untimed check. `counts` must repeat exactly for a fixed seed (the
  * self-check compares them across runs); `stats` are informational.
  */
final case class Check(
    counts: Map[String, Long],
    stats: Map[String, Double] = Map.empty,
    problems: Seq[String] = Nil) {
  def ok: Boolean = problems.isEmpty
}

/** State shared by the runner and a workload within one JVM. */
final class Ctx(val seed: Long, val work: String, val log: JobLog) {
  var spark: SparkSession = _
  val spans = new Spans(() => spark.sparkContext)
}

/** One benchmark workload: set-up (timed as `setup_s`), the unit op (timed
  * as `op_p50_s`), and the untimed checks that feed `fail_frac`.
  */
trait Workload {
  def name: String
  /** what `items_per_s` counts: clips or probes */
  def unit: String
  /** untimed warm-up ops before the window: a fixed count, so every run
    * measures the same phase of the JIT drift
    */
  def warmups: Int
  /** untraced ops the window measures at least. Sized so that on the
    * reference host this many ops outlast `--seconds`: every run then takes
    * its median over the same ops of the (still slightly drifting) sequence,
    * however fast the host is while it runs.
    */
  def minSamples: Int
  /** Inputs into the work dir, plus whatever a user pays before the first op. */
  def setup(ctx: Ctx): Unit
  /** Untimed ground truth / oracle, built once after set-up. */
  def prepare(ctx: Ctx): Unit
  /** Whether op `seq` exists (the stream's batch sequence is finite). */
  def hasOp(seq: Int): Boolean = true
  /** Op number `seq` (warm-ups first, then the measured window). A traced
    * op calls the same public functions one layer at a time, each in a span.
    */
  def op(ctx: Ctx, seq: Int, traced: Boolean): OpOut
  def check(ctx: Ctx, seq: Int, out: OpOut, traced: Boolean): Check
  /** A closing op checked once after the window (the stream's labels call). */
  def finish(ctx: Ctx): Option[Check] = None
  /** Per-layer metrics from the traced ops of a trace run. */
  def layers(ctx: Ctx, traced: Seq[OpRec]): Map[String, Double]
}

object Workload {
  val all: Seq[Workload] = Seq(BatchFlagship, StreamMicrobatch, FindLookup)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Median over the traced ops of a per-op value. */
  def med(ops: Seq[OpRec])(f: OpRec => Double): Double = median(ops.map(f))

  def spanSecs(ctx: Ctx, op: OpRec, name: String): Double =
    ctx.spans.of(op.id, name).map(_.secs).getOrElse(0.0)

  def agg(ctx: Ctx, op: OpRec, span: String)(keep: JobRec => Boolean = _ => true): Agg =
    Agg.of(ctx.log.jobs(ctx.spark.sparkContext)(_ == s"${op.id}|$span").filter(keep))

  /** Planted (base clip, partner clip, dup_kind) pairs of a ClipSynth table. */
  def plantedPairs(clips: DataFrame): Array[(String, String, String)] =
    clips.filter(col("dup_kind") =!= "base")
      .select(format_string("clip_%012d", col("base_idx")), col("clip_id"), col("dup_kind"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))

  /** Planted pairs whose two clips got different labels. */
  def missed(planted: Array[(String, String, String)], labels: Map[String, String])
      : Array[(String, String, String)] =
    planted.filterNot { case (a, b, _) => labels.get(a).exists(labels.get(b).contains) }

  def recallProblem(planted: Array[(String, String, String)], miss: Array[(String, String, String)])
      : Option[String] =
    if (miss.isEmpty) None
    else Some(s"planted-pair recall ${planted.length - miss.length}/${planted.length}; missed " +
      miss.groupBy(_._3).map { case (k, xs) => s"${xs.length} $k" }.mkString(", ") +
      s" e.g. ${miss.take(3).map(m => s"${m._1}~${m._2}").mkString(" ")}")

  def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}

/** Benchmark tables drawn from ClipSynth's row plan. ClipSynth plans rows in
  * pairs (2b, 2b+1) and plants a partner when the first draw of
  * `java.util.Random(seed * 104729 + b)` is below 0.2. Those first draws walk
  * slowly with b, so a contiguous prefix of its table plants anywhere from
  * 0% to over 50% of its bases depending on the seed (0% on seed 202 for
  * 5,000 pairs). Benchmark pair p therefore takes base p * [[Stride]], which
  * spreads the draws over their whole range: every seed plants ~20%.
  */
object Corpus {
  val Stride = 7919L

  def row(pair: Long, partner: Boolean): Long = 2 * pair * Stride + (if (partner) 1 else 0)

  def clip(pair: Long, partner: Boolean, seed: Long, includeAudio: Boolean): ClipSynth.Clip =
    ClipSynth.clipAt(row(pair, partner), seed, includeAudio)

  /** `pairs` base/partner slot pairs as a DataFrame with ClipSynth's schema. */
  def table(spark: SparkSession, pairs: Long, seed: Long, includeAudio: Boolean): DataFrame = {
    import spark.implicits._
    spark.range(pairs)
      .mapPartitions(_.flatMap(p => Iterator(false, true).map(clip(p, _, seed, includeAudio))))
      .toDF()
  }
}

import Workload._

/** The north-star job as `graft.Bench.flagship` shapes it: the per-row
  * audio invariant running alongside dedup + clustering of the same planted
  * clip table. The table carries audio; the dedup stages read only
  * (clip_id, transcript), which the parquet scan prunes to.
  */
object BatchFlagship extends Workload {
  val name = "batch_flagship"
  val unit = "clips"
  val clips = 5000L
  val warmups = 4
  val minSamples = 3

  private final case class Out(invariantPass: Long, p: FuzzyPipeline, clusters: DataFrame)
  private var planted: Array[(String, String, String)] = Array.empty

  private def dir(ctx: Ctx) = s"${ctx.work}/clips"

  def setup(ctx: Ctx): Unit =
    Corpus.table(ctx.spark, clips / 2, ctx.seed, includeAudio = true)
      .write.mode("overwrite").parquet(dir(ctx))

  /** Planted pairs from ClipSynth's ground-truth columns. */
  def prepare(ctx: Ctx): Unit = planted = plantedPairs(ctx.spark.read.parquet(dir(ctx)))

  private def invariant(input: DataFrame, seed: Long): Long =
    Invariant.check(input, seed).filter("pcm_ok and transcript_ok").count()

  def op(ctx: Ctx, seq: Int, traced: Boolean): OpOut = {
    val spark = ctx.spark
    val input = spark.read.parquet(dir(ctx))
    val p = FuzzyPipeline(spark, input, "clip_id", "transcript", FuzzyConf())
    if (!traced) {
      // the invariant overlaps the dedup chain from a second thread in its
      // own FAIR pool, exactly as Bench.flagship runs it
      val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
      try {
        val audio = pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", "graft-audio")
            invariant(input, ctx.seed)
          }
        })
        val clusters = p.clusters()
        clusters.count()
        OpOut(clips, Out(audio.get(), p, clusters))
      } finally pool.shutdown()
    } else {
      val s = ctx.spans
      val pass = s("audio.invariant")(invariant(input, ctx.seed))
      s("stage.index.items")(p.index.items.count())
      s("stage.index.sigs")(p.index.sigs.count())
      s("stage.candidates")(p.candidatePairs().count())
      s("stage.edges")(p.dedupEdges())
      val clusters = s("stage.cluster") { val c = p.clusters(); c.count(); c }
      OpOut(clips, Out(pass, p, clusters))
    }
  }

  def check(ctx: Ctx, seq: Int, out: OpOut, traced: Boolean): Check = {
    val o = out.value.asInstanceOf[Out]
    val labels = o.clusters.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val miss = missed(planted, labels)
    val kinds = o.p.dedupEdges().groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val pairs = o.p.candidatePairs().count()
    // CC iterations come from the public stats entry point, once per run
    // (its blocks stay pinned, so never inside the measured window)
    val iterations =
      if (traced && !ctx.spans.all.exists(_.name == "stage.cluster.stats")) {
        val (labeled, it) = ctx.spans("stage.cluster.stats")(Cluster.connectedComponentsWithStats(
          o.p.index.members.select(col("clip_id").as("id")),
          o.p.dedupEdges().select("a_id", "b_id")))
        org.apache.spark.sql.GraftColumnBridge.checkpointedRdd(labeled)
          .foreach(_.unpersist(blocking = false))
        Map("cc_iterations" -> it.toLong)
      } else Map.empty[String, Long]
    val problems = Seq(
      if (o.invariantPass != clips) Some(s"invariant passed ${o.invariantPass} of $clips clips") else None,
      if (labels.size != clips) Some(s"${labels.size} labels for $clips clips") else None,
      recallProblem(planted, miss)).flatten
    Check(
      Map("candidate_pairs" -> pairs,
        "edges_exact" -> kinds.getOrElse("exact", 0L),
        "edges_fuzzy" -> kinds.getOrElse("fuzzy", 0L),
        "edges_substr" -> kinds.getOrElse("substr", 0L),
        "clusters" -> labels.values.toSet.size.toLong,
        "planted_pairs" -> planted.length.toLong,
        "recall_hits" -> (planted.length - miss.length).toLong) ++ iterations,
      problems = problems)
  }

  /** Spans of the traced op, in call order; `op` is the whole traced op. */
  val stages = Seq("audio.invariant", "stage.index.items", "stage.index.sigs",
    "stage.candidates", "stage.edges", "stage.cluster")

  def layers(ctx: Ctx, traced: Seq[OpRec]): Map[String, Double] = {
    def wall(n: String) = med(traced)(spanSecs(ctx, _, n))
    def a(n: String)(f: Agg => Double) = med(traced)(o => f(agg(ctx, o, n)()))
    // FuzzyPipeline.concurrently runs edge branch i in pool graft-branch-<i>
    def branch(i: Int)(f: Agg => Double) =
      med(traced)(o => f(agg(ctx, o, "stage.edges")(_.pool == s"graft-branch-$i")))
    def count(k: String) = med(traced)(_.counts.getOrElse(k, 0L).toDouble)
    val pairs = count("candidate_pairs")
    Map(
      "audio.invariant.wall_s" -> wall("audio.invariant"),
      "audio.invariant.cpu_s" -> a("audio.invariant")(_.cpuS),
      "audio.invariant.gc_s" -> a("audio.invariant")(_.gcS)) ++
      Seq("items", "sigs").flatMap { t =>
        val n = s"stage.index.$t"
        Seq(s"$n.wall_s" -> wall(n), s"$n.cpu_s" -> a(n)(_.cpuS), s"$n.gc_s" -> a(n)(_.gcS),
          s"$n.shuffle_write_mb" -> a(n)(_.shuffleWriteMb))
      } ++ Map(
      "stage.candidates.wall_s" -> wall("stage.candidates"),
      "stage.candidates.shuffle_write_mb" -> a("stage.candidates")(_.shuffleWriteMb),
      "stage.candidates.task_skew" -> a("stage.candidates")(_.taskSkew),
      "stage.candidates.pairs" -> pairs,
      "stage.edges.wall_s" -> wall("stage.edges")) ++
      Seq("verify", "exact", "substr").zipWithIndex.flatMap { case (b, i) =>
        Seq(s"stage.edges.$b.wall_s" -> branch(i)(_.wallS), s"stage.edges.$b.cpu_s" -> branch(i)(_.cpuS))
      } ++ Map(
      "stage.edges.exact_edges" -> count("edges_exact"),
      "stage.edges.fuzzy_edges" -> count("edges_fuzzy"),
      "stage.edges.substr_edges" -> count("edges_substr"),
      "stage.edges.gate_yield" -> (if (pairs > 0) count("edges_fuzzy") / pairs else 0.0),
      "stage.cluster.wall_s" -> wall("stage.cluster"),
      "stage.cluster.iterations" -> traced.flatMap(_.counts.get("cc_iterations")).headOption
        .getOrElse(0L).toDouble,
      "stage.cluster.clusters" -> count("clusters"))
  }
}

/** `StreamDedup.processBatch` in a closed loop over a fixed batch sequence
  * into growing state. Batch j carries the base slots of pair block j and the
  * partner slots of block j-1 (a contiguous range of rows would never split a
  * ClipSynth pair): every planted partner arrives one batch after its base and
  * must pair through the accumulated key state. Each batch also re-delivers
  * a seeded share of earlier clips.
  */
object StreamMicrobatch extends Workload {
  val name = "stream_microbatch"
  val unit = "clips"
  val pairsPerBlock = 1000
  val blocks = 12
  val redeliverShare = 0.02
  val warmups = 2
  val minSamples = 3

  private def src(ctx: Ctx) = s"${ctx.work}/stream_source"
  private def state(ctx: Ctx) = s"${ctx.work}/stream_state"

  /** (batch, pair, partner slot) delivery schedule: batches 0..blocks. */
  def schedule(seed: Long): Seq[(Int, Long, Boolean)] = {
    val rng = new java.util.Random(seed * 6364136223846793005L + 1442695040888963407L)
    val p = pairsPerBlock.toLong
    (0 to blocks).flatMap { j =>
      val bases = if (j < blocks) (j * p until (j + 1) * p).map((_, false)) else Nil
      val partners = if (j >= 1) ((j - 1) * p until j * p).map((_, true)) else Nil
      val fresh = bases ++ partners
      // earlier slots: bases of blocks < j, partners of blocks < j - 1
      val nBase = p * j
      val nPartner = p * math.max(j - 1, 0)
      val want = math.min(math.round(redeliverShare * fresh.size), nBase + nPartner)
      val again = scala.collection.mutable.LinkedHashSet.empty[(Long, Boolean)]
      while (again.size < want) {
        val u = (rng.nextDouble() * (nBase + nPartner)).toLong
        again += (if (u < nBase) (u, false) else (u - nBase, true))
      }
      (fresh ++ again).map { case (pair, partner) => (j, pair, partner) }
    }
  }

  private var batchSizes: Map[Int, Long] = Map.empty
  private var lastBatch = -1

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    graft.io.TableIO.deleteRecursively(java.nio.file.Paths.get(state(ctx)))
    val rows = schedule(ctx.seed).map { case (j, pair, partner) =>
      val c = Corpus.clip(pair, partner, ctx.seed, includeAudio = false)
      (j, c.clip_id, c.transcript, c.base_idx, c.dup_kind)
    }
    batchSizes = rows.groupBy(_._1).map { case (j, rs) => j -> rs.size.toLong }
    lastBatch = -1
    rows.toDF("batch_no", "clip_id", "transcript", "base_idx", "dup_kind")
      .write.mode("overwrite").partitionBy("batch_no").parquet(src(ctx))
  }

  def prepare(ctx: Ctx): Unit = ()

  override def hasOp(seq: Int): Boolean = seq <= blocks

  def op(ctx: Ctx, seq: Int, traced: Boolean): OpOut = {
    val batch = ctx.spark.read.parquet(src(ctx)).filter(col("batch_no") === seq).drop("batch_no")
    StreamDedup.processBatch(batch, seq, "clip_id", "transcript", FuzzyConf(), state(ctx))
    lastBatch = seq
    OpOut(batchSizes(seq), seq)
  }

  def check(ctx: Ctx, seq: Int, out: OpOut, traced: Boolean): Check = {
    val part = s"${state(ctx)}/edges/batch_id=$seq"
    val (rows, distinct) =
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(part))) (0L, 0L)
      else {
        val e = ctx.spark.read.parquet(part)
        (e.count(), e.select("a_id", "b_id").distinct().count())
      }
    Check(Map("edges_written" -> rows),
      stats = Map("state_mb" -> dirBytes(state(ctx)) / 1e6),
      problems = if (rows != distinct) Seq(s"batch $seq wrote ${rows - distinct} duplicate edges") else Nil)
  }

  /** The closing `labels` call: planted-pair recall over every clip
    * ingested, and no duplicate edge anywhere in the accumulated state.
    */
  override def finish(ctx: Ctx): Option[Check] = Some {
    val spark = ctx.spark
    val labels = StreamDedup.labels(spark, state(ctx)).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val ingested = spark.read.parquet(src(ctx)).filter(col("batch_no") <= lastBatch)
    val clipsIn = ingested.select("clip_id").distinct().count()
    // streaming leaves the substring pass to the periodic batch pipeline
    // (StreamDedup scaladoc), so a last-token-drop partner that only
    // containment catches is not its miss: the gate covers exact and typo
    // pairs; drop-pair recall is reported
    val (drops, planted) = plantedPairs(ingested).partition(_._3 == "drop")
    val miss = missed(planted, labels)
    val dropMiss = missed(drops, labels)
    val dupEdges = StreamDedup.edges(spark, state(ctx)).groupBy("a_id", "b_id").count()
      .filter(col("count") > 1).count()
    Check(
      Map("labels" -> labels.size.toLong, "planted_pairs" -> planted.length.toLong,
        "recall_hits" -> (planted.length - miss.length).toLong,
        "drop_pairs" -> drops.length.toLong, "drop_hits" -> (drops.length - dropMiss.length).toLong,
        "duplicate_edges" -> dupEdges),
      problems = Seq(
        if (labels.size != clipsIn) Some(s"${labels.size} labels for $clipsIn clips") else None,
        recallProblem(planted, miss),
        if (dupEdges != 0) Some(s"$dupEdges duplicate edges in state") else None).flatten)
  }

  /** Job descriptions StreamDedup sets (`stream b<id>: <step>`) -> step. */
  val steps = Seq("items upsert" -> "items_upsert", "members upsert" -> "members_upsert",
    "sigs upsert" -> "sigs_upsert", "keys write" -> "keys_write",
    "candidate pairs" -> "candidates", "verify+edges write" -> "verify_edges_write")

  def layers(ctx: Ctx, traced: Seq[OpRec]): Map[String, Double] = {
    def step(o: OpRec, label: String) =
      agg(ctx, o, "op")(_.desc == s"stream b${o.seq}: $label")
    val perStep = steps.flatMap { case (label, n) =>
      Seq(s"streaming.$n.wall_s" -> med(traced)(step(_, label).wallS),
        s"streaming.$n.bytes_written" -> med(traced)(step(_, label).outBytes.toDouble))
    }
    val written = traced.map(o => agg(ctx, o, "op")().outBytes).sum
    Map(
      "io.state_mb" -> traced.lastOption.flatMap(_.stats.get("state_mb")).getOrElse(0.0),
      "io.bytes_written_per_clip" -> written.toDouble / math.max(traced.map(_.items).sum, 1L)
    ) ++ perStep
  }
}

/** One client calling `FuzzyPipeline.find` in a closed loop with small probe
  * sets against an index built in set-up. Each set mixes exact-key hits,
  * typo'd near-hits and unrelated phrases; every answer is compared with
  * the in-memory reference `FuzzySetRef.find`.
  */
object FindLookup extends Workload {
  val name = "find_lookup"
  val unit = "probes"
  val corpus = 3000L
  val probesPerCall = 8
  val warmups = 3
  val minSamples = 5

  private var pipeline: FuzzyPipeline = _
  private var oracle: FuzzySetRef = _

  private def dir(ctx: Ctx) = s"${ctx.work}/corpus"

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    Corpus.table(spark, corpus / 2, ctx.seed, includeAudio = false)
      .select("clip_id", "transcript").write.mode("overwrite").parquet(dir(ctx))
    pipeline = FuzzyPipeline(spark, spark.read.parquet(dir(ctx)), "clip_id", "transcript", FuzzyConf())
    pipeline.index.items.count()
  }

  def prepare(ctx: Ctx): Unit =
    oracle = FuzzySetRef.fromList(for {
      pair <- 0L until corpus / 2
      partner <- Seq(false, true)
    } yield Corpus.clip(pair, partner, ctx.seed, includeAudio = false).transcript)

  /** Probe set `seq`: per four probes one exact-key hit (case changed), two
    * one-character typos of corpus rows, and one phrase unrelated to the
    * corpus that falls through the whole gram-size cascade.
    */
  def probes(seed: Long, seq: Int): Seq[(String, String)] = {
    val rng = new java.util.Random(seed * 1000003L + seq)
    def row() = Corpus.clip((rng.nextDouble() * corpus / 2).toLong, rng.nextBoolean(), seed,
      includeAudio = false).transcript
    (0 until probesPerCall).map { i =>
      val q = i % 4 match {
        case 0 => row().capitalize
        case 3 => ClipSynth.baseTranscript(corpus + rng.nextInt(1 << 20), seed + 1)
        case _ =>
          val t = row()
          val pos = rng.nextInt(t.length)
          val c = t(pos)
          val typo = if (c < 'a' || c > 'z') 'a' + rng.nextInt(26) else 'a' + (c - 'a' + 1 + rng.nextInt(25)) % 26
          t.updated(pos, typo.toChar)
      }
      (f"q$seq%05d_$i", q)
    }
  }

  def op(ctx: Ctx, seq: Int, traced: Boolean): OpOut = {
    val spark = ctx.spark
    import spark.implicits._
    val ps = probes(ctx.seed, seq)
    def call() = pipeline.find(ps.toDF("query_id", "query")).collect()
    val rows = if (traced) ctx.spans("stage.find")(call()) else call()
    OpOut(ps.size.toLong, (ps, rows))
  }

  def check(ctx: Ctx, seq: Int, out: OpOut, traced: Boolean): Check = {
    val (ps, rows) = out.value.asInstanceOf[(Seq[(String, String)], Array[org.apache.spark.sql.Row])]
    val got = rows.toSeq
      .map(r => r.getAs[String]("query_id") -> (r.getAs[String]("matched"), r.getAs[Double]("score")))
      .groupBy(_._1).map { case (q, ms) => q -> ms.map(_._2).sortBy(_._1) }
    val problems = ps.flatMap { case (qid, q) =>
      val want = oracle.find(q).map { case (s, m) => (m, s) }.sortBy(_._1)
      val have = got.getOrElse(qid, Nil)
      val same = have.size == want.size && have.zip(want).forall { case ((hm, hs), (wm, ws)) =>
        hm == wm && math.abs(hs - ws) <= 1e-9
      }
      if (same) None else Some(s"$qid '$q': find=$have oracle=$want")
    }
    Check(Map("matches" -> rows.length.toLong), problems = problems)
  }

  def layers(ctx: Ctx, traced: Seq[OpRec]): Map[String, Double] = Map(
    "stage.find.wall_s" -> med(traced)(spanSecs(ctx, _, "stage.find")),
    "stage.find.jobs_per_call" -> med(traced)(o => agg(ctx, o, "stage.find")().jobs.toDouble),
    "stage.find.shuffle_read_mb" -> med(traced)(o => agg(ctx, o, "stage.find")().shuffleReadMb),
    "stage.find.matches_per_probe" -> med(traced)(o => o.counts("matches").toDouble / o.items))
}
