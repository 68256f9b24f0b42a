package graft.stage

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over the verified-edge Dataset (north rule:
  * "clusters are formed via iterative connected components over the
  * candidate-edge Dataset").
  *
  * Min-label propagation to fixpoint: every vertex repeatedly adopts the
  * smallest label among itself, its neighbors, AND its current label's
  * current label (pointer jumping — halves tree height each round, so
  * convergence is O(log d) not O(d) even for path-shaped components).
  *
  * Each iteration's labels are localCheckpoint'ed: the checkpoint TRUNCATES
  * the logical plan (a persist would not — the per-iteration plan references
  * the previous labels several times, so without truncation the tree grows
  * ~4^iterations and Catalyst analysis itself becomes the bottleneck).
  * Round-1 leak fix: the SUPERSEDED generation's block-backed RDD is
  * freed ([[Scratch.free]]) as soon as the next generation is
  * materialized, so a run holds at most two generations of label blocks
  * instead of one per iteration.
  */
object Cluster {

  /** edges: (a_id, b_id) undirected; vertices: one column `id` (superset of
    * edge endpoints). Returns ((id, component), iterations) where component
    * = min id in the component and iterations = the number of
    * label-propagation rounds run — the O(log d) pointer-jumping claim is
    * pinned by ClusterSpec on a depth-10^4 chain graph.
    *
    * The loop iterates over edge ENDPOINTS only: a vertex with no edge can
    * never change label, so the (typically corpus-sized) singleton set
    * joins back once at the end instead of riding through every
    * iteration's shuffles — at bench scale endpoints are ~10% of vertices.
    * Isolated PAIRS (both endpoints degree 1 — the dominant duplicate
    * shape in web dedup) are contracted to min(src,dst) before the loop,
    * so only the residual multi-edge subgraph iterates at all.
    *
    * NOTE: this form runs under [[Scratch.noop]], so the loop's surviving
    * blocks stay pinned until the SparkContext ends — a test/validation
    * convenience. Production callers (FuzzyPipeline, StreamDedup) pass
    * their own scratch to [[connectedComponentsReleasable]].
    */
  def connectedComponentsWithStats(vertices: DataFrame, edges: DataFrame): (DataFrame, Int) =
    connectedComponentsReleasable(vertices, edges, Scratch.noop)

  /** [[connectedComponentsWithStats]] with the loop's surviving checkpoint
    * blocks (the final label generation + the contracted-pair labels —
    * both endpoint-sized, which at 10^12-row scale is real executor
    * memory) tracked in `scratch`; the loop's superseded tables are freed
    * as it goes. The returned DataFrame is a plan OVER the surviving
    * blocks, so `scratch` must only be released after the caller has
    * durably materialized the result (e.g. a parquet checkpoint write);
    * freeing earlier loses the labels — a locally checkpointed RDD's
    * lineage is truncated and cannot recompute.
    *
    * `maxBroadcastEndpoints` gates the per-iteration broadcast label joins
    * (ClusterSpec drives it to 0 to pin the shuffle-join regime production
    * only enters beyond 2M edge endpoints).
    *
    * `verticesDistinct = true` promises every `vertices.id` is already
    * unique (e.g. FuzzyPipeline's members table — one row per source row by
    * construction): the final labeling join then skips its `.distinct()`,
    * which on a corpus-sized vertex set is a full exchange + hash
    * aggregation spent re-proving uniqueness (guide §2.4: a distinct on
    * data that is already unique is an accidental shuffle). Output is
    * identical for any input that satisfies the promise.
    */
  private[graft] def connectedComponentsReleasable(
      vertices: DataFrame,
      edges: DataFrame,
      scratch: Scratch,
      maxIter: Int = 25,
      maxBroadcastEndpoints: Long = 2000000L,
      verticesDistinct: Boolean = false): (DataFrame, Int) = {
    // hash-partition the STATIC edge table by the join key once, before
    // its checkpoint: Dataset.localCheckpoint preserves outputPartitioning
    // in the LogicalRDD, so every iteration's neighbor join reuses it and
    // only the (small) per-iteration label table is exchanged — one fewer
    // shuffle stage per iteration of the serial CC loop
    // ONE exchange, not two: dropDuplicates(src, dst) above the src
    // repartition needs ClusteredDistribution(src, dst), which
    // HashPartitioning(src) already satisfies — the dedup aggregate runs on
    // the repartitioned stream with no exchange of its own, where
    // `.distinct().repartition(src)` paid a (src, dst) exchange AND the src
    // exchange back to back (guide §2.4: share one exchange between
    // operations keyed compatibly)
    val sym = scratch.checkpoint(edges
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(edges.select(col("b_id").as("src"), col("a_id").as("dst")))
      .repartition(col("src"))
      .dropDuplicates("src", "dst"), eager = true)

    // degree per endpoint groups on sym's preserved src partitioning — no
    // exchange; its count is the distinct-endpoint count, which decides
    // the broadcast gate below. Checkpointed: it feeds BOTH build sides of
    // the tagging join below, and without blocks each consumer would
    // re-aggregate the full edge table. The endpoint count rides the
    // checkpoint job as an observed metric instead of a second block-scan
    // job (one fewer job in the serial CC preamble — same pattern as the
    // loop's convergence metric below)
    val degObs = org.apache.spark.sql.Observation("cc_deg_n")
    val deg = scratch.checkpoint(sym.groupBy("src").agg(count(lit(1)).as("deg"))
      .observe(degObs, count(lit(1)).as("n")), eager = true)
    val nEndpoints = degObs.get("n").asInstanceOf[Long]

    // label tables stay endpoint-sized for the whole loop; when that is
    // broadcastable, hint BOTH per-iteration joins so neither shuffles —
    // the per-iteration label/stepped plans are lazy (persist) or freshly
    // derived, so the planner has no stats of its own to decide with. The
    // stream sides (residual, stepped) then never exchange: the serial CC
    // loop's stage count per iteration drops from ~3 exchanges to 1.
    // Beyond the gate (10^12-scale graphs) everything degrades to the
    // shuffle joins, with the edge table's hash partitioning doing the
    // co-location work.
    val labelsBroadcastable = nEndpoints <= maxBroadcastEndpoints
    def buildSide(df: DataFrame): DataFrame =
      if (labelsBroadcastable) df.hint("broadcast") else df

    // PAIR CONTRACTION: a component that is exactly one edge has both
    // endpoints at degree 1 and resolves to min(src, dst) with no
    // iteration. In web-scale dedup most duplicate clusters ARE isolated
    // pairs, so peeling them first shrinks the loop's input to the
    // residual multi-edge subgraph — at bench shape that empties the loop
    // almost entirely. Both directions of an isolated edge survive the
    // filter, so each endpoint labels itself in one pass. Under the gate
    // the degree joins broadcast and preserve sym's src partitioning;
    // beyond it the residual is re-hashed on src once, outside the loop.
    // the degree-tagging join runs ONCE (checkpointed): pairLabels and
    // residual below are both block-scan filters of it — deriving each
    // from a lazy `tagged` would re-run the full sym-deg-deg join (and
    // rebuild both broadcast sides) per checkpoint job. Under the gate the
    // broadcast joins preserve sym's src hash partitioning through every
    // checkpoint, so the loop's neighbor join needs no new exchange.
    val tagged = scratch.checkpoint(sym
      .join(buildSide(deg.select(col("src"), col("deg").as("sdeg"))), Seq("src"))
      .join(buildSide(deg.select(col("src").as("dst"), col("deg").as("ddeg"))), Seq("dst")),
      eager = true)
    scratch.free(deg) // both consumers are inside tagged's blocks now
    val isolatedPair = col("sdeg") === 1 && col("ddeg") === 1
    val pairLabels = scratch.checkpoint(tagged
      .filter(isolatedPair)
      .select(col("src").as("id"), least(col("src"), col("dst")).as("component")), eager = true)
    val residualRaw = tagged.filter(!isolatedPair).select("src", "dst")
    val residual = scratch.checkpoint(
      if (labelsBroadcastable) residualRaw else residualRaw.repartition(col("src")), eager = true)
    scratch.free(sym)    // superseded by tagged
    scratch.free(tagged) // superseded by pairLabels + residual

    // the empty-residual convergence check rides the label-init checkpoint
    // job as an observed metric — one fewer job than a count() over the
    // just-materialized blocks
    val initObs = org.apache.spark.sql.Observation("cc_labels_init_n")
    var labels = scratch.checkpoint(residual
      .select(col("src").as("id"))
      .distinct()
      .withColumn("component", col("id"))
      .observe(initObs, count(lit(1)).as("n")), eager = true)
    var gen: DataFrame = labels // current generation's RAW checkpointed DF

    var iter = 0
    var converged = initObs.get("n").asInstanceOf[Long] == 0L
    while (!converged && iter < maxIter) {
      // min(self, neighbors) in ONE shuffle: the neighbor-label rows and
      // the self rows union into a single groupBy (round 2 ran a groupBy
      // plus a separate labels join). The previous label rides along as
      // old_comp — only self rows carry it, max() picks it out — so
      // convergence detection needs no extra join either.
      val nbr = residual
        .join(buildSide(labels.select(col("id").as("src"), col("component"))), Seq("src"))
        .select(col("dst").as("id"), col("component"),
          lit(null).cast(labels.schema("component").dataType).as("old_comp"))
      val stepped = nbr
        .unionByName(labels.select(col("id"), col("component"), col("component").as("old_comp")))
        .groupBy("id")
        .agg(min("component").as("component"), max("old_comp").as("old_comp"))
        // persisted within the iteration: consumed by BOTH branches of the
        // pointer-jump self-join (exchange reuse can't kick in — the
        // branches shuffle on different keys), so without a cache the
        // aggregation would run twice
        .persist(StorageLevel.MEMORY_AND_DISK)

      // pointer jumping: component := label(component) — halves tree height
      // each round; eager checkpoint materializes the new generation and
      // truncates its plan. Convergence detection rides ALONG the
      // materializing job as an observed metric (CollectMetrics) instead
      // of a separate count job over the blocks — one fewer job per
      // iteration of the serial CC loop (round-3 verdict item 1: the
      // per-stage scheduling floor of serial chains is the scaling
      // bottleneck at bench size). No limit-1 early exit — a limit's task
      // CANCELLATION floods the log with late-completion "non-existent
      // accumulator" errors.
      val obs = org.apache.spark.sql.Observation(s"cc_changed_$iter")
      // the broadcast build side re-evaluates the stepped subtree, which
      // the persist above absorbs (first evaluation fills the cache)
      val jumped = scratch.checkpoint(stepped
        .join(
          buildSide(stepped.select(col("id").as("component"), col("component").as("parent_comp"))),
          Seq("component"),
          "left")
        .select(
          col("id"),
          coalesce(col("parent_comp"), col("component")).as("component"),
          col("old_comp"))
        .observe(obs, sum(when(col("component") =!= col("old_comp"), 1L).otherwise(0L)).as("changed")),
        eager = true)
      val changed = obs.get("changed").asInstanceOf[Long]
      stepped.unpersist(false)
      scratch.free(gen) // superseded generation — the round-1 leak
      converged = changed == 0
      gen = jumped
      labels = jumped.select("id", "component")
      iter += 1
    }
    // singletons re-enter here; residual endpoints take their loop label,
    // isolated-pair endpoints the contracted one (the sets are disjoint)
    val vertexIds = vertices.select(col("id"))
    val out = (if (verticesDistinct) vertexIds else vertexIds.distinct())
      .join(labels.unionByName(pairLabels), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    scratch.free(residual)
    // the final generation and pairLabels stay tracked: `out` reads them
    (out, iter)
  }
}
