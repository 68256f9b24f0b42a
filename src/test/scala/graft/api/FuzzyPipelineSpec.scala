package graft.api

import graft.SparkTestSession
import graft.conf.FuzzyConf
import graft.text.FuzzySetRef
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Distributed pipeline vs the in-memory reference-semantics oracle
  * (SURVEY.md §5 engine test plan (a)/(c)): identical match sets and
  * scores for probe-mode find; >= 0.99 dup-pair recall for the dedup path.
  */
class FuzzyPipelineSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val states = Seq(
    "Alabama", "Alaska", "American Samoa", "Arizona", "Arkansas",
    "California", "Colorado", "Connecticut", "Delaware", "District of Columbia",
    "Florida", "Georgia", "Guam", "Hawaii", "Idaho",
    "Illinois", "Indiana", "Iowa", "Kansas", "Kentucky",
    "Louisiana", "Maine", "Maryland", "Massachusetts", "Michigan",
    "Minnesota", "Mississippi", "Missouri", "Montana", "Nebraska",
    "Nevada", "New Hampshire", "New Jersey", "New Mexico", "New York",
    "North Carolina", "North Dakota", "Northern Marianas Islands", "Ohio", "Oklahoma",
    "Oregon", "Pennsylvania", "Puerto Rico", "Rhode Island", "South Carolina",
    "South Dakota", "Tennessee", "Texas", "Utah", "Vermont",
    "Virginia", "Virgin Islands", "Washington", "West Virginia", "Wisconsin",
    "Wyoming")

  private def corpusDF(xs: Seq[String]) =
    xs.zipWithIndex.map { case (t, i) => (f"c$i%06d", t) }.toDF("clip_id", "transcript")

  private def pipeline(xs: Seq[String], conf: FuzzyConf = FuzzyConf.default) =
    FuzzyPipeline(spark, corpusDF(xs), "clip_id", "transcript", conf)

  private def probesDF(ps: Seq[String]) =
    ps.zipWithIndex.map { case (p, i) => (s"q$i", p) }.toDF("query_id", "query")

  private def runFind(p: FuzzyPipeline, probes: Seq[String], minScore: Double = 0.33)
      : Map[String, List[(Double, String)]] = {
    val byId = probes.zipWithIndex.map { case (q, i) => (s"q$i", q) }.toMap
    p.findMin(minScore, probesDF(probes))
      .collect()
      .toList
      .map(r => (byId(r.getString(0)), (r.getDouble(1), r.getString(2))))
      .groupBy(_._1)
      .view
      .mapValues(_.map(_._2))
      .toMap
      .withDefaultValue(Nil)
  }

  private def assertSameMatches(
      actual: List[(Double, String)],
      expected: List[(Double, String)]): Unit = {
    val a = actual.sortBy { case (s, m) => (m, s) }
    val e = expected.sortBy { case (s, m) => (m, s) }
    a.map(_._2) shouldBe e.map(_._2)
    a.zip(e).foreach { case ((s, _), (es, _)) => s shouldBe es +- 1e-9 }
  }

  test("find over states == oracle goldens (with Levenshtein)") {
    val p = pipeline(states)
    val oracle = FuzzySetRef.fromList(states)
    val probes = Seq(
      "Burger Islands", "Why-oh-me-ing", "Connect a cat", "Transylvania",
      "CanOfSauce", "Alaska", "Alaskanbraskansas", "wyome", "Louisianaland",
      "ia", "flaska", "washing tun", "new jersey")
    val got = runFind(p, probes)
    probes.foreach { q => assertSameMatches(got(q), oracle.find(q)) }
  }

  test("find over states == oracle (no Levenshtein, minScore cascade)") {
    val conf = FuzzyConf(useLevenshtein = false)
    val p = pipeline(states, conf)
    val oracle = FuzzySetRef.emptySet(2, 3, useLevenshtein = false).addMany(states)
    val probes = Seq("homeland", "connectedcut", "oregano", "akeloxasas",
      "alaskansas", "South", "penicillivania", "Michisota", "New Mix",
      "Waioming", "Landland", "zzzz")
    val got = runFind(p, probes)
    probes.foreach { q => assertSameMatches(got(q), oracle.find(q)) }
  }

  test("find honours custom gram range (2,4) like oracle") {
    val conf = FuzzyConf(gramLo = 2, gramHi = 4)
    val p = pipeline(states, conf)
    val oracle = FuzzySetRef.emptySet(2, 4, useLevenshtein = true).addMany(states)
    val probes = Seq("Alaskansas", "Transylvania")
    val got = runFind(p, probes)
    probes.foreach { q => assertSameMatches(got(q), oracle.find(q)) }
  }

  test("exact short-circuit: only the exact match is returned") {
    val p = pipeline(states)
    val got = runFind(p, Seq("alaska"))
    got("alaska") shouldBe List((1.0, "Alaska"))
  }

  test("findOne/closestMatch return best-per-probe") {
    val p = pipeline(Seq("Jurassic Park", "Terminator", "The Matrix"))
    val best = p
      .closestMatch(probesDF(Seq("percolator")))
      .as[(String, String)]
      .collect()
      .toMap
    best("q0") shouldBe "Terminator"
  }

  test("inspection: values/size/isEmpty with exact-dup collapsing") {
    val p = pipeline(Seq("bork", "bork", "bork", "cork"))
    p.size shouldBe 2
    p.isEmpty shouldBe false
    p.values.as[String].collect().toSet shouldBe Set("bork", "cork")
  }

  // ---- dedup path ---------------------------------------------------------

  /** Deterministic near-dup corpus: base phrases from the states vocabulary
    * plus planted exact copies, single-char typos, and token drops
    * (FIXTURES.md §B kinds a/b/c).
    */
  private def plantedCorpus(n: Int, seed: Long): (Seq[String], Seq[(Int, Int)]) = {
    val rng = new scala.util.Random(seed)
    val vocab = states.map(_.toLowerCase)
    val base = (0 until n).map { _ =>
      Seq.fill(3 + rng.nextInt(4))(vocab(rng.nextInt(vocab.size))).mkString(" ")
    }
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val pairs = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    base.foreach { t =>
      val i = out.length
      out += t
      if (rng.nextDouble() < 0.3) {
        val kind = rng.nextInt(3)
        val dup = kind match {
          case 0 => t // exact copy
          case 1 => // single-char typo
            val pos = rng.nextInt(t.length)
            t.updated(pos, if (t(pos) == 'a') 'e' else 'a')
          case 2 => // drop last token
            t.split(' ').dropRight(1).mkString(" ")
        }
        if (dup.nonEmpty) {
          pairs += ((i, out.length))
          out += dup
        }
      }
    }
    (out.toSeq, pairs.toSeq)
  }

  private def norm2(a: String, b: String) = if (a < b) (a, b) else (b, a)

  /** Reference-semantics oracle edge set over a corpus: exact-key pairs plus
    * the fuzzy cascade per distinct key (self excluded after ranking, as a
    * true self-query would behave).
    */
  private def oracleEdgeSet(corpus: Seq[String], ids: Seq[String]): Set[(String, String)] = {
    val oracle = FuzzySetRef.fromList(corpus)
    val keyToFirst = scala.collection.mutable.LinkedHashMap[String, Int]()
    corpus.zipWithIndex.foreach { case (t, i) =>
      keyToFirst.getOrElseUpdate(t.toLowerCase, i)
    }
    val edges = scala.collection.mutable.Set[(String, String)]()
    corpus.zipWithIndex.foreach { case (t, i) =>
      val f = keyToFirst(t.toLowerCase)
      if (f != i) edges += norm2(ids(f), ids(i))
    }
    keyToFirst.keys.foreach { k =>
      val res = (oracle.gramSizeUpper to oracle.gramSizeLower by -1).iterator
        .map(n => oracle.getMatches(k, 0.33, n).filter(_._2.toLowerCase != k))
        .find(_.nonEmpty)
        .getOrElse(Nil)
      res.foreach { case (_, matched) =>
        edges += norm2(ids(keyToFirst(k)), ids(keyToFirst(matched.toLowerCase)))
      }
    }
    edges.toSet
  }

  test("exhaustive dedup == reference-semantics oracle edge set, exactly") {
    val (corpus, _) = plantedCorpus(250, seed = 7L)
    val ids = corpus.indices.map(i => f"c$i%06d")
    val p = pipeline(corpus)
    val expected = oracleEdgeSet(corpus, ids)
    val got = p
      .dedupEdgesExhaustive()
      .select("a_id", "b_id")
      .as[(String, String)]
      .collect()
      .map { case (a, b) => norm2(a, b) }
      .toSet
    val missed = expected -- got
    val extra = got -- expected
    withClue(s"missed=${missed.take(5)} extra=${extra.take(5)} of ${expected.size}: ") {
      missed shouldBe empty
      extra shouldBe empty
    }
  }

  test("scale-path dedup recall >= 0.99 on planted near-duplicate pairs") {
    val (corpus, planted) = plantedCorpus(400, seed = 7L)
    val ids = corpus.indices.map(i => f"c$i%06d")
    val p = pipeline(corpus)
    val expected = planted.map { case (a, b) => norm2(ids(a), ids(b)) }.toSet
    val got = p
      .dedupEdges()
      .select("a_id", "b_id")
      .as[(String, String)]
      .collect()
      .map { case (a, b) => norm2(a, b) }
      .toSet
    // planted partners can collapse into the same item (exact copies) —
    // credit an edge if both sides land in the same connected component
    val comp = p.clusters().as[(String, String)].collect().toMap
    val missed = expected.filterNot { case (a, b) =>
      got.contains((a, b)) || comp(a) == comp(b)
    }
    val recall = 1.0 - missed.size.toDouble / math.max(expected.size, 1)
    withClue(s"missed ${missed.take(5)} of ${expected.size} planted pairs: ") {
      recall should be >= 0.99
    }
  }

  test("clusters: exact + fuzzy dups land in one component") {
    val corpus = Seq(
      "north dakota and maine", // c000000
      "north dakota and maine", // exact dup of 0
      "north dakota and main", // typo dup of 0
      "completely different words here entirely", // singleton, far away
      "kentucky colorado utah vermont oregon" // singleton
    )
    val p = pipeline(corpus)
    val comp = p.clusters().as[(String, String)].collect().toMap
    comp("c000001") shouldBe comp("c000000")
    comp("c000002") shouldBe comp("c000000")
    comp("c000003") should not be comp("c000000")
    comp("c000004") should not be comp("c000003")
    comp.size shouldBe 5
  }

  test("substring pass: contained transcript links to its container") {
    val corpus = Seq(
      "alabama arkansas california colorado", // c000000: container
      "alabama arkansas california", // c000001: prefix-contained (ratio 0.75)
      "arkansas california colorado", // c000002: suffix-contained
      "something else entirely different words") // c000003
    val p = pipeline(corpus)
    val substr = p.dedupEdges().filter($"kind" === "substr")
      .select("a_id", "b_id").as[(String, String)].collect().toSet
    substr should contain(("c000001", "c000000"))
    substr should contain(("c000002", "c000000"))
    substr.map(_._1) should not contain "c000003"
  }

  test("incremental add (withAdded/insertedBy) mirrors addMany semantics") {
    val p = pipeline(Seq("alpha beta", "gamma delta"))
    val more = Seq(("x1", "ALPHA BETA"), ("x2", "epsilon zeta")).toDF("clip_id", "transcript")
    // inserted sublist: only the genuinely-new key (Simple.hs:293-301)
    val inserted = p.insertedBy(more).as[(String, String)].collect().toMap
    inserted.keySet shouldBe Set("x2")
    // the grown pipeline contains both old and new values
    val p2 = p.withAdded(more)
    p2.size shouldBe 3
    p2.values.as[String].collect().toSet shouldBe Set("alpha beta", "gamma delta", "epsilon zeta")
  }

  test("checkpoint/resume: second run reuses tables and is byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val corpus = Seq("alpha beta gamma", "alpha beta gamma", "alpha beta gamm", "other thing")
    val p1 = FuzzyPipeline(spark, corpusDF(corpus), "clip_id", "transcript",
      FuzzyConf(), Some(dir))
    val r1 = p1.clusters().as[(String, String)].collect().sorted
    // the checkpoint dir holds the stored tables only: postings/norms are
    // projections of items, never written
    new java.io.File(dir).list().toSet shouldBe
      Set("items", "members", "sigs", "candidates", "edges", "clusters")
    // resume: new pipeline object, same dir — must not recompute (mtimes fixed)
    val meta = java.nio.file.Paths.get(dir, "items", "_graft_meta.json")
    val clustersMeta = java.nio.file.Paths.get(dir, "clusters", "_graft_meta.json")
    val mtime1 = java.nio.file.Files.getLastModifiedTime(meta)
    val cmtime1 = java.nio.file.Files.getLastModifiedTime(clustersMeta)
    val p2 = FuzzyPipeline(spark, corpusDF(corpus), "clip_id", "transcript",
      FuzzyConf(), Some(dir))
    val r2 = p2.clusters().as[(String, String)].collect().sorted
    r2 shouldBe r1
    java.nio.file.Files.getLastModifiedTime(meta) shouldBe mtime1
    // the clusters stage must resume from its sidecar too — its compute
    // (edge branches + CC iterations) runs eager jobs, so it must be
    // skipped by freshness BEFORE evaluation, not rewritten after
    java.nio.file.Files.getLastModifiedTime(clustersMeta) shouldBe cmtime1
    // and the skip must be compute-level, not merely write-level: a fresh
    // resume of clusters() must never have initialized the candidate memo
    // (the fuzzy branch's entry point)
    p2.candidatesCache shouldBe null
    // the resumed index (items read back from parquet, postings/norms
    // projected from it) answers queries as a local-mode pipeline does
    val probes = probesDF(Seq("alpha beta gama", "other thing", "zzz"))
    def found(p: FuzzyPipeline) = p.find(probes).as[(String, Double, String, Int)].collect().toSet
    found(p2) shouldBe found(pipeline(corpus))
    // config change invalidates
    val p3 = FuzzyPipeline(spark, corpusDF(corpus), "clip_id", "transcript",
      FuzzyConf(gramHi = 4), Some(dir))
    p3.size shouldBe 3
    java.nio.file.Files.getLastModifiedTime(meta) should not be mtime1
  }

  test("concurrently awaits every branch before rethrowing a branch failure") {
    val p = pipeline(Seq("alpha"))
    val siblingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val err = intercept[java.util.concurrent.ExecutionException] {
      p.concurrently(
        () => throw new IllegalStateException("branch 0 failed"),
        () => { Thread.sleep(1000); siblingDone.set(true); spark.emptyDataFrame })
    }
    err.getCause.getMessage shouldBe "branch 0 failed"
    siblingDone.get() shouldBe true
  }

  test("stageMetrics surfaces per-stage, per-file lineage from the sidecars") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lineage").toString
    val corpus = Seq("alpha beta gamma", "alpha beta gamma", "alpha beta gamm", "other thing")
    val p = FuzzyPipeline(spark, corpusDF(corpus), "clip_id", "transcript",
      FuzzyConf(), Some(dir))
    p.clusters().count()
    val m = p.stageMetrics()
    m.columns.toSeq shouldBe Seq(
      "stage", "status", "conf_hash", "rows", "write_secs", "format", "file", "file_rows")
    val byStage = m.groupBy("stage")
      .agg(org.apache.spark.sql.functions.sum("file_rows").as("fsum"),
        org.apache.spark.sql.functions.first("rows").as("rows"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // every checkpointed stage is present and its per-file lineage sums to
    // its recorded total — the invariant an operator resumes against
    byStage.keySet should contain allOf ("items", "edges", "clusters")
    byStage.foreach { case (stage, (fileSum, total)) =>
      withClue(s"stage $stage: ") { fileSum shouldBe total }
    }
    byStage("items")._2 shouldBe 3 // 4 rows, 1 exact-dup key collapsed
    m.select("status").distinct().as[String].collect() shouldBe Array("complete")
    // a pipeline without a checkpointDir has no lineage to read
    val bare = pipeline(Seq("alpha"))
    an[IllegalStateException] should be thrownBy bare.stageMetrics()
  }

  test("signature-Jaccard verify gate (>= 0.3) never drops a planted near-dup pair") {
    import graft.audio.ClipSynth
    import graft.sql.{functions => gf}
    import org.apache.spark.sql.functions.{col, format_string, min => smin}
    // the estJaccard >= 0.3 prefilter in FindStage.verifyPairs is a
    // recall-affecting heuristic; pin that on the planted fixture NO
    // typo/drop pair's estimated Jaccard comes near the cutoff
    val n = 4000L
    val clips = ClipSynth.table(spark, n, includeAudio = false)
    val idx = graft.stage.IndexBuild(clips, "clip_id", "transcript", FuzzyConf())
    val planted = ClipSynth.plantedPairs(n).toDF("a_idx", "b_idx")
      .select(
        format_string("clip_%012d", col("a_idx")).as("a_clip"),
        format_string("clip_%012d", col("b_idx")).as("b_clip"))
    val m = idx.members
    val est = planted
      .join(m.select(col("clip_id").as("a_clip"), col("item_id").as("a_id")), Seq("a_clip"))
      .join(m.select(col("clip_id").as("b_clip"), col("item_id").as("b_id")), Seq("b_clip"))
      .filter(col("a_id") =!= col("b_id")) // exact dups share an item: no gate applies
      .join(idx.sigs.select(col("item_id").as("a_id"), col("sig").as("a_sig")), Seq("a_id"))
      .join(idx.sigs.select(col("item_id").as("b_id"), col("sig").as("b_sig")), Seq("b_id"))
      .select(gf.estJaccard(col("a_sig"), col("b_sig")).as("est"))
    val agg = est.agg(smin(col("est")).as("mn"), org.apache.spark.sql.functions.count(col("est")).as("n"))
      .collect()(0)
    agg.getLong(1) should be > 100L // the fixture actually planted pairs
    agg.getDouble(0) should be >= 0.3
  }

  test("verifyPairs equals the inline gate+lev conjunction pair-for-pair") {
    import graft.audio.ClipSynth
    import graft.sql.{functions => gf}
    import org.apache.spark.sql.functions.{col, lit, round => sround}
    // lev-mode verifyPairs = (estJaccard gate) AND (levNormSim >= minScore)
    // with score = lev; pinned here pair-for-pair (ids AND scores) against
    // an inline reference on the planted fixture, so any future join
    // reordering of the stage must preserve the exact conjunction (a
    // round-6 lev-first reorder was measured SLOWER and reverted — this
    // spec was its safety net and stays as the stage's semantic pin)
    val n = 3000L
    val conf = FuzzyConf()
    val clips = ClipSynth.table(spark, n, includeAudio = false)
    val idx = graft.stage.IndexBuild(clips, "clip_id", "transcript", conf)
    val pairs = graft.stage.Candidates
      .fusedPairs(idx.sigs, conf)
      .localCheckpoint()
    val got = graft.stage.FindStage.verifyPairs(pairs, idx, conf.minScore)
      .select(col("a_id"), col("b_id"), sround(col("score"), 9).as("score"))
      .as[(String, String, Double)].collect().toSet
    val sa = idx.sigs.select(col("item_id").as("a_id"), col("sig").as("a_sig"))
    val sb = idx.sigs.select(col("item_id").as("b_id"), col("sig").as("b_sig"))
    val ka = idx.items.select(col("item_id").as("a_id"), col("key").as("a_key"))
    val kb = idx.items.select(col("item_id").as("b_id"), col("key").as("b_key"))
    val expected = pairs
      .join(sa, Seq("a_id")).join(sb, Seq("b_id"))
      .filter(gf.estJaccard(col("a_sig"), col("b_sig")) >= conf.sigGateMinJaccard)
      .join(ka, Seq("a_id")).join(kb, Seq("b_id"))
      .withColumn("score", gf.levNormSim(col("a_key"), col("b_key")))
      .filter(col("score") >= lit(conf.minScore))
      .select(col("a_id"), col("b_id"), sround(col("score"), 9).as("score"))
      .as[(String, String, Double)].collect().toSet
    expected should not be empty
    got shouldBe expected
  }

  test("sigGateMinJaccard: lowering minScore + gate together keeps low-J pairs (round-3 verdict)") {
    // planted LOW-J pairs: a 30-char key and its 8-char prefix share only
    // ~7 of ~31 distinct 3-grams (J ~ 0.23, under the default 0.3 gate)
    // yet levNormSim = 1 - 22/30 ~ 0.267 — findable at minScore 0.2. A
    // run that lowers minScore below 0.33 must lower sigGateMinJaccard in
    // step; this pins both directions of that contract.
    val rng = new scala.util.Random(99L)
    def word(len: Int) = Seq.fill(len)(('a' + rng.nextInt(26)).toChar).mkString
    val bases = Seq.fill(6)(word(30))
    val partners = bases.map(_.take(8))
    val background = Seq.fill(20)(word(15))
    val corpus = bases ++ partners ++ background
    val ids = corpus.indices.map(i => f"c$i%06d")
    val plantedPairs = bases.indices.map(i => norm2(ids(i), ids(bases.size + i))).toSet
    // rowsPerBand=1: every shared MinHash component is a shared band, so
    // the low-J pairs are certain LSH candidates and the GATE (not
    // candidate generation) is the only thing that can drop them
    val conf = FuzzyConf(minScore = 0.2, sigGateMinJaccard = 0.05,
      minhashBands = 126, rowsPerBand = 1)

    def fuzzyEdges(c: FuzzyConf): Set[(String, String)] =
      pipeline(corpus, c).dedupEdges().filter($"kind" === "fuzzy")
        .select("a_id", "b_id").as[(String, String)].collect()
        .map { case (a, b) => norm2(a, b) }.toSet

    val lowered = fuzzyEdges(conf)
    plantedPairs -- lowered shouldBe empty
    // the lowered-gate scale path matches the exhaustive reference
    // semantics on every pair ABOVE the gate (the gate's exact contract:
    // it may only drop pairs whose estimated Jaccard is below it; random
    // background cross-pairs at minScore 0.2 with est-J < 0.05 are its
    // documented loss, at any gate > 0)
    val exhaustive = pipeline(corpus, conf).dedupEdgesExhaustive()
      .filter($"kind" === "fuzzy").select("a_id", "b_id").as[(String, String)]
      .collect().map { case (a, b) => norm2(a, b) }.toSet
    val sigOf: Map[String, Array[Long]] = corpus.zip(ids).map { case (t, id) =>
      id -> graft.sql.SigReference.sigAndSimhash(graft.text.Gram.grams(t, conf.gramHi), conf.minhashHashes)._1
    }.toMap
    def estJ(a: String, b: String): Double = {
      val (sa, sb) = (sigOf(a), sigOf(b))
      sa.indices.count(i => sa(i) == sb(i)).toDouble / sa.length
    }
    val aboveGate = exhaustive.filter { case (a, b) => estJ(a, b) >= conf.sigGateMinJaccard }
    aboveGate -- lowered shouldBe empty
    plantedPairs -- aboveGate shouldBe empty // fixture sanity: planted pairs sit above the lowered gate
    // the default 0.3 gate silently loses exactly these pairs — the
    // failure mode the knob exists to make configurable
    val defaultGate = fuzzyEdges(conf.copy(sigGateMinJaccard = 0.3))
    (plantedPairs intersect defaultGate) shouldBe empty
  }

  test("cosine-mode dedup keeps pairs that pass only at the smaller gram size (cascade fallthrough)") {
    // "cat dog" vs "dog cat": shared 3-grams {cat, dog} of 7 each ->
    // cosine3 = 2/7 < 0.33, but shared 2-grams {ca,at,do,og} of 8 each ->
    // cosine2 = 0.5 >= 0.33. The reference cascade (self excluded) finds
    // no non-self match at size 3 and falls through to size 2, emitting
    // the edge at 0.5 — keeping only the largest SHARED size before the
    // minScore filter (rounds 1-3) dropped exactly this edge from the
    // scale path. Gate lowered + rowsPerBand=1 so candidate generation is
    // certain and the verify stage is the only variable.
    val corpus = Seq("cat dog", "dog cat", "zzzz wwww", "qqqq rrrr", "mmmm nnnn")
    val conf = FuzzyConf(useLevenshtein = false, minScore = 0.33,
      sigGateMinJaccard = 0.05, minhashBands = 126, rowsPerBand = 1)

    def pairScores(df: org.apache.spark.sql.DataFrame): Map[(String, String), Double] =
      df.filter($"kind" === "fuzzy").select("a_id", "b_id", "score")
        .as[(String, String, Double)].collect()
        .map { case (a, b, s) => norm2(a, b) -> s }.toMap

    val target = norm2("c000000", "c000001")
    val exhaustive = pairScores(pipeline(corpus, conf).dedupEdgesExhaustive())
    exhaustive.keySet should contain(target) // fixture sanity: the reference emits it
    exhaustive(target) shouldBe 0.5 +- 1e-9

    val scale = pairScores(pipeline(corpus, conf).dedupEdges())
    scale.keySet should contain(target)
    scale(target) shouldBe 0.5 +- 1e-9
  }

  test("edge-stage scratch checkpoints are released once the branches materialize") {
    // cosine mode exercises every scratch source: bucket directory (sizes),
    // short-window explode, gated pair table, pruned postings
    val conf = FuzzyConf(useLevenshtein = false)
    val p = pipeline(states, conf)
    p.dedupEdges().count()
    p.scratch.releasedCount should be > 0L // scratch actually flowed end-to-end
    p.scratch.pending shouldBe 0
    // the released tables were lineage only for the branch materialization:
    // the edge result re-reads branch blocks, so a second consumption still
    // works (and returns the same rows) after the release
    noException should be thrownBy p.dedupEdges().collect()
  }

  test("a checkpoint-dir clusters() run leaves ZERO persisted RDD blocks behind") {
    // every block source in ckpt-dir mode has a release path: stage tables
    // are parquet (no blocks), branch blocks free after the edges write,
    // stage scratch frees after the branches, CC loop generations free
    // in-loop and the survivors after the clusters write. Net block
    // count must return to baseline — the long-lived-driver invariant at
    // 10^12 scale, and the regression pin for any future leak.
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-blocks").toString
    def stored() = spark.sparkContext.getRDDStorageInfo.length
    val before = stored()
    val p = FuzzyPipeline(spark, corpusDF(states), "clip_id", "transcript",
      FuzzyConf(), Some(dir))
    p.clusters().count() should be > 0L
    var waited = 0 // unpersist is async
    while (stored() > before && waited < 20) { Thread.sleep(250); waited += 1 }
    stored() should be <= before
  }

  test("an external candidatePairs() call racing the first dedupEdges() completes (no deadlock)") {
    // regression for the three-thread cycle: edgesMemo's lazy-val
    // initializer holds the instance monitor while blocking on its fuzzy
    // branch; an external candidatePairs() caller arriving in the window
    // before `index` finishes initializing used to wait on that monitor
    // WHILE holding candLock, which the fuzzy branch then needed. The
    // caller now forces `index` before taking the lock, so it waits
    // holding nothing. The window is timing-dependent — this test drives
    // both entry points concurrently from a cold pipeline and bounds the
    // join; a reintroduced cycle hangs both futures and trips the bound.
    val p = pipeline(states.take(30))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fEdges = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = p.dedupEdges().count()
      })
      val fCands = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = p.candidatePairs().count()
      })
      // generous bound: the cold pipeline itself needs ~10 s; a deadlock
      // never completes
      fEdges.get(180, java.util.concurrent.TimeUnit.SECONDS) should be >= 0L
      fCands.get(180, java.util.concurrent.TimeUnit.SECONDS) should be >= 0L
    } finally pool.shutdownNow()
  }
}
