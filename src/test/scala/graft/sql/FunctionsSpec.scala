package graft.sql

import graft.SparkTestSession
import graft.text.Gram
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Parity: the codegen'd columns and native kernels must agree exactly with
  * the pure kernels (themselves golden-tested against the reference) and,
  * for signatures, with the test-scope scalar reference [[SigReference]].
  */
class FunctionsSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val fixtures = Seq(
    "charade", "xxx", "xxxx", "xxxxxxx", "bananasananas",
    "aFl1pP!.,nG FL0^ppy+", "XrF,!TNrATaNTNTNT", "Destroido Corp.",
    "Smarty Pants", "trentsauntsrestaurant",
    "buffalo buffalo buffalo buffalo buffalo buffalo",
    "café au lait", "", "!!!", "a", "ab",
    "tab\there", "comma, stays", "North Dakota",
    "math 𝐀 and 𠀡 stay, 😀 drops") // astral: \p{L} regex vs code-point kernel

  test("normText column == Gram.normalized") {
    val out = fixtures.toDF("s").select($"s", functions.normText($"s") as "n")
      .as[(String, String)].collect().toMap
    fixtures.foreach { s => out(s) shouldBe Gram.normalized(s) }
  }

  test("shingles column == Gram.grams for n=2..4") {
    (2 to 4).foreach { n =>
      val out = fixtures.toDF("s")
        .select($"s", functions.shingles($"s", n) as "g")
        .as[(String, Seq[String])].collect().toMap
      fixtures.foreach { s => out(s) shouldBe Gram.grams(s, n) }
    }
  }

  test("levNormSim column == Gram.levenshteinNorm (Spec.hs:758-771 pairs)") {
    val pairs = Seq(
      ("hello", "yello"), ("fellow", "yello"), ("propeller", "teller"),
      ("balloon", "electron"), ("technology", "logic"), ("sawa", "sawa"),
      ("fez", "baz"), ("", ""), ("", "abc"),
      // astral: Spark's levenshtein/length count code points — the kernel
      // must agree (one astral swap = ONE edit over length-3 strings)
      ("a𝐀b", "a𠀡b"), ("𝐀", "𝐀"))
    val out = pairs.toDF("a", "b")
      .select($"a", $"b", functions.levNormSim($"a", $"b") as "d")
      .as[(String, String, Double)].collect()
    out.foreach { case (a, b, d) =>
      d shouldBe Gram.levenshteinNorm(a, b) +- 1e-12
    }
  }

  test("h60 yields 60-bit non-negative longs, stable") {
    // PortableHash.h60 == the oracle SQL's ('0x'||substr(md5(s), off, 15))::BIGINT,
    // here as the same md5/substring/base-16 column composition
    val inputs = fixtures.filter(_.nonEmpty)
    val byCol = inputs.toDF("s")
      .select($"s",
        F.conv(F.substring(F.md5($"s"), 1, 15), 16, 10).cast("long") as "h1",
        F.conv(F.substring(F.md5($"s"), 17, 15), 16, 10).cast("long") as "h2")
      .as[(String, Long, Long)].collect()
    byCol.length shouldBe inputs.length
    byCol.foreach { case (s, h1, h2) =>
      PortableHash.h60(s, 1) shouldBe h1
      PortableHash.h60(s, 17) shouldBe h2
      PortableHash.h60(s, 1) shouldBe PortableHash.h60(s, 1)
      h1 should be >= 0L; h1 should be < (1L << 60)
      h2 should be >= 0L; h2 should be < (1L << 60)
    }
  }

  /** The signature kernel's (sig, simhash) fields over 3-grams of `keys`. */
  private def sigs(keys: Seq[(String, String)], numHashes: Int, bands: Int, rows: Int) =
    keys.toDF("id", "key")
      .select($"id", functions.sigBandsFromKey($"key", 3, numHashes, bands, rows).as("ss"))
      .select($"id", $"ss.sig", $"ss.simhash")
      .as[(String, Seq[Long], Long)].collect().map { case (id, sig, sh) => id -> ((sig, sh)) }.toMap

  test("minhashSig: identical sets agree, disjoint sets almost surely differ") {
    // "-abcabc-" and "-abcabcabc-" have the same 3-gram SET (multisets
    // differ); "-xyzw-" shares no 3-gram with either
    val out = sigs(Seq("a" -> "abcabc", "b" -> "abcabcabc", "c" -> "xyzw"), 16, 4, 4)
    out("a")._1 shouldBe out("b")._1
    out("a")._1 should not be out("c")._1
    out("a")._1.foreach { v => v should be >= 0L; v should be < functions.HashP }
  }

  test("bandKeys: equal signatures give equal band keys; band count right") {
    val df = Seq(("a", "alpha beta"), ("b", "ALPHA beta!")) // same normalized key
      .toDF("id", "key")
      .select($"id",
        functions.bandKeys(functions.sigBandsFromKey($"key", 3, 12, 4, 3).getField("sig"), 4, 3)
          as "bands")
      .as[(String, Seq[String])].collect().toMap
    df("a") shouldBe df("b")
    df("a").length shouldBe 4
    df("a").zipWithIndex.foreach { case (k, i) => k should startWith(s"$i:") }
  }

  test("simhash60: near-identical gram multisets land at small hamming distance") {
    val out = sigs(Seq(
      "base" -> "the quick brown fox jumps over the lazy dog",
      "near" -> "the quick brown fox jumps over the lazy dot",
      "far" -> "completely unrelated text with other grams entirely"), 1, 1, 1)
      .map { case (id, (_, sh)) => id -> sh }
    out.values.foreach { v => v should be >= 0L; v should be < (1L << 60) }
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    ham(out("base"), out("near")) should be < ham(out("base"), out("far"))
    ham(out("base"), out("near")) should be <= 12
  }

  test("estJaccard tracks true jaccard within sampling error") {
    val a = (1 to 60).map(i => s"g$i")
    val b = (31 to 90).map(i => s"g$i") // true J = 30/90 = 1/3
    val (sa, _) = SigReference.sigAndSimhash(a, 128)
    val (sb, _) = SigReference.sigAndSimhash(b, 128)
    val est = sa.zip(sb).count { case (x, y) => x == y } / 128.0
    est shouldBe (1.0 / 3.0) +- 0.15
    val out = Seq((sa.toSeq, sb.toSeq)).toDF("a", "b")
      .select(functions.estJaccard($"a", $"b") as "j")
      .as[Double].head()
    out shouldBe est +- 1e-12
  }

  test("sigBandsFromKey (fused kernel) == sigBands(shingles(key)) on every key shape") {
    // sigBands = the test-scope scalar reference over the shingles column
    val keys: Seq[Option[String]] = Seq(
      "alpha beta gamma", // plain ascii
      "Alpha, BETA gamma!", // normalization (case, punct drop, comma kept)
      "aaaaaaaa", // heavy repeats (distinct-set vs multiset split)
      "abc abc abd abc", // repeated grams: simhash weights the multiset
      "déjà vu naïve café", // 2-byte UTF-8 (per-window substring path)
      "hél wör hél", // 2-byte UTF-8 repeats (bytes-vs-String md5 parity)
      "中文字 mixed 字符", // 3-byte UTF-8
      "ab", // exactly one gram at n=3 after '-ab-' enclosure (len 4 >= 3)
      "", // empty -> no grams -> NULL
      "!!!", // normalizes to empty -> '-'||''||'-' is len 2 < 3 -> NULL
      "x😀y", // astral NON-letter: dropped whole by normalization
      "a𝐀b 𠀡c" // astral LETTERS kept: windows are code points, never split
    ).map(Some(_)) :+ None // NULL key stays NULL
    val df = keys.zipWithIndex.map { case (k, i) => (i, k) }.toDF("i", "key").repartition(2)
    val fused = df.select($"i", functions.shingles($"key", 3).as("g"),
      functions.sigBandsFromKey($"key", 3, 16, 4, 3).as("ss"))
    fused.collect() // finalize AQE before inspecting the plan
    val out = fused.select($"i", $"g", $"ss.sig", $"ss.simhash", $"ss.band_hashes")
      .as[(Int, Option[Seq[String]], Option[Seq[Long]], Option[Long], Option[Seq[Long]])]
      .collect().sortBy(_._1)
    out.length shouldBe keys.length
    def sigBands(grams: Seq[String]) = {
      val (sig, sim) = SigReference.sigAndSimhash(grams, 16)
      (sig.toSeq, sim, PortableHash.bandHashes(sig, 4, 3).toSeq)
    }
    out.foreach { case (i, g, sig, sim, bh) =>
      withClue(s"key ${keys(i)}: ") {
        g.map(_.toSeq) shouldBe keys(i).map(Gram.grams(_, 3))
        g.filter(_.nonEmpty) match {
          case Some(grams) =>
            (sig.get, sim.get, bh.get) shouldBe sigBands(grams)
          case None => // gram-less or NULL key -> NULL struct
            sig shouldBe None; sim shouldBe None; bh shouldBe None
        }
      }
    }
    // the three gram-less keys ("", "!!!", NULL) are exactly the NULL rows
    out.filter(_._3.isEmpty).map(_._1).toSeq shouldBe
      keys.indices.filter(i => keys(i).forall(Gram.grams(_, 3).isEmpty))
    // and the fused kernel stays inside whole-stage codegen
    fused.queryExecution.executedPlan.toString should include("*(")
  }

  test("estJaccard counts a null component as unequal (zip_with null parity)") {
    import org.apache.spark.sql.{functions => F}
    val df = Seq((
      Seq[Option[Long]](Some(1L), None, Some(3L), None),
      Seq[Option[Long]](Some(1L), None, Some(4L), Some(5L)))).toDF("a", "b")
    // idx0 equal; idx1 null-vs-null is UNEQUAL (getLong on a null slot
    // reads garbage-as-0 and would silently over-estimate); idx2/3 unequal
    val out = df.select(functions.estJaccard($"a", $"b").as("native"),
      (F.aggregate(F.zip_with($"a", $"b", (x, y) => F.when(x === y, 1).otherwise(0)),
        F.lit(0), (acc, x) => acc + x).cast("double") / F.size($"a")).as("hof"))
      .as[(Double, Double)].collect()(0)
    out._1 shouldBe 0.25 +- 1e-12
    out._1 shouldBe out._2 +- 1e-12
  }

  test("estJaccard (native expr) matches the HOF column formula it replaced") {
    import org.apache.spark.sql.{functions => F}
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(50) {
      val a = Array.fill(128)(rnd.nextLong() % 1000)
      // ~40% shared components + a null-free independent remainder
      val b = a.zipWithIndex.map { case (x, i) => if (i % 5 < 2) x else rnd.nextLong() % 1000 }
      (a.toSeq, b.toSeq)
    }
    val df = rows.toDF("a", "b")
    val hof = F.aggregate(
      F.zip_with($"a", $"b", (x, y) => F.when(x === y, 1).otherwise(0)),
      F.lit(0), (acc, x) => acc + x).cast("double") / F.size($"a")
    val out = df.select(functions.estJaccard($"a", $"b").as("native"), hof.as("hof"))
      .as[(Double, Double)].collect()
    out.foreach { case (n, h) => n shouldBe h +- 1e-12 }
    // the whole point of the native form: it must stay inside codegen
    // (repartition first — a pure LocalTableScan constant-folds the
    // projection at the driver and shows no codegen span either way; run
    // the query so AQE finalizes before inspecting the executed plan)
    val q = df.repartition(2).select(functions.estJaccard($"a", $"b"))
    q.collect()
    q.queryExecution.executedPlan.toString should include("*(")
    // defensive semantics on a length mismatch: count over the overlap,
    // divide by the LEFT length (zip_with padded the tail with null=unequal)
    Seq((Seq(1L, 2L, 3L, 4L), Seq(1L, 2L)))
      .toDF("a", "b")
      .select(functions.estJaccard($"a", $"b"))
      .as[Double].head() shouldBe 0.5 +- 1e-12
  }

  test("rollingFingerprint: deterministic, order-sensitive, empty -> 0") {
    val out = Seq("abc", "acb", "abc", "").toDF("s")
      .select($"s", functions.rollingFingerprint($"s") as "fp")
      .as[(String, Long)].collect()
    val m = out.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    m("abc").length shouldBe 1
    m("abc").head should not be m("acb").head
    m("").head shouldBe 0L
    // cross-check the arithmetic against a driver-side fold
    val expected = "abc".foldLeft(0L)((acc, ch) => (acc * 31 + ch.toLong) % functions.HashP)
    m("abc").head shouldBe expected
  }

  test("cosineSim matches driver-side double fold") {
    val a = Array(1.0f, 2.0f, 3.0f)
    val b = Array(0.5f, -1.0f, 2.0f)
    val out = Seq((a.toSeq, b.toSeq)).toDF("a", "b")
      .select(functions.cosineSim($"a", $"b") as "c").as[Double].head()
    def dot(x: Array[Float], y: Array[Float]) =
      x.zip(y).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    val exp = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    out shouldBe exp +- 1e-12
  }
}
