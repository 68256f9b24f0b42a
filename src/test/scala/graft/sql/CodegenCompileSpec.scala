package graft.sql

import graft.SparkTestSession
import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Every native expression must JANINO-COMPILE, not just sit inside a
  * WholeStageCodegen span. The round-4 signature-kernel defect (compute returned
  * Any, so the generated Object->InternalRow assignment failed to compile)
  * was INVISIBLE to the existing `plan should include("*(")` assertions:
  * the compile failure happens at runtime and `spark.sql.codegen.fallback`
  * (default true) silently re-runs the stage interpreted, results still
  * correct. This suite turns fallback off and forces codegen-only projection
  * factories, so that class of regression fails the build instead of
  * silently dropping the expression out of codegen.
  */
class CodegenCompileSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def strictCodegen[A](body: => A): A = {
    val conf = spark.conf
    val prevFallback = conf.getOption("spark.sql.codegen.fallback")
    val prevFactory = conf.getOption("spark.sql.codegen.factoryMode")
    conf.set("spark.sql.codegen.fallback", "false")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try body
    finally {
      prevFallback.fold(conf.unset("spark.sql.codegen.fallback"))(v =>
        conf.set("spark.sql.codegen.fallback", v))
      prevFactory.fold(conf.unset("spark.sql.codegen.factoryMode"))(v =>
        conf.set("spark.sql.codegen.factoryMode", v))
    }
  }

  // repartition(2) keeps the projection on executors inside whole-stage
  // codegen — a pure LocalTableScan would constant-fold at the driver and
  // never exercise the generated class
  private val texts = Seq("alpha beta gamma", "Destroido Corp.", "déjà vu", "x")
    .toDF("s").repartition(2)

  test("shingles + gramCounts compile under codegen-only, no fallback") {
    strictCodegen {
      val out = texts
        .select(functions.shingles($"s", 3).as("g"), functions.gramCounts($"s", 2).as("c"))
        .collect()
      out.length shouldBe 4
    }
  }

  test("sigBandsFromKey compiles under codegen-only, no fallback") {
    strictCodegen {
      val out = texts
        .select(functions.sigBandsFromKey($"s", 3, 16, 4, 3).as("b"))
        .collect()
      out.length shouldBe 4
    }
  }

  test("estJaccard compiles under codegen-only, no fallback") {
    strictCodegen {
      val df = Seq((Seq(1L, 2L, 3L), Seq(1L, 2L, 4L))).toDF("a", "b").repartition(2)
      df.select(functions.estJaccard($"a", $"b")).as[Double].collect().head shouldBe
        (2.0 / 3.0) +- 1e-12
    }
  }

  test("fused_keys compiles under codegen-only, no fallback") {
    strictCodegen {
      def fusedKeys(bands: Column, simhash: Column): Column =
        GraftColumnBridge.column(FusedKeysExpr(
          GraftColumnBridge.expression(bands),
          GraftColumnBridge.expression(simhash)))
      val df = Seq((Seq(11L, 22L), 0x1234567890abcdL)).toDF("bands", "sim").repartition(2)
      val keys = df
        .select(fusedKeys($"bands", $"sim").as("ks"))
        .selectExpr("inline(ks)")
        .as[(Long, Int)].collect().toSeq
      // 2 band keys (ktype 0) + 4 simhash chunk keys (ktype 1)
      keys.count(_._2 == 0) shouldBe 2
      keys.count(_._2 == 1) shouldBe 4
    }
  }
}
