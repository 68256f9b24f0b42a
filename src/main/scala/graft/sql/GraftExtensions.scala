package graft.sql

import org.apache.spark.sql.{GraftColumnBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Divide, EqualTo, Expression, ExpressionInfo, Greatest, If, Length, Levenshtein, Literal, Lower, RegExpReplace, Subtract}
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** SQL-surface registration of graft's text/signature kernels: the same
  * operators the Column API in [[functions]] exposes, reachable from
  * `spark.sql(...)` so a SQL-only caller (notebooks, Thrift/Connect
  * clients, dbt-style pipelines over the stage tables) can shingle,
  * sign, and verify without Scala. Names are `graft_`-prefixed to stay
  * out of the built-in namespace.
  *
  * Two entry points, same descriptions:
  *   - `--conf spark.sql.extensions=graft.sql.GraftExtensions` (or
  *     `.withExtensions(new GraftExtensions)`) at session build — the
  *     standard injection path;
  *   - [[GraftExtensions.register]] on an already-built session (tests,
  *     notebooks where the session pre-exists).
  *
  * Builders that wrap a native expression pass literal config args
  * through; compositions (norm_text, lev_norm_sim) reuse the exact
  * Column-API trees, so SQL and Scala callers compute identical plans.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptions.foreach(ext.injectFunction)
}

object GraftExtensions {
  type Description = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def arity(args: Seq[Expression], n: Int, fn: String): Unit =
    if (args.length != n)
      throw new IllegalArgumentException(s"$fn expects $n arguments, got ${args.length}")

  /** Config args (gram size, hash counts, band geometry) shape the
    * expression itself, so they must be literal ints — reject anything
    * else at registration-builder time with a message that names the
    * argument instead of failing deep inside planning.
    */
  private def intLit(args: Seq[Expression], i: Int, fn: String): Int = args(i) match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${i + 1} must be an INT literal, got ${other.sql}")
  }

  private def d(name: String, clazz: Class[_])(b: Seq[Expression] => Expression): Description =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name), b)

  val descriptions: Seq[Description] = Seq(
    // the two compositions are rebuilt from raw Catalyst nodes: a builder
    // must return an ANALYZABLE expression, and Spark 4's Column DSL yields
    // opaque ColumnNodeExpression wrappers whose inner UnresolvedFunctions
    // the analyzer never reaches (codegen then dies with INTERNAL_ERROR).
    // Value parity with the Column API is pinned by GraftExtensionsSpec;
    // the normalize regex itself is shared (functions.NormDropRegex).
    d("graft_norm_text", functions.getClass) { args =>
      arity(args, 1, "graft_norm_text")
      RegExpReplace(Lower(args.head), Literal(functions.NormDropRegex), Literal(""))
    },
    d("graft_shingles", classOf[ShinglesExpr]) { args =>
      arity(args, 2, "graft_shingles")
      ShinglesExpr(args.head, intLit(args, 1, "graft_shingles"))
    },
    d("graft_gram_counts", classOf[GramCountsExpr]) { args =>
      arity(args, 2, "graft_gram_counts")
      GramCountsExpr(args.head, intLit(args, 1, "graft_gram_counts"))
    },
    d("graft_sig_bands_from_key", classOf[SigBandsFromKeyExpr]) { args =>
      arity(args, 5, "graft_sig_bands_from_key")
      SigBandsFromKeyExpr(args.head, intLit(args, 1, "graft_sig_bands_from_key"),
        intLit(args, 2, "graft_sig_bands_from_key"),
        intLit(args, 3, "graft_sig_bands_from_key"),
        intLit(args, 4, "graft_sig_bands_from_key"))
    },
    d("graft_est_jaccard", classOf[EstJaccardExpr]) { args =>
      arity(args, 2, "graft_est_jaccard")
      EstJaccardExpr(args.head, args(1))
    },
    d("graft_fused_keys", classOf[FusedKeysExpr]) { args =>
      arity(args, 2, "graft_fused_keys")
      FusedKeysExpr(args.head, args(1))
    },
    d("graft_lev_norm_sim", functions.getClass) { args =>
      arity(args, 2, "graft_lev_norm_sim")
      val (a, b) = (args.head, args(1))
      val maxLen = Greatest(Seq(Length(a), Length(b)))
      If(EqualTo(maxLen, Literal(0)), Literal(1.0),
        Subtract(Literal(1.0),
          Divide(Cast(Levenshtein(a, b), DoubleType), Cast(maxLen, DoubleType))))
    })

  /** Imperative twin of the extension for an already-built session. */
  def register(spark: SparkSession): Unit =
    descriptions.foreach { case (ident, info, b) =>
      GraftColumnBridge.registerFunction(spark, ident, info, b)
    }
}
