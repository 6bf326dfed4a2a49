package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions so `spark.sql(...)` users get them too:
  *
  *   graft_minhash(tokens, shingleN, numHashes) → array<bigint>
  *   graft_simhash(tokens)                      → bigint
  *   graft_dot(a, b)                            → double
  *   graft_norm_sq(a)                           → double
  *   graft_shingles(tokens, n)                  → array<string>
  *   graft_jaccard(a, b)                        → double
  *   graft_intersect_count(a, b)                → bigint
  *   graft_sorted_intersect_count(a, b)         → bigint (a, b sorted + distinct)
  *   graft_minhash_portable(tokens, shingleN, numHashes) → array<bigint>
  *   graft_simhash_portable(tokens)             → bigint
  *
  * Wire up via `.withExtensions(new GraftExtensions)` or the standard
  * `spark.sql.extensions=graft.plans.GraftExtensions` conf, or call
  * `GraftExtensions.register(spark)` on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(e: SparkSessionExtensions): Unit =
    functions.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {
  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_minhash",
      new ExpressionInfo(classOf[MinHashShingleSig].getName, "graft_minhash"),
      (args: Seq[Expression]) =>
        MinHashShingleSig(args.head, intArg(args(1), "shingleN"),
          intArg(args(2), "numHashes"))),
    ("graft_simhash",
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (args: Seq[Expression]) => SimHash64(args.head)),
    ("graft_dot",
      new ExpressionInfo(classOf[VecDot].getName, "graft_dot"),
      (args: Seq[Expression]) => VecDot(args.head, args(1))),
    ("graft_norm_sq",
      new ExpressionInfo(classOf[VecNormSq].getName, "graft_norm_sq"),
      (args: Seq[Expression]) => VecNormSq(args.head)),
    ("graft_shingles",
      new ExpressionInfo(classOf[ShingleArray].getName, "graft_shingles"),
      (args: Seq[Expression]) => ShingleArray(args.head, intArg(args(1), "n"))),
    ("graft_jaccard",
      new ExpressionInfo(classOf[ArrayJaccard].getName, "graft_jaccard"),
      (args: Seq[Expression]) => ArrayJaccard(args.head, args(1))),
    ("graft_intersect_count",
      new ExpressionInfo(classOf[ArrayIntersectCount].getName,
        "graft_intersect_count"),
      (args: Seq[Expression]) => ArrayIntersectCount(args.head, args(1))),
    ("graft_sorted_intersect_count",
      new ExpressionInfo(classOf[SortedLongIntersectCount].getName, null,
        "graft_sorted_intersect_count",
        "_FUNC_(a, b) - |a ∩ b| for two array<bigint>. Both arrays must " +
          "be sorted ascending and element-distinct, e.g. " +
          "sort_array(array_distinct(x)); this is not checked, and other " +
          "inputs give a wrong count. graft_intersect_count has no " +
          "precondition.",
        "", "", "", "", "", "", ""),
      (args: Seq[Expression]) => SortedLongIntersectCount(args.head, args(1))),
    ("graft_minhash_portable",
      new ExpressionInfo(classOf[MinHashShinglePortable].getName, "graft_minhash_portable"),
      (args: Seq[Expression]) =>
        MinHashShinglePortable(args.head, intArg(args(1), "shingleN"),
          intArg(args(2), "numHashes"))),
    ("graft_simhash_portable",
      new ExpressionInfo(classOf[SimHashPortable].getName, "graft_simhash_portable"),
      (args: Seq[Expression]) => SimHashPortable(args.head)),
    ("graft_classifier_score",
      new ExpressionInfo(classOf[HashedClassifierScore].getName, "graft_classifier_score"),
      (args: Seq[Expression]) =>
        HashedClassifierScore(args.head,
          if (args.length > 1) intArg(args(1), "nBuckets") else 4096)),
    ("graft_rolling_hash",
      new ExpressionInfo(classOf[RollingTokenHash].getName, "graft_rolling_hash"),
      (args: Seq[Expression]) => RollingTokenHash(args.head)),
    ("graft_symbol_count",
      new ExpressionInfo(classOf[SymbolCount].getName, "graft_symbol_count"),
      (args: Seq[Expression]) => SymbolCount(args.head)),
    ("graft_deflate_size",
      new ExpressionInfo(classOf[DeflateSize].getName, "graft_deflate_size"),
      (args: Seq[Expression]) =>
        DeflateSize(args.head,
          if (args.length > 1) intArg(args(1), "level") else 6)))

  /** Register on an already-built session (idempotent). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), info, builder)
    }
}
