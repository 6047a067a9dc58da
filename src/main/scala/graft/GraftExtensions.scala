package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{FloatCosine, MinHashBands, MinHashes, SimHash, SortedLongJaccard}

/** SparkSessionExtensions entry point: registers graft's custom Catalyst
  * expressions as SQL functions (so `spark.sql("SELECT float_cosine(a, b)")`
  * works next to the Column API), the [[graft.plans.PairwiseRewrite]]
  * optimizer rule, and the [[graft.plans.SelfPairwiseStrategy]] planner
  * strategy that executes its rewrites.
  *
  * Wire-up: [[GraftSession.configure]] adds it to a builder
  * (`withExtensions(new GraftExtensions)`); a session started with
  * `--conf spark.sql.extensions=graft.GraftExtensions` gets the rest of
  * graft's wiring from [[GraftSession.install]], which leaves these
  * registrations as they are.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (new FunctionIdentifier("float_cosine"),
        new ExpressionInfo(classOf[FloatCosine].getName, "float_cosine"),
        (args: Seq[Expression]) => FloatCosine(args(0), args(1))),
      (new FunctionIdentifier("sorted_jaccard"),
        new ExpressionInfo(classOf[SortedLongJaccard].getName, "sorted_jaccard"),
        (args: Seq[Expression]) => SortedLongJaccard(args(0), args(1))),
      (new FunctionIdentifier("min_hashes"),
        new ExpressionInfo(classOf[MinHashes].getName, "min_hashes"),
        (args: Seq[Expression]) => MinHashes(args(0), intArg(args(1)))),
      (new FunctionIdentifier("min_hash_bands"),
        new ExpressionInfo(classOf[MinHashBands].getName, "min_hash_bands"),
        (args: Seq[Expression]) => MinHashBands(args(0), intArg(args(1)), intArg(args(2)))),
      (new FunctionIdentifier("sim_hash"),
        new ExpressionInfo(classOf[SimHash].getName, "sim_hash"),
        (args: Seq[Expression]) => SimHash(args(0), intArg(args(1)))))

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.PairwiseRewrite)
    ext.injectPlannerStrategy(_ => new graft.plans.SelfPairwiseStrategy)
    functions.foreach(ext.injectFunction)
  }

  /** Register the same SQL functions into a LIVE session — the
    * post-`getOrCreate` path for sessions that existed before graft
    * ([[GraftSession.install]]); builder-created sessions get them via
    * [[apply]] instead. */
  def registerInto(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }

  /** Foldable-int SQL argument (e.g. `min_hashes(th, 16)`). */
  private def intArg(e: Expression): Int = e.eval() match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"expected a literal integer argument, got $other")
  }
}
