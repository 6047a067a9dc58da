package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

import graft.functions.FloatCosine

/** Optimizer rule (SURVEY §4.3): rewrites the *declarative* pairwise
  * cosine-similarity self-join
  *
  * {{{
  *   a.join(b, $"a.id" < $"b.id")                      // or =!= for all pairs
  *    .select($"a.id" as "src", $"b.id" as "dst",
  *            round(cosine($"a.vec", $"b.vec") * 100, 4) as "sim")
  *    .filter($"sim" >= threshold)
  * }}}
  *
  * into the fused [[SelfPairwiseNode]] operator, so users writing plain
  * DataFrame code get the broadcast-loop physical join (no per-candidate
  * row materialization) without calling the operator API. Together with
  * [[SelfPairwiseStrategy]] this is the full custom-operator ladder:
  * expression → Rule[LogicalPlan] → Strategy → SparkPlan.
  *
  * The rule fires only when the rewrite is provably semantics-preserving:
  *
  *  - the join is Inner/Cross and both sides plan to the SAME result
  *    (`sameResult` on canonicalized subtrees — a true self-join), with the
  *    id/vector columns at matching output positions;
  *  - the condition splits into exactly one pair predicate (`idL < idR` →
  *    triangular, or `NOT(idL = idR)` → all ordered pairs) plus ≥1
  *    null-intolerant comparison over the cosine score. The comparison
  *    requirement matters: [[FloatCosine]] is NULL for a zero-norm vector
  *    and the operator *skips* such pairs, so a shape that would keep
  *    NULL-score rows (no score filter) must NOT be rewritten;
  *  - every projection resolves to (src, dst, score-expression) only.
  *
  * When the score comparison has the canonical `round(cos * c, s) >= t`
  * shape, a conservative raw-score lower bound is derived and applied
  * inside the operator loop (rows are skipped before the output row is
  * ever written); the original comparison is re-applied above the operator,
  * so the rewrite is exact even when the bound extraction under-approximates.
  *
  * Registered by [[graft.GraftExtensions]] (an operator-optimization
  * rule, so it sees filters already pushed into the join condition), or
  * by [[graft.GraftSession.install]] on a live session built without the
  * extensions (as an experimental optimization, run after the standard
  * batches).
  */
object PairwiseRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** Re-entry latch (r13 advice): the grid branch optimizes a
    * DataFrame-authored subtree from INSIDE this rule, re-running the
    * full optimizer — with this rule installed — over the grid plan.
    * Non-recursion also holds structurally today (the grid subtree is
    * explode/join on a grid key, not a self-join the detector matches),
    * but that invariant is one detector broadening away from a silent
    * infinite recursion, so it is enforced: while grafting, the rule is
    * a no-op on the nested optimizer pass. Thread-local because
    * `optimizedPlan` is computed lazily on the accessing thread and
    * concurrent sessions must not blind each other. */
  private val grafting = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  private[plans] def isGrafting: Boolean = grafting.get()

  private[plans] def whileGrafting[T](body: => T): T = {
    // save/restore rather than reset-to-false so a nested/re-entrant
    // graft cannot re-enable the rule mid-graft when the inner scope
    // exits (r14 advice)
    val prev = grafting.get()
    grafting.set(java.lang.Boolean.TRUE)
    try body finally grafting.set(prev)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (isGrafting) plan
    else plan.transformUp {
      case p @ Project(projs, Join(left, right, jt, Some(cond), _))
          if (jt == Inner || jt == Cross) &&
            left.output.length == right.output.length && left.sameResult(right) =>
        attempt(projs, left, right, cond).getOrElse(p)
    }

  private object DoubleLit {
    def unapply(e: Expression): Option[Double] = e match {
      case Literal(d: Double, DoubleType) => Some(d)
      case _ => None
    }
  }

  /** Conservative raw-cosine lower bound implied by `e >= t`, walking down
    * through positive scaling and rounding; None when the shape is not
    * recognized (the operator then scores every pair and the post-filter
    * does all the work — still correct). */
  private def rawBound(e: Expression, t: Double): Option[Double] = e match {
    case _: FloatCosine => Some(t)
    case m: Multiply =>
      (m.left, m.right) match {
        case (x, DoubleLit(c)) if c > 0 => rawBound(x, t / c)
        case (DoubleLit(c), x) if c > 0 => rawBound(x, t / c)
        case _ => None
      }
    case r: RoundBase =>
      r.children match {
        // round(v, s) >= t  ⟸  v >= t - 10^-s (over-generous margin; the
        // exact re-check happens in the post-filter)
        case Seq(v, Literal(s: Int, IntegerType)) =>
          rawBound(v, t - math.pow(10.0, -s))
        case _ => None
      }
    case _ => None
  }

  private def attempt(projs: Seq[NamedExpression], left: LogicalPlan,
                      right: LogicalPlan, cond: Expression): Option[LogicalPlan] = {
    val leftSet = left.outputSet
    val rightSet = right.outputSet
    def posL(a: Attribute): Int = left.output.indexWhere(_.exprId == a.exprId)
    def posR(a: Attribute): Int = right.output.indexWhere(_.exprId == a.exprId)

    val conjuncts = splitConjunctivePredicates(cond)

    // 1. The pair predicate fixes the id columns and the iteration shape.
    val pairOpt = conjuncts.collectFirst {
      case c @ LessThan(l: Attribute, r: Attribute)
          if leftSet.contains(l) && rightSet.contains(r) &&
            l.dataType == LongType && posL(l) == posR(r) => (c, l, r, true)
      case c @ Not(EqualTo(l: Attribute, r: Attribute))
          if leftSet.contains(l) && rightSet.contains(r) &&
            l.dataType == LongType && posL(l) == posR(r) => (c, l, r, false)
    }
    if (pairOpt.isEmpty) return None
    val (pairConj, idL, idR, triangular) = pairOpt.get
    val rest = conjuncts.filterNot(_ eq pairConj)

    // 2. Exactly one cross-side cosine attribute pair, ARRAY<FLOAT> both
    //    sides, matching positions.
    def crossCosines(e: Expression): Seq[(Attribute, Attribute)] = e.collect {
      case FloatCosine(la: Attribute, ra: Attribute)
          if leftSet.contains(la) && rightSet.contains(ra) => (la, ra)
    }
    val vecPairs = (rest ++ projs).flatMap(crossCosines).distinct
    if (vecPairs.length != 1) return None
    val (vecL, vecR) = vecPairs.head
    def isFloatArr(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (!isFloatArr(vecL.dataType) || !isFloatArr(vecR.dataType)) return None
    if (posL(vecL) < 0 || posL(vecL) != posR(vecR)) return None

    // 3. Every remaining conjunct must be a null-intolerant comparison
    //    involving the score — these become the post-filter AND guarantee
    //    NULL-score pairs were dropped by the original plan too.
    def containsCos(e: Expression): Boolean =
      e.exists { case _: FloatCosine => true; case _ => false }
    val restOk = rest.nonEmpty && rest.forall {
      case _: EqualNullSafe => false
      case bc: BinaryComparison => containsCos(bc.left) || containsCos(bc.right)
      case _ => false
    }
    if (!restOk) return None

    // 4. Conservative in-loop prefilter bound (ε-slack for fp safety).
    val minScore = rest.flatMap {
      case GreaterThanOrEqual(x, DoubleLit(t)) => rawBound(x, t)
      case GreaterThan(x, DoubleLit(t)) => rawBound(x, t)
      case LessThanOrEqual(DoubleLit(t), x) => rawBound(x, t)
      case LessThan(DoubleLit(t), x) => rawBound(x, t)
      case _ => None
    }.reduceOption[Double](math.max).map(_ - 1e-9).getOrElse(Double.MinValue)

    // 5. Size-gate the physical choice the way [[Pairwise.gridBlocksFor]]
    //    does for the operator API: while the slimmed (id, vec) build side
    //    fits the session's broadcast budget, rewrite to the broadcast
    //    operator; past it, rewrite to the shuffle-distributed
    //    [[GridPairwise]] plan instead — NEVER to an unconditional
    //    executeCollect+broadcast of a table whose stats say it no longer
    //    fits an executor. (The all-ordered-pairs `src != dst` shape has no
    //    grid twin — the grid emits each unordered pair once — so beyond
    //    the budget it is left to Spark's own join planning.)
    val slimmed = Project(Seq(idL, vecL), left)
    val node: LogicalPlan = Pairwise.gridBlocksFor(slimmed.stats.sizeInBytes) match {
      case None =>
        val out: Seq[Attribute] = Seq(
          AttributeReference("src", LongType, nullable = false)(),
          AttributeReference("dst", LongType, nullable = false)(),
          AttributeReference("score", DoubleType, nullable = false)())
        SelfPairwiseNode(slimmed, SelfPairwise.Cosine, minScore, triangular,
          topK = 0, out)
      case Some(blocks) if triangular =>
        // The grid plan is authored through the DataFrame API (it is
        // ordinary explode/join/filter relational algebra, not a custom
        // node) and grafted in OPTIMIZED form — this rule may run after
        // the standard batches, so the subtree must arrive with hints folded
        // (a surviving ResolvedHint is a planner error) and its own
        // pruning/pushdown already done. Its internal `score >= minScore`
        // filter carries the same conservative raw bound as the
        // operator's in-loop prefilter — the caller's exact rounded
        // comparison is re-applied on top below, and a NULL cosine
        // (zero-norm vector) fails `>= Double.MinValue` just as the
        // operator skips it.
        val spark = SparkSession.active
        val slimDf = org.apache.spark.sql.graft.Bridge.ofRows(spark, slimmed)
        whileGrafting {
          GridPairwise(slimDf, blocks,
            (x, y) => org.apache.spark.sql.graft.Bridge.column(
              FloatCosine(org.apache.spark.sql.graft.Bridge.expression(x),
                org.apache.spark.sql.graft.Bridge.expression(y))),
            org.apache.spark.sql.functions.lit(minScore))
            .queryExecution.optimizedPlan
        }
      case _ => return None
    }
    val Seq(srcA, dstA, scoreA) = node.output
    def subst(e: Expression): Expression = e.transformUp {
      case FloatCosine(la: Attribute, ra: Attribute)
          if la.exprId == vecL.exprId && ra.exprId == vecR.exprId => scoreA
      case a: Attribute if a.exprId == idL.exprId => srcA
      case a: Attribute if a.exprId == idR.exprId => dstA
    }
    val filterCond = rest.map(subst).reduce(And)
    val newProjs: Seq[NamedExpression] = projs.map { ne =>
      val base = ne match { case Alias(c, _) => c; case other => other }
      Alias(subst(base), ne.name)(exprId = ne.exprId)
    }
    // Anything still referencing the join inputs (other columns, swapped
    // cosine args, ...) means the shape is richer than the operator — bail.
    val outSet = AttributeSet(node.output)
    if (!filterCond.references.subsetOf(outSet)) return None
    if (newProjs.exists(a => !a.references.subsetOf(outSet))) return None

    Some(Project(newProjs, Filter(filterCond, node)))
  }
}
