package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Whole-operator pairwise similarity self-join (SURVEY §4.3 ladder step
  * (c): custom `LogicalPlan` + `Strategy` + `SparkPlan`).
  *
  * The declarative formulation — `a.join(b, src < dst)` + a scoring
  * expression — plans as BroadcastNestedLoopJoin, whose generated loop
  * materializes a joined row per CANDIDATE pair before the score filter
  * runs (measured 3× slower than a fused loop at sf0.1, and the gap grows
  * with the array width). This operator broadcasts the build side as
  * primitive arrays ONCE, fuses iterate→score→threshold in a tight loop,
  * and only writes an output row for surviving pairs.
  *
  * Scale design: identical distribution contract to Spark's own
  * broadcast joins — the build side is `executeCollect`ed and broadcast
  * (embedding/dimension-scale inputs; a 100 TB fact side streams through
  * `mapPartitions` untouched), so parallelism = stream-side partitions and
  * no shuffle is introduced. For build sides beyond broadcast scale, the
  * LSH banding path ([[graft.operators.DedupOps]]) is the pre-filter — same
  * trade Spark makes between BHJ and SMJ.
  *
  * Exactness: the operator emits the RAW score (full-precision double);
  * callers apply the same `round`/threshold Column expressions as the
  * declarative form, so results stay bit-identical to the DuckDB oracle.
  * The in-loop threshold is applied with a 1e-4 slack BELOW the caller's
  * rounded threshold, so no row that could survive the exact filter is
  * dropped early.
  */
object SelfPairwise {

  sealed trait Score
  /** cosine over ARRAY<FLOAT>, raw in [-1, 1]. */
  case object Cosine extends Score
  /** Jaccard over sorted distinct ARRAY<BIGINT>, raw in [0, 1]. */
  case object Jaccard extends Score
  /** NEGATED Hamming distance over ARRAY<BIGINT> signature words
    * (element-wise XOR popcount, summed over min length): score =
    * -distance, so "distance <= h" is the in-loop prefilter
    * `minScore = -h` and larger still means more similar. */
  case object Hamming extends Score
  /** Overlap coefficient |A∩B| / min(|A|,|B|) over sorted distinct
    * ARRAY<BIGINT> — the symmetric containment score near-dup pipelines
    * use to catch a document nearly contained in a longer one (Jaccard
    * misses those: a 10-token doc inside a 100-token doc has J≈0.1 but
    * containment 1.0). Raw in [0, 1]. */
  case object Overlap extends Score

  /** Build the operator over `df` whose first two columns are
    * (id: LONG, vec: ARRAY<FLOAT|BIGINT>). Output: (src, dst, score).
    * `minScore` is the conservative in-loop prefilter on the RAW score
    * (Double.MinValue = keep everything); `triangular` keeps src < dst,
    * otherwise all ordered pairs src != dst.
    *
    * `topK > 0` switches the operator into per-src top-k mode: instead of
    * emitting every surviving pair, each stream row keeps a bounded
    * k-buffer ordered by (round(score*100, 4) DESC, dst ASC) — the exact
    * ordering the `sim_topk` window/oracle specifies — and emits only
    * those k rows. This replaces `pairwise -> explode -> 25M-row
    * ObjectHashAggregate` with a fused scan that materializes n*k rows
    * total; the tiny downstream window re-ranks with Spark's own `round`,
    * so final rn values are engine-exact.
    *
    * The node plans only on a session that carries
    * [[SelfPairwiseStrategy]]; [[graft.GraftSession]] wires it, this
    * constructor leaves the session untouched. */
  def apply(df: DataFrame, score: Score, minScore: Double,
            triangular: Boolean, topK: Int = 0): DataFrame = {
    // output attrs are generated ONCE and carried as a field — a plain
    // `val output` would mint fresh exprIds on every tree copy and break
    // upstream attribute resolution
    val out: Seq[Attribute] = Seq(
      AttributeReference("src", LongType, nullable = false)(),
      AttributeReference("dst", LongType, nullable = false)(),
      AttributeReference("score", DoubleType, nullable = false)())
    Bridge.ofRows(df.sparkSession,
      SelfPairwiseNode(Bridge.logicalPlan(df), score, minScore, triangular, topK, out))
  }
}

case class SelfPairwiseNode(child: LogicalPlan, score: SelfPairwise.Score,
                            minScore: Double, triangular: Boolean, topK: Int,
                            output: Seq[Attribute])
    extends UnaryNode {
  // the operator GENERATES these attrs (they don't come from the child)
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  // ...and CONSUMES the child's (id, vec) columns positionally — without
  // this, ColumnPruning sees zero references and projects the child down
  // to an empty row (segfault on the positional reads)
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(child.output)
  override protected def withNewChildInternal(newChild: LogicalPlan): SelfPairwiseNode =
    copy(child = newChild)
}

class SelfPairwiseStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: SelfPairwiseNode =>
      SelfPairwiseExec(planLater(n.child), n.score, n.minScore, n.triangular,
        n.topK, n.output) :: Nil
    case _ => Nil
  }
}

case class SelfPairwiseExec(child: SparkPlan, score: SelfPairwise.Score,
                            minScore: Double, triangular: Boolean, topK: Int,
                            output: Seq[Attribute])
    extends UnaryExecNode {

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  override protected def withNewChildInternal(newChild: SparkPlan): SelfPairwiseExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val isCosine = score == SelfPairwise.Cosine
    val isHamming = score == SelfPairwise.Hamming
    val isOverlap = score == SelfPairwise.Overlap
    // build side: same contract as BroadcastExchange — collect + broadcast.
    // NULL id/vec rows are dropped here and on the stream side: the
    // declarative self-join form drops them via null-propagating
    // comparisons, so the fused operator must too (a null array would
    // otherwise NPE the build loop).
    val collected = child.executeCollect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    val ids = new Array[Long](collected.length)
    val floatVecs = if (isCosine) new Array[Array[Float]](collected.length) else null
    // squared L2 norms, precomputed ONCE per build vector with the same
    // k-ascending accumulation order the fused per-pair loop used — the
    // per-pair expression stays `dot / (sqrt(na) * sqrt(nb))`, so scores
    // are bit-identical to the declarative FloatCosine formulation while
    // the inner loop drops from 3 to 1 multiply-add per element
    val norms = if (isCosine) new Array[Double](collected.length) else null
    val longVecs = if (!isCosine) new Array[Array[Long]](collected.length) else null
    var i = 0
    while (i < collected.length) {
      val row = collected(i)
      ids(i) = row.getLong(0)
      if (isCosine) {
        val v = row.getArray(1).toFloatArray()
        floatVecs(i) = v
        var nn = 0.0; var k = 0
        while (k < v.length) { val x = v(k).toDouble; nn += x * x; k += 1 }
        norms(i) = nn
      } else longVecs(i) = row.getArray(1).toLongArray()
      i += 1
    }
    val bcIds = sparkContext.broadcast(ids)
    val bcF = if (isCosine) sparkContext.broadcast(floatVecs) else null
    val bcN = if (isCosine) sparkContext.broadcast(norms) else null
    val bcL = if (!isCosine) sparkContext.broadcast(longVecs) else null
    val tri = triangular
    val minS = minScore
    val k0 = topK

    // HALF_UP decimal(4) rounding of score*100 — the ordering key the
    // sim_topk oracle ranks by. Spark's round() on a double is
    // BigDecimal.valueOf (shortest decimal repr) + setScale(4, HALF_UP);
    // the fast scaled-floor form agrees except within ~1e-6 of a .5
    // boundary, where the binary product can land on the other side of
    // the shortest-repr decimal — those rare cases defer to the exact
    // BigDecimal path so buffer eviction order always matches the engine.
    def round4x100(s: Double): Double = {
      val x = s * 100.0
      val scaled = x * 1e4
      val frac = scaled - math.floor(scaled)
      if (math.abs(frac - 0.5) < 1e-6)
        java.math.BigDecimal.valueOf(x)
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      else if (x >= 0) math.floor(scaled + 0.5) / 1e4
      else math.ceil(scaled - 0.5) / 1e4
    }

    if (k0 > 0) {
      // per-src top-k mode: bounded insertion buffer ordered by
      // (round(score*100,4) DESC, dst ASC); emits k rows per stream row
      child.execute().mapPartitions { iter =>
        val bIds = bcIds.value
        val bF = if (bcF != null) bcF.value else null
        val bN = if (bcN != null) bcN.value else null
        val bL = if (bcL != null) bcL.value else null
        val writer = new UnsafeRowWriter(3)
        iter.filter(r => !r.isNullAt(0) && !r.isNullAt(1)).flatMap { row =>
          val src = row.getLong(0)
          val va: Array[Float] = if (bF != null) row.getArray(1).toFloatArray() else null
          val la: Array[Long] = if (bL != null) row.getArray(1).toLongArray() else null
          var na = 0.0
          if (va != null) {
            var k = 0
            while (k < va.length) { val x = va(k).toDouble; na += x * x; k += 1 }
          }
          val topIds = new Array[Long](k0)
          val topRaw = new Array[Double](k0)
          val topRnd = new Array[Double](k0)
          var size = 0
          var j = 0
          while (j < bIds.length) {
            val dst = bIds(j)
            val keepPair = if (tri) src < dst else src != dst
            if (keepPair) {
              var s = 0.0
              var valid = true
              if (bF != null) {
                val vb = bF(j)
                // unequal lengths → skipped, matching FloatCosine's NULL
                // (the precomputed norms are full-length, so a truncated
                // dot would silently disagree with the declarative form)
                if (vb.length != va.length) valid = false
                else {
                  var dot = 0.0
                  var k = 0
                  while (k < va.length) { dot += va(k).toDouble * vb(k).toDouble; k += 1 }
                  val den = math.sqrt(na) * math.sqrt(bN(j))
                  if (den == 0.0) valid = false else s = dot / den
                }
              } else if (isHamming) {
                val lb = bL(j)
                val n = math.min(la.length, lb.length)
                var d = 0L
                var k = 0
                while (k < n) { d += java.lang.Long.bitCount(la(k) ^ lb(k)); k += 1 }
                s = -d.toDouble
              } else {
                val lb = bL(j)
                var p = 0; var q = 0; var inter = 0
                while (p < la.length && q < lb.length) {
                  val xv = la(p); val yv = lb(q)
                  if (xv == yv) { inter += 1; p += 1; q += 1 }
                  else if (xv < yv) p += 1
                  else q += 1
                }
                val den = if (isOverlap) math.min(la.length, lb.length)
                          else la.length + lb.length - inter
                if (den == 0) valid = false else s = inter.toDouble / den
              }
              if (valid && s >= minS) {
                val r = round4x100(s)
                val last = size - 1
                if (size < k0 || r > topRnd(last) ||
                    (r == topRnd(last) && dst < topIds(last))) {
                  var pos = if (size < k0) size else last
                  while (pos > 0 && (topRnd(pos - 1) < r ||
                      (topRnd(pos - 1) == r && topIds(pos - 1) > dst))) {
                    topIds(pos) = topIds(pos - 1)
                    topRaw(pos) = topRaw(pos - 1)
                    topRnd(pos) = topRnd(pos - 1)
                    pos -= 1
                  }
                  topIds(pos) = dst; topRaw(pos) = s; topRnd(pos) = r
                  if (size < k0) size += 1
                }
              }
            }
            j += 1
          }
          val rows = new Array[InternalRow](size)
          var o = 0
          while (o < size) {
            writer.reset()
            writer.write(0, src)
            writer.write(1, topIds(o))
            writer.write(2, topRaw(o))
            rows(o) = writer.getRow.copy()
            o += 1
          }
          rows
        }
      }
    } else child.execute().mapPartitions { iter =>
      val bIds = bcIds.value
      val bF = if (bcF != null) bcF.value else null
      val bN = if (bcN != null) bcN.value else null
      val bL = if (bcL != null) bcL.value else null
      val writer = new UnsafeRowWriter(3)
      iter.filter(r => !r.isNullAt(0) && !r.isNullAt(1)).flatMap { row =>
        val src = row.getLong(0)
        val va: Array[Float] = if (bF != null) row.getArray(1).toFloatArray() else null
        val la: Array[Long] = if (bL != null) row.getArray(1).toLongArray() else null
        var naStream = 0.0
        if (va != null) {
          var k = 0
          while (k < va.length) { val x = va(k).toDouble; naStream += x * x; k += 1 }
        }
        new Iterator[InternalRow] {
          private var j = 0
          private var nextRow: InternalRow = _
          private def advance(): Unit = {
            nextRow = null
            while (nextRow == null && j < bIds.length) {
              val dst = bIds(j)
              val keepPair = if (tri) src < dst else src != dst
              if (keepPair) {
                var s = 0.0
                var valid = true
                if (bF != null) {
                  val vb = bF(j)
                  // unequal lengths → skipped (see the top-k branch note)
                  if (vb.length != va.length) valid = false
                  else {
                    var dot = 0.0
                    var k = 0
                    while (k < va.length) { dot += va(k).toDouble * vb(k).toDouble; k += 1 }
                    val den = math.sqrt(naStream) * math.sqrt(bN(j))
                    if (den == 0.0) valid = false else s = dot / den
                  }
                } else if (isHamming) {
                  val lb = bL(j)
                  val n = math.min(la.length, lb.length)
                  var d = 0L
                  var k = 0
                  while (k < n) { d += java.lang.Long.bitCount(la(k) ^ lb(k)); k += 1 }
                  s = -d.toDouble
                } else {
                  val lb = bL(j)
                  var p = 0; var q = 0; var inter = 0
                  var prune = false
                  while (!prune && p < la.length && q < lb.length) {
                    val xv = la(p); val yv = lb(q)
                    if (xv == yv) { inter += 1; p += 1; q += 1 }
                    else {
                      if (xv < yv) p += 1 else q += 1
                      // upper bound on the final Jaccard if every remaining
                      // element matched; below minS → the pair can never
                      // survive the filter, stop merging (minS <= 0 means
                      // the caller wants every pair — skip the check)
                      if (minS > 0) {
                        val rem = math.min(la.length - p, lb.length - q)
                        val maxInter = inter + rem
                        // the largest possible final score given the
                        // merge position: overlap divides by the fixed
                        // min length, Jaccard by the smallest possible
                        // union
                        val bound =
                          if (isOverlap)
                            maxInter.toDouble / math.min(la.length, lb.length)
                          else maxInter.toDouble /
                            (la.length + lb.length - maxInter)
                        if (bound < minS) prune = true
                      }
                    }
                  }
                  if (prune) valid = false
                  else {
                    val den = if (isOverlap) math.min(la.length, lb.length)
                              else la.length + lb.length - inter
                    if (den == 0) valid = false else s = inter.toDouble / den
                  }
                }
                if (valid && s >= minS) {
                  writer.reset()
                  writer.write(0, src)
                  writer.write(1, dst)
                  writer.write(2, s)
                  nextRow = writer.getRow
                }
              }
              j += 1
            }
          }
          advance()
          override def hasNext: Boolean = nextRow != null
          override def next(): InternalRow = {
            val r = nextRow.copy() // UnsafeRowWriter reuses its buffer
            advance()
            r
          }
        }
      }
    }
  }
}
