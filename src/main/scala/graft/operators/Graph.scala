package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The relations the `graph_*` keys derive from the SIMILAR graph, each
  * defined once. Edge inputs are `(src, dst)` frames holding every
  * undirected edge once with `src < dst` ([[SimilarityOps.similarEdges]],
  * or the dedup pair list). Nothing here persists, coalesces or
  * checkpoints: those choices stay with each caller, so a key's physical
  * plan is the one it spells out. */
private[graft] object Graph {

  /** Both orientations of every edge, as `(s, d)`: one explode over the
    * edge list, so the input plan runs once (a union of two projections
    * would plan it twice). */
  def undirected(e: DataFrame): DataFrame =
    e.select(explode(array(
        struct(col("src").as("s"), col("dst").as("d")),
        struct(col("dst").as("s"), col("src").as("d")))).as("p"))
      .select(col("p.s").as("s"), col("p.d").as("d"))

  /** Both orientations of every edge as `(a, b)` directed stubs, built as
    * a union of two projections of `e` — for callers that persist `e`, so
    * both branches read the cache. */
  def stubs(e: DataFrame): DataFrame =
    e.select(col("src").as("a"), col("dst").as("b"))
      .union(e.select(col("dst").as("a"), col("src").as("b")))

  /** `(id, degree)` for every node with at least one edge: each edge
    * credits both endpoints. */
  def degrees(e: DataFrame): DataFrame =
    e.select(explode(array(col("src"), col("dst"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("degree"))

  /** Every triangle once, as `(a, b, c)` with a < b < c: the `src < dst`
    * orientation lets two self-equi-joins enumerate each triangle exactly
    * once. The per-role projections mint fresh expression ids, so the
    * three join sides stay unambiguous. */
  def triangles(e: DataFrame): DataFrame = {
    val e1 = e.select(col("src").as("a"), col("dst").as("b"))
    val e2 = e.select(col("src").as("b2"), col("dst").as("c"))
    val e3 = e.select(col("src").as("a3"), col("dst").as("c3"))
    e1.join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"))
      .select(col("a"), col("b"), col("c"))
  }

  /** `(id, n_tri)` for every node on at least one [[triangles]]
    * triangle: each triangle credits its three corners. */
  def triangleCounts(e: DataFrame): DataFrame =
    triangles(e).select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))

  /** Every path a–m–b with a < b over an [[undirected]] `(s, d)` frame,
    * as `(m, a, b)`: one self-equi-join on the middle node, never an
    * all-pairs comparison. Grouped by `(a, b)` it counts common
    * neighbours. */
  def wedges(und: DataFrame): DataFrame =
    und.select(col("s").as("a"), col("d").as("m"))
      .join(und.select(col("s").as("m"), col("d").as("b")), "m")
      .filter(col("a") < col("b"))

  /** One `(id)` row per graph node: every embedding is a node, isolated
    * ones included. */
  def nodes(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(col("vec_id").as("id"))

  /** Node count per (session, dir). The embeddings fixture is immutable,
    * so the count is too; memoizing it keeps a pivot-BFS memo hit at zero
    * jobs (GraphSpec pins that), and it survives an edge evict on purpose
    * (an edge evict invalidates derived edges and levels, never the
    * corpus). */
  private val nodeCountMemo = new SessionMemo[String, java.lang.Long]

  def nodeCount(s: SparkSession, dir: String): Long =
    nodeCountMemo.getOrElseUpdate(s, dir)(nodes(s, dir).count())

  /** The [[components]] input for `(src, dst)` edges over `(gid)` nodes:
    * both orientations as `(a, b)`, plus a self-loop per node so
    * singletons keep their own label. */
  def componentEdges(e: DataFrame, nodes: DataFrame): DataFrame =
    undirected(e).select(col("s").as("a"), col("d").as("b"))
      .union(nodes.select(col("gid").as("a"), col("gid").as("b")))

  /** Min-label connected components of an `(a, b)` edge list, as
    * `(id, lbl)`, over [[componentEdges]] and their `(gid)` nodes. One
    * count picks the solver: the single-task union-find
    * ([[DedupOps.localCC]]) up to [[DedupOps.LocalCCMaxEdges]] edges, the
    * relational pointer-jump loop ([[DedupOps.iterativeCC]]) beyond.
    * Callers persist `edges`, since the count and the solve both read
    * it. */
  def components(edges: DataFrame, nodes: DataFrame): DataFrame =
    if (edges.count() <= DedupOps.LocalCCMaxEdges) DedupOps.localCC(edges)
    else DedupOps.iterativeCC(edges, nodes)

  /** Peel to the fixpoint. Each round maps the current set and its row
    * count through `round`, localCheckpoints the result (so the loop's
    * logical plan stays flat) and counts it. Rounds only remove rows, so
    * an unchanged count is the fixpoint. The loop stops there, on an
    * empty set, or when the round counter, starting at `rounds`, reaches
    * `maxRounds`. Returns the last set, its count and whether it reached
    * the fixpoint. */
  def peel(set: DataFrame, rounds: Int, maxRounds: Int)(
      round: (DataFrame, Long) => DataFrame): (DataFrame, Long, Boolean) = {
    var cur = set
    var n = set.count()
    var r = rounds
    var converged = false
    while (!converged && n > 0 && r < maxRounds) {
      val next = round(cur, n).localCheckpoint()
      val m = next.count()
      converged = m == n
      cur = next; n = m; r += 1
    }
    (cur, n, converged)
  }
}
