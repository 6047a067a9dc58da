package graft

import org.apache.spark.sql.functions._

import graft.operators.ProvidenciasOps

/** Invariants of the graph extensions on sf0.001 — complements the DuckDB
  * oracle (which pins values) with the structural properties a graph
  * consumer relies on. */
class GraphSpec extends SparkSpec {

  private def q(name: String) = ProvidenciasOps.queries(name)(spark, SfDir)

  test("edge derivation degrades to the grid plan past the broadcast " +
      "budget; graph_degree output is plan-invariant") {
    import graft.operators.SimilarityOps
    // baseline under the session default (fixture fits → broadcast path)
    val expected = q("graph_degree").collect().toSeq
    // the shared edge materialization memoizes per (session, dir) — evict
    // so the -1-threshold run re-derives through the gated front door
    SimilarityOps.evictSharedEdges(spark)
    try withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // 1. the derivation the graph family shares must NOT plan the
      //    executeCollect-broadcast operator when broadcasting is off
      val derivation = SimilarityOps
        .pairwiseTriangular(spark, SfDir, SimilarityOps.EdgeThreshold)
      val phys = derivation.queryExecution.executedPlan.toString
      assert(!phys.contains("SelfPairwise"), phys)
      assert(!phys.contains("CartesianProduct"), phys)
      // 2. end-to-end: the grid-derived graph_degree is row-identical
      assert(q("graph_degree").collect().toSeq == expected)
    } finally {
      // drop the grid-derived materialization so later suites/tests
      // re-derive under their own conf
      SimilarityOps.evictSharedEdges(spark)
    }
  }

  test("similarEdges scratch root honors spark.graft.scratchDir and " +
      "evict deletes the materialization") {
    import graft.operators.{SessionTableMemo, SimilarityOps}
    val root = java.nio.file.Files.createTempDirectory("graft_scratch_conf")
    def scratchDirs(prefix: String): Seq[String] =
      Option(root.toFile.listFiles()).toSeq.flatten
        .map(_.getName).filter(_.startsWith(prefix))
    // any edge table memoized under the DEFAULT root must not satisfy
    // the conf'd run
    SimilarityOps.evictSharedEdges(spark)
    try withConfs(SessionTableMemo.ScratchDirKey -> root.toString) {
      assert(SimilarityOps.similarEdges(spark, SfDir).count() > 0)
      assert(scratchDirs("graft_sim_edges_").nonEmpty,
        s"materialization did not land under the configured root $root")
      // the derived pivot-BFS levels memoize under the same root and
      // evict with the edge table they are derived from
      assert(q("graph_betweenness").count() > 0)
      assert(scratchDirs("graft_pivot_bfs_").nonEmpty,
        "pivot-BFS materialization did not land under the configured root")
      // evict must DELETE the scratch dirs, not just drop the memo
      // entries, or evict/re-derive cycles orphan them
      SimilarityOps.evictSharedEdges(spark)
      assert(scratchDirs("graft_sim_edges_").isEmpty,
        "evictSharedEdges left an orphaned edge scratch directory behind")
      assert(scratchDirs("graft_pivot_bfs_").isEmpty,
        "evictSharedEdges left an orphaned BFS scratch directory behind")
    } finally SimilarityOps.evictSharedEdges(spark)
  }

  test("second centrality consumer launches no edge-symmetrization or " +
      "BFS job — the edge table lives inside the pivot-BFS memo") {
    // Both pivot-BFS tables (edges + levels) materialize once under the
    // memoized scratch root, so a memo hit must launch no job.
    import graft.operators.{ProvidenciasOps => P, SimilarityOps}
    SimilarityOps.evictSharedEdges(spark)
    val first = jobsDuring { P.pivotBfs(spark, SfDir); () }
    val repeat = jobsDuring { P.pivotBfs(spark, SfDir); () }
    assert(first > 2,
      s"first invocation ran $first jobs — the BFS build never ran")
    // memoized node count + explicit read schemas: a memo hit is pure
    // lazy plan construction over the scratch parquet
    assert(repeat === 0,
      s"memo hit ran $repeat jobs — an edge symmetrization, BFS level, " +
        "schema-inference, or count job leaked past the memo")
    // every other scratch-table memo: after one derivation, a repeat
    // construction reads the parquet back with its fixed schema and runs
    // no derivation, stats or schema-inference job
    import graft.operators.{DedupOps, PipelineOps}
    val hits: Seq[(String, () => Unit)] = Seq(
      "similarEdges" -> (() => { SimilarityOps.similarEdges(spark, SfDir); () }),
      "clusterLabels" -> (() => { DedupOps.clusterLabels(spark, SfDir); () }),
      "collapse" -> (() => { DedupOps.collapse(spark, SfDir); () }),
      "vocabEncode" -> (() => { PipelineOps.vocabEncode(spark, SfDir, PipelineOps.VocabMinCount); () }))
    hits.foreach { case (_, body) => body() }
    hits.foreach { case (name, body) =>
      val n = jobsDuring(body())
      assert(n === 0, s"$name memo hit ran $n jobs")
    }
  }

  test("graph_betweenness equals the brute sampled-Brandes stress replay") {
    import graft.operators.{ProvidenciasOps => P, SimilarityOps}
    val edges = SimilarityOps.similarEdges(spark, SfDir)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges.map(e => e._1 -> e._2) ++ edges.map(e => e._2 -> e._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = Tables.embeddings(spark, SfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val pivots = nodes.sortBy(id => (md5hex(id.toString), id)).take(P.BetwPivots)
    val stress = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for (p <- pivots) {
      // forward BFS with path counts, depth-capped
      val dist = scala.collection.mutable.Map(p -> 0)
      val sigma = scala.collection.mutable.Map(p -> 1L)
      var frontier = Seq(p)
      for (k <- 1 to P.BetwDepth) {
        val next = scala.collection.mutable.Map.empty[Long, Long]
        for (v <- frontier; w <- adj.getOrElse(v, Set.empty)
             if !dist.contains(w))
          next(w) = next.getOrElse(w, 0L) + sigma(v)
        next.foreach { case (w, sg) => dist(w) = k; sigma(w) = sg }
        frontier = next.keys.toSeq
      }
      // backward DAG-path counting: g(v) = sum over successors (1 + g(w))
      val g = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for (k <- (P.BetwDepth - 1) to 1 by -1;
           v <- dist.collect { case (n, d) if d == k => n }) {
        val succ = adj.getOrElse(v, Set.empty).filter(w => dist.get(w).contains(k + 1))
        if (succ.nonEmpty) g(v) = succ.toSeq.map(w => 1L + g(w)).sum
      }
      for ((v, d) <- dist if d >= 1 && d <= P.BetwDepth - 1)
        stress(v) += sigma(v) * g(v)
    }
    val tot = stress.values.sum.toDouble
    val want = nodes.sorted.map { id =>
      val pt = stress(id)
      val share =
        if (tot > 0) math.floor(pt / tot * 1e6 + 0.5) / 1e6 else 0.0
      (id, pt, share)
    }
    val got = q("graph_betweenness").collect()
      .map(r => (r.getAs[Long]("node_id"), r.getAs[Long]("paths_through"),
        r.getAs[Double]("share"))).toSeq
    assert(got === want)
    assert(want.exists(_._2 > 0), "stress must be non-trivial on the fixture")
  }

  test("graph_closeness equals the brute pivot-BFS distance replay") {
    import graft.operators.{ProvidenciasOps => P, SimilarityOps}
    val edges = SimilarityOps.similarEdges(spark, SfDir)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges.map(e => e._1 -> e._2) ++ edges.map(e => e._2 -> e._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = Tables.embeddings(spark, SfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val pivots = nodes.sortBy(id => (md5hex(id.toString), id)).take(P.BetwPivots)
    val acc = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
      .withDefaultValue((0L, 0L, 0L))
    for (p <- pivots) {
      val dist = scala.collection.mutable.Map(p -> 0)
      var frontier = Seq(p)
      for (k <- 1 to P.BetwDepth) {
        val next = frontier.flatMap(v => adj.getOrElse(v, Set.empty))
          .distinct.filterNot(dist.contains)
        next.foreach(w => dist(w) = k)
        frontier = next
      }
      for ((v, d) <- dist if d >= 1) {
        val (r, ds, h) = acc(v)
        acc(v) = (r + 1L, ds + d, h + P.BetwHarmonicLcm / d)
      }
    }
    def pin6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val want = nodes.sorted.map { id =>
      val (r, ds, h) = acc(id)
      (id, r, ds,
        if (ds > 0) pin6(r.toDouble / ds) else 0.0,
        pin6(h.toDouble / P.BetwHarmonicLcm))
    }
    val got = q("graph_closeness").collect()
      .map(r => (r.getAs[Long]("node_id"), r.getAs[Long]("reached"),
        r.getAs[Long]("dist_sum"), r.getAs[Double]("closeness"),
        r.getAs[Double]("harmonic"))).toSeq
    assert(got === want)
    assert(want.exists(_._2 > 0), "closeness must be non-trivial on the fixture")
    // harmonic must dominate closeness's reach ordering coherently:
    // every reached node has harmonic > 0 and dist_sum >= reached
    assert(want.forall(t => (t._2 == 0) == (t._5 == 0.0)))
    assert(want.forall(t => t._3 >= t._2), "each distance is >= 1")
  }

  test("graph_eigenvector equals the brute three-step power iteration") {
    import graft.operators.SimilarityOps
    val edges = SimilarityOps.similarEdges(spark, SfDir)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges.map(e => e._1 -> e._2) ++ edges.map(e => e._2 -> e._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val nodes = Tables.embeddings(spark, SfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val r1 = nodes.map(v => v -> adj.getOrElse(v, Seq.empty).length.toLong).toMap
    def step(r: Map[Long, Long]): Map[Long, Long] =
      nodes.map(v => v -> adj.getOrElse(v, Seq.empty).map(r).sum).toMap
    val r3 = step(step(r1))
    val tot = r3.values.sum.toDouble
    val got = q("graph_eigenvector").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.map(g => g._1 -> g._2).toMap === r3, "BIGINT scores must replay")
    assert(got.length === nodes.length, "isolated nodes must appear with score 0")
    got.foreach { case (_, s, share) =>
      assert(math.abs(share - math.floor(s / tot * 1e6 + 0.5) / 1e6) < 1e-12)
    }
    // hubs rank at least as high as in the raw degree ordering's extremes
    val top = got.maxBy(_._2)
    assert(r1(top._1) >= got.map(g => r1(g._1)).max / 2,
      "eigenvector top node should be degree-heavy on this fixture")
  }

  test("graph_ktruss output is a genuine truss fixpoint with exact supports") {
    import graft.operators.{ProvidenciasOps, SimilarityOps}
    val out = q("graph_ktruss").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val kept = out.map(e => (e._1, e._2)).toSet
    val all = SimilarityOps.similarEdges(spark, SfDir)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept.subsetOf(all), "truss edges must come from the edge set")
    assert(out.nonEmpty, "the fixture's threshold graph must have a 3-truss")
    // recompute in-truss support by brute common-neighbor counting —
    // the reported support must match AND satisfy the truss bound, and
    // the output must be a FIXPOINT (peeling it again removes nothing)
    val adj = kept.toSeq.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    out.foreach { case (a, b, sup) =>
      val common = (adj(a) & adj(b)).size.toLong
      assert(common === sup, s"edge ($a,$b): reported $sup vs brute $common")
      assert(sup >= ProvidenciasOps.TrussK - 2, "truss bound violated")
    }
  }

  test("graph_bipartite_proj weights equal the distinct shared-user counts") {
    val proj = q("graph_bipartite_proj").persist()
    assert(proj.filter(col("t1") >= col("t2")).count() === 0,
      "edges must be oriented t1 < t2, no self-loops")
    assert(proj.filter(col("n_shared_users") < 1).count() === 0)
    // spot-check the heaviest edge against a direct two-sided count
    val top = proj.orderBy(col("n_shared_users").desc, col("t1"), col("t2")).head()
    val (t1, t2) = (top.getString(0), top.getString(1))
    val ev = Tables.events(spark, SfDir)
    val u1 = ev.filter(col("event_type") === t1).select("user_id").distinct()
    val u2 = ev.filter(col("event_type") === t2).select("user_id").distinct()
    assert(top.getAs[Long]("n_shared_users") === u1.join(u2, "user_id").count())
    proj.unpersist()
  }

  test("graph_assortativity equals native corr over the directed stubs") {
    import graft.operators.SimilarityOps
    val row = q("graph_assortativity").head()
    val r = row.getAs[Double]("assortativity")
    assert(r >= -1.0 - 1e-9 && r <= 1.0 + 1e-9, "Pearson r must be in [-1,1]")
    // rebuild the (deg(src), deg(dst)) stub relation and compare the
    // exact-DECIMAL closed form against Spark's native corr()
    val e = SimilarityOps.pairwiseTriangular(spark, SfDir, SimilarityOps.EdgeThreshold)
      .filter(col("similitud") >= SimilarityOps.EdgeThreshold)
      .select(col("src"), col("dst")).persist()
    val nEdges = e.count()
    assert(row.getAs[Long]("n_edges") === nEdges)
    val deg = e.select(explode(array(col("src"), col("dst"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val directed = e.select(col("src").as("a"), col("dst").as("b"))
      .union(e.select(col("dst").as("a"), col("src").as("b")))
    val native = directed
      .join(deg.select(col("id").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("degree").as("db")), "b")
      .agg(corr(col("da"), col("db"))).head().getDouble(0)
    assert(math.abs(r - native) < 1e-5,
      s"closed form $r drifted from native corr $native")
    e.unpersist()
  }

  test("graph_pagerank conserves probability mass and covers every node") {
    val pr = q("graph_pagerank").persist()
    val n = Tables.embeddings(spark, SfDir).count()
    assert(pr.count() === n, "one rank per node, isolated nodes included")
    // dangling redistribution keeps the rank vector a distribution
    val mass = pr.agg(sum("pagerank")).head.getDouble(0)
    assert(math.abs(mass - 1.0) < 1e-3, s"rank mass was $mass")
    assert(pr.filter(col("pagerank") <= 0).count() === 0, "ranks are positive")
    // isolated nodes all share the same (minimal) rank; any linked node
    // with degree > 0 receives at least the teleport floor
    val floor = 0.15 / n
    assert(pr.filter(col("pagerank") < floor - 1e-9).count() === 0)
    pr.unpersist()
  }

  test("graph_kcore survivors satisfy the peel threshold and refine the degree filter") {
    val k = ProvidenciasOps.KCoreK
    val kc = q("graph_kcore").persist()
    assert(kc.count() > 0, s"fixture graph must have a non-empty $k-core")
    // every survivor meets the threshold in the final induced subgraph
    assert(kc.filter(col("core_degree") < k).count() === 0)
    val deg = q("graph_degree").withColumnRenamed("id", "node_id")
    val joined = kc.join(deg, "node_id").persist()
    assert(joined.count() === kc.count(), "survivors must exist in the graph")
    // peeling only removes: a survivor's full-graph degree bounds its
    // core degree from above, and itself must be >= k
    assert(joined.filter(col("core_degree") > col("degree")).count() === 0)
    assert(joined.filter(col("degree") < k).count() === 0)
    joined.unpersist(); kc.unpersist()
  }

  test("the shared graph relations give exact values on K4 + a pendant " +
      "vertex + an isolated node") {
    import graft.operators.Graph
    import spark.implicits._
    // K4 on 0..3, pendant 4 hanging off 3, node 5 isolated
    val e = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (3L, 4L)).toDF("src", "dst")
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Long]] =
      df.collect().map(_.toSeq.map(_.asInstanceOf[Long])).toSet
    val und = Graph.undirected(e)
    val pairs = Set((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    assert(und.count() === 14)
    assert(rows(und) === pairs.flatMap { case (a, b) => Set(Seq(a, b), Seq(b, a)) })
    assert(rows(Graph.stubs(e)) === rows(und))
    assert(rows(Graph.degrees(e)) ===
      Set(Seq(0L, 3L), Seq(1L, 3L), Seq(2L, 3L), Seq(3L, 4L), Seq(4L, 1L)))
    assert(rows(Graph.triangles(e)) ===
      Set(Seq(0L, 1L, 2L), Seq(0L, 1L, 3L), Seq(0L, 2L, 3L), Seq(1L, 2L, 3L)))
    assert(rows(Graph.triangleCounts(e)) === (0L to 3L).map(i => Seq(i, 3L)).toSet)
    // common neighbours: 2 for every K4 pair, 1 (node 3) for the pendant
    // with 0, 1 and 2, none for the edge 3–4 itself
    assert(rows(Graph.wedges(und).groupBy("a", "b").count()) ===
      pairs.filter(_._2 < 4).map { case (a, b) => Seq(a, b, 2L) } ++
        (0L to 2L).map(a => Seq(a, 4L, 1L)))
    val nodes = (0L to 5L).toDF("gid")
    val ccEdges = Graph.componentEdges(e, nodes).persist()
    assert(rows(Graph.components(ccEdges, nodes)) ===
      ((0L to 4L).map(i => Seq(i, 0L)) :+ Seq(5L, 5L)).toSet)
    ccEdges.unpersist()
    // 3-core by peeling: the start set (degree >= 3) is already the K4,
    // so one round reaches the fixpoint; a spent round budget runs none
    def core(keep: org.apache.spark.sql.DataFrame) =
      und.join(keep, und("s") === keep("id"), "left_semi")
        .join(keep, und("d") === keep("id"), "left_semi")
        .groupBy("s").count().filter(col("count") >= 3).select(col("s").as("id"))
    val start = Graph.degrees(e).filter(col("degree") >= 3).select("id")
      .localCheckpoint()
    val (k3, n, converged) = Graph.peel(start, 0, 64)((k, _) => core(k))
    assert(converged && n === 4)
    assert(rows(k3) === (0L to 3L).map(Seq(_)).toSet)
    val (same, n0, converged0) = Graph.peel(start, 64, 64)((k, _) => core(k))
    assert(!converged0 && n0 === 4 && (same eq start))
  }

  test("spark.graft.edgePartitions sets the edge-list coalesce of " +
      "graph_components, graph_kcore and graph_pagerank") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    // graph_components checkpoints its labels, so its final plan no
    // longer shows the edge list: watch every plan the key executes
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    withConfs(ProvidenciasOps.EdgePartitionsKey -> "3") {
      for (k <- Seq("graph_components", "graph_kcore", "graph_pagerank")) {
        plans.clear()
        spark.listenerManager.register(l)
        try {
          q(k).collect()
          // listener events arrive asynchronously
          val deadline = System.nanoTime() + 10_000_000_000L
          def found = plans.toArray.exists(_.toString.contains("Coalesce 3"))
          while (!found && System.nanoTime() < deadline) Thread.sleep(100)
          assert(found, s"$k planned no Coalesce 3")
        } finally spark.listenerManager.unregister(l)
      }
    }
  }

  test("graph_components labels both endpoints of every edge identically") {
    import graft.operators.SimilarityOps
    val comp = q("graph_components").persist()
    val n = Tables.embeddings(spark, SfDir).count()
    assert(comp.count() === n, "one label per node, singletons included")
    val edges = SimilarityOps.pairwiseTriangular(spark, SfDir, SimilarityOps.EdgeThreshold)
      .filter(col("similitud") >= SimilarityOps.EdgeThreshold)
      .select("src", "dst")
    val violations = edges
      .join(comp.withColumnRenamed("node_id", "src")
        .withColumnRenamed("component_id", "c_src"), "src")
      .join(comp.withColumnRenamed("node_id", "dst")
        .withColumnRenamed("component_id", "c_dst"), "dst")
      .filter(col("c_src") =!= col("c_dst"))
      .count()
    assert(violations === 0, s"$violations edges cross component labels")
    // every component label is the min member id (canonical labeling)
    val badLabel = comp.groupBy("component_id").agg(min("node_id").as("mn"))
      .filter(col("component_id") =!= col("mn")).count()
    assert(badLabel === 0, "component label must be the component's min node id")
    comp.unpersist()
    ()
  }

  test("graph_triangles credits exactly the mutually-adjacent triples") {
    val tri = q("graph_triangles")
    // total credit is divisible by 3 (each triangle credits 3 nodes once)
    val total = tri.agg(sum("n_tri")).head.getLong(0)
    assert(total % 3 === 0, s"total triangle credit $total not divisible by 3")
    // every credited node has degree >= 2 in the thresholded graph
    val deg = q("graph_degree")
    assert(tri.join(deg, tri("node_id") === deg("id"))
      .filter(col("degree") < 2).count() === 0)
  }

  test("graph_label_prop communities refine connected components") {
    val lp = q("graph_label_prop").persist()
    val n = Tables.embeddings(spark, SfDir).count()
    assert(lp.count() === n, "one community label per node")
    // a label can only travel along edges, so after any number of
    // supersteps a node's community label names a node of its own
    // connected component — communities partition components, never
    // straddle them
    val comp = q("graph_components")
    val straddle = lp
      .join(comp, lp("node_id") === comp("node_id"))
      .select(lp("community"), comp("component_id").as("c_node"))
      .join(comp.withColumnRenamed("node_id", "community")
        .withColumnRenamed("component_id", "c_lbl"), "community")
      .filter(col("c_node") =!= col("c_lbl"))
      .count()
    assert(straddle === 0, s"$straddle labels crossed component boundaries")
    // isolated nodes (degree 0) keep their own id as community
    val deg = q("graph_degree")
    val isolated = lp.join(deg, lp("node_id") === deg("id"), "left_anti")
    assert(isolated.filter(col("community") =!= col("node_id")).count() === 0,
      "an isolated node has no neighbors to adopt a label from")
    lp.unpersist()
    ()
  }

  test("labelPropagate converges each clique to its min id on a known graph") {
    // two disjoint triangles + one isolated node — hand-computable:
    // superstep 1 sends every triangle member its neighbors' min id,
    // superstep 2 floods the triangle's global min to all three members
    import spark.implicits._
    val tri = Seq((0L, 1L), (0L, 2L), (1L, 2L),
      (10L, 11L), (10L, 12L), (11L, 12L))
    val e = tri.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("s", "d")
    val nodes = Seq(0L, 1L, 2L, 10L, 11L, 12L, 99L).toDF("id")
    val got = graft.operators.ProvidenciasOps.labelPropagate(e, nodes, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 99L -> 99L))
  }

  test("graph_hits authority scores equal the brute-force two-sweep HITS") {
    // replay h0=1 → a1 → h1 → a2 over the collected bipartite edge set
    val got = q("graph_hits").collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("a1"), r.getAs[Long]("a2"))).toMap
    val ut = Tables.events(spark, SfDir)
      .select("user_id", "event_type").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val a1 = ut.groupBy(_._2).map { case (t, es) => t -> es.length.toLong }
    val h1 = ut.groupBy(_._1).map { case (u, es) =>
      u -> es.map(e => a1(e._2)).sum
    }
    val a2 = ut.groupBy(_._2).map { case (t, es) =>
      t -> es.map(e => h1(e._1)).sum
    }
    assert(got.keySet === a2.keySet)
    got.foreach { case (t, (g1, g2)) =>
      assert(g1 === a1(t), s"$t a1")
      assert(g2 === a2(t), s"$t a2")
    }
  }

  test("graph_adamic_adar matches a direct replay over the edge set") {
    val got = q("graph_adamic_adar").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_common"), r.getAs[Double]("adamic_adar"))).toMap
    val edges = graft.operators.SimilarityOps.queries("sim_edges")(spark, SfDir)
      .collect().map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst")))
    val adj = scala.collection.mutable.Map[Long, Set[Long]]().withDefaultValue(Set.empty)
    edges.foreach { case (a, b) =>
      adj(a) = adj(a) + b; adj(b) = adj(b) + a
    }
    val brute = (for {
      a <- adj.keys; b <- adj.keys if a < b
      common = adj(a) intersect adj(b) if common.size >= 3
    } yield {
      val aa = common.toSeq.map { z =>
        BigDecimal(1.0 / math.log(adj(z).size.toDouble))
          .setScale(10, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
      (a, b) -> (common.size.toLong,
        BigDecimal(aa).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }).toMap
    assert(got.keySet === brute.keySet)
    got.foreach { case (k, (n, s)) =>
      assert(n === brute(k)._1, s"$k common count")
      assert(math.abs(s - brute(k)._2) < 1e-5, s"$k score $s vs ${brute(k)._2}")
    }
  }

  test("graph_component_sizes is the histogram of the component labels") {
    val hist = q("graph_component_sizes").collect()
      .map(r => r.getAs[Long]("csize") -> r.getAs[Long]("n_components")).toMap
    val labels = q("graph_components").collect()
      .map(_.getAs[Long]("component_id"))
    val brute = labels.groupBy(identity).map(_._2.length.toLong)
      .groupBy(identity).map { case (sz, xs) => sz -> xs.size.toLong }
    assert(hist === brute)
    val nodes = Tables.embeddings(spark, SfDir).count()
    assert(hist.map { case (sz, n) => sz * n }.sum === nodes,
      "component sizes must partition the node set")
  }

  test("graph_transitivity is coherent with the per-node triangle counts") {
    val r = q("graph_transitivity").head()
    val triSum = q("graph_triangles").collect().map(_.getAs[Long]("n_tri")).sum
    // each triangle contributes one count at each of its three corners
    assert(3L * r.getAs[Long]("n_triangles") === triSum,
      "global triangle count must be the corner-count sum over 3")
    val c = r.getAs[Double]("transitivity")
    assert(c >= 0.0 && c <= 1.0 + 1e-9, "closed wedges are a subset of wedges")
    assert(r.getAs[Long]("n_wedges") >= r.getAs[Long]("n_triangles") * 3)
  }

  // ---- Fixed-depth residuals ----------------------------------------
  // The four iterative graph queries unroll a FIXED iteration count into
  // one declarative plan (3 PageRank power steps, 2 LPA supersteps, 3
  // k-core peels, 2 HITS sweeps) instead of looping to convergence —
  // SURVEY §2's documented trade. These tests measure what that truncation
  // leaves on the table: run ONE more iteration from the shipped output
  // and bound the movement. The fixtures are deterministic, so each bound
  // is a measured value with ~2× headroom, documented inline.

  /** The symmetrized SIMILAR edge list the iterative queries run on. */
  private def simEdges() = {
    import graft.operators.SimilarityOps
    SimilarityOps.pairwiseTriangular(spark, SfDir, SimilarityOps.EdgeThreshold)
      .filter(col("similitud") >= SimilarityOps.EdgeThreshold)
      .select(explode(array(
        struct(col("src").as("s"), col("dst").as("d")),
        struct(col("dst").as("s"), col("src").as("d")))).as("e"))
      .select(col("e.s").as("s"), col("e.d").as("d"))
  }

  test("graph_summary reconciles with the degree relation and its bounds") {
    val r = q("graph_summary").collect().head
    val degs = q("graph_degree").collect()
      .map(_.getAs[Long]("degree"))
    val nVec = Tables.embeddings(spark, SfDir).count()
    assert(r.getAs[Long]("n_nodes") === nVec,
      "isolated vectors must count as nodes")
    assert(r.getAs[Long]("n_edges") === degs.sum / 2)
    assert(r.getAs[Long]("max_degree") === degs.max)
    val avg = degs.sum.toDouble / nVec
    assert(math.abs(r.getAs[Double]("avg_degree") - avg) < 1e-5)
    val density = degs.sum.toDouble / (nVec * (nVec - 1))
    assert(math.abs(r.getAs[Double]("density") - density) < 1e-5)
    // Freeman centralization: 0 on a regular graph, 1 on a star; the
    // brute numerator counts isolated nodes at degree 0
    val cdNum = (nVec - degs.length) * degs.max +
      degs.map(d => degs.max - d).sum
    val cd = cdNum.toDouble / ((nVec - 1) * (nVec - 2))
    assert(math.abs(r.getAs[Double]("degree_centralization") - cd) < 1e-5)
    assert(cd >= 0.0 && cd <= 1.0 + 1e-9)
  }

  test("graph_rich_club replays brute-force on the induced subgraphs") {
    val rows = q("graph_rich_club").collect()
    assert(rows.map(_.getAs[Long]("k")).toSeq === (1L to 8L))
    // brute replay: collect the (small-fixture) edge set, induce on
    // degree > k, count nodes and edges directly
    val edges = simEdges().collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a < b }.distinct
    val deg = edges.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (n, xs) => n -> xs.length.toLong }
    rows.foreach { r =>
      val k = r.getAs[Long]("k")
      val rich = deg.filter(_._2 > k).keySet
      val ek = edges.count { case (a, b) => rich(a) && rich(b) }
      assert(r.getAs[Long]("n_nodes") === rich.size.toLong, s"k=$k nodes")
      assert(r.getAs[Long]("n_edges") === ek.toLong, s"k=$k edges")
      if (rich.size >= 2) {
        val phi = math.floor(2.0 * ek / (rich.size.toLong * (rich.size - 1L))
          * 1e6 + 0.5) / 1e6
        assert(r.getAs[Double]("phi") === phi, s"k=$k phi")
        assert(r.getAs[Double]("phi") <= 1.0 + 1e-9, "phi is a density, <= 1")
      } else assert(r.isNullAt(r.fieldIndex("phi")), s"k=$k: phi undefined")
    }
  }

  test("graph_knn_degree reconciles with the degree relation and stub mass") {
    val rows = q("graph_knn_degree").collect()
    val degHist = q("graph_degree").collect()
      .map(_.getAs[Long]("degree")).groupBy(identity)
      .map { case (d, xs) => d -> xs.length.toLong }
    // one curve point per distinct degree, with the node count matching
    // the degree distribution and each knn value inside [1, max degree]
    assert(rows.map(_.getAs[Long]("degree")).toSet === degHist.keySet)
    val maxDeg = degHist.keys.max.toDouble
    rows.foreach { r =>
      assert(r.getAs[Long]("n_nodes") === degHist(r.getAs[Long]("degree")))
      val knn = r.getAs[Double]("avg_neighbor_degree")
      assert(knn >= 1.0 - 1e-9 && knn <= maxDeg + 1e-9, s"knn $knn out of range")
    }
    // stub-mass identity: Σ_k k·N_k over the curve = 2·|E| (every edge
    // contributes two stubs)
    val stubMass = rows.map(r => r.getAs[Long]("degree") * r.getAs[Long]("n_nodes")).sum
    val nEdges = simEdges().count() // directed stubs = 2|E|
    assert(stubMass === nEdges, "degree-weighted node mass must equal stub count")
  }

  test("graph_pagerank residual: a fourth power step moves the shipped " +
      "rank vector by a bounded L1 distance") {
    val pr = q("graph_pagerank").persist()
    val nodes = Tables.embeddings(spark, SfDir).select(col("vec_id").as("id"))
    val n = nodes.count().toDouble
    val und = simEdges()
    val outdeg = und.groupBy("s").agg(count(lit(1)).cast("double").as("od"))
    val edges = und.join(outdeg, "s").persist()
    val r = pr.select(col("id"), col("pagerank").as("rank"))
    val contrib = edges.join(r, edges("s") === r("id"))
      .groupBy(edges("d")).agg(sum(col("rank") / col("od")).as("c"))
      .withColumnRenamed("d", "cid")
    val dang = r.join(edges.select(col("s").as("id")).distinct(),
        Seq("id"), "left_anti")
      .agg(coalesce(sum(col("rank")), lit(0.0)).as("dm"))
    val r4 = nodes.join(contrib, nodes("id") === contrib("cid"), "left")
      .crossJoin(dang)
      .select(nodes("id"), (lit(0.15 / n) + lit(0.85) *
        (coalesce(col("c"), lit(0.0)) + col("dm") / lit(n))).as("rank4"))
    val resid = pr.join(r4, "id")
      .agg(sum(abs(col("rank4") - col("pagerank")))).head().getDouble(0)
    info(f"pagerank L1 residual at iteration 4: $resid%.6f")
    // contraction caps it at 0.85³·||r1−r0||₁ ≤ 0.85³·2 ≈ 1.23;
    // measured at sf0.001: 0.0521 (the dense fixture graph mixes much
    // faster than worst case) — pinned at 2× headroom. The shipped
    // depth trades ~5% L1 mass for a 3-shuffle-superstep plan; rank
    // ORDER is already what consumers read, and the bound documents
    // exactly how much the values can still move.
    assert(resid < 0.11, s"4th-iteration L1 residual was $resid")
    pr.unpersist(); edges.unpersist()
  }

  test("graph_label_prop residual: a third superstep relabels a bounded " +
      "fraction of nodes") {
    val out = q("graph_label_prop")
    val nodes = Tables.embeddings(spark, SfDir).select(col("vec_id").as("id"))
    val e = simEdges().persist()
    val l2 = ProvidenciasOps.labelPropagate(e, nodes, 2)
    // the spec's own 2-superstep replay must equal the shipped output
    assert(l2.select(col("id").as("node_id"), col("lbl").as("community"))
      .orderBy("node_id").collect().toSeq === out.collect().toSeq)
    val l3 = ProvidenciasOps.labelPropagate(e, nodes, 3)
      .withColumnRenamed("lbl", "lbl3")
    val n = nodes.count()
    val changed = l2.join(l3, "id").filter(col("lbl") =!= col("lbl3")).count()
    info(s"label_prop relabels at superstep 3: $changed of $n")
    val l4 = ProvidenciasOps.labelPropagate(e, nodes, 4)
      .withColumnRenamed("lbl", "lbl4")
    val osc = l2.join(l4, "id").filter(col("lbl") =!= col("lbl4")).count()
    info(s"label_prop l4 vs l2 differs on: $osc of $n")
    // Measured at sf0.001: 469/500 relabel at superstep 3, and l4 vs l2
    // still differ on 209 — synchronous LPA does NOT converge on this
    // dense similarity graph, and it isn't even the classic period-2
    // oscillation; it churns. That is precisely WHY the superstep count
    // is a capped semantic (Raghavan et al.'s sync variant is
    // oscillation-prone by construction) rather than an approximation
    // of a fixpoint that doesn't exist. The residual documents the
    // truncation: consumers get "communities after 2 sync supersteps",
    // a deterministic labeling, not a converged one. The assert pins
    // the non-convergence so a future "just add supersteps" change has
    // to confront it rather than silently shipping a different
    // still-churning labeling.
    assert(changed > n / 2,
      s"sync LPA unexpectedly near-converged ($changed/$n moved) — if " +
        "the fixture or operator changed, re-measure and re-document")
    e.unpersist()
  }

  test("graph_kcore residual: one more peel round drops NOTHING — the " +
      "shipped output is the exact peel fixpoint") {
    // r10: graph_kcore peels to convergence (the old fixed 3-round
    // unroll left a 4th peel dropping 50 of 63 survivors at sf0.001,
    // and the true 4-core was empty — hence k = KCoreK = 3 now, whose
    // core is non-empty at every SF). Residual bound: exactly 0.
    val out = q("graph_kcore")
    val keep = out.select(col("node_id").as("id")).persist()
    val und = simEdges().persist()
    val survivors = out.count()
    val kept = und.join(keep, und("s") === keep("id"), "left_semi")
      .join(keep, und("d") === keep("id"), "left_semi")
      .groupBy("s").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= ProvidenciasOps.KCoreK).count()
    info(s"kcore survivors: $survivors; after one more peel: $kept")
    assert(survivors > 0, "the fixture 3-core must be non-empty")
    assert(kept === survivors,
      s"output is not the fixpoint: one more peel kept $kept of $survivors")
    keep.unpersist(); und.unpersist()
  }

  test("graph_hits residual: a third sweep moves the authority share by " +
      "a bounded L-inf distance") {
    val out = q("graph_hits").persist()
    val ut = Tables.events(spark, SfDir)
      .select(col("user_id"), col("event_type")).distinct().persist()
    val h2 = ut.join(out.select(col("event_type"), col("a2")), "event_type")
      .groupBy("user_id").agg(sum(col("a2")).as("h2"))
    val tot = org.apache.spark.sql.expressions.Window.partitionBy()
    val a3 = ut.join(h2, "user_id")
      .groupBy("event_type").agg(sum(col("h2")).as("a3"))
      .withColumn("share3", col("a3").cast("double") / sum(col("a3")).over(tot))
    val resid = out.join(a3, "event_type")
      .agg(max(abs(col("share3") - col("share")))).head().getDouble(0)
    info(f"hits L-inf share residual at sweep 3: $resid%.6f")
    // measured at sf0.001: 0.000000 — on this bipartite co-occurrence
    // graph the authority-share vector is already stationary after the
    // shipped 2 sweeps (the graph is dense enough that one more
    // hub-authority round renormalizes to the same shares). Pinned with
    // float headroom; the rounded `share` column quantizes at 1e-6.
    assert(resid < 1e-5, s"3rd-sweep share residual was $resid")
    // the authority RANKING must already be stable at the shipped depth
    val rank2 = out.orderBy(col("a2").desc, col("event_type"))
      .select("event_type").collect().map(_.getString(0)).toSeq
    val rank3 = a3.orderBy(col("a3").desc, col("event_type"))
      .select("event_type").collect().map(_.getString(0)).toSeq
    assert(rank2 === rank3, "one more sweep must not reorder authorities")
    out.unpersist(); ut.unpersist()
  }

  test("graph_modularity: Q bounded and reconciled against the published communities") {
    import org.apache.spark.sql.functions._
    val r = q("graph_modularity").collect().head
    val qmod = r.getAs[Double]("modularity")
    // Newman bounds: Q in [-1/2, 1)
    assert(qmod >= -0.5 - 1e-9 && qmod < 1.0, s"Q out of range: $qmod")
    // replay from graph_label_prop's published labels + the same edges
    val labels = q("graph_label_prop").collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    val edges = graft.operators.SimilarityOps
      .pairwiseTriangular(spark, SfDir, graft.operators.SimilarityOps.EdgeThreshold)
      .filter(col("similitud") >= graft.operators.SimilarityOps.EdgeThreshold)
      .select("src", "dst").collect()
      .map(row => (row.getLong(0), row.getLong(1)))
    val ne = 2.0 * edges.length
    // communities WITH edges only (an isolated node's community
    // contributes exactly 0); replay Q with the same 10dp pre-round
    def pin(x: Double, d: Int) = math.floor(x * math.pow(10, d) + 0.5) / math.pow(10, d)
    val wMap = edges.filter { case (a, b) => labels(a) == labels(b) }
      .groupBy { case (a, _) => labels(a) }.map { case (k, v) => k -> 2L * v.size }
    val dMap = edges.flatMap { case (a, b) => Seq(labels(a) -> 1L, labels(b) -> 1L) }
      .groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val want = pin(dMap.map { case (c, d) =>
      pin(wMap.getOrElse(c, 0L) / ne - (d / ne) * (d / ne), 10)
    }.sum, 6)
    assert(math.abs(qmod - want) < 1e-6, s"Q $qmod != replay $want")
    assert(r.getAs[Long]("n_edges") === edges.length.toLong)
    assert(r.getAs[Long]("n_communities") === dMap.size.toLong)
  }
}
