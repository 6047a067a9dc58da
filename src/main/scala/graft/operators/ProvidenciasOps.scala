package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Num, Vectors}

/** Part A of SURVEY.md §2 — every data operation the reference app performs,
  * re-hosted on Spark.
  *
  * The reference (streamlit_app.py) delegates these to MongoDB
  * (`distinct`, equality `find`, `$text` search — streamlit_app.py:26-32,
  * 137-148) and Neo4j (node list + 1-hop SIMILAR neighborhood —
  * streamlit_app.py:48-71). Here each is a declarative DataFrame plan:
  * Catalyst pushes the filters and projections into the Parquet scan
  * (the reference's Mongo path misses column pruning entirely — SURVEY §4.1),
  * and the similarity "graph" is derived on the fly from the embeddings
  * table instead of being stored.
  *
  * Every query ends in a total-order `orderBy` mirrored in the DuckDB
  * oracle SQL (SURVEY §7.4).
  */
object ProvidenciasOps {

  /** Search terms for the `$text`-style queries (A5). Semantics pinned per
    * SURVEY §7.5: lowercase whitespace tokens, OR-of-terms. */
  val SearchTerms: Seq[String] = Seq("spark", "merge")

  /** Peel threshold for `graph_kcore` (see the query's Scaladoc). 3, not
    * 4: the fixture similarity graph's true 4-core is EMPTY at sf0.001
    * and sf0.01 (measured r10 — 3 fixed peel rounds used to mask this by
    * stopping early), so k = 4 would gate the converged operator on an
    * empty table; the 3-core is non-empty at every SF (250 / 316 / 2000
    * nodes) and converges within 10 peels. */
  val KCoreK = 3

  /** k-truss order for `graph_ktruss` (every surviving edge sits in
    * ≥ k−2 triangles of the truss) and the peel-round cap shared with
    * the generated oracle CTE chain (post-convergence rounds are
    * identity filters, so the unroll replays an early-stopping loop
    * exactly — the BPE-oracle discipline). */
  val TrussK = 3
  val TrussMaxRounds = 16

  /** Sampled-Brandes parameters for `graph_betweenness`: the number of
    * deterministically hash-picked BFS pivots and the BFS depth cap.
    * Both are part of the STATISTIC's definition (bounded-depth sampled
    * betweenness), shared verbatim with the generated oracle unroll —
    * at 100 TB you never run exact all-sources Brandes; you sample
    * sources and bound the horizon, exactly as published approximation
    * schemes (Brandes & Pich 2007) do. */
  val BetwPivots = 4
  val BetwDepth = 4

  /** lcm(1..BetwDepth) — the scale that makes per-level harmonic terms
    * (1/dist) exact integers for `graph_closeness`. */
  val BetwHarmonicLcm: Int =
    (1 to BetwDepth).foldLeft(1)((l, k) => l / gcd(l, k) * k)

  private def gcd(a: Int, b: Int): Int = if (b == 0) a else gcd(b, a % b)

  /** Forward sampled BFS shared by `graph_betweenness` and
    * `graph_closeness`: from [[BetwPivots]] deterministically md5-picked
    * pivots, [[BetwDepth]] levels over the shared SIMILAR edge table.
    * Returns (symmetrized memoized-parquet edge list, node count, levels) where
    * levels(k) = (p, id, sigma) — the nodes FIRST reached at depth k
    * under pivot p with their shortest-path counts σ. Each level is one
    * shuffle join of the size-conditionally-broadcast (pivots × frontier)
    * relation against the edge list + an anti-join against the visited
    * prefix + a destination groupBy (σ sums over predecessors), and
    * localCheckpoints (the graph_kcore discipline) so the unrolled plan
    * never snowballs. Depth-exhausted levels are empty and later rounds
    * are no-ops on BOTH engines, so the fixed unroll replays early
    * exhaustion exactly.
    *
    * Both derived tables live in ONE memoized scratch directory per
    * (session, dir): `edges` = the symmetrized undirected edge list,
    * `levels` = the BFS level tables (p, id, sigma, dist).
    * graph_betweenness and graph_closeness consume the SAME forward BFS,
    * and keeping the edge table inside the memo means a hit re-derives
    * nothing. Derived from the shared edge table, so
    * [[SimilarityOps.evictSharedEdges]] drops it too. */
  private[operators] val pivotBfsMemo = new SessionTableMemo[Unit]("graft_pivot_bfs_")

  /** Partition count for the materialized symmetrized edge table.
    * `spark.graft.edgePartitions` (default 8 — sized for the contracted
    * edge list at fixture scale under local[32]; on a real cluster set
    * it to O(active cores) so the per-level BFS joins read the edges at
    * full parallelism). A conf key rather than a literal — r14 verdict
    * watch item 2 flagged the hard-coded `coalesce(8)` as a local-mode
    * knob that would under-parallelize a 1000-executor deployment. */
  private[graft] val EdgePartitionsKey = "spark.graft.edgePartitions"

  private def edgePartitions(s: SparkSession): Int =
    s.conf.getOption(EdgePartitionsKey).map { v =>
      val n = v.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"$EdgePartitionsKey must be a positive integer, got '$v'"))
      require(n > 0, s"$EdgePartitionsKey must be positive, got $n")
      n
    }.getOrElse(8)

  /** Node count per (session, dir) — the embeddings fixture is immutable,
    * so the count is too; memoizing it keeps a pivot-BFS memo hit at ZERO
    * jobs (GraphSpec pins that), and it survives an edge evict on purpose
    * (an edge evict invalidates derived edges/levels, never the corpus).
    * Every node-count site in this module routes through it. */
  private val nodeCountMemo = new SessionMemo[String, java.lang.Long]

  /** Fixed on-disk schemas of the two memoized scratch tables — passed to
    * the reads so a memo hit never runs a parquet schema-inference job. */
  private val EdgesSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("s",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("d",
      org.apache.spark.sql.types.LongType)))
  private val LevelsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("p",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("sigma",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("dist",
      org.apache.spark.sql.types.IntegerType)))

  private[graft] def pivotBfs(s: SparkSession, dir: String)
      : (DataFrame, Long, Array[DataFrame]) = {
    val nodes = Tables.embeddings(s, dir).select(col("vec_id").as("id"))
    val nNodes: Long = nodeCountMemo.getOrElseUpdate(s, dir)(nodes.count())
    val (tables, _) = pivotBfsMemo.materialize(s, dir) {
      val sym = SimilarityOps.similarEdges(s, dir).select(col("src"), col("dst"))
        .select(explode(array(
          struct(col("src").as("s"), col("dst").as("d")),
          struct(col("dst").as("s"), col("src").as("d")))).as("p"))
        .select(col("p.s").as("s"), col("p.d").as("d"))
        .coalesce(edgePartitions(s))
      (out => {
        out.write("edges", sym)
        val und = out.read("edges", EdgesSchema)
        val pivots = nodes
          .orderBy(md5(col("id").cast("string")), col("id"))
          .limit(BetwPivots)
          .select(col("id").as("p"))
        val levels = new Array[DataFrame](BetwDepth + 1)
        levels(0) = pivots.select(col("p"), col("p").as("id"), lit(1L).as("sigma"))
          .localCheckpoint()
        var vis = levels(0)
        for (k <- 1 to BetwDepth) {
          // the (pivots × frontier) relation is the small side — the edge
          // list shuffles, the frontier broadcasts while it fits
          val fr = Bcast.ifFitsRows(
            levels(k - 1).select(col("p"), col("id").as("fid"), col("sigma")),
            nNodes * BetwPivots.toLong, 24)
          val expand = und.join(fr, und("s") === col("fid"))
            .select(col("p"), und("d").as("nid"), col("sigma"))
          levels(k) = expand
            .join(Bcast.ifFitsRows(
                vis.select(col("p").as("xp"), col("id").as("xid")),
                nNodes * BetwPivots.toLong, 16),
              expand("p") === col("xp") && col("nid") === col("xid"),
              "left_anti")
            .groupBy(col("p"), col("nid"))
            .agg(sum(col("sigma")).as("sigma"))
            .select(col("p"), col("nid").as("id"), col("sigma"))
            .localCheckpoint()
          vis = vis.unionByName(levels(k))
        }
        out.write("levels", (0 to BetwDepth)
          .map(k => levels(k).withColumn("dist", lit(k)))
          .reduce(_ unionByName _))
      }, () => ())
    }
    // memo hit or miss, every consumer reads the SAME parquet tables —
    // lazy scans, so graph_closeness (which never evaluates the edge
    // frame) launches no symmetrization job (GraphSpec pins the job count
    // on the second consumer)
    val vis = tables.read("levels", LevelsSchema)
    val levels = (0 to BetwDepth).map(k =>
      vis.filter(col("dist") === k).select(col("p"), col("id"),
        col("sigma"))).toArray
    (tables.read("edges", EdgesSchema), nNodes, levels)
  }

  /** Accented query forms for the unaccent variant — what a Spanish search
    * box actually receives ("año", "resolución"). */
  val AccentedTerms: Seq[String] = Seq("spárk", "mérge")

  private val AccentFrom = "áéíóúüñ"
  private val AccentTo   = "aeiouun"

  /** Driver-side twin of the engine's fold, applied to the query terms so
    * both sides of the match pass through the identical table. Locale.ROOT
    * keeps the lowercase locale-independent like Spark's `lower()` — the
    * default-locale form turns "I" into dotless "ı" on tr_TR JVMs. */
  private[graft] def foldAccents(t: String): String =
    t.toLowerCase(java.util.Locale.ROOT).map { c =>
      val i = AccentFrom.indexOf(c); if (i < 0) c else AccentTo(i)
    }

  /** The accent-blind OR-of-terms predicate `text_search_unaccent` scans
    * with, exposed so tests can aim it at synthetic accented corpora. */
  private[graft] def unaccentMatch(text: Column, terms: Seq[String]): Column =
    arrays_overlap(
      split(translate(lower(text), AccentFrom, AccentTo), " "),
      lit(terms.map(foldAccents).toArray))

  /** Plural query forms for the stemmed variant (stem to vocab tokens). */
  val PluralTerms: Seq[String] = Seq("spárks", "dátas")

  /** Stem-lite on an accent-folded token: Spanish plural stripping only.
    * Consonant+"es" drops the "es" FIRST ("leyes" → "ley", "meses" →
    * "mes" — checked before the bare-s rule, which would otherwise eat
    * them as vowel-s words), then any remaining final "s" after a 3+ char
    * stem drops ("providencias" → "providencia"); short function words
    * ("las", "es") survive the length floors. Deliberately NOT a snowball
    * stemmer: lexicon-free, deterministic, and expressible as the
    * identical CASE in the DuckDB oracle, which is what keeps the
    * semantics pinned cross-engine (SURVEY §7.5 item 5). */
  // \z, not $: Java-regex $ matches BEFORE a final newline, so a token
  // carrying a trailing \n would strip the newline instead of the "s" —
  // diverging from stemLiteStr's full-string matches() and from DuckDB's
  // RE2 $ (end of text). \z anchors all three identically.
  private def stemLite(t: Column): Column =
    when(t.rlike("^.{2,}[^aeiou]es\\z"), t.substr(lit(1), length(t) - 2))
      .when(t.rlike("^.{3,}s\\z"), t.substr(lit(1), length(t) - 1))
      .otherwise(t)

  private[graft] def stemLiteStr(t: String): String =
    if (t.matches(".{2,}[^aeiou]es")) t.dropRight(2)
    else if (t.matches(".{3,}s")) t.dropRight(1)
    else t

  /** Column twin of `stemLiteStr ∘ foldAccents`, exposed for the parity
    * spec — the match predicates assume the driver-side term pipeline and
    * the column-side corpus pipeline agree on every token. */
  private[graft] def foldStemCol(t: Column): Column =
    stemLite(translate(lower(t), AccentFrom, AccentTo))

  /** Accent-folded AND stem-folded OR-of-terms match — the full fidelity
    * ladder for Mongo's Spanish `$text` (diacritic-insensitive, stemmed):
    * both corpus tokens and query terms pass fold → stem. */
  private[graft] def stemMatch(text: Column, terms: Seq[String]): Column =
    arrays_overlap(
      transform(split(translate(lower(text), AccentFrom, AccentTo), " "),
        t => stemLite(t)),
      lit(terms.map(t => stemLiteStr(foldAccents(t))).toArray))

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.documents(s, dir)

  /** Synchronous label propagation (Raghavan et al. 2007) over an
    * undirected edge list, unrolled into one declarative plan.
    *
    * @param e     symmetrized edges `(s, d)` — every undirected edge in
    *              BOTH directions; callers should persist it, since each
    *              superstep scans it once
    * @param nodes `(id)` — one row per node (isolated nodes keep their
    *              own id as label)
    * @param iters supersteps to unroll (a plan-construction scalar)
    *
    * Labels start as own node id; each superstep a node adopts its
    * neighbors' most frequent label with a deterministic (count desc,
    * min label) tiebreak. Each superstep is one |E|-join + one
    * (node, label) partial-aggregated groupBy + one per-node argmax
    * window — the label relation stays node-cardinality throughout, so
    * the shape is the same shuffle-per-superstep plan Pregel-style
    * systems run at any edge count. Returns `(id, lbl)`. */
  def labelPropagate(e: DataFrame, nodes: DataFrame, iters: Int): DataFrame = {
    def step(labels: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("s")).orderBy(col("c").desc, col("lbl"))
      val pick = e.join(labels, col("d") === col("id"))
        .groupBy(col("s"), col("lbl")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("s").as("id"), col("lbl").as("newlbl"))
      labels.join(pick, Seq("id"), "left")
        .select(col("id"), coalesce(col("newlbl"), col("lbl")).as("lbl"))
    }
    val l0 = nodes.select(col("id"), col("id").as("lbl"))
    (1 to iters).foldLeft(l0)((l, _) => step(l))
  }

  private[operators] val propLabelsMemo = new SessionTableMemo.Single(
    "graft_prop_labels_",
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lbl",
        org.apache.spark.sql.types.LongType))))

  /** Session-shared: the 2-superstep [[labelPropagate]] labels
    * over the SIMILAR graph are ONE community definition with two
    * declared consumers (`graph_label_prop`, `graph_modularity` — the
    * oracle already nests the shared CTE chain), and each re-ran both
    * supersteps per query. The similarEdges/clusterLabels write-once
    * trade applies: labels are node-cardinality × 2 longs, and the
    * deterministic (count desc, min label) tiebreak makes the derivation
    * replayable, so the shared table cannot fork between consumers. The
    * edge persist is released by the memo right after the one-shot write
    * forces the plan. Derived from the shared edge table, so
    * [[SimilarityOps.evictSharedEdges]] drops them too. */
  private[graft] def propLabels(s: SparkSession, dir: String): DataFrame =
    propLabelsMemo.getReleasing(s, dir)(derivePropLabels(s, dir))

  private def derivePropLabels(s: SparkSession, dir: String)
      : (DataFrame, () => Unit) = {
    val tri = SimilarityOps.similarEdges(s, dir)
      .select(col("src"), col("dst"))
    val e = tri.select(explode(array(
      struct(col("src").as("s"), col("dst").as("d")),
      struct(col("dst").as("s"), col("src").as("d")))).as("p"))
      .select(col("p.s").as("s"), col("p.d").as("d"))
      .persist()
    val nodes = Tables.embeddings(s, dir).select(col("vec_id").as("id"))
    // no localCheckpoint: the memo's one-shot parquet write
    // is the only consumer and itself forces the plan — a checkpoint
    // here just duplicated the labels as pinned RDD blocks that outlived
    // the write; e stays cached across the two supersteps and the memo
    // releases it once the write completes
    (labelPropagate(e, nodes, iters = 2), () => { e.unpersist(); () })
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1 — full collection scan (reference: collection.find({}), :31-32)
    "scan_documents" -> ((s, dir) => docs(s, dir).orderBy("doc_id")),

    // A2 — sorted distinct of a facet column (reference :26-27)
    "distinct_sorted" -> ((s, dir) =>
      docs(s, dir).select("lang").distinct().orderBy("lang")),

    // A3 — equality selection on a string facet (reference :138, :141)
    "filter_eq_string" -> ((s, dir) =>
      docs(s, dir).filter(col("lang") === "es").orderBy("doc_id")),

    // A4 — equality on the year-like facet (reference `anio`, :144)
    "filter_eq_numeric" -> ((s, dir) =>
      Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === 1996)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("o_year"))
        .orderBy("o_orderkey")),

    // A5 — full-text search, OR-of-terms (reference $text, :146-148)
    "text_search" -> ((s, dir) =>
      docs(s, dir)
        .filter(arrays_overlap(split(col("text"), " "),
          lit(SearchTerms.toArray)))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    // A5 (full $text semantics) — MongoDB's search string grammar beyond
    // OR-of-terms: a quoted "exact phrase" must appear verbatim, and a
    // -negated term excludes the document. The reference forwards user
    // input straight to $text (streamlit_app.py:146-148), so this is the
    // behavior a search box actually gets: ("spark merge" phrase) OR
    // plain terms, minus -filter docs. All of it evaluates as codegen'd
    // string predicates inside the scan — no index required, and at
    // 100 TB the same expression runs behind the inverted-index
    // candidate fetch the ranked variant models.
    "text_search_phrase" -> ((s, dir) =>
      docs(s, dir)
        .filter(
          (col("text").contains("spark merge") ||
            arrays_overlap(split(col("text"), " "), lit(SearchTerms.toArray))) &&
            !col("text").contains("filter"))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    // A5 (diacritic-folded) — MongoDB's $text index is diacritic-
    // insensitive by default, and the reference forwards raw Spanish user
    // input into it (streamlit_app.py:146-148): "año" must find "ano"-
    // spelled tokens and vice versa. Both the corpus tokens and the query
    // terms pass through the same lowercase+translate fold, so the match
    // is accent-blind by construction. The fold is a codegen'd string
    // expression evaluated inside the scan — projection pruning and the
    // rest of the plan are identical to plain text_search, and at 100 TB
    // the folded token would be what the inverted index ingests.
    "text_search_unaccent" -> ((s, dir) =>
      docs(s, dir)
        .filter(unaccentMatch(col("text"), AccentedTerms))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    // A5 (stemmed) — the last rung of the $text fidelity ladder: Mongo's
    // Spanish text index stems before matching, so the plural query
    // "providencias" finds "providencia". Corpus tokens and query terms
    // both pass the same fold → stem-lite pipeline (see [[stemLite]] for
    // why it's plural-stripping, not snowball). Still one codegen'd
    // expression inside the scan.
    "text_search_stem" -> ((s, dir) =>
      docs(s, dir)
        .filter(stemMatch(col("text"), PluralTerms))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    // A7 under the driver's hash gate: the `buscar` facade itself,
    // dispatching through its texto arm on raw accented user input (the
    // exact shape streamlit_app.py:146-148 forwards to $text) — the
    // user-facing entry point, not just its building blocks, is what this
    // key pins. The facade drops the id column (reference :39), so the
    // declared wrapper totals the order over the four surviving columns
    // (all-ASCII fixture text — binary collation agrees cross-engine).
    "api_buscar_texto" -> ((s, dir) =>
      ProvidenciasApi.buscar(s, dir, texto = Some("spárk mérge"))
        .orderBy("text", "lang", "source", "n_chars")),

    // A9 under the hash gate: the parameterized `similares` facade at the
    // declared query's widget values (docId 0, slider [10, 90]) — must
    // hash-match the same oracle `similar_range` pins.
    "api_similares" -> ((s, dir) =>
      ProvidenciasApi.similares(s, dir, 0L, 10, 90)),

    // A6 — projection dropping the id/_body column (reference :39)
    "project_drop_col" -> ((s, dir) =>
      docs(s, dir).select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")),

    // A8 — list all graph node ids (reference :48-53)
    "graph_node_ids" -> ((s, dir) =>
      Tables.embeddings(s, dir).select(col("vec_id").as("id")).orderBy("id")),

    // Graph extension: degree per node over the derived SIMILAR graph
    // (undirected edges with similitud >= 30). The degree histogram is the
    // first thing a graph UI shows next to the node list (A8).
    // ONE pairwise pass: each triangular edge is exploded into both of its
    // endpoints before the count. (The earlier union-of-two-projections
    // form re-planned the whole O(n²) SelfPairwise subtree per branch —
    // a Union does not share subtrees — doubling the dominant cost.)
    "graph_degree" -> ((s, dir) =>
      SimilarityOps.similarEdges(s, dir)
        .select(explode(array(col("src"), col("dst"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("degree"))
        .orderBy("id")),

    // Graph extension: per-node triangle counts over the SIMILAR graph —
    // the clustering-coefficient numerator, i.e. "how clique-ish is this
    // ruling's neighborhood". src < dst edge orientation makes every
    // triangle appear exactly once as a < b < c, so the count is two
    // self-equi-joins on the (persisted) edge list and a credit explode —
    // the standard distributed triangle enumeration; at scale the same
    // plan shuffle-joins on the edge keys and degree-based orientation
    // keeps the skew bounded.
    "graph_triangles" -> ((s, dir) => {
      val e = SimilarityOps.similarEdges(s, dir)
        .select(col("src"), col("dst"))
        .persist()
      // per-role projections (aliases mint fresh exprIds, so the three
      // self-join sides stay unambiguous)
      val e1 = e.select(col("src").as("a"), col("dst").as("b"))
      val e2 = e.select(col("src").as("b2"), col("dst").as("c"))
      val e3 = e.select(col("src").as("a3"), col("dst").as("c3"))
      val tri = e1.join(e2, col("b") === col("b2"))
        .join(e3, col("a") === col("a3") && col("c") === col("c3"))
        .select(col("a"), col("b"), col("c"))
      tri.select(explode(array(col("a"), col("b"), col("c"))).as("node_id"))
        .groupBy("node_id").agg(count(lit(1)).as("n_tri"))
        .orderBy("node_id")
    }),

    // Graph extension: local clustering coefficient — triangles through a
    // node over its wedge count, 2·tri / (deg·(deg−1)), for nodes with
    // degree ≥ 2. Composes the triangle plan with the degree aggregation
    // over ONE shared persisted edge list; at scale both sides shuffle on
    // node id and the final join is an equi hash join between two
    // already-aggregated (node-cardinality) relations — never touching
    // the quadratic pair space again.
    "graph_cluster_coeff" -> ((s, dir) => {
      val e = SimilarityOps.similarEdges(s, dir)
        .select(col("src"), col("dst"))
        .persist()
      val deg = e.select(explode(array(col("src"), col("dst"))).as("node_id"))
        .groupBy("node_id").agg(count(lit(1)).as("degree"))
      val e1 = e.select(col("src").as("a"), col("dst").as("b"))
      val e2 = e.select(col("src").as("b2"), col("dst").as("c"))
      val e3 = e.select(col("src").as("a3"), col("dst").as("c3"))
      val tri = e1.join(e2, col("b") === col("b2"))
        .join(e3, col("a") === col("a3") && col("c") === col("c3"))
        .select(col("a"), col("b"), col("c"))
      val triPerNode = tri
        .select(explode(array(col("a"), col("b"), col("c"))).as("node_id"))
        .groupBy("node_id").agg(count(lit(1)).as("n_tri"))
      deg.filter(col("degree") >= 2)
        .join(triPerNode, Seq("node_id"), "left")
        .select(col("node_id"), col("degree"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          round(coalesce(col("n_tri"), lit(0L)) * 2.0 /
            (col("degree") * (col("degree") - 1)), 4).as("coeff"))
        .orderBy("node_id")
    }),

    // Graph extension: connected components over the SIMILAR graph —
    // every node labeled with the min vec_id of its component ("which
    // rulings form one similarity island"). Reuses the dedup CC
    // machinery ([[DedupOps.localCC]] union-find when the edge list is
    // single-task-sized, the pointer-jumping relational loop beyond):
    // the edge list here is the thresholded pairwise output, already
    // tiny relative to the corpus, and singletons ride in as self-loops.
    "graph_components" -> ((s, dir) => {
      val nodes = Tables.embeddings(s, dir).select(col("vec_id").as("gid"))
      val edges = SimilarityOps.similarEdges(s, dir)
        .select(explode(array(
          struct(col("src").as("a"), col("dst").as("b")),
          struct(col("dst").as("a"), col("src").as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .union(nodes.select(col("gid").as("a"), col("gid").as("b")))
        .coalesce(8)
        .persist()
      // eager checkpoint before the unpersist — a lazy labels plan
      // executed afterwards would re-run the pairwise scan uncached in
      // localCC's single task (see the dedup_clusters note)
      val labels =
        (if (edges.count() <= DedupOps.LocalCCMaxEdges) DedupOps.localCC(edges)
         else DedupOps.iterativeCC(edges, nodes)).localCheckpoint()
      edges.unpersist()
      labels.select(col("id").as("node_id"), col("lbl").as("component_id"))
        .orderBy("node_id")
    }),

    // Graph extension: 2-iteration label propagation (synchronous LPA,
    // Raghavan et al. 2007) over the SIMILAR graph — community detection,
    // the finer-grained sibling of `graph_components` ("which rulings form
    // one TOPIC cluster", where components only answer "one island").
    // Labels start as own node id; each superstep every node adopts its
    // neighbors' most frequent label (ties → min label, so the update is
    // fully deterministic; isolated nodes keep their own). Each unrolled
    // iteration is |E|-join + (node, label) partial-aggregated groupBy +
    // a per-node argmax window — the same shuffle-per-superstep shape as
    // `graph_pagerank`, label relation stays node-cardinality, so the
    // plan survives any edge count. Iteration count is a plan-construction
    // scalar (fixed 2: synchronous LPA is oscillation-prone, so production
    // runs cap supersteps rather than loop to convergence). r18 opt: the
    // labels derive once per session ([[propLabels]]) and are shared with
    // `graph_modularity` — one community definition, one computation.
    "graph_label_prop" -> ((s, dir) =>
      propLabels(s, dir)
        .select(col("id").as("node_id"), col("lbl").as("community"))
        .orderBy("node_id")),

    // Newman modularity Q of the label-propagation communities (r11) —
    // the score that says whether the detected communities are real
    // structure or noise (Q ≈ 0 = no better than random given the
    // degree sequence; this fixture's threshold graph scores near 0,
    // which IS the diagnostic). Same labels as `graph_label_prop` (one
    // community definition, both keys pinned to it — the oracle nests
    // the shared CTE chain). On the symmetrized edge list E:
    // Q = Σ_c [ w_c/|E| − (d_c/|E|)² ] with w_c = within-community
    // directed edges and d_c = the community's degree mass — both from
    // ONE pass over E with the node→label maps attached via
    // size-conditional broadcasts (labels are node-cardinality). The
    // per-community contributions pre-round at 10dp and fold as exact
    // DECIMAL in a global aggregate — never a window over the
    // community relation, whose cardinality is node-bounded at scale.
    "graph_modularity" -> ((s, dir) => {
      val tri = SimilarityOps.similarEdges(s, dir)
        .select(col("src"), col("dst"))
      val e = tri.select(explode(array(
        struct(col("src").as("s"), col("dst").as("d")),
        struct(col("dst").as("s"), col("src").as("d")))).as("p"))
        .select(col("p.s").as("s"), col("p.d").as("d"))
        .persist()
      val nodes = Tables.embeddings(s, dir).select(col("vec_id").as("id"))
      val nNodes = nodeCountMemo.getOrElseUpdate(s, dir)(nodes.count())
      // session-shared labels (r18 opt) — one labelPropagate run with
      // graph_label_prop instead of re-running both supersteps here
      val labels = propLabels(s, dir)
      val el = e
        .join(Bcast.ifFitsRows(
          labels.select(col("id").as("s"), col("lbl").as("cs")), nNodes, 16), "s")
        .join(Bcast.ifFitsRows(
          labels.select(col("id").as("d"), col("lbl").as("cd")), nNodes, 16), "d")
      val byC = el.groupBy(col("cs").as("community"))
        .agg(count(lit(1)).as("deg_sum"),
          sum(when(col("cs") === col("cd"), 1L).otherwise(0L)).as("w_in"))
      val tot = e.agg(count(lit(1)).as("ne"))
      byC.crossJoin(broadcast(tot))
        .withColumn("contrib", graft.functions.Num.pin(
          col("w_in").cast("double") / col("ne") -
            (col("deg_sum").cast("double") / col("ne")) *
              (col("deg_sum").cast("double") / col("ne")), 10))
        .agg(count(lit(1)).as("n_communities"),
          (max(col("ne")) / 2).cast("long").as("n_edges"),
          graft.functions.Num.pin(
            sum(col("contrib").cast("decimal(28,10)")).cast("double"), 6)
            .as("modularity"))
    }),

    // Graph extension: k-core decomposition by iterative peeling TO THE
    // FIXPOINT — "the dense heart of the similarity network once
    // hangers-on are removed", the standard community-core / spam-filter
    // primitive. Each peel round: degrees over the survivor-induced
    // subgraph of the (persisted, symmetrized) edge list, survivors =
    // deg ≥ k, repeat until the survivor count stops moving (sets only
    // shrink, so an unchanged count IS the fixpoint — one Long per round
    // decides convergence, the dedup_clusters CC discipline). r10: the
    // previous fixed 3-round unroll was measured to stop far short of
    // the fixpoint (a 4th peel dropped 50 of its 63 survivors at
    // sf0.001; the true core there was empty) — a fixed depth
    // masquerades as the k-core without being one. Each round is a
    // degree aggregation + two semi-joins against the node-cardinality
    // survivor set (size-conditionally broadcast; past the budget they
    // become shuffle semi-joins, same plan shape — cf. the pagerank
    // note), and each round's survivor set is localCheckpoint'ed so the
    // loop's logical plan stays flat (the iterativeCC lesson: chained
    // persists snowball the plan tree). Peel count is bounded by the
    // degeneracy ordering depth — a handful in practice (≤ 10 on every
    // fixture SF), capped at 64 like the CC loop's round cap.
    "graph_kcore" -> ((s, dir) => {
      val tri = SimilarityOps.similarEdges(s, dir)
        .select(col("src"), col("dst"))
      val und = tri.select(explode(array(
          struct(col("src").as("s"), col("dst").as("d")),
          struct(col("dst").as("s"), col("src").as("d")))).as("e"))
        .select(col("e.s").as("s"), col("e.d").as("d"))
        .coalesce(8).persist()
      def degrees(ed: DataFrame): DataFrame =
        ed.groupBy("s").agg(count(lit(1)).as("deg"))
      // survivor sets are node-cardinality: size-conditional hint (the
      // node universe count bounds every peel round's keep set)
      val nNodes: Long = nodeCountMemo.getOrElseUpdate(s, dir)(
        Tables.embeddings(s, dir).count())
      def induce(keep: DataFrame): DataFrame =
        und.join(Bcast.ifFitsRows(keep, nNodes, 16), und("s") === keep("id"), "left_semi")
          .join(Bcast.ifFitsRows(keep, nNodes, 16), und("d") === keep("id"), "left_semi")
      var keep = degrees(und).filter(col("deg") >= KCoreK)
        .select(col("s").as("id")).localCheckpoint()
      var n = keep.count()
      var converged = false
      var rounds = 1
      while (!converged && n > 0 && rounds < 64) {
        val next = degrees(induce(keep)).filter(col("deg") >= KCoreK)
          .select(col("s").as("id")).localCheckpoint()
        val m = next.count()
        converged = m == n
        n = m; keep = next; rounds += 1
      }
      // at convergence the deg >= k filter is a no-op (same count ⇒ same
      // set ⇒ all induced degrees already >= k); it is load-bearing only
      // on a 64-round cap exit, where it keeps the output and the
      // oracle's HAVING clause identical
      degrees(induce(keep)).filter(col("deg") >= KCoreK)
        .select(col("s").as("node_id"), col("deg").as("core_degree"))
        .orderBy("node_id")
    }),

    // Graph extension: 3-iteration PageRank (d = 0.85, dangling mass
    // redistributed uniformly) over the SIMILAR graph — "which rulings are
    // central in the similarity network". Iterations are unrolled into one
    // declarative plan: each is a hash-join of the (persisted, small) edge
    // list against the previous rank vector + a groupBy on the destination
    // — exactly the shuffle-per-superstep shape Pregel-style systems use,
    // so the plan scales to any edge count. N and the iteration count are
    // plan-construction scalars, not per-row driver work.
    "graph_pagerank" -> ((s, dir) => {
      val nodes = Tables.embeddings(s, dir).select(col("vec_id").as("id"))
      val n = nodeCountMemo.getOrElseUpdate(s, dir)(nodes.count()).toDouble
      val tri = SimilarityOps.similarEdges(s, dir)
        .select(col("src"), col("dst"))
      val und = tri.select(explode(array(
          struct(col("src").as("s"), col("dst").as("d")),
          struct(col("dst").as("s"), col("src").as("d")))).as("e"))
        .select(col("e.s").as("s"), col("e.d").as("d"))
      val outdeg = und.groupBy("s").agg(count(lit(1)).cast("double").as("od"))
      // persisted: re-deriving the edge list would re-run the O(n²)
      // pairwise scan once per iteration term that references it; the
      // coalesce keeps each iteration's joins at a handful of tasks (the
      // contracted edge list is small next to the corpus — at a scale
      // where it isn't, drop it and these become ordinary shuffle joins)
      val edges = und.join(outdeg, "s").coalesce(8).persist()
      val ranks0 = nodes.withColumn("rank", lit(1.0 / n))
      // the rank table is |nodes| rows of (id, rank) — broadcast it into
      // the edge join each iteration so the persisted edge list is never
      // reshuffled (the standard small-messages PageRank layout). The
      // hints are size-conditional on the node count: at broadcast-
      // busting cardinality every term degrades to a shuffle join
      val ranksN = (1 to 3).foldLeft(ranks0) { (r, _) =>
        val contrib = edges.join(Bcast.ifFitsRows(r, n.toLong, 24),
            edges("s") === r("id"))
          .groupBy(edges("d")).agg(sum(col("rank") / col("od")).as("c"))
          .withColumnRenamed("d", "cid")
        val dang = r.join(
            Bcast.ifFitsRows(edges.select(col("s").as("id")).distinct(), n.toLong, 16),
            Seq("id"), "left_anti")
          .agg(coalesce(sum(col("rank")), lit(0.0)).as("dm"))
        nodes.join(Bcast.ifFitsRows(contrib, n.toLong, 24),
            nodes("id") === contrib("cid"), "left")
          .crossJoin(dang)
          .select(nodes("id"),
            (lit(0.15 / n) + lit(0.85) *
              (coalesce(col("c"), lit(0.0)) + col("dm") / lit(n))).as("rank"))
      }
      ranksN.select(col("id"), round(col("rank"), 6).as("pagerank"))
        .orderBy("id")
    }),

    // Graph extension: eigenvector centrality by 3 INTEGER-EXACT power-
    // iteration steps over the SIMILAR graph — the "important because
    // your neighbors are important" ranking read next to pagerank's
    // random surfer (no damping, no dangling mass: pure A·r). The
    // graph_hits exactness trick applied to the undirected adjacency:
    // r0 = 1 ⇒ r1(v) = deg(v), r2(v) = Σ_{u~v} deg(u), r3(v) = Σ_{u~v}
    // r2(u) — every score an exact BIGINT fold, so there is no per-step
    // normalization drift cross-engine (the conventional unit-norm only
    // rescales the ranking; the reported share normalizes ONCE at the
    // end). Shapes: each superstep is one shuffle join of the shared
    // edge list against the previous node-cardinality score vector
    // (size-conditionally broadcast — nodes can be billions) plus a
    // destination groupBy — the pagerank superstep; isolated nodes ride
    // in with score 0 via the final left join against the full id list.
    "graph_eigenvector" -> ((s, dir) => {
      val nodes = Tables.embeddings(s, dir).select(col("vec_id").as("id"))
      val nNodes: Long = nodeCountMemo.getOrElseUpdate(s, dir)(nodes.count())
      val e = SimilarityOps.similarEdges(s, dir).select(col("src"), col("dst"))
      val und = e.select(explode(array(
          struct(col("src").as("s"), col("dst").as("d")),
          struct(col("dst").as("s"), col("src").as("d")))).as("p"))
        .select(col("p.s").as("s"), col("p.d").as("d"))
        .persist()
      val r1 = und.groupBy(col("d").as("id")).agg(count(lit(1)).as("r"))
      def step(r: DataFrame): DataFrame =
        und.join(Bcast.ifFitsRows(
            r.select(col("id").as("s"), col("r").as("pr")), nNodes, 24), "s")
          .groupBy(col("d").as("id")).agg(sum(col("pr")).as("r"))
      val r3 = step(step(r1))
      val tot = r3.agg(sum(col("r")).as("tot"))
      nodes.join(r3, Seq("id"), "left")
        .select(col("id").as("node_id"), coalesce(col("r"), lit(0L)).as("score"))
        .crossJoin(broadcast(tot))
        .select(col("node_id"), col("score"),
          Num.pin(col("score").cast("double") / col("tot"), 6).as("share"))
        .orderBy("node_id")
    }),

    // Graph extension: k-truss decomposition (k = TrussK) by iterative edge
    // peeling to the fixpoint — the EDGE-cohesion core next to
    // graph_kcore's vertex degrees: every surviving edge must sit in
    // ≥ k−2 triangles OF THE TRUSS, the community-core definition that
    // survives hub-spokes k-core keeps (a star has high degrees but
    // zero triangles). Each peel round: per-edge triangle support via
    // the common-neighbor equi-join (edge list joined twice against its
    // symmetrized adjacency on the middle node — never all-pairs),
    // filter support < k−2, repeat until the edge count stops moving
    // (filters only remove, so an unchanged count IS the fixpoint — the
    // graph_kcore one-Long discipline, localCheckpoint per round),
    // capped at TrussMaxRounds to stay aligned with the generated
    // oracle unroll. Output: surviving edges with their in-truss
    // support. At scale each round is shuffle joins on node keys over
    // the (shrinking) edge relation.
    "graph_ktruss" -> ((s, dir) => {
      // r19 opt (guide §2.4/§3.1): the adjacency sides of the two
      // common-neighbor joins ride size-conditional broadcasts — the
      // loop already tracks the live edge count for convergence, so the
      // hint costs no extra job, and a checkpointed frame has no stats
      // (without the hint the planner defaults both joins to SMJ: two
      // shuffles + sorts of the edge relation PER ROUND). Past the
      // broadcast budget the rounds degrade to shuffle joins — the
      // graph_eigenvector/label-prop discipline; the per-round groupBy
      // exchange over triangle occurrences remains either way.
      def support(e: DataFrame, nEdges: Long): DataFrame = {
        val und = e.select(explode(array(
            struct(col("src").as("s"), col("dst").as("d")),
            struct(col("dst").as("s"), col("src").as("d")))).as("p"))
          .select(col("p.s").as("s"), col("p.d").as("d"))
        e.join(Bcast.ifFitsRows(
            und.select(col("s").as("src"), col("d").as("m")), 2 * nEdges, 16), "src")
          .join(Bcast.ifFitsRows(
            und.select(col("s").as("dst"), col("d").as("m")), 2 * nEdges, 16),
            Seq("dst", "m"))
          .groupBy("src", "dst").agg(count(lit(1)).as("support"))
      }
      var e = SimilarityOps.similarEdges(s, dir)
        .select(col("src"), col("dst")).localCheckpoint()
      var n = e.count()
      var rounds = 0
      var converged = false
      // the checkpoint keeps the support column (r19): on a converged
      // exit next's edge set EQUALS e's, so support(next) == support(e)
      // — the values the round just computed — and the final
      // recomputation (two joins + a groupBy) is skipped outright
      var last: DataFrame = null
      while (!converged && rounds < TrussMaxRounds && n > 0) {
        val next = support(e, n).filter(col("support") >= TrussK - 2)
          .localCheckpoint()
        val m = next.count()
        converged = m == n
        n = m; e = next.select(col("src"), col("dst")); rounds += 1
        last = next
      }
      // at the fixpoint the final support-filter is an identity (same
      // set ⇒ every support already ≥ k−2), so the converged round's own
      // support values ARE the in-truss supports; the recomputation is
      // load-bearing only on a cap (or empty) exit, where it keeps
      // output and oracle HAVING identical
      val out =
        if (converged && last != null) last
        else support(e, n).filter(col("support") >= TrussK - 2)
      out.select(col("src"), col("dst"), col("support"))
        .orderBy("src", "dst")
    }),

    // Graph extension: sampled bounded-depth betweenness (stress form,
    // Brandes machinery) — "which rulings BRIDGE similarity clusters",
    // the centrality degree/eigenvector/pagerank cannot see (a bridge
    // node has low degree but carries every cross-cluster shortest
    // path). Brandes' algorithm verbatim, with the two approximations
    // every at-scale deployment makes (Brandes & Pich 2007): BFS from
    // BetwPivots deterministically md5-picked source pivots only, depth
    // capped at BetwDepth. INTEGER-EXACT throughout — the reported
    // statistic is the STRESS form (number of shortest source→target
    // paths THROUGH the node, σ(v)·g(v) with g(v) = Σ_succ (1 + g(w))
    // over the shortest-path DAG) rather than the fractional δ
    // accumulation, so every score is an exact BIGINT fold with no
    // cross-engine double drift; the share normalizes ONCE at the end
    // (the graph_eigenvector/hits discipline). Shapes: each BFS level is
    // one shuffle join of the (pivots × frontier) relation against the
    // shared edge list + an anti-join against the visited set + a
    // destination groupBy (σ sums over predecessors); each backward
    // level is the same join shape downward over the DAG. Frontier /
    // dependency relations are ≤ pivots × nodes and ride
    // size-conditional broadcasts; every level localCheckpoints (the
    // graph_kcore discipline) so the unrolled plan never snowballs.
    // Depth-exhausted levels are empty and every later round is a no-op
    // on BOTH engines, so the fixed unroll replays early exhaustion
    // exactly.
    "graph_betweenness" -> ((s, dir) => {
      val nodes = Tables.embeddings(s, dir).select(col("vec_id").as("id"))
      val (und, nNodes, levels) = pivotBfs(s, dir)
      // backward dependency accumulation over the shortest-path DAG:
      // g(v at depth k) = Σ over DAG successors w at depth k+1 of
      // (1 + g(w)); pivots (depth 0) never contribute — betweenness
      // excludes its endpoints
      var g: DataFrame = null
      var contrib: DataFrame = null
      for (k <- (BetwDepth - 1) to 1 by -1) {
        val vk = Bcast.ifFitsRows(
          levels(k).select(col("p").as("vp"), col("id").as("vid"),
            col("sigma")),
          nNodes * BetwPivots.toLong, 24)
        val wk = levels(k + 1).select(col("p").as("wp"), col("id").as("wid"))
        val succ = und.join(vk, und("s") === col("vid"))
          .join(Bcast.ifFitsRows(wk, nNodes * BetwPivots.toLong, 16),
            col("vp") === col("wp") && und("d") === col("wid"))
          .select(col("vp").as("p"), col("vid").as("id"),
            col("sigma"), col("wid"))
        val withG =
          if (g == null) succ.withColumn("gw", lit(0L))
          else succ.join(
              Bcast.ifFitsRows(
                g.select(col("p").as("gp"), col("id").as("gid"), col("g")),
                nNodes * BetwPivots.toLong, 16),
              succ("p") === col("gp") && succ("wid") === col("gid"), "left")
            .select(succ("p"), succ("id"), succ("sigma"),
              coalesce(col("g"), lit(0L)).as("gw"))
        val gk = withG.groupBy(col("p"), col("id"), col("sigma"))
          .agg(sum(col("gw") + lit(1L)).as("g"))
          .localCheckpoint()
        val c = gk.select(col("id"), (col("sigma") * col("g")).as("pt"))
        contrib = if (contrib == null) c else contrib.unionByName(c)
        g = gk.select(col("p"), col("id"), col("g"))
      }
      val paths = contrib.groupBy("id")
        .agg(sum(col("pt")).as("paths_through"))
      val tot = paths.agg(
        coalesce(sum(col("paths_through")), lit(0L)).as("tot"))
      nodes.join(Bcast.ifFitsRows(paths, nNodes, 24), Seq("id"), "left")
        .crossJoin(broadcast(tot))
        .select(col("id").as("node_id"),
          coalesce(col("paths_through"), lit(0L)).as("paths_through"),
          when(col("tot") > 0,
            Num.pin(coalesce(col("paths_through"), lit(0L)).cast("double") /
              col("tot"), 6))
            .otherwise(lit(0.0)).as("share"))
        .orderBy("node_id")
    }),

    // Graph extension: sampled bounded-depth closeness + harmonic
    // centrality off the SAME pivot BFS graph_betweenness runs — "which
    // rulings sit CLOSE to everything", the inverse-distance companion
    // to betweenness' bridge detection (a hub is close, a bridge is
    // between; the two disagree exactly where the graph has structure).
    // Per node: how many of the BetwPivots sources reach it within
    // BetwDepth hops, the sum of those shortest distances, closeness =
    // reached/dist_sum, and the harmonic sum Σ 1/dist — the form defined
    // on disconnected graphs (Boldi & Vigna 2014), which matters here
    // because pivots routinely can't reach everything. INTEGER-EXACT:
    // reached/dist_sum fold as BIGINTs, each level's 1/dist term is the
    // literal lcm(1..BetwDepth)/k integer (no double accumulates across
    // rows), and the two reported ratios divide ONCE at the end from
    // exact integers (the eigenvector discipline). Scale: the BFS is the
    // shared machinery (see pivotBfs); the per-level relations union to
    // ≤ pivots × nodes rows and collapse in one groupBy.
    "graph_closeness" -> ((s, dir) => {
      val nodes = Tables.embeddings(s, dir).select(col("vec_id").as("id"))
      val (_, nNodes, levels) = pivotBfs(s, dir)
      val reachedAt = (1 to BetwDepth).map { k =>
        levels(k).select(col("id"), lit(k).as("dist"),
          lit(BetwHarmonicLcm / k).as("h"))
      }.reduce(_ unionByName _)
      val per = reachedAt.groupBy("id")
        .agg(count(lit(1)).as("reached"),
          sum(col("dist").cast("long")).as("dist_sum"),
          sum(col("h").cast("long")).as("h_num"))
      nodes.join(Bcast.ifFitsRows(per, nNodes, 32), Seq("id"), "left")
        .select(col("id").as("node_id"),
          coalesce(col("reached"), lit(0L)).as("reached"),
          coalesce(col("dist_sum"), lit(0L)).as("dist_sum"),
          when(coalesce(col("dist_sum"), lit(0L)) > 0,
            Num.pin(col("reached").cast("double") / col("dist_sum"), 6))
            .otherwise(lit(0.0)).as("closeness"),
          Num.pin(coalesce(col("h_num"), lit(0L)).cast("double") /
            lit(BetwHarmonicLcm.toDouble), 6).as("harmonic"))
        .orderBy("node_id")
    }),

    // Graph extension: link prediction by neighbor-set Jaccard — node
    // pairs that share neighbors, scored |N(a)∩N(b)| / |N(a)∪N(b)|; the
    // classic "these two rulings cite the same cluster" signal. Common
    // neighbors come from one self-equi-join of the (persisted) edge list
    // on the middle node — never an all-pairs comparison; degrees ride in
    // on two broadcast joins of the |nodes|-sized degree table.
    "graph_jaccard_neighbors" -> ((s, dir) => {
      val tri = SimilarityOps.similarEdges(s, dir)
        .select(col("src"), col("dst"))
      val und = tri.select(explode(array(
          struct(col("src").as("s"), col("dst").as("d")),
          struct(col("dst").as("s"), col("src").as("d")))).as("e"))
        .select(col("e.s").as("s"), col("e.d").as("d"))
        .persist()
      val nNodes: Long = nodeCountMemo.getOrElseUpdate(s, dir)(
        Tables.embeddings(s, dir).count())
      val deg = und.groupBy(col("s").as("n")).agg(count(lit(1)).as("deg"))
      val common = und.select(col("s").as("a"), col("d").as("m"))
        .join(und.select(col("s").as("m"), col("d").as("b")), "m")
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("inter"))
      common
        .join(Bcast.ifFitsRows(
          deg.select(col("n").as("a"), col("deg").as("deg_a")), nNodes, 24), "a")
        .join(Bcast.ifFitsRows(
          deg.select(col("n").as("b"), col("deg").as("deg_b")), nNodes, 24), "b")
        .select(col("a"), col("b"),
          round(col("inter") / (col("deg_a") + col("deg_b") - col("inter")), 4)
            .as("jacc"))
        .filter(col("jacc") >= 0.3)
        .orderBy(col("jacc").desc, col("a"), col("b"))
    }),

    // Graph extension: Adamic-Adar link prediction — the degree-weighted
    // common-neighbor score Σ_z 1/ln(deg z) that outperforms raw counts
    // by discounting promiscuous hubs. Same middle-node self-join shape
    // as `graph_jaccard_neighbors` (never all-pairs), but the score
    // aggregates over the MIDDLE node: its 1/ln(deg) weight joins in
    // BEFORE the pair groupBy (a node-cardinality broadcast), pre-rounded
    // at 10dp so the DECIMAL fold over each pair's common neighbors is
    // order-independent — the text_entropy ln-parity discipline.
    "graph_adamic_adar" -> ((s, dir) => {
      val tri = SimilarityOps.similarEdges(s, dir)
        .select(col("src"), col("dst"))
      val und = tri.select(explode(array(
          struct(col("src").as("s"), col("dst").as("d")),
          struct(col("dst").as("s"), col("src").as("d")))).as("e"))
        .select(col("e.s").as("s"), col("e.d").as("d"))
        .persist()
      val w = und.groupBy(col("s").as("m")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 2)
        .select(col("m"),
          round(lit(1.0) / log(col("deg")), 10).as("w"))
      und.select(col("s").as("a"), col("d").as("m"))
        .join(und.select(col("s").as("m"), col("d").as("b")), "m")
        .filter(col("a") < col("b"))
        .join(Bcast.ifFitsRows(w,
          nodeCountMemo.getOrElseUpdate(s, dir)(
            Tables.embeddings(s, dir).count()), 24), "m")
        .groupBy("a", "b")
        .agg(count(lit(1)).as("n_common"),
          sum(col("w").cast("decimal(28,10)")).cast("double").as("aa_raw"))
        .select(col("a"), col("b"), col("n_common"),
          round(col("aa_raw"), 6).as("adamic_adar"))
        .filter(col("n_common") >= 3)
        .orderBy(col("adamic_adar").desc, col("a"), col("b"))
    }),

    // Graph extension: 2-hop neighborhood of node 0 (min hop count per
    // node) — the reference's 1-hop expansion (A9) taken one step further.
    // No O(n²) pairwise at all: hop 1 is a single-probe scan (O(n), the
    // similar_range shape) and hop 2 is a rectangular broadcast join of
    // the (tiny) hop-1 frontier against the table (O(|n1|·n)) — the plan a
    // BFS step should have at any scale: frontier broadcast, table scanned
    // once per hop, never all-pairs.
    "graph_2hop" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      // persisted: the hop-1 frontier feeds n1, the hop-2 broadcast, AND
      // the anti-join — without the cache the probe scan runs three times
      val frontier = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
        .filter(Vectors.similitud(col("embedding"), col("qv")) >=
          SimilarityOps.EdgeThreshold)
        .select(col("vec_id").as("mid"), col("embedding").as("memb"))
        .persist()
      val n1 = frontier.select(col("mid").as("node_id"))
      val n2 = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(frontier))
        .filter(col("vec_id") =!= col("mid") &&
          Vectors.similitud(col("embedding"), col("memb")) >=
            SimilarityOps.EdgeThreshold)
        .select(col("vec_id").as("node_id")).distinct()
        .join(n1, Seq("node_id"), "left_anti")
      n1.select(col("node_id"), lit(1).as("hops"))
        .union(n2.select(col("node_id"), lit(2).as("hops")))
        .orderBy("hops", "node_id")
    }),

    // Graph extension: degree assortativity — Newman's r, the Pearson
    // correlation between the degrees at the two ends of every edge
    // ("do hubs link to hubs?"), the one-number mixing diagnostic next
    // to the degree histogram. Each undirected edge contributes both
    // orientations so r is symmetric by construction. Shapes: ONE
    // pairwise pass builds the edge list (persisted — it feeds the
    // degree aggregate AND the stub explode), degrees are a
    // node-cardinality aggregate joined back onto the directed stubs by
    // node id (shuffle joins on the node key at scale; degrees are NOT
    // broadcast unconditionally — n nodes can be billions), and the
    // closed-form corr folds integer degree products as exact DECIMAL,
    // so the single-row result is bit-identical cross-engine.
    "graph_assortativity" -> ((s, dir) => {
      val e = SimilarityOps.similarEdges(s, dir)
        .select(col("src"), col("dst"))
        .persist()
      val deg = e.select(explode(array(col("src"), col("dst"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("degree"))
      val directed = e.select(col("src").as("a"), col("dst").as("b"))
        .union(e.select(col("dst").as("a"), col("src").as("b")))
      def dsum(c: Column) = sum(c.cast("decimal(28,10)")).cast("double")
      directed
        .join(deg.select(col("id").as("a"), col("degree").as("da")), "a")
        .join(deg.select(col("id").as("b"), col("degree").as("db")), "b")
        .agg(count(lit(1)).cast("double").as("m"),
          dsum(col("da")).as("sa"), dsum(col("db")).as("sb"),
          dsum(col("da") * col("db")).as("sab"),
          dsum(col("da") * col("da")).as("saa"),
          dsum(col("db") * col("db")).as("sbb"))
        .select((col("m") / 2).cast("long").as("n_edges"),
          round((col("m") * col("sab") - col("sa") * col("sb")) /
            sqrt((col("m") * col("saa") - col("sa") * col("sa")) *
              (col("m") * col("sbb") - col("sb") * col("sb"))), 6)
            .as("assortativity"))
    }),

    // Graph extension: average-nearest-neighbor-degree curve knn(k)
    // (Pastor-Satorras et al. 2001) — `graph_assortativity`'s DIAGRAM:
    // the single r coefficient says whether hubs prefer hubs, knn(k)
    // shows WHERE the mixing bends. Degrees are a node-cardinality
    // aggregate shuffle-joined onto the directed stubs (never an
    // unconditional broadcast — nodes can be billions), then one
    // partial-agg shuffle into the ≤|distinct degrees|-bounded curve;
    // the neighbor-degree sums fold as exact integers.
    "graph_knn_degree" -> ((s, dir) => {
      val e = SimilarityOps.similarEdges(s, dir)
        .select(col("src"), col("dst"))
        .persist()
      val deg = e.select(explode(array(col("src"), col("dst"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("degree"))
      val directed = e.select(col("src").as("a"), col("dst").as("b"))
        .union(e.select(col("dst").as("a"), col("src").as("b")))
      directed
        .join(deg.select(col("id").as("a"), col("degree").as("da")), "a")
        .join(deg.select(col("id").as("b"), col("degree").as("db")), "b")
        .groupBy(col("da").as("degree"))
        .agg(count(lit(1)).as("n_stubs"), sum(col("db")).as("sdb"))
        .select(col("degree"),
          expr("n_stubs DIV degree").as("n_nodes"),
          round(col("sdb").cast("double") / col("n_stubs"), 6)
            .as("avg_neighbor_degree"))
        .orderBy("degree")
    }),

    // Graph extension: the one-row global graph datasheet — node/edge
    // counts, density, mean/max degree, and Freeman degree
    // centralization C_D = Σ(d_max − d_i) / ((n−1)(n−2)) (0 = regular,
    // 1 = star: "is this similarity graph hub-dominated?"), the summary
    // card printed above every per-node graph table. One aggregate over
    // the node-cardinality degree relation; isolated vectors count as
    // nodes via the full id list (degree 0), so density and
    // centralization are over the TRUE vertex set, not just touched
    // nodes. All ratios divide exact integers in a pinned order.
    "graph_summary" -> ((s, dir) => {
      val e = SimilarityOps.similarEdges(s, dir)
        .select(col("src"), col("dst"))
      // persisted: both the totals aggregate and the centralization pass
      // consume it — without the pin the O(n²) pairwise subtree runs twice
      val deg = Tables.embeddings(s, dir).select(col("vec_id").as("id"))
        .join(e.select(explode(array(col("src"), col("dst"))).as("id"))
          .groupBy("id").agg(count(lit(1)).as("d")), Seq("id"), "left")
        .select(col("id"), coalesce(col("d"), lit(0L)).as("d"))
        .persist()
      deg.agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("stubs"),
          max(col("d")).as("max_degree"))
        .select(col("n_nodes"), expr("stubs DIV 2").as("n_edges"),
          col("max_degree"),
          Num.pin(col("stubs").cast("double") / col("n_nodes"), 6)
            .as("avg_degree"),
          Num.pin(col("stubs").cast("double") /
            (col("n_nodes") * (col("n_nodes") - lit(1L))), 6).as("density"))
        .crossJoin(broadcast(deg.crossJoin(broadcast(
            deg.agg(max(col("d")).as("dm"))))
          .agg(sum(col("dm") - col("d")).as("cd_num"),
            count(lit(1)).as("nn"))
          .select(Num.pin(col("cd_num").cast("double") /
            ((col("nn") - lit(1L)) * (col("nn") - lit(2L))), 6)
            .as("degree_centralization"))))
    }),

    // Graph extension: rich-club coefficient φ(k) = 2·E_k / (N_k·(N_k−1))
    // for k = 1..8 — "do the high-degree rulings preferentially connect
    // to each other?", the hub-interconnection diagnostic read next to
    // assortativity and the spam/citation-cartel screen on document
    // graphs. Both inputs collapse to BOUNDED histograms first (edge
    // min-endpoint-degree counts and the node degree distribution — one
    // partial-agg scan each); the 8-row k spine then joins those
    // histograms, so no k ever rescans edges and the suffix counts are
    // exact integer folds over degree-domain-sized relations.
    "graph_rich_club" -> ((s, dir) => {
      val e = SimilarityOps.similarEdges(s, dir)
        .select(col("src"), col("dst"))
        .persist()
      val deg = e.select(explode(array(col("src"), col("dst"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("degree"))
      val ed = e
        .join(deg.select(col("id").as("src"), col("degree").as("ds")), "src")
        .join(deg.select(col("id").as("dst"), col("degree").as("dd")), "dst")
        .groupBy(least(col("ds"), col("dd")).as("m")).agg(count(lit(1)).as("ec"))
      val nd = deg.groupBy("degree").agg(count(lit(1)).as("nc"))
      val ks = Seq.range(1, 9).map(k => lit(k.toLong))
      val spine = s.range(1).select(explode(array(ks: _*)).as("k"))
      val nk = spine.join(nd, col("degree") > col("k"), "left")
        .groupBy("k").agg(sum(coalesce(col("nc"), lit(0L))).as("n_nodes"))
      val ek = spine.join(ed, col("m") > col("k"), "left")
        .groupBy("k").agg(sum(coalesce(col("ec"), lit(0L))).as("n_edges"))
      nk.join(ek, "k")
        .select(col("k"), col("n_nodes"), col("n_edges"),
          when(col("n_nodes") >= 2, Num.pin(
            lit(2.0) * col("n_edges") /
              (col("n_nodes") * (col("n_nodes") - lit(1L))), 6))
            .as("phi"))
        .orderBy("k")
    }),

    // Graph extension: bipartite projection — the user↔event-type
    // bipartite graph projected onto event types, edge weight = number
    // of users engaging both types (the co-occurrence/market-basket graph;
    // same shape as item-item collaborative filtering). The raw stream
    // first collapses to DISTINCT (user, type) — one partial-aggregated
    // shuffle bounded by users × |types| — and the projection self-joins
    // on user_id, where each user contributes |types(u)|² pairs, bounded
    // by the type vocabulary squared, not by event volume. At scale the
    // identical plan holds; a power-law entity (one user touching
    // everything) caps at |types|² pairs, so no skew blow-up.
    "graph_bipartite_proj" -> ((s, dir) => {
      val ut = Tables.events(s, dir)
        .select(col("user_id"), col("event_type")).distinct()
      val a = ut.select(col("user_id"), col("event_type").as("t1"))
      val b = ut.select(col("user_id"), col("event_type").as("t2"))
      a.join(b, "user_id").filter(col("t1") < col("t2"))
        .groupBy("t1", "t2").agg(count(lit(1)).as("n_shared_users"))
        .orderBy("t1", "t2")
    }),

    // Graph extension: component-size histogram + fragmentation summary
    // off the SAME union-find/pointer-jump labels `graph_components`
    // verifies — "is this one giant near-dup blob or many small ones?",
    // the first question asked of any dedup/similarity graph. Two
    // aggregations past the labels: component cardinalities, then a
    // histogram over the (bounded) distinct-size relation; the pct
    // window runs over that histogram, never the node set — the
    // `pipe_dedup_report` shape applied to graph labels.
    "graph_component_sizes" -> ((s, dir) => {
      val tot = Window.partitionBy()
      queries("graph_components")(s, dir)
        .groupBy("component_id").agg(count(lit(1)).as("csize"))
        .groupBy("csize").agg(count(lit(1)).as("n_components"))
        .withColumn("n_nodes", col("csize") * col("n_components"))
        .withColumn("pct_of_nodes",
          round(col("n_nodes") / sum(col("n_nodes")).over(tot), 6))
        .select("csize", "n_components", "n_nodes", "pct_of_nodes")
        .orderBy("csize")
    }),

    // Graph extension: HITS hubs/authorities (Kleinberg) over the
    // directed user→event-type engagement graph, 2 iterations unrolled
    // declaratively — the "which entities are endorsed by the best
    // hubs?" ranking. Integer-exact by construction: h₀ = 1 ⇒ a₁(t) =
    // in-degree(t); h₁(u) = Σ a₁ over u's types; a₂(t) = Σ h₁ over t's
    // users — every score an exact BIGINT sum, so no normalization drift
    // cross-engine (the conventional L2 norm only rescales the ranking;
    // the share column reports the normalized view from the bounded
    // authority relation). Scale shape: DISTINCT (user, type) is the one
    // corpus-scale shuffle; a₁ is a |types|-row broadcast; the h₁ pass
    // is a user-keyed shuffle join (users can be billions — never
    // broadcast); the final authority aggregate is |types|-sized.
    "graph_hits" -> ((s, dir) => {
      // r19 opt (guide §2.4): the deduped (user, type) relation was
      // re-exchanged TWICE downstream — h₁'s user groupBy and the final
      // user join each re-shuffled it. One user_id re-layout right after
      // the distinct (over the already-deduped slim relation, so the
      // corpus-scale distinct keeps its map-side combine) makes
      // hashpartitioning(user_id) the relation's visible layout; h₁'s
      // groupBy and the a₂ join then satisfy their distributions in
      // place and plan no exchange. NO persist: a cached relation under
      // AQE reports unknown partitioning (the persisted variant was
      // measured — it re-added the downstream exchanges and moved
      // nothing), while the live exchange propagates its partitioning
      // AND is deduped across the three consumers by AQE stage reuse —
      // the dedup_near precedent. |types|-keyed aggregations stay tiny
      // either way.
      val ut = Tables.events(s, dir)
        .select(col("user_id"), col("event_type")).distinct()
        .repartition(col("user_id"))
      val a1 = ut.groupBy("event_type").agg(count(lit(1)).as("a1"))
      val h1 = ut.join(broadcast(a1), "event_type")
        .groupBy("user_id").agg(sum(col("a1")).as("h1"))
      val tot = Window.partitionBy()
      ut.join(h1, "user_id")
        .groupBy("event_type").agg(sum(col("h1")).as("a2"))
        .join(broadcast(a1), "event_type")
        .withColumn("share",
          round(col("a2").cast("double") / sum(col("a2")).over(tot), 6))
        .select("event_type", "a1", "a2", "share")
        .orderBy("event_type")
    }),

    // Graph extension: global transitivity (the whole-graph clustering
    // summary next to the per-node `graph_cluster_coeff`): C = 3·△ / ∧,
    // wedges from the degree aggregate in closed form (d·(d−1)/2 —
    // node-cardinality, integer-exact), triangles from the same oriented
    // two-join plan `graph_triangles` pins. One edge list persisted and
    // shared by both sides; the final relation is a single row of exact
    // BIGINTs plus one exactly-rounded division.
    "graph_transitivity" -> ((s, dir) => {
      val e = SimilarityOps.similarEdges(s, dir)
        .select(col("src"), col("dst"))
        .persist()
      val stats = e.select(col("src").as("id"))
        .unionAll(e.select(col("dst").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(expr("(d * (d - 1)) DIV 2")).as("n_wedges"))
      val e1 = e.select(col("src").as("a"), col("dst").as("b"))
      val e2 = e.select(col("src").as("b2"), col("dst").as("c"))
      val e3 = e.select(col("src").as("a3"), col("dst").as("c3"))
      val tri = e1.join(e2, col("b") === col("b2"))
        .join(e3, col("a") === col("a3") && col("c") === col("c3"))
        .agg(count(lit(1)).as("n_triangles"))
      val edges = e.agg(count(lit(1)).as("n_edges"))
      stats.crossJoin(tri).crossJoin(edges)
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
            .as("transitivity"))
    }),

    // A9 — directed 1-hop SIMILAR neighborhood of node 0 with similitud in
    // [10, 90] (reference :55-71). The edge is DERIVED: one broadcastable
    // probe row joined against the embeddings table — no O(n^2) blow-up,
    // scales to any table size because the probe side is a single row.
    "similar_range" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val probe = e.filter(col("vec_id") === 0)
        .select(col("vec_id").as("origen"), col("embedding").as("qv"))
      val others = e.filter(col("vec_id") =!= 0)
        .select(col("vec_id").as("destino"), col("embedding"))
      others.crossJoin(broadcast(probe))
        .withColumn("similitud", Vectors.similitud(col("qv"), col("embedding")))
        .filter(col("similitud").between(10, 90))
        .select("origen", "destino", "similitud")
        .orderBy("destino")
    })
  )

  /** graph_components' oracle (recursive-CTE closure), shared verbatim
    * as `graph_component_sizes`' labels CTE. */
  private val ComponentsSql: String =
    """WITH RECURSIVE tri AS MATERIALIZED (
           SELECT * FROM (
             SELECT a.vec_id AS src, b.vec_id AS dst,
                    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                 CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
             FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
           ) WHERE similitud >= 30.0
         ), e AS MATERIALIZED (
           SELECT src AS a, dst AS b FROM tri
           UNION ALL SELECT dst, src FROM tri
         ), reach(id, r) AS (
           SELECT vec_id, vec_id FROM embeddings
           UNION
           SELECT e.a, reach.r FROM reach JOIN e ON e.b = reach.id
         )
         SELECT id AS node_id, min(r) AS component_id
         FROM reach GROUP BY id ORDER BY node_id"""

  /** The 2-superstep sync-LPA label chain as DuckDB CTEs, factored out so
    * `graph_modularity` nests the SAME community definition
    * `graph_label_prop` publishes (the ann_hybrid_rerank pattern). */
  private val LabelPropCtes: String =
    """tri AS MATERIALIZED (
           SELECT * FROM (
             SELECT a.vec_id AS src, b.vec_id AS dst,
                    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                 CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
             FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
           ) WHERE similitud >= 30.0
         ), e AS MATERIALIZED (
           SELECT src AS s, dst AS d FROM tri UNION ALL SELECT dst, src FROM tri
         ), l0 AS (
           SELECT vec_id AS id, vec_id AS lbl FROM embeddings
         ), p1 AS (
           SELECT s AS id, lbl AS newlbl FROM (
             SELECT e.s, l.lbl, count(*) AS c
             FROM e JOIN l0 l ON e.d = l.id GROUP BY e.s, l.lbl
           ) QUALIFY row_number() OVER (PARTITION BY s ORDER BY c DESC, lbl) = 1
         ), l1 AS (
           SELECT l0.id, coalesce(p1.newlbl, l0.lbl) AS lbl
           FROM l0 LEFT JOIN p1 ON l0.id = p1.id
         ), p2 AS (
           SELECT s AS id, lbl AS newlbl FROM (
             SELECT e.s, l.lbl, count(*) AS c
             FROM e JOIN l1 l ON e.d = l.id GROUP BY e.s, l.lbl
           ) QUALIFY row_number() OVER (PARTITION BY s ORDER BY c DESC, lbl) = 1
         ), l2 AS (
           SELECT l1.id, coalesce(p2.newlbl, l1.lbl) AS lbl
           FROM l1 LEFT JOIN p2 ON l1.id = p2.id
         )"""

  def oracles: Map[String, String] = Map(
    "graph_bipartite_proj" ->
      """SELECT a.event_type AS t1, b.event_type AS t2,
                count(*) AS n_shared_users
         FROM (SELECT DISTINCT user_id, event_type FROM events) a
         JOIN (SELECT DISTINCT user_id, event_type FROM events) b
           ON a.user_id = b.user_id AND a.event_type < b.event_type
         GROUP BY t1, t2 ORDER BY t1, t2""",
    // h0=1 makes every score an exact integer; the CTE chain replays the
    // two unrolled HITS sweeps verbatim
    "graph_hits" ->
      """WITH ut AS (
           SELECT DISTINCT user_id, event_type FROM events
         ), a1 AS (
           SELECT event_type, count(*) AS a1 FROM ut GROUP BY event_type
         ), h1 AS (
           SELECT ut.user_id, CAST(sum(a1.a1) AS BIGINT) AS h1
           FROM ut JOIN a1 USING (event_type) GROUP BY ut.user_id
         ), a2 AS (
           SELECT ut.event_type, CAST(sum(h1.h1) AS BIGINT) AS a2
           FROM ut JOIN h1 USING (user_id) GROUP BY ut.event_type
         )
         SELECT a2.event_type, a1.a1, a2.a2,
                round(CAST(a2.a2 AS DOUBLE) / sum(a2.a2) OVER (), 6) AS share
         FROM a2 JOIN a1 USING (event_type)
         ORDER BY event_type""",
    // the middle-node join replays jaccard_neighbors' shape; weights
    // pre-round at 10dp before the DECIMAL fold, same constants
    "graph_adamic_adar" ->
      """WITH e AS MATERIALIZED (
           SELECT * FROM (
             SELECT a.vec_id AS src, b.vec_id AS dst,
                    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                 CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
             FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
           ) WHERE similitud >= 30.0
         ), und AS (
           SELECT src AS s, dst AS d FROM e
           UNION ALL SELECT dst, src FROM e
         ), w AS (
           SELECT s AS m, round(CAST(1.0 AS DOUBLE) / ln(count(*)), 10) AS w
           FROM und GROUP BY s HAVING count(*) >= 2
         ), pairs AS (
           SELECT u1.s AS a, u2.d AS b, u1.d AS m
           FROM und u1 JOIN und u2 ON u1.d = u2.s
           WHERE u1.s < u2.d
         )
         SELECT a, b, count(*) AS n_common,
                round(CAST(sum(CAST(w.w AS DECIMAL(28,10))) AS DOUBLE), 6)
                  AS adamic_adar
         FROM pairs JOIN w USING (m)
         GROUP BY a, b HAVING count(*) >= 3
         ORDER BY adamic_adar DESC, a, b""",
    // wedges in closed form off the degree relation; the triangle CTE is
    // graph_triangles' oracle verbatim
    "graph_transitivity" ->
      """WITH e AS MATERIALIZED (
           SELECT * FROM (
             SELECT a.vec_id AS src, b.vec_id AS dst,
                    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                 CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
             FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
           ) WHERE similitud >= 30.0
         ), deg AS (
           SELECT id, count(*) AS d FROM (
             SELECT src AS id FROM e UNION ALL SELECT dst FROM e
           ) GROUP BY id
         ), stats AS (
           SELECT count(*) AS n_nodes,
                  CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS n_wedges
           FROM deg
         ), tri AS (
           SELECT count(*) AS n_triangles
           FROM e e1
           JOIN e e2 ON e2.src = e1.dst
           JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
         ), ec AS (SELECT count(*) AS n_edges FROM e)
         SELECT n_nodes, n_edges, n_wedges, n_triangles,
                round(CAST(3.0 AS DOUBLE) * n_triangles / n_wedges, 6)
                  AS transitivity
         FROM stats CROSS JOIN tri CROSS JOIN ec""",
    "graph_assortativity" ->
      """WITH e AS MATERIALIZED (
           SELECT * FROM (
             SELECT a.vec_id AS src, b.vec_id AS dst,
                    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                 CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
             FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
           ) WHERE similitud >= 30.0
         ), deg AS (
           SELECT id, count(*) AS degree FROM (
             SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e
           ) GROUP BY id
         ), stubs AS (
           SELECT src AS a, dst AS b FROM e
           UNION ALL SELECT dst AS a, src AS b FROM e
         ), sums AS (
           SELECT CAST(count(*) AS DOUBLE) AS m,
                  CAST(sum(CAST(da.degree AS DECIMAL(28,10))) AS DOUBLE) AS sa,
                  CAST(sum(CAST(db.degree AS DECIMAL(28,10))) AS DOUBLE) AS sb,
                  CAST(sum(CAST(da.degree * db.degree AS DECIMAL(28,10))) AS DOUBLE) AS sab,
                  CAST(sum(CAST(da.degree * da.degree AS DECIMAL(28,10))) AS DOUBLE) AS saa,
                  CAST(sum(CAST(db.degree * db.degree AS DECIMAL(28,10))) AS DOUBLE) AS sbb
           FROM stubs
           JOIN deg da ON stubs.a = da.id
           JOIN deg db ON stubs.b = db.id
         )
         SELECT CAST(m / 2 AS BIGINT) AS n_edges,
                round((m * sab - sa * sb) /
                      sqrt((m * saa - sa * sa) * (m * sbb - sb * sb)), 6)
                  AS assortativity
         FROM sums""",
    "graph_summary" ->
      """WITH e AS MATERIALIZED (
           SELECT * FROM (
             SELECT a.vec_id AS src, b.vec_id AS dst,
                    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                 CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
             FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
           ) WHERE similitud >= 30.0
         ), deg AS (
           SELECT v.vec_id AS id, CAST(coalesce(t.d, 0) AS BIGINT) AS d
           FROM embeddings v LEFT JOIN (
             SELECT id, count(*) AS d FROM (
               SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e
             ) GROUP BY id
           ) t ON v.vec_id = t.id
         ), s AS (
           SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                  CAST(sum(d) AS BIGINT) AS stubs,
                  CAST(max(d) AS BIGINT) AS max_degree
           FROM deg
         ), dm AS (SELECT max(d) AS dm FROM deg),
         c AS (
           SELECT CAST(sum(dm.dm - deg.d) AS BIGINT) AS cd_num,
                  CAST(count(*) AS BIGINT) AS nn
           FROM deg CROSS JOIN dm
         )
         SELECT n_nodes, CAST(stubs // 2 AS BIGINT) AS n_edges, max_degree,
                floor(CAST(stubs AS DOUBLE) / n_nodes * 1e6 + 0.5) / 1e6
                  AS avg_degree,
                floor(CAST(stubs AS DOUBLE) / (n_nodes * (n_nodes - 1))
                      * 1e6 + 0.5) / 1e6 AS density,
                floor(CAST(cd_num AS DOUBLE) / ((nn - 1) * (nn - 2))
                      * 1e6 + 0.5) / 1e6 AS degree_centralization
         FROM s CROSS JOIN c""",
    "graph_knn_degree" ->
      """WITH e AS MATERIALIZED (
           SELECT * FROM (
             SELECT a.vec_id AS src, b.vec_id AS dst,
                    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                 CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
             FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
           ) WHERE similitud >= 30.0
         ), deg AS (
           SELECT id, count(*) AS degree FROM (
             SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e
           ) GROUP BY id
         ), stubs AS (
           SELECT src AS a, dst AS b FROM e
           UNION ALL SELECT dst AS a, src AS b FROM e
         ), g AS (
           SELECT da.degree AS degree, count(*) AS n_stubs,
                  sum(db.degree) AS sdb
           FROM stubs
           JOIN deg da ON stubs.a = da.id
           JOIN deg db ON stubs.b = db.id
           GROUP BY da.degree
         )
         SELECT degree, CAST(n_stubs // degree AS BIGINT) AS n_nodes,
                round(CAST(sdb AS DOUBLE) / n_stubs, 6) AS avg_neighbor_degree
         FROM g ORDER BY degree""",
    "graph_rich_club" ->
      """WITH e AS MATERIALIZED (
           SELECT * FROM (
             SELECT a.vec_id AS src, b.vec_id AS dst,
                    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                 CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
             FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
           ) WHERE similitud >= 30.0
         ), deg AS (
           SELECT id, count(*) AS degree FROM (
             SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e
           ) GROUP BY id
         ), ed AS (
           SELECT least(da.degree, db.degree) AS m, count(*) AS ec
           FROM e
           JOIN deg da ON e.src = da.id
           JOIN deg db ON e.dst = db.id
           GROUP BY 1
         ), nd AS (SELECT degree, count(*) AS nc FROM deg GROUP BY degree),
         ks AS (
           SELECT CAST(k AS BIGINT) AS k
           FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8)) AS t(k)
         ), nk AS (
           SELECT k, CAST(sum(coalesce(nc, 0)) AS BIGINT) AS n_nodes
           FROM ks LEFT JOIN nd ON nd.degree > ks.k GROUP BY k
         ), ek AS (
           SELECT k, CAST(sum(coalesce(ec, 0)) AS BIGINT) AS n_edges
           FROM ks LEFT JOIN ed ON ed.m > ks.k GROUP BY k
         )
         SELECT nk.k, n_nodes, n_edges,
                CASE WHEN n_nodes >= 2
                     THEN floor(2.0 * n_edges / (n_nodes * (n_nodes - 1))
                                * 1e6 + 0.5) / 1e6 END AS phi
         FROM nk JOIN ek ON nk.k = ek.k ORDER BY nk.k""",
    "scan_documents" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id",
    "distinct_sorted" ->
      "SELECT DISTINCT lang FROM documents ORDER BY lang",
    "filter_eq_string" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents WHERE lang = 'es' ORDER BY doc_id",
    "filter_eq_numeric" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
         CAST(year(o_orderdate) AS INT) AS o_year
         FROM orders WHERE year(o_orderdate) = 1996 ORDER BY o_orderkey""",
    "text_search" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE len(list_intersect(string_split(text, ' '), ['spark','merge'])) > 0
         ORDER BY doc_id""",
    "text_search_phrase" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE (contains(text, 'spark merge')
                OR len(list_intersect(string_split(text, ' '), ['spark','merge'])) > 0)
           AND NOT contains(text, 'filter')
         ORDER BY doc_id""",
    "text_search_unaccent" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE len(list_intersect(
                 string_split(translate(lower(text), 'áéíóúüñ', 'aeiouun'), ' '),
                 ['spark','merge'])) > 0
         ORDER BY doc_id""",
    // the same fold → stem-lite CASE as the engine's stemLite, applied to
    // every corpus token; the query terms arrive pre-folded/pre-stemmed
    "text_search_stem" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE len(list_intersect(
                 list_transform(
                   string_split(translate(lower(text), 'áéíóúüñ', 'aeiouun'), ' '),
                   t -> CASE WHEN regexp_matches(t, '^.{2,}[^aeiou]es$')
                               THEN t[1:len(t)-2]
                             WHEN regexp_matches(t, '^.{3,}s$')
                               THEN t[1:len(t)-1]
                             ELSE t END),
                 ['spark','data'])) > 0
         ORDER BY doc_id""",
    "project_drop_col" ->
      "SELECT doc_id, lang, source, n_chars FROM documents ORDER BY doc_id",
    // the facade's texto arm: accent-folded OR-of-terms over the folded
    // corpus (the query terms 'spárk mérge' fold to spark/merge), id
    // column dropped, total order over the surviving columns
    "api_buscar_texto" ->
      """SELECT text, lang, source, n_chars FROM documents
         WHERE len(list_intersect(
                 string_split(translate(lower(text), 'áéíóúüñ', 'aeiouun'), ' '),
                 ['spark','merge'])) > 0
         ORDER BY text, lang, source, n_chars""",
    "api_similares" ->
      """SELECT * FROM (
           SELECT a.vec_id AS origen, b.vec_id AS destino,
                  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                               CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
           FROM embeddings a, embeddings b
           WHERE a.vec_id = 0 AND b.vec_id <> 0
         ) WHERE similitud BETWEEN 10 AND 90 ORDER BY destino""",
    "graph_node_ids" ->
      "SELECT vec_id AS id FROM embeddings ORDER BY id",
    "graph_degree" ->
      """WITH e AS (
           SELECT * FROM (
             SELECT a.vec_id AS src, b.vec_id AS dst,
                    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                 CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
             FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
           ) WHERE similitud >= 30.0
         )
         SELECT id, count(*) AS degree FROM (
           SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e
         ) GROUP BY id ORDER BY id""",
    // three integer-exact A·r supersteps replayed relationally; the
    // share normalizes once from the final BIGINT scores
    "graph_eigenvector" ->
      """WITH e AS MATERIALIZED (
           SELECT * FROM (
             SELECT a.vec_id AS src, b.vec_id AS dst,
                    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                 CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
             FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
           ) WHERE similitud >= 30.0
         ),
         und AS MATERIALIZED (SELECT src AS s, dst AS d FROM e
                 UNION ALL SELECT dst AS s, src AS d FROM e),
         r1 AS (SELECT d AS id, CAST(count(*) AS BIGINT) AS r
                FROM und GROUP BY d),
         r2 AS (SELECT und.d AS id, CAST(sum(r1.r) AS BIGINT) AS r
                FROM und JOIN r1 ON r1.id = und.s GROUP BY und.d),
         r3 AS (SELECT und.d AS id, CAST(sum(r2.r) AS BIGINT) AS r
                FROM und JOIN r2 ON r2.id = und.s GROUP BY und.d),
         tot AS (SELECT CAST(sum(r) AS BIGINT) AS tot FROM r3)
         SELECT n.vec_id AS node_id,
                coalesce(r3.r, 0) AS score,
                floor(CAST(coalesce(r3.r, 0) AS DOUBLE) / tot * 1e6 + 0.5) / 1e6
                  AS share
         FROM embeddings n LEFT JOIN r3 ON r3.id = n.vec_id CROSS JOIN tot
         ORDER BY node_id""",
    // TrussMaxRounds generated support-filter rounds (identity after
    // convergence — filtering a fixpoint changes nothing), then the
    // final in-truss support with the same >= k-2 HAVING
    "graph_ktruss" ->
      s"""WITH te0 AS MATERIALIZED (
           SELECT * FROM (
             SELECT a.vec_id AS src, b.vec_id AS dst,
                    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                 CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
             FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
           ) WHERE similitud >= 30.0
         ),
         tu0 AS MATERIALIZED (SELECT src AS s, dst AS d FROM te0
                 UNION ALL SELECT dst AS s, src AS d FROM te0)${
        (1 to TrussMaxRounds).map { r =>
          s""", ts$r AS (
           SELECT e.src, e.dst, CAST(count(*) AS BIGINT) AS sup
           FROM te${r - 1} e
           JOIN tu${r - 1} u1 ON u1.s = e.src
           JOIN tu${r - 1} u2 ON u2.s = e.dst AND u2.d = u1.d
           GROUP BY e.src, e.dst
         ), te$r AS MATERIALIZED (
           SELECT src, dst FROM ts$r WHERE sup >= ${TrussK - 2}
         ), tu$r AS MATERIALIZED (
           SELECT src AS s, dst AS d FROM te$r
           UNION ALL SELECT dst AS s, src AS d FROM te$r)"""
        }.mkString}
         SELECT e.src, e.dst, CAST(count(*) AS BIGINT) AS support
         FROM te$TrussMaxRounds e
         JOIN tu$TrussMaxRounds u1 ON u1.s = e.src
         JOIN tu$TrussMaxRounds u2 ON u2.s = e.dst AND u2.d = u1.d
         GROUP BY e.src, e.dst
         HAVING count(*) >= ${TrussK - 2}
         ORDER BY src, dst""",
    // sampled bounded-depth betweenness (stress form): BetwDepth forward
    // BFS levels (σ sums over predecessor frontiers, NOT EXISTS against
    // the visited prefix) then BetwDepth−1 backward dependency levels
    // (g(v) = Σ_succ (1 + g(w)) over the shortest-path DAG) — all exact
    // BIGINT folds, one end normalization; depth-exhausted levels are
    // empty and later rounds are no-ops, mirroring the Spark unroll
    "graph_betweenness" ->
      s"""WITH be AS MATERIALIZED (
           SELECT * FROM (
             SELECT a.vec_id AS src, b.vec_id AS dst,
                    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                 CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
             FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
           ) WHERE similitud >= 30.0
         ),
         bund AS MATERIALIZED (SELECT src AS s, dst AS d FROM be
                 UNION ALL SELECT dst AS s, src AS d FROM be),
         bpv AS MATERIALIZED (
           SELECT vec_id AS p FROM embeddings
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $BetwPivots),
         bf0 AS MATERIALIZED (
           SELECT p, p AS id, CAST(1 AS BIGINT) AS sigma FROM bpv),
         bv0 AS MATERIALIZED (SELECT p, id FROM bf0)${
        (1 to BetwDepth).map { k =>
          s""", bf$k AS MATERIALIZED (
           SELECT f.p, u.d AS id, CAST(sum(f.sigma) AS BIGINT) AS sigma
           FROM bf${k - 1} f JOIN bund u ON u.s = f.id
           WHERE NOT EXISTS (
             SELECT 1 FROM bv${k - 1} x WHERE x.p = f.p AND x.id = u.d)
           GROUP BY f.p, u.d
         ), bv$k AS MATERIALIZED (
           SELECT p, id FROM bv${k - 1} UNION ALL SELECT p, id FROM bf$k)"""
        }.mkString}${
        ((BetwDepth - 1) to 1 by -1).map { k =>
          val (gJoin, gw) =
            if (k == BetwDepth - 1) ("", "CAST(0 AS BIGINT)")
            else (s"\n           LEFT JOIN bg${k + 1} g ON g.p = v.p AND g.id = u.d",
              "coalesce(g.g, 0)")
          s""", bg$k AS MATERIALIZED (
           SELECT v.p, v.id, v.sigma, CAST(sum(1 + $gw) AS BIGINT) AS g
           FROM bf$k v JOIN bund u ON u.s = v.id
           JOIN bf${k + 1} w ON w.p = v.p AND w.id = u.d$gJoin
           GROUP BY v.p, v.id, v.sigma)"""
        }.mkString},
         bcontrib AS MATERIALIZED (
           SELECT id, CAST(sum(sigma * g) AS BIGINT) AS paths_through
           FROM (${(1 to (BetwDepth - 1))
             .map(k => s"SELECT * FROM bg$k").mkString(" UNION ALL ")})
           GROUP BY id),
         btot AS (SELECT CAST(coalesce(sum(paths_through), 0) AS BIGINT)
                    AS tot FROM bcontrib)
         SELECT n.vec_id AS node_id,
                coalesce(c.paths_through, 0) AS paths_through,
                CASE WHEN t.tot > 0
                  THEN floor(CAST(coalesce(c.paths_through, 0) AS DOUBLE)
                       / t.tot * 1e6 + 0.5) / 1e6
                  ELSE 0.0 END AS share
         FROM embeddings n
         LEFT JOIN bcontrib c ON c.id = n.vec_id CROSS JOIN btot t
         ORDER BY node_id""",
    // same generated BFS unroll as graph_betweenness; the closeness
    // aggregation folds exact integers per level (1/dist enters as the
    // literal lcm/k), both ratios divide once at the end
    "graph_closeness" ->
      s"""WITH be AS MATERIALIZED (
           SELECT * FROM (
             SELECT a.vec_id AS src, b.vec_id AS dst,
                    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                 CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
             FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
           ) WHERE similitud >= 30.0
         ),
         bund AS MATERIALIZED (SELECT src AS s, dst AS d FROM be
                 UNION ALL SELECT dst AS s, src AS d FROM be),
         bpv AS MATERIALIZED (
           SELECT vec_id AS p FROM embeddings
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $BetwPivots),
         bf0 AS MATERIALIZED (
           SELECT p, p AS id, CAST(1 AS BIGINT) AS sigma FROM bpv),
         bv0 AS MATERIALIZED (SELECT p, id FROM bf0)${
        (1 to BetwDepth).map { k =>
          s""", bf$k AS MATERIALIZED (
           SELECT f.p, u.d AS id, CAST(sum(f.sigma) AS BIGINT) AS sigma
           FROM bf${k - 1} f JOIN bund u ON u.s = f.id
           WHERE NOT EXISTS (
             SELECT 1 FROM bv${k - 1} x WHERE x.p = f.p AND x.id = u.d)
           GROUP BY f.p, u.d
         ), bv$k AS MATERIALIZED (
           SELECT p, id FROM bv${k - 1} UNION ALL SELECT p, id FROM bf$k)"""
        }.mkString},
         creach AS MATERIALIZED (
           SELECT id, CAST(count(*) AS BIGINT) AS reached,
                  CAST(sum(dist) AS BIGINT) AS dist_sum,
                  CAST(sum(h) AS BIGINT) AS h_num
           FROM (${(1 to BetwDepth).map(k =>
             s"SELECT id, $k AS dist, ${BetwHarmonicLcm / k} AS h FROM bf$k")
             .mkString(" UNION ALL ")})
           GROUP BY id)
         SELECT n.vec_id AS node_id,
                coalesce(c.reached, 0) AS reached,
                coalesce(c.dist_sum, 0) AS dist_sum,
                CASE WHEN coalesce(c.dist_sum, 0) > 0
                  THEN floor(CAST(c.reached AS DOUBLE) / c.dist_sum
                       * 1e6 + 0.5) / 1e6
                  ELSE 0.0 END AS closeness,
                floor(CAST(coalesce(c.h_num, 0) AS DOUBLE)
                  / $BetwHarmonicLcm.0 * 1e6 + 0.5) / 1e6 AS harmonic
         FROM embeddings n LEFT JOIN creach c ON c.id = n.vec_id
         ORDER BY node_id""",
    // peel to the fixpoint, k = 3 (KCoreK): the recursive term carries a
    // round counter — each iteration's delta is exactly the previous
    // round's survivor set, so the induced-degree filter sees the full
    // surviving subgraph; rounds repeat (stable) until the cap, and
    // selecting the cap round yields the fixpoint (or the empty set if
    // the core peeled away entirely — the recursion then dies out early
    // and no row reaches the cap). Alignment with the Spark loop is
    // exact and off-by-one-audited (r10 review): Spark applies the
    // deg ≥ k filter 64 times at most (initial keep + ≤63 loop rounds),
    // so the guard is r < 63 and the output reads r = 63 — row r carries
    // the set that survived r + 1 filters; the final HAVING mirrors the
    // Spark side's cap-exit filter (both no-ops at convergence).
    "graph_kcore" ->
      s"""WITH RECURSIVE e AS MATERIALIZED (
           SELECT * FROM (
             SELECT a.vec_id AS src, b.vec_id AS dst,
                    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                 CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
             FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
           ) WHERE similitud >= 30.0
         ),
         und AS MATERIALIZED (SELECT src AS s, dst AS d FROM e
                 UNION ALL SELECT dst AS s, src AS d FROM e),
         surv(r, id) AS (
           SELECT 0, s FROM und GROUP BY s HAVING count(*) >= $KCoreK
           UNION ALL
           SELECT u.r + 1, u.s FROM (
             SELECT sv.r AS r, und.s AS s, count(*) AS deg
             FROM surv sv
             JOIN und ON und.s = sv.id
             WHERE und.d IN (SELECT id FROM surv s2 WHERE s2.r = sv.r)
             GROUP BY sv.r, und.s
           ) u
           WHERE u.deg >= $KCoreK AND u.r < 63
         )
         SELECT s AS node_id, count(*) AS core_degree FROM und
         WHERE s IN (SELECT id FROM surv WHERE r = 63)
           AND d IN (SELECT id FROM surv WHERE r = 63)
         GROUP BY s HAVING count(*) >= $KCoreK
         ORDER BY node_id""",
    "graph_triangles" ->
      """WITH e AS (
           SELECT * FROM (
             SELECT a.vec_id AS src, b.vec_id AS dst,
                    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                 CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
             FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
           ) WHERE similitud >= 30.0
         ), tri AS (
           SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
           FROM e e1
           JOIN e e2 ON e2.src = e1.dst
           JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
         )
         SELECT node_id, count(*) AS n_tri FROM (
           SELECT a AS node_id FROM tri
           UNION ALL SELECT b FROM tri
           UNION ALL SELECT c FROM tri
         ) GROUP BY node_id ORDER BY node_id""",
    "graph_cluster_coeff" ->
      """WITH e AS MATERIALIZED (
           SELECT * FROM (
             SELECT a.vec_id AS src, b.vec_id AS dst,
                    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                 CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
             FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
           ) WHERE similitud >= 30.0
         ), deg AS (
           SELECT node_id, count(*) AS degree FROM (
             SELECT src AS node_id FROM e UNION ALL SELECT dst FROM e
           ) GROUP BY node_id
         ), tri AS (
           SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
           FROM e e1
           JOIN e e2 ON e2.src = e1.dst
           JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
         ), tpn AS (
           SELECT node_id, count(*) AS n_tri FROM (
             SELECT a AS node_id FROM tri
             UNION ALL SELECT b FROM tri
             UNION ALL SELECT c FROM tri
           ) GROUP BY node_id
         )
         SELECT d.node_id, d.degree,
                coalesce(t.n_tri, 0) AS n_tri,
                round(coalesce(t.n_tri, 0) * 2.0 /
                      (d.degree * (d.degree - 1)), 4) AS coeff
         FROM deg d LEFT JOIN tpn t ON t.node_id = d.node_id
         WHERE d.degree >= 2
         ORDER BY d.node_id""",
    "graph_components" -> ComponentsSql,
    // the labels CTE is graph_components' oracle verbatim; the histogram
    // replays the two bounded aggregations
    "graph_component_sizes" ->
      s"""WITH comp AS (
           $ComponentsSql
         ), sizes AS (
           SELECT component_id, count(*) AS csize FROM comp
           GROUP BY component_id
         ), hist AS (
           SELECT csize, count(*) AS n_components FROM sizes GROUP BY csize
         )
         SELECT csize, n_components,
                CAST(csize * n_components AS BIGINT) AS n_nodes,
                round(CAST(csize * n_components AS DOUBLE) /
                      sum(csize * n_components) OVER (), 6) AS pct_of_nodes
         FROM hist ORDER BY csize""",
    "graph_label_prop" ->
      s"""WITH $LabelPropCtes
         SELECT id AS node_id, lbl AS community FROM l2 ORDER BY node_id""",

    // nests the SAME label chain (one community definition, both keys
    // pinned to it); Q folds 10dp-pre-rounded per-community
    // contributions as exact DECIMAL
    "graph_modularity" ->
      s"""WITH $LabelPropCtes,
         el AS (
           SELECT ls.lbl AS cs, ld.lbl AS cd
           FROM e JOIN l2 ls ON e.s = ls.id JOIN l2 ld ON e.d = ld.id
         ), byc AS (
           SELECT cs AS community, count(*) AS deg_sum,
                  sum(CASE WHEN cs = cd THEN 1 ELSE 0 END) AS w_in
           FROM el GROUP BY cs
         ), tot AS (SELECT count(*) AS ne FROM e)
         SELECT CAST(count(*) AS BIGINT) AS n_communities,
                CAST(max(ne) / 2 AS BIGINT) AS n_edges,
                floor(CAST(sum(CAST(
                        floor((CAST(w_in AS DOUBLE) / ne
                               - (CAST(deg_sum AS DOUBLE) / ne)
                                 * (CAST(deg_sum AS DOUBLE) / ne))
                              * 1e10 + 0.5) / 1e10
                      AS DECIMAL(28,10))) AS DOUBLE) * 1e6 + 0.5) / 1e6
                  AS modularity
         FROM byc CROSS JOIN tot""",
    "graph_pagerank" ->
      """WITH tri AS MATERIALIZED (
           SELECT * FROM (
             SELECT a.vec_id AS src, b.vec_id AS dst,
                    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                 CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
             FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
           ) WHERE similitud >= 30.0
         ), e AS MATERIALIZED (
           SELECT src AS s, dst AS d FROM tri UNION ALL SELECT dst, src FROM tri
         ), outdeg AS MATERIALIZED (
           SELECT s, CAST(count(*) AS DOUBLE) AS od FROM e GROUP BY s
         ), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
         nodes AS (SELECT vec_id AS id FROM embeddings),
         r0 AS (SELECT id, 1.0/(SELECT n FROM nn) AS rank FROM nodes),
         c1 AS (SELECT e.d AS cid, sum(r.rank / o.od) AS c
                FROM e JOIN r0 r ON e.s = r.id JOIN outdeg o ON e.s = o.s GROUP BY e.d),
         d1 AS (SELECT coalesce(sum(rank), 0.0) AS dm FROM r0 WHERE id NOT IN (SELECT s FROM outdeg)),
         r1 AS (SELECT nodes.id, 0.15/(SELECT n FROM nn) + 0.85*(coalesce(c1.c, 0.0) + (SELECT dm FROM d1)/(SELECT n FROM nn)) AS rank
                FROM nodes LEFT JOIN c1 ON nodes.id = c1.cid),
         c2 AS (SELECT e.d AS cid, sum(r.rank / o.od) AS c
                FROM e JOIN r1 r ON e.s = r.id JOIN outdeg o ON e.s = o.s GROUP BY e.d),
         d2 AS (SELECT coalesce(sum(rank), 0.0) AS dm FROM r1 WHERE id NOT IN (SELECT s FROM outdeg)),
         r2 AS (SELECT nodes.id, 0.15/(SELECT n FROM nn) + 0.85*(coalesce(c2.c, 0.0) + (SELECT dm FROM d2)/(SELECT n FROM nn)) AS rank
                FROM nodes LEFT JOIN c2 ON nodes.id = c2.cid),
         c3 AS (SELECT e.d AS cid, sum(r.rank / o.od) AS c
                FROM e JOIN r2 r ON e.s = r.id JOIN outdeg o ON e.s = o.s GROUP BY e.d),
         d3 AS (SELECT coalesce(sum(rank), 0.0) AS dm FROM r2 WHERE id NOT IN (SELECT s FROM outdeg)),
         r3 AS (SELECT nodes.id, 0.15/(SELECT n FROM nn) + 0.85*(coalesce(c3.c, 0.0) + (SELECT dm FROM d3)/(SELECT n FROM nn)) AS rank
                FROM nodes LEFT JOIN c3 ON nodes.id = c3.cid)
         SELECT id, round(rank, 6) AS pagerank FROM r3 ORDER BY id""",
    "graph_jaccard_neighbors" ->
      """WITH tri AS MATERIALIZED (
           SELECT * FROM (
             SELECT a.vec_id AS src, b.vec_id AS dst,
                    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                 CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
             FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
           ) WHERE similitud >= 30.0
         ), e AS MATERIALIZED (
           SELECT src AS s, dst AS d FROM tri UNION ALL SELECT dst, src FROM tri
         ), deg AS (
           SELECT s AS n, count(*) AS deg FROM e GROUP BY s
         ), common AS (
           SELECT e1.s AS a, e2.d AS b, count(*) AS inter
           FROM e e1 JOIN e e2 ON e1.d = e2.s
           WHERE e1.s < e2.d GROUP BY e1.s, e2.d
         )
         SELECT a, b, jacc FROM (
           SELECT a, b,
                  round(1.0 * inter / (da.deg + db.deg - inter), 4) AS jacc
           FROM common
           JOIN deg da ON da.n = a
           JOIN deg db ON db.n = b
         ) WHERE jacc >= 0.3
         ORDER BY jacc DESC, a, b""",
    "graph_2hop" ->
      """WITH sims AS (
           SELECT * FROM (
             SELECT a.vec_id AS src, b.vec_id AS dst,
                    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                 CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
             FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id
           ) WHERE similitud >= 30.0
         ), n1 AS (
           SELECT dst AS node_id FROM sims WHERE src = 0
         ), n2 AS (
           SELECT DISTINCT s.dst AS node_id
           FROM sims s JOIN n1 ON s.src = n1.node_id
           WHERE s.dst <> 0 AND s.dst NOT IN (SELECT node_id FROM n1)
         )
         SELECT node_id, CAST(1 AS INT) AS hops FROM n1
         UNION ALL
         SELECT node_id, CAST(2 AS INT) AS hops FROM n2
         ORDER BY hops, node_id""",
    "similar_range" ->
      """SELECT * FROM (
           SELECT a.vec_id AS origen, b.vec_id AS destino,
                  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                               CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
           FROM embeddings a, embeddings b
           WHERE a.vec_id = 0 AND b.vec_id <> 0
         ) WHERE similitud BETWEEN 10 AND 90 ORDER BY destino"""
  )
}
