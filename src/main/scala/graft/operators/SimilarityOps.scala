package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Vectors

/** B1 similarity suite (SURVEY.md §2): derive the reference's Neo4j-style
  * `SIMILAR(similitud)` edge set from raw embeddings
  * (reference streamlit_app.py:60-64), plus approximate-nearest-neighbor
  * search over the embedding column.
  *
  * Scale notes (100 TB design):
  *  - `sim_edges`/`sim_topk` are the exact O(n^2) pairwise forms — correct
  *    and fine for dimension-table-sized inputs (n ≤ ~10^5 pairs fit one
  *    shuffle). At data scale the LSH-banded candidate generation in
  *    [[DedupOps.queries]] (`dedup_near`) is the pre-filter that replaces
  *    the quadratic join; the verify step there reuses the same exact
  *    cosine expression.
  *  - `ann_ivf` is the scale path for similarity search: a coarse
  *    quantizer (here the fixture's `label` column as the IVF partition)
  *    prunes the search to one inverted list, so the probe cost is
  *    |cluster| not |table|; centroids are a tiny broadcast.
  *  - All cosine math is whole-stage-codegen'd higher-order functions
  *    ([[Vectors]]) — no UDF serialization boundary on the hot path.
  */
object SimilarityOps {

  /** sim_edges keeps pairs with similitud >= this (reference UI slider is
    * [0,100]; fixture cosines span [-55, 51] so 30 yields a sparse graph). */
  val EdgeThreshold = 30.0

  /** Random-hyperplane LSH: signature bits / fixture embedding dim. */
  val LshPlanes = 8
  val EmbedDim  = 64

  /** Fixed Rademacher hyperplane signs for `ann_lsh` (r17): ±1 per
    * (plane, dim), drawn ONCE from the top bit of md5("p|i") — a
    * deterministic, engine-independent table (the BenfordP
    * fixed-literal discipline: the Spark plan and the oracle SQL are
    * both generated from THIS value, so the planes cannot drift).
    * Sign-random projections with Rademacher entries are a standard
    * cosine-LSH family (Charikar 2002's rounding argument needs only a
    * symmetric zero-mean entry distribution). Replaces the
    * JVM-seeded `Random.nextGaussian` planes, whose implementation-
    * specific stream was the only reason this key lacked an oracle. */
  private[graft] val LshSigns: IndexedSeq[IndexedSeq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    IndexedSeq.tabulate(LshPlanes, EmbedDim) { (p, i) =>
      val d = md.digest(s"$p|$i".getBytes("UTF-8"))
      if ((d(0) & 0x80) != 0) 1 else -1
    }
  }

  /** One hyperplane's dot product, ORACLE side, as SQL text:
    * Σ_i s_i · ⌊v_i·10⁶⌋. The float coordinate is quantized by an
    * explicit FLOOR (a bare CAST double → BIGINT truncates on Spark but
    * ROUNDS on DuckDB; FLOOR floors on both) so the fold is EXACT
    * BIGINT arithmetic — order-independent, engine-identical — and the
    * SIGN, the only thing LSH consumes, replays bit-for-bit. The
    * µ-quantization perturbs each hyperplane by < 64·10⁻⁶ in coordinate
    * mass — noise against unit-scale embeddings, and deterministic
    * noise at that. The Spark side computes the SAME sum via
    * [[lshBucketCol]] (zip_with + aggregate over the literal sign
    * array): a 64-term unrolled chain here would be textually
    * shareable, but its ~5k-node expression tree cost ~1 s of Catalyst
    * analysis per execution (measured), and exact integer addition
    * needs no textual identity to agree. */
  private[graft] def lshDotSql(p: Int): String =
    (0 until EmbedDim).map { i =>
      val t = s"CAST(FLOOR(CAST(embedding[${i + 1}] AS DOUBLE) * 1000000.0) AS BIGINT)"
      if (LshSigns(p)(i) > 0) t else s"(0 - $t)"
    }.mkString("(", " + ", ")")

  /** The packed 8-bit bucket signature, oracle side: bit p set iff
    * hyperplane p's dot is strictly positive (zero → 0 on both
    * engines). */
  private[graft] def lshBucketSql: String =
    (0 until LshPlanes).map(p =>
      s"(CASE WHEN ${lshDotSql(p)} > 0 THEN ${1 << p} ELSE 0 END)")
      .mkString("(", " + ", ")")

  /** The packed bucket signature, Spark side: the identical integer
    * arithmetic as [[lshBucketSql]] — s_i · ⌊v_i·10⁶⌋ folded as
    * BIGINT — in a ~150-node tree (one literal sign array + one
    * zip_with/aggregate per plane) instead of a 5k-node unrolled
    * chain. */
  private[graft] def lshBucketCol(emb: Column): Column =
    (0 until LshPlanes).map { p =>
      val dot = aggregate(
        zip_with(emb, lit(LshSigns(p).toArray), (v, sg) =>
          sg.cast("long") * floor(v.cast("double") * lit(1000000.0)).cast("long")),
        lit(0L), (acc, x) => acc + x)
      when(dot > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Product quantization: M subspaces × K centroids, sub-dim = dim/M.
    * Codebooks train on a bounded deterministic sample of at most
    * `PqTrainSample` vectors (FAISS trains on ~max(256·K, 10^5) samples
    * regardless of corpus size — the model is M×K centroids either way). */
  val PqM   = 4
  val PqK   = 16
  val PqSub = EmbedDim / PqM
  val PqTrainSample = 4096

  /** All ordered pairs (src != dst) with their similitud, pre-threshold —
    * planned by the custom [[graft.plans.SelfPairwise]] operator (fused
    * broadcast loop; the BNLJ formulation materialized a candidate row per
    * pair). The `round` Column on the raw score is the same expression the
    * declarative form used, so values stay oracle-identical. */
  def pairwise(s: SparkSession, dir: String): DataFrame =
    graft.plans.SelfPairwise(
      Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
      graft.plans.SelfPairwise.Cosine, Double.MinValue, triangular = false)
      .select(col("src"), col("dst"),
        round(col("score") * 100, 4).as("similitud"))

  /** Triangular (src < dst) pairs with `similitud >= minSimilitud` —
    * routed through the stats-driven [[graft.plans.Pairwise.cosineAuto]]
    * front door, so the physical plan is the broadcast operator
    * ([[graft.plans.SelfPairwise]]) only while the embedding table's
    * plan-time size estimate fits the session's
    * `autoBroadcastJoinThreshold`, and the shuffle-distributed
    * [[graft.plans.GridPairwise]] grid beyond it (r12 verdict: the
    * unconditional broadcast form was the one remaining scale-killer —
    * `executeCollect` of the WHOLE embedding relation under 16+ graph
    * queries). Output and values are unchanged: (src, dst, similitud)
    * with the same round/threshold expressions either way
    * (GridPairwiseSpec pins broadcast/grid parity). */
  def pairwiseTriangular(s: SparkSession, dir: String, minSimilitud: Double): DataFrame =
    graft.plans.Pairwise.cosineAuto(
      Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")), minSimilitud)

  /** Session-shared SIMILAR edge table at [[EdgeThreshold]]: the
    * thresholded (src, dst, similitud) list every graph-family query and
    * `sql_recursive` consume, derived ONCE per (session, fixture dir) via
    * [[pairwiseTriangular]] — the materialized-view move a production
    * pipeline makes with a derived edge table. At 100 TB the contracted
    * edge list is orders of magnitude smaller than the corpus, so writing
    * it once and scanning it per query is the right trade. */
  private val simEdgesMemo = new SessionTableMemo.Single("graft_sim_edges_",
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("src",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("dst",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("similitud",
        org.apache.spark.sql.types.DoubleType))))

  /** `ann_pq`'s trained codebook per (session, dir) — 16 centroids × 4
    * subspaces × 16 doubles, a pure function of the immutable fixture
    * (deterministic md5-ordered sample + fixed 2-iteration Lloyd); see
    * the usage comment at the key. */
  private val pqCodebookMemo =
    new SessionMemo[String, Seq[(Int, Seq[(Int, Seq[Double])])]]

  def similarEdges(s: SparkSession, dir: String): DataFrame =
    simEdgesMemo.get(s, dir)(pairwiseTriangular(s, dir, EdgeThreshold))

  /** Drop a session's shared edge materialization (spec isolation: plan
    * assertions on the DERIVATION need the next call to re-derive). The
    * pivot-BFS tables and the propagation labels are derived from the
    * edge table, so they are dropped with it. */
  def evictSharedEdges(s: SparkSession): Unit = {
    simEdgesMemo.evict(s)
    ProvidenciasOps.pivotBfsMemo.evict(s)
    ProvidenciasOps.propLabelsMemo.evict(s)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Derived SIMILAR edge table: triangular (src < dst) to halve the join,
    // thresholded to keep the edge set sparse. Written DECLARATIVELY — a
    // plain self-join + cosine + filter, the code any Spark user would
    // write — and rewritten to the fused [[graft.plans.SelfPairwise]]
    // operator by the [[graft.plans.PairwiseRewrite]] optimizer rule
    // (plan shape pinned in PairwiseRewriteSpec; parity with the explicit
    // operator API pinned in SelfPairwiseSpec).
    "sim_edges" -> ((s, dir) => {
      graft.plans.PairwiseRewrite.install(s)
      val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      e.alias("a").join(e.alias("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
          round(graft.functions.ArrayExprs.cosine(
            col("a.embedding"), col("b.embedding")) * 100, 4).as("similitud"))
        .filter(col("similitud") >= EdgeThreshold)
        .orderBy("src", "dst")
    }),

    // The same SIMILAR edge table computed by the GRID-distributed
    // all-pairs path ([[graft.plans.GridPairwise]], 8×8 blocks) — the
    // plan used when the build side outgrows broadcast: both sides
    // shuffle on the grid key, no executor ever holds more than one
    // block pair. Values are identical to `sim_edges` (same score and
    // round expressions), so the same oracle pins it.
    "sim_edges_grid" -> ((s, dir) =>
      graft.plans.GridPairwise(
        Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
        8,
        (x, y) => round(graft.functions.ArrayExprs.cosine(x, y) * 100, 4),
        lit(EdgeThreshold))
        .withColumnRenamed("score", "similitud")
        .orderBy("src", "dst")),

    // Top-5 most-similar neighbors per node (ties broken by dst id).
    // Planned by [[graft.plans.SelfPairwise]] in top-k mode: each probe
    // row keeps a bounded 5-entry buffer ordered by (rounded score DESC,
    // dst ASC) inside the fused scan, so only n*5 rows ever materialize —
    // no 2n^2-row explode, no wide aggregation, no big shuffle. The tiny
    // downstream window re-ranks those n*5 rows with Spark's own round()
    // so rn is engine-exact. (The earlier formulation — triangular pairs
    // exploded both ways into a map-side partial TopK Aggregator
    // [[graft.functions.TopK]] — is kept as the generic-shuffle-topk
    // component and parity-pinned in SimilaritySpec.)
    "sim_topk" -> ((s, dir) => {
      val w = Window.partitionBy("src").orderBy(col("similitud").desc, col("dst"))
      graft.plans.SelfPairwise(
        Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
        graft.plans.SelfPairwise.Cosine, Double.MinValue,
        triangular = false, topK = 5)
        .select(col("src"), col("dst"), round(col("score") * 100, 4).as("similitud"))
        .withColumn("rn", row_number().over(w).cast("int"))
        .orderBy("src", "rn")
    }),

    // Time-series pattern search (cf. "Time Series Similarity Search for
    // Streaming Data", EDBT 2019): each user's trailing 8-event value
    // window, cosine-matched against a fixed probe shape, top-20 users.
    // One shuffle (the per-user series aggregation); the window extract
    // and the scoring are codegen'd array expressions. At scale the
    // series aggregation is the same partial+final shape as any groupBy,
    // and the probe is a literal — no join at all.
    "ts_pattern_topk" -> ((s, dir) => {
      val probe = array(Seq(1.0, 2.0, 3.0, 4.0, 3.0, 2.0, 1.0, 0.0).map(lit): _*)
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(array_sort(collect_list(
          struct(col("ts"), col("event_id"), col("value")))).as("evs"))
        .withColumn("n", size(col("evs")))
        .filter(col("n") >= 8)
        .select(col("user_id"),
          transform(slice(col("evs"), col("n") - 7, lit(8)),
            e => e.getField("value")).as("tail"))
        .select(col("user_id"),
          round(graft.functions.ArrayExprs.cosine(col("tail"), probe) * 100, 4).as("sim"))
        .orderBy(col("sim").desc, col("user_id"))
        .limit(20)
    }),

    // Brute-force cosine top-10 for one probe vector (vec_id 42) — the
    // exact-ANN baseline. The probe is a broadcast single row, so this is
    // one scan of the table regardless of size.
    "ann_brute" -> ((s, dir) => {
      val q = Tables.embeddings(s, dir).filter(col("vec_id") === 42)
        .select(col("embedding").as("qv"))
      Tables.embeddings(s, dir).filter(col("vec_id") =!= 42)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), Vectors.similitud(col("embedding"), col("qv")).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    }),

    // Radius search: every vector within a cosine radius of the probe
    // (vec_id 42) — the "all matches above a similarity floor" dual of
    // top-k ANN. Same one-scan shape as `ann_brute`: the probe broadcasts,
    // the table streams through codegen'd cosine, the threshold prunes
    // before anything shuffles; at scale the LSH/IVF bucketing above
    // pre-filters the scan identically.
    "ann_range" -> ((s, dir) => {
      val q = Tables.embeddings(s, dir).filter(col("vec_id") === 42)
        .select(col("embedding").as("qv"))
      Tables.embeddings(s, dir).filter(col("vec_id") =!= 42)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), Vectors.similitud(col("embedding"), col("qv")).as("sim"))
        .filter(col("sim") >= 20.0)
        .orderBy(col("sim").desc, col("vec_id"))
    }),

    // Hybrid retrieval (the RAG search pattern): lexical BM25 retrieves a
    // top-20 candidate set, then a semantic cosine re-rank against the
    // query embedding blends 50/50 with the max-normalized BM25 score —
    // lexical recall + semantic precision, the two-stage funnel every
    // production retrieval stack runs. Stage 1 is `text_bm25`'s plan
    // (term-filtered BEFORE its tf shuffle, so corpus size only enters
    // through one scan); stage 2 touches 20 rows — candidate join, probe
    // broadcast, normalization window all run on a constant-size relation.
    // At 100 TB the funnel shape is the whole point: the expensive
    // semantic compare never sees more than the candidate set.
    "ann_hybrid_rerank" -> ((s, dir) => {
      val lexical = TextOps.queries("text_bm25")(s, dir).limit(20)
      val q = Tables.embeddings(s, dir).filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"))
      val cand = lexical
        .join(Tables.embeddings(s, dir), col("doc_id") === col("vec_id"))
        .crossJoin(broadcast(q))
        .select(col("doc_id"), col("bm25"),
          (Vectors.similitud(col("embedding"), col("qv")) / 100).as("cos"))
      // normalization max via a full-frame window, NOT a separate
      // aggregate + cross join: cand consumed twice would re-plan the
      // whole corpus-scale bm25 subtree (no exchange reuse across the
      // broadcast boundary). The single-partition window is safe — the
      // relation is the 20-row candidate set by construction.
      val wAll = Window.partitionBy(lit(0))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      cand.withColumn("mx", max(col("bm25")).over(wAll))
        .select(col("doc_id"), col("bm25"), round(col("cos"), 4).as("cos"),
          round(lit(0.5) * col("bm25") / col("mx") +
            lit(0.5) * col("cos"), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
    }),

    // LSH ANN (the other scale path, complementing `ann_ivf`): 8
    // random-hyperplane sign bits pack each vector into a 1-byte bucket
    // signature (SimHash over the continuous space). The probe inspects
    // only buckets within Hamming distance 1 of its own (multi-probe), so
    // the exact-cosine work is |few buckets|, not |table|. r17
    // (spec-only until now): the hyperplanes are the FIXED md5-derived
    // Rademacher sign table [[LshSigns]], each plane's dot an exact
    // BIGINT fold over the 10⁶-quantized coordinates generated by ONE
    // SQL builder both engines consume ([[lshDotSql]]) — so the buckets,
    // the Hamming-1 candidate set, and the final exact-cosine ranks all
    // replay in DuckDB and the key is fully ORACLED. The signature is
    // one codegen'd in-row expression over the scan (no plane relation,
    // no join, no extra pass — cheaper than the broadcast-plane form it
    // replaces); the whole query is one linear scan + a 1-row probe
    // broadcast. Recall vs `ann_brute` stays pinned in SimilaritySpec.
    "ann_lsh" -> ((s, dir) => {
      val withB = Tables.embeddings(s, dir)
        .withColumn("bucket", lshBucketCol(col("embedding")))
      val probeB = withB.filter(col("vec_id") === 42)
        .select(col("bucket").as("qb"), col("embedding").as("qv"))
      withB.filter(col("vec_id") =!= 42).crossJoin(broadcast(probeB))
        .filter(bit_count(col("bucket").bitwiseXOR(col("qb"))) <= 1)
        .select(col("vec_id"), Vectors.similitud(col("embedding"), col("qv")).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    }),

    // IVF ANN (scale path). Train: coarse centroids = per-dimension means
    // seeded by the fixture `label` (one k-means step), computed
    // distributively via posexplode + groupBy — never collected to the
    // driver. Assign: every vector goes to its NEAREST centroid (true
    // coarse quantization — the raw label is uncorrelated with cosine
    // geometry in the fixture). Probe: the nprobe=3 nearest lists for the
    // query, exact cosine only within them — cost |probed lists|, not |n|.
    // Oracled since r11: the centroid means ride the ml_kmeans
    // exact-DECIMAL + 6dp-round discipline (order-independent, so DuckDB
    // replays them bit-for-bit), assignment/probe argmaxes rank on the
    // identical left-fold cosine with a list_id tiebreak, and recall vs
    // ann_brute stays pinned in SimilaritySpec.
    "ann_ivf" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // persisted: the tiny centroid table feeds both the assignment pass
      // and the probe-list ranking — without the cache the 64×n posexplode
      // aggregation (the "training" scan) runs twice
      val centroids = e
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "pos")
        .agg(round(
          sum(col("v").cast("double").cast("decimal(28,10)")).cast("double") /
            count(lit(1)), 6).as("v"))
        .groupBy("label")
        .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("pv"))
        .select(col("label").as("list_id"),
          transform(col("pv"), x => x.getField("v")).as("centroid"))
        .persist()
      val assigned = e.crossJoin(broadcast(centroids))
        .withColumn("csim", Vectors.cosine(col("embedding"), col("centroid")))
        .groupBy("vec_id")
        .agg(max_by(col("list_id"), struct(col("csim"), -col("list_id"))).as("list_id"),
          first(col("embedding")).as("embedding"))
      val q = e.filter(col("vec_id") === 42).select(col("embedding").as("qv"))
      val probed = centroids.crossJoin(broadcast(q))
        .select(col("list_id"), Vectors.cosine(col("centroid"), col("qv")).as("csim"))
        .orderBy(col("csim").desc, col("list_id"))
        .limit(3)
        .select("list_id")
      assigned.join(broadcast(probed), "list_id")
        .filter(col("vec_id") =!= 42)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), Vectors.similitud(col("embedding"), col("qv")).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    }),

    // Product-quantization ANN (the memory-scale path: at 100 TB the raw
    // vectors don't fit the cluster's RAM, but M-byte PQ codes do — 64
    // float dims compress to M=4 code bytes, 64×). Train: per-subspace
    // K=16 codebooks by 2 Lloyd iterations DRIVER-SIDE over a bounded
    // deterministic sample (md5-ordered top-PqTrainSample) — the
    // FAISS/MLlib shape: codebook training is sample-bounded regardless
    // of corpus size, so at 100 TB it is one small collect; ENCODE is
    // the only data-scale pass. (Earlier revisions ran Lloyd as
    // distributed jobs — 2 extra scan+shuffle+collect rounds to compute
    // 64 centroids; profiled at ~1 s/iteration of pure plan+job overhead
    // on a table the sample already covers.)
    // Encode: each vector → M code bytes via an in-row codegen'd
    // `array_min(struct(dist, cid))` argmin over the broadcast codebook
    // (deterministic lowest-cid tiebreak), no shuffle. Probe (ADC,
    // asymmetric distance computation): the 64-entry (m, cid) → distance
    // table derives in-plan from the local codebook relation × the
    // broadcast query row; approx dist = Σ_m table[m, code_m] — the scan
    // touches CODES only, never raw vectors. The top-50 by ADC re-rank
    // by exact L2 (fetch-then-rerank, the standard PQ serving shape).
    // Whole query = 2 jobs: the sample collect + the encode/probe/rerank
    // plan. Oracled since r11: the fixed 2-iteration Lloyd is
    // deterministically unrolled over the md5-ordered sample with
    // DECIMAL-exact component means, so DuckDB replays training, encode
    // argmins (d, cid tiebreak), the ADC table, and the exact re-rank;
    // recall vs the exact L2 top-10 stays pinned in SimilaritySpec.
    "ann_pq" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      // bounded training sample: md5 ordering = deterministic, unbiased,
      // reproducible across engines/retries; a TakeOrdered job. The
      // sample + the driver Lloyd below are a pure function of the
      // immutable fixture, so the trained codebook is memoized per
      // (session, dir) — r18 opt, the nodeCountMemo / BPE-training-run
      // class: un-memoized, every construction re-ran the collect AND
      // the BigDecimal training loop just to rebuild 16×16×4 doubles.
      lazy val sample = e
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(PqTrainSample).collect()
        .map(_.getSeq[Float](1).toArray)
      // per-subspace Lloyd: seeds = first K sample rows (md5 order);
      // argmin tiebreak = lowest cid; empty clusters keep their centroid.
      // Centroid means follow the ml_kmeans replay discipline (r11): each
      // component casts to DECIMAL(28,10) (exact, order-independent sum),
      // the mean divides as double and rounds HALF_UP at 6dp — the
      // identical arithmetic DuckDB's round(CAST(sum(CAST(x AS
      // DECIMAL(28,10))) AS DOUBLE) / count(*), 6) performs, which is
      // what lets the whole driver-side loop be oracled.
      def lloyd(m: Int): Array[Array[Double]] = {
        val pts = sample.map(v => v.slice(m * PqSub, (m + 1) * PqSub).map(_.toDouble))
        var cents = pts.take(PqK)
        for (_ <- 1 to 2) {
          val sums = Array.fill(PqK, PqSub)(java.math.BigDecimal.ZERO)
          val cnts = new Array[Long](PqK)
          pts.foreach { p =>
            var best = 0; var bd = Double.MaxValue
            var c = 0
            while (c < cents.length) {
              var d = 0.0; var j = 0
              while (j < PqSub) { val t = p(j) - cents(c)(j); d += t * t; j += 1 }
              if (d < bd) { bd = d; best = c }
              c += 1
            }
            var j = 0
            while (j < PqSub) {
              // valueOf (the Double.toString path), not the exact-binary
              // constructor: it is what Spark's double→DECIMAL cast uses,
              // the semantics the green ml_kmeans oracle already proves
              // agree with DuckDB's cast on this fixture family
              sums(best)(j) = sums(best)(j).add(
                java.math.BigDecimal.valueOf(p(j))
                  .setScale(10, java.math.RoundingMode.HALF_UP))
              j += 1
            }
            cnts(best) += 1
          }
          cents = Array.tabulate(cents.length) { c =>
            if (cnts(c) > 0) sums(c).map(s =>
              java.math.BigDecimal.valueOf(s.doubleValue() / cnts(c))
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
            else cents(c)
          }
        }
        cents
      }
      // codebook → one local-relation row per subspace (no job to build);
      // array-of-structs so the encode argmin is in-row; components stay
      // double (a float truncation here would be one more cast the
      // oracle had to replicate for zero benefit at 16×16×4 values)
      val cbdf = pqCodebookMemo.getOrElseUpdate(s, dir) {
        (0 until PqM).map { m =>
          (m, lloyd(m).zipWithIndex.toSeq.map { case (cv, cid) =>
            (cid, cv.toSeq) })
        }
      }.toDF("m", "carr")
        .select(col("m"), transform(col("carr"), c =>
          struct(c.getField("_1").as("cid"), c.getField("_2").as("cvec"))).as("carr"))
      // encode: (vec_id, m, code) — the only data-scale pass
      val subs = e.select(col("vec_id"), posexplode(
          transform(sequence(lit(0), lit(PqM - 1)),
            m => slice(col("embedding"), m * PqSub + 1, lit(PqSub)))).as(Seq("m", "sub")))
      val codes = subs.join(broadcast(cbdf), "m")
        .select(col("vec_id"), col("m"),
          array_min(transform(col("carr"), c =>
            struct(Vectors.l2sq(col("sub"), c.getField("cvec")).as("d"),
              c.getField("cid").as("cid")))).getField("cid").as("cid"))
      val q = e.filter(col("vec_id") === 42).select(col("embedding").as("qv"))
      // ADC distance table: local codebook × broadcast query row, 64 rows
      val dtab = cbdf.crossJoin(broadcast(q))
        .select(col("m"), explode(col("carr")).as("c"), col("qv"))
        .select(col("m"), col("c.cid").as("cid"),
          Vectors.l2sq(col("c.cvec"),
            slice(col("qv"), col("m") * PqSub + lit(1), lit(PqSub))).as("dq"))
      // the M partial distances fold as exact DECIMAL (r11): a raw
      // double sum's order is engine-scheduling-dependent, and the
      // top-50 cut below ranks on this value, so the oracle needs it
      // order-independent
      val cand = codes.join(broadcast(dtab), Seq("m", "cid"))
        .groupBy("vec_id")
        .agg(sum(col("dq").cast("decimal(28,10)")).cast("double").as("adist"))
        .filter(col("vec_id") =!= 42)
        .orderBy(col("adist"), col("vec_id")).limit(50)
      cand.join(e, "vec_id").crossJoin(broadcast(q))
        .select(col("vec_id"), round(Vectors.l2sq(col("embedding"), col("qv")), 4).as("l2sq"))
        .orderBy(col("l2sq"), col("vec_id"))
        .limit(10)
    }),

    // k-NN classification: label 10 probe vectors by majority vote of
    // their 5 nearest neighbors (cosine). The scale shape mirrors
    // `ann_brute` — the PROBE set broadcasts (it is the small side by
    // construction), the corpus streams through one codegen'd cosine per
    // (row, probe), and the top-5/vote windows partition on qid so state
    // is bounded by the probe count. Integer-only output.
    "ml_knn" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"), col("label"))
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val sims = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), col("label"),
          round(graft.functions.ArrayExprs.cosine(col("embedding"), col("qv")) * 100, 4).as("sim"))
      val wNn = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
      val votes = sims.withColumn("rn", row_number().over(wNn)).filter(col("rn") <= 5)
        .groupBy("qid", "label").agg(count(lit(1)).as("votes"))
      val wV = Window.partitionBy("qid").orderBy(col("votes").desc, col("label"))
      votes.withColumn("r", row_number().over(wV)).filter(col("r") === 1)
        .select(col("qid"), col("label").as("pred"), col("votes"))
        .orderBy("qid")
    }),

    // Distributed k-means (Lloyd), k=8, two iterations unrolled into ONE
    // declarative plan — the canonical big-data clustering loop, written
    // the way it scales: assignment is a broadcast of k tiny centroids
    // against the partitioned point set (never a shuffle of points), the
    // centroid update is one partial+final aggregation over (cid, dim)
    // components, and no driver-side loop touches the data. Cross-engine
    // determinism (the oracle replays every step): init = the first k
    // vec_ids; distances fold left in index order (Vectors.l2sq ↔
    // DuckDB list_sum∘list_transform); component means go through exact
    // DECIMAL sums and round to 6dp; argmin ties break on cid; the
    // output carries integers only. At 100 TB the identical plan holds —
    // iterations add plan depth, points never leave their partitions.
    "ml_kmeans" -> ((s, dir) =>
      lloydAssign(s, dir)
        .groupBy("cid")
        .agg(count(lit(1)).as("n_points"), min(col("vec_id")).as("min_vec"))
        .orderBy("cid")),

    // NDCG@10 of the cosine retrieval ranking — the graded ranking metric
    // every retrieval/RAG eval reports: does embedding similarity
    // actually surface same-label items? Relevance is graded by label
    // distance to the probe (3 = same label … 0 = far), gains are the
    // standard 2^rel − 1, and the position discount 1/log2(pos+1) is a
    // FIXED LITERAL LADDER shared verbatim with the oracle (both engines
    // consume identical constants — in-engine log2 is not guaranteed
    // bit-equal). Scale shape: the corpus-scale work is exactly
    // `ann_brute`'s broadcast-probe scan + TakeOrderedAndProject top-10;
    // both ranking windows and the final aggregate run over the 10-row
    // candidate relation (the global Window.orderBy here is over a
    // LIMIT-bounded set, not the corpus). Per-term products fold as
    // exact DECIMAL so the 10-term DCG sums are order-independent.
    "ml_ndcg" -> ((s, dir) => {
      val q = Tables.embeddings(s, dir).filter(col("vec_id") === 42)
        .select(col("embedding").as("qv"), col("label").as("qlabel"))
      val top = Tables.embeddings(s, dir).filter(col("vec_id") =!= 42)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"), col("qlabel"),
          Vectors.similitud(col("embedding"), col("qv")).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
      def ladder(rank: org.apache.spark.sql.Column) =
        NdcgWeights.tail.foldLeft(
          when(rank === NdcgWeights.head._1, NdcgWeights.head._2)) {
          case (acc, (p, v)) => acc.when(rank === p, v)
        }.otherwise(0.0)
      val scored = top
        .withColumn("rank",
          row_number().over(Window.orderBy(col("sim").desc, col("vec_id"))))
        .withColumn("irank",
          row_number().over(Window.orderBy(
            abs(col("label") - col("qlabel")), col("vec_id"))))
        .withColumn("rel",
          greatest(lit(0), lit(3) - abs(col("label") - col("qlabel"))))
        .withColumn("gain", when(col("rel") === 3, 7.0)
          .when(col("rel") === 2, 3.0).when(col("rel") === 1, 1.0)
          .otherwise(0.0))
      scored.agg(
          count(lit(1)).as("n_cands"),
          sum((col("gain") * ladder(col("rank"))).cast("decimal(28,10)"))
            .cast("double").as("dcg"),
          sum((col("gain") * ladder(col("irank"))).cast("decimal(28,10)"))
            .cast("double").as("idcg"))
        .select(col("n_cands"), round(col("dcg"), 6).as("dcg"),
          round(col("idcg"), 6).as("idcg"),
          round(when(col("idcg") > 0, col("dcg") / col("idcg")), 6).as("ndcg"))
    }),

    // MRR@10 + hits@10 — the binary-relevance companion to `ml_ndcg`
    // (the metric QA/retrieval evals report when each query has exactly
    // one right answer class): relevant = same label as the probe; MRR
    // is the reciprocal rank of the FIRST relevant candidate, 0 if the
    // top-10 has none. Scale shape is identical to `ann_brute`: one
    // broadcast-probe scan + TakeOrderedAndProject top-10, then both the
    // rank window and the final aggregate run over the 10-row candidate
    // relation (the global Window.orderBy is LIMIT-bounded, not corpus).
    // 1/rank is an exactly-rounded IEEE division of small integers, so
    // no cross-engine fp drift.
    "ml_mrr" -> ((s, dir) => {
      val q = Tables.embeddings(s, dir).filter(col("vec_id") === 42)
        .select(col("embedding").as("qv"), col("label").as("qlabel"))
      val top = Tables.embeddings(s, dir).filter(col("vec_id") =!= 42)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"), col("qlabel"),
          Vectors.similitud(col("embedding"), col("qv")).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
      top
        .withColumn("rank",
          row_number().over(Window.orderBy(col("sim").desc, col("vec_id"))))
        .withColumn("rel",
          (col("label") === col("qlabel")).cast("int"))
        .agg(
          count(lit(1)).as("n_cands"),
          sum(col("rel").cast("long")).as("hits"),
          min(when(col("rel") === 1, col("rank"))).as("first_rel_rank"))
        .select(col("n_cands"), col("hits"), col("first_rel_rank"),
          round(coalesce(lit(1.0) / col("first_rel_rank"), lit(0.0)), 6)
            .as("mrr"))
    }),

    // Filtered vector search, PRE-filter semantics (r11): top-10 among
    // rows passing a metadata predicate (label == the probe's label) —
    // "vector search with a WHERE clause", the serving-stack feature
    // every production ANN system grows. Pre-filter means the predicate
    // prunes BEFORE ranking, so the result has k rows whenever k
    // candidates exist; the tempting post-filter form (take the
    // unfiltered top-k, then apply the predicate) silently returns
    // FEWER than k — the documented recall trap this key pins the right
    // semantics against. Execution: exactly ann_brute's broadcast-probe
    // scan with the equality predicate fused into it (codegen'd filter
    // before the cosine, so non-matching rows never pay the kernel) and
    // TakeOrderedAndProject for the top-k — no shuffle of ranked rows.
    "ann_prefiltered" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") === 42)
        .select(col("embedding").as("qv"), col("label").as("qlabel"))
      e.filter(col("vec_id") =!= 42)
        .crossJoin(broadcast(q))
        .filter(col("label") === col("qlabel"))
        .select(col("vec_id"),
          Vectors.similitud(col("embedding"), col("qv")).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    }),

    // Recall@10 over the 10-probe retrieval panel (r11) — the coverage
    // companion to ml_mrr (rank of the first hit) and ml_ndcg (graded
    // gain): what FRACTION of each probe's same-label items does the
    // cosine top-10 actually surface? The denominator is the lesser of
    // k and the probe's relevant-item count, so a label with 3 members
    // can still score a perfect 1.0 (the standard capped-recall form).
    // Corpus work is exactly the ml_knn broadcast-probe scan; the rank
    // window partitions on qid (state bounded by probes), and the
    // relevant-count side is a |labels|-row broadcast derived in one
    // map-side-combined aggregate — never a second corpus pass.
    "ml_recall_at_k" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"), col("label"))
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("label").as("qlabel"))
      val lc = e.groupBy("label").agg(count(lit(1)).as("nl"))
      val sims = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
          Vectors.similitud(col("embedding"), col("qv")).as("sim"))
      val wNn = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
      sims.withColumn("rn", row_number().over(wNn)).filter(col("rn") <= 10)
        .groupBy("qid", "qlabel")
        .agg(sum(when(col("label") === col("qlabel"), 1L).otherwise(0L))
          .as("hits"))
        .join(broadcast(lc), col("qlabel") === col("label"))
        // n_rel excludes the probe itself (it is not a candidate)
        .withColumn("n_rel", col("nl") - 1)
        .select(col("qid"), col("n_rel"), col("hits"),
          when(col("n_rel") > 0, graft.functions.Num.pin(
            col("hits").cast("double") / least(lit(10L), col("n_rel")), 6))
            .as("recall_at_10"))
        .orderBy("qid")
    })
  )

  /** NDCG position-discount ladder: (pos, 1/log2(pos+1)) for pos 1..10,
    * fixed to 10dp so the Spark plan and the DuckDB oracle consume the
    * SAME double constants (in-engine log2 is not bit-pinned). */
  private[graft] val NdcgWeights: Seq[(Int, Double)] =
    (1 to 10).map { p =>
      p -> "%.10f".format(math.log(2.0) / math.log(p + 1.0)).toDouble
    }

  /** The ideal-ranking CASE ladder as oracle SQL (same constants). */
  private def ndcgCaseSql(rankExpr: String): String =
    NdcgWeights.map { case (p, v) => s"WHEN $rankExpr = $p THEN $v" }
      .mkString("CASE ", " ", " ELSE 0.0 END")

  /** The (vec_id, cid) assignment after `ml_kmeans`'s 2-iteration Lloyd
    * loop (k = 8, centroids seeded from vec_id < 8, exact-DECIMAL
    * component means, (distance, cid) argmin tiebreak) — extracted so
    * `dedup_semantic` partitions by the SAME clusters `ml_kmeans`
    * reports; both oracles replay the identical unrolled loop. */
  private val lloydAssignMemo = new SessionTableMemo.Single(
    "graft_lloyd_assign_",
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cid",
        org.apache.spark.sql.types.LongType))))

  /** Session-shared (r18 opt): `ml_kmeans` and `dedup_semantic` consume
    * the identical assignment, and each re-ran both Lloyd passes; the
    * relation is vector-cardinality × 2 longs, so the similarEdges
    * write-once trade applies. */
  private[graft] def lloydAssign(s: SparkSession, dir: String): DataFrame =
    lloydAssignMemo.get(s, dir)(deriveLloydAssign(s, dir))

  private def deriveLloydAssign(s: SparkSession, dir: String): DataFrame = {
    val k = 8
    val pts = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val c0 = pts.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    def assign(cent: DataFrame): DataFrame =
      pts.crossJoin(broadcast(cent))
        .withColumn("d2", Vectors.l2sq(col("embedding"), col("cvec")))
        .groupBy("vec_id")
        .agg(min(struct(col("d2"), col("cid"))).as("best"))
        .select(col("vec_id"), col("best.cid").as("cid"))
    val comp = pts.join(assign(c0), "vec_id")
      .select(col("cid"), posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy("cid", "d")
      .agg(round(
        sum(col("x").cast("double").cast("decimal(28,10)")).cast("double") /
          count(lit(1)), 6).as("m"))
    val c1 = comp.groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("d"), col("m")))),
        e => e("m")).as("cvec"))
    assign(c1)
  }

  /** The left-fold cosine `ArrayExprs.cosine` computes, as DuckDB SQL:
    * dot / (sqrt(na) · sqrt(nb)), every accumulation in index order —
    * `list_sum`'s sequential fold matches the codegen'd loop bit-for-bit
    * (the ml_kmeans l2sq precedent). */
  private def cosSql(a: String, b: String): String =
    s"(list_sum(list_transform(range($EmbedDim), i -> $a[i + 1] * $b[i + 1]))" +
      s" / (sqrt(list_sum(list_transform(range($EmbedDim), i -> $a[i + 1] * $a[i + 1])))" +
      s" * sqrt(list_sum(list_transform(range($EmbedDim), i -> $b[i + 1] * $b[i + 1])))))"

  /** Per-subspace squared L2 between a 16-dim sub-slice and a centroid
    * list, index-order fold — the lloyd/encode/ADC distance replay. */
  private def l2SubSql(a: String, b: String): String =
    s"list_sum(list_transform(range($PqSub), i -> ($a[i + 1] - $b[i + 1]) * ($a[i + 1] - $b[i + 1])))"

  def oracles: Map[String, String] = Map(
    // buckets replay from the same generated BIGINT dot chains (the
    // shared lshBucketSql text modulo 1-based indexing syntax), the
    // candidate set is the same Hamming-1 integer compare, and the
    // final ranks are the established list_cosine_similarity 4dp form
    "ann_lsh" -> {
      s"""WITH b AS (
           SELECT vec_id, embedding,
                  $lshBucketSql AS bucket
           FROM embeddings),
         q AS (SELECT bucket AS qb, CAST(embedding AS DOUBLE[]) AS qv
               FROM b WHERE vec_id = 42)
         SELECT vec_id,
                round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                  (SELECT qv FROM q)) * 100, 4) AS sim
         FROM b
         WHERE vec_id <> 42
           AND bit_count(xor(bucket, (SELECT qb FROM q))) <= 1
         ORDER BY sim DESC, vec_id LIMIT 10"""
    },
    // replays ann_ivf end to end: exact-DECIMAL 6dp centroid means per
    // (label, pos), nearest-centroid assignment and the nprobe=3 probe
    // both ranked on the identical left-fold cosine with a list_id
    // tiebreak, exact cosine only within the probed lists
    "ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                     FROM embeddings),
          cent AS (
            SELECT list_id, list(v ORDER BY pos) AS c FROM (
              SELECT label AS list_id, t.i AS pos,
                     round(CAST(sum(CAST(e[t.i + 1] AS DECIMAL(28,10))) AS DOUBLE)
                           / count(*), 6) AS v
              FROM e, range($EmbedDim) t(i) GROUP BY label, t.i
            ) GROUP BY list_id
          ),
          q AS (SELECT e AS qv FROM e WHERE vec_id = 42),
          asg AS (
            SELECT vec_id, list_id FROM (
              SELECT p.vec_id, c.list_id,
                     row_number() OVER (PARTITION BY p.vec_id ORDER BY
                       ${cosSql("p.e", "c.c")} DESC NULLS LAST, c.list_id) AS k
              FROM e p CROSS JOIN cent c
            ) WHERE k = 1
          ),
          probed AS (
            SELECT list_id FROM cent c CROSS JOIN q
            ORDER BY ${cosSql("c.c", "q.qv")} DESC NULLS LAST, list_id
            LIMIT 3
          )
          SELECT p.vec_id, round(${cosSql("p.e", "q.qv")} * 100, 4) AS sim
          FROM e p JOIN asg a ON p.vec_id = a.vec_id CROSS JOIN q
          WHERE a.list_id IN (SELECT list_id FROM probed) AND p.vec_id <> 42
          ORDER BY sim DESC, p.vec_id LIMIT 10""",

    // replays ann_pq end to end: the md5-ordered $PqTrainSample training
    // sample, two unrolled Lloyd rounds per subspace (seeds = first $PqK
    // sample rows, (d, cid) argmin, DECIMAL-exact 6dp component means,
    // empty clusters keep their centroid), full-table encode against the
    // final codebooks, the 64-entry ADC table, DECIMAL-exact ADC sums,
    // top-50 cut, exact-L2 re-rank
    "ann_pq" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                     FROM embeddings),
          samp AS (
            SELECT rn, e FROM (
              SELECT e, row_number() OVER (
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
              FROM e
            ) WHERE rn <= $PqTrainSample
          ),
          subs AS (
            SELECT s.rn, m.m AS m,
                   list_slice(s.e, m.m * $PqSub + 1, m.m * $PqSub + $PqSub) AS sub
            FROM samp s, range($PqM) m(m)
          ),
          c0 AS (SELECT m, rn - 1 AS cid, sub AS c FROM subs WHERE rn <= $PqK),
          a1 AS (
            SELECT m, rn, cid FROM (
              SELECT s.m, s.rn, c.cid,
                     row_number() OVER (PARTITION BY s.m, s.rn ORDER BY
                       ${l2SubSql("s.sub", "c.c")}, c.cid) AS k
              FROM subs s JOIN c0 c USING (m)
            ) WHERE k = 1
          ),
          m1 AS (
            SELECT a.m, a.cid, t.i AS j,
                   round(CAST(sum(CAST(s.sub[t.i + 1] AS DECIMAL(28,10))) AS DOUBLE)
                         / count(*), 6) AS v
            FROM a1 a JOIN subs s USING (m, rn), range($PqSub) t(i)
            GROUP BY a.m, a.cid, t.i
          ),
          c1 AS (
            SELECT c0.m, c0.cid, coalesce(u.c, c0.c) AS c
            FROM c0 LEFT JOIN (
              SELECT m, cid, list(v ORDER BY j) AS c FROM m1 GROUP BY m, cid
            ) u ON c0.m = u.m AND c0.cid = u.cid
          ),
          a2 AS (
            SELECT m, rn, cid FROM (
              SELECT s.m, s.rn, c.cid,
                     row_number() OVER (PARTITION BY s.m, s.rn ORDER BY
                       ${l2SubSql("s.sub", "c.c")}, c.cid) AS k
              FROM subs s JOIN c1 c USING (m)
            ) WHERE k = 1
          ),
          m2 AS (
            SELECT a.m, a.cid, t.i AS j,
                   round(CAST(sum(CAST(s.sub[t.i + 1] AS DECIMAL(28,10))) AS DOUBLE)
                         / count(*), 6) AS v
            FROM a2 a JOIN subs s USING (m, rn), range($PqSub) t(i)
            GROUP BY a.m, a.cid, t.i
          ),
          c2 AS (
            SELECT c1.m, c1.cid, coalesce(u.c, c1.c) AS c
            FROM c1 LEFT JOIN (
              SELECT m, cid, list(v ORDER BY j) AS c FROM m2 GROUP BY m, cid
            ) u ON c1.m = u.m AND c1.cid = u.cid
          ),
          enc AS (
            SELECT p.vec_id, m.m AS m,
                   list_slice(p.e, m.m * $PqSub + 1, m.m * $PqSub + $PqSub) AS sub
            FROM e p, range($PqM) m(m)
          ),
          codes AS (
            SELECT vec_id, m, cid FROM (
              SELECT n.vec_id, n.m, c.cid,
                     row_number() OVER (PARTITION BY n.vec_id, n.m ORDER BY
                       ${l2SubSql("n.sub", "c.c")}, c.cid) AS k
              FROM enc n JOIN c2 c USING (m)
            ) WHERE k = 1
          ),
          q AS (SELECT e AS qv FROM e WHERE vec_id = 42),
          dtab AS (
            SELECT c.m, c.cid,
                   list_sum(list_transform(range($PqSub), i ->
                     (c.c[i + 1] - q.qv[c.m * $PqSub + i + 1])
                     * (c.c[i + 1] - q.qv[c.m * $PqSub + i + 1]))) AS dq
            FROM c2 c CROSS JOIN q
          ),
          cand AS (
            SELECT vec_id,
                   CAST(sum(CAST(dq AS DECIMAL(28,10))) AS DOUBLE) AS adist
            FROM codes JOIN dtab USING (m, cid)
            WHERE vec_id <> 42
            GROUP BY vec_id
            ORDER BY adist, vec_id LIMIT 50
          )
          SELECT c.vec_id,
                 round(list_sum(list_transform(range($EmbedDim), i ->
                   (p.e[i + 1] - q.qv[i + 1]) * (p.e[i + 1] - q.qv[i + 1]))), 4)
                   AS l2sq
          FROM cand c JOIN e p ON p.vec_id = c.vec_id CROSS JOIN q
          ORDER BY l2sq, c.vec_id LIMIT 10""",

    "ann_prefiltered" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                     FROM embeddings),
          q AS (SELECT e AS qv, label AS qlabel FROM e WHERE vec_id = 42)
          SELECT p.vec_id, round(${cosSql("p.e", "q.qv")} * 100, 4) AS sim
          FROM e p CROSS JOIN q
          WHERE p.vec_id <> 42 AND p.label = q.qlabel
          ORDER BY sim DESC, p.vec_id LIMIT 10""",

    // replays the 10-probe panel: same rounded cosine, same (sim desc,
    // vec_id) tiebreak, relevant counts from the label histogram minus
    // the probe itself, capped-recall denominator
    "ml_recall_at_k" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                     FROM embeddings),
          q AS (SELECT vec_id AS qid, label AS qlabel, e AS qv
                FROM e WHERE vec_id < 10),
          lc AS (SELECT label, count(*) AS nl FROM e GROUP BY label),
          sims AS (
            SELECT q.qid, q.qlabel, p.vec_id, p.label,
                   round(${cosSql("p.e", "q.qv")} * 100, 4) AS sim
            FROM e p CROSS JOIN q WHERE p.vec_id <> q.qid
          ),
          top AS (
            SELECT qid, qlabel, label FROM (
              SELECT qid, qlabel, label,
                     row_number() OVER (PARTITION BY qid
                       ORDER BY sim DESC, vec_id) AS rn
              FROM sims
            ) WHERE rn <= 10
          )
          SELECT t.qid, CAST(l.nl - 1 AS BIGINT) AS n_rel,
                 CAST(sum(CASE WHEN t.label = t.qlabel THEN 1 ELSE 0 END)
                      AS BIGINT) AS hits,
                 CASE WHEN l.nl - 1 > 0 THEN
                   floor(CAST(sum(CASE WHEN t.label = t.qlabel THEN 1 ELSE 0 END)
                              AS DOUBLE)
                         / least(10, l.nl - 1) * 1e6 + 0.5) / 1e6
                 END AS recall_at_10
          FROM top t JOIN lc l ON l.label = t.qlabel
          GROUP BY t.qid, l.nl ORDER BY t.qid""",

    // the candidate CTE replays ann_brute's ranking (same probe, same
    // rounded cosine, same tiebreak); the discount ladder interpolates
    // the SAME double constants the Spark plan uses
    "ml_ndcg" ->
      s"""WITH q AS (
           SELECT CAST(embedding AS DOUBLE[]) AS qv, label AS qlabel
           FROM embeddings WHERE vec_id = 42
         ), top AS (
           SELECT vec_id, label, qlabel,
                  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv) * 100, 4) AS sim
           FROM embeddings CROSS JOIN q WHERE vec_id <> 42
           ORDER BY sim DESC, vec_id LIMIT 10
         ), scored AS (
           SELECT vec_id,
                  row_number() OVER (ORDER BY sim DESC, vec_id) AS rank,
                  row_number() OVER (ORDER BY abs(label - qlabel), vec_id) AS irank,
                  CASE greatest(0, 3 - abs(label - qlabel))
                    WHEN 3 THEN 7.0 WHEN 2 THEN 3.0 WHEN 1 THEN 1.0
                    ELSE 0.0 END AS gain
           FROM top
         ), sums AS (
           SELECT count(*) AS n_cands,
                  CAST(sum(CAST(gain * (${ndcgCaseSql("rank")}) AS DECIMAL(28,10))) AS DOUBLE) AS dcg,
                  CAST(sum(CAST(gain * (${ndcgCaseSql("irank")}) AS DECIMAL(28,10))) AS DOUBLE) AS idcg
           FROM scored
         )
         SELECT n_cands, round(dcg, 6) AS dcg, round(idcg, 6) AS idcg,
                round(CASE WHEN idcg > 0 THEN dcg / idcg END, 6) AS ndcg
         FROM sums""",
    // the candidate CTE replays ann_brute's ranking verbatim (same probe,
    // same rounded cosine, same tiebreak as ml_ndcg's oracle)
    "ml_mrr" ->
      """WITH q AS (
           SELECT CAST(embedding AS DOUBLE[]) AS qv, label AS qlabel
           FROM embeddings WHERE vec_id = 42
         ), top AS (
           SELECT vec_id, label, qlabel,
                  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv) * 100, 4) AS sim
           FROM embeddings CROSS JOIN q WHERE vec_id <> 42
           ORDER BY sim DESC, vec_id LIMIT 10
         ), scored AS (
           SELECT row_number() OVER (ORDER BY sim DESC, vec_id) AS rank,
                  CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel
           FROM top
         )
         SELECT count(*) AS n_cands,
                CAST(sum(rel) AS BIGINT) AS hits,
                CAST(min(CASE WHEN rel = 1 THEN rank END) AS INT) AS first_rel_rank,
                round(coalesce(CAST(1.0 AS DOUBLE) / min(CASE WHEN rel = 1 THEN rank END), 0.0), 6) AS mrr
         FROM scored""",
    // stage 1 IS text_bm25's oracle (nested WITH, top-20), so the lexical
    // candidates are pinned to the same values the text_bm25 key verifies
    "ann_hybrid_rerank" ->
      s"""WITH bm AS (
           ${TextOps.oracles("text_bm25")}
           LIMIT 20
         ), qv AS (
           SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
         ), cand AS (
           SELECT bm.doc_id, bm.bm25,
                  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                               qv.qv) * 100, 4) / 100 AS cos
           FROM bm JOIN embeddings e ON e.vec_id = bm.doc_id CROSS JOIN qv
         ), mx AS (SELECT max(bm25) AS mx FROM cand)
         SELECT doc_id, bm25, round(cos, 4) AS cos,
                round(0.5 * bm25 / mx + 0.5 * cos, 4) AS score
         FROM cand CROSS JOIN mx
         ORDER BY score DESC, doc_id
         LIMIT 10""",
    "sim_edges" ->
      s"""SELECT * FROM (
           SELECT a.vec_id AS src, b.vec_id AS dst,
                  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                               CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
           FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
         ) WHERE similitud >= $EdgeThreshold ORDER BY src, dst""",
    "sim_edges_grid" ->
      s"""SELECT * FROM (
           SELECT a.vec_id AS src, b.vec_id AS dst,
                  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                               CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
           FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
         ) WHERE similitud >= $EdgeThreshold ORDER BY src, dst""",
    "sim_topk" ->
      """SELECT src, dst, similitud, CAST(rn AS INT) AS rn FROM (
           SELECT a.vec_id AS src, b.vec_id AS dst,
                  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                               CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud,
                  row_number() OVER (
                    PARTITION BY a.vec_id
                    ORDER BY round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                          CAST(b.embedding AS DOUBLE[])) * 100, 4) DESC,
                             b.vec_id) AS rn
           FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id
         ) WHERE rn <= 5 ORDER BY src, rn""",
    "ts_pattern_topk" ->
      """SELECT user_id, sim FROM (
           SELECT user_id,
                  round(list_cosine_similarity(CAST(vals[-8:] AS DOUBLE[]),
                    [1.0, 2.0, 3.0, 4.0, 3.0, 2.0, 1.0, 0.0]) * 100, 4) AS sim
           FROM (SELECT user_id, list(value ORDER BY ts, event_id) AS vals
                 FROM events GROUP BY user_id)
           WHERE len(vals) >= 8
         ) ORDER BY sim DESC, user_id LIMIT 20""",
    "ann_range" ->
      """SELECT vec_id, sim FROM (
           SELECT vec_id,
                  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                    CAST((SELECT embedding FROM embeddings WHERE vec_id = 42) AS DOUBLE[])) * 100, 4) AS sim
           FROM embeddings WHERE vec_id <> 42
         ) WHERE sim >= 20.0 ORDER BY sim DESC, vec_id""",
    "ann_brute" ->
      """SELECT vec_id,
                round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                  CAST((SELECT embedding FROM embeddings WHERE vec_id = 42) AS DOUBLE[])) * 100, 4) AS sim
         FROM embeddings WHERE vec_id <> 42
         ORDER BY sim DESC, vec_id LIMIT 10""",
    "ml_knn" ->
      """WITH probes AS (
           SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 10
         ), sims AS (
           SELECT p.qid, e.vec_id, e.label,
                  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.qv) * 100, 4) AS sim
           FROM embeddings e CROSS JOIN probes p WHERE e.vec_id <> p.qid
         ), nn AS (
           SELECT qid, label FROM (
             SELECT qid, label,
                    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
             FROM sims
           ) WHERE rn <= 5
         ), votes AS (
           SELECT qid, label, count(*) AS votes FROM nn GROUP BY qid, label
         )
         SELECT qid, label AS pred, votes FROM (
           SELECT qid, label, votes,
                  row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS r
           FROM votes
         ) WHERE r = 1 ORDER BY qid""",
    "ml_kmeans" ->
      s"""WITH pts AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
          c0 AS (SELECT vec_id AS cid, e AS c FROM pts WHERE vec_id < 8),
          a0 AS (
            SELECT vec_id, cid FROM (
              SELECT p.vec_id, c.cid,
                     row_number() OVER (PARTITION BY p.vec_id ORDER BY
                       list_sum(list_transform(range($EmbedDim),
                         i -> (p.e[i + 1] - c.c[i + 1]) * (p.e[i + 1] - c.c[i + 1]))),
                       c.cid) AS rn
              FROM pts p CROSS JOIN c0 c
            ) WHERE rn = 1
          ),
          comp AS (
            SELECT a.cid, t.i AS d,
                   round(CAST(sum(CAST(p.e[t.i + 1] AS DECIMAL(28,10))) AS DOUBLE)
                         / count(*), 6) AS m
            FROM pts p JOIN a0 a USING (vec_id), range($EmbedDim) t(i)
            GROUP BY a.cid, t.i
          ),
          c1 AS (SELECT cid, list(m ORDER BY d) AS c FROM comp GROUP BY cid),
          a1 AS (
            SELECT vec_id, cid FROM (
              SELECT p.vec_id, c.cid,
                     row_number() OVER (PARTITION BY p.vec_id ORDER BY
                       list_sum(list_transform(range($EmbedDim),
                         i -> (p.e[i + 1] - c.c[i + 1]) * (p.e[i + 1] - c.c[i + 1]))),
                       c.cid) AS rn
              FROM pts p CROSS JOIN c1 c
            ) WHERE rn = 1
          )
          SELECT cid, count(*) AS n_points, min(vec_id) AS min_vec
          FROM a1 GROUP BY cid ORDER BY cid"""
  )
}
