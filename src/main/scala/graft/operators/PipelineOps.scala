package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Num

/** Training-data pipeline operators (north star: the ops a 100 TB
  * LLM-corpus build needs between raw scrape and tokenizer, beyond the
  * dedup/similarity/text suites): deterministic stratified sampling,
  * per-cluster survivor selection, PII scrubbing, dataset mixing, and a
  * behavioral funnel over the event stream.
  *
  * Scale notes (100 TB design):
  *  - Sampling/mixing/scrubbing are single-scan, shuffle-free maps —
  *    embarrassingly parallel, they keep whole-stage codegen intact.
  *    Sampling is HASH-deterministic (md5 of the key), not `rand()`: the
  *    sample is reproducible across retries, engines, and partitionings,
  *    which is what makes a corpus build auditable.
  *  - Survivor selection is one hash-shuffle on the fingerprint key + a
  *    rank-1 window — the standard "keep best copy per dup cluster" step
  *    downstream of [[DedupOps]]; payload columns ride the single shuffle.
  *  - The funnel is one shuffle on user_id: conditional aggregation over
  *    a tagged union beats joining the stream to itself (the join form
  *    shuffles events twice and explodes on hot users).
  */
object PipelineOps {

  /** Per-language keep rates as 16ths of the md5 first-hex-digit space
    * (en 8/16, es 4/16, fr 2/16, others 1/16), expressed as the admitted
    * hex characters — string membership is engine-portable where hex→int
    * conversion is not. */
  val HexDigits = "0123456789abcdef"
  val StratRates: Map[String, Int] = Map("en" -> 8, "es" -> 4, "fr" -> 2)
  val DefaultRate = 1

  /** `pipe_weighted_sample` draw size per source. */
  val WeightedSampleK = 20

  private def admitted(rate: Int): Seq[String] =
    HexDigits.take(rate).map(_.toString)

  /** Mixing epochs per language: en twice, everything else once. */
  val MixEpochs: Map[String, Int] = Map("en" -> 2)

  /** Chunking window / stride (tokens) and packing bin budget (tokens). */
  val ChunkSize   = 50
  val ChunkStride = 40
  val PackBudget  = 1000

  /** Mixture-sampling temperature exponent (p^alpha). */
  val MixAlpha = 0.5

  /** UniMax per-language epoch cap (Chung et al. 2023): no language may
    * be repeated more than this many times, however much budget is left.
    * The declared budget is half the corpus's token mass (T DIV 2), so
    * by construction at least one language is always uncapped (4·T ≤ T/2
    * is impossible) and the equal-share divisor never hits zero. */
  val UniMaxEpochCap = 4L

  /** BPE merge-round cap for `bpeLearn` (training stops earlier when no
    * adjacent pair repeats). 16 is enough for multi-symbol tokens to
    * form on the fixture corpus while the unrolled oracle CTE chain
    * stays tractable for DuckDB. */
  val BpeMerges = 16

  /** Decontamination shingle width (tokens). Real corpora use 8-13-gram
    * overlap; the fixture's synthetic text has near-zero 8-gram collision
    * mass, so 4 is the width at which the declared query pins non-trivial
    * behavior (8 contaminated docs at sf0.01) instead of an empty set. */
  val DecontamNGram = 4

  /** Token-set Jaccard above which a corpus doc counts as near-duplicate
    * contamination of the eval slice (matches the dedup family's bar). */
  val NearDecontamJaccard = 0.9

  /** First-four-hex-digits md5 bucket of a key, in [0, 100) — THE
    * deterministic split key (`pipe_split` documents why four digits).
    * Shared by every operator that must agree on split membership. */
  private def md5Bucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 4), 16, 10).cast("int") % 100

  /** Minimum corpus frequency for a token to enter the vocabulary —
    * the standard tokenizer-pipeline cutoff: a 100 TB web corpus's raw
    * token space (typos, hashes, URLs) is dominated by a singleton tail
    * that can reach 10⁸-10⁹ distinct strings, and the cutoff is what
    * keeps the vocabulary at dictionary scale rather than corpus scale.
    * 2 is semantically visible in the oracle (HAVING count(*) >= 2) but
    * drops nothing on the fixtures (min token count 26); the spec drives
    * the same code with an aggressive cutoff. */
  val VocabMinCount = 2L

  /** Per-source token quota for `pipe_token_budget`'s greedy selection. */
  val TokenBudget = 2000L

  /** Epoch token budget for `pipe_repeat_factors` (double: it only ever
    * scales exactly-rounded fp products). */
  val EpochBudgetTokens = 1.0e7

  /** On-disk schema of the memoized ranked vocabulary. */
  private val VocabSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("token",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType)))

  /** Scratch-parquet memo of the ranked (token, id) vocabulary per
    * (session, dir, minCount) — dictionary-sized by the cutoff, with its
    * measured serialized bytes as the memo value: the counts pass +
    * range-partitioned rank + stats job are a pure function of the
    * immutable fixture, so neither the vocabulary nor the encode join's
    * broadcast decision costs a per-query job. */
  private val vocabMemo = new SessionTableMemo[Long]("graft_vocab_")

  /** The `pipe_vocab` plan, parameterized so the spec can force both the
    * frequency cutoff and the non-broadcast join path.
    *
    * Scale design (the three things that must NOT assume a small vocab):
    *  - `toks` feeds both the vocab aggregation and the re-encode probe,
    *    so the tokenize+explode runs twice (the probe side of the vocab
    *    join has no exchange for ReuseExchange to dedupe). DELIBERATE:
    *    persisting the corpus-sized exploded token table costs more to
    *    materialize than the second linear scan saves (measured
    *    0.45→0.69 s at sf0.1), and at 100 TB an n×tokens-row cache does
    *    not fit memory at all. The VOCAB table (post-cutoff, one row per
    *    distinct kept token) is what persists — dictionary-sized.
    *  - Id assignment never runs a global single-partition window: ranks
    *    come from a range-partition on (cnt desc, token) + per-partition
    *    row_number + cumulative partition offsets (the `pipe_shuffle`
    *    total-order layout) — a parallel sort at any vocabulary size.
    *    The only single-partition window is over the #partitions-sized
    *    counts table, bounded by cluster config.
    *  - The encode join broadcasts the vocab ONLY while its MEASURED
    *    serialized size fits the session's broadcast budget — measured,
    *    not rows × a constant, because a vocabulary is variable-width
    *    strings (URLs, hex hashes) where a per-row heuristic calibrated
    *    for long pairs can overshoot the budget several-fold; past the
    *    budget it degrades to a hash-shuffle join on `token`, which is
    *    linear and never OOMs the driver. The size probe is one tiny agg
    *    over the persisted dictionary-sized table.
    *  - The persist is SCOPED: the counts cache lives only inside the
    *    once-per-session vocab derivation and is released by the memo
    *    after its one-shot parquet write; a library caller invoking this
    *    repeatedly accumulates no cached vocabularies. */
  private[graft] def vocabEncode(s: SparkSession, dir: String,
                                 minCount: Long): DataFrame = {
    val (vocabDir, vocabBytes) = vocabMemo.materialize(s, s"$dir#$minCount") {
      val nParts = s.conf.get("spark.sql.shuffle.partitions").toInt
      val dToks = Tables.documents(s, dir)
        .select(posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      // persisted (within the derivation only; released after the memo's
      // one-shot write): the ranked vocab derives from it twice (offsets
      // pass + rank pass), and the range boundaries come from sampling,
      // so recomputation across jobs could shift pids between the two
      // (the pipe_shuffle determinism note)
      val counts = dToks.groupBy("token").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= minCount)
        .repartitionByRange(nParts, col("cnt").desc, col("token"))
        // no pre-persist sort — the rank window re-sorts above the cache,
        // stats/offs are order-free
        .withColumn("pid", spark_partition_id())
        .persist()
      (out => {
        // one job: vocab cardinality + measured token bytes (64 bytes/row
        // of fixed overhead conservatively covers the id column and row
        // framing)
        val stats = counts.agg(count(lit(1)).as("n"),
          coalesce(sum(length(col("token"))), lit(0L)).as("bytes")).first()
        val offs = counts.groupBy("pid").agg(count(lit(1)).as("n"))
          .withColumn("offset",
            coalesce(sum(col("n")).over(
              Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
              lit(0L)))
          .select("pid", "offset")
        val w = Window.partitionBy("pid").orderBy(col("cnt").desc, col("token"))
        out.write("vocab", counts.join(broadcast(offs), "pid")
          .select(col("token"),
            (row_number().over(w).cast("long") + col("offset")).as("id")))
        stats.getLong(1) + 64L * stats.getLong(0)
      }, () => { counts.unpersist(); () })
    }
    val vocab = vocabDir.read("vocab", VocabSchema)
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
    // the broadcast decision stays per-CALL (live budget conf), only the
    // measurement is memoized — past the budget the encode degrades to a
    // hash-shuffle join on `token`, linear and driver-safe
    val budget =
      org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    val joinSide = if (budget > 0 && vocabBytes <= budget) broadcast(vocab) else vocab
    toks.join(joinSide, "token")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("id")))).as("pi"))
      // serialized as a space-joined string: the declared-query contract
      // keeps output columns scalar (the hash compare is defined on
      // scalars; an ARRAY column would be the only one in the surface)
      .select(col("doc_id"), size(col("pi")).as("n_tokens"),
        concat_ws(" ", transform(col("pi"),
          p => p.getField("id").cast("string"))).as("ids"))
      .orderBy("doc_id")
  }

  /** `pipe_decontaminate`'s (doc_id, n_hits) relation without the
    * presentation sort — extracted (r11) so `pipe_e2e` can chain the
    * decontamination gate as an anti-join without paying a range
    * exchange mid-pipeline.
    *
    * Benchmark decontamination: flag training docs that share any
    * 4-token shingle with the held-out eval slice (doc_id % 97 == 0) —
    * the n-gram-overlap scrub every pre-training corpus runs against its
    * eval benchmarks. Shingles are generated executor-side (sequence +
    * slice, codegen'd) and IMMEDIATELY collapsed to a 64-bit hash of the
    * token-hash slice: no shingle string is ever materialized, the
    * broadcast set / join keys / distinct-count all operate on longs
    * (hashing token hashes, not re-joined text, keeps the 4-gram
    * identity exact up to 64-bit collisions — same trade as the dedup
    * collapse fingerprint). At 100 TB the eval side is tiny by
    * construction (a benchmark suite, not the corpus), so Catalyst
    * broadcasts it and the training side streams through map-side — no
    * all-pairs comparison anywhere. */
  private val decontamHitsMemo = new SessionTableMemo.Single(
    "graft_decontam_hits_",
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_hits",
        org.apache.spark.sql.types.LongType))))

  /** Session-shared (r18 opt): THREE declared keys consume the identical
    * hit relation (`pipe_decontaminate`, `pipe_contam_report`,
    * `pipe_e2e`'s anti-join side), and each re-ran the double shingle
    * pass; the relation is flagged-doc-cardinality × 2 longs, so the
    * similarEdges write-once trade applies. */
  private[graft] def decontamHits(s: SparkSession, dir: String): DataFrame =
    decontamHitsMemo.getReleasing(s, dir)(deriveDecontamHits(s, dir))

  private def deriveDecontamHits(s: SparkSession, dir: String)
      : (DataFrame, () => Unit) = {
    // th materializes as a real column BEFORE the per-shingle lambda:
    // expression trees referenced inside lambda bodies are re-inlined
    // per element (no CSE), so slicing the tokenize-and-hash expression
    // directly would re-hash the whole document once per shingle index
    // — O(tokens²) per doc (same trap [[ArrayExprs.minHashBands]]
    // documents for band extraction).
    def withTh(df: DataFrame): DataFrame =
      df.withColumn("th", transform(split(col("text"), " "), t => xxhash64(t)))
    val idxs = when(size(col("th")) >= DecontamNGram,
      sequence(lit(0), size(col("th")) - DecontamNGram))
      .otherwise(array().cast("array<int>"))
    // The doc_id slice filters run BEFORE the shingle explode, so the
    // eval pass tokenizes only its 1/97 of the corpus instead of
    // exploding everything and filtering rows after (measured: ~2× on
    // the whole query; caching the full shingle table was slower than
    // the second pruned scan).
    def shingles(df: DataFrame): DataFrame =
      withTh(df).select(col("doc_id"),
        explode(transform(idxs,
          i => xxhash64(slice(col("th"), i + 1, lit(DecontamNGram))))).as("sh"))
    val docs = Tables.documents(s, dir)
    val evalSet = shingles(docs.filter(col("doc_id") % 97 === 0))
      .select("sh").distinct()
    // Size-conditional: held-out eval suites are broadcast-sized by
    // construction, but the hint must not be unconditional (a grown
    // eval set past the budget degrades to a shuffle hash join on the
    // 8-byte shingle key — same rows, no driver collect). The persist
    // vocabHinted adds is released by the memo after its one-shot write
    // has forced the plan (r18 advice).
    val out = shingles(docs.filter(col("doc_id") % 97 =!= 0))
      .join(Bcast.vocabHinted(evalSet, lit(8)), "sh")
      .groupBy("doc_id").agg(countDistinct(col("sh")).as("n_hits"))
    (out, () => { evalSet.unpersist(); () })
  }

  /** The fixed first-match-wins quality-gate cascade as a struct(i, s)
    * column — ONE definition shared by `pipe_filter_report` (the
    * dedicated-scan datasheet) and `pipe_observe_metrics` (the same
    * numbers ridden as a sideband of the curation write pass), so the
    * two keys can never disagree about what the gates are. */
  private[graft] def gateStage: Column = {
    val t = split(col("text"), " ")
    val nTok = size(t)
    val dupFrac = lit(1.0) -
      size(array_distinct(t)).cast("double") / nTok
    when(nTok < 20, struct(lit(1).as("i"), lit("too_short").as("s")))
      .when(nTok > 500, struct(lit(2).as("i"), lit("too_long").as("s")))
      .when(dupFrac > 0.3,
        struct(lit(3).as("i"), lit("repetitive").as("s")))
      .when(!col("lang").isin("en", "es"),
        struct(lit(4).as("i"), lit("non_target_lang").as("s")))
      .otherwise(struct(lit(5).as("i"), lit("kept").as("s")))
  }

  /** `pipe_observe_metrics`'s observed curation pass: the survivor
    * output of the [[gateStage]] cascade with the datasheet aggregates
    * attached BELOW the filter via `Dataset.observe` — a
    * `CollectMetrics` node whose accumulators see every input row
    * (admitted or dropped) while only survivors flow on to the sink.
    * Returned un-executed so the spec can pin the plan shape; the
    * memoized runner below executes it. */
  private[graft] def observedGate(s: SparkSession, dir: String)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    val staged = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        gateStage.as("st"))
    val kept = col("st.i") === 5
    // each sum coalesces: over an EMPTY input relation sum() is null,
    // and the collected metric is consumed as a bare Long — a curation
    // run over zero rows must report zeros, not NPE on the driver
    val observed = staged.observe(obs,
      count(lit(1)).as("rows_in"),
      coalesce(sum(when(kept, 1L).otherwise(0L)), lit(0L)).as("rows_kept"),
      coalesce(sum(when(col("st.i") === 1, 1L).otherwise(0L)), lit(0L))
        .as("drop_too_short"),
      coalesce(sum(when(col("st.i") === 2, 1L).otherwise(0L)), lit(0L))
        .as("drop_too_long"),
      coalesce(sum(when(col("st.i") === 3, 1L).otherwise(0L)), lit(0L))
        .as("drop_repetitive"),
      coalesce(sum(when(col("st.i") === 4, 1L).otherwise(0L)), lit(0L))
        .as("drop_non_target_lang"),
      coalesce(sum(when(kept, col("n_tok")).otherwise(0L)), lit(0L))
        .as("toks_kept"))
    (observed.filter(kept).select("doc_id", "lang", "n_tok"), obs)
  }

  /** The collected sideband metrics of ONE observed curation pass,
    * memoized per (session, dir) via the weak-keyed [[SessionMemo]]:
    * like `join_bloom_prune`'s word table, the pass runs once per
    * session and every later construction re-enters the plan as a
    * literal row. The 7 longs are schema-bounded driver state — the
    * whole point of the observe channel is that the datasheet needs NO
    * second corpus scan and NO corpus-sized driver collect. */
  private val observeMemo =
    new SessionMemo[String, (Long, Long, Long, Long, Long, Long, Long)]

  private[graft] def observeGateMetrics(s: SparkSession, dir: String)
      : (Long, Long, Long, Long, Long, Long, Long) =
    observeMemo.getOrElseUpdate(s, dir) {
      val (out, obs) = observedGate(s, dir)
      // the curation pass itself: survivors stream to the output sink.
      // The `noop` v2 sink stands in for the curated-parquet write a
      // real 100 TB build runs — the metrics below ride THAT pass.
      out.write.format("noop").mode("overwrite").save()
      val m = obs.get
      def l(k: String) = m(k).asInstanceOf[Long]
      (l("rows_in"), l("rows_kept"), l("drop_too_short"),
        l("drop_too_long"), l("drop_repetitive"),
        l("drop_non_target_lang"), l("toks_kept"))
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Model-eval at corpus scale: ROC AUC via the tie-corrected
    // Mann-Whitney rank statistic ("does n_chars separate English from
    // the rest"), computed WITHOUT a global row sort — rows aggregate by
    // score first (one hash shuffle), the cumulative-negatives window
    // runs over the DISTINCT-score relation only (bounded, like
    // sort_skyline's staircase), and everything stays integer until the
    // final division, so the result is exact and engine-independent.
    "ml_auc" -> ((s, dir) => {
      val byScore = Tables.documents(s, dir)
        .select(col("n_chars").as("score"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        .groupBy("score")
        .agg(sum(col("pos")).as("p"), (count(lit(1)) - sum(col("pos"))).as("ng"))
      val cum = byScore.withColumn("cumng",
        sum(col("ng")).over(Window.orderBy("score")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // pair products and the pos·neg denominator leave BIGINT before any
      // multiply: p·cumng and n_pos·n_neg overflow LONG once class counts
      // pass ~3e9 docs — DECIMAL(19,0)×(19,0) → (38,0) keeps the fold
      // exact to 1e38 on both engines, then one decimal→double cast each
      cum.agg(
          sum(col("p").cast("decimal(19,0)") *
            (col("cumng") - col("ng")).cast("decimal(19,0)")).as("conc"),
          sum(col("p").cast("decimal(19,0)") *
            col("ng").cast("decimal(19,0)")).as("tie"),
          sum(col("p")).as("n_pos"), sum(col("ng")).as("n_neg"))
        .select(
          round((col("conc").cast("double") * 2 + col("tie").cast("double")) /
            (col("n_pos").cast("double") * col("n_neg") * 2.0), 6).as("auc"),
          col("n_pos"), col("n_neg"))
    }),

    // Sliced evaluation (r10 cont.): the same rank-sum AUC computed PER
    // SOURCE — the fairness/robustness audit that catches a classifier
    // whose aggregate AUC hides a collapsed subgroup (the ml_parity_gap
    // companion for threshold-free metrics). Identical exact-integer
    // Mann-Whitney discipline as `ml_auc`; the only plan change is the
    // slice key riding the score shuffle and the cumulative window
    // partitioning by it (parallelism now scales with slices). Slices
    // missing a class have no defined AUC and are filtered, not NaN'd.
    "ml_auc_by_group" -> ((s, dir) => {
      val byScore = Tables.documents(s, dir)
        .select(col("source"), col("n_chars").as("score"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        .groupBy("source", "score")
        .agg(sum(col("pos")).as("p"), (count(lit(1)) - sum(col("pos"))).as("ng"))
      val cum = byScore.withColumn("cumng",
        sum(col("ng")).over(Window.partitionBy("source").orderBy("score")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      cum.groupBy("source")
        .agg(
          sum(col("p").cast("decimal(19,0)") *
            (col("cumng") - col("ng")).cast("decimal(19,0)")).as("conc"),
          sum(col("p").cast("decimal(19,0)") *
            col("ng").cast("decimal(19,0)")).as("tie"),
          sum(col("p")).as("n_pos"), sum(col("ng")).as("n_neg"))
        .filter(col("n_pos") > 0 && col("n_neg") > 0)
        .select(col("source"),
          round((col("conc").cast("double") * 2 + col("tie").cast("double")) /
            (col("n_pos").cast("double") * col("n_neg") * 2.0), 6).as("auc"),
          col("n_pos"), col("n_neg"))
        .orderBy("source")
    }),

    // Model-eval at corpus scale, part 2: the binary confusion matrix and
    // its derived metrics for a deterministic rule classifier (predict
    // "en" iff n_chars ≥ 300 — the rule is a placeholder; the OPERATOR is
    // the one-pass exact metric computation every eval harness runs over
    // model outputs). The four cells are integer sums off a single scan —
    // no shuffle beyond the final single-row aggregate — and the derived
    // ratios divide those exact integers in a pinned order, so the row is
    // bit-identical at any scale and partition count.
    "ml_confusion" -> ((s, dir) => {
      val a = when(col("lang") === "en", 1L).otherwise(0L)
      val p = when(col("n_chars") >= 300, 1L).otherwise(0L)
      Tables.documents(s, dir)
        .agg(sum(a * p).as("tp"), sum((lit(1) - a) * p).as("fp"),
          sum(a * (lit(1) - p)).as("fn"),
          sum((lit(1) - a) * (lit(1) - p)).as("tn"))
        .withColumn("precision_",
          col("tp").cast("double") / (col("tp") + col("fp")))
        .withColumn("recall_",
          col("tp").cast("double") / (col("tp") + col("fn")))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          round(col("precision_"), 6).as("precision"),
          round(col("recall_"), 6).as("recall"),
          round(lit(2) * col("precision_") * col("recall_") /
            (col("precision_") + col("recall_")), 6).as("f1"),
          round((col("tp") + col("tn")).cast("double") /
            (col("tp") + col("fp") + col("fn") + col("tn")), 6).as("accuracy"))
    }),

    // Demographic-parity audit of the n_chars≥300 classifier across
    // language groups — the responsible-AI release check ("does the
    // quality gate select one language far more often?") that corpus
    // curation reports next to the filter cascade. ONE scan into the
    // |langs|-row (n, positives) relation; per-group selection rates,
    // the overall rate, each group's gap, and the max spread all divide
    // exact integers, with the spread windows over the bounded group
    // relation only.
    "ml_parity_gap" -> ((s, dir) => {
      val tot = Window.partitionBy()
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("n_chars") >= 300, 1L).otherwise(0L)).as("pos"))
        .withColumn("rate", round(col("pos").cast("double") / col("n"), 6))
        .withColumn("overall", round(
          sum(col("pos")).over(tot).cast("double") /
            sum(col("n")).over(tot), 6))
        .withColumn("gap", Num.pin(col("rate") - col("overall"), 6))
        .withColumn("max_spread", round(
          max(col("rate")).over(tot) - min(col("rate")).over(tot), 6))
        .select("lang", "n", "pos", "rate", "overall", "gap", "max_spread")
        .orderBy("lang")
    }),

    // CUPED variance reduction (Deng et al., WSDM'13) — the experiment-
    // analysis workhorse: regress the experiment-period metric on a
    // pre-period covariate (θ = cov/var) and report how much metric
    // variance the adjustment removes, in CLOSED FORM (var_adj = var_y −
    // cov²/var_x — no second adjusted-metric pass). One shuffle builds
    // the per-user (pre, post) click counts; the sufficient sums are
    // exact-DECIMAL integer folds (the agg_corr discipline) solved in
    // double at the end, so the whole analysis is two aggregations
    // regardless of event volume.
    "ml_cuped" -> ((s, dir) => {
      val perUser = Tables.events(s, dir)
        .filter(col("event_type") === "click")
        .groupBy("user_id")
        .agg(sum(when(dayofmonth(col("ts")) <= 15, 1L).otherwise(0L)).as("x"),
          sum(when(dayofmonth(col("ts")) > 15, 1L).otherwise(0L)).as("y"))
      val st = perUser.agg(count(lit(1)).cast("double").as("n"),
        Num.dsum(col("x")).as("sx"), Num.dsum(col("y")).as("sy"),
        Num.psum(col("x"), col("y")).as("sxy"),
        Num.psum(col("x"), col("x")).as("sxx"),
        Num.psum(col("y"), col("y")).as("syy"))
      val dx = col("n") * col("sxx") - col("sx") * col("sx")
      val dxy = col("n") * col("sxy") - col("sx") * col("sy")
      val dy = col("n") * col("syy") - col("sy") * col("sy")
      val theta = dxy / dx
      val varY = dy / (col("n") * col("n"))
      val varAdj = (dy - dxy / dx * dxy) / (col("n") * col("n"))
      st.select(col("n").cast("long").as("n_users"),
        Num.pin(theta, 6).as("theta"),
        Num.pin(varY, 6).as("var_y"),
        Num.pin(varAdj, 6).as("var_adj"),
        Num.pin(lit(1.0) - (dy - dxy / dx * dxy) / dy, 6).as("reduction"))
    }),

    // Welch's two-sample t-test (unequal variances) on n_chars between
    // the en slice and the rest — the A/B-significance primitive the
    // eval family still lacked (ml_cuped reduces variance, ml_ks_test
    // compares shapes; this is the mean-difference test itself, the
    // Welch form because corpus slices never share a variance). ONE
    // codegen'd scan produces exact integer sufficient statistics
    // (n, Σx, Σx² per group — n_chars is integral, so the sums are
    // exact DECIMAL(38,0) folds that cannot overflow at corpus scale);
    // means, variances, the t statistic, and the Welch–Satterthwaite
    // dof are then fixed double chains of those exact sums, identical
    // IEEE ops on both engines, pinned at 6dp.
    "ml_ttest" -> ((s, dir) => {
      val en = col("lang") === "en"
      def isum(c: Column) = sum(c.cast("decimal(38,0)"))
      val x = col("n_chars")
      val st = Tables.documents(s, dir).agg(
        sum(when(en, 1L).otherwise(0L)).as("n1"),
        sum(when(!en, 1L).otherwise(0L)).as("n2"),
        isum(when(en, x).otherwise(0L)).cast("double").as("s1"),
        isum(when(!en, x).otherwise(0L)).cast("double").as("s2"),
        isum(when(en, x * x).otherwise(0L)).cast("double").as("q1"),
        isum(when(!en, x * x).otherwise(0L)).cast("double").as("q2"))
      val m1 = col("s1") / col("n1"); val m2 = col("s2") / col("n2")
      val v1 = (col("q1") - col("s1") * col("s1") / col("n1")) / (col("n1") - 1)
      val v2 = (col("q2") - col("s2") * col("s2") / col("n2")) / (col("n2") - 1)
      val se1 = v1 / col("n1"); val se2 = v2 / col("n2")
      val dof = (se1 + se2) * (se1 + se2) /
        (se1 * se1 / (col("n1") - 1) + se2 * se2 / (col("n2") - 1))
      st.select(col("n1"), col("n2"),
        Num.pin(m1, 6).as("mean_1"), Num.pin(m2, 6).as("mean_2"),
        Num.pin(m1 - m2, 6).as("mean_diff"),
        Num.pin((m1 - m2) / sqrt(se1 + se2), 6).as("t_stat"),
        Num.pin(dof, 4).as("dof"))
    }),

    // One-way ANOVA F across ALL language groups — the k-group
    // generalization closing the significance family (ml_ttest compares
    // 2 means, ml_permutation_test randomizes that contrast, this asks
    // "does language explain n_chars variance AT ALL" across every
    // group at once), plus eta-squared, the effect size ANOVA reports
    // next to F. ONE codegen'd scan into exact integer sufficient
    // statistics per language (n, Σx, Σx² as DECIMAL(38,0) — the
    // ml_ttest discipline); the between-group sum Σ s_g²/n_g pre-rounds
    // each group's term at 6dp and folds as exact DECIMAL over the
    // |langs|-bounded relation (sums of raw libm-free but
    // magnitude-large doubles would still be order-dependent), and
    // F/η² are fixed double chains of those exact folds, pinned.
    "ml_anova" -> ((s, dir) => {
      def isum(c: Column) = sum(c.cast("decimal(38,0)"))
      val x = col("n_chars")
      // the square multiplies in DECIMAL(19,0) BEFORE any fold — a native
      // 64-bit x*x would wrap silently in Spark while DuckDB raises,
      // a cross-engine divergence at large magnitudes (r14 advice);
      // decimal(19,0)² widens to decimal(38,0) losslessly on both engines
      val xd = x.cast("decimal(19,0)")
      val g = Tables.documents(s, dir).groupBy("lang")
        .agg(count(lit(1)).as("n_g"),
          isum(x).cast("double").as("s_g"),
          sum(xd * xd).cast("double").as("q_g"))
      val tg = Num.pin(col("s_g") * col("s_g") / col("n_g"), 6)
      val tot = g.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
        sum(col("s_g").cast("decimal(38,6)")).cast("double").as("s"),
        sum(col("q_g").cast("decimal(38,6)")).cast("double").as("q"),
        sum(tg.cast("decimal(38,6)")).cast("double").as("tsum"))
      val ssb = col("tsum") - col("s") * col("s") / col("n")
      val sst = col("q") - col("s") * col("s") / col("n")
      val ssw = col("q") - col("tsum")
      tot.select(col("k"), col("n"),
        Num.pin(ssb, 4).as("ss_between"),
        Num.pin(ssw, 4).as("ss_within"),
        Num.pin((ssb / (col("k") - 1)) / (ssw / (col("n") - col("k"))), 6)
          .as("f_stat"),
        Num.pin(ssb / sst, 6).as("eta_sq"))
    }),

    // Matthews correlation coefficient over the SAME confusion cells as
    // `ml_confusion` — the single-number binary-eval summary that stays
    // honest under class imbalance (where accuracy and even F1 mislead).
    // Cells are exact integer sums off one scan; the numerator and the
    // four-factor denominator multiply as doubles in a pinned
    // association (sqrt per factor, so nothing overflows BIGINT at
    // corpus scale), identical IEEE chains on both engines.
    "ml_mcc" -> ((s, dir) => {
      val a = when(col("lang") === "en", 1L).otherwise(0L)
      val p = when(col("n_chars") >= 300, 1L).otherwise(0L)
      val num = col("tp").cast("double") * col("tn") -
        col("fp").cast("double") * col("fn")
      val den = sqrt((col("tp") + col("fp")).cast("double")) *
        sqrt((col("tp") + col("fn")).cast("double")) *
        sqrt((col("tn") + col("fp")).cast("double")) *
        sqrt((col("tn") + col("fn")).cast("double"))
      Tables.documents(s, dir)
        .agg(sum(a * p).as("tp"), sum((lit(1) - a) * p).as("fp"),
          sum(a * (lit(1) - p)).as("fn"),
          sum((lit(1) - a) * (lit(1) - p)).as("tn"))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          Num.pin(when(den > 0, num / den).otherwise(0.0), 6).as("mcc"))
    }),

    // Precision-recall curve: one (precision, recall) point per DISTINCT
    // classifier score, threshold = "predict positive at score ≥ t" —
    // the threshold-sweep companion to `ml_auc` (same scorer: n_chars
    // for lang='en'). Shape: the corpus collapses to the distinct-score
    // relation in ONE partial-aggregated shuffle; the cumulative window
    // then runs over |distinct scores| rows (bounded by the score
    // domain, not the corpus — for a quantized model score this is
    // constant). Integer cumulative counts → exactly-rounded divisions,
    // bit-stable at 6dp.
    "ml_pr_curve" -> ((s, dir) => {
      val byScore = Tables.documents(s, dir)
        .select(col("n_chars").as("score"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        .groupBy("score")
        .agg(sum(col("pos")).as("p"), (count(lit(1)) - sum(col("pos"))).as("ng"))
      val cumw = Window.orderBy(col("score").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy()
      byScore
        .withColumn("cump", sum(col("p")).over(cumw))
        .withColumn("cumn", sum(col("ng")).over(cumw))
        .withColumn("npos", sum(col("p")).over(tot))
        .select(col("score"),
          round(col("cump").cast("double") / (col("cump") + col("cumn")), 6)
            .as("precision"),
          round(col("cump").cast("double") / col("npos"), 6).as("recall"),
          (col("cump") + col("cumn")).as("n_predicted"))
        .orderBy(col("score").desc)
    }),

    // ROC curve off the same distinct-score relation as `ml_pr_curve` —
    // the (FPR, TPR) threshold sweep read next to `ml_auc`'s single
    // number (AggSpec reconciles: the trapezoid over THIS curve equals
    // the exact tie-corrected Mann-Whitney AUC). Identical scale
    // discipline: one partial-agg collapse to the score domain,
    // cumulative windows over that bounded relation, exactly-rounded
    // integer divisions.
    "ml_roc_curve" -> ((s, dir) => {
      val byScore = Tables.documents(s, dir)
        .select(col("n_chars").as("score"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        .groupBy("score")
        .agg(sum(col("pos")).as("p"), (count(lit(1)) - sum(col("pos"))).as("ng"))
      val cumw = Window.orderBy(col("score").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy()
      byScore
        .withColumn("cump", sum(col("p")).over(cumw))
        .withColumn("cumn", sum(col("ng")).over(cumw))
        .withColumn("npos", sum(col("p")).over(tot))
        .withColumn("nneg", sum(col("ng")).over(tot))
        .select(col("score"),
          round(col("cumn").cast("double") / col("nneg"), 6).as("fpr"),
          round(col("cump").cast("double") / col("npos"), 6).as("tpr"),
          (col("cump") + col("cumn")).as("n_predicted"))
        .orderBy(col("score").desc)
    }),

    // Youden-J optimal operating point — the "WHICH threshold do I
    // ship?" answer the ROC curve only draws: argmax of J = TPR − FPR
    // over ml_roc_curve's threshold sweep (same score/label convention,
    // same distinct-score collapse — the corpus never sorts row-wise).
    // The argmax compares EXACT integers: J orders identically to
    // cump·nneg − cumn·npos, so the picked threshold cannot flip on a
    // float tie cross-engine; divisions happen once, on the winning
    // row. Deterministic (J desc, score asc) tiebreak.
    "ml_youden_j" -> ((s, dir) => {
      val byScore = Tables.documents(s, dir)
        .select(col("n_chars").as("score"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        .groupBy("score")
        .agg(sum(col("pos")).as("p"), (count(lit(1)) - sum(col("pos"))).as("ng"))
      val cumw = Window.orderBy(col("score").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy()
      val pick = Window.orderBy(col("jnum").desc, col("score"))
      byScore
        .withColumn("cump", sum(col("p")).over(cumw))
        .withColumn("cumn", sum(col("ng")).over(cumw))
        .withColumn("npos", sum(col("p")).over(tot))
        .withColumn("nneg", sum(col("ng")).over(tot))
        .withColumn("jnum",
          col("cump") * col("nneg") - col("cumn") * col("npos"))
        .withColumn("rn", row_number().over(pick))
        .filter(col("rn") === 1)
        .select(col("score").as("threshold"),
          Num.pin(col("cump").cast("double") / col("npos"), 6).as("tpr"),
          Num.pin(col("cumn").cast("double") / col("nneg"), 6).as("fpr"),
          Num.pin(col("cump").cast("double") / col("npos") -
            col("cumn").cast("double") / col("nneg"), 6).as("youden_j"),
          (col("cump") + col("cumn")).as("n_predicted"))
    }),

    // Cumulative gains/lift table: rank the population by score, cut into
    // deciles, and report what fraction of all positives the top-k
    // deciles capture and their lift over the base rate — the
    // targeting-efficiency chart next to the PR curve. Same scale
    // discipline as `ml_pr_curve`: the corpus collapses to the
    // distinct-score relation first, cumulative sums ride a window over
    // the score DOMAIN, and decile assignment is pure BIGINT arithmetic
    // (ceil via (10·cumr + N − 1) DIV N — tie blocks land wholly in the
    // decile of their last row, the documented convention; float decile
    // math would drift at block edges). Lift = three exactly-rounded
    // divisions over integer sums — bit-stable at 6dp.
    "ml_lift_gain" -> ((s, dir) => {
      val byScore = Tables.documents(s, dir)
        .select(col("n_chars").as("score"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        .groupBy("score")
        .agg(sum(col("pos")).as("p"), count(lit(1)).as("r"))
      val cumw = Window.orderBy(col("score").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy()
      byScore
        .withColumn("cump", sum(col("p")).over(cumw))
        .withColumn("cumr", sum(col("r")).over(cumw))
        .withColumn("nt", sum(col("r")).over(tot))
        .withColumn("np", sum(col("p")).over(tot))
        .withColumn("decile",
          least(lit(9L), expr("(10 * cumr + nt - 1) DIV nt") - 1))
        .groupBy("decile")
        .agg(sum(col("r")).as("n_rows"), sum(col("p")).as("n_pos"),
          max(col("cumr")).as("cum_rows"), max(col("cump")).as("cum_pos"),
          max(col("nt")).as("nt"), max(col("np")).as("np"))
        .select(col("decile"), col("n_rows"), col("n_pos"),
          round(col("cum_pos").cast("double") / col("np"), 6)
            .as("cum_capture"),
          round((col("cum_pos").cast("double") / col("cum_rows")) /
            (col("np").cast("double") / col("nt")), 6).as("lift"))
        .orderBy("decile")
    }),

    // Calibration (reliability) table: predicted probability binned into
    // deciles vs the empirical positive rate per bin — the
    // reliability-diagram data behind "is this scorer calibrated?".
    // The predicted probability is a deterministic monotone transform of
    // the score (capped linear — integer arithmetic end-to-end until the
    // final exactly-rounded divisions, so no cross-engine fp drift and
    // no in-engine exp() to pin). ONE corpus scan into a ≤10-group
    // aggregate; every derived column comes off integer sums.
    "ml_calibration" -> ((s, dir) => {
      val phatN = least(col("n_chars"), lit(500))
      Tables.documents(s, dir)
        .select(least(floor(col("n_chars") / 50).cast("int"), lit(9)).as("bin"),
          phatN.as("pn"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("pn")).as("spn"),
          sum(col("pos")).as("sp"))
        .select(col("bin"), col("n_docs"),
          round(col("spn").cast("double") / 500.0 / col("n_docs"), 6)
            .as("mean_predicted"),
          round(col("sp").cast("double") / col("n_docs"), 6).as("frac_positive"))
        .orderBy("bin")
    }),

    // Expected Calibration Error (r11): the single-number summary of
    // `ml_calibration`'s reliability diagram — ECE = Σ_b (n_b/N)·|acc_b −
    // conf_b|, plus the max per-bin gap (MCE). The paper-standard
    // calibration headline, computed over the SAME decile bins as the
    // diagram (identical bin/conf/acc arithmetic, so the two keys can
    // never disagree). One corpus scan into the ≤10-row bin relation;
    // everything after is arithmetic over that bounded table — per-bin
    // gaps use the PUBLISHED 6dp-rounded conf/acc, terms pre-round at
    // 10dp and fold as exact DECIMAL (the ml_psi discipline).
    "ml_ece" -> ((s, dir) => {
      val phatN = least(col("n_chars"), lit(500))
      val bins = Tables.documents(s, dir)
        .select(least(floor(col("n_chars") / 50).cast("int"), lit(9)).as("bin"),
          phatN.as("pn"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("pn")).as("spn"),
          sum(col("pos")).as("sp"))
      val tot = bins.agg(sum(col("n_docs")).as("n"))
      val conf = round(col("spn").cast("double") / 500.0 / col("n_docs"), 6)
      val acc = round(col("sp").cast("double") / col("n_docs"), 6)
      bins.crossJoin(broadcast(tot))
        .withColumn("ce", Num.pin(abs(acc - conf), 6))
        .withColumn("term", Num.pin(
          col("n_docs").cast("double") / col("n") * col("ce"), 10))
        .agg(count(lit(1)).as("n_bins"),
          max(col("ce")).as("max_ce"),
          Num.pin(sum(col("term").cast("decimal(28,10)")).cast("double"), 6)
            .as("ece"))
    }),

    // Clipped cross-entropy (log loss) of the same capped-linear scorer
    // `ml_calibration` bins — the proper-scoring-rule headline reported
    // next to ECE/Brier, plus the constant-predictor baseline that makes
    // it readable (skill = doing better than always predicting the base
    // rate). The predicted probability pn/500 takes ≤501 distinct values,
    // so ONE corpus-scale partial-agg shuffle collapses the scan to the
    // ≤1002-row (pn, y) contingency and every logarithm runs once per
    // CELL, never per row (the agg_entropy_group discipline). Clipping at
    // [1e-3, 1−1e-3] keeps ln away from the p∈{0,1} poles; per-cell
    // ln-terms pre-round at 10dp (libm ln is not bit-pinned cross-engine)
    // and fold as exact integer×DECIMAL products, so the reduction is
    // order-independent and the compare bit-exact.
    "ml_log_loss" -> ((s, dir) => {
      val p = col("pn").cast("double") / 500.0
      val pc = greatest(least(p, lit(0.999)), lit(0.001))
      val lnt = Num.pin(log(when(col("y") === 1L, pc).otherwise(lit(1.0) - pc)), 10)
      Tables.documents(s, dir)
        .select(least(col("n_chars"), lit(500)).as("pn"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))
        .groupBy("pn", "y").agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_docs"), sum(col("c") * col("y")).as("n_pos"),
          sum(col("c") * lnt.cast("decimal(18,10)")).as("slt"))
        .withColumn("ybar",
          greatest(least(col("n_pos").cast("double") / col("n_docs"),
            lit(0.999)), lit(0.001)))
        .select(col("n_docs"), col("n_pos"),
          Num.pin(-col("slt").cast("double") / col("n_docs"), 6).as("log_loss"),
          Num.pin(-(col("n_pos") * Num.pin(log(col("ybar")), 10) +
            (col("n_docs") - col("n_pos")) *
              Num.pin(log(lit(1.0) - col("ybar")), 10)) / col("n_docs"), 6)
            .as("baseline_loss"))
    }),

    // Hash-deterministic half-sample bootstrap CI for the corpus mean —
    // the resampling-uncertainty primitive (Politis-Romano subsampling
    // with b = n/2) made retry-safe the same way every sampler in this
    // repo is: replica membership is a pure md5 function of
    // (doc_id, replica), never RNG state, so the interval is bit-stable
    // across retries, partitionings, and engines. 64 replicas ride ONE
    // scan — the membership predicate evaluates per (row, replica) in a
    // codegen'd explode and map-side combine collapses to 64 partial
    // rows per task before the constant-size shuffle. The 2.5%/97.5%
    // bounds are rank SELECTIONS from the 64 sorted replica means
    // (deterministic (mean, r) order), not interpolations.
    "ml_bootstrap_ci" -> ((s, dir) => {
      val reps = 64
      val w = Window.orderBy(col("mean_rep"), col("r"))
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
      val full = docs.agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("s"))
      val means = docs
        .crossJoin(broadcast(s.range(reps).select(col("id").cast("int").as("r"))))
        .filter(conv(substring(
          md5(concat_ws("_", col("doc_id"), col("r"))), 1, 4), 16, 10)
          .cast("int") % 2 === 0)
        .groupBy("r")
        .agg(count(lit(1)).as("nr"), sum(col("n_chars")).as("sr"))
        .withColumn("mean_rep", col("sr").cast("double") / col("nr"))
        .withColumn("rn", row_number().over(w))
      means
        .agg(count(lit(1)).as("n_replicas"),
          max(when(col("rn") === 2, col("mean_rep"))).as("lo"),
          max(when(col("rn") === 63, col("mean_rep"))).as("hi"))
        .crossJoin(broadcast(full))
        .select(col("n_docs"), col("n_replicas"),
          Num.pin(col("s").cast("double") / col("n_docs"), 6).as("mean_full"),
          Num.pin(col("lo"), 6).as("ci_lo"), Num.pin(col("hi"), 6).as("ci_hi"))
    }),

    // Hash-deterministic permutation (randomization) test for the
    // en-vs-rest mean n_chars difference — the NONPARAMETRIC p-value
    // companion to ml_ttest (whose t/dof assume near-normal sampling
    // distributions that a skewed corpus slice can break) and to
    // ml_mann_whitney (which tests stochastic dominance, not the mean).
    // Under the sharp null the label is exchangeable, so each of 64
    // replicas reassigns labels by a pure md5 function of
    // (doc_id, replica) — the ml_bootstrap_ci retry-safety discipline:
    // no RNG state, bit-stable across retries, partitionings, and
    // engines — and p = (1 + #{|T_r| >= |T_obs|}) / (R + 1), the
    // standard add-one Monte-Carlo estimator. All 64 replicas ride ONE
    // codegen'd explode scan with map-side combine (the shuffle carries
    // 64 partial rows per task); T_obs and every T_r are fixed double
    // chains of exact integer sums, so the |T_r| >= |T_obs| compare is
    // bit-identical cross-engine.
    "ml_permutation_test" -> ((s, dir) => {
      val reps = 64
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      def isum(c: Column) = sum(c.cast("decimal(38,0)")).cast("double")
      val obs = docs.agg(count(lit(1)).as("n_docs"),
        sum(col("y")).as("n1"), isum(col("y") * col("n_chars")).as("s1"),
        isum((lit(1L) - col("y")) * col("n_chars")).as("s2"))
        .select(col("n_docs"), col("n1"),
          (col("s1") / col("n1") -
            col("s2") / (col("n_docs") - col("n1"))).as("t_obs"))
      val perm = docs
        .crossJoin(broadcast(s.range(reps).select(col("id").cast("int").as("r"))))
        .withColumn("yp",
          conv(substring(md5(concat_ws("_", lit("perm"), col("doc_id"),
            col("r"))), 1, 4), 16, 10).cast("int") % 2)
        .groupBy("r")
        .agg(count(lit(1)).as("nr"), sum(col("yp")).as("n1r"),
          isum(col("yp") * col("n_chars")).as("s1r"),
          isum((lit(1) - col("yp")) * col("n_chars")).as("s2r"))
        .select(col("r"),
          (col("s1r") / col("n1r") -
            col("s2r") / (col("nr") - col("n1r"))).as("t_rep"))
      perm.crossJoin(broadcast(obs))
        .agg(max(col("n_docs")).as("n_docs"),
          count(lit(1)).as("n_replicas"),
          sum(when(abs(col("t_rep")) >= abs(col("t_obs")), 1L)
            .otherwise(0L)).as("n_extreme"),
          max(col("t_obs")).as("t_obs"))
        .select(col("n_docs"), Num.pin(col("t_obs"), 6).as("t_obs"),
          col("n_replicas"), col("n_extreme"),
          Num.pin((col("n_extreme") + lit(1.0)) /
            (col("n_replicas") + lit(1.0)), 6).as("p_value"))
    }),

    // Fβ sweep over `ml_confusion`'s exact cells — the precision-weighted
    // (β=0.5) and recall-weighted (β=2) companions to F1 that a filter-
    // threshold review reads together (a corpus-quality gate usually
    // prices false positives and false negatives differently). The four
    // cells are integer sums off a single codegen'd scan, the 3-row β
    // spine cross-joins onto that one-row relation, and every derived
    // ratio divides exact integers in a pinned association order shared
    // verbatim with the oracle.
    "ml_fbeta" -> ((s, dir) => {
      val a = when(col("lang") === "en", 1L).otherwise(0L)
      val p = when(col("n_chars") >= 300, 1L).otherwise(0L)
      val betas = Seq(0.5, 1.0, 2.0).map(b => lit(b))
      Tables.documents(s, dir)
        .agg(sum(a * p).as("tp"), sum((lit(1) - a) * p).as("fp"),
          sum(a * (lit(1) - p)).as("fn"))
        .select(col("tp"), col("fp"), col("fn"),
          explode(array(betas: _*)).as("beta"))
        .select(col("beta"), col("tp"), col("fp"), col("fn"),
          (col("tp").cast("double") / (col("tp") + col("fp"))).as("pr"),
          (col("tp").cast("double") / (col("tp") + col("fn"))).as("rc"))
        .select(col("beta"), col("tp"), col("fp"), col("fn"),
          round(col("pr"), 6).as("precision"), round(col("rc"), 6).as("recall"),
          round((lit(1.0) + col("beta") * col("beta")) * col("pr") * col("rc") /
            (col("beta") * col("beta") * col("pr") + col("rc")), 6).as("fbeta"))
        .orderBy("beta")
    }),

    // Cross-source overlap matrix — "how much of source A also appears
    // in source B", the between-source contamination accounting a corpus
    // datasheet reports next to the within-corpus dedup numbers (and the
    // basis for choosing which source KEEPS shared content). r19 opt
    // (the text_ngram_novelty treatment, guide §2.3/§2.4): the r12 form
    // DISTINCT'd (fp, source), persisted it, self-joined it on fp for
    // the pair matrix, and broadcast per-source totals back — FOUR
    // corpus-sized passes/exchanges of the 32-byte key for numbers that
    // are all functions of one per-content source SET. Now ONE corpus
    // exchange total: the fp groupBy's map-side partial collect_set
    // folds duplicates into a ≤|sources|-entry buffer (set-of-multiset =
    // set, so DISTINCT collapses into the same aggregation); each
    // content then emits its per-source markers and its a<b pairs as
    // codegen'd array items (≤|sources|+|sources|²/2 per content — the
    // same source-vocabulary bound the self-join had), and the (a, b)
    // count groupBy ships partial counts only. Per-source totals are the
    // b-IS-NULL marker rows of that SAME bounded counts relation, read
    // back via a map over a single-partition window (≤|sources|²+
    // |sources| rows) — no second derivation, no self-join, no persist.
    "pipe_cross_source_overlap" -> ((s, dir) => {
      val fp = md5(concat_ws(" ",
        array_sort(array_distinct(split(col("text"), " ")))))
      val bySrc = Tables.documents(s, dir)
        .groupBy(fp.as("fp"))
        .agg(array_sort(collect_set(col("source"))).as("srcs"))
      val items = bySrc.select(explode(expr(
        """concat(
             transform(srcs, x -> struct(x AS a, CAST(NULL AS STRING) AS b)),
             flatten(transform(srcs, (x, i) ->
               transform(slice(srcs, i + 2, size(srcs)), y ->
                 struct(x AS a, y AS b)))))""")).as("it"))
      val counts = items.groupBy(col("it.a").as("a"), col("it.b").as("b"))
        .agg(count(lit(1)).as("n"))
      // collect_list skips the NULL the when() yields on pair rows, so
      // tot maps source -> n_contents exactly once per source
      val wAll = Window.partitionBy(lit(1))
      counts
        .withColumn("tot", map_from_entries(collect_list(
          when(col("b").isNull, struct(col("a"), col("n")))).over(wAll)))
        .filter(col("b").isNotNull)
        .select(col("a").as("source_a"), col("b").as("source_b"),
          col("n").as("n_shared"),
          col("tot")(col("a")).as("n_a"), col("tot")(col("b")).as("n_b"))
        .select(col("source_a"), col("source_b"), col("n_shared"),
          col("n_a"), col("n_b"),
          round(col("n_shared").cast("double") / col("n_a"), 6)
            .as("frac_of_a"),
          round(col("n_shared").cast("double") / col("n_b"), 6)
            .as("frac_of_b"))
        .orderBy("source_a", "source_b")
    }),

    // Span-corruption accounting (the T5/UL2 denoising-objective prep):
    // positions mask by a pure hash of (doc, position) at ~15%, and the
    // report counts masked tokens and contiguous masked SPANS per doc —
    // the sentinel-token budget a span-corruption batch builder needs.
    // Everything is codegen'd array arithmetic over the token sequence
    // (transform/filter over positions, span starts = masked positions
    // whose predecessor is unmasked) — a pure row map, ZERO shuffles, and
    // the mask is replayable (retry/repartition-safe) because it hashes
    // content coordinates, never RNG state.
    "pipe_span_corruption" -> ((s, dir) => {
      val masked = expr(
        """filter(sequence(1, size(split(text, ' '))),
                  p -> CAST(conv(substring(md5(concat(CAST(doc_id AS STRING),
                       ':', CAST(p AS STRING))), 1, 4), 16, 10) AS INT)
                       % 100 < 15)""")
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          masked.as("mp"))
        .select(col("doc_id"), col("n_tokens"),
          size(col("mp")).cast("long").as("n_masked"),
          expr("""size(filter(mp,
            p -> p = 1 OR NOT array_contains(mp, p - 1)))""").cast("long")
            .as("n_spans"))
        .withColumn("corrupt_rate",
          round(col("n_masked").cast("double") / col("n_tokens"), 6))
        .orderBy("doc_id")
    }),

    // Filtering-cascade report — the "documents removed by each filter"
    // table every dataset paper publishes (C4, Gopher, RefinedWeb all
    // report this): gates applied in a FIXED order, each doc attributed
    // to the FIRST gate that drops it (first-match-wins, like the
    // reference's buscar dispatch), survivors in the terminal "kept"
    // row. ONE codegen'd scan into a ≤5-row aggregate; n_in per stage
    // derives from the cumulative drop window over that bounded
    // relation, so the funnel arithmetic never touches the corpus.
    // Shares [[gateStage]] — ONE cascade definition — with
    // `pipe_observe_metrics`, which reports the same numbers as a
    // sideband of the curation write pass instead of a dedicated scan.
    "pipe_filter_report" -> ((s, dir) => {
      val stage = gateStage
      val tot = Window.partitionBy()
      val before = Window.orderBy("stage_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, dir)
        .select(stage.as("st"))
        .groupBy(col("st.i").as("stage_idx"), col("st.s").as("stage"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("n_in", sum(col("n_docs")).over(tot) -
          coalesce(sum(col("n_docs")).over(before), lit(0L)))
        .withColumn("rate",
          round(col("n_docs").cast("double") / col("n_in"), 6))
        .select("stage_idx", "stage", "n_docs", "n_in", "rate")
        .orderBy("stage_idx")
    }),

    // Observed curation metrics — the same gate-cascade datasheet as
    // `pipe_filter_report`, but computed the way a 100 TB build MUST
    // compute it: as a `Dataset.observe` sideband (CollectMetrics — a
    // plan node nothing else on the surface exercises) riding the ONE
    // pass that writes the curated output, instead of a second
    // dedicated corpus scan. The metrics accumulators sit BELOW the
    // survivor filter, so they see dropped rows the output never
    // carries; state is 7 longs per task (schema-bounded, merged on
    // the driver by the listener), and the write itself is the v2
    // `noop` sink standing in for the curated-parquet write. Executed
    // once per (session, dir) via [[observeGateMetrics]]'s memo (the
    // `join_bloom_prune` word-table pattern) and re-entered as one
    // literal row; ObserveSpec pins the CollectMetricsExec plan shape,
    // the sideband-vs-recompute equality, the single-job pass, and the
    // memo. Oracle: the identical aggregates as plain SQL — the
    // sideband channel must change WHERE the numbers are computed,
    // never the numbers.
    "pipe_observe_metrics" -> ((s, dir) => {
      val (ri, rk, d1, d2, d3, d4, tk) = observeGateMetrics(s, dir)
      s.range(1).select(
        lit(ri).as("rows_in"), lit(rk).as("rows_kept"),
        lit(d1).as("drop_too_short"), lit(d2).as("drop_too_long"),
        lit(d3).as("drop_repetitive"), lit(d4).as("drop_non_target_lang"),
        lit(tk).as("toks_kept"),
        round(lit(rk).cast("double") / lit(ri), 6).as("kept_rate"))
    }),

    // Population Stability Index between the train and test splits — the
    // distribution-drift audit every dataset release runs ("did the
    // hash split accidentally skew a feature?"), over the same n_chars
    // bins as `ml_calibration` and the same md5 split as `pipe_split`.
    // ONE corpus scan into a ≤10×2 bin relation; shares clip at 1e-6
    // (the standard empty-bin guard) before the ln ratio; per-bin terms
    // pre-round at 10dp and fold as DECIMAL over the bounded relation,
    // the `text_entropy` ln-parity discipline.
    "ml_psi" -> ((s, dir) => {
      val bucket = md5Bucket(col("doc_id"))
      val split = when(bucket < 80, "train").when(bucket < 90, "val")
        .otherwise("test")
      val tot = Window.partitionBy()
      Tables.documents(s, dir)
        .select(least(floor(col("n_chars") / 50).cast("int"), lit(9)).as("bin"),
          split.as("split"))
        .filter(col("split") =!= "val")
        .groupBy("bin")
        .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
        .withColumn("p", greatest(
          col("n_train").cast("double") / sum(col("n_train")).over(tot),
          lit(1e-6)))
        .withColumn("q", greatest(
          col("n_test").cast("double") / sum(col("n_test")).over(tot),
          lit(1e-6)))
        .withColumn("term",
          round((col("p") - col("q")) * log(col("p") / col("q")), 10))
        .withColumn("psi",
          round(sum(col("term").cast("decimal(28,10)")).over(tot)
            .cast("double"), 6))
        .select(col("bin"), col("n_train"), col("n_test"),
          round(col("p"), 6).as("p_train"), round(col("q"), 6).as("q_test"),
          round(col("term"), 6).as("term"), col("psi"))
        .orderBy("bin")
    }),

    // Two-sample Kolmogorov-Smirnov statistic between the train and test
    // splits' n_chars distributions — PSI's nonparametric companion
    // (binning-free, catches shape drift PSI's 10 bins smooth away).
    // The corpus collapses to the DISTINCT n_chars domain with per-split
    // counts in ONE shuffle (domain-bounded: the char-length range, not
    // row count); both ECDFs are exact-integer cumulative sums over that
    // bounded relation, and D = max |F_tr − F_te| with its location
    // picked by a deterministic (diff desc, value) rank. Division of
    // exact integers keeps the argmax comparisons bit-equal cross-engine.
    "ml_ks_test" -> ((s, dir) => {
      val bucket = md5Bucket(col("doc_id"))
      val split = when(bucket < 80, "train").when(bucket < 90, "val")
        .otherwise("test")
      val tot = Window.partitionBy()
      val cum = Window.orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val d = Tables.documents(s, dir)
        .select(col("n_chars"), split.as("split"))
        .filter(col("split") =!= "val")
        .groupBy("n_chars")
        .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("tr"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("te"))
        .withColumn("ctr", sum(col("tr")).over(cum))
        .withColumn("cte", sum(col("te")).over(cum))
        .withColumn("ntr", sum(col("tr")).over(tot))
        .withColumn("nte", sum(col("te")).over(tot))
        .withColumn("diff", abs(col("ctr").cast("double") / col("ntr") -
          col("cte").cast("double") / col("nte")))
      val pick = Window.orderBy(col("diff").desc, col("n_chars"))
      d.withColumn("rn", row_number().over(pick))
        .filter(col("rn") === 1)
        .select(col("ntr").as("n_train"), col("nte").as("n_test"),
          col("n_chars").as("ks_at"), round(col("diff"), 6).as("ks_d"))
    }),

    // Quality-filter redundancy matrix — for every pair of Gopher rules
    // (text_gopher_rules' SHARED per-doc flags: one definition, both
    // keys), the co-failure count and the Jaccard overlap of their
    // removed sets: the "are two of my filters the same filter?"
    // audit every curation cascade runs before adding a gate (a pair
    // at J ≈ 1 means one rule is dead weight; J ≈ 0 means they carve
    // independent slices). ONE codegen'd corpus scan computes all six
    // flags; the 6 singles + 15 pairwise co-counts fold in ONE
    // aggregation (map-side combined), and the 15-row matrix unstacks
    // from that single row — no join, no second scan, nothing
    // corpus-sized past the aggregate.
    "pipe_filter_overlap" -> ((s, dir) => {
      val names = TextOps.GopherRuleNames
      val pairs = for { i <- 0 until 6; j <- i + 1 until 6 } yield (i, j)
      val fl = TextOps.gopherFlags(s, dir)
      val aggs = (0 until 6).map(i => sum(col(s"f${i + 1}")).as(s"s${i + 1}")) ++
        pairs.map { case (i, j) =>
          sum(col(s"f${i + 1}") * col(s"f${j + 1}")).as(s"b${i + 1}${j + 1}")
        }
      val stackArms = pairs.map { case (i, j) =>
        s"${i + 1}, ${j + 1}, '${names(i)}', '${names(j)}', " +
          s"s${i + 1}, s${j + 1}, b${i + 1}${j + 1}"
      }.mkString(", ")
      fl.agg(aggs.head, aggs.tail: _*)
        .select(expr(s"stack(${pairs.length}, $stackArms) AS " +
          "(rule_i, rule_j, rule_a, rule_b, n_a, n_b, n_both)"))
        .select(col("rule_i"), col("rule_j"), col("rule_a"), col("rule_b"),
          col("n_a"), col("n_b"), col("n_both"),
          when(col("n_a") + col("n_b") - col("n_both") > 0,
            Num.pin(col("n_both").cast("double") /
              (col("n_a") + col("n_b") - col("n_both")), 6)).as("jaccard"))
        .orderBy("rule_i", "rule_j")
    }),

    // Split-hash fairness audit — the release gate on pipe_split's md5
    // bucketing itself: chi-square against uniform and the KS sup
    // distance of the 100-bucket empirical CDF, plus min/max bucket
    // fill. A biased split hash silently skews every train/val/test
    // metric downstream, so corpus releases audit the hash ON the
    // corpus (adversarial or structured ids can break a hash that is
    // fine on random ids). One corpus-scale groupBy into the dense
    // 100-row bucket relation (empty buckets ride in at 0 via the
    // spine), every statistic a bounded-relation fold: contributions
    // pin at 6dp into a DECIMAL chi2 sum, the CDF deviations compare
    // identically-computed doubles.
    "pipe_split_audit" -> ((s, dir) => {
      val tot = Window.partitionBy()
      val cum = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val obs = Tables.documents(s, dir)
        .groupBy(md5Bucket(col("doc_id")).as("bucket"))
        .agg(count(lit(1)).as("cnt"))
      val dense = s.range(100).select(col("id").cast("int").as("bucket"))
        .join(obs, Seq("bucket"), "left")
        .select(col("bucket"), coalesce(col("cnt"), lit(0L)).as("cnt"))
        .withColumn("n", sum(col("cnt")).over(tot))
        .withColumn("exp", col("n").cast("double") / 100.0)
        .withColumn("contrib", Num.pin(
          (col("cnt") - col("exp")) * (col("cnt") - col("exp")) / col("exp"), 6))
        .withColumn("cumc", sum(col("cnt")).over(cum))
        .withColumn("diff", abs(col("cumc").cast("double") / col("n") -
          (col("bucket") + 1) / lit(100.0)))
      dense.agg(max(col("n")).as("n"),
          min(col("cnt")).as("min_count"), max(col("cnt")).as("max_count"),
          sum(col("contrib").cast("decimal(28,10)")).cast("double").as("x2"),
          max(col("diff")).as("ksd"))
        .select(col("n"), col("min_count"), col("max_count"),
          Num.pin(col("x2"), 6).as("chi2"),
          Num.pin(col("ksd"), 6).as("ks_d"),
          Num.pin(col("max_count").cast("double") /
            (col("n").cast("double") / 100.0), 4).as("max_over_mean"))
    }),

    // Mann-Whitney U (Wilcoxon rank-sum) with tie correction — the
    // nonparametric "are en docs systematically longer?" two-sample
    // test completing the trio next to ml_ttest (parametric Welch) and
    // ml_ks_test (sup distance): U compares every (pos, neg) pair via
    // midranks, computed here WITHOUT ranking a single row. The corpus
    // collapses to the DISTINCT n_chars value domain (the ml_auc
    // discipline — the one shuffle is domain-bounded), one cumulative
    // window over that bounded relation yields tie-block prefix counts,
    // and 2·midrank = 2·before + t + 1 keeps every intermediate an
    // exact BIGINT (midranks are ½-rationals). U, its null mean
    // n₁n₂/2, and the tie-corrected variance n₁n₂/12·((N+1) −
    // Σ(t³−t)/(N(N−1))) all fold from those integer sufficient
    // statistics, so z is a single pinned division — bit-stable
    // cross-engine with no per-row ranks anywhere.
    "ml_mann_whitney" -> ((s, dir) => {
      val cum = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val byScore = Tables.documents(s, dir)
        .groupBy(col("n_chars").as("score"))
        .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("p"),
          count(lit(1)).as("t"))
      val st = byScore
        .withColumn("before", sum(col("t")).over(cum) - col("t"))
        .withColumn("mr2", lit(2L) * col("before") + col("t") + lit(1L))
        .agg(sum(col("p")).as("n1"),
          sum(col("t") - col("p")).as("n2"),
          sum(col("p") * col("mr2")).as("s2r"),
          sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
        .withColumn("nn", col("n1") + col("n2"))
        .withColumn("u", (col("s2r") - col("n1") * (col("n1") + lit(1L)))
          .cast("double") / 2.0)
        .withColumn("mu", col("n1").cast("double") * col("n2") / 2.0)
        .withColumn("sigma", sqrt(col("n1").cast("double") * col("n2") / 12.0 *
          ((col("nn") + lit(1L)) - col("ties").cast("double") /
            (col("nn").cast("double") * (col("nn") - lit(1L))))))
      st.select(col("n1").as("n_pos"), col("n2").as("n_neg"),
        col("u").as("u_stat"), col("mu").as("mu_u"),
        Num.pin(col("sigma"), 6).as("sigma_u"),
        Num.pin((col("u") - col("mu")) / col("sigma"), 6).as("z"))
    }),

    // Brier score + Murphy decomposition (reliability / resolution /
    // uncertainty) of the same capped-linear scorer `ml_calibration`
    // bins — the single-number probabilistic-forecast quality summary
    // plus the "is it bad calibration or no signal?" split. Integer
    // discipline end-to-end: (p − y)² = (pn − 500y)²/500², so the Brier
    // numerator is an exact integer sum in the ONE corpus-scale
    // aggregation (shared with the bin sums); the decomposition terms
    // are exactly-rounded doubles over the ≤10-row bin relation, summed
    // as DECIMAL after a 10dp pre-round. No corpus value ever rides a
    // double fold.
    "ml_brier" -> ((s, dir) => {
      val phatN = least(col("n_chars"), lit(500))
      val dev = col("pn") - lit(500L) * col("y")
      val bins = Tables.documents(s, dir)
        .select(least(floor(col("n_chars") / 50).cast("int"), lit(9)).as("bin"),
          phatN.as("pn"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))
        .groupBy("bin")
        .agg(count(lit(1)).as("nb"), sum(col("pn")).as("spn"),
          sum(col("y")).as("sp"), sum(dev * dev).as("sq"))
      val tot = Window.partitionBy()
      bins
        .withColumn("n", sum(col("nb")).over(tot))
        .withColumn("spt", sum(col("sp")).over(tot))
        .withColumn("sqt", sum(col("sq")).over(tot))
        .withColumn("ybar", col("spt").cast("double") / col("n"))
        .withColumn("pbar_b", col("spn").cast("double") / 500.0 / col("nb"))
        .withColumn("ybar_b", col("sp").cast("double") / col("nb"))
        .withColumn("rel_t", round(col("nb") *
          (col("pbar_b") - col("ybar_b")) * (col("pbar_b") - col("ybar_b")), 10))
        .withColumn("res_t", round(col("nb") *
          (col("ybar_b") - col("ybar")) * (col("ybar_b") - col("ybar")), 10))
        .groupBy("n", "sqt", "ybar")
        .agg(sum(col("rel_t").cast("decimal(28,10)")).as("rel_s"),
          sum(col("res_t").cast("decimal(28,10)")).as("res_s"))
        .select(col("n"),
          round(col("sqt").cast("double") / (lit(250000.0) * col("n")), 6)
            .as("brier"),
          round(col("rel_s").cast("double") / col("n"), 6).as("reliability"),
          round(col("res_s").cast("double") / col("n"), 6).as("resolution"),
          round(col("ybar") * (lit(1.0) - col("ybar")), 6).as("uncertainty"))
    }),

    // BPE merge-rule learning, a convergence-driven loop of up to
    // BpeMerges (16) rounds — the tokenizer-training core (Sennrich et
    // al. 2016): count adjacent symbol pairs across the corpus
    // (frequency-weighted), adopt the most frequent pair as a merge
    // rule, rewrite the vocabulary, repeat; stop when no pair repeats.
    // Scale shape: the ONLY corpus-scale pass is the word-frequency
    // aggregate; every round then runs on the VOCABULARY-sized relation
    // (words as spaced symbol sequences), exactly how production BPE
    // trainers operate (word-counts in, rules out). Each round is a
    // vocab-scale pair explode + partial-agg count, a 1-row top-1
    // (TakeOrderedAndProject, (count desc, pair) tiebreak — never a
    // global rank window) read back as the loop's bounded decision
    // scalar, and a literal regex rewrite over the localCheckpoint'ed
    // vocabulary (the graph_kcore fixpoint discipline — the plan never
    // snowballs across rounds). The rewrite applies the ' a b '→' ab '
    // regex twice because left-to-right non-overlap consumes the shared
    // delimiter (pass 2 catches the odd occurrences of an alternating
    // run — exact for the runs this corpus contains, and IDENTICALLY
    // partial on both engines regardless: Java regex and RE2 share
    // l-t-r non-overlapping semantics). Words are filtered to ^[a-z]+$
    // so pair strings are regex-literal-safe by construction. The
    // learned rule table itself is the bounded model artifact (≤ 16
    // rows), so it ships as a local relation.
    "pipe_bpe_train" -> ((s, dir) => {
      import s.implicits._
      val (merges, _) = bpeLearn(s, dir)
      merges.toDF("round", "pair", "cnt")
        .select(col("round"), col("pair"),
          regexp_replace(col("pair"), " ", "").as("merged"), col("cnt"))
        .orderBy("round")
    }),

    // Tokenizer APPLICATION — encode the vocabulary with the merges
    // `pipe_bpe_train` just learned and report the corpus-level
    // compression datasheet (distinct words, weighted occurrences,
    // symbols before = characters, symbols after = BPE tokens, ratio).
    // This closes the train→apply loop every tokenizer pipeline runs;
    // like production BPE encoders it operates on the word-frequency
    // relation, so the corpus-scale work remains the single word-count
    // aggregate shared with training, and the merge rewrites stay
    // vocabulary-sized broadcast regexes. All counts are exact integers;
    // the ratio is one exactly-rounded division.
    "pipe_bpe_encode" -> ((s, dir) => {
      val (_, vFinal) = bpeLearn(s, dir)
      vFinal.select(col("f"),
          length(regexp_replace(trim(col("seq")), " ", "")).as("chars"),
          size(split(trim(col("seq")), " ")).as("syms"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("f")).as("n_occurrences"),
          sum(col("f") * col("chars").cast("long")).as("symbols_before"),
          sum(col("f") * col("syms").cast("long")).as("symbols_after"))
        .select(col("n_words"), col("n_occurrences"),
          col("symbols_before"), col("symbols_after"),
          round(col("symbols_after").cast("double") / col("symbols_before"), 6)
            .as("compression"))
    }),

    // Tokenizer fertility by language (r11): average BPE tokens per word
    // occurrence after the learned merges — the standard
    // tokenizer-equity metric (a tokenizer trained on an English-heavy
    // blend fragments other languages into more pieces; fertility gaps
    // are how that bias is reported). Shares bpeLearn's trained rules
    // (one definition with pipe_bpe_train/encode) but re-encodes the
    // (lang, word) vocabulary so the per-language split survives:
    // corpus-scale work is the one word-frequency aggregate, the rule
    // applications are literal regex rewrites over the dictionary-sized
    // vocab (the rule list is the ≤ BpeMerges-row learned model), and
    // the datasheet is a |langs|-row aggregate.
    "pipe_bpe_fertility" -> ((s, dir) => {
      val (merges, _) = bpeLearn(s, dir)
      val wl = Tables.documents(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word").rlike("^[a-z]+$"))
        .groupBy("lang", "word").agg(count(lit(1)).as("f"))
        .select(col("lang"), col("f"),
          concat(lit(" "),
            regexp_replace(col("word"), "(.)", "$1 ")).as("seq"))
      merges.foldLeft(wl) { case (v, (_, pair, _)) => bpeApply(v, pair) }
        .select(col("lang"), col("f"),
          size(split(trim(col("seq")), " ")).as("syms"))
        .groupBy("lang")
        .agg(sum(col("f")).as("n_words"),
          sum(col("f") * col("syms").cast("long")).as("n_tokens"))
        .select(col("lang"), col("n_words"), col("n_tokens"),
          Num.pin(col("n_tokens").cast("double") / col("n_words"), 6)
            .as("fertility"))
        .orderBy("lang")
    }),

    // Epoch-plan repeat factors: given each source's token count, compute
    // its temperature-scaled mixture weight (p^0.5 — `pipe_mix_temperature`'s
    // up-weighting of small high-quality sources), the token target it
    // should contribute to a fixed epoch budget, and the repeat factor
    // (>1 ⇒ the source is traversed more than once per epoch — the
    // "how many epochs of each source" plan from data-constrained
    // scaling practice). One tokenize aggregation into a |sources|-row
    // relation; everything after is arithmetic on that bounded table.
    // sqrt is IEEE-exactly-rounded (unlike ln/exp) and the √token
    // weights round to DECIMAL before the normalizing sum, so the plan
    // is bit-stable cross-engine.
    "pipe_repeat_factors" -> ((s, dir) => {
      val tot = Window.partitionBy()
      Tables.documents(s, dir)
        .groupBy("source")
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
        .withColumn("sq",
          sqrt(col("n_tokens").cast("double")).cast("decimal(28,10)"))
        .withColumn("w",
          col("sq").cast("double") / sum(col("sq")).over(tot).cast("double"))
        .select(col("source"), col("n_tokens"),
          round(col("w"), 6).as("weight"),
          floor(col("w") * EpochBudgetTokens).cast("long").as("target_tokens"),
          round(col("w") * EpochBudgetTokens / col("n_tokens"), 4)
            .as("repeat_factor"))
        .orderBy("source")
    }),

    // Data selection under a token budget: per source, keep documents in
    // quality order (longest-first here, unique doc_id tiebreak) while
    // the running token total stays within the per-source budget — the
    // "fill the mixture's token quota from the best documents" step of
    // corpus curation. The cumulative window rides ONE shuffle on the
    // source key; the budget test is on the running sum INCLUDING the
    // candidate, and since token counts are positive the running sum is
    // strictly increasing — the filter selects exactly a rank-order
    // PREFIX (take-while-fits), deterministic and oracle-replayable.
    // Integer token counts → exact cumsums.
    "pipe_token_budget" -> ((s, dir) => {
      val w = Window.partitionBy("source")
        .orderBy(col("n_tokens").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .filter(col("cum_tokens") <= TokenBudget)
        .select("source", "doc_id", "n_tokens", "cum_tokens")
        .orderBy("source", "cum_tokens")
    }),

    // Dedup accounting: the cluster-size histogram over exact-content
    // clusters (same md5-of-sorted-token-set key as `pipe_survivor`) —
    // the "how duplicated is this corpus" datasheet row every dedup run
    // reports before anything is dropped. Two aggregations: corpus-scale
    // groupBy on the 16-byte fingerprint (map-side combine collapses
    // duplicates pre-exchange), then a histogram groupBy over the
    // cluster-cardinality relation. The pct denominator is a window over
    // the HISTOGRAM (bounded by distinct cluster sizes — dozens at any
    // corpus scale), not the corpus.
    "pipe_dedup_report" -> ((s, dir) => {
      val fp = md5(concat_ws(" ",
        array_sort(array_distinct(split(col("text"), " ")))))
      Tables.documents(s, dir)
        .groupBy(fp.as("fp")).agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
        .withColumn("pct_of_corpus", round(
          col("n_docs") / sum(col("n_docs")).over(Window.partitionBy()), 6))
        .select("cluster_size", "n_clusters", "n_docs", "pct_of_corpus")
        .orderBy("cluster_size")
    }),

    // NEAR-dup accounting (r10): the same datasheet over NEAR-duplicate
    // clusters — connected components at Jaccard ≥ 0.9 from the
    // DETERMINISTIC prefix-filter pair set (`dedup_clusters`' labels:
    // collapse → AllPairs candidates → exact verify → CC), so the report
    // is exact and reproducible where a MinHash-banded clustering would
    // embed hash luck in a published corpus datasheet. n_dropped is the
    // per-size-class cost of keeping one survivor per cluster — the
    // headline number of a near-dedup run. Beyond the corpus-scale work
    // the labels already did, this is two bounded aggregations (cluster
    // cardinalities, then the histogram); the pct window runs over the
    // histogram, never the corpus.
    "pipe_near_dedup_report" -> ((s, dir) => {
      DedupOps.queries("dedup_clusters")(s, dir)
        .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"),
          ((col("cluster_size") - 1) * col("n_clusters")).as("n_dropped"))
        .withColumn("pct_of_corpus", round(
          col("n_docs") / sum(col("n_docs")).over(Window.partitionBy()), 6))
        .orderBy("cluster_size")
    }),

    // SPAN-level dedup accounting (r10 cont.): the datasheet over
    // `dedup_substring`'s maximal duplicated spans — per-doc duplicated-
    // token fraction bucketed into deciles (bucket 10 = fully duplicated),
    // the "how much of each document is boilerplate" histogram a
    // substring-dedup run publishes before scrubbing. Spans are disjoint
    // by the coverage merge, so Σ span_len per doc IS its duplicated-token
    // count; docs with no flagged span (including those shorter than k)
    // land in bucket 0 via the left join. The bucket is the exact integer
    // division (10·dup) div n_toks — never a float path, so decile
    // boundaries can't drift cross-engine. Beyond the span derivation the
    // plan adds one doc-cardinality left join + a ≤11-row histogram; the
    // pct window runs over the histogram, never the corpus.
    "pipe_substring_report" -> ((s, dir) => {
      val perDoc = DedupOps.substringSpans(s, dir)
        .groupBy("doc_id").agg(sum("span_len").as("dup"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("bigint").as("n_toks"))
        .join(perDoc, Seq("doc_id"), "left")
        .na.fill(0L, Seq("dup"))
        .withColumn("bucket", expr("(10 * dup) div n_toks"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("dup").as("dup_tokens"))
        .withColumn("pct_of_corpus", round(
          col("n_docs") / sum(col("n_docs")).over(Window.partitionBy()), 6))
        .select("bucket", "n_docs", "dup_tokens", "pct_of_corpus")
        .orderBy("bucket")
    }),

    // Deterministic stratified sample: language-dependent keep rate via
    // the first hex digit of md5(doc_id) — reproducible under retries and
    // repartitioning, auditable (the keep decision is a pure function of
    // the row), and a single codegen'd scan.
    "pipe_sample_stratified" -> ((s, dir) => {
      val bucket = substring(md5(col("doc_id").cast("string")), 1, 1)
      val keep = StratRates.foldLeft(bucket.isin(admitted(DefaultRate): _*)) {
        case (acc, (l, r)) =>
          when(col("lang") === l, bucket.isin(admitted(r): _*)).otherwise(acc)
      }
      Tables.documents(s, dir)
        .filter(keep)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // Weighted reservoir sample (r15): k docs per source drawn with
    // probability PROPORTIONAL TO LENGTH (w = n_chars) — the curation
    // primitive `pipe_sample_stratified`'s fixed hash RATES cannot
    // express ("give me k docs per source, long docs more likely", the
    // DoReMi/DSIR-style weighted-selection step). Efraimidis & Spirakis
    // 2006 A-ES: each row draws the key ln(u)/w for a uniform u and the
    // k LARGEST keys per group are a weight-proportional sample; top-k
    // is mergeable, so this is one-pass, deterministic, and retry-safe.
    // u is a pure md5 function of doc_id (48 bits, (v+1)/(2⁴⁸+1) — the
    // pipe_split no-RNG discipline), the one ln per row pre-rounds at
    // 10dp (the established libm pin; ties then break on doc_id both
    // engines), and the per-source top-k rides the map-side
    // [[graft.functions.TopK]] Aggregator — NEVER a corpus-scale window
    // on the low-cardinality source key: the shuffle carries at most k
    // entries per (partition, source) at any corpus size. Oracle = the
    // same key expression + QUALIFY row_number; brute driver replay +
    // the length-skew property pinned in PipelineSpec.
    "pipe_weighted_sample" -> ((s, dir) => {
      val v = conv(substring(md5(col("doc_id").cast("string")), 1, 12),
        16, 10).cast("long")
      val u = (v + lit(1.0)) / lit(281474976710657.0) // 2^48 + 1
      val key = Num.pin(log(u) / col("n_chars"), 10)
      Tables.documents(s, dir)
        .filter(col("n_chars") > 0)
        .groupBy(col("source"))
        .agg(graft.functions.TopK.topK(WeightedSampleK)(col("doc_id"), key)
          .as("t"))
        .select(col("source"),
          posexplode(arrays_zip(col("t.ids"), col("t.scores"))))
        .select(col("source"), (col("pos") + 1).cast("int").as("rank"),
          col("col.ids").as("doc_id"), col("col.scores").as("aes_key"))
        .orderBy("source", "rank")
    }),

    // Survivor selection: one kept doc per exact-content cluster
    // (fingerprint = md5 over the sorted distinct token set, the same key
    // `text_fingerprint` emits), preferring the longest text and breaking
    // ties by min doc_id. The window partitions on the fingerprint —
    // exactly the dedup-pipeline step that turns clusters into a corpus.
    "pipe_survivor" -> ((s, dir) => {
      val fp = md5(concat_ws(" ",
        array_sort(array_distinct(split(col("text"), " ")))))
      val w = Window.partitionBy("fp")
        .orderBy(col("n_chars").desc, col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("fp", fp)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "fp", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    // The composed pipeline, end to end, as ONE declarative plan: exact
    // dedup (survivor per identical text) -> NEAR dedup (keep only the
    // J ≥ 0.9 component representative — `dedup_clusters`' labeling, so
    // paraphrase-level duplicates of a survivor drop too, r11) ->
    // benchmark decontamination (anti-join against the docs sharing any
    // 4-token shingle with the held-out eval slice, r11) -> quality gate
    // (length band + Gopher duplicate-token fraction) -> deterministic
    // md5 split -> per-(lang, split) corpus accounting. This is the
    // flagship composition claim: the individual operators chain into
    // the actual production corpus build without materialization
    // barriers between the chained stages (the one checkpoint inside
    // clusterLabels is the CC loop's own discipline, identical to
    // running dedup_clusters standalone). Corpus-scale exchanges stay
    // bounded and slim: the dedup groupBy on text, the near/decontam
    // stages' doc_id- and shingle-keyed joins (8-byte keys, map-side
    // combined aggregations), and the final vocabulary-sized accounting
    // groupBy — PlanSpec pins the exchange census.
    "pipe_e2e" -> ((s, dir) => {
      val survivors = Tables.documents(s, dir)
        .groupBy("text")
        .agg(min(col("doc_id")).as("doc_id"),
          min_by(col("lang"), col("doc_id")).as("lang"))
      // component representatives: cluster_id = min doc_id of the
      // J ≥ 0.9 component, so doc_id == cluster_id is the survivor
      // predicate; semi join keeps plan columns slim (doc_id only
      // crosses the exchange)
      val reps = DedupOps.clusterLabels(s, dir)
        .filter(col("doc_id") === col("cluster_id"))
        .select("doc_id")
      val contaminated = decontamHits(s, dir).select("doc_id")
      val clean = survivors
        .join(reps, Seq("doc_id"), "left_semi")
        .join(contaminated, Seq("doc_id"), "left_anti")
      val toks = split(col("text"), " ")
      val gated = clean
        .withColumn("n_tokens", size(toks))
        .withColumn("dup_frac",
          lit(1.0) - size(array_distinct(toks)).cast("double") /
            col("n_tokens"))
        .filter(col("n_tokens").between(20, 400) && col("dup_frac") < 0.8)
      val bucket = md5Bucket(col("doc_id"))
      gated
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy("lang", "split")
    }),

    // Deterministic train/val/test split: bucket = the first FOUR hex
    // digits of md5(doc_id) as an integer mod 100 — 80/10/10. Four digits
    // matter: two (0..255) mod 100 is modulo-biased to ~84.4/7.8/7.8
    // (residues 0..55 occur three times, 56..99 twice); 65536 % 100 = 36
    // leaves the bias under 0.06%. The split is a pure function of the
    // row (stable under retries, repartitioning, and incremental appends
    // — a doc NEVER migrates between splits when the corpus grows, which
    // row_number()-based splits can't promise). One codegen'd scan, no
    // shuffle before the final order.
    "pipe_split" -> ((s, dir) => {
      val bucket = md5Bucket(col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), bucket.as("bucket"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
        .select("doc_id", "source", "split")
        .orderBy("doc_id")
    }),

    // PII scrub: mask digit runs and @-handles, count the redactions —
    // the pre-training hygiene pass. Pure per-row regex map, no shuffle.
    "pipe_pii_scrub" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          regexp_replace(regexp_replace(col("text"),
            "[0-9]+", "<NUM>"), "@[a-z0-9]+", "<HANDLE>").as("scrubbed"),
          (regexp_count(col("text"), lit("[0-9]+")) +
            regexp_count(col("text"), lit("@[a-z0-9]+"))).as("n_masked"))
        .orderBy("doc_id")),

    // Dataset mixing: replicate each doc `epochs(lang)` times with a copy
    // index — sampling-with-replacement weights for corpus mixing,
    // expressed as a generator (explode of a sequence), not a union of
    // per-source scans.
    "pipe_dataset_mix" -> ((s, dir) => {
      val epochs = MixEpochs.foldLeft(lit(1)) { case (acc, (l, n)) =>
        when(col("lang") === l, lit(n)).otherwise(acc)
      }
      Tables.documents(s, dir)
        .withColumn("copy", explode(sequence(lit(1), epochs)))
        .select("doc_id", "lang", "copy")
        .orderBy("doc_id", "copy")
    }),

    // Temperature-scaled mixture weights (the XLM-R / multilingual-
    // pretraining recipe): per-source sampling probability ∝ p^α with
    // α = 0.5, so low-resource sources are up-weighted relative to their
    // share without dominating. One tiny aggregation per source + a
    // window over the |sources|-row table — the output is the sampling
    // TABLE a corpus builder feeds its weighted sampler, with the
    // up/down-weighting factor made explicit.
    "pipe_mix_temperature" -> ((s, dir) => {
      val bySource = Tables.documents(s, dir)
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
      val tot = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1))
      bySource
        .withColumn("p", col("n_docs") / sum("n_docs").over(tot))
        .withColumn("q",
          pow(col("p"), MixAlpha) / sum(pow(col("p"), MixAlpha)).over(tot))
        .select(col("source"), col("n_docs"),
          round(col("p"), 4).as("p"),
          round(col("q"), 4).as("q"),
          round(col("q") / col("p"), 4).as("boost"))
        .orderBy("source")
    }),

    // UniMax language-budget allocation (Chung et al. 2023) — the fairer
    // alternative to temperature sampling `pipe_mix_temperature`
    // implements: spend a total token budget B across languages so every
    // language gets an equal share UNLESS that share would repeat it
    // more than UniMaxEpochCap epochs, in which case it caps at cap·c
    // and the surplus waterfills to the rest. The greedy loop has a
    // closed form because the capped set is an ascending-capacity PREFIX
    // (the test statistic E·cum_{<i} + c_i·E·(L−i+1) is monotone in i —
    // proof in-line), so the whole allocation is one corpus scan into
    // the |langs|-row relation plus windows over that bounded relation,
    // in EXACT integer arithmetic end to end (uncapped shares use floor
    // division; the ≤|langs|-token remainder stays unallocated).
    "pipe_unimax" -> ((s, dir) => {
      val tot = Window.partitionBy()
      val wAsc = Window.orderBy(col("c"), col("lang"))
      val e = UniMaxEpochCap
      // monotonicity: t_i = E·cum_{<i} + c_i·E·(L−i+1); t_{i+1} − t_i =
      // (L−i)·E·(c_{i+1} − c_i) ≥ 0 under the ascending sort, so
      // "t_i ≤ B" cuts a prefix and treating every earlier language as
      // capped inside cum_{<i} is self-consistent.
      Tables.documents(s, dir)
        .groupBy("lang")
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("c"))
        .withColumn("i", row_number().over(wAsc))
        .withColumn("l", count(lit(1)).over(tot))
        .withColumn("t", sum(col("c")).over(tot))
        .withColumn("b", expr("t DIV 2"))
        .withColumn("cumprev", coalesce(sum(col("c")).over(
          wAsc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("capped",
          col("cumprev") * e + col("c") * e * (col("l") - col("i") + 1)
            <= col("b"))
        .withColumn("scapped", sum(when(col("capped"), col("c") * e)
          .otherwise(0L)).over(tot))
        .withColumn("nunc", sum(when(col("capped"), 0L).otherwise(1L))
          .over(tot))
        .withColumn("alloc", when(col("capped"), col("c") * e)
          .otherwise(expr("(b - scapped) DIV nunc")))
        .select(col("lang"), col("c").as("n_tokens"), col("capped"),
          col("alloc").as("alloc_tokens"),
          round(col("alloc").cast("double") / col("c"), 4).as("epochs"),
          Num.pin(col("alloc").cast("double") / col("b"), 6)
            .as("budget_share"))
        .orderBy("lang")
    }),

    // CCNet-style perplexity bucketing: per language, split the corpus
    // into head/middle/tail terciles of the `text_unigram_ppl` document
    // cross-entropy — the quality-stratification datasheet behind "train
    // on the head, sample the middle, drop the tail". Documents collapse
    // to the DISTINCT (lang, 4dp cross-entropy) relation before any
    // window runs (the published entropy is rounded at 4dp, so the
    // domain is value-bounded — the ml_lift_gain distinct-score class),
    // cumulative counts and the ceil-DIV tercile assignment ride that
    // bounded relation, and tie blocks land wholly in one bucket.
    "pipe_ppl_buckets" -> ((s, dir) => {
      val wl = Window.partitionBy("lang")
      val wc = Window.partitionBy("lang").orderBy("ce")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      // session-shared per-doc cross-entropy (r18 opt — ONE derivation
      // with text_unigram_ppl instead of re-running the two-scan LM)
      docs.join(TextOps.unigramCe(s, dir), "doc_id")
        .groupBy(col("lang"), col("cross_entropy").as("ce"))
        .agg(count(lit(1)).as("c"), sum(col("n_tokens")).as("tok"))
        .withColumn("cum", sum(col("c")).over(wc))
        .withColumn("n", sum(col("c")).over(wl))
        .withColumn("bucket", least(lit(2L), expr("(3 * cum + n - 1) DIV n") - 1))
        .groupBy("lang", "bucket")
        .agg(sum(col("c")).as("n_docs"), sum(col("tok")).as("n_tokens"),
          min(col("ce")).as("min_ce"), max(col("ce")).as("max_ce"))
        .withColumn("pct_docs", Num.pin(
          col("n_docs").cast("double") / sum(col("n_docs")).over(wl), 6))
        .select("lang", "bucket", "n_docs", "n_tokens", "min_ce", "max_ce",
          "pct_docs")
        .orderBy("lang", "bucket")
    }),

    // Context-window chunking: split each doc into ChunkSize-token
    // windows advancing by ChunkStride (trailing window kept short) — the
    // tokenize-and-cut step before packing. A generator expression per
    // row (sequence + slice, all codegen'd), no shuffle, no UDF.
    "pipe_chunk" -> ((s, dir) => {
      val t = split(col("text"), " ")
      val k = greatest(lit(0),
        ceil((size(t) - lit(ChunkSize)).cast("double") / ChunkStride)).cast("int")
      Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), k),
            i => slice(t, i * ChunkStride + 1, lit(ChunkSize)))).as(Seq("chunk_id", "toks")))
        .select(col("doc_id"), col("chunk_id").cast("int").as("chunk_id"),
          concat_ws(" ", col("toks")).as("chunk"),
          size(col("toks")).as("n_tokens"))
        .orderBy("doc_id", "chunk_id")
    }),

    // Sequence packing: concatenate docs per language in doc_id order and
    // cut into PackBudget-token bins — each doc's bin is determined by
    // its running start offset (window cumsum minus own length), exactly
    // the "concat then cut at context length" packing an LLM training run
    // performs. One shuffle on the language key.
    "pipe_pack" -> ((s, dir) => {
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), size(split(col("text"), " ")).as("n_tokens"))
        .withColumn("start_offset", sum(col("n_tokens")).over(w) - col("n_tokens"))
        .withColumn("bin", floor(col("start_offset") / PackBudget).cast("int"))
        .orderBy("lang", "doc_id")
    }),

    // Length-bucketed batching accounting: assign every document to a
    // fixed power-of-two sequence-length bucket and report the padding
    // waste per bucket — the signal that drives batch-shape planning in a
    // training pipeline (pad-to-bucket beats pad-to-max by the pad_frac
    // this query measures). Bucket edges are a FIXED CASE ladder, not
    // ceil(log2(len)): both engines agree bit-exactly on integer compares
    // where cross-engine log2 rounding at exact powers of two does not.
    // One codegen'd scan into a ≤6-group aggregate — a pure map at 100 TB
    // with a constant-size shuffle.
    "pipe_length_buckets" -> ((s, dir) => {
      val len = size(split(col("text"), " "))
      val bucket = when(len <= 32, 32).when(len <= 64, 64)
        .when(len <= 128, 128).when(len <= 256, 256)
        .when(len <= 512, 512).otherwise(1024)
      Tables.documents(s, dir)
        .select(len.as("len"), bucket.as("seq_len"))
        .groupBy("seq_len")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("len")).as("token_sum"),
          sum(col("seq_len") - col("len")).as("pad_sum"))
        .select(col("seq_len"), col("n_docs"), col("token_sum"), col("pad_sum"),
          round(col("pad_sum").cast("double") /
            (col("seq_len").cast("bigint") * col("n_docs")), 4).as("pad_frac"))
        .orderBy("seq_len")
    }),

    // Dataset card: the per-source datasheet every released corpus ships —
    // document/token totals, average length, language spread, and the
    // dominant language (deterministic (count desc, lang) tiebreak, the
    // same pinned-mode discipline as `agg_mode`). One tokenize scan into a
    // (source, lang) partial-aggregated groupBy; the argmax window and the
    // final per-source rollup both run over the aggregated relation, which
    // is bounded by |sources|×|langs| — card generation costs one linear
    // pass no matter the corpus size.
    "pipe_dataset_card" -> ((s, dir) => {
      val perLang = Tables.documents(s, dir)
        .select(col("source"), col("lang"),
          size(split(col("text"), " ")).as("n_tokens"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("c"), sum(col("n_tokens")).as("t"))
      val w = Window.partitionBy("source").orderBy(col("c").desc, col("lang"))
      perLang.withColumn("rn", row_number().over(w))
        .groupBy("source")
        .agg(sum(col("c")).as("n_docs"), sum(col("t")).as("token_sum"),
          count(lit(1)).as("n_langs"),
          max(when(col("rn") === 1, col("lang"))).as("top_lang"))
        .select(col("source"), col("n_docs"), col("token_sum"),
          round(col("token_sum").cast("double") / col("n_docs"), 4).as("avg_tokens"),
          col("n_langs"), col("top_lang"))
        .orderBy("source")
    }),

    // Benchmark decontamination: flag training docs that share any
    // 4-token shingle with the held-out eval slice (doc_id % 97 == 0) —
    // the n-gram-overlap scrub every pre-training corpus runs against its
    // eval benchmarks. Shingles are generated executor-side (sequence +
    // slice, codegen'd) and IMMEDIATELY collapsed to a 64-bit hash of the
    // token-hash slice: no shingle string is ever materialized, the
    // broadcast set / join keys / distinct-count all operate on longs
    // (hashing token hashes, not re-joined text, keeps the 4-gram
    // identity exact up to 64-bit collisions — same trade as the dedup
    // collapse fingerprint). At 100 TB the eval side is tiny by
    // construction (a benchmark suite, not the corpus), so Catalyst
    // broadcasts it and the training side streams through map-side — no
    // all-pairs comparison anywhere.
    "pipe_decontaminate" -> ((s, dir) => decontamHits(s, dir).orderBy("doc_id")),

    // Decontamination datasheet (r11): the per-source accounting a
    // released-corpus paper publishes next to the scrub itself — how
    // many docs each source loses to benchmark overlap and how heavy
    // the overlap is. Rides the SAME `decontamHits` relation
    // `pipe_decontaminate` (and pipe_e2e's decontam stage) reports, so
    // the datasheet can never drift from the scrub; past the hits
    // derivation it is one slim doc_id-keyed left join plus a
    // |sources|-bounded aggregation.
    "pipe_contam_report" -> ((s, dir) => {
      val hits = decontamHits(s, dir)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"))
        .filter(col("doc_id") % 97 =!= 0)
        .join(hits, Seq("doc_id"), "left_outer")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_hits").isNotNull, 1L).otherwise(0L))
            .as("n_contaminated"),
          coalesce(sum(col("n_hits")), lit(0L)).as("n_shingle_hits"))
        .withColumn("pct_contaminated", Num.pin(
          col("n_contaminated").cast("double") / col("n_docs"), 6))
        .orderBy("source")
    }),

    // DSIR importance weights (Xie et al., NeurIPS 2023): score every
    // raw doc by how target-like its hashed n-gram profile is —
    // log w(x) = Σ_f c_f(x)·[ln p_tgt(f) − ln p_raw(f)] — the
    // data-selection step between "scrape everything" and "train on the
    // good part" (target here = the en slice, the labeled high-quality
    // domain). Features are the D=16 portable md5-prefix hash buckets
    // `text_hashed_features` fixed (NO vocabulary pass — the whole
    // point of hashed DSIR at 100 TB is that the feature space is
    // constant-size regardless of corpus growth); both feature
    // distributions add-1 smooth so every bucket has finite log-ratio.
    // Plan: ONE tokenize+explode into the (doc, lang, bucket) count
    // shuffle; the 16-row ratio table re-aggregates from it map-side
    // and broadcasts unconditionally (D is a compile-time constant —
    // the genuinely-bounded class); per-doc terms fold as
    // DECIMAL(28,10) like every log-sum in the text family.
    "pipe_dsir_weights" -> ((s, dir) => {
      val dBuckets = 16
      val dc = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("token"))
        .select(col("doc_id"), col("lang"),
          (conv(substring(md5(col("token")), 1, 4), 16, 10)
            .cast("int") % dBuckets).as("f"))
        .groupBy("doc_id", "lang", "f").agg(count(lit(1)).as("c"))
      val fs = dc.groupBy("f").agg(
        sum(when(col("lang") === "en", col("c")).otherwise(0L)).as("ct"),
        sum(col("c")).as("cr"))
      val tot = fs.agg(sum("ct").as("t"), sum("cr").as("r"))
      val ratios = fs.crossJoin(tot)
        .select(col("f"),
          (log((col("ct") + 1).cast("double") /
            (col("t") + dBuckets).cast("double")) -
            log((col("cr") + 1).cast("double") /
              (col("r") + dBuckets).cast("double"))).as("lr"))
      dc.join(broadcast(ratios), "f")
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_tokens"),
          Num.pin(sum((col("c") * col("lr")).cast("decimal(28,10)"))
            .cast("double"), 6).as("log_weight"))
        .orderBy("doc_id")
    }),

    // NEAR-duplicate decontamination: exact shingle overlap above misses
    // paraphrased contamination (reordered sentences, light edits), so
    // real pipelines also scrub by whole-document similarity against the
    // eval set. Two size-conditional plans sharing one verify stage:
    //  - eval side fits the broadcast budget (the normal case — held-out
    //    eval suites are thousands of docs vs a billion-doc corpus):
    //    every corpus doc's sorted token-hash set is compared to the
    //    BROADCAST eval slice with the codegen'd merge-loop Jaccard —
    //    one corpus scan, no shuffle until the per-doc aggregation.
    //  - past the budget: the crossJoin would be a driver OOM (and
    //    without the broadcast, a cartesian), so candidates come from
    //    the DETERMINISTIC AllPairs prefix-filter join instead
    //    ([[DedupOps.prefixCandidates]] over the union of both sides —
    //    ids are disjoint by the % 97 split). 100% recall at the
    //    threshold (unlike a MinHash band prefilter, whose designed
    //    boundary miss would make the two paths diverge — §7.4), so
    //    both paths produce IDENTICAL rows; BcastSpec pins it.
    "pipe_decontaminate_near" -> ((s, dir) => {
      val th = Tables.documents(s, dir).select(col("doc_id"),
        array_sort(transform(array_distinct(split(col("text"), " ")),
          t => xxhash64(t))).as("th"))
      val corpus = th.filter(col("doc_id") % 97 =!= 0)
      val evalSide = th.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("eval_id"), col("th").as("th_e"))
      def verified(pairs: DataFrame): DataFrame = pairs
        .withColumn("jac",
          round(graft.functions.ArrayExprs.sortedJaccard(col("th"), col("th_e")), 4))
        .filter(col("jac") >= NearDecontamJaccard)
        .groupBy("doc_id")
        .agg(countDistinct("eval_id").as("n_eval_hits"),
          max("jac").as("max_jaccard"))
        .orderBy("doc_id")
      val p = evalSide.persist()
      if (Bcast.budget > 0 &&
          Bcast.measuredBytes(p, size(col("th_e")) * lit(8L) + lit(16L))
            <= Bcast.budget)
        verified(corpus.crossJoin(broadcast(p)))
      else {
        // Collapse each side to UNIQUE token sets first (fingerprint
        // groupBy, min id as representative — the dedup-family
        // collapse-then-compare discipline): a dup-heavy corpus would
        // otherwise inflate same-side candidate pairs quadratically in
        // the dup factor, pairs the orientation filter can only discard
        // AFTER the join produced them. Sides collapse separately, so
        // an eval doc whose set matches a corpus doc keeps its own
        // representative; min() over one side's members stays on that
        // side (ids are disjoint by the % 97 split). Jaccard depends
        // only on the set, so verifying at representative level and
        // expanding through the member maps reproduces the broadcast
        // path's doc-level rows exactly.
        val cFp = corpus.withColumn("fp", xxhash64(col("th")))
        val cRep = cFp.groupBy("fp")
          .agg(min("doc_id").as("gid"), first("th").as("th")).persist()
        val cMem = cFp.select(col("fp"), col("doc_id"))
          .join(cRep.select("fp", "gid"), "fp").select("gid", "doc_id")
        val eFp = p.withColumn("fp", xxhash64(col("th_e")))
        val eRep = eFp.groupBy("fp")
          .agg(min("eval_id").as("gid"), first("th_e").as("th_e")).persist()
        val eMem = eFp.select(col("fp"), col("eval_id"))
          .join(eRep.select("fp", "gid"), "fp").select("gid", "eval_id")
        val uniq = cRep.select(col("gid"), col("th"))
          .unionByName(eRep.select(col("gid"), col("th_e").as("th")))
        // candidates may repeat per shared prefix token and arrive in
        // either orientation; normalize to (corpus, eval), drop
        // same-side pairs, and dedupe BEFORE the wide-array verify join
        val candPairs = DedupOps.prefixCandidates(uniq, NearDecontamJaccard)
          .select(
            when(col("gid_a") % 97 === 0, col("gid_b"))
              .otherwise(col("gid_a")).as("cgid"),
            when(col("gid_a") % 97 === 0, col("gid_a"))
              .otherwise(col("gid_b")).as("egid"))
          .filter(col("cgid") % 97 =!= 0 && col("egid") % 97 === 0)
          .distinct()
        val repPairs = candPairs
          .join(cRep.select(col("gid").as("cgid"), col("th")), "cgid")
          .join(eRep.select(col("gid").as("egid"), col("th_e")), "egid")
          .withColumn("jac", round(
            graft.functions.ArrayExprs.sortedJaccard(col("th"), col("th_e")), 4))
          .filter(col("jac") >= NearDecontamJaccard)
          .select("cgid", "egid", "jac")
        repPairs
          .join(cMem.select(col("gid").as("cgid"), col("doc_id")), "cgid")
          .join(eMem.select(col("gid").as("egid"), col("eval_id")), "egid")
          .groupBy("doc_id")
          .agg(countDistinct("eval_id").as("n_eval_hits"),
            max("jac").as("max_jaccard"))
          .orderBy("doc_id")
      }
    }),

    // Feature normalization: per-language z-score of document length —
    // the standardize-before-training step of any feature pipeline.
    // Group stats come from ONE partial+final aggregation and broadcast
    // back onto the scan (never a window: an all-rows window re-sorts
    // the corpus inside each group for two scalar moments; the join form
    // is two linear passes and the stats table is |groups| rows).
    "pipe_normalize" -> ((s, dir) => {
      val stats = Tables.documents(s, dir)
        .groupBy("lang")
        .agg(avg("n_chars").as("mu"), stddev_samp("n_chars").as("sigma"))
      Tables.documents(s, dir)
        .join(broadcast(stats), "lang")
        .select(col("doc_id"), col("lang"),
          Num.pin((col("n_chars") - col("mu")) / col("sigma"), 4).as("z_chars"))
        .orderBy("doc_id")
    }),

    // Data-quality audit (the dbt-test / Great-Expectations step a corpus
    // or warehouse load runs before publishing): null-rate, domain, and
    // referential-integrity violation counts in ONE scan of the fact
    // table plus one key-level anti join. Conditional sums keep the scan
    // single-pass and codegen'd; the orphan check pre-collapses to
    // DISTINCT keys so the anti join shuffles |keys|, not |rows|. Output
    // is a one-row report — the shape a pipeline gate asserts on.
    "pipe_expectations" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val scanChecks = li.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("l_shipdate").isNull, 1).otherwise(0)).as("null_shipdate"),
        sum(when(!col("l_quantity").between(1, 50), 1).otherwise(0)).as("bad_quantity"),
        sum(when(!col("l_discount").between(0, 1), 1).otherwise(0)).as("bad_discount"))
      val orphans = li.select("l_orderkey").distinct()
        .join(Tables.orders(s, dir).select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("orphan_orderkeys"))
      scanChecks.crossJoin(orphans)
    }),

    // Conversion funnel: per user, first click and whether a purchase
    // follows it within 1 hour. ONE shuffle on user_id via conditional
    // aggregation (min over tagged timestamps), then a flag — no
    // self-join of the event stream.
    "pipe_funnel" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("ts"), col("event_type"))
      ev.groupBy("user_id")
        .agg(
          min(when(col("event_type") === "click", col("ts"))).as("first_click"),
          count(when(col("event_type") === "click", 1)).as("n_clicks"),
          count(when(col("event_type") === "purchase", 1)).as("n_purchases"))
        .filter(col("first_click").isNotNull)
        .join(
          ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts").as("p_ts")),
          Seq("user_id"), "left")
        .groupBy("user_id", "first_click", "n_clicks", "n_purchases")
        .agg(max(col("p_ts").isNotNull &&
          col("p_ts") >= col("first_click") &&
          col("p_ts") <= col("first_click") + expr("INTERVAL 1 HOUR")).as("converted"))
        .orderBy("user_id")
    }),

    // Token → vocabulary-id mapping (the tokenizer-prep step before
    // packing): vocabulary ids assigned by frequency rank (count desc,
    // token asc — the byte-pair-encoding convention of "most frequent =
    // smallest id"), each doc re-emitted as its id sequence. See
    // [[vocabEncode]] for the scale design (min-count cutoff, scalable
    // rank assignment, size-conditional vocab join).
    "pipe_vocab" -> ((s, dir) => vocabEncode(s, dir, VocabMinCount)),

    // Cohort retention matrix: users bucketed by first-seen day, the
    // classic "how many of day-D's new users were active k days later".
    // Two aggregations — first-seen per user (one shuffle on user_id,
    // reused by the join since the activity scan shuffles on the same
    // key), then distinct users per (cohort, offset). The matrix itself
    // is days × days — bounded by the calendar, never by event volume.
    "pipe_retention" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val firsts = ev.groupBy("user_id").agg(min(col("day")).as("cohort"))
      ev.join(firsts, "user_id")
        .groupBy(col("cohort"), datediff(col("day"), col("cohort")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort", "day_offset")
    }),

    // Deterministic corpus shuffle: the reproducible training order every
    // epoch pipeline needs — shuffle key = md5 over a salted doc_id, so
    // the permutation is a pure function of the row (survives retries,
    // repartitioning, and corpus appends reshuffling nothing they don't
    // touch). Global POSITIONS are assigned scalably: range-partition on
    // the key (a parallel total sort), count rows per range partition
    // (a #partitions-sized table), convert to cumulative offsets, and
    // add a per-partition row_number — NEVER `row_number() OVER (ORDER
    // BY key)`, whose empty partition spec collapses the corpus into one
    // task. The only single-partition window here runs over the 32-row
    // partition-counts table, bounded by cluster config, not data.
    "pipe_shuffle" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val nParts = s.conf.get("spark.sql.shuffle.partitions").toInt
      // persisted: pids must be identical for the counts pass and the
      // position pass (range boundaries come from sampling the data —
      // recomputation across two jobs is the kind of nondeterminism
      // that silently corrupts every position after partition 0)
      val keyed = Tables.documents(s, dir)
        .select(col("doc_id"),
          md5(concat(lit("shuffle:"), col("doc_id").cast("string"))).as("skey"))
        .repartitionByRange(nParts, col("skey"))
        // no pre-persist sort — the row_number window re-sorts above the
        // cache, offs is order-free (r18 opt: the agg_weighted_median trim)
        .withColumn("pid", spark_partition_id())
        .persist()
      val offs = keyed.groupBy("pid").count()
        .withColumn("offset",
          coalesce(sum(col("count")).over(
            Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        .select("pid", "offset")
      val w = Window.partitionBy("pid").orderBy("skey", "doc_id")
      keyed.join(broadcast(offs), "pid")
        .select(col("doc_id"), col("skey"),
          (row_number().over(w).cast("long") - 1L + col("offset")).as("pos"))
        .orderBy("pos")
    }),

    // Model-based quality filtering with a FIXED linear scorer — the
    // shape of the fasttext/CCNet quality-classifier gate every web-scale
    // corpus applies, made reproducible: engineered per-doc features
    // (stopword ratio, length score, digit ratio) feed a literal-weight
    // linear logit, and keep = logit ≥ 0. A pure codegen'd row map, ZERO
    // shuffles — at 100 TB this is a scan the quality gate rides for
    // free. Determinism: every feature is an exactly-rounded IEEE
    // division, each weighted term pre-rounds to 6dp, and the fixed
    // left-assoc 3-term sum of rounded doubles is bit-equal cross-engine
    // (no ln/exp — a sigmoid would order-drift; the keep decision only
    // needs the logit's sign anyway).
    "pipe_quality_logit" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val nTok = size(toks)
      val stopRatio = round(
        size(expr(s"filter(split(text, ' '), t -> t IN ($StopwordList))"))
          .cast("double") / nTok, 6)
      val lenScore = round(least(nTok, lit(256)).cast("double") / 256.0, 6)
      val digitRatio = round(
        size(expr("filter(split(text, ' '), t -> t rlike '^[0-9]+$')"))
          .cast("double") / nTok, 6)
      val logit = round(lit(-0.6) + round(lit(3.0) * stopRatio, 6) +
        round(lit(1.5) * lenScore, 6) - round(lit(2.0) * digitRatio, 6), 6)
      Tables.documents(s, dir)
        .select(col("doc_id"), nTok.cast("long").as("n_tokens"),
          stopRatio.as("stop_ratio"), lenScore.as("len_score"),
          digitRatio.as("digit_ratio"), logit.as("logit"),
          (logit >= 0.0).as("keep"))
        .orderBy("doc_id")
    })
  )

  /** Stopword mini-lexicon for `pipe_quality_logit` (SQL IN-list form,
    * shared verbatim with the oracle): high-frequency English + Spanish
    * function words — enough signal for the demonstration scorer while
    * staying lexicon-free and portable. */
  val StopwordList: String =
    Seq("the", "of", "and", "a", "in", "to", "is", "it", "that", "for",
      "de", "la", "el", "en", "y", "que", "los", "un", "por", "con")
      .map(w => s"'$w'").mkString(", ")

  /** Shared BPE machinery for `pipe_bpe_train` / `pipe_bpe_encode` /
    * `pipe_bpe_fertility`: up to [[BpeMerges]] Sennrich merge rounds as a
    * convergence-driven loop (see the scale note at the `pipe_bpe_train`
    * declaration — the only corpus-scale pass is the word-frequency
    * aggregate; every round is vocabulary-sized). r12 verdict: the fixed
    * 3-round unroll was a demo — a real tokenizer-pipeline signal needs
    * enough merges that multi-symbol tokens form. The loop follows the
    * `graph_kcore` fixpoint discipline: each round's vocabulary is
    * `localCheckpoint`'ed so the plan stays flat, and the per-round
    * decision reads ONE bounded row (the top pair — the same
    * loop-convergence-scalar class as the CC round counter). Training
    * stops early when no adjacent pair repeats (cnt < 2 — merging a
    * singleton pair can never compress), capped at [[BpeMerges]].
    * Returns the ordered merge list (round, pair, cnt) and the final
    * rewritten vocabulary. The learned pairs are regex-literal-safe by
    * construction (words filtered to ^[a-z]+$).
    *
    * The TRAINED rule list is memoized per (session, fixture dir) — r13
    * verdict item 1: `pipe_bpe_train`/`encode`/`fertility` each re-ran
    * the full loop (up to 48 driver-coordinated rounds where 16
    * suffice). The memo value is the ≤ [[BpeMerges]]-row driver-side
    * merge list (no session reference, so the weak-keyed [[SessionMemo]]
    * never pins the session); the final vocabulary is REBUILT lazily by
    * folding the learned rules over the word-frequency relation — one
    * dictionary-scale pass of literal regex rewrites, identical on memo
    * hit and miss, so consumers see one plan shape either way. */
  private[graft] def bpeLearn(s: SparkSession, dir: String)
      : (Seq[(Int, String, Long)], DataFrame) = {
    val merges = bpeMemo.getOrElseUpdate(s, dir)(bpeTrain(s, dir))
    val vFinal = merges.foldLeft(bpeVocab0(s, dir)) {
      case (v, (_, pair, _)) => bpeApply(v, pair)
    }
    (merges, vFinal)
  }

  private val bpeMemo = new SessionMemo[String, Seq[(Int, String, Long)]]

  /** Drop a session's trained BPE rules (spec isolation: job-count
    * assertions on the TRAINING loop need the next call to retrain). */
  private[graft] def evictBpe(s: SparkSession): Unit = bpeMemo.remove(s)

  /** The word-frequency relation as spaced symbol sequences — the v0
    * every BPE consumer starts from (the one corpus-scale pass). */
  private def bpeVocab0(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("f"))
      .select(concat(lit(" "),
        regexp_replace(col("word"), "(.)", "$1 ")).as("seq"), col("f"))

  /** The convergence-driven training loop itself (memo-miss path). */
  private def bpeTrain(s: SparkSession, dir: String): Seq[(Int, String, Long)] = {
    def pairCounts(v: DataFrame): DataFrame =
      v.select(split(trim(col("seq")), " ").as("a"), col("f"))
        .filter(size(col("a")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(a) - 2), i -> concat(a[i], ' ', a[i + 1]))"))
          .as("pair"), col("f"))
        .groupBy("pair").agg(sum(col("f")).as("cnt"))
    var v = bpeVocab0(s, dir).localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, Long)]
    var k = 1
    var converged = false
    while (k <= BpeMerges && !converged) {
      val top = pairCounts(v).filter(col("cnt") >= 2)
        .orderBy(col("cnt").desc, col("pair")).limit(1).collect()
      if (top.isEmpty) converged = true
      else {
        val pair = top(0).getString(0)
        val cnt = top(0).getLong(1)
        merges += ((k, pair, cnt))
        v = bpeApply(v, pair).localCheckpoint()
        k += 1
      }
    }
    merges.result()
  }

  /** One learned merge applied to a spaced-symbol `seq` column — the
    * ' a b ' → ' ab ' rewrite, applied twice because left-to-right
    * non-overlap consumes the shared delimiter (identically partial on
    * Java regex and DuckDB's RE2). */
  private def bpeApply(v: DataFrame, pair: String): DataFrame = {
    val pat = lit(s" $pair ")
    val rep = lit(" " + pair.replace(" ", "") + " ")
    v.withColumn("seq",
      regexp_replace(regexp_replace(col("seq"), pat, rep), pat, rep))
  }

  /** One DuckDB CTE round replaying [[bpeLearn]]'s round k: pair counts
    * over v(k-1), the cnt >= 2 top-1 (EMPTY once training has converged),
    * and the rewritten vocabulary — with a NOT EXISTS pass-through branch
    * so post-convergence rounds are identity and the chain is total over
    * all [[BpeMerges]] rounds regardless of where the Spark loop stopped.
    * v/t are MATERIALIZED: each is referenced by several later CTEs and
    * an inlining evaluation would re-run the whole prefix per reference
    * (exponential in the round count). */
  private def bpeRoundCte(k: Int): String = {
    val prev = s"v${k - 1}"
    s"""p$k AS (
           SELECT pair, CAST(sum(f) AS BIGINT) AS cnt FROM (
             SELECT unnest(list_transform(range(1, len(a)),
                      i -> a[i] || ' ' || a[i + 1])) AS pair, f
             FROM (SELECT string_split(trim(seq), ' ') AS a, f FROM $prev)
             WHERE len(a) >= 2
           ) GROUP BY pair
         ), t$k AS MATERIALIZED (SELECT pair, cnt FROM p$k WHERE cnt >= 2
                    ORDER BY cnt DESC, pair LIMIT 1),
         v$k AS MATERIALIZED (
           SELECT regexp_replace(regexp_replace(seq,
                    ' ' || t$k.pair || ' ', ' ' || replace(t$k.pair, ' ', '') || ' ', 'g'),
                    ' ' || t$k.pair || ' ', ' ' || replace(t$k.pair, ' ', '') || ' ', 'g')
                    AS seq, f
           FROM $prev CROSS JOIN t$k
           UNION ALL
           SELECT seq, f FROM $prev WHERE NOT EXISTS (SELECT 1 FROM t$k)
         )"""
  }

  /** The DuckDB CTE chain replaying [[bpeLearn]] (v0 → p1/t1/v1 → … →
    * p16/t16/v16), generated from the SAME [[BpeMerges]] constant the
    * Spark loop reads and shared verbatim by the `pipe_bpe_train`,
    * `pipe_bpe_encode`, and `pipe_bpe_fertility` oracles so all three
    * keys pin ONE training definition. */
  private val BpeCtes: String =
    """v0 AS MATERIALIZED (
           SELECT ' ' || regexp_replace(word, '(.)', '\1 ', 'g') AS seq,
                  count(*) AS f
           FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
           WHERE regexp_matches(word, '^[a-z]+$')
           GROUP BY word
         )""" + (1 to BpeMerges).map(k => ", " + bpeRoundCte(k)).mkString

  def oracles: Map[String, String] = Map(
    "ml_auc" ->
      """WITH bs AS (
           SELECT n_chars AS score,
                  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p,
                  count(*) - sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ng
           FROM documents GROUP BY n_chars
         ), c AS (
           SELECT p, ng,
                  sum(ng) OVER (ORDER BY score
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumng
           FROM bs
         )
         SELECT round((CAST(sum(CAST(p AS DECIMAL(19,0))
                                 * CAST(cumng - ng AS DECIMAL(19,0))) AS DOUBLE) * 2
                       + CAST(sum(CAST(p AS DECIMAL(19,0))
                                  * CAST(ng AS DECIMAL(19,0))) AS DOUBLE))
                      / (CAST(sum(p) AS DOUBLE) * CAST(sum(ng) AS DOUBLE) * 2.0), 6) AS auc,
                CAST(sum(p) AS BIGINT) AS n_pos,
                CAST(sum(ng) AS BIGINT) AS n_neg
         FROM c""",
    "ml_auc_by_group" ->
      """WITH bs AS (
           SELECT source, n_chars AS score,
                  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p,
                  count(*) - sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ng
           FROM documents GROUP BY source, n_chars
         ), c AS (
           SELECT source, p, ng,
                  sum(ng) OVER (PARTITION BY source ORDER BY score
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumng
           FROM bs
         )
         SELECT source,
                round((CAST(sum(CAST(p AS DECIMAL(19,0))
                                * CAST(cumng - ng AS DECIMAL(19,0))) AS DOUBLE) * 2
                       + CAST(sum(CAST(p AS DECIMAL(19,0))
                                  * CAST(ng AS DECIMAL(19,0))) AS DOUBLE))
                      / (CAST(sum(p) AS DOUBLE) * CAST(sum(ng) AS DOUBLE) * 2.0), 6) AS auc,
                CAST(sum(p) AS BIGINT) AS n_pos,
                CAST(sum(ng) AS BIGINT) AS n_neg
         FROM c
         GROUP BY source
         HAVING sum(p) > 0 AND sum(ng) > 0
         ORDER BY source""",
    // each round: pair-count CTE → guarded 1-row top-1 CTE → rewritten
    // vocab CTE (generated from BpeMerges); empty post-convergence t_k
    // rounds contribute no rows to the union
    "pipe_bpe_train" ->
      s"""WITH $BpeCtes
         SELECT round, pair, replace(pair, ' ', '') AS merged, cnt FROM (
           ${(1 to BpeMerges).map(k =>
             s"SELECT $k AS round, pair, cnt FROM t$k")
             .mkString("\n           UNION ALL ")}
         ) ORDER BY round""",
    // t1..t16 replay training verbatim (shared CTE block); the final
    // vocabulary CTE feeds the exact-integer datasheet
    "pipe_bpe_encode" ->
      s"""WITH $BpeCtes,
         agg AS (
           SELECT count(*) AS n_words,
                  CAST(sum(f) AS BIGINT) AS n_occurrences,
                  CAST(sum(f * len(replace(trim(seq), ' ', ''))) AS BIGINT)
                    AS symbols_before,
                  CAST(sum(f * len(string_split(trim(seq), ' '))) AS BIGINT)
                    AS symbols_after
           FROM v$BpeMerges
         )
         SELECT n_words, n_occurrences, symbols_before, symbols_after,
                round(CAST(symbols_after AS DOUBLE) / symbols_before, 6)
                  AS compression
         FROM agg""",
    // nests BpeCtes (one training definition across train/encode/
    // fertility) and re-encodes the lang-keyed vocabulary with the same
    // double-application rewrites
    "pipe_bpe_fertility" ->
      s"""WITH $BpeCtes,
         wl AS (
           SELECT lang, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq,
                  count(*) AS f
           FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
                 FROM documents)
           WHERE regexp_matches(word, '^[a-z]+$$')
           GROUP BY 1, 2
         ), ${(1 to BpeMerges).map { k =>
             val prev = if (k == 1) "wl" else s"e${k - 1}"
             s"""e$k AS MATERIALIZED (
           SELECT lang, f, regexp_replace(regexp_replace(seq,
                    ' ' || t$k.pair || ' ', ' ' || replace(t$k.pair, ' ', '') || ' ', 'g'),
                    ' ' || t$k.pair || ' ', ' ' || replace(t$k.pair, ' ', '') || ' ', 'g')
                    AS seq
           FROM $prev CROSS JOIN t$k
           UNION ALL
           SELECT lang, f, seq FROM $prev WHERE NOT EXISTS (SELECT 1 FROM t$k)
         )"""}.mkString(", ")}
         SELECT lang, CAST(sum(f) AS BIGINT) AS n_words,
                CAST(sum(f * len(string_split(trim(seq), ' '))) AS BIGINT)
                  AS n_tokens,
                floor(CAST(CAST(sum(f * len(string_split(trim(seq), ' ')))
                           AS BIGINT) AS DOUBLE)
                      / CAST(sum(f) AS BIGINT) * 1e6 + 0.5) / 1e6 AS fertility
         FROM e$BpeMerges GROUP BY lang ORDER BY lang""",
    "pipe_repeat_factors" ->
      """WITH tok AS (
           SELECT source,
                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source
         ), w AS (
           SELECT source, n_tokens,
                  CAST(sq AS DOUBLE) / CAST(sum(sq) OVER () AS DOUBLE) AS w
           FROM (
             SELECT source, n_tokens,
                    CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(28,10)) AS sq
             FROM tok
           )
         )
         SELECT source, n_tokens, round(w, 6) AS weight,
                CAST(floor(w * 10000000.0) AS BIGINT) AS target_tokens,
                round(w * 10000000.0 / n_tokens, 4) AS repeat_factor
         FROM w ORDER BY source""",
    "pipe_token_budget" ->
      """SELECT source, doc_id, n_tokens, cum_tokens FROM (
           SELECT source, doc_id, n_tokens,
                  CAST(sum(n_tokens) OVER (PARTITION BY source
                    ORDER BY n_tokens DESC, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_tokens
           FROM (
             SELECT source, doc_id,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             FROM documents
           )
         ) WHERE cum_tokens <= 2000 ORDER BY source, cum_tokens""",
    "ml_pr_curve" ->
      """WITH bs AS (
           SELECT n_chars AS score,
                  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p,
                  count(*) - sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ng
           FROM documents GROUP BY n_chars
         ), c AS (
           SELECT score, p, ng,
                  sum(p) OVER (ORDER BY score DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cump,
                  sum(ng) OVER (ORDER BY score DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumn,
                  sum(p) OVER () AS npos
           FROM bs
         )
         SELECT score,
                round(CAST(cump AS DOUBLE) / (cump + cumn), 6) AS precision,
                round(CAST(cump AS DOUBLE) / npos, 6) AS recall,
                CAST(cump + cumn AS BIGINT) AS n_predicted
         FROM c ORDER BY score DESC""",
    "ml_roc_curve" ->
      """WITH bs AS (
           SELECT n_chars AS score,
                  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p,
                  count(*) - sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ng
           FROM documents GROUP BY n_chars
         ), c AS (
           SELECT score, p, ng,
                  sum(p) OVER (ORDER BY score DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cump,
                  sum(ng) OVER (ORDER BY score DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumn,
                  sum(p) OVER () AS npos,
                  sum(ng) OVER () AS nneg
           FROM bs
         )
         SELECT score,
                round(CAST(cumn AS DOUBLE) / nneg, 6) AS fpr,
                round(CAST(cump AS DOUBLE) / npos, 6) AS tpr,
                CAST(cump + cumn AS BIGINT) AS n_predicted
         FROM c ORDER BY score DESC""",
    // same sweep; the argmax compares the exact integer cump*nneg -
    // cumn*npos so the picked threshold cannot flip on a float tie
    "ml_youden_j" ->
      """WITH bs AS (
           SELECT n_chars AS score,
                  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p,
                  count(*) - sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ng
           FROM documents GROUP BY n_chars
         ), c AS (
           SELECT score,
                  CAST(sum(p) OVER (ORDER BY score DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cump,
                  CAST(sum(ng) OVER (ORDER BY score DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cumn,
                  CAST(sum(p) OVER () AS BIGINT) AS npos,
                  CAST(sum(ng) OVER () AS BIGINT) AS nneg
           FROM bs
         ), r AS (
           SELECT *,
                  row_number() OVER (ORDER BY cump * nneg - cumn * npos DESC,
                                     score) AS rn
           FROM c
         )
         SELECT score AS threshold,
                floor(CAST(cump AS DOUBLE) / npos * 1e6 + 0.5) / 1e6 AS tpr,
                floor(CAST(cumn AS DOUBLE) / nneg * 1e6 + 0.5) / 1e6 AS fpr,
                floor((CAST(cump AS DOUBLE) / npos
                       - CAST(cumn AS DOUBLE) / nneg) * 1e6 + 0.5) / 1e6
                  AS youden_j,
                cump + cumn AS n_predicted
         FROM r WHERE rn = 1""",
    "ml_lift_gain" ->
      """WITH bs AS (
           SELECT n_chars AS score,
                  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p,
                  count(*) AS r
           FROM documents GROUP BY n_chars
         ), c AS (
           SELECT p, r,
                  CAST(sum(p) OVER w AS BIGINT) AS cump,
                  CAST(sum(r) OVER w AS BIGINT) AS cumr,
                  CAST(sum(r) OVER () AS BIGINT) AS nt,
                  CAST(sum(p) OVER () AS BIGINT) AS np
           FROM bs
           WINDOW w AS (ORDER BY score DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         )
         SELECT decile, CAST(sum(r) AS BIGINT) AS n_rows,
                CAST(sum(p) AS BIGINT) AS n_pos,
                round(CAST(max(cump) AS DOUBLE) / max(np), 6) AS cum_capture,
                round((CAST(max(cump) AS DOUBLE) / max(cumr)) /
                      (CAST(max(np) AS DOUBLE) / max(nt)), 6) AS lift
         FROM (
           SELECT p, r, cump, cumr, nt, np,
                  least(9, (10 * cumr + nt - 1) // nt - 1) AS decile
           FROM c
         ) GROUP BY decile ORDER BY decile""",
    // same bin/conf/acc arithmetic as ml_calibration's oracle; gaps on
    // the published 6dp values, 10dp-pre-rounded DECIMAL term fold
    "ml_ece" ->
      """WITH bins AS (
           SELECT bin, count(*) AS n_docs,
                  sum(pn) AS spn, sum(pos) AS sp
           FROM (
             SELECT CAST(least(floor(n_chars / 50), 9) AS INT) AS bin,
                    least(n_chars, 500) AS pn,
                    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
             FROM documents
           ) GROUP BY bin
         ), tot AS (SELECT sum(n_docs) AS n FROM bins),
         ce AS (
           SELECT n_docs, n,
                  floor(abs(round(CAST(sp AS DOUBLE) / n_docs, 6)
                            - round(CAST(spn AS DOUBLE) / 500.0 / n_docs, 6))
                        * 1e6 + 0.5) / 1e6 AS ce
           FROM bins CROSS JOIN tot
         )
         SELECT CAST(count(*) AS BIGINT) AS n_bins,
                max(ce) AS max_ce,
                floor(CAST(sum(CAST(
                        floor(CAST(n_docs AS DOUBLE) / n * ce * 1e10 + 0.5) / 1e10
                      AS DECIMAL(28,10))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS ece
         FROM ce""",
    // one ln per (pn, y) CELL over the ≤1002-row contingency; ln-terms
    // pre-round at 10dp (floor chain) and fold as exact c×DECIMAL products
    "ml_log_loss" ->
      """WITH cells AS (
           SELECT pn, y, count(*) AS c
           FROM (SELECT least(n_chars, 500) AS pn,
                        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
                 FROM documents) GROUP BY pn, y
         ), t AS (
           SELECT CAST(sum(c) AS BIGINT) AS n_docs,
                  CAST(sum(c * y) AS BIGINT) AS n_pos,
                  sum(c * CAST(floor(ln(CASE WHEN y = 1
                        THEN greatest(least(CAST(pn AS DOUBLE) / 500.0, 0.999), 0.001)
                        ELSE 1.0 - greatest(least(CAST(pn AS DOUBLE) / 500.0, 0.999), 0.001)
                      END) * 1e10 + 0.5) / 1e10 AS DECIMAL(18,10))) AS slt
           FROM cells
         ), b AS (
           SELECT n_docs, n_pos, slt,
                  greatest(least(CAST(n_pos AS DOUBLE) / n_docs, 0.999), 0.001)
                    AS ybar
           FROM t
         )
         SELECT n_docs, n_pos,
                floor(-CAST(slt AS DOUBLE) / n_docs * 1e6 + 0.5) / 1e6
                  AS log_loss,
                floor(-(n_pos * (floor(ln(ybar) * 1e10 + 0.5) / 1e10)
                        + (n_docs - n_pos) *
                          (floor(ln(1.0 - ybar) * 1e10 + 0.5) / 1e10))
                      / n_docs * 1e6 + 0.5) / 1e6 AS baseline_loss
         FROM b""",
    // replica membership replays via the 0x-cast md5 idiom; the CI
    // bounds are the same rank selections over the 64 sorted means
    "ml_bootstrap_ci" ->
      """WITH reps AS (SELECT unnest(range(0, 64)) AS r),
         mem AS (
           SELECT d.n_chars, r.r
           FROM documents d CROSS JOIN reps r
           WHERE CAST(('0x' || substring(md5(
                   CAST(d.doc_id AS VARCHAR) || '_' || CAST(r.r AS VARCHAR)),
                   1, 4)) AS INT) % 2 = 0
         ), means AS (
           SELECT r, CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_rep
           FROM mem GROUP BY r
         ), rk AS (
           SELECT mean_rep,
                  row_number() OVER (ORDER BY mean_rep, r) AS rn
           FROM means
         ), sel AS (
           SELECT CAST(count(*) AS BIGINT) AS n_replicas,
                  max(CASE WHEN rn = 2 THEN mean_rep END) AS lo,
                  max(CASE WHEN rn = 63 THEN mean_rep END) AS hi
           FROM rk
         ), full_ AS (
           SELECT CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(n_chars) AS BIGINT) AS s
           FROM documents
         )
         SELECT n_docs, n_replicas,
                floor(CAST(s AS DOUBLE) / n_docs * 1e6 + 0.5) / 1e6
                  AS mean_full,
                floor(lo * 1e6 + 0.5) / 1e6 AS ci_lo,
                floor(hi * 1e6 + 0.5) / 1e6 AS ci_hi
         FROM sel CROSS JOIN full_""",
    // 64 md5-relabeled replicas; every T is a fixed double chain of
    // exact integer sums, so |T_r| >= |T_obs| compares bit-identically
    "ml_permutation_test" ->
      """WITH reps AS (SELECT unnest(range(0, 64)) AS r),
         lab AS (
           SELECT doc_id, n_chars,
                  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           FROM documents
         ), obs AS (
           SELECT CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(y * n_chars) AS DOUBLE) / sum(y)
                    - CAST(sum((1 - y) * n_chars) AS DOUBLE)
                      / (count(*) - sum(y)) AS t_obs
           FROM lab
         ), perm AS (
           SELECT r,
                  CAST(sum(yp * n_chars) AS DOUBLE) / sum(yp)
                    - CAST(sum((1 - yp) * n_chars) AS DOUBLE)
                      / (count(*) - sum(yp)) AS t_rep
           FROM (
             SELECT d.n_chars, r.r,
                    CAST(('0x' || substring(md5('perm_'
                      || CAST(d.doc_id AS VARCHAR) || '_'
                      || CAST(r.r AS VARCHAR)), 1, 4)) AS INT) % 2 AS yp
             FROM lab d CROSS JOIN reps r)
           GROUP BY r
         )
         SELECT o.n_docs,
                floor(o.t_obs * 1e6 + 0.5) / 1e6 AS t_obs,
                CAST(count(*) AS BIGINT) AS n_replicas,
                CAST(sum(CASE WHEN abs(p.t_rep) >= abs(o.t_obs)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
                floor((sum(CASE WHEN abs(p.t_rep) >= abs(o.t_obs)
                    THEN 1 ELSE 0 END) + 1.0) / (count(*) + 1.0)
                  * 1e6 + 0.5) / 1e6 AS p_value
         FROM perm p CROSS JOIN obs o
         GROUP BY o.n_docs, o.t_obs""",
    // the β spine cross-joins the one-row cell relation; CAST pins the
    // VALUES literal to DOUBLE (DuckDB would type it DECIMAL(2,1))
    "ml_fbeta" ->
      """WITH cells AS (
           SELECT CAST(sum(a * p) AS BIGINT) AS tp,
                  CAST(sum((1 - a) * p) AS BIGINT) AS fp,
                  CAST(sum(a * (1 - p)) AS BIGINT) AS fn
           FROM (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS a,
                        CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS p
                 FROM documents)
         ), r AS (
           SELECT CAST(beta AS DOUBLE) AS beta, tp, fp, fn,
                  CAST(tp AS DOUBLE) / (tp + fp) AS pr,
                  CAST(tp AS DOUBLE) / (tp + fn) AS rc
           FROM cells CROSS JOIN (VALUES (0.5), (1.0), (2.0)) AS b(beta)
         )
         SELECT beta, tp, fp, fn,
                round(pr, 6) AS precision, round(rc, 6) AS recall,
                round((1.0 + beta * beta) * pr * rc /
                      (beta * beta * pr + rc), 6) AS fbeta
         FROM r ORDER BY beta""",
    "ml_calibration" ->
      """SELECT bin, count(*) AS n_docs,
                round(CAST(sum(pn) AS DOUBLE) / 500.0 / count(*), 6)
                  AS mean_predicted,
                round(CAST(sum(pos) AS DOUBLE) / count(*), 6) AS frac_positive
         FROM (
           SELECT CAST(least(floor(n_chars / 50), 9) AS INT) AS bin,
                  least(n_chars, 500) AS pn,
                  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
           FROM documents
         ) GROUP BY bin ORDER BY bin""",
    // rates/gaps replay over the bounded group relation; note gap uses
    // the ROUNDED rate and overall, same as the Spark columns
    "ml_parity_gap" ->
      """WITH g AS (
           SELECT lang, count(*) AS n,
                  CAST(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)
                       AS BIGINT) AS pos
           FROM documents GROUP BY lang
         ), r AS (
           SELECT lang, n, pos,
                  round(CAST(pos AS DOUBLE) / n, 6) AS rate,
                  round(CAST(sum(pos) OVER () AS DOUBLE) /
                        sum(n) OVER (), 6) AS overall
           FROM g
         )
         SELECT lang, n, pos, rate, overall,
                floor((rate - overall) * 1e6 + 0.5) / 1e6 AS gap,
                round(max(rate) OVER () - min(rate) OVER (), 6) AS max_spread
         FROM r ORDER BY lang""",
    // the sufficient sums replay the exact-DECIMAL folds; the closed-form
    // chain mirrors the Spark association (dxy / dx * dxy, not dxy²/dx)
    // n1/n2 are exact-integer casts; m/v/se/dof replay the identical
    // double chain over the exact DECIMAL(38,0) sufficient sums
    // per-group exact integer sums; the between-group fold pre-rounds
    // each s_g^2/n_g term at 6dp into an exact DECIMAL sum over the
    // |langs|-bounded relation, F and eta^2 are fixed chains of it
    "ml_anova" ->
      """WITH g AS (
           SELECT lang, CAST(count(*) AS BIGINT) AS n_g,
                  CAST(sum(CAST(n_chars AS DECIMAL(38,0))) AS DOUBLE) AS s_g,
                  CAST(sum(CAST(n_chars AS DECIMAL(19,0))
                           * CAST(n_chars AS DECIMAL(19,0)))
                       AS DOUBLE) AS q_g
           FROM documents GROUP BY lang
         ), t AS (
           SELECT CAST(count(*) AS BIGINT) AS k,
                  CAST(sum(n_g) AS BIGINT) AS n,
                  CAST(sum(CAST(s_g AS DECIMAL(38,6))) AS DOUBLE) AS s,
                  CAST(sum(CAST(q_g AS DECIMAL(38,6))) AS DOUBLE) AS q,
                  CAST(sum(CAST(floor(s_g * s_g / n_g * 1e6 + 0.5) / 1e6
                        AS DECIMAL(38,6))) AS DOUBLE) AS tsum
           FROM g
         )
         SELECT k, n,
                floor((tsum - s * s / n) * 1e4 + 0.5) / 1e4 AS ss_between,
                floor((q - tsum) * 1e4 + 0.5) / 1e4 AS ss_within,
                floor(((tsum - s * s / n) / (k - 1))
                  / ((q - tsum) / (n - k)) * 1e6 + 0.5) / 1e6 AS f_stat,
                floor((tsum - s * s / n) / (q - s * s / n) * 1e6 + 0.5)
                  / 1e6 AS eta_sq
         FROM t""",
    "ml_ttest" ->
      """WITH st AS (
           SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                       AS BIGINT) AS n1,
                  CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)
                       AS BIGINT) AS n2,
                  CAST(sum(CAST(CASE WHEN lang = 'en' THEN n_chars
                                ELSE 0 END AS DECIMAL(38,0))) AS DOUBLE) AS s1,
                  CAST(sum(CAST(CASE WHEN lang <> 'en' THEN n_chars
                                ELSE 0 END AS DECIMAL(38,0))) AS DOUBLE) AS s2,
                  CAST(sum(CAST(CASE WHEN lang = 'en' THEN n_chars * n_chars
                                ELSE 0 END AS DECIMAL(38,0))) AS DOUBLE) AS q1,
                  CAST(sum(CAST(CASE WHEN lang <> 'en' THEN n_chars * n_chars
                                ELSE 0 END AS DECIMAL(38,0))) AS DOUBLE) AS q2
           FROM documents
         ), d AS (
           SELECT n1, n2, s1 / n1 AS m1, s2 / n2 AS m2,
                  (q1 - s1 * s1 / n1) / (n1 - 1) / n1 AS se1,
                  (q2 - s2 * s2 / n2) / (n2 - 1) / n2 AS se2
           FROM st
         )
         SELECT n1, n2,
                floor(m1 * 1e6 + 0.5) / 1e6 AS mean_1,
                floor(m2 * 1e6 + 0.5) / 1e6 AS mean_2,
                floor((m1 - m2) * 1e6 + 0.5) / 1e6 AS mean_diff,
                floor((m1 - m2) / sqrt(se1 + se2) * 1e6 + 0.5) / 1e6 AS t_stat,
                floor((se1 + se2) * (se1 + se2)
                      / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1))
                      * 1e4 + 0.5) / 1e4 AS dof
         FROM d""",
    "ml_cuped" ->
      """WITH pu AS (
           SELECT user_id,
                  CAST(sum(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END)
                       AS BIGINT) AS x,
                  CAST(sum(CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END)
                       AS BIGINT) AS y
           FROM events WHERE event_type = 'click' GROUP BY user_id
         ), st AS (
           SELECT CAST(count(*) AS DOUBLE) AS n,
                  CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS sx,
                  CAST(sum(CAST(y AS DECIMAL(28,10))) AS DOUBLE) AS sy,
                  CAST(sum(CAST(x AS DECIMAL(19,0))
                           * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS sxy,
                  CAST(sum(CAST(x AS DECIMAL(19,0))
                           * CAST(x AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
                  CAST(sum(CAST(y AS DECIMAL(19,0))
                           * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS syy
           FROM pu
         )
         SELECT CAST(n AS BIGINT) AS n_users,
                floor((n * sxy - sx * sy) / (n * sxx - sx * sx)
                      * 1e6 + 0.5) / 1e6 AS theta,
                floor((n * syy - sy * sy) / (n * n) * 1e6 + 0.5) / 1e6
                  AS var_y,
                floor(((n * syy - sy * sy)
                       - (n * sxy - sx * sy) / (n * sxx - sx * sx)
                         * (n * sxy - sx * sy)) / (n * n) * 1e6 + 0.5) / 1e6
                  AS var_adj,
                floor((1.0 - ((n * syy - sy * sy)
                              - (n * sxy - sx * sy) / (n * sxx - sx * sx)
                                * (n * sxy - sx * sy))
                             / (n * syy - sy * sy)) * 1e6 + 0.5) / 1e6
                  AS reduction
         FROM st""",
    // same cells as ml_confusion; numerator/denominator in the pinned
    // double association (per-factor sqrt avoids BIGINT overflow)
    "ml_mcc" ->
      """WITH c AS (
           SELECT CAST(sum(a * p) AS BIGINT) AS tp,
                  CAST(sum((1 - a) * p) AS BIGINT) AS fp,
                  CAST(sum(a * (1 - p)) AS BIGINT) AS fn,
                  CAST(sum((1 - a) * (1 - p)) AS BIGINT) AS tn
           FROM (
             SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS a,
                    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS p
             FROM documents
           )
         )
         SELECT tp, fp, fn, tn,
                floor((CASE WHEN sqrt(CAST(tp + fp AS DOUBLE))
                                 * sqrt(CAST(tp + fn AS DOUBLE))
                                 * sqrt(CAST(tn + fp AS DOUBLE))
                                 * sqrt(CAST(tn + fn AS DOUBLE)) > 0
                       THEN (CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                            / (sqrt(CAST(tp + fp AS DOUBLE))
                               * sqrt(CAST(tp + fn AS DOUBLE))
                               * sqrt(CAST(tn + fp AS DOUBLE))
                               * sqrt(CAST(tn + fn AS DOUBLE)))
                       ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS mcc
         FROM c""",
    // same fingerprint as pipe_survivor; the pair join and fractions
    // replay over the distinct (fp, source) relation
    "pipe_cross_source_overlap" ->
      """WITH fps AS (
           SELECT DISTINCT
                  md5(array_to_string(list_sort(list_distinct(
                    string_split(text, ' '))), ' ')) AS fp,
                  source
           FROM documents
         ), per AS (
           SELECT source, count(*) AS n_contents FROM fps GROUP BY source
         ), pairs AS (
           SELECT a.source AS source_a, b.source AS source_b,
                  count(*) AS n_shared
           FROM fps a JOIN fps b
             ON a.fp = b.fp AND a.source < b.source
           GROUP BY 1, 2
         )
         SELECT p.source_a, p.source_b, p.n_shared,
                pa.n_contents AS n_a, pb.n_contents AS n_b,
                round(CAST(p.n_shared AS DOUBLE) / pa.n_contents, 6)
                  AS frac_of_a,
                round(CAST(p.n_shared AS DOUBLE) / pb.n_contents, 6)
                  AS frac_of_b
         FROM pairs p
         JOIN per pa ON pa.source = p.source_a
         JOIN per pb ON pb.source = p.source_b
         ORDER BY source_a, source_b""",
    // identical hash-mask expression per (doc, position); span starts =
    // masked positions whose predecessor is unmasked
    "pipe_span_corruption" ->
      """WITH m AS (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                  list_filter(range(1, len(string_split(text, ' ')) + 1),
                    p -> CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                         || ':' || CAST(p AS VARCHAR)), 1, 4)) AS INT)
                         % 100 < 15) AS mp
           FROM documents
         )
         SELECT doc_id, n_tokens,
                CAST(len(mp) AS BIGINT) AS n_masked,
                CAST(len(list_filter(mp,
                  p -> p = 1 OR NOT list_contains(mp, p - 1))) AS BIGINT)
                  AS n_spans,
                round(CAST(len(mp) AS DOUBLE) / n_tokens, 6) AS corrupt_rate
         FROM m ORDER BY doc_id""",
    // identical gate expressions and first-match-wins order; the funnel
    // window replays over the bounded stage relation
    "pipe_filter_report" ->
      """WITH staged AS (
           SELECT CASE
                    WHEN len(string_split(text, ' ')) < 20 THEN 1
                    WHEN len(string_split(text, ' ')) > 500 THEN 2
                    WHEN 1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                               / len(string_split(text, ' ')) > 0.3 THEN 3
                    WHEN lang NOT IN ('en', 'es') THEN 4
                    ELSE 5 END AS stage_idx,
                  CASE
                    WHEN len(string_split(text, ' ')) < 20 THEN 'too_short'
                    WHEN len(string_split(text, ' ')) > 500 THEN 'too_long'
                    WHEN 1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                               / len(string_split(text, ' ')) > 0.3 THEN 'repetitive'
                    WHEN lang NOT IN ('en', 'es') THEN 'non_target_lang'
                    ELSE 'kept' END AS stage
           FROM documents
         ), c AS (
           SELECT stage_idx, stage, count(*) AS n_docs
           FROM staged GROUP BY 1, 2
         )
         SELECT stage_idx, stage, n_docs,
                CAST(sum(n_docs) OVER () -
                     coalesce(sum(n_docs) OVER (ORDER BY stage_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS n_in,
                round(CAST(n_docs AS DOUBLE) /
                      (sum(n_docs) OVER () -
                       coalesce(sum(n_docs) OVER (ORDER BY stage_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)),
                      6) AS rate
         FROM c ORDER BY stage_idx""",
    // the identical cascade + aggregates as pipe_filter_report's CTE —
    // the observe sideband must reproduce the plain-SQL numbers exactly.
    // The coalesces mirror the Spark side's empty-input guard: over zero
    // documents both engines must report zeros (and a NULL kept_rate —
    // the CASE guard keeps DuckDB off its integer-division-by-zero
    // error, matching Spark's null-on-zero-divisor Divide)
    "pipe_observe_metrics" ->
      """WITH staged AS (
           SELECT len(string_split(text, ' ')) AS n_tok,
                  CASE
                    WHEN len(string_split(text, ' ')) < 20 THEN 1
                    WHEN len(string_split(text, ' ')) > 500 THEN 2
                    WHEN 1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                               / len(string_split(text, ' ')) > 0.3 THEN 3
                    WHEN lang NOT IN ('en', 'es') THEN 4
                    ELSE 5 END AS stage_idx
           FROM documents)
         SELECT CAST(count(*) AS BIGINT) AS rows_in,
                CAST(coalesce(sum(CASE WHEN stage_idx = 5 THEN 1 ELSE 0 END), 0) AS BIGINT) AS rows_kept,
                CAST(coalesce(sum(CASE WHEN stage_idx = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS drop_too_short,
                CAST(coalesce(sum(CASE WHEN stage_idx = 2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS drop_too_long,
                CAST(coalesce(sum(CASE WHEN stage_idx = 3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS drop_repetitive,
                CAST(coalesce(sum(CASE WHEN stage_idx = 4 THEN 1 ELSE 0 END), 0) AS BIGINT) AS drop_non_target_lang,
                CAST(coalesce(sum(CASE WHEN stage_idx = 5 THEN n_tok ELSE 0 END), 0) AS BIGINT) AS toks_kept,
                CASE WHEN count(*) > 0 THEN
                  round(CAST(sum(CASE WHEN stage_idx = 5 THEN 1 ELSE 0 END) AS DOUBLE)
                        / count(*), 6) END AS kept_rate
         FROM staged""",
    // identical split expression; ECDFs replay as plain windows over the
    // distinct-value relation
    "ml_ks_test" ->
      """WITH b AS (
           SELECT n_chars,
                  CASE WHEN bucket < 80 THEN 'train'
                       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
           FROM (
             SELECT n_chars,
                    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 100 AS bucket
             FROM documents
           )
         ), c AS (
           SELECT n_chars,
                  CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS tr,
                  CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS te
           FROM b WHERE split <> 'val' GROUP BY n_chars
         ), d AS (
           SELECT n_chars,
                  CAST(sum(tr) OVER (ORDER BY n_chars
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ctr,
                  CAST(sum(te) OVER (ORDER BY n_chars
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cte,
                  CAST(sum(tr) OVER () AS BIGINT) AS ntr,
                  CAST(sum(te) OVER () AS BIGINT) AS nte
           FROM c
         ), e AS (
           SELECT *, abs(CAST(ctr AS DOUBLE) / ntr - CAST(cte AS DOUBLE) / nte) AS diff,
                  row_number() OVER (ORDER BY abs(CAST(ctr AS DOUBLE) / ntr
                    - CAST(cte AS DOUBLE) / nte) DESC, n_chars) AS rn
           FROM d
         )
         SELECT ntr AS n_train, nte AS n_test, n_chars AS ks_at,
                round(diff, 6) AS ks_d
         FROM e WHERE rn = 1""",
    // nests text_gopher_rules' shared flag CTEs; 6 singles + 15 pair
    // co-counts in one aggregate, the matrix unstacked from that row
    "pipe_filter_overlap" -> {
      val names = TextOps.GopherRuleNames
      val pairs = for { i <- 0 until 6; j <- i + 1 until 6 } yield (i, j)
      s"""WITH ${TextOps.gopherFlagCtes}, a AS (
           SELECT ${(0 until 6).map(i =>
             s"CAST(sum(f${i + 1}) AS BIGINT) AS s${i + 1}").mkString(", ")},
                  ${pairs.map { case (i, j) =>
                    s"CAST(sum(f${i + 1} * f${j + 1}) AS BIGINT) AS b${i + 1}${j + 1}"
                  }.mkString(",\n                  ")}
           FROM fl
         ), st AS (
           ${pairs.map { case (i, j) =>
             s"SELECT ${i + 1} AS rule_i, ${j + 1} AS rule_j, " +
               s"'${names(i)}' AS rule_a, '${names(j)}' AS rule_b, " +
               s"s${i + 1} AS n_a, s${j + 1} AS n_b, b${i + 1}${j + 1} AS n_both FROM a"
           }.mkString("\n           UNION ALL ")}
         )
         SELECT rule_i, rule_j, rule_a, rule_b, n_a, n_b, n_both,
                CASE WHEN n_a + n_b - n_both > 0
                     THEN floor(CAST(n_both AS DOUBLE)
                                / (n_a + n_b - n_both) * 1e6 + 0.5) / 1e6
                END AS jaccard
         FROM st ORDER BY rule_i, rule_j"""
    },
    // identical md5-bucket expression; dense 100-bucket spine, 6dp
    // chi2 contributions folded as DECIMAL, KS over the bucket CDF
    "pipe_split_audit" ->
      """WITH obs AS (
           SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                       AS INT) % 100 AS bucket,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM documents GROUP BY 1
         ), d AS (
           SELECT s.bucket, coalesce(o.cnt, 0) AS cnt
           FROM (SELECT unnest(range(0, 100)) AS bucket) s
           LEFT JOIN obs o ON o.bucket = s.bucket
         ), t AS (
           SELECT bucket, cnt,
                  CAST(sum(cnt) OVER () AS BIGINT) AS n,
                  CAST(sum(cnt) OVER (ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cumc
           FROM d
         ), c AS (
           SELECT n, cnt,
                  floor((cnt - CAST(n AS DOUBLE) / 100.0)
                        * (cnt - CAST(n AS DOUBLE) / 100.0)
                        / (CAST(n AS DOUBLE) / 100.0) * 1e6 + 0.5) / 1e6
                    AS contrib,
                  abs(CAST(cumc AS DOUBLE) / n - (bucket + 1) / 100.0) AS diff
           FROM t
         )
         SELECT max(n) AS n, min(cnt) AS min_count, max(cnt) AS max_count,
                floor(CAST(sum(CAST(contrib AS DECIMAL(28,10))) AS DOUBLE)
                      * 1e6 + 0.5) / 1e6 AS chi2,
                floor(max(diff) * 1e6 + 0.5) / 1e6 AS ks_d,
                floor(CAST(max(cnt) AS DOUBLE)
                      / (CAST(max(n) AS DOUBLE) / 100.0) * 1e4 + 0.5) / 1e4
                  AS max_over_mean
         FROM c""",
    // midranks via tie-block prefix counts over the distinct-score
    // domain; every sufficient statistic an exact BIGINT, z one pinned
    // division — the Spark fold mirrored term for term
    "ml_mann_whitney" ->
      """WITH bs AS (
           SELECT n_chars AS score,
                  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS p,
                  CAST(count(*) AS BIGINT) AS t
           FROM documents GROUP BY n_chars
         ), r AS (
           SELECT p, t,
                  CAST(sum(t) OVER (ORDER BY score
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                    - t AS before
           FROM bs
         ), ag AS (
           SELECT CAST(sum(p) AS BIGINT) AS n1,
                  CAST(sum(t - p) AS BIGINT) AS n2,
                  CAST(sum(p * (2 * before + t + 1)) AS BIGINT) AS s2r,
                  CAST(sum(t * t * t - t) AS BIGINT) AS ties
           FROM r
         ), st AS (
           SELECT n1, n2, n1 + n2 AS nn,
                  CAST(s2r - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u,
                  CAST(n1 AS DOUBLE) * n2 / 2.0 AS mu, ties
           FROM ag
         ), sg AS (
           SELECT n1, n2, u, mu,
                  sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0 *
                       ((nn + 1) - CAST(ties AS DOUBLE) /
                        (CAST(nn AS DOUBLE) * (nn - 1)))) AS sigma
           FROM st
         )
         SELECT n1 AS n_pos, n2 AS n_neg, u AS u_stat, mu AS mu_u,
                floor(sigma * 1e6 + 0.5) / 1e6 AS sigma_u,
                floor((u - mu) / sigma * 1e6 + 0.5) / 1e6 AS z
         FROM sg""",
    // same bins/split expressions as ml_calibration/pipe_split; shares
    // clip at 1e-6, terms pre-round at 10dp, DECIMAL fold over ≤10 bins
    "ml_psi" ->
      """WITH b AS (
           SELECT CAST(least(floor(n_chars / 50), 9) AS INT) AS bin,
                  CASE WHEN bucket < 80 THEN 'train'
                       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
           FROM (
             SELECT n_chars,
                    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 100 AS bucket
             FROM documents
           )
         ), c AS (
           SELECT bin,
                  CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
                  CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
           FROM b WHERE split <> 'val' GROUP BY bin
         ), d AS (
           SELECT *,
                  greatest(CAST(n_train AS DOUBLE) / sum(n_train) OVER (),
                           CAST(1e-6 AS DOUBLE)) AS p,
                  greatest(CAST(n_test AS DOUBLE) / sum(n_test) OVER (),
                           CAST(1e-6 AS DOUBLE)) AS q
           FROM c
         ), e AS (
           SELECT *, round((p - q) * ln(p / q), 10) AS term FROM d
         )
         SELECT bin, n_train, n_test, round(p, 6) AS p_train,
                round(q, 6) AS q_test, round(term, 6) AS term,
                round(CAST(sum(CAST(term AS DECIMAL(28,10))) OVER ()
                      AS DOUBLE), 6) AS psi
         FROM e ORDER BY bin""",
    // same bins as ml_calibration; brier numerator is an exact integer
    // sum, decomposition terms pre-round at 10dp then fold as DECIMAL
    "ml_brier" ->
      """WITH b AS (
           SELECT bin, count(*) AS nb,
                  CAST(sum(pn) AS BIGINT) AS spn,
                  CAST(sum(y) AS BIGINT) AS sp,
                  CAST(sum((pn - 500 * y) * (pn - 500 * y)) AS BIGINT) AS sq
           FROM (
             SELECT CAST(least(floor(n_chars / 50), 9) AS INT) AS bin,
                    least(n_chars, 500) AS pn,
                    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
             FROM documents
           ) GROUP BY bin
         ), t AS (
           SELECT *,
                  CAST(sum(nb) OVER () AS BIGINT) AS n,
                  CAST(sum(sp) OVER () AS BIGINT) AS spt,
                  CAST(sum(sq) OVER () AS BIGINT) AS sqt
           FROM b
         ), d AS (
           SELECT *,
                  CAST(spt AS DOUBLE) / n AS ybar,
                  CAST(spn AS DOUBLE) / 500.0 / nb AS pbar_b,
                  CAST(sp AS DOUBLE) / nb AS ybar_b
           FROM t
         ), e AS (
           SELECT n, sqt, ybar,
                  sum(CAST(round(nb * (pbar_b - ybar_b) * (pbar_b - ybar_b), 10)
                           AS DECIMAL(28,10))) AS rel_s,
                  sum(CAST(round(nb * (ybar_b - ybar) * (ybar_b - ybar), 10)
                           AS DECIMAL(28,10))) AS res_s
           FROM d GROUP BY n, sqt, ybar
         )
         SELECT n, round(CAST(sqt AS DOUBLE) / (250000.0 * n), 6) AS brier,
                round(CAST(rel_s AS DOUBLE) / n, 6) AS reliability,
                round(CAST(res_s AS DOUBLE) / n, 6) AS resolution,
                round(ybar * (1.0 - ybar), 6) AS uncertainty
         FROM e""",
    "ml_confusion" ->
      """SELECT tp, fp, fn, tn,
                round(pr, 6) AS precision, round(rc, 6) AS recall,
                round(2 * pr * rc / (pr + rc), 6) AS f1,
                round(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6)
                  AS accuracy
         FROM (
           SELECT tp, fp, fn, tn,
                  CAST(tp AS DOUBLE) / (tp + fp) AS pr,
                  CAST(tp AS DOUBLE) / (tp + fn) AS rc
           FROM (
             SELECT CAST(sum(a * p) AS BIGINT) AS tp,
                    CAST(sum((1 - a) * p) AS BIGINT) AS fp,
                    CAST(sum(a * (1 - p)) AS BIGINT) AS fn,
                    CAST(sum((1 - a) * (1 - p)) AS BIGINT) AS tn
             FROM (
               SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS a,
                      CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS p
               FROM documents
             )
           )
         )""",
    "pipe_dedup_report" ->
      """SELECT cluster_size, n_clusters, n_docs,
                round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (), 6)
                  AS pct_of_corpus
         FROM (
           SELECT cluster_size, count(*) AS n_clusters,
                  cluster_size * count(*) AS n_docs
           FROM (
             SELECT count(*) AS cluster_size
             FROM documents
             GROUP BY md5(array_to_string(
               list_sort(list_distinct(string_split(text, ' '))), ' '))
           ) GROUP BY cluster_size
         ) ORDER BY cluster_size""",
    // spans CTE = dedup_substring's oracle verbatim (the shared
    // SubstringSpansSql); the decile is the exact integer division
    "pipe_substring_report" ->
      s"""WITH spans AS (
            SELECT * FROM (${graft.operators.DedupOps.SubstringSpansSql})
          ), per_doc AS (
            SELECT d.doc_id,
                   CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_toks,
                   coalesce(s.dup, 0) AS dup
            FROM documents d LEFT JOIN (
              SELECT doc_id, sum(span_len) AS dup FROM spans GROUP BY doc_id
            ) s USING (doc_id)
          ), hist AS (
            SELECT CAST((10 * dup) // n_toks AS BIGINT) AS bucket,
                   count(*) AS n_docs,
                   CAST(sum(dup) AS BIGINT) AS dup_tokens
            FROM per_doc GROUP BY 1
          )
          SELECT bucket, n_docs, dup_tokens,
                 round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (), 6)
                   AS pct_of_corpus
          FROM hist ORDER BY bucket""",
    // labels CTE = dedup_clusters' oracle verbatim (the shared min-label
    // closure); the histogram replays the two bounded aggregations
    "pipe_near_dedup_report" ->
      s"""WITH labs AS (
            ${graft.operators.DedupOps.ClustersOracleSql}
          ), sizes AS (
            SELECT cluster_id, count(*) AS cluster_size FROM labs
            GROUP BY cluster_id
          ), hist AS (
            SELECT cluster_size, count(*) AS n_clusters FROM sizes
            GROUP BY cluster_size
          )
          SELECT cluster_size, n_clusters,
                 CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
                 CAST((cluster_size - 1) * n_clusters AS BIGINT) AS n_dropped,
                 round(CAST(cluster_size * n_clusters AS DOUBLE) /
                       sum(cluster_size * n_clusters) OVER (), 6) AS pct_of_corpus
          FROM hist ORDER BY cluster_size""",
    "pipe_shuffle" ->
      """SELECT doc_id, skey,
                CAST(row_number() OVER (ORDER BY skey, doc_id) - 1 AS BIGINT) AS pos
         FROM (SELECT doc_id,
                      md5('shuffle:' || CAST(doc_id AS VARCHAR)) AS skey
               FROM documents)
         ORDER BY pos""",
    "pipe_sample_stratified" ->
      """SELECT doc_id, lang, source, n_chars FROM (
           SELECT *, substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket
           FROM documents
         )
         WHERE CASE lang
                 WHEN 'en' THEN bucket IN ('0','1','2','3','4','5','6','7')
                 WHEN 'es' THEN bucket IN ('0','1','2','3')
                 WHEN 'fr' THEN bucket IN ('0','1')
                 ELSE bucket IN ('0') END
         ORDER BY doc_id""",
    "pipe_survivor" ->
      """SELECT doc_id, fp, lang, n_chars FROM (
           SELECT doc_id, lang, n_chars,
                  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
           FROM documents
         )
         QUALIFY row_number() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id) = 1
         ORDER BY doc_id""",
    "pipe_vocab" ->
      s"""WITH toks AS (
           SELECT doc_id, pos, token FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS token,
                    unnest(generate_series(0, len(string_split(text, ' ')) - 1)) AS pos
             FROM documents
           )
         ), vocab AS (
           SELECT token,
                  row_number() OVER (ORDER BY count(*) DESC, token) AS id
           FROM toks GROUP BY token HAVING count(*) >= $VocabMinCount
         )
         SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
                array_to_string(list(id ORDER BY pos), ' ') AS ids
         FROM toks JOIN vocab USING (token)
         GROUP BY doc_id ORDER BY doc_id""",
    "pipe_retention" ->
      """WITH ev AS (
           SELECT user_id, CAST(ts AS DATE) AS day FROM events
         ), firsts AS (
           SELECT user_id, min(day) AS cohort FROM ev GROUP BY user_id
         )
         SELECT cohort, CAST(day - cohort AS INT) AS day_offset,
                count(DISTINCT user_id) AS n_users
         FROM ev JOIN firsts USING (user_id)
         GROUP BY cohort, day_offset
         ORDER BY cohort, day_offset""",
    // labels CTE = dedup_clusters' oracle verbatim (the shared min-label
    // closure; its convergence canary stays live in the dedup_clusters
    // gate that runs every round — here a non-converged poison row
    // cannot match a real doc_id); decon CTE = pipe_decontaminate's
    // string-shingle form
    "pipe_e2e" ->
      s"""WITH labs AS (
           ${graft.operators.DedupOps.ClustersOracleSql}
         ), survivors AS (
           SELECT min(doc_id) AS doc_id,
                  arg_min(lang, doc_id) AS lang,
                  text
           FROM documents GROUP BY text
         ), sh AS (
           SELECT doc_id,
                  unnest(list_transform(generate_series(0, len(toks) - 4),
                         i -> array_to_string(toks[i+1 : i+4], ' '))) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
           WHERE len(toks) >= 4
         ), decon AS (
           SELECT DISTINCT t.doc_id
           FROM sh t JOIN (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0) ev
             USING (sh)
           WHERE t.doc_id % 97 <> 0
         ), clean AS (
           SELECT s.doc_id, s.lang, s.text
           FROM survivors s
           JOIN labs l ON l.doc_id = s.doc_id AND l.cluster_id = s.doc_id
           WHERE s.doc_id NOT IN (SELECT doc_id FROM decon)
         ), gated AS (
           SELECT doc_id, lang,
                  len(string_split(text, ' ')) AS n_tokens,
                  1.0 - 1.0 * len(list_distinct(string_split(text, ' '))) /
                        len(string_split(text, ' ')) AS dup_frac
           FROM clean
         )
         SELECT lang,
                CASE WHEN bucket < 80 THEN 'train'
                     WHEN bucket < 90 THEN 'val'
                     ELSE 'test' END AS split,
                count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         FROM (
           SELECT lang, n_tokens,
                  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 100 AS bucket
           FROM gated
           WHERE n_tokens BETWEEN 20 AND 400 AND dup_frac < 0.8
         ) GROUP BY lang, split ORDER BY lang, split""",
    // the same deterministic A-ES key (md5-uniform, one 10dp-pinned ln)
    // ranked by QUALIFY — DuckDB's '0x'||hex cast is the conv() twin
    "pipe_weighted_sample" -> s"""
         WITH keyed AS (
           SELECT source, doc_id,
                  floor((ln((CAST(('0x' ||
                           substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                           AS BIGINT) + 1.0) / 281474976710657.0)
                         / n_chars) * 1e10 + 0.5) / 1e10 AS aes_key
           FROM documents WHERE n_chars > 0
         )
         SELECT source, CAST(rn AS INT) AS rank, doc_id, aes_key FROM (
           SELECT source, doc_id, aes_key,
                  row_number() OVER (PARTITION BY source
                                     ORDER BY aes_key DESC, doc_id ASC) AS rn
           FROM keyed) WHERE rn <= $WeightedSampleK
         ORDER BY source, rank""",
    "pipe_split" ->
      """SELECT doc_id, source,
                CASE WHEN bucket < 80 THEN 'train'
                     WHEN bucket < 90 THEN 'val'
                     ELSE 'test' END AS split
         FROM (
           SELECT doc_id, source,
                  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 100 AS bucket
           FROM documents
         ) ORDER BY doc_id""",
    "pipe_pii_scrub" ->
      """SELECT doc_id,
                regexp_replace(regexp_replace(text, '[0-9]+', '<NUM>', 'g'),
                               '@[a-z0-9]+', '<HANDLE>', 'g') AS scrubbed,
                CAST(len(regexp_extract_all(text, '[0-9]+')) +
                     len(regexp_extract_all(text, '@[a-z0-9]+')) AS INT) AS n_masked
         FROM documents ORDER BY doc_id""",
    "pipe_mix_temperature" ->
      """WITH src AS (
           SELECT source, count(*) AS n_docs FROM documents GROUP BY source
         ), w1 AS (
           SELECT source, n_docs, n_docs * 1.0 / sum(n_docs) OVER () AS p
           FROM src
         ), w2 AS (
           SELECT source, n_docs, p,
                  pow(p, 0.5) / sum(pow(p, 0.5)) OVER () AS q
           FROM w1
         )
         SELECT source, n_docs, round(p, 4) AS p, round(q, 4) AS q,
                round(q / p, 4) AS boost
         FROM w2 ORDER BY source""",
    // the closed-form waterfill replays in exact integer arithmetic;
    // // is DuckDB integer division (Spark DIV)
    "pipe_unimax" ->
      """WITH bylang AS (
           SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS c
           FROM documents GROUP BY lang
         ), r AS (
           SELECT lang, c,
                  row_number() OVER (ORDER BY c, lang) AS i,
                  CAST(count(*) OVER () AS BIGINT) AS l,
                  CAST(sum(c) OVER () AS BIGINT) AS t,
                  CAST(coalesce(sum(c) OVER (ORDER BY c, lang
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS cumprev
           FROM bylang
         ), f AS (
           SELECT lang, c, t // 2 AS b,
                  cumprev * 4 + c * 4 * (l - i + 1) <= t // 2 AS capped
           FROM r
         ), g AS (
           SELECT lang, c, b, capped,
                  CAST(sum(CASE WHEN capped THEN c * 4 ELSE 0 END) OVER ()
                       AS BIGINT) AS scapped,
                  CAST(sum(CASE WHEN capped THEN 0 ELSE 1 END) OVER ()
                       AS BIGINT) AS nunc
           FROM f
         ), a AS (
           SELECT lang, c, b, capped,
                  CASE WHEN capped THEN c * 4
                       ELSE (b - scapped) // nunc END AS alloc
           FROM g
         )
         SELECT lang, c AS n_tokens, capped,
                CAST(alloc AS BIGINT) AS alloc_tokens,
                round(CAST(alloc AS DOUBLE) / c, 4) AS epochs,
                floor(CAST(alloc AS DOUBLE) / b * 1e6 + 0.5) / 1e6
                  AS budget_share
         FROM a ORDER BY lang""",
    // the ce CTE nests text_unigram_ppl's oracle verbatim; the tercile
    // windows run over the DISTINCT (lang, 4dp ce) relation only
    "pipe_ppl_buckets" ->
      """WITH tf AS (
           SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
           GROUP BY doc_id, token
         ), freq AS (
           SELECT token, sum(tf) AS cnt FROM tf GROUP BY token
         ), tot AS (SELECT sum(cnt) AS total FROM freq),
         ce AS (
           SELECT doc_id,
                  round(sum(tf * -ln(cnt / total)) / sum(tf), 4) AS ce
           FROM tf JOIN freq USING (token) CROSS JOIN tot
           GROUP BY doc_id
         ), cells AS (
           SELECT d.lang, ce.ce, count(*) AS c,
                  CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS tok
           FROM documents d JOIN ce ON d.doc_id = ce.doc_id
           GROUP BY 1, 2
         ), cum AS (
           SELECT lang, ce, c, tok,
                  CAST(sum(c) OVER (PARTITION BY lang ORDER BY ce
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum,
                  CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS n
           FROM cells
         ), g AS (
           SELECT lang,
                  CAST(least(2, (3 * cum + n - 1) // n - 1) AS BIGINT) AS bucket,
                  c, tok, ce
           FROM cum
         ), agg AS (
           SELECT lang, bucket, CAST(sum(c) AS BIGINT) AS n_docs,
                  CAST(sum(tok) AS BIGINT) AS n_tokens,
                  min(ce) AS min_ce, max(ce) AS max_ce
           FROM g GROUP BY 1, 2
         )
         SELECT lang, bucket, n_docs, n_tokens, min_ce, max_ce,
                floor(CAST(n_docs AS DOUBLE) /
                      sum(n_docs) OVER (PARTITION BY lang) * 1e6 + 0.5) / 1e6
                  AS pct_docs
         FROM agg ORDER BY lang, bucket""",
    "pipe_dataset_mix" ->
      """SELECT doc_id, lang,
                CAST(unnest(generate_series(1,
                  CASE lang WHEN 'en' THEN 2 ELSE 1 END)) AS INT) AS copy
         FROM documents ORDER BY doc_id, copy""",
    "pipe_chunk" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         ), c AS (
           SELECT doc_id, toks,
                  unnest(generate_series(0,
                    CAST(greatest(0, ceil((len(toks) - 50.0) / 40.0)) AS INT))) AS chunk_id
           FROM t
         )
         SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
                array_to_string(toks[chunk_id*40+1 : chunk_id*40+50], ' ') AS chunk,
                CAST(len(toks[chunk_id*40+1 : chunk_id*40+50]) AS INT) AS n_tokens
         FROM c ORDER BY doc_id, chunk_id""",
    "pipe_pack" ->
      """SELECT doc_id, lang, n_tokens,
                CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS start_offset,
                CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 1000) AS INT) AS bin
         FROM (SELECT doc_id, lang,
                      CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
               FROM documents)
         ORDER BY lang, doc_id""",
    "pipe_length_buckets" ->
      """SELECT seq_len, count(*) AS n_docs,
                CAST(sum(len) AS BIGINT) AS token_sum,
                CAST(sum(seq_len - len) AS BIGINT) AS pad_sum,
                round(CAST(sum(seq_len - len) AS DOUBLE) /
                      (seq_len * count(*)), 4) AS pad_frac
         FROM (
           SELECT len,
                  CASE WHEN len <= 32 THEN 32 WHEN len <= 64 THEN 64
                       WHEN len <= 128 THEN 128 WHEN len <= 256 THEN 256
                       WHEN len <= 512 THEN 512 ELSE 1024 END AS seq_len
           FROM (SELECT CAST(len(string_split(text, ' ')) AS INT) AS len
                 FROM documents)
         ) GROUP BY seq_len ORDER BY seq_len""",
    "pipe_dataset_card" ->
      """WITH pl AS (
           SELECT source, lang, count(*) AS c, sum(n_tokens) AS t
           FROM (SELECT source, lang,
                        CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
                 FROM documents)
           GROUP BY source, lang
         ), r AS (
           SELECT *, row_number() OVER (PARTITION BY source
                       ORDER BY c DESC, lang) AS rn
           FROM pl
         )
         SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
                CAST(sum(t) AS BIGINT) AS token_sum,
                round(CAST(sum(t) AS DOUBLE) / sum(c), 4) AS avg_tokens,
                count(*) AS n_langs,
                max(CASE WHEN rn = 1 THEN lang END) AS top_lang
         FROM r GROUP BY source ORDER BY source""",
    "pipe_normalize" ->
      """WITH stats AS (
           SELECT lang, avg(n_chars) AS mu, stddev_samp(n_chars) AS sigma
           FROM documents GROUP BY lang
         )
         SELECT doc_id, d.lang,
                floor((n_chars - mu) / sigma * 1e4 + 0.5) / 1e4 AS z_chars
         FROM documents d JOIN stats USING (lang)
         ORDER BY doc_id""",
    "pipe_expectations" ->
      """SELECT (SELECT count(*) FROM lineitem) AS n_rows,
                (SELECT count(*) FROM lineitem WHERE l_shipdate IS NULL) AS null_shipdate,
                (SELECT count(*) FROM lineitem
                 WHERE l_quantity NOT BETWEEN 1 AND 50) AS bad_quantity,
                (SELECT count(*) FROM lineitem
                 WHERE l_discount NOT BETWEEN 0 AND 1) AS bad_discount,
                (SELECT count(*) FROM (
                   SELECT DISTINCT l_orderkey FROM lineitem
                   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
                 )) AS orphan_orderkeys""",
    // same string-shingle hits CTE as pipe_decontaminate, then the
    // per-source left-join accounting
    "pipe_contam_report" ->
      """WITH sh AS (
           SELECT doc_id,
                  unnest(list_transform(generate_series(0, len(toks) - 4),
                         i -> array_to_string(toks[i+1 : i+4], ' '))) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
           WHERE len(toks) >= 4
         ), hits AS (
           SELECT t.doc_id, count(DISTINCT t.sh) AS n_hits
           FROM sh t JOIN (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0) ev
             USING (sh)
           WHERE t.doc_id % 97 <> 0
           GROUP BY t.doc_id
         )
         SELECT d.source, count(*) AS n_docs,
                CAST(count(h.doc_id) AS BIGINT) AS n_contaminated,
                CAST(coalesce(sum(h.n_hits), 0) AS BIGINT) AS n_shingle_hits,
                floor(CAST(count(h.doc_id) AS DOUBLE) / count(*)
                      * 1e6 + 0.5) / 1e6 AS pct_contaminated
         FROM documents d LEFT JOIN hits h USING (doc_id)
         WHERE d.doc_id % 97 <> 0
         GROUP BY d.source ORDER BY d.source""",
    // identical closed form: add-1-smoothed bucket distributions, ln
    // ratio, DECIMAL term fold
    "pipe_dsir_weights" ->
      """WITH dc AS (
           SELECT doc_id, lang,
                  CAST(('0x' || substring(md5(token), 1, 4)) AS INT) % 16 AS f,
                  count(*) AS c
           FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
                 FROM documents)
           GROUP BY 1, 2, 3
         ), fs AS (
           SELECT f, sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS ct,
                  sum(c) AS cr
           FROM dc GROUP BY f
         ), tot AS (SELECT sum(ct) AS t, sum(cr) AS r FROM fs),
         ratios AS (
           SELECT f, ln(CAST(ct + 1 AS DOUBLE) / CAST(t + 16 AS DOUBLE))
                   - ln(CAST(cr + 1 AS DOUBLE) / CAST(r + 16 AS DOUBLE)) AS lr
           FROM fs CROSS JOIN tot
         )
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                floor(CAST(sum(CAST(c * lr AS DECIMAL(28,10))) AS DOUBLE)
                      * 1e6 + 0.5) / 1e6 AS log_weight
         FROM dc JOIN ratios USING (f)
         GROUP BY doc_id ORDER BY doc_id""",
    "pipe_decontaminate" ->
      """WITH sh AS (
           SELECT doc_id,
                  unnest(list_transform(generate_series(0, len(toks) - 4),
                         i -> array_to_string(toks[i+1 : i+4], ' '))) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
           WHERE len(toks) >= 4
         ), ev AS (
           SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0
         )
         SELECT t.doc_id, count(DISTINCT t.sh) AS n_hits
         FROM sh t JOIN ev USING (sh)
         WHERE t.doc_id % 97 <> 0
         GROUP BY t.doc_id ORDER BY doc_id""",
    // xxhash64 token-hash Jaccard == string-set Jaccard (collision-free
    // at this vocab; DedupOps documents the trade), so the oracle computes
    // the string form directly over the tiny cross product
    "pipe_decontaminate_near" ->
      s"""WITH t AS (
            SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
            FROM documents
          ), j AS (
            SELECT c.doc_id, e.doc_id AS eval_id,
                   round(1.0 * len(list_intersect(c.toks, e.toks)) /
                         len(list_distinct(c.toks || e.toks)), 4) AS jac
            FROM t c, t e
            WHERE c.doc_id % 97 <> 0 AND e.doc_id % 97 = 0
          )
          SELECT doc_id, count(DISTINCT eval_id) AS n_eval_hits,
                 max(jac) AS max_jaccard
          FROM j WHERE jac >= $NearDecontamJaccard
          GROUP BY doc_id ORDER BY doc_id""",
    "pipe_funnel" ->
      """WITH base AS (
           SELECT user_id, ts, event_type FROM events
           WHERE event_type IN ('click', 'purchase')
         ), agg AS (
           SELECT user_id,
                  min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
                  count(CASE WHEN event_type = 'click' THEN 1 END) AS n_clicks,
                  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases
           FROM base GROUP BY user_id
         )
         SELECT a.user_id, a.first_click, a.n_clicks, a.n_purchases,
                coalesce(bool_or(p.ts >= a.first_click AND
                                 p.ts <= a.first_click + INTERVAL 1 HOUR), false) AS converted
         FROM agg a
         LEFT JOIN base p ON p.user_id = a.user_id AND p.event_type = 'purchase'
         WHERE a.first_click IS NOT NULL
         GROUP BY a.user_id, a.first_click, a.n_clicks, a.n_purchases
         ORDER BY a.user_id""",
    // identical feature definitions, identical IN-list, identical
    // pre-rounded left-assoc logit fold (see the Spark-side scale note)
    "pipe_quality_logit" ->
      s"""WITH f AS (
           SELECT doc_id,
                  len(string_split(text, ' ')) AS n_tok,
                  round(CAST(len(list_filter(string_split(text, ' '),
                          t -> t IN ($StopwordList))) AS DOUBLE)
                        / len(string_split(text, ' ')), 6) AS stop_ratio,
                  round(CAST(least(len(string_split(text, ' ')), 256) AS DOUBLE)
                        / 256.0, 6) AS len_score,
                  round(CAST(len(list_filter(string_split(text, ' '),
                          t -> regexp_matches(t, '^[0-9]+$$'))) AS DOUBLE)
                        / len(string_split(text, ' ')), 6) AS digit_ratio
           FROM documents
         ), g AS (
           SELECT *,
                  round(CAST(-0.6 AS DOUBLE) + round(3.0 * stop_ratio, 6)
                        + round(1.5 * len_score, 6)
                        - round(2.0 * digit_ratio, 6), 6) AS logit
           FROM f
         )
         SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens, stop_ratio,
                len_score, digit_ratio, logit, logit >= 0.0 AS keep
         FROM g ORDER BY doc_id"""
  )
}
