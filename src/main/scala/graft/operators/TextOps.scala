package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis suite (SURVEY.md §2 B1 + north-star text ops): token
  * frequencies, ranked search, per-facet stats, language-ID heuristic,
  * quality scoring, token counting, and document fingerprinting — all over
  * the `documents` table (the reference's `transcripciones` collection,
  * streamlit_app.py:19-22).
  *
  * Everything is built from codegen'd built-ins (split / explode /
  * higher-order functions) — a single linear scan per query, embarrassingly
  * parallel at 100 TB; the only shuffle is the final groupBy/orderBy where
  * semantics require one.
  */
object TextOps {

  val RankedTerms: Seq[String] = Seq("spark", "merge", "join")

  /** Probe items for the Count-Min estimate query: frequent fixture
    * tokens plus one absent token (its estimate shows the sketch's
    * one-sided error floor). */
  val CountMinProbes: Seq[String] =
    Seq("spark", "merge", "join", "table", "query", "value", "nonexistent_token")

  /** `text_countmin` geometry: 4 rows × 256 slots. Width is exactly 16²
    * so a 2-hex-char md5 slice addresses a row's slots uniformly with no
    * modulo bias. Caveat (the agg_bloom_members style): the 4 rows are
    * DISJOINT slices of ONE md5 digest, not 4 independent hash draws —
    * the textbook (ε = e/width, δ = e^−depth) bound assumes pairwise-
    * independent rows, so here it is a heuristic (md5 slices behave
    * independently empirically; AggSpec pins the one-sided ε·N
    * overestimate against exact counts as the operative contract). */
  val CountMinDepth = 4
  val CountMinWidth = 256

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deliberately small and deterministic — the point is the
    * plan shape (argmax over per-list overlap counts in one scan). */
  /** Minimum doc frequency for `text_burstiness` (rare tokens have
    * degenerate dispersion estimates). */
  val MinBurstDf = 20

  val StopEn: Seq[String] = Seq("the", "a", "of", "and")
  val StopEs: Seq[String] = Seq("el", "la", "de", "y")
  val StopFr: Seq[String] = Seq("le", "les", "de", "et")
  val StopDe: Seq[String] = Seq("der", "die", "das", "und")

  private def tokens(c: Column): Column = split(c, " ")

  private val unigramCeMemo = new SessionTableMemo.Single(
    "graft_unigram_ce_",
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cross_entropy",
        org.apache.spark.sql.types.DoubleType))))

  /** Session-shared (r18 opt): the per-doc unigram-LM cross-entropy
    * relation is ONE definition with two declared consumers
    * (`text_unigram_ppl`, `pipe_ppl_buckets`), and each re-ran the full
    * two-scan tokenize + vocab-broadcast derivation per query. The
    * similarEdges/paaSegments write-once trade applies: the output is
    * doc-cardinality × (long, double), the published entropy rounds at
    * 4dp inside the derivation, and doubles round-trip parquet
    * bit-exactly, so the shared values cannot fork between consumers. */
  private[graft] def unigramCe(s: SparkSession, dir: String): DataFrame =
    unigramCeMemo.getReleasing(s, dir)(deriveUnigramCe(s, dir))

  private def deriveUnigramCe(s: SparkSession, dir: String)
      : (DataFrame, () => Unit) = {
    // No persist: the tf subtree is one codegen'd explode+partial-agg
    // scan, cheaper to recompute for the vocabulary-sized freq branch
    // than to build a columnar cache of every (doc, token) partial.
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).cast("double").as("tf"))
    // vocabulary-cardinality frequency table: size-conditional broadcast;
    // the persist vocabHinted adds is released by the memo once the
    // one-shot write has forced the plan (r18 advice)
    val fr = tf.groupBy("token").agg(sum(col("tf")).as("cnt"))
    val freq = Bcast.vocabHinted(fr, length(col("token")))
    val total = freq.agg(sum(col("cnt")).as("total"))
    val out = tf.join(freq, "token")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(round(sum(col("tf") * -log(col("cnt") / col("total"))) /
        sum(col("tf")), 4).as("cross_entropy"))
    (out, () => { fr.unpersist(); () })
  }

  /** Count of tokens that appear in `list` (with multiplicity). */
  private def stopCount(toks: Column, list: Seq[String]): Column =
    size(filter(toks, t => t.isin(list: _*)))

  /** Gopher rule names in rule-index order — shared by
    * `text_gopher_rules` and `pipe_filter_overlap`. */
  val GopherRuleNames: Seq[String] = Seq(
    "word_count_out_of_range", "mean_word_len_out_of_range",
    "symbol_ratio_high", "digit_token_frac_high",
    "dup_token_frac_high", "stop_ratio_low")

  /** Per-document Gopher rule flags f1..f6 (0/1 LONGs) — ONE definition
    * consumed by `text_gopher_rules`' per-rule accounting and
    * `pipe_filter_overlap`'s redundancy matrix. All thresholds are
    * exact integer cross-multiplications; one codegen'd scan, no
    * shuffle. */
  private[operators] def gopherFlags(s: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val n = size(t).cast("long")
    val charSum = aggregate(t, lit(0L), (acc, x) => acc + length(x))
    val sym = regexp_count(col("text"), lit("[^a-z0-9 ]")).cast("long")
    val digit = size(filter(t, x => x.rlike("^[0-9]+$"))).cast("long")
    val dups = n - size(array_distinct(t)).cast("long")
    val stops = stopCount(t, StopEn).cast("long")
    def b(c: Column) = when(c, 1L).otherwise(0L)
    Tables.documents(s, dir)
      .select(b(n < 20 || n > 500).as("f1"),
        b(charSum < n * 3 || charSum > n * 10).as("f2"),
        b(sym * 10 > n).as("f3"),
        b(digit * 5 > n).as("f4"),
        b(dups * 10 > n * 3).as("f5"),
        b(stops * 20 < n).as("f6"))
  }

  /** The flag derivation as DuckDB CTEs (`d` → `fl` with f1..f6) — the
    * SQL twin of [[gopherFlags]], nested by both consumers' oracles. */
  private[operators] def gopherFlagCtes: String =
    s"""d AS (
           SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
                  CAST(list_sum(list_transform(string_split(text, ' '),
                       x -> CAST(length(x) AS BIGINT))) AS BIGINT) AS char_sum,
                  CAST(len(regexp_extract_all(text, '[^a-z0-9 ]'))
                       AS BIGINT) AS sym,
                  CAST(len(list_filter(string_split(text, ' '),
                       x -> regexp_full_match(x, '[0-9]+'))) AS BIGINT) AS digit,
                  CAST(n - len(list_distinct(string_split(text, ' ')))
                       AS BIGINT) AS dups,
                  CAST(len(list_filter(string_split(text, ' '),
                       t -> list_contains(${duckStop(StopEn)}, t)))
                       AS BIGINT) AS stops
           FROM documents
         ), fl AS (
           SELECT CASE WHEN n < 20 OR n > 500 THEN 1 ELSE 0 END AS f1,
                  CASE WHEN char_sum < 3 * n OR char_sum > 10 * n
                       THEN 1 ELSE 0 END AS f2,
                  CASE WHEN sym * 10 > n THEN 1 ELSE 0 END AS f3,
                  CASE WHEN digit * 5 > n THEN 1 ELSE 0 END AS f4,
                  CASE WHEN dups * 10 > 3 * n THEN 1 ELSE 0 END AS f5,
                  CASE WHEN stops * 20 < n THEN 1 ELSE 0 END AS f6
           FROM d
         )"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Gopher-style rule-by-rule quality accounting (Rae et al. 2021
    // §A1.1 adapted to the fixture's newline-free text): per rule, how
    // many documents fail — the diagnostic TABLE read before composing a
    // gate (`pipe_filter_report` is the composed first-match cascade;
    // `text_quality` the per-doc grade; this is the marginal view that
    // says WHICH rule bites). Every threshold compare is cross-multiplied
    // into exact INTEGER arithmetic (sym·10 > n, not sym/n > 0.1), so no
    // ratio boundary can round differently cross-engine. One codegen'd
    // scan into a one-row aggregate, stacked into the 7-row table — a
    // pure map at any corpus scale with a constant-size shuffle.
    "text_gopher_rules" -> ((s, dir) => {
      def b(c: Column) = when(c, 1L).otherwise(0L)
      gopherFlags(s, dir)
        .withColumn("fany", b(col("f1") + col("f2") + col("f3") +
          col("f4") + col("f5") + col("f6") > 0))
        .agg(count(lit(1)).as("n_docs"), sum(col("f1")).as("s1"),
          sum(col("f2")).as("s2"), sum(col("f3")).as("s3"),
          sum(col("f4")).as("s4"), sum(col("f5")).as("s5"),
          sum(col("f6")).as("s6"), sum(col("fany")).as("sany"))
        .select(expr("""stack(7,
            1, 'word_count_out_of_range', s1,
            2, 'mean_word_len_out_of_range', s2,
            3, 'symbol_ratio_high', s3,
            4, 'digit_token_frac_high', s4,
            5, 'dup_token_frac_high', s5,
            6, 'stop_ratio_low', s6,
            7, 'any_rule', sany) AS (rule_idx, rule, n_fail)"""),
          col("n_docs"))
        .select(col("rule_idx"), col("rule"), col("n_fail"), col("n_docs"),
          graft.functions.Num.pin(
            col("n_fail").cast("double") / col("n_docs"), 6).as("pct_fail"))
        .orderBy("rule_idx")
    }),

    // Global term frequencies (word count — the UDTF/explode surface).
    "text_tokens" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))),

    // Lexical diversity per document: type-token ratio (distinct tokens /
    // tokens — low TTR = templated or looping text, a standard quality
    // gate next to `text_repetition`'s duplicate-fraction) plus Herdan's C
    // (ln types / ln tokens), the length-corrected variant comparable
    // across documents of different sizes. Pure per-row map over one
    // codegen'd scan — no shuffle at all; the ORDER BY is presentation.
    "text_ttr" -> ((s, dir) => {
      val toks = tokens(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_types"))
        .withColumn("ttr", round(
          col("n_types").cast("double") / col("n_tokens"), 4))
        .withColumn("herdan", round(
          log(col("n_types").cast("double")) /
            log(col("n_tokens").cast("double")), 4))
        .orderBy("doc_id")
    }),

    // Readability scoring: Flesch-Kincaid grade per document from the
    // standard proxies — words per sentence and syllables per word, with
    // syllables approximated by vowel-group count (the classic
    // lexicon-free heuristic). Sentences = terminal-punctuation runs + 1;
    // on this punctuation-free synthetic fixture every doc is one
    // sentence, which exercises the degenerate edge deliberately — the
    // formula, counts, and plan are what the key pins. Pure codegen'd
    // row map (two regexp counts + integer arithmetic), zero shuffles;
    // the grade is a fixed-literal linear form over exactly-rounded
    // divisions, so 4dp is cross-engine-stable.
    "text_readability" -> ((s, dir) => {
      val words = size(split(col("text"), " ")).cast("long")
      val syll = regexp_count(col("text"), lit("[aeiou]+")).cast("long")
      val sent = (regexp_count(col("text"), lit("[.!?]+")) + 1).cast("long")
      Tables.documents(s, dir)
        .select(col("doc_id"), words.as("n_words"), syll.as("n_syllables"),
          sent.as("n_sentences"))
        .withColumn("wps",
          col("n_words").cast("double") / col("n_sentences"))
        .withColumn("spw",
          col("n_syllables").cast("double") / col("n_words"))
        .select(col("doc_id"), col("n_words"), col("n_syllables"),
          col("n_sentences"),
          round(col("spw"), 4).as("syll_per_word"),
          round(lit(0.39) * col("wps") + lit(11.8) * col("spw") - lit(15.59), 4)
            .as("fk_grade"))
        .orderBy("doc_id")
    }),

    // Zipf's-law fit over the corpus unigram distribution: OLS of
    // ln(freq) on ln(rank) — slope ≈ −1 is the natural-text signature;
    // a flat slope flags synthetic/templated corpora (this fixture's
    // ~31-token uniform vocabulary is exactly such a case, which is the
    // point of the diagnostic). Frequencies aggregate corpus-wide (one
    // shuffle, map-side combined). Ranks are assigned the `pipe_vocab`
    // way — a range partition on (cnt desc, token) + per-partition
    // row_number + cumulative partition offsets — because a real web
    // corpus's vocabulary has a 10⁸⁺ singleton tail: a global
    // `Window.orderBy` would serialize ALL of it through one task,
    // while the range partition is a parallel sort at any vocabulary
    // size (the only single-partition window here is over the
    // #partitions-row offsets table). The rank total order is identical
    // to the one-window form the oracle replays, and the log-product
    // sums cast to exact DECIMAL so the fit is order-independent — the
    // `agg_regression` discipline.
    // Vocabulary coverage curve — "how much of the corpus token mass do
    // the top-k vocabulary entries cover", the tokenizer-design
    // datasheet behind choosing a vocab size (the reason real tokenizers
    // stop at 32k/64k entries while raw web vocab runs to 10⁸⁺). Ranks
    // and cumulative mass ride the text_zipf/pipe_vocab range-partition
    // + per-partition-offset discipline — the frequency-sorted vocabulary
    // is NEVER serialized through one task — and the k ladder then joins
    // those global ranks (clamped at the vocabulary size) as a tiny
    // broadcast.
    "text_vocab_coverage" -> ((s, dir) => {
      val nParts = s.conf.get("spark.sql.shuffle.partitions").toInt
      val freq = Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .repartitionByRange(nParts, col("cnt").desc, col("token"))
        // no pre-persist sort — the rank window re-sorts above the cache,
        // offs is order-free (r18 opt: the agg_weighted_median trim)
        .withColumn("pid", spark_partition_id())
        .persist()
      val pidw = Window.orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = freq.groupBy("pid")
        .agg(count(lit(1)).as("n"), sum(col("cnt")).as("m"))
        .withColumn("offset", coalesce(sum(col("n")).over(pidw), lit(0L)))
        .withColumn("moffset", coalesce(sum(col("m")).over(pidw), lit(0L)))
        .select("pid", "offset", "moffset")
      val wLoc = Window.partitionBy("pid")
        .orderBy(col("cnt").desc, col("token"))
      val ranked = freq.join(broadcast(offs), "pid")
        .withColumn("rank",
          row_number().over(wLoc).cast("long") + col("offset"))
        .withColumn("cum_mass",
          sum(col("cnt")).over(wLoc.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)) + col("moffset"))
      val tots = freq.agg(count(lit(1)).as("vsize"), sum(col("cnt")).as("total"))
      val ks = Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L).map(lit(_))
      val spine = s.range(1).select(explode(array(ks: _*)).as("k"))
        .crossJoin(broadcast(tots))
        .withColumn("rank", least(col("k"), col("vsize")))
      spine.join(ranked.select("rank", "token", "cum_mass"), "rank")
        .select(col("k"), col("rank").as("vocab_used"),
          col("token").as("boundary_token"), col("cum_mass").as("token_mass"),
          graft.functions.Num.pin(
            col("cum_mass").cast("double") / col("total"), 6).as("coverage"))
        .orderBy("k")
    }),

    "text_zipf" -> ((s, dir) => {
      def dsum(c: Column) = sum(c.cast("decimal(28,10)")).cast("double")
      val nParts = s.conf.get("spark.sql.shuffle.partitions").toInt
      // persisted: pid feeds both the offsets table and the rank join,
      // and range boundaries come from sampling — recomputation across
      // jobs could shift pids between the two; vocabulary-sized
      val freq = Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).cast("double").as("cnt"))
        .repartitionByRange(nParts, col("cnt").desc, col("token"))
        // no pre-persist sort — the rank window re-sorts above the cache,
        // offs is order-free (r18 opt: the agg_weighted_median trim)
        .withColumn("pid", spark_partition_id())
        .persist()
      val offs = freq.groupBy("pid").agg(count(lit(1)).as("n"))
        .withColumn("offset", coalesce(
          sum(col("n")).over(Window.orderBy("pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("pid", "offset")
      val wLoc = Window.partitionBy("pid")
        .orderBy(col("cnt").desc, col("token"))
      val ranked = freq.join(broadcast(offs), "pid")
        .withColumn("rank",
          (row_number().over(wLoc).cast("long") + col("offset"))
            .cast("double"))
      ranked
        .select(log(col("rank")).as("lx"), log(col("cnt")).as("ly"))
        .agg(count(lit(1)).cast("double").as("n"),
          dsum(col("lx")).as("sx"), dsum(col("ly")).as("sy"),
          dsum(col("lx") * col("ly")).as("sxy"),
          dsum(col("lx") * col("lx")).as("sxx"),
          dsum(col("ly") * col("ly")).as("syy"))
        .withColumn("slope", round(
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6))
        .withColumn("intercept",
          round((col("sy") - col("slope") * col("sx")) / col("n"), 6))
        .withColumn("r2", round(
          (col("n") * col("sxy") - col("sx") * col("sy")) *
            (col("n") * col("sxy") - col("sx") * col("sy")) /
            ((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))), 6))
        .select(col("n").cast("long").as("n_ranks"),
          col("slope"), col("intercept"), col("r2"))
    }),

    // A5 + relevance: score = number of distinct matched terms, desc.
    "text_search_ranked" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          size(array_intersect(array_distinct(tokens(col("text"))),
            lit(RankedTerms.toArray))).as("score"))
        .filter(col("score") > 0)
        .orderBy(col("score").desc, col("doc_id"))),

    // Facet analytics the reference dropdowns imply (tipo/anio facets).
    "doc_stats_by_lang" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("n_chars")).cast("double") / count(lit(1)), 4).as("avg_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("lang")),

    // Language-ID heuristic: stopword-overlap argmax with a fixed
    // tie-break priority (en > es > fr > de).
    "text_lang_id" -> ((s, dir) => {
      val t = tokens(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          stopCount(t, StopEn).as("s_en"), stopCount(t, StopEs).as("s_es"),
          stopCount(t, StopFr).as("s_fr"), stopCount(t, StopDe).as("s_de"))
        .withColumn("predicted",
          when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr") &&
               col("s_en") >= col("s_de"), "en")
            .when(col("s_es") >= col("s_fr") && col("s_es") >= col("s_de"), "es")
            .when(col("s_fr") >= col("s_de"), "fr")
            .otherwise("de"))
        .orderBy("doc_id")
    }),

    // The lang-ID heuristic EVALUATED: multi-class confusion matrix of
    // `text_lang_id`'s prediction against the labeled lang column, with
    // per-class recall (row-normalized). Classifier eval over corpus
    // labels is the step that decides whether a heuristic filter is safe
    // to deploy; the heavy side is one tokenize scan (the prediction),
    // the matrix is |langs|²-bounded, and the recall window runs over
    // that bounded relation only.
    "text_lang_confusion" -> ((s, dir) => {
      val pred = queries("text_lang_id")(s, dir)
        .select(col("doc_id"), col("predicted"))
      Tables.documents(s, dir).select(col("doc_id"), col("lang"))
        .join(pred, "doc_id")
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n"))
        .withColumn("recall", round(
          col("n") / sum(col("n")).over(Window.partitionBy("lang")), 4))
        .orderBy("lang", "predicted")
    }),

    // Cohen's kappa of the lang-ID heuristic vs the labels — the
    // chance-corrected agreement statistic that tells whether the
    // classifier beats marginal-rate guessing (the number annotation and
    // silver-label pipelines report next to raw accuracy). Built on the
    // SAME confusion cells as `text_lang_confusion`; everything after
    // the one corpus-scale prediction join is |langs|-bounded aggregates.
    // po/pe are exact-integer divisions (pe's N² denominator multiplies
    // as double — BIGINT N² would overflow at corpus scale), so kappa is
    // bit-equal cross-engine before the final 6dp round.
    "text_lang_kappa" -> ((s, dir) => {
      val pred = queries("text_lang_id")(s, dir)
        .select(col("doc_id"), col("predicted"))
      val cells = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
        .join(pred, "doc_id")
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n"))
        .persist()
      val t = cells.agg(sum(col("n")).as("nn"),
        sum(when(col("lang") === col("predicted"), col("n")).otherwise(0L))
          .as("diag"))
      val rows = cells.groupBy("lang").agg(sum("n").as("r"))
      val cols = cells.groupBy("predicted").agg(sum("n").as("c"))
      val p = rows.join(cols, rows("lang") === cols("predicted"))
        .agg(sum(col("r") * col("c")).as("pen"))
      val po = col("diag").cast("double") / col("nn")
      val pe = col("pen").cast("double") /
        (col("nn").cast("double") * col("nn").cast("double"))
      t.crossJoin(p)
        .select(col("nn").as("n"), round(po, 6).as("po"), round(pe, 6).as("pe"),
          round((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
    }),

    // Interpolated Kneser-Ney bigram probabilities (d = 0.75) — the
    // smoothing that made n-gram LMs work (Kneser & Ney 1995; still the
    // reference baseline next to neural perplexity): absolute-discounted
    // bigram mass backed off to the CONTINUATION unigram (how many
    // distinct left contexts a word follows — the "novel-context"
    // probability). Every ingredient is an exact integer aggregate of
    // the bigram relation (vocabulary²-bounded after ONE corpus tokenize
    // pass): c(w1w2), left totals c(w1)/N1+(w1·), continuation counts
    // N1+(·w2), type total. The probability chain is exact-input IEEE in
    // the oracle's association order; top-20 rides
    // TakeOrderedAndProject on (count desc, pair).
    "text_kn_bigram" -> ((s, dir) => {
      val bg = Tables.documents(s, dir)
        .select(split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i + 1] AS w2))"))
          .as("b"))
        .select(col("b.w1"), col("b.w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
        .persist()
      val left = bg.groupBy("w1")
        .agg(sum(col("c")).as("c1"), count(lit(1)).as("n1f"))
      val right = bg.groupBy("w2").agg(count(lit(1)).as("n1b"))
      val types = bg.agg(count(lit(1)).as("ntypes"))
      bg.join(left, "w1").join(right, "w2").crossJoin(broadcast(types))
        .withColumn("pkn", round(
          (col("c") - lit(0.75)) / col("c1") +
            lit(0.75) * col("n1f") / col("c1") *
              (col("n1b").cast("double") / col("ntypes")), 6))
        .select("w1", "w2", "c", "pkn")
        .orderBy(col("c").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    // Token burstiness — the variance-to-mean dispersion index of per-doc
    // counts (zeros included): topical content words are overdispersed
    // (they cluster in few docs), function words sit near Poisson — the
    // corpus-linguistics signal behind stopword induction and keyword
    // scoring. One tokenize pass into the (token, doc) count relation,
    // then a vocabulary-sized aggregate carrying exact integer Σc and
    // Σc²; the corpus doc count joins as a 1-row broadcast, every
    // division is exact-input IEEE, and the top-20 rides
    // TakeOrderedAndProject on the 6dp-rounded score with a token
    // tiebreak — never a global rank window.
    "text_burstiness" -> ((s, dir) => {
      val stats = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok", "doc_id").agg(count(lit(1)).as("c"))
        .groupBy("tok").agg(sum(col("c")).as("tf"),
          sum(col("c") * col("c")).as("tf2"),
          count(lit(1)).as("df"))
        .filter(col("df") >= MinBurstDf)
      val nd = Tables.documents(s, dir).agg(count(lit(1)).as("nd"))
      val mean = col("tf").cast("double") / col("nd")
      val ex2 = col("tf2").cast("double") / col("nd")
      stats.crossJoin(broadcast(nd))
        .withColumn("dispersion",
          round((ex2 - mean * mean) / mean, 6))
        .select(col("tok"), col("df"), col("tf"),
          round(mean, 6).as("mean_tf"), col("dispersion"))
        .orderBy(col("dispersion").desc, col("tok"))
        .limit(20)
    }),

    // Quality scoring: token count, mean token length, stopword ratio,
    // and a categorical grade — the standard pre-training quality gates.
    "text_quality" -> ((s, dir) => {
      val t = tokens(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"), size(t).as("n_tokens"),
          aggregate(t, lit(0L), (acc, x) => acc + length(x)).as("char_sum"),
          stopCount(t, StopEn).as("n_stop"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("char_sum").cast("double") / col("n_tokens"), 4).as("avg_token_len"),
          round(col("n_stop").cast("double") / col("n_tokens"), 4).as("stop_ratio"))
        .withColumn("grade",
          when(col("n_tokens").between(20, 500) && col("stop_ratio") < 0.5, "good")
            .otherwise("low"))
        .orderBy("doc_id")
    }),

    // Token counting two ways: whitespace tokens and a BPE-ish regex
    // ([a-z]+ runs and digit runs as separate tokens).
    "text_token_count" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(tokens(col("text"))).as("ws_tokens"),
          regexp_count(col("text"), lit("[a-z]+|[0-9]+")).as("bpe_tokens"))
        .orderBy("doc_id")),

    // Bigram frequencies (n-gram analysis): top-100 adjacent token pairs.
    // Adjacent pairs come from zipping the token array against itself
    // shifted by one (slice + arrays_zip, all codegen'd built-ins) — the
    // transform(sequence(...), i => element_at(...)) form evaluated its
    // lambda interpreted per token (~12× slower at sf0.1).
    "text_ngrams" -> ((s, dir) => {
      val t = tokens(col("text"))
      Tables.documents(s, dir)
        .select(explode(arrays_zip(
          slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1))).as("p"))
        .select(concat_ws(" ",
          col("p").getField("0"), col("p").getField("1")).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram"))
        .limit(100)
    }),

    // TF-IDF: top-5 terms per document by tf × ln(N/df). Three shuffles —
    // tf groupBy (doc_id, token), df groupBy token, top-k window per doc —
    // each on a different key; N rides in as a broadcast single-row cross
    // join (never collected to the driver). The classic "what is this
    // document about" ranking every retrieval pipeline starts from.
    "text_tfidf" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // BOTH the tf-idf product and the df aggregation consume tf, and
      // exchange reuse does not fire across the broadcast boundary, so the
      // explode+groupBy subtree runs twice — still cheaper than building a
      // columnar cache of the corpus-sized (doc, token) relation, which at
      // 100 TB could not be pinned in memory anyway (measured cold: the
      // persist form is ~40% slower end-to-end).
      val tf = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      // tf has one row per (doc, token), so df aggregates tf — not a
      // second tokenize pass. A vocab-sized groupBy + broadcast join, NOT
      // a count() window partitioned by token: token frequencies are
      // Zipfian, so the window form sorts a giant partition per common
      // token (pure skew), while the partial-aggregated groupBy ships one
      // row per (partition, token) and the df table broadcasts back.
      // vocabulary-cardinality: the df table broadcasts only while its
      // measured size fits the session budget (one stats job over the
      // persisted aggregate); past that the join degrades to a shuffle
      // join on token instead of OOMing the driver
      val df_ = Bcast.vocabHinted(
        tf.groupBy("token").agg(count(lit(1)).as("df")),
        length(col("token")))
      val n = docs.agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("token"))
      tf.join(df_, "token")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("token"),
          round(col("tf") *
            log(col("n").cast("double") / col("df")), 4).as("tfidf"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("doc_id", "token", "tfidf")
        .orderBy(col("doc_id"), col("tfidf").desc, col("token"))
    }),

    // Frequent-items (SpaceSaving) sketch over tokens: the mergeable
    // bounded-memory path for "top tokens at corpus scale" — a full
    // `text_tokens` groupBy shuffles every distinct item; the sketch
    // ships at most `capacity` counters per partial. With capacity (64)
    // ≥ the fixture vocabulary (31) no counter is ever displaced, so the
    // sketch is EXACT by the SpaceSaving guarantee and the output equals
    // the plain top-k — which makes it oracle-able as such (the exactness
    // precondition itself is pinned in AggSpec against `text_tokens`;
    // below-capacity behavior keeps only the error bound, not the oracle).
    "text_topk_sketch" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .agg(graft.functions.FreqSketch.freqItems(64)(col("token")).as("sk"))
        .select(explode(arrays_zip(col("sk.items"), col("sk.counts"))).as("e"))
        .select(col("e.items").as("token"), col("e.counts").as("cnt"))
        .orderBy(col("cnt").desc, col("token"))),

    // Count-Min point-frequency estimates for a fixed probe set (Cormode
    // & Muthukrishnan '05): "how often does THIS token appear
    // corpus-wide" without a per-token groupBy or storing keys. r17
    // (spec-only until now): the sketch is DECLARATIVE and fully
    // ORACLED — each token touches one cell per depth row, the cell
    // position a disjoint 2-hex-char slice of md5(token) (16² = 256 =
    // width, uniform, no modulo bias; the agg_bloom_members hex-slice
    // discipline via the shared HexSql builder, so DuckDB replays every
    // cell), the build is ONE map-side-combined groupBy whose partials
    // are bounded at depth×width = 1,024 cells per partition regardless
    // of corpus size, grids MERGE by per-cell count addition (the same
    // exchange does it), and the estimate is the min of a probe's depth
    // cells with empty cells reading 0 — a broadcast join of the 28
    // probe positions against the config-bounded grid. AggSpec keeps
    // the one-sided ε·N overestimate bound vs exact counts as
    // belt-and-braces.
    "text_countmin" -> ((s, dir) => {
      def positions(df: DataFrame): DataFrame = df
        .withColumn("h", md5(col("token")))
        .select(col("token"), explode(array((0 until CountMinDepth).map(r =>
          struct(lit(r).as("row"),
            expr(graft.functions.HexSql.intAt("h", 1 + 8 * r, 2)).as("pos"))): _*))
          .as("c"))
        .select(col("token"), col("c.row").as("row"), col("c.pos").as("pos"))
      val cells = positions(
        Tables.documents(s, dir)
          .select(explode(tokens(col("text"))).as("token")))
        .groupBy("row", "pos").agg(count(lit(1)).as("cnt"))
      val probes = s.range(1)
        .select(explode(array(CountMinProbes.map(lit(_)): _*)).as("token"))
      positions(probes)
        .join(broadcast(cells), Seq("row", "pos"), "left")
        .groupBy("token")
        .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
        .orderBy("token")
    }),

    // Canonical document fingerprint: md5 over the sorted distinct token
    // set (OpenRefine-style fingerprint) — the shuffle-key form of
    // `dedup_exact` at scale.
    "text_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          md5(concat_ws(" ",
            array_sort(array_distinct(tokens(col("text")))))).as("fp"))
        .orderBy("doc_id")),

    // Collocations: bigrams whose parts co-occur far more than chance —
    // PMI over the bigram space, ln(c_ab·N / (c1_a·c2_b)) with marginals
    // c1/c2 derived FROM the bigram counts (one tokenize pass feeds all
    // four aggregates; the marginal and total tables are vocabulary-sized
    // and broadcast back). The count floor keeps the estimator out of the
    // sparse-count noise regime.
    "text_collocations" -> ((s, dir) => {
      val t = tokens(col("text"))
      val big = Tables.documents(s, dir)
        .select(explode(arrays_zip(
          slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1))).as("p"))
        .select(col("p").getField("0").as("w1"), col("p").getField("1").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      // the bigram table feeds four consumers (main path + two marginals
      // + total); persist it so the marginal stats jobs don't re-tokenize
      big.persist()
      // marginals are vocabulary-cardinality — size-conditional broadcast
      val left = Bcast.vocabHinted(
        big.groupBy("w1").agg(sum(col("c_ab")).as("c1")), length(col("w1")))
      val right = Bcast.vocabHinted(
        big.groupBy("w2").agg(sum(col("c_ab")).as("c2")), length(col("w2")))
      val n = big.agg(sum(col("c_ab")).as("n"))
      big.filter(col("c_ab") >= 5)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(broadcast(n))
        .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"), col("c_ab"),
          round(log(col("c_ab").cast("double") * col("n") /
            (col("c1") * col("c2"))), 4).as("pmi"))
        .orderBy(col("pmi").desc, col("bigram"))
        .limit(100)
    }),

    // Repetition quality filter (the Gopher "repetition" gates): per doc,
    // the duplicate-token and duplicate-bigram fractions — boilerplate and
    // degenerate generations repeat n-grams far above natural prose.
    // Everything computes inside one codegen'd projection over the token
    // array (no explode, no shuffle except the final order): at 100 TB
    // this is a pure map over the scan.
    "text_repetition" -> ((s, dir) => {
      val t = tokens(col("text"))
      val bg = zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => concat_ws(" ", a, b))
      Tables.documents(s, dir)
        .select(col("doc_id"), size(t).as("n_tokens"),
          size(array_distinct(t)).as("d_tokens"),
          size(bg).as("n_bigrams"), size(array_distinct(bg)).as("d_bigrams"))
        .select(col("doc_id"), col("n_tokens"), col("n_bigrams"),
          round(lit(1.0) - col("d_tokens").cast("double") /
            nullif(col("n_tokens"), lit(0)), 4).as("dup_token_frac"),
          round(lit(1.0) - col("d_bigrams").cast("double") /
            nullif(col("n_bigrams"), lit(0)), 4).as("dup_bigram_frac"))
        .withColumn("flag",
          when(col("dup_bigram_frac") > 0.2, "repetitive").otherwise("ok"))
        .orderBy("doc_id")
    }),

    // Unigram-LM quality score (the perplexity-proxy filter): corpus
    // unigram probabilities from one tokenize pass, then per-doc
    // cross-entropy H = Σ tf·(−ln p) / Σ tf. Low-H docs are stopword soup,
    // high-H docs are noise — the mid-band survives. The frequency table
    // is vocabulary-sized and broadcasts back; the per-doc aggregation
    // shuffles (doc_id, token) partials only, so the plan is two linear
    // scans + one bounded shuffle at any corpus size.
    "text_unigram_ppl" -> ((s, dir) =>
      unigramCe(s, dir).orderBy("doc_id")),

    // BM25 ranked retrieval (k1=1.2, b=0.75, Lucene-style idf with the
    // +1 smoothing) over the search terms — the relevance ranking `$text`
    // search implies but the reference never surfaces (no score projected,
    // streamlit_app.py:147). Same shuffle skeleton as `text_tfidf`: tf on
    // (doc, term), df and corpus stats broadcast back, one final groupBy
    // per doc — terms are filtered before the tf shuffle, so the exchange
    // carries only matching (doc, term) rows regardless of corpus size.
    "text_bm25" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val terms = ProvidenciasOps.SearchTerms
      val lens = docs.select(col("doc_id"),
        size(tokens(col("text"))).cast("double").as("dl"))
      val tf = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .filter(col("token").isin(terms: _*))
        .groupBy("doc_id", "token").agg(count(lit(1)).cast("double").as("tf"))
      // df here is bounded by the CONSTANT search-term list, not the
      // vocabulary — the row bound is known at plan time, no stats job
      val df_ = tf.groupBy("token").agg(count(lit(1)).cast("double").as("df"))
      val stats = docs.agg(count(lit(1)).cast("double").as("n"),
        avg(size(tokens(col("text")))).as("avgdl"))
      tf.join(Bcast.ifFitsRows(df_, terms.length, 64), "token")
        .crossJoin(broadcast(stats))
        .join(lens, "doc_id")
        .select(col("doc_id"),
          (log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
            (col("tf") * 2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
            .as("s0"))
        .groupBy("doc_id").agg(round(sum(col("s0")), 4).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
    }),

    // Token-distribution Shannon entropy per document — the information-
    // density quality signal (low entropy = repetitive/boilerplate, the
    // continuous counterpart of `text_repetition`'s fractions). Computed
    // from per-(doc, token) counts via H = (ln N − Σ tf·ln tf / N) / ln 2,
    // so the explode feeds ONE partial-aggregated shuffle on (doc_id,
    // token) and a doc-cardinality re-aggregation — identical shuffle
    // skeleton to `text_tfidf`'s tf branch, linear at any corpus size.
    "text_entropy" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        .groupBy("doc_id")
        .agg(sum(col("tf")).as("n_tokens"),
          count(lit(1)).as("d_tokens"),
          sum(col("tf") * log(col("tf"))).as("s_nlogn"))
        .select(col("doc_id"), col("n_tokens"), col("d_tokens"),
          round((log(col("n_tokens")) - col("s_nlogn") / col("n_tokens")) /
            log(lit(2.0)), 4).as("entropy"))
        .orderBy("doc_id")),

    // Hashing-trick featurization (Weinberger et al.'s feature hashing):
    // every token maps to one of D=16 feature buckets via the md5-prefix
    // hash both engines reproduce bit-identically (the same portable-hash
    // idiom as `pipe_split`), giving a fixed-width sparse count vector per
    // document with NO vocabulary pass — the standard way to featurize an
    // unbounded token space at 100 TB (no dictionary to build, broadcast,
    // or keep consistent across runs). One explode + one partial-aggregated
    // (doc_id, feature) shuffle; output width is bounded by D, not vocab.
    "text_hashed_features" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .select(col("doc_id"),
          (conv(substring(md5(col("token")), 1, 4), 16, 10)
            .cast("int") % 16).as("feature"))
        .groupBy("doc_id", "feature").agg(count(lit(1)).as("cnt"))
        .orderBy("doc_id", "feature")),

    // Per-source distribution drift: KL(source ‖ corpus) over the unigram
    // token distribution — the mix-audit that flags a source whose token
    // profile has diverged from the blend it feeds (domain rot, a scraper
    // gone wrong, a language flip). Every source token appears in the
    // corpus distribution by construction, so q > 0 and no smoothing term
    // is needed. Plan: ONE explode + partial-aggregated (source, token)
    // shuffle, then three re-aggregations of that already-tiny frame
    // (|sources|·|vocab| rows — at 100 TB with a real tokenizer this is
    // |vocab|-bounded, the same adjudicated class as tfidf's df table);
    // the per-term sum runs through the DECIMAL(28,10) cast so the
    // reduction is associative (order-independent) in both engines.
    "text_kl_drift" -> ((s, dir) => {
      val st = Tables.documents(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("c"))
      val tok = st.groupBy("token").agg(sum("c").as("ct"))
      val src = st.groupBy("source").agg(sum("c").as("ns"))
      val tot = st.agg(sum("c").as("n"))
      val p = col("c") / col("ns")
      val q = col("ct") / col("n")
      st.join(tok, "token").join(src, "source").crossJoin(tot)
        .groupBy("source", "ns")
        .agg(graft.functions.Num.pin(
          sum((p * log(p / q)).cast("decimal(28,10)")).cast("double"), 4)
          .as("kl"))
        .select(col("source"), col("ns").as("n_tokens"), col("kl"))
        .orderBy("source")
    }),

    // Per-doc n-gram novelty — the memorization-risk datasheet: what
    // fraction of a document's distinct word trigrams appears in NO other
    // document? Low novelty = boilerplate/template mass (dedup fodder);
    // high novelty = uniquely-contributed text. r18 opt: per-doc
    // distinctness moves into the ARRAY domain (array_distinct before the
    // explode — codegen'd, per row), which deletes the corpus-wide
    // DISTINCT exchange the r12 form paid, and a df==1 gram names its
    // unique document via min(doc_id) inside the SAME gram aggregation —
    // so the (doc, gram) relation never joins back on gram at all. ONE
    // corpus-scale exchange total (the map-side-combined gram count; the
    // r12 form crossed three and built a gram-keyed join), then two
    // doc-cardinality long-pair relations meet on doc_id. n_grams comes
    // from the per-doc array size in the scan projection — the identical
    // integer the old groupBy counted, since the exploded rows WERE that
    // array. Docs shorter than 3 tokens have no trigram and drop out
    // (n_grams > 0 filter — the old inner join's semantics).
    "text_ngram_novelty" -> ((s, dir) => {
      val t = tokens(col("text"))
      // greatest(·, 0): a <3-token doc has no trigram; a negative slice
      // length is a runtime error, an empty slice is the correct answer
      val n3 = greatest(size(t) - 2, lit(0))
      val gArr = array_distinct(transform(arrays_zip(
        slice(t, lit(1), n3), slice(t, lit(2), n3), slice(t, lit(3), n3)),
        p => concat_ws(" ", p.getField("0"), p.getField("1"),
          p.getField("2"))))
      val novel = Tables.documents(s, dir)
        .select(col("doc_id"), explode(gArr).as("gram"))
        .groupBy("gram")
        .agg(count(lit(1)).as("df"), min(col("doc_id")).as("d1"))
        .filter(col("df") === 1)
        .groupBy(col("d1").as("doc_id"))
        .agg(count(lit(1)).as("n_novel"))
      Tables.documents(s, dir)
        .select(col("doc_id"), size(gArr).cast("long").as("n_grams"))
        .filter(col("n_grams") > 0)
        .join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"))
        .withColumn("novelty", graft.functions.Num.pin(
          col("n_novel").cast("double") / col("n_grams"), 6))
        .orderBy("doc_id")
    }),

    // Pairwise Jensen-Shannon divergence between the sources' unigram
    // distributions — `text_kl_drift`'s symmetric, bounded companion: the
    // source-similarity matrix a mixture designer reads before setting
    // sampling weights (JSD ∈ [0, ln 2], finite even on disjoint
    // vocabularies, where KL is infinite). The only corpus-scale pass is
    // the same (source, token) partial-agg shuffle kl_drift makes; the
    // unordered source pairs are a |sources|²-row relation broadcast
    // only while its MEASURED size fits the session budget (r11: the
    // source cardinality is data-dependent — a per-domain source column
    // makes |sources|² broadcast-busting, so the hint degrades to a
    // shuffle join past the budget like every other vocabulary-scale
    // hint in the codebase), and the
    // union-tagging trick materializes each pair's UNION vocabulary with
    // plain groupBy sums — absent sides arrive as exact 0.0 — instead of
    // a per-pair full-outer join. Per-token terms ride the DECIMAL(28,10)
    // cast so the fold is order-independent; zero-share sides contribute
    // the exact-0 limit via the `when` guard.
    "text_jsd_sources" -> ((s, dir) => {
      val st = Tables.documents(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("c"))
      val src = st.groupBy("source").agg(sum("c").as("ns"))
      val p = st.join(src, "source")
        .select(col("source"), col("token"), (col("c") / col("ns")).as("p"))
      val prs = Bcast.vocabHinted(
        src.select(col("source").as("src_a"))
          .crossJoin(src.select(col("source").as("src_b")))
          .filter(col("src_a") < col("src_b")),
        length(col("src_a")) + length(col("src_b")))
      val a = p.join(prs, col("source") === col("src_a"))
        .select(col("src_a"), col("src_b"), col("token"),
          col("p").as("pa"), lit(0.0).as("pb"))
      val b = p.join(prs, col("source") === col("src_b"))
        .select(col("src_a"), col("src_b"), col("token"),
          lit(0.0).as("pa"), col("p").as("pb"))
      val m = a.union(b)
        .groupBy("src_a", "src_b", "token")
        .agg(sum("pa").as("pa"), sum("pb").as("pb"))
      val mid = (col("pa") + col("pb")) / 2
      val term =
        when(col("pa") > 0, lit(0.5) * col("pa") * log(col("pa") / mid))
          .otherwise(0.0) +
        when(col("pb") > 0, lit(0.5) * col("pb") * log(col("pb") / mid))
          .otherwise(0.0)
      m.groupBy("src_a", "src_b")
        .agg(graft.functions.Num.pin(
          sum(term.cast("decimal(28,10)")).cast("double"), 4).as("jsd"))
        .orderBy("src_a", "src_b")
    }),

    // Code-vs-prose gate — the pretraining-corpus router that keeps
    // Markdown/code out of a prose pipeline (and vice versa). The one
    // feature is a CHARACTER COUNT: length(text) − length(translate(text,
    // symbols, '')) — `translate` deletes every symbol-alphabet char in a
    // single pass and exists with identical semantics in both engines, so
    // there is no regex dialect surface at all — and the decision is a
    // literal threshold on an exactly-rounded division, the
    // `pipe_quality_logit` bit-stability recipe. Pure codegen'd row map:
    // zero shuffles, zero joins.
    "text_code_detect" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("n_sym", (length(col("text")) -
          length(translate(col("text"), CodeSymbols, ""))).cast("long"))
        // Num.pin, not library round (r11, §7.4): is_code derives from
        // the ROUNDED ratio, so a 6dp halfway tie must resolve via the
        // identical IEEE floor chain on both engines
        .withColumn("sym_ratio", graft.functions.Num.pin(
          col("n_sym").cast("double") / length(col("text")), 6))
        .select(col("doc_id"), col("n_sym"), col("sym_ratio"),
          (col("sym_ratio") >= CodeSymRatioThreshold).as("is_code"))
        .orderBy("doc_id"))
  )

  /** `text_code_detect`'s symbol alphabet — the characters whose density
    * separates code/markup from prose. Deleted in one `translate` pass on
    * both engines (from-chars with no to-counterpart are removed). */
  val CodeSymbols: String = "{}();=<>[]#_"

  /** Literal decision threshold for `text_code_detect` (symbol chars per
    * text char); ≥ keeps the compare exact on round 6dp ties. */
  val CodeSymRatioThreshold = 0.02

  private def duckStop(list: Seq[String]): String =
    list.mkString("['", "','", "']")

  /** `text_lang_id`'s oracle, factored out so `text_lang_confusion` can
    * nest it as a CTE (the ann_hybrid_rerank pattern — one definition,
    * both keys pinned to the same predictions). */
  private def langIdSql: String =
    s"""SELECT doc_id, s_en, s_es, s_fr, s_de,
               CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
                    WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
                    WHEN s_fr >= s_de THEN 'fr'
                    ELSE 'de' END AS predicted
       FROM (
         SELECT doc_id,
                CAST(len(list_filter(string_split(text,' '), t -> list_contains(${duckStop(StopEn)}, t))) AS INT) AS s_en,
                CAST(len(list_filter(string_split(text,' '), t -> list_contains(${duckStop(StopEs)}, t))) AS INT) AS s_es,
                CAST(len(list_filter(string_split(text,' '), t -> list_contains(${duckStop(StopFr)}, t))) AS INT) AS s_fr,
                CAST(len(list_filter(string_split(text,' '), t -> list_contains(${duckStop(StopDe)}, t))) AS INT) AS s_de
         FROM documents
       ) ORDER BY doc_id"""

  def oracles: Map[String, String] = Map(
    "text_kl_drift" ->
      """WITH st AS (
           SELECT source, token, count(*) AS c
           FROM (SELECT source, unnest(string_split(text, ' ')) AS token
                 FROM documents)
           GROUP BY 1, 2
         ), tok AS (SELECT token, sum(c) AS ct FROM st GROUP BY 1),
            src AS (SELECT source, sum(c) AS ns FROM st GROUP BY 1),
            tot AS (SELECT sum(c) AS n FROM st)
         SELECT source, CAST(ns AS BIGINT) AS n_tokens,
                floor(CAST(sum(CAST((c / ns) * ln((c / ns) / (ct / n))
                                    AS DECIMAL(28,10))) AS DOUBLE)
                      * 1e4 + 0.5) / 1e4 AS kl
         FROM st JOIN tok USING (token) JOIN src USING (source) CROSS JOIN tot
         GROUP BY source, ns
         ORDER BY source""",
    "text_ngram_novelty" ->
      """WITH g AS (
           SELECT DISTINCT doc_id, gram FROM (
             SELECT doc_id,
                    unnest(list_transform(range(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
             FROM (SELECT doc_id, string_split(text, ' ') AS t
                   FROM documents)
           )
         ), df AS (SELECT gram, count(*) AS df FROM g GROUP BY 1)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_novel,
                floor(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*) * 1e6 + 0.5) / 1e6 AS novelty
         FROM g JOIN df USING (gram)
         GROUP BY doc_id ORDER BY doc_id""",
    // same union-tagging shape as the operator: absent sides arrive as
    // exact 0.0 through the pair-tagged UNION ALL + sum, and each
    // zero-share side contributes the exact-0 limit via the CASE guard
    "text_jsd_sources" ->
      """WITH st AS (
           SELECT source, token, count(*) AS c
           FROM (SELECT source, unnest(string_split(text, ' ')) AS token
                 FROM documents)
           GROUP BY 1, 2
         ), src AS (SELECT source, sum(c) AS ns FROM st GROUP BY 1),
         p AS (
           SELECT source, token, c / ns AS p
           FROM st JOIN src USING (source)
         ), prs AS (
           SELECT a.source AS src_a, b.source AS src_b
           FROM src a JOIN src b ON a.source < b.source
         ), m AS (
           SELECT src_a, src_b, token, sum(pa) AS pa, sum(pb) AS pb
           FROM (
             SELECT src_a, src_b, token, p AS pa, 0.0 AS pb
             FROM p JOIN prs ON p.source = prs.src_a
             UNION ALL
             SELECT src_a, src_b, token, 0.0 AS pa, p AS pb
             FROM p JOIN prs ON p.source = prs.src_b
           ) GROUP BY 1, 2, 3
         )
         SELECT src_a, src_b,
                floor(CAST(sum(CAST(
                  (CASE WHEN pa > 0
                        THEN 0.5 * pa * ln(pa / ((pa + pb) / 2))
                        ELSE 0.0 END)
                  + (CASE WHEN pb > 0
                          THEN 0.5 * pb * ln(pb / ((pa + pb) / 2))
                          ELSE 0.0 END) AS DECIMAL(28,10))) AS DOUBLE)
                      * 1e4 + 0.5) / 1e4 AS jsd
         FROM m GROUP BY 1, 2 ORDER BY 1, 2""",
    "text_code_detect" ->
      s"""SELECT doc_id, n_sym,
                floor(CAST(n_sym AS DOUBLE) / len(text) * 1e6 + 0.5) / 1e6
                  AS sym_ratio,
                floor(CAST(n_sym AS DOUBLE) / len(text) * 1e6 + 0.5) / 1e6
                  >= $CodeSymRatioThreshold AS is_code
         FROM (
           SELECT doc_id, text,
                  CAST(len(text) - len(translate(text, '$CodeSymbols', ''))
                       AS BIGINT) AS n_sym
           FROM documents
         ) ORDER BY doc_id""",
    "text_readability" ->
      """SELECT doc_id, n_words, n_syllables, n_sentences,
                round(CAST(n_syllables AS DOUBLE) / n_words, 4) AS syll_per_word,
                round(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
                      + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
                      - 15.59, 4) AS fk_grade
         FROM (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                  CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT) AS n_syllables,
                  CAST(len(regexp_extract_all(text, '[.!?]+')) + 1 AS BIGINT) AS n_sentences
           FROM documents
         ) ORDER BY doc_id""",
    "text_collocations" ->
      """WITH big AS MATERIALIZED (
           SELECT w1, w2, count(*) AS c_ab FROM (
             SELECT toks[i] AS w1, toks[i+1] AS w2 FROM (
               SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
               FROM (SELECT string_split(text, ' ') AS toks FROM documents)
               WHERE len(toks) >= 2)
           ) GROUP BY w1, w2
         ), l AS (SELECT w1, sum(c_ab) AS c1 FROM big GROUP BY w1),
            r AS (SELECT w2, sum(c_ab) AS c2 FROM big GROUP BY w2),
            nn AS (SELECT sum(c_ab) AS n FROM big)
         SELECT concat_ws(' ', w1, w2) AS bigram, c_ab,
                round(ln(1.0 * c_ab * (SELECT n FROM nn) / (c1 * c2)), 4) AS pmi
         FROM big JOIN l USING (w1) JOIN r USING (w2)
         WHERE c_ab >= 5
         ORDER BY pmi DESC, bigram
         LIMIT 100""",
    "text_ttr" ->
      """SELECT doc_id, n_tokens, n_types,
                round(CAST(n_types AS DOUBLE) / n_tokens, 4) AS ttr,
                round(ln(CAST(n_types AS DOUBLE)) /
                      ln(CAST(n_tokens AS DOUBLE)), 4) AS herdan
         FROM (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                    AS n_types
           FROM documents
         ) ORDER BY doc_id""",
    // same exact-DECIMAL OLS discipline as agg_regression; intercept uses
    // the ROUNDED slope, mirroring the Spark withColumn chain
    // the plain frequency-ordered windows replay the range-partition +
    // offset ranks/cumsums; the VALUES ladder is the same literal spine
    "text_vocab_coverage" ->
      """WITH freq AS (
           SELECT token, CAST(count(*) AS BIGINT) AS cnt
           FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
           GROUP BY token
         ), ranked AS (
           SELECT token, cnt,
                  row_number() OVER (ORDER BY cnt DESC, token) AS rank,
                  CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum_mass
           FROM freq
         ), tots AS (
           SELECT CAST(count(*) AS BIGINT) AS vsize,
                  CAST(sum(cnt) AS BIGINT) AS total
           FROM freq
         ), spine AS (
           SELECT CAST(k AS BIGINT) AS k,
                  least(CAST(k AS BIGINT), vsize) AS rank, total
           FROM (VALUES (1), (2), (4), (8), (16), (32), (64), (128)) AS t(k)
           CROSS JOIN tots
         )
         SELECT s.k, s.rank AS vocab_used, r.token AS boundary_token,
                r.cum_mass AS token_mass,
                floor(CAST(r.cum_mass AS DOUBLE) / s.total * 1e6 + 0.5) / 1e6
                  AS coverage
         FROM spine s JOIN ranked r ON s.rank = r.rank
         ORDER BY s.k""",
    "text_zipf" ->
      """SELECT CAST(n AS BIGINT) AS n_ranks, slope,
                round((sy - slope * sx) / n, 6) AS intercept,
                round((n * sxy - sx * sy) * (n * sxy - sx * sy) /
                      ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
         FROM (
           SELECT n, sx, sy, sxy, sxx, syy,
                  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope
           FROM (
             SELECT CAST(count(*) AS DOUBLE) AS n,
                    CAST(sum(CAST(lx AS DECIMAL(28,10))) AS DOUBLE) AS sx,
                    CAST(sum(CAST(ly AS DECIMAL(28,10))) AS DOUBLE) AS sy,
                    CAST(sum(CAST(lx * ly AS DECIMAL(28,10))) AS DOUBLE) AS sxy,
                    CAST(sum(CAST(lx * lx AS DECIMAL(28,10))) AS DOUBLE) AS sxx,
                    CAST(sum(CAST(ly * ly AS DECIMAL(28,10))) AS DOUBLE) AS syy
             FROM (
               SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, token)
                              AS DOUBLE)) AS lx,
                      ln(cnt) AS ly
               FROM (
                 SELECT token, CAST(count(*) AS DOUBLE) AS cnt
                 FROM (SELECT unnest(string_split(text, ' ')) AS token
                       FROM documents)
                 GROUP BY token
               )
             )
           )
         )""",
    "text_bm25" ->
      """WITH tf AS (
           SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
           WHERE token IN ('spark', 'merge') GROUP BY doc_id, token
         ), df AS (
           SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token
         ), lens AS (
           SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl FROM documents
         ), stats AS (
           SELECT CAST(count(*) AS DOUBLE) AS n,
                  avg(len(string_split(text, ' '))) AS avgdl
           FROM documents
         )
         SELECT doc_id,
                round(sum(ln((n - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) /
                          (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS bm25
         FROM tf JOIN df USING (token) CROSS JOIN stats JOIN lens USING (doc_id)
         GROUP BY doc_id
         ORDER BY bm25 DESC, doc_id""",
    "text_repetition" ->
      """SELECT doc_id, n_tokens, n_bigrams,
                round(1.0 - CAST(d_tokens AS DOUBLE) / nullif(n_tokens, 0), 4) AS dup_token_frac,
                round(1.0 - CAST(d_bigrams AS DOUBLE) / nullif(n_bigrams, 0), 4) AS dup_bigram_frac,
                CASE WHEN round(1.0 - CAST(d_bigrams AS DOUBLE) / nullif(n_bigrams, 0), 4) > 0.2
                     THEN 'repetitive' ELSE 'ok' END AS flag
         FROM (
           SELECT doc_id,
                  CAST(len(toks) AS INT) AS n_tokens,
                  CAST(len(list_distinct(toks)) AS INT) AS d_tokens,
                  CAST(len(bgs) AS INT) AS n_bigrams,
                  CAST(len(list_distinct(bgs)) AS INT) AS d_bigrams
           FROM (
             SELECT doc_id, toks,
                    list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bgs
             FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
           )
         ) ORDER BY doc_id""",
    "text_unigram_ppl" ->
      """WITH tf AS (
           SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
           GROUP BY doc_id, token
         ), freq AS (
           SELECT token, sum(tf) AS cnt FROM tf GROUP BY token
         ), tot AS (SELECT sum(cnt) AS total FROM freq)
         SELECT doc_id,
                round(sum(tf * -ln(cnt / total)) / sum(tf), 4) AS cross_entropy
         FROM tf JOIN freq USING (token) CROSS JOIN tot
         GROUP BY doc_id ORDER BY doc_id""",
    "text_tokens" ->
      """SELECT token, count(*) AS cnt
         FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
         GROUP BY token ORDER BY cnt DESC, token""",
    // the sketch replays cell-for-cell: same tokenization, same md5
    // 2-hex-char slices (the shared HexSql text), same grid group-count,
    // same min-of-depth-cells with empty cells reading 0
    "text_countmin" -> {
      def cellSelect(r: Int) =
        s"SELECT $r AS row, ${graft.functions.HexSql.intAt("h", 1 + 8 * r, 2)} AS pos FROM h"
      s"""WITH h AS (
           SELECT md5(token) AS h
           FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)),
         cells AS (
           SELECT row, pos, count(*) AS cnt FROM (
             ${(0 until CountMinDepth).map(cellSelect).mkString("\n             UNION ALL ")})
           GROUP BY 1, 2),
         ph AS (
           SELECT token, md5(token) AS h
           FROM (SELECT unnest([${CountMinProbes.map(p => s"'$p'").mkString(", ")}]) AS token)),
         ppos AS (
           ${(0 until CountMinDepth).map(r =>
             s"SELECT token, $r AS row, ${graft.functions.HexSql.intAt("h", 1 + 8 * r, 2)} AS pos FROM ph")
             .mkString("\n           UNION ALL ")})
         SELECT token, min(coalesce(cnt, 0)) AS est
         FROM ppos LEFT JOIN cells USING (row, pos)
         GROUP BY token ORDER BY token"""
    },
    "text_entropy" ->
      """WITH tf AS (
           SELECT doc_id, token, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
           GROUP BY doc_id, token
         )
         SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
                count(*) AS d_tokens,
                round((ln(CAST(sum(tf) AS DOUBLE)) - sum(tf * ln(tf)) / sum(tf))
                      / ln(2.0), 4) AS entropy
         FROM tf GROUP BY doc_id ORDER BY doc_id""",
    "text_hashed_features" ->
      """SELECT doc_id, feature, count(*) AS cnt
         FROM (
           SELECT doc_id,
                  CAST(('0x' || substring(md5(token), 1, 4)) AS INT) % 16 AS feature
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
         ) GROUP BY doc_id, feature ORDER BY doc_id, feature""",
    // valid because capacity (64) ≥ fixture vocabulary (31): an
    // undisplaced SpaceSaving sketch is exact, so its output IS the
    // plain token top-k (the precondition is pinned in AggSpec)
    "text_topk_sketch" ->
      """SELECT token, count(*) AS cnt
         FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
         GROUP BY token ORDER BY cnt DESC, token""",
    "text_search_ranked" ->
      s"""SELECT * FROM (
           SELECT doc_id, lang,
                  CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
                                          ${duckStop(RankedTerms)})) AS INT) AS score
           FROM documents
         ) WHERE score > 0 ORDER BY score DESC, doc_id""",
    "doc_stats_by_lang" ->
      """SELECT lang, count(*) AS n_docs,
                round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS avg_chars,
                max(n_chars) AS max_chars
         FROM documents GROUP BY lang ORDER BY lang""",
    "text_lang_id" -> langIdSql,
    // the CTE IS text_lang_id's oracle, so the confusion matrix is pinned
    // against the same predictions that key verifies
    "text_lang_confusion" ->
      s"""WITH li AS (
           $langIdSql
         )
         SELECT d.lang, li.predicted, count(*) AS n,
                round(count(*) / sum(count(*)) OVER (PARTITION BY d.lang), 4)
                  AS recall
         FROM documents d JOIN li USING (doc_id)
         GROUP BY d.lang, li.predicted
         ORDER BY lang, predicted""",
    // same prediction CTE and confusion cells; po/pe replay the exact
    // integer sums, pe's N² denominator multiplies as DOUBLE (see Spark)
    "text_lang_kappa" ->
      s"""WITH li AS (
           $langIdSql
         ), cells AS (
           SELECT d.lang, li.predicted, count(*) AS n
           FROM documents d JOIN li USING (doc_id)
           GROUP BY 1, 2
         ), t AS (
           SELECT CAST(sum(n) AS BIGINT) AS nn,
                  CAST(sum(CASE WHEN lang = predicted THEN n ELSE 0 END)
                       AS BIGINT) AS diag
           FROM cells
         ), r AS (
           SELECT lang, CAST(sum(n) AS BIGINT) AS r FROM cells GROUP BY lang
         ), c AS (
           SELECT predicted, CAST(sum(n) AS BIGINT) AS c
           FROM cells GROUP BY predicted
         ), p AS (
           SELECT CAST(sum(r.r * c.c) AS BIGINT) AS pen
           FROM r JOIN c ON r.lang = c.predicted
         )
         SELECT nn AS n,
                round(CAST(diag AS DOUBLE) / nn, 6) AS po,
                round(CAST(pen AS DOUBLE) /
                      (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)), 6) AS pe,
                round((CAST(diag AS DOUBLE) / nn
                       - CAST(pen AS DOUBLE) /
                         (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)))
                      / (1.0 - CAST(pen AS DOUBLE) /
                         (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))), 6) AS kappa
         FROM t CROSS JOIN p""",
    // bigram pairs via the BpeCtes unnest idiom; the probability chain
    // casts every 0.75 literal to DOUBLE to mirror Spark's lit(0.75)
    "text_kn_bigram" ->
      """WITH pairs AS (
           SELECT split_part(pair, ' ', 1) AS w1,
                  split_part(pair, ' ', 2) AS w2
           FROM (
             SELECT unnest(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i + 1])) AS pair
             FROM (SELECT string_split(text, ' ') AS t FROM documents)
             WHERE len(t) >= 2
           )
         ), bg AS (
           SELECT w1, w2, count(*) AS c FROM pairs GROUP BY 1, 2
         ), l AS (
           SELECT w1, CAST(sum(c) AS BIGINT) AS c1, count(*) AS n1f
           FROM bg GROUP BY w1
         ), r AS (
           SELECT w2, count(*) AS n1b FROM bg GROUP BY w2
         ), ty AS (SELECT count(*) AS ntypes FROM bg)
         SELECT bg.w1, bg.w2, bg.c,
                round((bg.c - CAST(0.75 AS DOUBLE)) / l.c1 +
                      CAST(0.75 AS DOUBLE) * l.n1f / l.c1 *
                        (CAST(r.n1b AS DOUBLE) / ty.ntypes), 6) AS pkn
         FROM bg JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN ty
         ORDER BY c DESC, w1, w2 LIMIT 20""",
    "text_burstiness" ->
      s"""WITH tfd AS (
           SELECT tok, doc_id, count(*) AS c FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             FROM documents
           ) GROUP BY tok, doc_id
         ), stats AS (
           SELECT tok, CAST(sum(c) AS BIGINT) AS tf,
                  CAST(sum(c * c) AS BIGINT) AS tf2,
                  count(*) AS df
           FROM tfd GROUP BY tok HAVING count(*) >= $MinBurstDf
         ), nd AS (SELECT count(*) AS nd FROM documents)
         SELECT tok, df, tf,
                round(CAST(tf AS DOUBLE) / nd, 6) AS mean_tf,
                round((CAST(tf2 AS DOUBLE) / nd
                       - (CAST(tf AS DOUBLE) / nd) * (CAST(tf AS DOUBLE) / nd))
                      / (CAST(tf AS DOUBLE) / nd), 6) AS dispersion
         FROM stats CROSS JOIN nd
         ORDER BY dispersion DESC, tok
         LIMIT 20""",
    // every rule compare replays in the identical cross-multiplied
    // INTEGER form; the 7-row table is a UNION ALL over the one-row agg
    "text_gopher_rules" ->
      s"""WITH $gopherFlagCtes, a AS (
           SELECT CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(f1) AS BIGINT) AS s1, CAST(sum(f2) AS BIGINT) AS s2,
                  CAST(sum(f3) AS BIGINT) AS s3, CAST(sum(f4) AS BIGINT) AS s4,
                  CAST(sum(f5) AS BIGINT) AS s5, CAST(sum(f6) AS BIGINT) AS s6,
                  CAST(sum(CASE WHEN f1 + f2 + f3 + f4 + f5 + f6 > 0
                                THEN 1 ELSE 0 END) AS BIGINT) AS sany
           FROM fl
         ), st AS (
           SELECT CAST(1 AS INT) AS rule_idx, 'word_count_out_of_range' AS rule,
                  s1 AS n_fail, n_docs FROM a
           UNION ALL SELECT 2, 'mean_word_len_out_of_range', s2, n_docs FROM a
           UNION ALL SELECT 3, 'symbol_ratio_high', s3, n_docs FROM a
           UNION ALL SELECT 4, 'digit_token_frac_high', s4, n_docs FROM a
           UNION ALL SELECT 5, 'dup_token_frac_high', s5, n_docs FROM a
           UNION ALL SELECT 6, 'stop_ratio_low', s6, n_docs FROM a
           UNION ALL SELECT 7, 'any_rule', sany, n_docs FROM a
         )
         SELECT rule_idx, rule, n_fail, n_docs,
                floor(CAST(n_fail AS DOUBLE) / n_docs * 1e6 + 0.5) / 1e6
                  AS pct_fail
         FROM st ORDER BY rule_idx""",
    "text_quality" ->
      s"""SELECT doc_id, n_tokens,
                 round(CAST(char_sum AS DOUBLE) / n_tokens, 4) AS avg_token_len,
                 round(CAST(n_stop AS DOUBLE) / n_tokens, 4) AS stop_ratio,
                 CASE WHEN n_tokens BETWEEN 20 AND 500
                       AND round(CAST(n_stop AS DOUBLE) / n_tokens, 4) < 0.5
                      THEN 'good' ELSE 'low' END AS grade
         FROM (
           SELECT doc_id,
                  CAST(len(string_split(text,' ')) AS INT) AS n_tokens,
                  list_sum(list_transform(string_split(text,' '), x -> CAST(length(x) AS BIGINT))) AS char_sum,
                  len(list_filter(string_split(text,' '), t -> list_contains(${duckStop(StopEn)}, t))) AS n_stop
           FROM documents
         ) ORDER BY doc_id""",
    "text_token_count" ->
      """SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
                CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INT) AS bpe_tokens
         FROM documents ORDER BY doc_id""",
    "text_ngrams" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
         bg AS (SELECT unnest(list_transform(range(1, len(t)),
                              i -> t[i] || ' ' || t[i+1])) AS bigram FROM toks)
         SELECT bigram, count(*) AS cnt FROM bg
         GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 100""",
    "text_fingerprint" ->
      """SELECT doc_id,
                md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
         FROM documents ORDER BY doc_id""",
    "text_tfidf" ->
      """WITH tf AS (
           SELECT doc_id, token, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
           GROUP BY doc_id, token
         ), df AS (
           SELECT token, count(*) AS df FROM tf GROUP BY token
         ), n AS (SELECT count(*) AS n FROM documents)
         SELECT doc_id, token, tfidf FROM (
           SELECT tf.doc_id, tf.token,
                  round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 4) AS tfidf,
                  row_number() OVER (
                    PARTITION BY tf.doc_id
                    ORDER BY round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 4) DESC,
                             tf.token) AS rn
           FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
         ) WHERE rn <= 5 ORDER BY doc_id, tfidf DESC, token"""
  )
}
