package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Num

/** Streaming suite, batch surface (SURVEY.md §2 B10, design §7.3).
  *
  * Each declared query here uses the exact expression a Structured
  * Streaming job would (`window` / `session_window` are valid in both batch
  * and streaming plans) evaluated in batch mode so DuckDB can oracle it.
  * The incremental surface — `readStream`, watermarks, late-data drops,
  * `dropDuplicatesWithinWatermark`, `flatMapGroupsWithState` — lives in
  * [[graft.streaming.EventStreams]] and is exercised by the
  * StreamingSpec `MemoryStream` tests (not oracle-able by a batch engine).
  *
  * Scale notes: tumbling/sliding aggregation state is bounded by
  * (#windows × #groups) and evicted by the watermark; session windows merge
  * per key. All three shuffle once on the group key — same plan shape at
  * 100 TB/day as on the fixture.
  */
object StreamingOps {

  /** ACF lags reported by `ts_correlogram`. */
  val CorrelogramLags = 12

  /** `ts_kalman`'s noise pair — dyadic literals (process variance Q,
    * observation variance R) shared with the oracle, so the predicted
    * variance `p + Q` and the gain denominator `pp + R` are exact
    * doubles before the one non-dyadic division per step. */
  val KalmanQ = 0.25
  val KalmanR = 1.0

  /** `ts_periodogram`'s frequency count and the 2π double literal shared
    * verbatim with the oracle (pi() vs Math.PI agree, but pinning the
    * PRODUCT literal removes even that coupling). */
  val PeriodogramFreqs = 8
  val TwoPi = 6.283185307179586

  /** χ²(k) 95th-percentile critical values for k = 1..[[CorrelogramLags]]
    * — the Ljung-Box reject ladder, single-sourced into BOTH the Column
    * fold and the oracle's VALUES table (in-engine quantile functions are
    * not bit-pinned across engines, and a second literal copy could
    * silently drift). The length is tied to [[CorrelogramLags]]: an
    * out-of-range `element_at` would return NULL and silently blank the
    * reject column. */
  val Chi2Crit95: Seq[Double] = Seq(3.841, 5.991, 7.815, 9.488, 11.070,
    12.592, 14.067, 15.507, 16.919, 18.307, 19.675, 21.026)
  require(Chi2Crit95.length == CorrelogramLags,
    s"Chi2Crit95 must cover exactly CorrelogramLags=$CorrelogramLags lags")

  /** `ts_sax` PAA segment count — each user's series collapses to this
    * many segment means before quantization (word length). `ts_dtw`
    * warps the same S-segment series, so the two keys index one shared
    * representation ([[paaSegments]]). */
  val SaxSegments = 8

  /** `ts_dtw` Sakoe-Chiba band half-width: DP cells with |i−j| > band
    * are unreachable (+∞), bounding the warp and the cell count. */
  val DtwBand = 2

  /** `ts_dtw` result size (nearest users to the probe pattern). */
  val DtwTopK = 10

  /** `ts_dtw` probe pattern in z-space, one value per PAA segment — a
    * rising ramp (the "steadily-intensifying user" shape). Every literal
    * has an exact short decimal form, so its SQL text parses to the
    * identical double on both engines. */
  val DtwProbe: Seq[Double] =
    Seq(-1.5, -1.0, -0.5, 0.0, 0.5, 1.0, 1.5, 2.0)
  require(DtwProbe.length == SaxSegments,
    s"DtwProbe must cover exactly SaxSegments=$SaxSegments segments")

  /** `ts_ewma`'s smoothing pair — BOTH literal, never β = 1−α: that
    * subtraction lands exactly on a round-to-even tie and yields a
    * different double than the 0.7 the DuckDB oracle parses. */
  val EwmaAlpha = 0.3
  val EwmaBeta  = 0.7

  /** `ts_holt` smoothing coefficients — dyadic rationals (exactly
    * representable, every product exact) and, like the EWMA pair, all four
    * spelled as literals in both engines rather than deriving 1−α/1−β. */
  val HoltAlpha  = 0.5
  val HoltAlpha1 = 0.5
  val HoltBeta   = 0.25
  val HoltBeta1  = 0.75

  /** `ts_holt_winters` coefficients + season length — same dyadic-literal
    * discipline as the Holt pair; period 24 = the hour-of-day cycle
    * `ts_seasonality` profiles statically. */
  val HwAlpha  = 0.5
  val HwAlpha1 = 0.5
  val HwBeta   = 0.25
  val HwBeta1  = 0.75
  val HwGamma  = 0.5
  val HwGamma1 = 0.5
  val HwPeriod = 24

  /** `ts_spc_rules`' eligible-user count per (session, dir) — see the
    * usage comment at the key (the ProvidenciasOps.nodeCountMemo twin). */
  private val spcUserCountMemo = new SessionMemo[String, java.lang.Long]

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // 5-minute tumbling count + sum(value) per event_type.
    "stream_tumbling" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(28,10)")).cast("double").as("sum_value"))
        .select(col("window.start").as("wstart"), col("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy("wstart", "event_type")),

    // Windowed top-k leaderboard: the top-2 event types per 15-minute
    // tumbling window by count (ties to the lexicographically first type)
    // — the "trending now" query every event pipeline serves. Two
    // exchanges, but only the first sees event-scale data: the rank
    // re-shuffles the AGGREGATED rows (windows × event types — bounded by
    // time × vocabulary, not by corpus size), so the plan's cost is one
    // partial+final count shuffle no matter how many events arrive.
    "stream_topk" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("wstart")
        .orderBy(col("n_events").desc, col("event_type"))
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("window.start").as("wstart"), col("event_type"), col("n_events"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 2)
        .orderBy("wstart", "rank")
    }),

    // 10-minute windows sliding every 5 minutes (each event lands in 2).
    "stream_sliding" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(28,10)")).cast("double").as("sum_value"))
        .select(col("window.start").as("wstart"), col("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy("wstart", "event_type")),

    // Session windows per user, 30-minute gap: a new session starts when
    // the inter-event gap is >= 30 min (session_window's half-open
    // [start, last+gap) interval).
    "stream_session" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(28,10)")).cast("double").as("sum_value"))
        .select(col("session_window.start").as("session_start"), col("user_id"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start")),

    // Batch twin of the watermarked stream-stream interval join (the
    // incremental form — withWatermark on both sides + the same
    // time-range condition, which is what bounds each side's state — is
    // exercised on a MemoryStream in StreamingSpec): every click by the
    // same user in the hour before each purchase. Equi key on user_id +
    // range predicate → one shuffle, SMJ with a post-join filter, no
    // time-bucket explosion.
    "stream_interval_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id"), col("ts").as("c_ts"))
      p.join(c, Seq("user_id"))
        .filter(col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"))
        .select(col("p_id"), col("c_id"), col("user_id"),
          (col("p_ts").cast("long") - col("c_ts").cast("long")).as("lag_s"))
        .orderBy("p_id", "c_id")
    }),

    // Time-series resample: per-user hourly buckets with gap-fill — the
    // missing hours are generated (sequence + explode, executor-side, no
    // driver loop) and the value forward-filled by a `last ignoring nulls`
    // running window. The spine is one row per (user, hour-in-range):
    // proportional to the covered time range, not the event count, and
    // built from a pre-aggregated min/max per user, so the generate step
    // adds no shuffle beyond the per-user aggregation it rides on.
    "ts_resample" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val hourly = ev
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum(col("value").cast("decimal(28,10)")).cast("double").as("v"))
      val spine = ev.groupBy("user_id")
        .agg(date_trunc("hour", min(col("ts"))).as("h0"),
          date_trunc("hour", max(col("ts"))).as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("h"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("h")
        .rowsBetween(Long.MinValue, 0)
      spine.join(hourly, Seq("user_id", "h"), "left")
        .select(col("user_id"), col("h"), col("v").isNull.as("gap"),
          last(col("v"), ignoreNulls = true).over(w).as("v_fill"))
        .orderBy("user_id", "h")
    }),

    // Linear-interpolation gap fill — `ts_resample`'s forward-fill
    // upgraded to the two-sided estimate BI/feature pipelines prefer for
    // interior gaps: v = prev + (next − prev)·Δt-fraction, anchored on
    // the nearest observed hours each side. Same spine + left join (one
    // shuffle, spine proportional to covered time, not events); the
    // bracketing observations ride last/first-ignoring-nulls STRUCTS
    // over one user-partitioned window sort, so hour and value come from
    // the same observed row by construction. Fractions divide exact
    // integral epoch seconds — bit-stable cross-engine.
    "ts_interpolate" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val hourly = ev
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum(col("value").cast("decimal(28,10)")).cast("double").as("v"))
      val spine = ev.groupBy("user_id")
        .agg(date_trunc("hour", min(col("ts"))).as("h0"),
          date_trunc("hour", max(col("ts"))).as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("h"))
      val wb = Window.partitionBy("user_id").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wa = Window.partitionBy("user_id").orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val obs = when(col("v").isNotNull,
        struct(col("h").as("oh"), col("v").as("ov")))
      val frac = (unix_timestamp(col("h")) -
        unix_timestamp(col("prev.oh"))).cast("double") /
        (unix_timestamp(col("next.oh")) - unix_timestamp(col("prev.oh")))
      spine.join(hourly, Seq("user_id", "h"), "left")
        .withColumn("prev", last(obs, ignoreNulls = true).over(wb))
        .withColumn("next", first(obs, ignoreNulls = true).over(wa))
        .select(col("user_id"), col("h"), col("v").isNull.as("gap"),
          // explicit half-up: library round() disagrees cross-engine on
          // the EXACT rational half-way points this interpolation grid
          // produces (2dp values at k/den fractions); floor(x*1e6 + 0.5)
          // is the identical IEEE chain on both engines
          (floor((when(col("v").isNotNull, col("v"))
            .otherwise(col("prev.ov") +
              (col("next.ov") - col("prev.ov")) * frac)) * lit(1e6) +
            lit(0.5)) / lit(1e6)).as("v_interp"))
        .orderBy("user_id", "h")
    }),

    // Time-series anomaly flagging: events whose value is a >2.5σ outlier
    // against the emitter's own distribution. Per-user stats are a
    // partial+final aggregation broadcast back onto the stream — one scan
    // plus a map-side join, no window sort; the per-key model table is
    // |users|-sized regardless of event volume.
    "ts_anomaly" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      // the per-user model table is USER-cardinality: persist + one stats
      // job decide broadcast vs shuffle join (32 B of moments per row)
      val stats = Bcast.vocabHinted(
        ev.groupBy("user_id")
          .agg(avg(col("value")).as("mu"),
            stddev_samp(col("value")).as("sd"),
            count(lit(1)).as("n"))
          .filter(col("n") >= 20 && col("sd") > 0),
        lit(32L))
      ev.join(stats, "user_id")
        .withColumn("z", (col("value") - col("mu")) / col("sd"))
        .filter(abs(col("z")) > 2.5)
        .select(col("event_id"), col("user_id"), col("value"),
          round(col("z"), 4).as("z"))
        .orderBy("event_id")
    }),

    // Trailing FIR smoother per user: a 4-tap truncated exponential
    // kernel (weights 8/4/2/1 over the last four observations) with the
    // weight mass renormalized at sequence heads where taps are missing —
    // the deterministic fixed-lookback cousin of an EWMA. A true EWMA's
    // (1−α)^k weights are unbounded-lookback and overflow any portable
    // power trick at long sequences, so the production form IS the
    // truncated kernel. Four lag() calls share ONE window sort; the plan
    // is a single shuffle on user_id at any event count.
    "ts_fir_smooth" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      def tap(k: Int, wt: Int) = {
        val l = lag(col("value"), k).over(w)
        (when(l.isNotNull, l * wt).otherwise(0.0),
          when(l.isNotNull, lit(wt.toDouble)).otherwise(0.0))
      }
      val taps = (col("value") * 8, lit(8.0)) +:
        Seq(tap(1, 4), tap(2, 2), tap(3, 1))
      Tables.events(s, dir)
        .withColumn("smooth", round(
          taps.map(_._1).reduce(_ + _) / taps.map(_._2).reduce(_ + _), 4))
        .select("event_id", "user_id", "value", "smooth")
        .orderBy("event_id")
    }),

    // Recursive EWMA (pandas `ewm(alpha=0.3, adjust=False)`): y₀ = x₀,
    // yₙ = α·xₙ + β·yₙ₋₁ — the infinite-impulse smoother whose fixed-tap
    // approximation is `ts_fir_smooth`. No window function expresses the
    // recursion, so each user's series folds once through a higher-order
    // `aggregate` over its sort_array'ed (ts, event_id, value) structs —
    // the same per-key-bounded collect the sessionize family already
    // assumes (a user's history fits an executor; at 100 TB an unbounded
    // key would instead run the fold as a chunked prefix-scan carrying the
    // β^chunkLen decay across chunk boundaries — same recurrence, two
    // passes). SkewStressSpec stresses the bound: one user at 100× the
    // median event count must complete and replay bit-exact. The fold order is total (event_id breaks ts ties), and
    // α/β are the LITERAL pair 0.3/0.7 in both engines — deriving β as
    // 1−α lands exactly on a round-to-even tie and produces a different
    // double than the 0.7 the oracle parses.
    "ts_ewma" -> ((s, dir) => {
      val acc0 = struct(lit(0.0).as("prev"), lit(false).as("has"),
        array().cast("array<double>").as("out"))
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(sort_array(collect_list(
          struct(col("ts"), col("event_id"), col("value")))).as("seq"))
        .withColumn("ew", aggregate(col("seq"), acc0,
          (acc, x) => {
            val y = when(acc("has"),
              lit(EwmaAlpha) * x("value") + lit(EwmaBeta) * acc("prev"))
              .otherwise(x("value"))
            struct(y.as("prev"), lit(true).as("has"),
              concat(acc("out"), array(y)).as("out"))
          },
          acc => acc("out")))
        .select(col("user_id"), explode(arrays_zip(col("seq"), col("ew"))).as("z"))
        .select(col("z.seq.event_id").as("event_id"), col("user_id"),
          col("z.seq.value").as("value"), Num.pin(col("z.ew"), 4).as("ewma"))
        .orderBy("event_id")
    }),

    // Two-sided standardized CUSUM control chart per user (Page 1954,
    // the K=0.5/H=4 textbook parameterization) — the sequential drift
    // detector that catches a sustained small mean shift long before a
    // per-point gate (`ts_anomaly`/`ts_mad_anomaly` score points;
    // `ts_changepoint` locates one shift offline; this is the ONLINE
    // accumulate-evidence form):
    //   Sp_t = max(0, Sp_{t−1} + z_t − K),  Sn_t = max(0, Sn_{t−1} − z_t − K)
    // over z_t = (x_t − μ)/σ with μ, σ from EXACT per-user DECIMAL
    // sufficient sums (order-independent), K/H dyadic literals shared
    // with the oracle. Same execution shape as the `ts_ewma` fold: one
    // groupBy-collect per user, folds parallel across users, the
    // recursive-CTE oracle replaying the identical double DAG step by
    // step (per-key state bound stressed in SkewStressSpec). Degenerate
    // series (n < 2 or zero variance) are excluded by
    // an explicit integer/compare filter — never a NaN-σ comparison,
    // whose NaN ordering semantics differ in spirit across engines.
    "ts_cusum_control" -> ((s, dir) => {
      val acc0 = struct(lit(0.0).as("sp"), lit(0.0).as("sn"),
        array().cast("array<struct<sp:double,sn:double>>").as("out"))
      val varE = (col("n") * col("svv").cast("double") -
        col("sv").cast("double") * col("sv").cast("double")) /
        (col("n") * (col("n") - lit(1.0)))
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(sort_array(collect_list(
          struct(col("ts"), col("event_id"), col("value")))).as("seq"),
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,10)")).as("sv"),
          sum((col("value") * col("value")).cast("decimal(28,10)")).as("svv"))
        .filter(col("n") >= 2 && varE > 0)
        .withColumn("mu", col("sv").cast("double") / col("n"))
        .withColumn("sigma", sqrt(varE))
        .withColumn("cu", aggregate(col("seq"), acc0,
          (acc, x) => {
            val z = (x("value") - col("mu")) / col("sigma")
            val sp = greatest(lit(0.0), acc("sp") + z - lit(0.5))
            val sn = greatest(lit(0.0), acc("sn") - z - lit(0.5))
            struct(sp.as("sp"), sn.as("sn"),
              concat(acc("out"),
                array(struct(sp.as("sp"), sn.as("sn")))).as("out"))
          },
          acc => acc("out")))
        .select(col("user_id"), explode(arrays_zip(col("seq"), col("cu"))).as("z"))
        .select(col("z.seq.event_id").as("event_id"), col("user_id"),
          col("z.seq.value").as("value"),
          Num.pin(col("z.cu.sp"), 4).as("cusum_hi"),
          Num.pin(col("z.cu.sn"), 4).as("cusum_lo"),
          (col("z.cu.sp") > 4.0 || col("z.cu.sn") > 4.0).as("drift"))
        .orderBy("event_id")
    }),

    // Holt's linear-trend (double exponential) smoothing per user:
    //   l₁ = y₁, b₁ = 0;  lₙ = α·yₙ + (1−α)·(lₙ₋₁ + bₙ₋₁),
    //   bₙ = β·(lₙ − lₙ₋₁) + (1−β)·bₙ₋₁;  forecast = lₙ + bₙ
    // — the level+trend upgrade of `ts_ewma`, the standard short-horizon
    // capacity forecaster. Same execution shape as the EWMA fold (one
    // groupBy-collect per user, the fold parallel across users, the 100 TB
    // unbounded-key note there applies verbatim). All four smoothing
    // coefficients are LITERALS shared with the oracle; they're also dyadic
    // (0.5/0.25/0.75) so every product is exact. The recursive CTE replay
    // cannot name `l` twice in one SELECT, so the oracle substitutes the
    // level expression into the trend line — textually different, the
    // IDENTICAL double DAG — and the fold here computes `nl` once and
    // reuses the expression the same way.
    "ts_holt" -> ((s, dir) => {
      val acc0 = struct(lit(0.0).as("l"), lit(0.0).as("b"),
        lit(false).as("has"),
        array().cast("array<struct<l:double,b:double>>").as("out"))
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(sort_array(collect_list(
          struct(col("ts"), col("event_id"), col("value")))).as("seq"))
        .withColumn("hw", aggregate(col("seq"), acc0,
          (acc, x) => {
            val nl = when(acc("has"),
              lit(HoltAlpha) * x("value") +
                lit(HoltAlpha1) * (acc("l") + acc("b")))
              .otherwise(x("value"))
            val nb = when(acc("has"),
              lit(HoltBeta) * (nl - acc("l")) + lit(HoltBeta1) * acc("b"))
              .otherwise(lit(0.0))
            struct(nl.as("l"), nb.as("b"), lit(true).as("has"),
              concat(acc("out"), array(struct(nl.as("l"), nb.as("b"))))
                .as("out"))
          },
          acc => acc("out")))
        .select(col("user_id"), explode(arrays_zip(col("seq"), col("hw"))).as("z"))
        .select(col("z.seq.event_id").as("event_id"), col("user_id"),
          col("z.seq.value").as("value"),
          Num.pin(col("z.hw.l"), 4).as("level"),
          Num.pin(col("z.hw.b"), 4).as("trend"),
          Num.pin(col("z.hw.l") + col("z.hw.b"), 4).as("forecast"))
        .orderBy("event_id")
    }),

    // 1-D Kalman filter (random-walk state, noisy observations) per
    // user — the optimal-gain upgrade of `ts_ewma`'s fixed-α smoother:
    // the gain k = p/(p+R) ADAPTS, starting high (trust early
    // observations) and settling to the steady-state Riccati fixpoint,
    // which is what production metric-denoising uses when series
    // restart often. Recurrence per step: pp = p + Q; k = pp/(pp+R);
    // x += k·(v − x); p = (1−k)·pp — x₁ = v₁, p₁ = 1, k₁ ≡ 1. Q/R are
    // dyadic LITERALS shared with the oracle; the single division per
    // step is replayed in the same order by the recursive CTE
    // (substituted where SQL cannot alias, the ts_holt discipline), so
    // estimates are bit-identical. Same execution shape as the ewma
    // fold: one groupBy-collect per user, key-bounded state
    // (SkewStressSpec-class), folds parallel across users.
    "ts_kalman" -> ((s, dir) => {
      val acc0 = struct(lit(0.0).as("x"), lit(0.0).as("p"),
        lit(false).as("has"),
        array().cast("array<struct<x:double,k:double>>").as("out"))
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(sort_array(collect_list(
          struct(col("ts"), col("event_id"), col("value")))).as("seq"))
        .withColumn("kf", aggregate(col("seq"), acc0,
          (acc, e) => {
            val pp = acc("p") + lit(KalmanQ)
            val k = pp / (pp + lit(KalmanR))
            val x = when(acc("has"),
              acc("x") + k * (e("value") - acc("x"))).otherwise(e("value"))
            val p = when(acc("has"), (lit(1.0) - k) * pp).otherwise(lit(1.0))
            val kOut = when(acc("has"), k).otherwise(lit(1.0))
            struct(x.as("x"), p.as("p"), lit(true).as("has"),
              concat(acc("out"), array(struct(x.as("x"), kOut.as("k"))))
                .as("out"))
          },
          acc => acc("out")))
        .select(col("user_id"), explode(arrays_zip(col("seq"), col("kf"))).as("z"))
        .select(col("z.seq.event_id").as("event_id"), col("user_id"),
          col("z.seq.value").as("value"),
          Num.pin(col("z.kf.x"), 4).as("estimate"),
          Num.pin(col("z.kf.k"), 4).as("gain"))
        .orderBy("event_id")
    }),

    // Western Electric run rules per user — the classic SPC decision
    // layer OVER a control chart (`ts_anomaly` flags single 3σ points;
    // `ts_cusum_control` accumulates evidence; the WE rules catch the
    // in-between patterns): R1 = |z| > 3, R2 = 2 of the last 3 beyond
    // 2σ on one side, R3 = 4 of the last 5 beyond 1σ on one side, R4 =
    // 8 consecutive on one side of center. z standardizes against the
    // per-user EXACT-DECIMAL mean/σ (the ts_cusum derivation; the
    // |users|-cardinality stats relation joins back size-conditionally
    // — never an unconditional broadcast), the rules are integer frame
    // counts over ONE user-partitioned window sort, and frames must be
    // FULL (count = width) so series heads can't half-fire a rule.
    // Degenerate series (n < 2 or zero variance) are excluded by the
    // same integer/compare filter as the CUSUM chart.
    "ts_spc_rules" -> ((s, dir) => {
      def b(c: Column) = sum(when(c, 1).otherwise(0))
      val varE = (col("n") * col("svv").cast("double") -
        col("sv").cast("double") * col("sv").cast("double")) /
        (col("n") * (col("n") - lit(1.0)))
      val stats = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,10)")).as("sv"),
          sum((col("value") * col("value")).cast("decimal(28,10)")).as("svv"))
        .filter(col("n") >= 2 && varE > 0)
        .select(col("user_id"),
          (col("sv").cast("double") / col("n")).as("mu"),
          sqrt(varE).as("sigma"))
      // memoized per (session, dir) like ProvidenciasOps.nodeCountMemo:
      // the eligible-user count is a pure function of the immutable
      // fixture, and un-memoized it re-ran a corpus-scale aggregation at
      // EVERY construction just to size the broadcast hint (r18 opt)
      val nUsers: Long = spcUserCountMemo.getOrElseUpdate(s, dir)(stats.count())
      def frame(k: Int) = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-(k - 1), 0)
      val z = Tables.events(s, dir)
        .join(Bcast.ifFitsRows(stats, nUsers, 32), "user_id")
        .withColumn("z", (col("value") - col("mu")) / col("sigma"))
      z.withColumn("r1", abs(col("z")) > 3.0)
        .withColumn("r2", count(lit(1)).over(frame(3)) === 3 &&
          (b(col("z") > 2.0).over(frame(3)) >= 2 ||
           b(col("z") < -2.0).over(frame(3)) >= 2))
        .withColumn("r3", count(lit(1)).over(frame(5)) === 5 &&
          (b(col("z") > 1.0).over(frame(5)) >= 4 ||
           b(col("z") < -1.0).over(frame(5)) >= 4))
        .withColumn("r4", count(lit(1)).over(frame(8)) === 8 &&
          (b(col("z") > 0.0).over(frame(8)) === 8 ||
           b(col("z") < 0.0).over(frame(8)) === 8))
        .filter(col("r1") || col("r2") || col("r3") || col("r4"))
        .select(col("event_id"), col("user_id"), col("value"),
          Num.pin(col("z"), 4).as("z"),
          col("r1"), col("r2"), col("r3"), col("r4"))
        .orderBy("event_id")
    }),

    // SAX — Symbolic Aggregate approXimation (Lin, Keogh, Lonardi &
    // Chiu 2003; r15 verdict item 4): each user's value series collapses
    // to SaxSegments PAA segment means, z-normalized against the user's
    // own μ/σ and quantized by the FIXED Gaussian breakpoint table for a
    // 4-letter alphabet into a short symbolic word — the classic
    // time-series indexing/motif primitive (two users with the same word
    // have the same coarse shape; motif_support counts the word's
    // frequency across the population). Determinism is the ts_spc_rules
    // class: breakpoints are shared double literals, PAA means are exact
    // DECIMAL sums divided once, μ/σ come from the same exact sufficient
    // sums via identical IEEE chains, segment assignment is pure integer
    // division, and word assembly is string concatenation — every step
    // replays bit-for-bit on both engines. Shapes: ONE window sort on
    // (user; ts, event_id) carries the row index AND the full-frame
    // sufficient sums (the exchange is reused), the PAA groupBy collapses
    // to a ≤ users×SaxSegments relation, and everything after (word
    // assembly, the motif-frequency window on the word key) runs on
    // user-bounded rows. Degenerate series (n < SaxSegments or zero
    // variance) are excluded by the same integer/compare gate both
    // engines. Per-key state is KEY-bounded, never corpus-bounded —
    // SkewStressSpec drives it at 100× key skew.
    "ts_sax" -> ((s, dir) =>
      paaSegments(s, dir)
        .withColumn("letter",
          when(col("z") < -0.6745, "a").when(col("z") < 0.0, "b")
            .when(col("z") < 0.6745, "c").otherwise("d"))
        .groupBy(col("user_id"), col("n"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("seg"), col("letter")))),
          x => x("letter")), "").as("sax_word"))
        .withColumn("motif_support",
          count(lit(1)).over(Window.partitionBy("sax_word")))
        .select(col("user_id"), col("n").as("n_events"),
          col("sax_word"), col("motif_support"))
        .orderBy("user_id")),

    // Sakoe-Chiba-banded Dynamic Time Warping (r16, r15 verdict item 3;
    // Sakoe & Chiba 1978): DTW distance from each user's z-normalized
    // PAA series to a broadcast probe pattern, k nearest users — the
    // ELASTIC matcher `ts_pattern_topk`'s rigid Euclidean trailing
    // window cannot express (a user whose ramp runs 20% slower still
    // matches; warping absorbs the time-axis stretch). Shares the exact
    // [[paaSegments]] relation with `ts_sax` (one definition — the
    // session/sax discipline), so the DP consumes the SAME segment
    // doubles the SAX oracle already pins bit-for-bit. The DP itself
    // never leaves the row: the S×S cell grid (band-pruned to
    // |i−j| ≤ [[DtwBand]], 36 cells at S=8) unrolls into chained column
    // expressions over the pivoted per-user segment columns — generated
    // from ONE cell-SQL builder whose text runs verbatim on both
    // engines (abs/+/least on identical doubles — bit-identical IEEE
    // chains), so the oracle replays the full recurrence with zero
    // drift. Scale: a pure codegen'd row map over the ≤|users|-row
    // pivot — no pairwise user×user sweep, no per-row state beyond the
    // 36 cells — then TakeOrderedAndProject for the top-k (pinned
    // distance, user_id tiebreak; never a global sort). Degenerate
    // series are excluded by paaSegments' shared n/variance gate.
    "ts_dtw" -> ((s, dir) => {
      val S = SaxSegments
      val piv = paaSegments(s, dir)
        .groupBy(col("user_id"))
        .agg(max(col("n")).as("n_events"),
          (0 until S).map(j =>
            max(when(col("seg") === j, col("z"))).as(s"a$j")): _*)
      val cells = dtwCells.foldLeft(piv) { case (df, (i, j)) =>
        df.withColumn(s"d_${i}_$j", expr(dtwCellSql(i, j)))
      }
      cells.select(col("user_id"), col("n_events"),
        Num.pin(col(s"d_${S - 1}_${S - 1}"), 6).as("dtw_dist"))
        .orderBy(col("dtw_dist"), col("user_id"))
        .limit(DtwTopK)
    }),

    // Schuster periodogram of the hourly click series at the first 8
    // Fourier frequencies — "WHICH period dominates?", the spectral
    // companion to ts_seasonality's fixed hour-of-day profile and
    // ts_decompose's assumed daily cycle (a weekly or half-daily rhythm
    // shows up here without being hypothesized first). Power at
    // frequency k: P_k = a² + b² with a = Σ d_n·cos θ, b = Σ d_n·sin θ,
    // θ = 2π·k·(n−1)/N, over mean-centered counts d_n. Determinism:
    // cos/sin run ONCE per (k, n) cell over the calendar-bounded series
    // (the one-transcendental-per-cell discipline) and pre-round at
    // 10dp; d_n derives from exact integer sums; each product term
    // pre-rounds at 6dp and folds as DECIMAL; θ uses the SAME 2π double
    // literal both engines. Scale: one partial-agg collapse to the
    // bounded hourly relation, then an 8× spine over it — never a
    // corpus-scale trig call.
    "ts_periodogram" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .filter(col("event_type") === "click")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("c"))
      val tot = Window.partitionBy()
      val base = hourly
        .withColumn("rn", row_number().over(Window.orderBy("h")))
        .withColumn("nn", count(lit(1)).over(tot))
        .withColumn("sc", sum(col("c")).over(tot))
        .withColumn("d",
          col("c").cast("double") - col("sc").cast("double") / col("nn"))
        .select(col("rn"), col("nn"), col("d"),
          explode(array((1 to PeriodogramFreqs).map(k => lit(k.toLong)): _*)).as("k"))
        .withColumn("theta",
          lit(TwoPi) * col("k") * (col("rn") - 1) / col("nn"))
      val ab = base
        .select(col("k"), col("nn"),
          Num.pin(col("d") * Num.pin(cos(col("theta")), 10), 6).as("tc"),
          Num.pin(col("d") * Num.pin(sin(col("theta")), 10), 6).as("ts"))
        .groupBy("k")
        .agg(max(col("nn")).as("nn"),
          sum(col("tc").cast("decimal(28,10)")).cast("double").as("a"),
          sum(col("ts").cast("decimal(28,10)")).cast("double").as("b"))
        .withColumn("power", col("a") * col("a") + col("b") * col("b"))
      ab
        .withColumn("ptot", sum(Num.pin(col("power"), 6)
          .cast("decimal(28,10)")).over(tot).cast("double"))
        .select(col("k"),
          Num.pin(col("nn").cast("double") / col("k"), 4).as("period_hours"),
          Num.pin(col("power"), 4).as("power"),
          Num.pin(Num.pin(col("power"), 6) / col("ptot"), 6).as("share"))
        .orderBy("k")
    }),

    // Rescaled-range (R/S) Hurst exponent of the hourly click series —
    // the long-range-dependence diagnostic (H ≈ 0.5 = memoryless, > 0.5
    // = persistent trends, < 0.5 = mean-reverting) read before trusting
    // any short-window forecaster on a traffic series. Hurst (1951) /
    // Mandelbrot R/S: split the series into chunks of m ∈ {8,16,32,64}
    // hours, per chunk compute the range R of cumulative deviations
    // from the chunk mean and the population σ S, average R/S per m,
    // then H = the OLS slope of ln(mean R/S) against ln(m). Exactness:
    // chunk sums/squares are exact integer window folds, R and S replay
    // the identical double chain both engines, R/S pre-rounds at 10dp
    // into the per-m DECIMAL fold, each ln runs ONCE per m-row (8 calls
    // total) pre-rounded at 10dp, and the 4-point slope folds pinned
    // products as DECIMAL. Scale: everything beyond the one partial-agg
    // collapse to the calendar-bounded hourly relation operates on that
    // bounded series (×4 spine replication), chunk windows partition on
    // (m, chunk).
    "ts_hurst" -> ((s, dir) => {
      val sizes = Seq(8, 16, 32, 64)
      val hourly = Tables.events(s, dir)
        .filter(col("event_type") === "click")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("c"))
      val base = hourly
        .withColumn("rn", row_number().over(Window.orderBy("h")))
        .select(col("rn"), col("c"),
          explode(array(sizes.map(m => lit(m)): _*)).as("m"))
        .withColumn("chunk", expr("(rn - 1) DIV m"))
      val part = Window.partitionBy("m", "chunk")
      val seq_ = part.orderBy("rn")
      val rows = base
        .withColumn("cnt", count(lit(1)).over(part))
        .filter(col("cnt") === col("m"))
        .withColumn("sc", sum(col("c")).over(part))
        .withColumn("scc", sum(col("c") * col("c")).over(part))
        .withColumn("i", row_number().over(seq_))
        .withColumn("pre", sum(col("c")).over(
          seq_.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("dev", col("pre").cast("double") -
          col("i") * (col("sc").cast("double") / col("m")))
      val perChunk = rows.groupBy("m", "chunk")
        .agg(max(col("dev")).as("dmax"), min(col("dev")).as("dmin"),
          max(col("sc")).as("sc"), max(col("scc")).as("scc"))
        .withColumn("mean", col("sc").cast("double") / col("m"))
        .withColumn("svar",
          col("scc").cast("double") / col("m") - col("mean") * col("mean"))
        .filter(col("svar") > 0)
        .withColumn("rs", (col("dmax") - col("dmin")) / sqrt(col("svar")))
      val perM = perChunk.groupBy("m")
        .agg(count(lit(1)).as("n_chunks"),
          sum(Num.pin(col("rs"), 10).cast("decimal(28,10)")).as("srs"))
        .withColumn("mean_rs", col("srs").cast("double") / col("n_chunks"))
        .withColumn("x", Num.pin(log(col("m").cast("double")), 10))
        .withColumn("y", Num.pin(log(col("mean_rs")), 10))
      val tot = Window.partitionBy()
      def dfold(c: Column) =
        sum(c.cast("decimal(28,10)")).over(tot).cast("double")
      perM
        .withColumn("k", count(lit(1)).over(tot).cast("double"))
        .withColumn("sx", dfold(col("x")))
        .withColumn("sy", dfold(col("y")))
        .withColumn("sxy", dfold(Num.pin(col("x") * col("y"), 10)))
        .withColumn("sxx", dfold(Num.pin(col("x") * col("x"), 10)))
        .select(col("m"), col("n_chunks"),
          Num.pin(col("mean_rs"), 6).as("mean_rs"),
          Num.pin((col("k") * col("sxy") - col("sx") * col("sy")) /
            (col("k") * col("sxx") - col("sx") * col("sx")), 4).as("hurst"))
        .orderBy("m")
    }),

    // Holt-Winters additive seasonal smoothing (triple exponential) over
    // the per-type hourly traffic series, period m = 24 — the seasonal
    // upgrade of `ts_holt` and the DYNAMIC counterpart of
    // `ts_seasonality`'s static hour-of-day profile: level, trend, and a
    // per-hour-of-cycle seasonal index that adapts as the traffic mix
    // drifts. Online form (the streaming-friendly init): before a full
    // season exists the seasonal lookback reads 0, so l₁ = y₁, b₁ = 0,
    // and the general recurrences
    //   lₜ = α·(yₜ − sₜ₋ₘ) + (1−α)(lₜ₋₁ + bₜ₋₁)
    //   bₜ = β·(lₜ − lₜ₋₁) + (1−β)bₜ₋₁
    //   sₜ = γ·(yₜ − lₜ) + (1−γ)sₜ₋ₘ
    // apply uniformly from t = 2. Execution shape: ONE partial-agg
    // shuffle collapses events to the |types|×|hours|-bounded hourly
    // aggregate (the ts_seasonality skeleton); the fold then runs per
    // type with a 24-slot seasonal ring carried in the accumulator —
    // state is (2 + m) doubles per series, parallel across types, and
    // NO per-event window sort ever happens. All six coefficients are
    // dyadic literals; the oracle's recursive CTE carries the same ring
    // as a LIST column and repeats the level expression textually
    // (recomputing an identical double DAG is bit-stable — the ts_holt
    // precedent). The series is the OBSERVED hourly grid; compose with
    // ts_resample's spine first when gap semantics matter.
    "ts_holt_winters" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).cast("double").as("y"))
      val acc0 = struct(lit(0.0).as("l"), lit(0.0).as("b"),
        array_repeat(lit(0.0), HwPeriod).as("s"), lit(false).as("has"),
        array().cast("array<struct<l:double,b:double,sn:double>>").as("out"))
      hourly.groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("hr"), col("y")))).as("seq"))
        .withColumn("hw", aggregate(col("seq"), acc0,
          (acc, x) => {
            val sprev = element_at(acc("s"), 1)
            val nl = when(acc("has"),
              lit(HwAlpha) * (x("y") - sprev) +
                lit(HwAlpha1) * (acc("l") + acc("b")))
              .otherwise(x("y"))
            val nb = when(acc("has"),
              lit(HwBeta) * (nl - acc("l")) + lit(HwBeta1) * acc("b"))
              .otherwise(lit(0.0))
            val ns = lit(HwGamma) * (x("y") - nl) + lit(HwGamma1) * sprev
            struct(nl.as("l"), nb.as("b"),
              concat(slice(acc("s"), 2, HwPeriod - 1), array(ns)).as("s"),
              lit(true).as("has"),
              concat(acc("out"),
                array(struct(nl.as("l"), nb.as("b"), ns.as("sn")))).as("out"))
          },
          acc => acc("out")))
        .select(col("event_type"), explode(arrays_zip(col("seq"), col("hw"))).as("z"))
        .select(col("event_type"), col("z.seq.hr").as("hr"),
          col("z.seq.y").as("y"),
          Num.pin(col("z.hw.l"), 4).as("level"),
          Num.pin(col("z.hw.b"), 4).as("trend"),
          Num.pin(col("z.hw.sn"), 4).as("seasonal"))
        .orderBy("event_type", "hr")
    }),

    // Robust (median/MAD) anomaly flags per user (r11): `ts_anomaly`'s
    // z-score breaks exactly when it matters — outliers inflate the
    // mean and stddev they are judged against — so production anomaly
    // gates use the median and the median absolute deviation, both
    // 50%-breakdown estimators. A point flags when |v − med| > 3·MAD
    // (the raw-MAD form; the Gaussian-consistency constant 1.4826 is a
    // presentation scale that would only move the literal 3). Both
    // medians are LOWER medians (element (n+1)÷2 of the sorted list) —
    // a selection, not an interpolation, so the statistic is an exact
    // input value and the compare is bit-deterministic cross-engine.
    // Shape (r17, r16 verdict item 1): the two-pass VALUE-DOMAIN
    // discipline — no collect_list anywhere, so the memory bound is
    // schema-shaped, not data-shaped. Pass 1 collapses events to
    // (user, value) counts (map-side-combined — the only corpus-scale
    // aggregation); the lower median is then the smallest value whose
    // per-user cumulative count reaches (n+1)÷2 (element k of a sorted
    // multiset == smallest value whose cumulative multiplicity ≥ k, so
    // the output is bit-identical to the sorted-list selection the
    // oracle replays). Pass 2 re-counts the |v − med| DEVIATION domain
    // (two values can collide on one deviation, hence the re-group) and
    // picks its half-mass point the same way. The per-user running sums
    // are WindowExec frames over the tiny distinct-value relation —
    // user_id is high-cardinality so the windows parallelize, and
    // window buffers spill (ExternalAppendOnlyUnsafeRowArray), unlike
    // an aggregation's collect_list buffer which must fit in memory: a
    // 100-TB hot user degrades to disk instead of OOMing an executor.
    // Flags come from one equi-join of events against the per-user
    // (med, mad) relation. SkewStressSpec still pins completion +
    // exactness with a 100×-median power user.
    "ts_mad_anomaly" -> ((s, dir) => {
      val half = (c: Column) => ((c + 1) / 2).cast("long")
      val wAll = Window.partitionBy("user_id")
      // ONE corpus exchange (r19 opt, guide §2.4): hash-partition the raw
      // (user_id, value) rows once — every downstream operator keys on
      // user_id or a superset of it (the (user, value) and (user, med, n,
      // d) groupBys, both cumulative windows, the med equi-join), and
      // hashpartitioning(user_id) satisfies ALL of their clustering
      // requirements, so Catalyst plans no further exchange anywhere in
      // the two passes. The r17 form instead let each aggregation pick
      // its own key: exchange on (user, value), re-exchange on user for
      // the window, two more for the deviation pass — 4 corpus-scale
      // exchanges for rows that never needed to leave their user's
      // partition after the first hop. Trade, documented: the single
      // exchange ships raw 16-byte (user, value) rows without the
      // (user, value) map-side combine — values are doubles, so
      // within-map-partition duplicates are rare and the combine saved
      // little; at 100 TB the three saved exchanges dominate. Skew is
      // the windows' pre-existing boundary (a hot user was always one
      // window partition; window buffers spill) — SkewStressSpec pins
      // completion + exactness with a 100×-median power user.
      val vc = Tables.events(s, dir)
        .select(col("user_id"), col("value"))
        .repartition(col("user_id"))
        .groupBy(col("user_id"), col("value"))
        .agg(count(lit(1)).as("c"))
      // pass 1: value-domain counts, cumulative pick of the lower median.
      // The per-user total n rides the SAME (user_id, value-ordered)
      // window as the cumulative sum via an unbounded-both-ends frame —
      // one Sort + one WindowExec instead of the r17 form's separate
      // whole-partition window and its own sort.
      val wOrd = wAll.orderBy("value")
      val med = vc
        .withColumn("n", sum(col("c")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("cum", sum(col("c")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("cum") >= half(col("n")))
        .groupBy("user_id")
        .agg(min(col("value")).as("med"), max(col("n")).as("n"))
      // pass 2: deviation-domain counts off the SAME (user, value)
      // relation — all n points contribute (the median's own zero
      // deviations included), so the half-mass index is unchanged
      val mad = vc
        .join(med, Seq("user_id"))
        .groupBy(col("user_id"), col("med"), col("n"),
          abs(col("value") - col("med")).as("d"))
        .agg(sum(col("c")).as("c"))
        .withColumn("cum", sum(col("c")).over(
          wAll.orderBy("d")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("cum") >= half(col("n")))
        .groupBy("user_id", "med")
        .agg(min(col("d")).as("mad"))
      Tables.events(s, dir)
        .join(mad, Seq("user_id"))
        .filter(abs(col("value") - col("med")) > lit(3.0) * col("mad"))
        .select(col("event_id"), col("user_id"), col("value"),
          Num.pin(col("med"), 4).as("med"),
          Num.pin(col("mad"), 4).as("mad"))
        .orderBy("event_id")
    }),

    // Lag-1 autocorrelation of the value series per user — the
    // mean-reversion/trend diagnostic run over every metric stream. One
    // window sort pairs each value with its predecessor; the Pearson corr
    // over the (v, lag v) pairs then follows the `agg_corr` exact-DECIMAL
    // sufficient-statistics discipline, so the result is order-independent
    // and bit-identical to the oracle. Plan: one shuffle on user_id (the
    // window), then the same hash aggregation — no second sort, state
    // bounded by users.
    "ts_autocorr" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      def dsum(c: Column) = sum(c.cast("decimal(28,10)")).cast("double")
      Tables.events(s, dir)
        .withColumn("lv", lag(col("value"), 1).over(w))
        .filter(col("lv").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).cast("double").as("n"),
          dsum(col("value")).as("sv"), dsum(col("lv")).as("sl"),
          dsum(col("value") * col("lv")).as("svl"),
          dsum(col("value") * col("value")).as("svv"),
          dsum(col("lv") * col("lv")).as("sll"))
        .filter(col("n") >= 10 &&
          col("n") * col("svv") - col("sv") * col("sv") > 0 &&
          col("n") * col("sll") - col("sl") * col("sl") > 0)
        .select(col("user_id"), col("n").cast("long").as("n_pairs"),
          Num.pin((col("n") * col("svl") - col("sv") * col("sl")) /
            sqrt((col("n") * col("svv") - col("sv") * col("sv")) *
              (col("n") * col("sll") - col("sl") * col("sl"))), 6)
            .as("autocorr"))
        .orderBy("user_id")
    }),

    // Cross-correlation between two event streams: hourly click counts vs
    // hourly view counts, Pearson over the aligned hour series — "do these
    // two metrics move together", the standard ops-dashboard diagnostic.
    // The alignment is ONE aggregation (conditional sums per hour bucket —
    // no self-join of the table against itself), the series is bounded by
    // the calendar, and the corr rides the exact-integer sufficient sums
    // (hour counts are integers, so DECIMAL casts are exact and the result
    // is bit-stable without rounding tricks).
    "ts_cross_corr" -> ((s, dir) => {
      def dsum(c: Column) = sum(c.cast("decimal(28,10)")).cast("double")
      Tables.events(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .cast("double").as("a"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .cast("double").as("b"))
        .agg(count(lit(1)).cast("double").as("n"),
          dsum(col("a")).as("sa"), dsum(col("b")).as("sb"),
          dsum(col("a") * col("b")).as("sab"),
          dsum(col("a") * col("a")).as("saa"),
          dsum(col("b") * col("b")).as("sbb"))
        .select(col("n").cast("long").as("n_hours"),
          Num.pin((col("n") * col("sab") - col("sa") * col("sb")) /
            sqrt((col("n") * col("saa") - col("sa") * col("sa")) *
              (col("n") * col("sbb") - col("sb") * col("sb"))), 6)
            .as("cross_corr"))
    }),

    // Seasonality profile: per event type, the hour-of-day activity
    // histogram with each hour's share of the type's traffic and mean
    // value — the diurnal fingerprint behind capacity planning and
    // anomaly baselines ("is 3am traffic normal for this type?"). ONE
    // partial-aggregated shuffle on (type, hour) — a ≤ |types|×24-row
    // aggregate no matter the event volume; the share denominator is a
    // window over that bounded aggregate, never the raw stream. Session
    // timezone is pinned UTC on both engines, so hour() agrees.
    "ts_seasonality" -> ((s, dir) => {
      val byHour = Tables.events(s, dir)
        .groupBy(col("event_type"), hour(col("ts")).as("hod"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,10)")).as("sv"))
      val tot = Window.partitionBy("event_type")
      byHour
        .select(col("event_type"), col("hod"), col("n"),
          round(col("sv").cast("double") / col("n"), 4).as("avg_value"),
          round(col("n").cast("double") / sum(col("n")).over(tot), 6)
            .as("share"))
        .orderBy("event_type", "hod")
    }),

    // Seasonal-strength summary per event type — the single number read
    // next to `ts_seasonality`'s 24-row profile: how much of the hourly
    // series' variance the hour-of-day cycle explains (the correlation
    // ratio η² = SSB/SST, i.e. strength = 1 − SSW/SST from the exact
    // ANOVA decomposition — residual variance IS within-group variance,
    // so no per-row residual is ever materialized). Two partial-agg
    // shuffles total: events → the calendar-bounded (type, hour) series,
    // series → the ≤|types|×24 cell relation; per-cell SSW terms are
    // IEEE chains over exact integer sums, pre-round at 6dp, and fold as
    // DECIMAL over the 24-row relation. The peak hour is a deterministic
    // (mean desc, hod) argmax over the same bounded cells.
    "ts_seasonal_strength" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("v"))
      val cells = hourly
        .groupBy(col("event_type"), hour(col("h")).as("hod"))
        .agg(count(lit(1)).as("nh"), sum(col("v")).as("s1"),
          sum(col("v") * col("v")).as("s2"))
      val wpk = Window.partitionBy("event_type")
        .orderBy(col("mean_hod").desc, col("hod"))
      val tot = Window.partitionBy("event_type")
      cells
        .withColumn("mean_hod", col("s1").cast("double") / col("nh"))
        .withColumn("ssw_term", Num.pin(
          col("s2") - col("s1").cast("double") * col("s1") / col("nh"), 6))
        .withColumn("nt", sum(col("nh")).over(tot))
        .withColumn("s1t", sum(col("s1")).over(tot))
        .withColumn("s2t", sum(col("s2")).over(tot))
        .withColumn("ssw",
          sum(col("ssw_term").cast("decimal(28,10)")).over(tot).cast("double"))
        .withColumn("sst",
          col("s2t") - col("s1t").cast("double") * col("s1t") / col("nt"))
        .withColumn("rn", row_number().over(wpk))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("nt").as("n_hours"),
          col("hod").as("peak_hour"),
          Num.pin(col("mean_hod"), 4).as("peak_mean"),
          when(col("sst") > 0, Num.pin(
            greatest(lit(0.0), lit(1.0) - col("ssw") / col("sst")), 6))
            .as("strength"))
        .orderBy("event_type")
    }),

    // Classical additive decomposition of the hourly click series —
    // trend (25-term centered moving average) + hour-of-day seasonal +
    // residual, the decomposition read under every traffic dashboard
    // (and `ts_seasonal_strength`'s row-level counterpart). Determinism
    // discipline: the trend is an exact 25-hour integer frame sum over
    // the calendar-bounded hourly relation divided once, the seasonal
    // means divide exact per-hod integer sums of (c, frame-sum) — no
    // double is ever summed across rows — and the hod-centering fold
    // (mean over the hods present) pre-rounds at 10dp into DECIMAL.
    // Edge hours without a full
    // centered frame are dropped (full-window contract).
    "ts_decompose" -> ((s, dir) => {
      val wf = Window.orderBy("h").rowsBetween(-12, 12)
      val w24 = Window.partitionBy()
      val hourly = Tables.events(s, dir)
        .filter(col("event_type") === "click")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("c"))
      val full = hourly
        .withColumn("nf", count(lit(1)).over(wf))
        .withColumn("sc25", sum(col("c")).over(wf))
        .filter(col("nf") === 25)
        .withColumn("hod", hour(col("h")))
        .persist()
      // per-hod seasonal mean of (c − trend), from exact integer sums
      val seas = full.groupBy("hod")
        .agg(count(lit(1)).as("nh"), sum(col("c")).as("s1"),
          sum(col("sc25")).as("s2"))
        .withColumn("seasonal_raw",
          col("s1").cast("double") / col("nh") -
            col("s2").cast("double") / (lit(25.0) * col("nh")))
        // centered over the hods actually PRESENT (count over the same
        // frame), not a hard-coded 24: on a short series whose full-window
        // hours cover fewer distinct hours-of-day, dividing by 24 would
        // leave the cycle un-centered and push the offset into residuals
        .withColumn("m", sum(Num.pin(col("seasonal_raw"), 10)
          .cast("decimal(28,10)")).over(w24).cast("double") /
          count(lit(1)).over(w24))
        .select(col("hod"), (col("seasonal_raw") - col("m")).as("seasonal"))
      full.join(broadcast(seas), "hod")
        .select(col("h"), col("c"),
          Num.pin(col("sc25").cast("double") / 25.0, 6).as("trend"),
          Num.pin(col("seasonal"), 6).as("seasonal"),
          Num.pin(col("c") - col("sc25").cast("double") / 25.0 -
            col("seasonal"), 6).as("residual"))
        .orderBy("h")
    }),

    // Residual-based anomaly flags off `ts_decompose` — the seasonality-
    // aware upgrade of a raw z-score/band gate: an hour is anomalous only
    // if it deviates after the trend and the daily cycle are explained
    // away, scored against the 50%-breakdown median/MAD of the residual
    // series (the ts_mad_anomaly robustness discipline). The residual
    // relation is calendar-bounded, so the two median SELECTIONS ride
    // sorted in-row arrays (exact input values, never interpolation) and
    // the stats broadcast back onto the rows.
    "ts_resid_anomaly" -> ((s, dir) => {
      val dec = queries("ts_decompose")(s, dir)
        .select(col("h"), col("c"), col("residual"))
      val stats = dec
        .agg(array_sort(collect_list(col("residual"))).as("vals"))
        .withColumn("n", size(col("vals")))
        .withColumn("med",
          element_at(col("vals"), ((col("n") + 1) / 2).cast("int")))
        .withColumn("mad", element_at(
          array_sort(transform(col("vals"), v => abs(v - col("med")))),
          ((col("n") + 1) / 2).cast("int")))
        .select("med", "mad")
      dec.crossJoin(broadcast(stats))
        .filter(abs(col("residual") - col("med")) > lit(3.0) * col("mad"))
        .select(col("h"), col("c"), col("residual"),
          Num.pin(col("med"), 6).as("med"), Num.pin(col("mad"), 6).as("mad"))
        .orderBy("h")
    }),

    // Bollinger bands over the hourly click series — the rolling
    // mean ± 2σ envelope with breakout flags, the volatility-aware
    // anomaly gate a fixed z-score (`ts_anomaly`) can't give on a
    // nonstationary series. One partial-agg shuffle collapses events to
    // the calendar-bounded hourly relation; the 24-hour frame sums ride
    // exact DECIMAL folds over that bounded relation (the
    // win_rolling_corr discipline — exactness makes Spark's sliding
    // accumulation and DuckDB's segment-tree combine agree), and the
    // band arithmetic is one IEEE chain off those exact sums, so even
    // the unpinned breakout comparison is bit-deterministic. Partial
    // head windows are dropped (full-frame contract).
    "ts_bollinger" -> ((s, dir) => {
      val w = Window.orderBy("h").rowsBetween(-23, Window.currentRow)
      val hourly = Tables.events(s, dir)
        .filter(col("event_type") === "click")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("c"))
      val mean = col("sc") / col("n")
      // clamp: a constant frame's variance can round to a tiny negative
      // in double; both engines clamp the identical value, so the bands
      // stay defined (sd = 0) instead of diverging through sqrt(<0)
      val sd = sqrt(greatest(lit(0.0),
        (col("n") * col("scc") - col("sc") * col("sc")) /
          (col("n") * (col("n") - lit(1.0)))))
      val upper = mean + lit(2.0) * sd
      val lower = mean - lit(2.0) * sd
      hourly
        .withColumn("n", count(lit(1)).over(w).cast("double"))
        .withColumn("sc", sum(col("c").cast("decimal(28,10)")).over(w)
          .cast("double"))
        .withColumn("scc", sum(col("c").cast("decimal(19,0)") *
          col("c").cast("decimal(19,0)")).over(w).cast("double"))
        .filter(col("n") === 24.0)
        .select(col("h"), col("c"),
          Num.pin(mean, 6).as("mean_24"),
          Num.pin(sd, 6).as("sd_24"),
          Num.pin(upper, 6).as("upper_band"),
          Num.pin(lower, 6).as("lower_band"),
          when(col("c") > upper, "up")
            .when(col("c") < lower, "down").as("breakout"))
        .orderBy("h")
    }),

    // CUSUM change-point detection: per user, the timestamp where the
    // cumulative deviation from the series mean |Σ_{i≤k}(vᵢ − v̄)| peaks —
    // the classic offline mean-shift locator (a level change puts the
    // CUSUM extremum exactly at the shift). Determinism discipline: the
    // deviation is computed as S_k − k·(S_n/n) where S_k/S_n are EXACT
    // DECIMAL prefix/total sums — subtracting the mean per-row and
    // cumsumming doubles would make the peak location depend on fp
    // summation order. The prefix sum, row index, total, and the argmax
    // rank all ride ONE window sort on (user_id; es, event_id) — same
    // exchange, Catalyst stacks the Window nodes. Output is
    // user-cardinality.
    "ts_changepoint" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("es"), col("event_id"))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy("user_id")
      val ev = Tables.events(s, dir)
        .withColumn("es", unix_timestamp(col("ts")))
        .withColumn("k", row_number().over(w).cast("long"))
        .withColumn("sk", sum(col("value").cast("decimal(28,10)")).over(cum)
          .cast("double"))
        .withColumn("sn", sum(col("value").cast("decimal(28,10)")).over(all)
          .cast("double"))
        .withColumn("n", count(lit(1)).over(all))
        .withColumn("dev", abs(col("sk") - col("k") * (col("sn") / col("n"))))
      val pick = Window.partitionBy("user_id")
        .orderBy(col("dev").desc, col("es"), col("event_id"))
      ev.withColumn("rn", row_number().over(pick))
        .filter(col("rn") === 1 && col("n") >= 20)
        .select(col("user_id"), col("es").as("change_es"),
          col("k").as("change_pos"), col("n").as("n_events"),
          round(col("dev"), 6).as("max_cusum"))
        .orderBy("user_id")
    }),

    // M4 downsampling (Jugel et al., VLDB'14) — the lossless-for-plotting
    // time-series reduction every monitoring backend applies before
    // charting: per (series, bucket) keep min, max, FIRST and LAST, the
    // four values a pixel column can render. ONE partial-agg shuffle into
    // a |types|×|buckets| relation; first/last ride min/max over a
    // (ts, event_id, value) struct (lexicographic, event_id breaks ts
    // ties) so no window sort over raw events is ever needed — the
    // canonical agg-not-window formulation that survives any event
    // volume. Bucket = Spark's tumbling `window()`, whose 1970-epoch
    // origin coincides with time_bucket's 2000-01-01 for 4h multiples.
    "ts_m4" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"), window(col("ts"), "4 hours"))
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 4).as("v_min"),
          round(max(col("value")), 4).as("v_max"),
          min(struct(col("ts"), col("event_id"), col("value"))).as("fst"),
          max(struct(col("ts"), col("event_id"), col("value"))).as("lst"))
        .select(col("event_type"), col("window.start").as("bucket"),
          col("n"), col("v_min"), col("v_max"),
          round(col("fst.value"), 4).as("v_first"),
          round(col("lst.value"), 4).as("v_last"))
        .orderBy("event_type", "bucket")),

    // First-order Markov transition matrix over per-user event sequences
    // — P(next = b | current = a), the clickstream model behind
    // next-action prediction, funnel leak detection, and session
    // simulators. ONE user-partitioned window sort pairs each event with
    // its successor (the same sort `ts_autocorr` rides); the transition
    // counts collapse into a |types|²-bounded matrix, and the row-
    // normalizing window runs over that bounded relation. Probabilities
    // divide exact integers.
    "ts_transition_matrix" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("cur"), col("next_type").as("nxt"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", round(col("n") /
          sum(col("n")).over(Window.partitionBy("cur")), 6))
        .select("cur", "nxt", "n", "p")
        .orderBy("cur", "nxt")
    }),

    // Period-over-period deltas — the day-over-day / week-over-week
    // percent-change columns every metrics dashboard leads with. ONE
    // partial-agg collapse to the |types|×|days| daily series, then
    // lag(1)/lag(7) off a single window sort over that calendar-bounded
    // relation (the fixture's days are contiguous; a gapped calendar
    // would compose the `ts_resample` spine first — row lag ≠ calendar
    // lag). Integer counts divide exactly; NULL warm-ups where no prior
    // period exists.
    "ts_pct_change" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("d")
      daily
        .withColumn("prev_d", lag(col("n"), 1).over(w))
        .withColumn("prev_w", lag(col("n"), 7).over(w))
        .select(col("event_type"), col("d"), col("n"),
          Num.pin((col("n") - col("prev_d")).cast("double") / col("prev_d"), 6)
            .as("dod"),
          Num.pin((col("n") - col("prev_w")).cast("double") / col("prev_w"), 6)
            .as("wow"))
        .orderBy("event_type", "d")
    }),

    // Correlogram — the ACF diagnostic table (autocorrelation at lags
    // 1..12) of the hourly click series: the "is there structure /
    // seasonality left?" readout time-series work starts from. The
    // corpus collapses to the calendar-bounded hourly series in ONE
    // partial-agg shuffle; all 12 lag columns ride a single window sort
    // over that bounded relation (the global Window.orderBy spans ~720
    // rows, not the corpus), stack() unpivots in place, and each lag's
    // Pearson uses the exact-integer DECIMAL sufficient sums
    // (`ts_autocorr`'s discipline — bit-stable without rounding tricks).
    "ts_correlogram" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .filter(col("event_type") === "click")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("y"))
      val w = Window.orderBy("h")
      val lagged = (1 to CorrelogramLags).foldLeft(hourly) { (df, k) =>
        df.withColumn(s"l$k", lag(col("y"), k).over(w))
      }
      val arms = (1 to CorrelogramLags).map(k => s"$k, l$k").mkString(", ")
      def dsum(c: Column) = sum(c.cast("decimal(28,10)")).cast("double")
      // count products fold as DECIMAL(19,0)×DECIMAL(19,0) → (38,0), never
      // LONG: y·ylag in BIGINT would overflow once hourly counts pass ~3e9
      // (the exact-integer-fold claim would silently break at corpus scale)
      def psum(a: Column, b: Column) =
        sum(a.cast("decimal(19,0)") * b.cast("decimal(19,0)")).cast("double")
      lagged
        .select(col("y"), expr(
          s"stack($CorrelogramLags, $arms) AS (lag, ylag)"))
        .filter(col("ylag").isNotNull)
        .groupBy("lag")
        .agg(count(lit(1)).cast("double").as("n"),
          dsum(col("y")).as("sv"), dsum(col("ylag")).as("sl"),
          psum(col("y"), col("ylag")).as("svl"),
          psum(col("y"), col("y")).as("svv"),
          psum(col("ylag"), col("ylag")).as("sll"))
        .select(col("lag"), col("n").cast("long").as("n_pairs"),
          Num.pin((col("n") * col("svl") - col("sv") * col("sl")) /
            sqrt((col("n") * col("svv") - col("sv") * col("sv")) *
              (col("n") * col("sll") - col("sl") * col("sl"))), 6)
            .as("acf"))
        .orderBy("lag")
    }),

    // Partial autocorrelation function at lags 1..12 (r11) — the AR-order
    // diagnostic read next to the ACF: PACF cuts off after lag p for an
    // AR(p) process where the raw ACF only decays, so the pair is how a
    // forecasting order gets chosen. Defined (deliberately) over
    // `ts_correlogram`'s PUBLISHED 6dp lag correlations via the
    // Durbin–Levinson recursion — one definition of the ACF, both keys
    // pinned to it, and the recursion is pure arithmetic on a 12-value
    // array: the corpus-scale work is exactly the correlogram's (one
    // partial-agg collapse + one window over the calendar-bounded
    // series); D-L then folds in-row over the 12-element ρ vector
    // carrying the φ coefficient vector in the accumulator (the
    // holt_winters ring pattern). Every inner sum is an ascending-j
    // left fold the oracle replays term-for-term; the k = 1 base keeps
    // the same (ρ₁ − 0)/(1 − 0) shape on both sides (exact IEEE
    // identities, so base and general steps share one formula).
    "ts_pacf" -> ((s, dir) => {
      val rho = queries("ts_correlogram")(s, dir)
        .agg(sort_array(collect_list(struct(col("lag"), col("acf")))).as("ra"))
        .select(transform(col("ra"), x => x("acf")).as("rho"))
      val acc0 = struct(
        array().cast("array<double>").as("phi"),
        array().cast("array<double>").as("out"))
      rho.withColumn("pacf_arr", aggregate(
          sequence(lit(1), lit(CorrelogramLags)), acc0,
          (acc, k) => {
            val phi = acc("phi")
            val num = element_at(col("rho"), k) -
              when(k > 1, aggregate(sequence(lit(1), k - 1), lit(0.0),
                (s2, j) => s2 + element_at(phi, j) *
                  element_at(col("rho"), k - j))).otherwise(lit(0.0))
            val den = lit(1.0) -
              when(k > 1, aggregate(sequence(lit(1), k - 1), lit(0.0),
                (s2, j) => s2 + element_at(phi, j) *
                  element_at(col("rho"), j))).otherwise(lit(0.0))
            val pkk = num / den
            val newPhi = when(k === 1, array(pkk))
              .otherwise(concat(
                transform(sequence(lit(1), k - 1),
                  j => element_at(phi, j) - pkk * element_at(phi, k - j)),
                array(pkk)))
            struct(newPhi.as("phi"),
              concat(acc("out"), array(pkk)).as("out"))
          },
          a => a("out")))
        .select(posexplode(arrays_zip(col("rho"), col("pacf_arr")))
          .as(Seq("i", "z")))
        .select((col("i") + 1).as("lag"),
          col("z.rho").as("acf"),
          Num.pin(col("z.pacf_arr"), 6).as("pacf"))
        .orderBy("lag")
    }),

    // Ljung-Box portmanteau test over `ts_correlogram`'s PUBLISHED lag
    // correlations — the white-noise screen read before fitting any AR
    // model (Q_h = n(n+2)·Σ_{k≤h} ρ̂²_k/(n−k), cumulative per lag, so
    // the table shows WHERE serial dependence enters). Corpus work is
    // exactly the correlogram's; the per-lag terms use the published
    // 6dp ACF and the exact integer pair counts (n−k = n_pairs), pre-
    // round at 12dp and fold as DECIMAL over the 12-row relation. The
    // χ²₉₅ critical ladder is a FIXED literal table shared with the
    // oracle (in-engine quantile functions are not bit-pinned), and the
    // reject flag compares the PINNED statistic.
    "ts_ljung_box" -> ((s, dir) => {
      val w = Window.orderBy("lag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val critExpr = element_at(array(Chi2Crit95.map(lit(_)): _*),
        col("lag").cast("int"))
      queries("ts_correlogram")(s, dir)
        .withColumn("n", (col("n_pairs") + col("lag")).cast("double"))
        .withColumn("t", Num.pin(
          col("acf") * col("acf") / col("n_pairs"), 12))
        .withColumn("q", Num.pin(col("n") * (col("n") + 2.0) *
          sum(col("t").cast("decimal(24,12)")).over(w).cast("double"), 4))
        .select(col("lag"), col("acf"), col("q").as("q_stat"),
          critExpr.as("crit_95"),
          (col("q") > critExpr).as("reject_white_noise"))
        .orderBy("lag")
    }),

    // Maximum drawdown per user — the peak-to-trough regression metric
    // (finance risk, SLO burn, model-metric degradation): the largest
    // drop from a running maximum, with WHERE it bottomed. Same scale
    // discipline as `ts_changepoint`: the series windows partition on
    // user_id (high-cardinality — parallelism scales with users, unlike
    // a per-type sort), the running max and the argmax rank share ONE
    // window sort, and the output is user-cardinality. cummax and the
    // subtraction are exact IEEE ops on raw doubles, so the (dd desc,
    // es, event_id) pick ranks identically cross-engine.
    "ts_drawdown" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("es"), col("event_id"))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ev = Tables.events(s, dir)
        .withColumn("es", unix_timestamp(col("ts")))
        .withColumn("peak", max(col("value")).over(cum))
        .withColumn("dd", col("peak") - col("value"))
      val pick = Window.partitionBy("user_id")
        .orderBy(col("dd").desc, col("es"), col("event_id"))
      ev.withColumn("rn", row_number().over(pick))
        .filter(col("rn") === 1)
        .select(col("user_id"), round(col("dd"), 4).as("max_drawdown"),
          round(col("peak"), 4).as("peak_value"), col("es").as("trough_es"))
        .orderBy("user_id")
    }),

    // Local-peak detection over the per-type hourly traffic series — the
    // "alert on a spike" monitoring primitive: an hour is a peak when its
    // count strictly exceeds BOTH neighbors (endpoints and plateaus are
    // not peaks — strict compares against NULL lag/lead fold to false).
    // The corpus collapses to the |types|×|hours| series in ONE
    // partial-agg shuffle; the lag/lead window and the peak filter run
    // over that bounded aggregate only. Integer counts — nothing to pin.
    "ts_peaks" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("h")
      hourly
        .withColumn("prev_n", lag(col("n"), 1).over(w))
        .withColumn("next_n", lead(col("n"), 1).over(w))
        .filter(col("n") > col("prev_n") && col("n") > col("next_n"))
        .select(col("event_type"), col("h"), col("n"),
          col("prev_n"), col("next_n"))
        .orderBy("event_type", "h")
    })
  )

  /** Shared PAA derivation (`ts_sax` / `ts_dtw` — ONE definition, the
    * withSessionIds discipline, so the symbolic word and the warp
    * distance can never disagree about what a user's coarse series IS):
    * per user, [[SaxSegments]] z-normalized segment means. One window
    * sort on (user; ts, event_id) carries the row index AND the
    * full-frame exact-DECIMAL sufficient sums (the exchange is reused);
    * the groupBy collapses to a ≤ users×S relation. `rn` widens to
    * BIGINT before the segment multiply (the ml_anova wrap class).
    * Degenerate series (n < S or zero variance) are excluded by the
    * integer/compare gate both engines replay. Output: (user_id, n,
    * seg, z). */
  private val paaSegmentsMemo = new SessionTableMemo.Single(
    "graft_paa_segments_",
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("seg",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("z",
        org.apache.spark.sql.types.DoubleType))))

  /** Session-shared (r18 opt): `ts_sax` and `ts_dtw` consume the
    * identical ≤ users×S segment relation, and each re-ran the full
    * window pass; the similarEdges write-once trade applies (doubles
    * round-trip parquet bit-exactly, so the shared z values cannot
    * fork between the two consumers). */
  private[graft] def paaSegments(s: SparkSession, dir: String): DataFrame =
    paaSegmentsMemo.get(s, dir)(derivePaaSegments(s, dir))

  private def derivePaaSegments(s: SparkSession, dir: String): DataFrame = {
    val S = SaxSegments
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val full = Window.partitionBy("user_id")
    val varE = (col("n") * col("svv").cast("double") -
      col("sv").cast("double") * col("sv").cast("double")) /
      (col("n") * (col("n") - lit(1.0)))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(full))
      .withColumn("sv", sum(col("value").cast("decimal(28,10)")).over(full))
      .withColumn("svv",
        sum((col("value") * col("value")).cast("decimal(28,10)")).over(full))
      .filter(col("n") >= S && varE > 0)
      .withColumn("mu", col("sv").cast("double") / col("n"))
      .withColumn("sigma", sqrt(varE))
      .withColumn("seg", expr(s"((CAST(rn AS BIGINT) - 1) * $S) div n"))
      .groupBy(col("user_id"), col("n"), col("mu"), col("sigma"), col("seg"))
      .agg(sum(col("value").cast("decimal(28,10)")).as("sj"),
        count(lit(1)).as("cj"))
      .select(col("user_id"), col("n"), col("seg"),
        ((col("sj").cast("double") / col("cj") - col("mu")) / col("sigma"))
          .as("z"))
  }

  /** The banded-DTW cell grid in dependency order (row-major): every
    * cell's predecessors precede it, so the chained column/CTE builds
    * can reference them by name. */
  private[graft] def dtwCells: Seq[(Int, Int)] =
    for {
      i <- 0 until SaxSegments
      j <- 0 until SaxSegments
      if math.abs(i - j) <= DtwBand
    } yield (i, j)

  /** One DP cell of the banded-DTW recurrence as SQL text — run
    * VERBATIM by both engines (`expr` on the Spark side, chained CTEs in
    * the oracle), so the recurrence's IEEE chain cannot fork:
    * d(i,j) = |a_i − probe_j| + least(in-band predecessors); an
    * out-of-band predecessor is simply absent (+∞ in the classic
    * formulation). */
  private[graft] def dtwCellSql(i: Int, j: Int): String = {
    val cost = s"abs(a$i - (${DtwProbe(j)}))"
    val prev = Seq((i - 1, j), (i, j - 1), (i - 1, j - 1))
      .filter { case (pi, pj) =>
        pi >= 0 && pj >= 0 && math.abs(pi - pj) <= DtwBand }
      .map { case (pi, pj) => s"d_${pi}_$pj" }
    if (prev.isEmpty) cost
    else if (prev.size == 1) s"$cost + ${prev.head}"
    else s"$cost + least(${prev.mkString(", ")})"
  }

  /** Shared PAA oracle CTE chain — the SQL twin of [[paaSegments]],
    * nested verbatim by BOTH the `ts_sax` and `ts_dtw` oracles (one
    * definition, two consumers — the CorrelogramSql discipline). Ends at
    * `p` with columns (user_id, n, mu, sigma, seg, paa). */
  private val PaaCtes: String = s"""e AS (
           SELECT user_id, value,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn,
                  CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
                  sum(CAST(value AS DECIMAL(28,10)))
                    OVER (PARTITION BY user_id) AS sv,
                  sum(CAST(value * value AS DECIMAL(28,10)))
                    OVER (PARTITION BY user_id) AS svv
           FROM events
         ), f AS (
           SELECT user_id, value, rn, n,
                  CAST(sv AS DOUBLE) / n AS mu,
                  sqrt((n * CAST(svv AS DOUBLE)
                        - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
                       / (n * (n - 1.0))) AS sigma
           FROM e
           WHERE n >= $SaxSegments
             AND (n * CAST(svv AS DOUBLE)
                  - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
                 / (n * (n - 1.0)) > 0
         ), p AS (
           SELECT user_id, n, mu, sigma,
                  ((rn - 1) * $SaxSegments) // n AS seg,
                  CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
                    / count(*) AS paa
           FROM f GROUP BY 1, 2, 3, 4, 5
         )"""

  /** `ts_dtw`'s oracle: the shared PAA chain, a per-user pivot to
    * segment columns, then the band-pruned DP unrolled as chained CTEs —
    * each cell the VERBATIM [[dtwCellSql]] text the Spark plan runs. */
  private val DtwOracleSql: String = {
    val arms = (0 until SaxSegments).map(j =>
      s"max(CASE WHEN seg = $j THEN z END) AS a$j")
      .mkString(",\n                  ")
    val chain = dtwCells.zipWithIndex.map { case ((i, j), k) =>
      val from = if (k == 0) "piv" else s"c${k - 1}"
      s"c$k AS (SELECT *, ${dtwCellSql(i, j)} AS d_${i}_$j FROM $from)"
    }.mkString(",\n         ")
    val S = SaxSegments
    s"""
         WITH $PaaCtes, z AS (
           SELECT user_id, n, seg, (paa - mu) / sigma AS z FROM p
         ), piv AS (
           SELECT user_id, max(n) AS n_events,
                  $arms
           FROM z GROUP BY user_id
         ),
         $chain
         SELECT user_id, n_events,
                floor(d_${S - 1}_${S - 1} * 1e6 + 0.5) / 1e6 AS dtw_dist
         FROM c${dtwCells.size - 1}
         ORDER BY dtw_dist, user_id LIMIT $DtwTopK"""
  }

  /** `ts_correlogram`'s oracle, factored out so `ts_pacf` nests it
    * verbatim (the ann_hybrid_rerank pattern — ONE ACF definition, both
    * keys pinned to the same published correlations). */
  private val CorrelogramSql: String = {
    val arms = (1 to CorrelogramLags).map(k =>
      s"""SELECT $k AS lag, y, lag(y, $k) OVER (ORDER BY h) AS ylag
          FROM hourly""").mkString(" UNION ALL ")
    s"""WITH hourly AS (
           SELECT date_trunc('hour', ts) AS h, count(*) AS y
           FROM events WHERE event_type = 'click' GROUP BY 1
         ), p AS ($arms)
         SELECT lag, CAST(cnt AS BIGINT) AS n_pairs,
                floor((n * svl - sv * sl) /
                      sqrt((n * svv - sv * sv) * (n * sll - sl * sl))
                      * 1e6 + 0.5) / 1e6
                  AS acf
         FROM (
           SELECT lag, count(*) AS cnt,
                  CAST(count(*) AS DOUBLE) AS n,
                  CAST(sum(CAST(y AS DECIMAL(28,10))) AS DOUBLE) AS sv,
                  CAST(sum(CAST(ylag AS DECIMAL(28,10))) AS DOUBLE) AS sl,
                  CAST(sum(CAST(y AS DECIMAL(19,0))
                           * CAST(ylag AS DECIMAL(19,0))) AS DOUBLE) AS svl,
                  CAST(sum(CAST(y AS DECIMAL(19,0))
                           * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS svv,
                  CAST(sum(CAST(ylag AS DECIMAL(19,0))
                           * CAST(ylag AS DECIMAL(19,0))) AS DOUBLE) AS sll
           FROM p WHERE ylag IS NOT NULL GROUP BY lag
         ) ORDER BY lag"""
  }

  /** Shared decomposition CTE chain — one definition nested by both the
    * `ts_decompose` oracle and `ts_resid_anomaly`'s, so the residual the
    * anomaly gate scores is pinned to the published decomposition. */
  private val DecomposeCtes: String =
    """hourly AS (
           SELECT date_trunc('hour', ts) AS h, count(*) AS c
           FROM events WHERE event_type = 'click' GROUP BY 1
         ), f AS (
           SELECT h, c,
                  count(*) OVER w AS nf,
                  CAST(sum(c) OVER w AS BIGINT) AS sc25
           FROM hourly
           WINDOW w AS (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
         ), ff AS (
           SELECT h, c, sc25, CAST(hour(h) AS INT) AS hod FROM f WHERE nf = 25
         ), seas0 AS (
           SELECT hod, count(*) AS nh, CAST(sum(c) AS BIGINT) AS s1,
                  CAST(sum(sc25) AS BIGINT) AS s2
           FROM ff GROUP BY hod
         ), seas1 AS (
           SELECT hod, CAST(s1 AS DOUBLE) / nh -
                       CAST(s2 AS DOUBLE) / (25.0 * nh) AS seasonal_raw
           FROM seas0
         ), seas AS (
           SELECT hod, seasonal_raw -
                  CAST(sum(CAST(floor(seasonal_raw * 1e10 + 0.5) / 1e10
                                AS DECIMAL(28,10))) OVER () AS DOUBLE)
                    / count(*) OVER () AS seasonal
           FROM seas1
         )"""

  def oracles: Map[String, String] = Map(
    "ts_seasonality" ->
      """SELECT event_type, hod, n,
                round(CAST(sv AS DOUBLE) / n, 4) AS avg_value,
                round(CAST(n AS DOUBLE) /
                      sum(n) OVER (PARTITION BY event_type), 6) AS share
         FROM (
           SELECT event_type, CAST(hour(ts) AS INT) AS hod, count(*) AS n,
                  sum(CAST(value AS DECIMAL(28,10))) AS sv
           FROM events GROUP BY event_type, hour(ts)
         ) ORDER BY event_type, hod""",
    // the ANOVA decomposition replays over the same bounded cells; the
    // argmax ORDER BY repeats the mean expression verbatim
    "ts_seasonal_strength" ->
      """WITH hourly AS (
           SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS v
           FROM events GROUP BY 1, 2
         ), cells AS (
           SELECT event_type, CAST(hour(h) AS INT) AS hod, count(*) AS nh,
                  CAST(sum(v) AS BIGINT) AS s1, CAST(sum(v * v) AS BIGINT) AS s2
           FROM hourly GROUP BY 1, 2
         ), t AS (
           SELECT event_type, hod, nh, s1, s2,
                  CAST(s1 AS DOUBLE) / nh AS mean_hod,
                  floor((s2 - CAST(s1 AS DOUBLE) * s1 / nh) * 1e6 + 0.5) / 1e6
                    AS ssw_term,
                  CAST(sum(nh) OVER (PARTITION BY event_type) AS BIGINT) AS nt,
                  CAST(sum(s1) OVER (PARTITION BY event_type) AS BIGINT) AS s1t,
                  CAST(sum(s2) OVER (PARTITION BY event_type) AS BIGINT) AS s2t
           FROM cells
         ), u AS (
           SELECT t.*,
                  CAST(sum(CAST(ssw_term AS DECIMAL(28,10)))
                       OVER (PARTITION BY event_type) AS DOUBLE) AS ssw,
                  s2t - CAST(s1t AS DOUBLE) * s1t / nt AS sst,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY CAST(s1 AS DOUBLE) / nh DESC, hod) AS rn
           FROM t
         )
         SELECT event_type, nt AS n_hours, hod AS peak_hour,
                floor(mean_hod * 1e4 + 0.5) / 1e4 AS peak_mean,
                CASE WHEN sst > 0 THEN
                  floor(greatest(0.0, 1.0 - ssw / sst) * 1e6 + 0.5) / 1e6
                END AS strength
         FROM u WHERE rn = 1 ORDER BY event_type""",
    // trend/seasonal replay off the identical exact integer frame and
    // group sums; the 24-value centering fold pre-rounds at 10dp
    "ts_decompose" ->
      s"""WITH $DecomposeCtes
         SELECT h, c,
                floor(CAST(sc25 AS DOUBLE) / 25.0 * 1e6 + 0.5) / 1e6 AS trend,
                floor(seasonal * 1e6 + 0.5) / 1e6 AS seasonal,
                floor((c - CAST(sc25 AS DOUBLE) / 25.0 - seasonal)
                      * 1e6 + 0.5) / 1e6 AS residual
         FROM ff JOIN seas USING (hod) ORDER BY h""",
    // nests the decompose CTEs verbatim (one definition, two keys); the
    // median/MAD are the same list-sort index selections as ts_mad_anomaly
    "ts_resid_anomaly" ->
      s"""WITH $DecomposeCtes,
         dec AS (
           SELECT h, c,
                  floor((c - CAST(sc25 AS DOUBLE) / 25.0 - seasonal)
                        * 1e6 + 0.5) / 1e6 AS residual
           FROM ff JOIN seas USING (hod)
         ), bu AS (
           SELECT list_sort(list(residual)) AS vals, count(*) AS n FROM dec
         ), med AS (
           SELECT vals, n, vals[CAST((n + 1) // 2 AS BIGINT)] AS med FROM bu
         ), mad AS (
           SELECT med, list_sort(list_transform(vals, v -> abs(v - med)))
                         [CAST((n + 1) // 2 AS BIGINT)] AS mad
           FROM med
         )
         SELECT d.h, d.c, d.residual,
                floor(m.med * 1e6 + 0.5) / 1e6 AS med,
                floor(m.mad * 1e6 + 0.5) / 1e6 AS mad
         FROM dec d CROSS JOIN mad m
         WHERE abs(d.residual - m.med) > 3.0 * m.mad
         ORDER BY d.h""",
    // same DECIMAL frame sums and full-window filter as win_rolling_corr;
    // the band chain repeats the identical IEEE association
    "ts_bollinger" ->
      """WITH hourly AS (
           SELECT date_trunc('hour', ts) AS h, count(*) AS c
           FROM events WHERE event_type = 'click' GROUP BY 1
         ), f AS (
           SELECT h, c,
                  CAST(count(*) OVER w AS DOUBLE) AS n,
                  CAST(sum(CAST(c AS DECIMAL(28,10))) OVER w AS DOUBLE) AS sc,
                  CAST(sum(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))
                       OVER w AS DOUBLE) AS scc
           FROM hourly
           WINDOW w AS (ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
         ), g AS (
           SELECT h, c, sc / n AS mean,
                  sqrt(greatest(0.0, (n * scc - sc * sc) /
                                     (n * (n - 1.0)))) AS sd
           FROM f WHERE n = 24.0
         )
         SELECT h, c,
                floor(mean * 1e6 + 0.5) / 1e6 AS mean_24,
                floor(sd * 1e6 + 0.5) / 1e6 AS sd_24,
                floor((mean + 2.0 * sd) * 1e6 + 0.5) / 1e6 AS upper_band,
                floor((mean - 2.0 * sd) * 1e6 + 0.5) / 1e6 AS lower_band,
                CASE WHEN c > mean + 2.0 * sd THEN 'up'
                     WHEN c < mean - 2.0 * sd THEN 'down' END AS breakout
         FROM g ORDER BY h""",
    "ts_changepoint" ->
      """SELECT user_id, change_es, change_pos, n_events,
                round(dev, 6) AS max_cusum
         FROM (
           SELECT user_id, es AS change_es, k AS change_pos,
                  n AS n_events, dev,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY dev DESC, es, event_id) AS rn
           FROM (
             SELECT user_id, es, event_id, k, n,
                    abs(sk - k * (sn / n)) AS dev
             FROM (
               SELECT user_id, es, event_id,
                      CAST(row_number() OVER w AS BIGINT) AS k,
                      CAST(sum(CAST(value AS DECIMAL(28,10))) OVER
                        (PARTITION BY user_id ORDER BY es, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS DOUBLE) AS sk,
                      CAST(sum(CAST(value AS DECIMAL(28,10))) OVER
                        (PARTITION BY user_id) AS DOUBLE) AS sn,
                      count(*) OVER (PARTITION BY user_id) AS n
               FROM (SELECT user_id, event_id, value,
                            CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events)
               WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
             )
           )
         ) WHERE rn = 1 AND n_events >= 20 ORDER BY user_id""",
    // time_bucket's default origin (2000-01-01) is a whole multiple of
    // 5/10 minutes from Spark's epoch origin, so bucket edges coincide.
    "stream_tumbling" ->
      """SELECT time_bucket(INTERVAL 5 MINUTES, CAST(ts AS TIMESTAMP)) AS wstart,
                event_type, count(*) AS n_events,
                CAST(CAST(sum(CAST(value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sum_value
         FROM events GROUP BY wstart, event_type
         ORDER BY wstart, event_type""",
    "stream_topk" ->
      """SELECT wstart, event_type, n_events, rank FROM (
           SELECT wstart, event_type, n_events,
                  CAST(row_number() OVER (
                    PARTITION BY wstart
                    ORDER BY n_events DESC, event_type) AS INT) AS rank
           FROM (
             SELECT time_bucket(INTERVAL 15 MINUTES, CAST(ts AS TIMESTAMP)) AS wstart,
                    event_type, count(*) AS n_events
             FROM events GROUP BY wstart, event_type
           )
         ) WHERE rank <= 2 ORDER BY wstart, rank""",
    "stream_sliding" ->
      """SELECT wstart, event_type, count(*) AS n_events,
                CAST(CAST(sum(CAST(value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sum_value
         FROM (
           SELECT time_bucket(INTERVAL 5 MINUTES, CAST(ts AS TIMESTAMP)) AS wstart,
                  event_type, value
           FROM events
           UNION ALL
           SELECT time_bucket(INTERVAL 5 MINUTES, CAST(ts AS TIMESTAMP)) - INTERVAL 5 MINUTES AS wstart,
                  event_type, value
           FROM events
         ) GROUP BY wstart, event_type
         ORDER BY wstart, event_type""",
    "stream_session" ->
      """WITH ordered AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
                  lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
           FROM events
         ), marked AS (
           SELECT user_id, ts, value,
                  CASE WHEN pts IS NULL OR ts - pts >= INTERVAL 30 MINUTES THEN 1 ELSE 0 END AS brk
           FROM ordered
         ), grouped AS (
           SELECT user_id, ts, value,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
           FROM marked
         )
         SELECT min(ts) AS session_start, user_id, count(*) AS n_events,
                CAST(CAST(sum(CAST(value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sum_value
         FROM grouped GROUP BY user_id, grp
         ORDER BY user_id, session_start""",
    "stream_interval_join" ->
      """SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id,
                CAST(floor(epoch(p.ts)) - floor(epoch(c.ts)) AS BIGINT) AS lag_s
         FROM events p JOIN events c ON p.user_id = c.user_id
         WHERE p.event_type = 'purchase' AND c.event_type = 'click'
           AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
         ORDER BY p_id, c_id""",
    "ts_resample" ->
      """WITH hourly AS (
           SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
                  CAST(CAST(sum(CAST(value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS v
           FROM events GROUP BY user_id, h
         ), spine AS (
           SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
           FROM (SELECT user_id,
                        date_trunc('hour', min(CAST(ts AS TIMESTAMP))) AS h0,
                        date_trunc('hour', max(CAST(ts AS TIMESTAMP))) AS h1
                 FROM events GROUP BY user_id)
         )
         SELECT s.user_id, s.h, (v IS NULL) AS gap,
                last_value(v IGNORE NULLS) OVER (
                  PARTITION BY s.user_id ORDER BY s.h
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill
         FROM spine s LEFT JOIN hourly USING (user_id, h)
         ORDER BY user_id, h""",
    // same spine; the bracketing h/v pairs come from matched IGNORE NULLS
    // windows over the identical frame; CASE short-circuits the observed
    // branch so boundary rows never evaluate the 0/0 fraction
    "ts_interpolate" ->
      """WITH hourly AS (
           SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
                  CAST(CAST(sum(CAST(value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS v
           FROM events GROUP BY user_id, h
         ), spine AS (
           SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
           FROM (SELECT user_id,
                        date_trunc('hour', min(CAST(ts AS TIMESTAMP))) AS h0,
                        date_trunc('hour', max(CAST(ts AS TIMESTAMP))) AS h1
                 FROM events GROUP BY user_id)
         ), j AS (
           SELECT s.user_id, s.h, v,
                  last_value(CASE WHEN v IS NOT NULL THEN s.h END IGNORE NULLS)
                    OVER wb AS ph,
                  last_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
                    OVER wb AS pv,
                  first_value(CASE WHEN v IS NOT NULL THEN s.h END IGNORE NULLS)
                    OVER wa AS nh,
                  first_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
                    OVER wa AS nv
           FROM spine s LEFT JOIN hourly USING (user_id, h)
           WINDOW wb AS (PARTITION BY s.user_id ORDER BY s.h
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  wa AS (PARTITION BY s.user_id ORDER BY s.h
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         )
         SELECT user_id, h, (v IS NULL) AS gap,
                floor((CASE WHEN v IS NOT NULL THEN v
                       ELSE pv + (nv - pv) *
                            (CAST(epoch(h) - epoch(ph) AS DOUBLE) /
                             (epoch(nh) - epoch(ph))) END) * 1e6 + 0.5)
                  / 1e6 AS v_interp
         FROM j ORDER BY user_id, h""",
    "ts_anomaly" ->
      """WITH stats AS (
           SELECT user_id, avg(value) AS mu, stddev_samp(value) AS sd, count(*) AS n
           FROM events GROUP BY user_id
         )
         SELECT event_id, e.user_id, value, round((value - mu) / sd, 4) AS z
         FROM events e JOIN stats USING (user_id)
         WHERE n >= 20 AND sd > 0 AND abs((value - mu) / sd) > 2.5
         ORDER BY event_id""",
    // the CASE arms mirror the Spark when(isNotNull) taps exactly, so the
    // head-of-sequence renormalization is bit-identical on both engines
    "ts_fir_smooth" ->
      """SELECT event_id, user_id, value,
                round((value * 8 +
                       CASE WHEN l1 IS NOT NULL THEN l1 * 4 ELSE 0.0 END +
                       CASE WHEN l2 IS NOT NULL THEN l2 * 2 ELSE 0.0 END +
                       CASE WHEN l3 IS NOT NULL THEN l3 * 1 ELSE 0.0 END) /
                      (8.0 +
                       CASE WHEN l1 IS NOT NULL THEN 4.0 ELSE 0.0 END +
                       CASE WHEN l2 IS NOT NULL THEN 2.0 ELSE 0.0 END +
                       CASE WHEN l3 IS NOT NULL THEN 1.0 ELSE 0.0 END), 4)
                  AS smooth
         FROM (
           SELECT event_id, user_id, value,
                  lag(value, 1) OVER w AS l1,
                  lag(value, 2) OVER w AS l2,
                  lag(value, 3) OVER w AS l3
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ) ORDER BY event_id""",
    "ts_autocorr" ->
      """SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
                floor((n * svl - sv * sl) /
                      sqrt((n * svv - sv * sv) * (n * sll - sl * sl))
                      * 1e6 + 0.5) / 1e6
                  AS autocorr
         FROM (
           SELECT user_id,
                  CAST(count(*) AS DOUBLE) AS n,
                  CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sv,
                  CAST(sum(CAST(lv AS DECIMAL(28,10))) AS DOUBLE) AS sl,
                  CAST(sum(CAST(value * lv AS DECIMAL(28,10))) AS DOUBLE) AS svl,
                  CAST(sum(CAST(value * value AS DECIMAL(28,10))) AS DOUBLE) AS svv,
                  CAST(sum(CAST(lv * lv AS DECIMAL(28,10))) AS DOUBLE) AS sll
           FROM (
             SELECT user_id, value,
                    lag(value, 1) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS lv
             FROM events
           ) WHERE lv IS NOT NULL GROUP BY user_id
         )
         WHERE n >= 10 AND n * svv - sv * sv > 0 AND n * sll - sl * sl > 0
         ORDER BY user_id""",
    "ts_cross_corr" ->
      """SELECT CAST(n AS BIGINT) AS n_hours,
                floor((n * sab - sa * sb) /
                      sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))
                      * 1e6 + 0.5) / 1e6
                  AS cross_corr
         FROM (
           SELECT CAST(count(*) AS DOUBLE) AS n,
                  CAST(sum(CAST(a AS DECIMAL(28,10))) AS DOUBLE) AS sa,
                  CAST(sum(CAST(b AS DECIMAL(28,10))) AS DOUBLE) AS sb,
                  CAST(sum(CAST(a * b AS DECIMAL(28,10))) AS DOUBLE) AS sab,
                  CAST(sum(CAST(a * a AS DECIMAL(28,10))) AS DOUBLE) AS saa,
                  CAST(sum(CAST(b * b AS DECIMAL(28,10))) AS DOUBLE) AS sbb
           FROM (
             SELECT date_trunc('hour', ts) AS h,
                    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                         AS DOUBLE) AS a,
                    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                         AS DOUBLE) AS b
             FROM events WHERE event_type IN ('click', 'view')
             GROUP BY date_trunc('hour', ts)
           )
         )""",
    // first/last via rn CTEs (arg_min tiebreak is engine-defined); the
    // 4h time_bucket origin (2000-01-01) is a whole multiple of 4 hours
    // past the epoch, so buckets equal Spark's tumbling window()
    "ts_m4" ->
      """WITH b AS (
           SELECT event_type,
                  time_bucket(INTERVAL 4 HOURS, CAST(ts AS TIMESTAMP)) AS bucket,
                  ts, event_id, value
           FROM events
         ), r AS (
           SELECT *,
                  row_number() OVER (PARTITION BY event_type, bucket
                                     ORDER BY ts, event_id) AS ra,
                  row_number() OVER (PARTITION BY event_type, bucket
                                     ORDER BY ts DESC, event_id DESC) AS rd
           FROM b
         )
         SELECT event_type, bucket, count(*) AS n,
                round(min(value), 4) AS v_min,
                round(max(value), 4) AS v_max,
                round(max(CASE WHEN ra = 1 THEN value END), 4) AS v_first,
                round(max(CASE WHEN rd = 1 THEN value END), 4) AS v_last
         FROM r GROUP BY event_type, bucket
         ORDER BY event_type, bucket""",
    "ts_peaks" ->
      """WITH hourly AS (
           SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
           FROM events GROUP BY 1, 2
         ), s AS (
           SELECT event_type, h, n,
                  lag(n) OVER (PARTITION BY event_type ORDER BY h) AS prev_n,
                  lead(n) OVER (PARTITION BY event_type ORDER BY h) AS next_n
           FROM hourly
         )
         SELECT event_type, h, n, prev_n, next_n
         FROM s WHERE n > prev_n AND n > next_n
         ORDER BY event_type, h""",
    "ts_transition_matrix" ->
      """WITH pairs AS (
           SELECT event_type AS cur,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS nxt
           FROM events
         ), m AS (
           SELECT cur, nxt, count(*) AS n FROM pairs
           WHERE nxt IS NOT NULL GROUP BY cur, nxt
         )
         SELECT cur, nxt, CAST(n AS BIGINT) AS n,
                round(CAST(n AS DOUBLE) /
                      sum(n) OVER (PARTITION BY cur), 6) AS p
         FROM m ORDER BY cur, nxt""",
    // the recursion is replayed literally: one recursive-CTE step per
    // series position (depth = the longest per-user series, ~100 at these
    // SFs), each step |users| rows — and the arithmetic is the identical
    // `0.3 * x + 0.7 * prev` double expression the operator folds
    "ts_ewma" ->
      """WITH RECURSIVE seq AS (
           SELECT user_id, event_id, value,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events
         ), ew AS (
           SELECT user_id, event_id, value, rn, value AS y
           FROM seq WHERE rn = 1
           UNION ALL
           SELECT s.user_id, s.event_id, s.value, s.rn,
                  0.3 * s.value + 0.7 * e.y
           FROM ew e JOIN seq s
             ON s.user_id = e.user_id AND s.rn = e.rn + 1
         )
         SELECT event_id, user_id, value,
                floor(y * 1e4 + 0.5) / 1e4 AS ewma
         FROM ew ORDER BY event_id""",
    // ts_ewma's recursion skeleton over the (Sp, Sn) pair; μ/σ replay
    // off the same exact DECIMAL sufficient sums, the degenerate-series
    // exclusion repeats the integer/compare form (never a NaN compare)
    "ts_cusum_control" ->
      """WITH RECURSIVE st AS (
           SELECT user_id, count(*) AS n,
                  sum(CAST(value AS DECIMAL(28,10))) AS sv,
                  sum(CAST(value * value AS DECIMAL(28,10))) AS svv
           FROM events GROUP BY user_id
         ), pars AS (
           SELECT user_id, CAST(sv AS DOUBLE) / n AS mu,
                  sqrt((n * CAST(svv AS DOUBLE) -
                        CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)) /
                       (n * (n - 1.0))) AS sigma
           FROM st
           WHERE n >= 2 AND (n * CAST(svv AS DOUBLE) -
                             CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)) /
                            (n * (n - 1.0)) > 0
         ), seq AS (
           SELECT e.user_id, e.event_id, e.value, p.mu, p.sigma,
                  row_number() OVER (PARTITION BY e.user_id
                                     ORDER BY e.ts, e.event_id) AS rn
           FROM events e JOIN pars p USING (user_id)
         ), cu AS (
           SELECT user_id, event_id, value, mu, sigma, rn,
                  greatest(0.0, 0.0 + (value - mu) / sigma - 0.5) AS sp,
                  greatest(0.0, 0.0 - (value - mu) / sigma - 0.5) AS sn
           FROM seq WHERE rn = 1
           UNION ALL
           SELECT s.user_id, s.event_id, s.value, s.mu, s.sigma, s.rn,
                  greatest(0.0, c.sp + (s.value - s.mu) / s.sigma - 0.5),
                  greatest(0.0, c.sn - (s.value - s.mu) / s.sigma - 0.5)
           FROM cu c JOIN seq s
             ON s.user_id = c.user_id AND s.rn = c.rn + 1
         )
         SELECT event_id, user_id, value,
                floor(sp * 1e4 + 0.5) / 1e4 AS cusum_hi,
                floor(sn * 1e4 + 0.5) / 1e4 AS cusum_lo,
                (sp > 4.0 OR sn > 4.0) AS drift
         FROM cu ORDER BY event_id""",
    // ts_ewma's replay extended to the (level, trend) pair; the level
    // expression is substituted into the trend line because SQL can't
    // reference a same-SELECT alias — identical double DAG to the fold
    "ts_holt" ->
      """WITH RECURSIVE seq AS (
           SELECT user_id, event_id, value,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events
         ), hw AS (
           SELECT user_id, event_id, value, rn,
                  value AS l, CAST(0.0 AS DOUBLE) AS b
           FROM seq WHERE rn = 1
           UNION ALL
           SELECT s.user_id, s.event_id, s.value, s.rn,
                  0.5 * s.value + 0.5 * (e.l + e.b),
                  0.25 * ((0.5 * s.value + 0.5 * (e.l + e.b)) - e.l)
                    + 0.75 * e.b
           FROM hw e JOIN seq s
             ON s.user_id = e.user_id AND s.rn = e.rn + 1
         )
         SELECT event_id, user_id, value,
                floor(l * 1e4 + 0.5) / 1e4 AS level,
                floor(b * 1e4 + 0.5) / 1e4 AS trend,
                floor((l + b) * 1e4 + 0.5) / 1e4 AS forecast
         FROM hw ORDER BY event_id""",
    // replays the identical chains: exact DECIMAL(28,10) sufficient sums,
    // μ/σ/PAA-z as the same IEEE expressions, integer segment division
    // (// = Spark's div), the same breakpoint literals, string_agg in
    // segment order = the sorted-struct array_join
    "ts_sax" -> s"""
         WITH $PaaCtes, l AS (
           SELECT user_id, n, seg,
                  CASE WHEN (paa - mu) / sigma < -0.6745 THEN 'a'
                       WHEN (paa - mu) / sigma < 0.0 THEN 'b'
                       WHEN (paa - mu) / sigma < 0.6745 THEN 'c'
                       ELSE 'd' END AS letter
           FROM p
         ), wrd AS (
           SELECT user_id, n AS n_events,
                  string_agg(letter, '' ORDER BY seg) AS sax_word
           FROM l GROUP BY 1, 2
         )
         SELECT user_id, n_events, sax_word,
                count(*) OVER (PARTITION BY sax_word) AS motif_support
         FROM wrd ORDER BY user_id""",
    // nests the SAME PAA chain as ts_sax; the DP cells are the verbatim
    // dtwCellSql text the Spark plan runs, unrolled as chained CTEs
    "ts_dtw" -> DtwOracleSql,
    // same exact-DECIMAL μ/σ derivation as the CUSUM chart; the four
    // rules replay as full-frame integer window counts
    "ts_spc_rules" ->
      """WITH st AS (
           SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                  sum(CAST(value AS DECIMAL(28,10))) AS sv,
                  sum(CAST(value * value AS DECIMAL(28,10))) AS svv
           FROM events GROUP BY user_id
         ), ok AS (
           SELECT user_id,
                  CAST(sv AS DOUBLE) / n AS mu,
                  sqrt((n * CAST(svv AS DOUBLE)
                        - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
                       / (n * (n - 1.0))) AS sigma
           FROM st
           WHERE n >= 2 AND (n * CAST(svv AS DOUBLE)
                             - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
                            / (n * (n - 1.0)) > 0
         ), zz AS (
           SELECT e.event_id, e.user_id, e.value, e.ts,
                  (e.value - o.mu) / o.sigma AS z
           FROM events e JOIN ok o ON o.user_id = e.user_id
         ), w AS (
           SELECT event_id, user_id, value, z,
                  (abs(z) > 3.0) AS r1,
                  (count(*) OVER w3 = 3 AND
                   (sum(CASE WHEN z > 2.0 THEN 1 ELSE 0 END) OVER w3 >= 2 OR
                    sum(CASE WHEN z < -2.0 THEN 1 ELSE 0 END) OVER w3 >= 2))
                    AS r2,
                  (count(*) OVER w5 = 5 AND
                   (sum(CASE WHEN z > 1.0 THEN 1 ELSE 0 END) OVER w5 >= 4 OR
                    sum(CASE WHEN z < -1.0 THEN 1 ELSE 0 END) OVER w5 >= 4))
                    AS r3,
                  (count(*) OVER w8 = 8 AND
                   (sum(CASE WHEN z > 0.0 THEN 1 ELSE 0 END) OVER w8 = 8 OR
                    sum(CASE WHEN z < 0.0 THEN 1 ELSE 0 END) OVER w8 = 8))
                    AS r4
           FROM zz
           WINDOW w3 AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
                  w5 AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
                  w8 AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
         )
         SELECT event_id, user_id, value,
                floor(z * 1e4 + 0.5) / 1e4 AS z, r1, r2, r3, r4
         FROM w WHERE r1 OR r2 OR r3 OR r4 ORDER BY event_id""",
    // one cos/sin per (k, n) cell pre-rounded at 10dp, per-cell product
    // terms pinned at 6dp into DECIMAL folds, the same 2π literal
    "ts_periodogram" ->
      s"""WITH hourly AS (
           SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS c
           FROM events WHERE event_type = 'click' GROUP BY 1
         ), base AS (
           SELECT rn, nn, d, k,
                  $TwoPi * k * (rn - 1) / nn AS theta
           FROM (
             SELECT row_number() OVER (ORDER BY h) AS rn,
                    CAST(count(*) OVER () AS BIGINT) AS nn,
                    CAST(c AS DOUBLE)
                      - CAST(sum(c) OVER () AS DOUBLE)
                        / CAST(count(*) OVER () AS BIGINT) AS d
             FROM hourly
           ) CROSS JOIN (SELECT unnest(range(1, ${PeriodogramFreqs + 1})) AS k)
         ), ab AS (
           SELECT k, max(nn) AS nn,
                  CAST(sum(CAST(floor(d * (floor(cos(theta) * 1e10 + 0.5) / 1e10)
                                      * 1e6 + 0.5) / 1e6
                                AS DECIMAL(28,10))) AS DOUBLE) AS a,
                  CAST(sum(CAST(floor(d * (floor(sin(theta) * 1e10 + 0.5) / 1e10)
                                      * 1e6 + 0.5) / 1e6
                                AS DECIMAL(28,10))) AS DOUBLE) AS b
           FROM base GROUP BY k
         ), pw AS (
           SELECT k, nn, a * a + b * b AS power FROM ab
         ), sh AS (
           SELECT k, nn, power,
                  CAST(sum(CAST(floor(power * 1e6 + 0.5) / 1e6
                                AS DECIMAL(28,10))) OVER () AS DOUBLE) AS ptot
           FROM pw
         )
         SELECT k,
                floor(CAST(nn AS DOUBLE) / k * 1e4 + 0.5) / 1e4 AS period_hours,
                floor(power * 1e4 + 0.5) / 1e4 AS power,
                floor((floor(power * 1e6 + 0.5) / 1e6) / ptot * 1e6 + 0.5) / 1e6
                  AS share
         FROM sh ORDER BY k""",
    // chunk windows replayed verbatim; every ln pre-rounds at 10dp, the
    // 4-point slope folds pinned products as DECIMAL
    "ts_hurst" ->
      """WITH hourly AS (
           SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS c
           FROM events WHERE event_type = 'click' GROUP BY 1
         ), base AS (
           SELECT rn, c, m, (rn - 1) // m AS chunk FROM (
             SELECT row_number() OVER (ORDER BY h) AS rn, c FROM hourly
           ) CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS m)
         ), rows_ AS (
           SELECT m, chunk, c,
                  count(*) OVER w AS cnt,
                  CAST(sum(c) OVER w AS BIGINT) AS sc,
                  CAST(sum(c * c) OVER w AS BIGINT) AS scc,
                  row_number() OVER ws AS i,
                  CAST(sum(c) OVER wc AS BIGINT) AS pre
           FROM base
           WINDOW w AS (PARTITION BY m, chunk),
                  ws AS (PARTITION BY m, chunk ORDER BY rn),
                  wc AS (PARTITION BY m, chunk ORDER BY rn
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ), dev AS (
           SELECT m, chunk, sc, scc,
                  CAST(pre AS DOUBLE) - i * (CAST(sc AS DOUBLE) / m) AS dev
           FROM rows_ WHERE cnt = m
         ), pc AS (
           SELECT m, chunk,
                  max(dev) AS dmax, min(dev) AS dmin,
                  max(sc) AS sc, max(scc) AS scc
           FROM dev GROUP BY m, chunk
         ), rs AS (
           SELECT m,
                  (dmax - dmin) / sqrt(svar) AS rs
           FROM (
             SELECT m, chunk, dmax, dmin,
                    CAST(scc AS DOUBLE) / m -
                      (CAST(sc AS DOUBLE) / m) * (CAST(sc AS DOUBLE) / m) AS svar
             FROM pc
           ) WHERE svar > 0
         ), pm AS (
           SELECT m, CAST(count(*) AS BIGINT) AS n_chunks,
                  CAST(sum(CAST(floor(rs * 1e10 + 0.5) / 1e10
                                AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS mean_rs
           FROM rs GROUP BY m
         ), xy AS (
           SELECT m, n_chunks, mean_rs,
                  floor(ln(CAST(m AS DOUBLE)) * 1e10 + 0.5) / 1e10 AS x,
                  floor(ln(mean_rs) * 1e10 + 0.5) / 1e10 AS y
           FROM pm
         ), fold AS (
           SELECT m, n_chunks, mean_rs,
                  CAST(count(*) OVER () AS DOUBLE) AS k,
                  CAST(sum(CAST(x AS DECIMAL(28,10))) OVER () AS DOUBLE) AS sx,
                  CAST(sum(CAST(y AS DECIMAL(28,10))) OVER () AS DOUBLE) AS sy,
                  CAST(sum(CAST(floor(x * y * 1e10 + 0.5) / 1e10
                                AS DECIMAL(28,10))) OVER () AS DOUBLE) AS sxy,
                  CAST(sum(CAST(floor(x * x * 1e10 + 0.5) / 1e10
                                AS DECIMAL(28,10))) OVER () AS DOUBLE) AS sxx
           FROM xy
         )
         SELECT m, n_chunks,
                floor(mean_rs * 1e6 + 0.5) / 1e6 AS mean_rs,
                floor((k * sxy - sx * sy) / (k * sxx - sx * sx)
                      * 1e4 + 0.5) / 1e4 AS hurst
         FROM fold ORDER BY m""",
    // ts_ewma's replay with the adaptive gain: p/k substituted inline
    // where SQL cannot alias within one SELECT — the identical double
    // DAG to the fold's once-computed pp/k locals
    "ts_kalman" ->
      """WITH RECURSIVE seq AS (
           SELECT user_id, event_id, value,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events
         ), kf AS (
           SELECT user_id, event_id, value, rn,
                  value AS x, CAST(1.0 AS DOUBLE) AS p,
                  CAST(1.0 AS DOUBLE) AS k
           FROM seq WHERE rn = 1
           UNION ALL
           SELECT s.user_id, s.event_id, s.value, s.rn,
                  e.x + ((e.p + 0.25) / ((e.p + 0.25) + 1.0)) * (s.value - e.x),
                  (1.0 - ((e.p + 0.25) / ((e.p + 0.25) + 1.0))) * (e.p + 0.25),
                  (e.p + 0.25) / ((e.p + 0.25) + 1.0)
           FROM kf e JOIN seq s
             ON s.user_id = e.user_id AND s.rn = e.rn + 1
         )
         SELECT event_id, user_id, value,
                floor(x * 1e4 + 0.5) / 1e4 AS estimate,
                floor(k * 1e4 + 0.5) / 1e4 AS gain
         FROM kf ORDER BY event_id""",
    // lower medians picked from sorted lists (selection, not
    // interpolation), flags on the identical raw-double compare
    "ts_mad_anomaly" ->
      """WITH bu AS (
           SELECT user_id, list_sort(list(value)) AS vals,
                  count(*) AS n
           FROM events GROUP BY user_id
         ), med AS (
           SELECT user_id, n, vals,
                  vals[CAST((n + 1) // 2 AS BIGINT)] AS med
           FROM bu
         ), mad AS (
           SELECT user_id, med,
                  list_sort(list_transform(vals, v -> abs(v - med)))
                    [CAST((n + 1) // 2 AS BIGINT)] AS mad
           FROM med
         )
         SELECT e.event_id, e.user_id, e.value,
                floor(m.med * 1e4 + 0.5) / 1e4 AS med,
                floor(m.mad * 1e4 + 0.5) / 1e4 AS mad
         FROM events e JOIN mad m USING (user_id)
         WHERE abs(e.value - m.med) > 3.0 * m.mad
         ORDER BY event_id""",
    // the 24-slot seasonal ring rides the recursion as a LIST column;
    // the level expression repeats textually inside trend/seasonal
    // (identical double DAG — the ts_holt replay note)
    "ts_holt_winters" -> {
      val nl = "0.5 * (s.y - e.s[1]) + 0.5 * (e.l + e.b)"
      val ns = s"0.5 * (s.y - ($nl)) + 0.5 * e.s[1]"
      s"""WITH RECURSIVE hourly AS (
           SELECT event_type,
                  date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
                  CAST(count(*) AS DOUBLE) AS y
           FROM events GROUP BY 1, 2
         ), seq AS (
           SELECT event_type, hr, y,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY hr) AS rn
           FROM hourly
         ), hw AS (
           SELECT event_type, hr, y, rn,
                  y AS l, CAST(0.0 AS DOUBLE) AS b,
                  CAST(0.0 AS DOUBLE) AS sn,
                  list_transform(range(24), i -> CAST(0.0 AS DOUBLE)) AS s
           FROM seq WHERE rn = 1
           UNION ALL
           SELECT s.event_type, s.hr, s.y, s.rn,
                  $nl,
                  0.25 * (($nl) - e.l) + 0.75 * e.b,
                  $ns,
                  e.s[2:24] || [$ns]
           FROM hw e JOIN seq s
             ON s.event_type = e.event_type AND s.rn = e.rn + 1
         )
         SELECT event_type, hr, y,
                floor(l * 1e4 + 0.5) / 1e4 AS level,
                floor(b * 1e4 + 0.5) / 1e4 AS trend,
                floor(sn * 1e4 + 0.5) / 1e4 AS seasonal
         FROM hw ORDER BY event_type, hr"""
    },
    "ts_pct_change" ->
      """WITH daily AS (
           SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
                  count(*) AS n
           FROM events GROUP BY 1, 2
         )
         SELECT event_type, d, CAST(n AS BIGINT) AS n,
                floor(CAST(n - lag(n) OVER w AS DOUBLE)
                      / lag(n) OVER w * 1e6 + 0.5) / 1e6 AS dod,
                floor(CAST(n - lag(n, 7) OVER w AS DOUBLE)
                      / lag(n, 7) OVER w * 1e6 + 0.5) / 1e6 AS wow
         FROM daily
         WINDOW w AS (PARTITION BY event_type ORDER BY d)
         ORDER BY event_type, d""",
    // one lag arm per UNION branch over the shared hourly CTE; the
    // Pearson replay matches ts_autocorr's exact-DECIMAL discipline
    "ts_correlogram" -> CorrelogramSql,

    // Durbin–Levinson over corr's published 6dp lag correlations; the
    // recursion carries φ as a LIST column (the holt_winters ring
    // pattern) and every inner sum replays the ascending-j left fold
    // nests the shared correlogram CTE; terms pre-round at 12dp into
    // DECIMAL, the χ² ladder is the same literal table, the flag
    // compares the pinned statistic
    "ts_ljung_box" ->
      s"""WITH corr AS (
           $CorrelogramSql
         ), lb AS (
           SELECT lag, acf, n_pairs,
                  CAST(n_pairs + lag AS DOUBLE) AS n,
                  CAST(floor(acf * acf / n_pairs * 1e12 + 0.5) / 1e12
                       AS DECIMAL(24,12)) AS t
           FROM corr
         ), qq AS (
           SELECT lag, acf,
                  floor(n * (n + 2.0) *
                        CAST(sum(t) OVER (ORDER BY lag
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                             AS DOUBLE) * 1e4 + 0.5) / 1e4 AS q_stat
           FROM lb
         ), crit AS (
           SELECT * FROM (VALUES ${Chi2Crit95.zipWithIndex
             .map { case (v, i) => s"(${i + 1}, $v)" }.mkString(", ")})
             AS c(lag, crit_95)
         )
         SELECT q.lag, q.acf, q.q_stat,
                CAST(c.crit_95 AS DOUBLE) AS crit_95,
                (q.q_stat > CAST(c.crit_95 AS DOUBLE)) AS reject_white_noise
         FROM qq q JOIN crit c ON q.lag = c.lag ORDER BY q.lag""",
    "ts_pacf" ->
      s"""WITH RECURSIVE corr AS (
           $CorrelogramSql
         ), rho AS (
           SELECT list(acf ORDER BY lag) AS rho FROM corr
         ), dl AS (
           SELECT 1 AS k,
                  [(r.rho[1] - 0.0) / (1.0 - 0.0)] AS phi,
                  (r.rho[1] - 0.0) / (1.0 - 0.0) AS pacf
           FROM rho r
           UNION ALL
           SELECT k + 1,
                  list_transform(range(k), i -> phi[i + 1] - pkk * phi[k - i])
                    || [pkk] AS phi,
                  pkk AS pacf
           FROM (
             SELECT d.k AS k, d.phi AS phi,
                    (r.rho[d.k + 1]
                      - coalesce(list_sum(list_transform(range(d.k),
                          i -> d.phi[i + 1] * r.rho[d.k - i])), 0.0))
                    / (1.0 - coalesce(list_sum(list_transform(range(d.k),
                          i -> d.phi[i + 1] * r.rho[i + 1])), 0.0)) AS pkk
             FROM dl d, rho r
             WHERE d.k < $CorrelogramLags
           )
         )
         SELECT c.lag, c.acf,
                floor(d.pacf * 1e6 + 0.5) / 1e6 AS pacf
         FROM corr c JOIN dl d ON d.k = c.lag
         ORDER BY c.lag""",
    "ts_drawdown" ->
      """SELECT user_id, round(dd, 4) AS max_drawdown,
                round(peak, 4) AS peak_value, es AS trough_es
         FROM (
           SELECT user_id, es, dd, peak,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY dd DESC, es, event_id) AS rn
           FROM (
             SELECT user_id, es, event_id, peak, peak - value AS dd
             FROM (
               SELECT user_id, es, event_id, value,
                      max(value) OVER (PARTITION BY user_id
                        ORDER BY es, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS peak
               FROM (SELECT user_id, event_id, value,
                            CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events)
             )
           )
         ) WHERE rn = 1 ORDER BY user_id"""
  )
}
