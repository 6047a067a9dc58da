package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Join suite (SURVEY.md §2 B4) over the TPC-H-ish star schema.
  *
  * The reference never joins locally — its only join-like operation is the
  * Neo4j server-side edge expansion (streamlit_app.py:61). Here every join
  * flavor is a declarative Catalyst plan:
  *
  * Scale notes (100 TB design):
  *  - Big⋈big equi-joins (orders⋈customer, lineitem⋈orders) shuffle on the
  *    join key and become sort-merge joins; AQE re-plans to broadcast when a
  *    runtime side turns out small, and splits skewed partitions.
  *  - Dimension joins ([[Tables.nation]]/[[Tables.region]]/[[Tables.supplier]])
  *    carry an explicit `broadcast()` hint — a 25-row dim must never shuffle
  *    a 100 TB fact table (`join_broadcast`).
  *  - The non-equi range join (`join_theta_range`) keeps its equi key
  *    (l_orderkey = o_orderkey) so Catalyst plans SMJ/SHJ with the range
  *    predicate as a post-join filter — NOT a nested-loop cross product.
  *  - The as-of join (`join_asof`) uses the single-shuffle union+window
  *    idiom: tag both sides, sort within user by time, carry the last
  *    at-or-before match forward with `last(..., ignoreNulls)`. One shuffle
  *    on user_id, no range explosion, works at any scale (this is the
  *    standard Spark formulation; DuckDB's native ASOF JOIN is the oracle).
  */
object JoinOps {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Equi inner join orders⋈customer (big⋈big: shuffle hash / SMJ).
    "join_inner_hash" -> ((s, dir) =>
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_custkey", "c_name", "o_totalprice")
        .orderBy("o_orderkey")),

    // Left outer customer⟕orders — null-extending side preserved.
    "join_left_outer" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)),

    // Star join: fact lineitem through broadcast dims supplier→nation→region.
    // Revenue per region; sums cast to DECIMAL so the fold is exact and
    // order-independent across engines (SURVEY §7.4), then back to DOUBLE.
    "join_broadcast" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(28,10)")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name")),

    // Left semi: customers with at least one order (EXISTS).
    "join_semi" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // Left anti: customers with no orders (NOT EXISTS).
    "join_anti" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // Non-equi range join: lineitems shipped within 90 days of their order
    // date. Equi key + range predicate → SMJ with post-filter, not BNLJ.
    "join_theta_range" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") &&
            col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 90 DAY"))
        .select(col("l_orderkey"), col("l_linenumber"),
          datediff(col("l_shipdate"), col("o_orderdate")).as("ship_lag_days"))
        // (l_orderkey, l_linenumber) is NOT unique in the fixture — include
        // the payload in the ORDER BY for a total compare order (§7.4).
        .orderBy("l_orderkey", "l_linenumber", "ship_lag_days")),

    // Pure interval join (NO equi key): lineitems shipped inside each
    // high-value order's 2-day window. Naively this is a broadcast
    // nested-loop over |orders|×|lineitem| — quadratic, the one plan shape
    // that cannot survive 100 TB. Rewritten as the textbook bucketed range
    // join: both sides bucket time by the window width, the build side
    // emits its two candidate buckets, the join becomes a shuffled
    // EQUI-join on the bucket key with an exact post-filter. Each matching
    // pair meets exactly one (order-bucket, lineitem-bucket) emission, so
    // no dedup is needed, and the exchange carries only bucket-local
    // candidates — linear in input + output, skew bounded by rows-per-
    // window-width.
    "join_range_bucket" -> ((s, dir) => {
      val width = 2L * 86400L // bucket = window width (2 days), in seconds
      // Collapse the probe side to (distinct timestamp, count) BEFORE the
      // join — counts are additive per equal value, so this is always
      // semantics-preserving, and it shrinks the joined pair count from
      // |orders-in-bucket|×|lineitems-in-bucket| to
      // |orders-in-bucket|×|distinct ship times in bucket| (600k rows →
      // ~2.4k distinct days on the fixture; measured 6.9 s → 0.6 s at
      // sf0.1). On data with fine-grained timestamps it degrades
      // gracefully back to the unaggregated join.
      val l = Tables.lineitem(s, dir)
        .groupBy(col("l_shipdate").as("d")).agg(count(lit(1)).as("cnt"))
        .withColumn("b", floor(unix_timestamp(col("d")) / width))
      val ob = floor(unix_timestamp(col("o_orderdate")) / width)
      val o = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey"), col("o_orderdate"))
        .withColumn("b", explode(array(ob, ob + 1)))
      o.join(l, "b")
        .filter(col("d") >= col("o_orderdate") &&
          col("d") < col("o_orderdate") + expr("INTERVAL 2 DAYS"))
        .groupBy("o_orderkey").agg(sum(col("cnt")).as("n_shipped"))
        .orderBy("o_orderkey")
    }),

    // Interval-overlap join (interval × interval — r14 verdict item 1):
    // user activity SESSIONS (gap-based, the win_sessionize contract)
    // against per-(event_type, day) activity BURST windows, matched on
    // `s.start <= w.end AND w.start <= s.end` — the generalization of the
    // reference's 1-D BETWEEN range primitive (streamlit_app.py:62) to
    // the interval×interval case every real pipeline hits (sessionized
    // activity × campaign windows). `join_range_bucket` covers
    // point-in-interval; this is the shape where BOTH sides have extent.
    // Naively a range-condition cartesian (|sessions|×|windows| — the one
    // plan that cannot survive 100 TB); rewritten as the bucketed overlap
    // join: each interval explodes to the width-W time buckets it covers
    // (sequence + explode — linear in interval span; at the fixture's
    // gap distribution sessions cover ~2 buckets and day windows ≤ 2,
    // though a chain of sub-gap events can in principle stretch a
    // session across many buckets), the join becomes a shuffled EQUI-join on
    // the bucket key with the exact overlap predicate as a residual
    // filter, and each matching pair is kept exactly once — in the bucket
    // holding the intersection START (`b = floor(max(ss, ws)/W)`), which
    // both sides provably cover — so no post-join dedup shuffle. Exchange
    // volume is linear in input + output; per-bucket skew is bounded by
    // intervals-per-day, and W widens with the interval widths, never the
    // corpus. Overlap length folds as exact integer seconds.
    "join_interval" -> ((s, dir) => {
      val W = IntervalBucketSec
      // session intervals off the SHARED gap-based derivation (one
      // definition with win_sessionize — see WindowOps.withSessionIds)
      val sess = WindowOps.withSessionIds(Tables.events(s, dir))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("es")).as("ss"), max(col("es")).as("se"))
      val bursts = Tables.events(s, dir)
        .withColumn("es", unix_timestamp(col("ts")))
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(min(col("es")).as("ws"), max(col("es")).as("we"),
          count(lit(1)).as("n"))
        .filter(col("n") >= BurstMinEvents)
      val sb = sess.withColumn("b",
        explode(sequence(floor(col("ss") / W), floor(col("se") / W))))
      val wb = bursts.withColumn("b",
        explode(sequence(floor(col("ws") / W), floor(col("we") / W))))
      sb.join(wb, Seq("b"))
        .filter(col("ss") <= col("we") && col("ws") <= col("se"))
        .filter(col("b") === floor(greatest(col("ss"), col("ws")) / W))
        .select(col("event_type"), col("day"), col("user_id"),
          col("ss").as("session_start"),
          (least(col("se"), col("we")) - greatest(col("ss"), col("ws")) + 1)
            .as("overlap_sec"))
        .orderBy("event_type", "day", "user_id", "session_start")
    }),

    // Null-safe equi-join (<=>): NULL keys match each other instead of
    // vanishing — the semantics a data-vault / late-arriving-dimension
    // join needs. EqualNullSafe is a legal equi-join key, so Catalyst
    // still plans a hash/sort-merge join (never a nested loop); the
    // fixture derives sparse NULLs deterministically and the output
    // aggregates to match counts by key-nullness, pinning that the
    // null↔null bucket joins while ordinary equality would drop it.
    "join_null_safe" -> ((s, dir) => {
      val c = Tables.customer(s, dir).select(
        when(col("c_custkey") % 199 === 0, lit(null))
          .otherwise(col("c_nationkey")).as("c_nk"))
      val sp = Tables.supplier(s, dir).select(
        when(col("s_suppkey") % 97 === 0, lit(null))
          .otherwise(col("s_nationkey")).as("s_nk"))
      c.join(sp, col("c_nk") <=> col("s_nk"))
        .groupBy(col("c_nk").isNull.as("null_key"))
        .agg(count(lit(1)).as("n_matches"))
        .orderBy("null_key")
    }),

    // Fuzzy string self-join: same-length part-name pairs within Hamming
    // distance 3 (the entity-resolution "few-character typo" match). The
    // quadratic form is the oracle; this plan uses lossless pigeonhole
    // blocking — split each name into FOUR segments, and any pair within
    // distance 3 agrees EXACTLY on at least one segment (3 substitutions
    // touch at most 3 of the 4; same-length means no alignment shift) —
    // so the candidate set comes from four equi-joins on (length,
    // segment_i), deduped, then verified by the exact character-mismatch
    // count. Linear in candidates, never all-pairs; distance k needs k+1
    // segments.
    "join_fuzzy" -> ((s, dir) => {
      // collapse-then-compare (same move as the dedup suite): the name
      // column is massively duplicated (64 distinct names over 20k parts
      // at sf0.1), so the fuzzy machinery runs over DISTINCT names only,
      // each carrying its multiplicity — the output reports matched-pair
      // counts without ever materializing the quadratic id×id expansion
      // (3.1M pairs on the fixture at sf0.1).
      val NSeg = 4
      val names = (0 until NSeg).foldLeft(
        Tables.part(s, dir)
          .groupBy(col("p_name").as("name")).agg(count(lit(1)).as("cnt"))
          .withColumn("len", length(col("name")))) { (df, i) =>
        val from = floor(col("len") * i / NSeg).cast("int")
        val to = floor(col("len") * (i + 1) / NSeg).cast("int")
        df.withColumn(s"seg$i", col("name").substr(from + 1, to - from))
      }
      def cands(seg: String) =
        names.select(col("name").as("name_a"), col("cnt").as("cnt_a"),
            col("len"), col(seg))
          .join(names.select(col("name").as("name_b"), col("cnt").as("cnt_b"),
            col("len"), col(seg)), Seq("len", seg))
          .filter(col("name_a") < col("name_b"))
          .select("name_a", "name_b", "cnt_a", "cnt_b")
      val ham = aggregate(
        zip_with(split(col("name_a"), ""), split(col("name_b"), ""),
          (x, y) => when(x === y, 0).otherwise(1)),
        lit(0), (acc, x) => acc + x)
      (0 until NSeg).map(i => cands(s"seg$i")).reduce(_ union _)
        .groupBy("name_a", "name_b")
        .agg(first("cnt_a").as("cnt_a"), first("cnt_b").as("cnt_b"))
        .withColumn("hamming", ham)
        .filter(col("hamming") <= 3)
        .select(col("name_a"), col("name_b"), col("hamming"),
          (col("cnt_a") * col("cnt_b")).as("n_pairs"))
        .orderBy("name_a", "name_b")
    }),

    // Full outer join: per-day click totals ⟗ per-day purchase totals —
    // days with activity on only one side survive null-extended on the
    // other, the canonical reconciliation-report shape. Both sides
    // pre-aggregate before the join, so the shuffled payload is one row
    // per (day, side), not one per event.
    "join_full_outer" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def daily(t: String, as: String) = ev
        .filter(col("event_type") === t)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as(as))
      daily("click", "n_clicks")
        .join(daily("purchase", "n_purchases"), Seq("day"), "full")
        .select(col("day"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
        .orderBy("day")
    }),

    // As-of join: for every purchase event, the latest click by the same
    // user at-or-before the purchase (ties on ts: click wins over the
    // purchase; among clicks, the max event_id). Single shuffle on user_id.
    "join_asof" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val tagged = ev
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("event_type") === "click").cast("int").as("is_click"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("is_click").desc, col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("click_id",
          last(when(col("is_click") === 1, col("event_id")), ignoreNulls = true).over(w))
        .withColumn("click_ts",
          last(when(col("is_click") === 1, col("ts")), ignoreNulls = true).over(w))
        .filter(col("is_click") === 0)
        .select(col("event_id"), col("user_id"), col("ts"), col("click_id"), col("click_ts"))
        .orderBy("event_id")
    }),

    // FORWARD as-of join (pandas merge_asof direction='forward', kdb
    // aj's mirror): each click matches its NEXT purchase — the
    // time-to-conversion primitive behind funnel latency dashboards,
    // and the direction the backward `join_asof` cannot express. Same
    // union-tag + one-window-sort merge (never a row-multiplying range
    // join): the frame flips to [current, unbounded following] and the
    // pick to first-ignoring-nulls; at an equal timestamp the click
    // sorts before the purchase, so a same-instant conversion matches
    // (the backward variant's tie convention, mirrored). Latency is
    // exact integer microseconds.
    "join_asof_forward" -> ((s, dir) => {
      val tagged = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("event_type") === "click").cast("int").as("is_click"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("is_click").desc, col("event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      tagged
        .withColumn("purchase_id",
          first(when(col("is_click") === 0, col("event_id")),
            ignoreNulls = true).over(w))
        .withColumn("purchase_ts",
          first(when(col("is_click") === 0, col("ts")),
            ignoreNulls = true).over(w))
        .filter(col("is_click") === 1)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("purchase_id"), col("purchase_ts"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("ts")))
            .as("latency_us"))
        .orderBy("event_id")
    }),

    // As-of join with a staleness tolerance (pandas merge_asof's
    // `tolerance=`, kdb wj): each purchase matches its most recent click
    // only if that click is within MaxStalenessUs — older attributions
    // are discarded as NULL, the standard attribution-window contract.
    // Same union-tag + last-ignoring-nulls merge as `join_asof` (ONE
    // window sort, no row-multiplying range join); the tolerance is a
    // post-window null-out, correct because any click older than the
    // most recent one is staler still. Timestamps compare in exact
    // integer microseconds (unix_micros ↔ epoch_us) — second-floored
    // arithmetic would misclassify sub-second boundaries.
    "join_asof_tolerance" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val tagged = ev
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("event_type") === "click").cast("int").as("is_click"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("is_click").desc, col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fresh = unix_micros(col("ts")) - unix_micros(col("click_ts")) <=
        MaxStalenessUs
      tagged
        .withColumn("click_id",
          last(when(col("is_click") === 1, col("event_id")), ignoreNulls = true).over(w))
        .withColumn("click_ts",
          last(when(col("is_click") === 1, col("ts")), ignoreNulls = true).over(w))
        .filter(col("is_click") === 0)
        .select(col("event_id"), col("user_id"), col("ts"),
          when(fresh, col("click_id")).as("click_id"),
          when(fresh, col("click_ts")).as("click_ts"))
        .orderBy("event_id")
    }),

    // Nearest-value join: for every customer, the supplier in the SAME
    // nation whose account balance is closest (entity matching on a
    // numeric axis — the "closest reading / closest price" join). See
    // [[nearestJoin]] for the plan; declared at the session's shuffle
    // parallelism.
    "join_nearest" -> ((s, dir) =>
      nearestJoin(s, dir, s.sessionState.conf.numShufflePartitions)),

    // Edit-distance fuzzy join: name pairs within Levenshtein ≤ 2 — the
    // typo-tolerant complement to `join_fuzzy`'s fixed-length Hamming
    // match. Collapse-then-compare again (distinct names with
    // multiplicities), then LOSSLESS length blocking: lev ≤ k forces
    // |len(a) − len(b)| ≤ k, so the longer side emits its length and the
    // k lengths below it as join keys and only ever meets names it could
    // match — each unordered pair exactly once (longer-emits-down for
    // cross-length, lexicographic order for equal length). The quadratic
    // expansion is per length class of the DISTINCT-name relation, with
    // the codegen'd levenshtein verify inside the join; at web scale the
    // q-gram prefix machinery (`dedup_prefix`) is the documented
    // second-stage block within each class.
    "join_edit_distance" -> ((s, dir) => {
      val names = Tables.part(s, dir)
        .groupBy(col("p_name").as("name")).agg(count(lit(1)).as("cnt"))
        .withColumn("len", length(col("name")))
        .persist()
      val l = names.select(col("name").as("a"), col("len").as("la"),
        col("cnt").as("cnt_a"),
        explode(array(col("len"), col("len") - 1, col("len") - 2)).as("k"))
      val r = names.select(col("name").as("b"), col("len").as("lb"),
        col("cnt").as("cnt_b"))
      l.join(r, col("k") === col("lb") &&
          (col("la") > col("lb") || col("a") < col("b")))
        .withColumn("dist", levenshtein(col("a"), col("b")))
        .filter(col("dist") <= 2)
        .select(col("a"), col("b"), col("dist"), col("cnt_a"), col("cnt_b"))
        .orderBy("a", "b")
    }),

    // Runtime bloom-filter semi-join pruning (r17) — THE classic 100-TB
    // shuffle reducer: when a selective predicate on the build side
    // (urgent orders) means most fact rows (lineitem) will not survive
    // the join, summarize the build side's KEY SET into a fixed-size
    // bloom filter, re-enter it as a literal predicate, and drop
    // non-matching fact rows MAP-SIDE, before the fact's join exchange
    // ever materializes. The
    // exact equi-join then runs as the residual over the survivors —
    // blooms have no false negatives, so the output is identical to the
    // plain join (which is exactly what the oracle runs), and the rare
    // false positives are removed by the residual join itself. See
    // [[bloomPruneJoin]] for the plan and the contrast with Spark's own
    // InjectRuntimeFilter (RuntimeFilterSpec pins both the plan shape
    // and the no-false-negative invariant).
    "join_bloom_prune" -> ((s, dir) => bloomPruneJoin(s, dir, BloomPruneWords))
  )

  /** The `join_nearest` plan, parameterized on the range-partition count
    * so the spec can force partition boundaries through the data and pin
    * that the answer is invariant.
    *
    * Scale design: the naive form of this join is a window over
    * `Window.partitionBy(nation)` — but parallelism would then be bounded
    * by the PARTITION KEY's cardinality (25 nations ⇒ 25 tasks no matter
    * the cluster), exactly the low-cardinality-key trap `pipe_shuffle`
    * and `agg_weighted_median` avoid. So instead: suppliers collapse to
    * one row per (nation, balance) (min suppkey — deterministic AND
    * shrinks the ref side to its value domain), the union of refs and
    * probes is RANGE-partitioned on the full (nation, balance, tag, key)
    * sort order — contiguous value ranges, any number of tasks — and the
    * nearest-below/nearest-above windows run per (physical partition,
    * nation) segment. Probes whose segment lacks a ref on one side are
    * patched from a boundary relation of ≤ #partitions·|nations-touching-
    * a-boundary| rows (each segment's first/last ref, carried across the
    * partition sequence by two windows over that BOUNDED table, then
    * broadcast back). Two exchanges touch the merge relation (the
    * range-partition total sort, then the (pid, nation) hash exchange the
    * segment windows require — slim 5-column rows both times, audited
    * in the `graft.PlanDump` plan); both inputs can be billions of rows.
    * Refs sort before probes at equal balance, so an
    * exactly-equal balance is "at or below" (distance 0); ties between
    * sides prefer the LOWER balance; distances are single exactly-rounded
    * IEEE subtractions, so the <= compare matches the oracle's ORDER BY
    * abs() bit-for-bit. */
  private[graft] def nearestJoin(s: SparkSession, dir: String,
      nParts: Int): DataFrame = {
    val refs = Tables.supplier(s, dir)
      .groupBy(col("s_nationkey").cast("long").as("nk"),
        col("s_acctbal").as("v"))
      .agg(min(col("s_suppkey")).as("ref_key"))
    val probes = Tables.customer(s, dir)
      .select(col("c_nationkey").cast("long").as("nk"),
        col("c_custkey"), col("c_acctbal").as("v"))
    val ord = Seq(col("nk"), col("v"), col("is_probe"), col("c_custkey"))
    val keyed = refs
      .select(col("nk"), col("v"), col("ref_key"),
        lit(null).cast("long").as("c_custkey"), lit(0).as("is_probe"))
      .unionByName(probes.select(col("nk"), col("v"),
        lit(null).cast("long").as("ref_key"), col("c_custkey"),
        lit(1).as("is_probe")))
      .repartitionByRange(nParts, ord: _*)
      // no pre-persist sort: the segment windows insert their own
      // (pid, nk)-exchange + sort above the cache and `bounds` is an
      // order-free aggregate, so sorting the cached rows was a redundant
      // extra pass (r18 opt, guide §2.4 — the agg_weighted_median trim)
      .withColumn("pid", spark_partition_id())
      .persist()
    val ref = when(col("is_probe") === 0, struct(col("v"), col("ref_key")))
    // segment = (physical partition, nation): the windows re-use the
    // range partitioning, so no task ever sorts more than its share
    val wb = Window.partitionBy("pid", "nk")
      .orderBy(col("v"), col("is_probe"), col("c_custkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wa = Window.partitionBy("pid", "nk")
      .orderBy(col("v"), col("is_probe"), col("c_custkey"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    // per-segment first/last ref (null for probe-only segments), carried
    // across the partition sequence per nation over the bounded table
    val bounds = keyed.groupBy("pid", "nk")
      .agg(min(ref).as("first_ref"), max(ref).as("last_ref"))
    val prevW = Window.partitionBy("nk").orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val nextW = Window.partitionBy("nk").orderBy("pid")
      .rowsBetween(1, Window.unboundedFollowing)
    val patch = bounds
      .withColumn("prev_ref",
        last(col("last_ref"), ignoreNulls = true).over(prevW))
      .withColumn("next_ref",
        first(col("first_ref"), ignoreNulls = true).over(nextW))
      .select("pid", "nk", "prev_ref", "next_ref")
    val below = coalesce(last(ref, ignoreNulls = true).over(wb),
      col("prev_ref"))
    val above = coalesce(first(ref, ignoreNulls = true).over(wa),
      col("next_ref"))
    val dB = col("v") - col("below.v")
    val dA = col("above.v") - col("v")
    val pickBelow = col("above").isNull ||
      (col("below").isNotNull && dB <= dA)
    keyed
      .join(broadcast(patch), Seq("pid", "nk"))
      .withColumn("below", below)
      .withColumn("above", above)
      .filter(col("is_probe") === 1)
      .select(col("c_custkey"), col("nk"), col("v").as("c_acctbal"),
        when(pickBelow, col("below.ref_key")).otherwise(col("above.ref_key"))
          .as("s_suppkey"),
        when(pickBelow, col("below.v")).otherwise(col("above.v"))
          .as("s_acctbal"),
        round(when(pickBelow, dB).otherwise(dA), 2).as("dist"))
      .orderBy("c_custkey")
  }

  /** Attribution window for `join_asof_tolerance` (30 min, microseconds). */
  val MaxStalenessUs = 1800L * 1000000L

  /** `join_interval` bucket width (1 day, seconds) — matched to the wider
    * interval family (the day-scoped burst windows); sessions are
    * gap-bounded far below it, so every interval explodes to ≤ 2 buckets. */
  val IntervalBucketSec = 86400L

  /** Minimum events for a (type, day) cell to count as a burst window. */
  val BurstMinEvents = 80L

  /** `join_bloom_prune` geometry. 8,192 words × 63 usable bits =
    * 516,096 bit positions (bits live at 0..62 so masks never touch the
    * BIGINT sign bit — the `agg_bloom_members` discipline). Sized for
    * the build side's key COUNT, not the fact's row count: at ~30k
    * urgent orders (sf0.1) the fill is ≈ 21% and the per-probe
    * false-positive rate fill⁴ ≈ 0.2%, so the fact exchange carries the
    * true ~20% match share plus 0.2% noise instead of 100% of the
    * table. At 100 TB the words constant scales with the BUILD side
    * (dimension keys), which is precisely why this prune exists: the
    * filter stays a few-hundred-KB broadcast even when the dimension
    * itself is far past the broadcast-join threshold. */
  val BloomPruneWords = 8192

  /** Usable bits per word (sign bit excluded). */
  val BloomPruneBitsPerWord = 63

  /** Hash count — fpr = fill^4. */
  val BloomPruneHashes = 4

  /** The `join_bloom_prune` plan, parameterized on the word count so
    * RuntimeFilterSpec can force a SATURATED filter (words=2 → fill→1,
    * prune ratio→0) and pin that the output is STILL exactly the plain
    * equi-join — the no-false-negative invariant is what makes the
    * prune safe at any geometry.
    *
    * Stage 1 (build): the selective dimension predicate
    * (o_orderpriority = '1-URGENT') filters orders; each surviving
    * o_orderkey sets [[BloomPruneHashes]] bits, derived from
    * independently-seeded codegen'd `xxhash64` draws. (The
    * `agg_bloom_members` md5-slice discipline exists so DuckDB can
    * replay bit positions; here the bloom is PLAN-INTERNAL — the oracle
    * is the plain join — so the cheaper integer hash is the right
    * choice.) `bit_or` folds the masks per word with map-side partial
    * aggregation: at any corpus size the build exchange carries
    * ≤ [[BloomPruneWords]] rows per partition. The aggregated word
    * table — bounded by CONFIG at ≤ `words` rows — then collects to the
    * driver and re-enters the plan as ONE dense array LITERAL (missing
    * words zero-filled), the same build-subquery-to-literal shape
    * Spark's own InjectRuntimeFilter materializes, so the probe is an
    * O(1) codegen'd `element_at` per hash.
    *
    * Stage 2 (probe, map-side): a codegen'd conjunction of 4 bit tests
    * against the literal filters lineitem BEFORE its join exchange.
    * PlanSpec pins the filter below the fact-side shuffle.
    *
    * Stage 3 (residual): the exact equi-join over the survivors. The
    * merge hint models the 100-TB reality this key exists for — a
    * dimension too large to broadcast (if it fit in a broadcast, the
    * broadcast hash join would already prune the fact map-side and the
    * bloom would be redundant).
    *
    * Contrast with Spark's own runtime filtering
    * (`spark.sql.optimizer.runtime.bloomFilter.enabled`,
    * InjectRuntimeFilter): Spark injects `BloomFilterAggregate` +
    * `BloomFilterMightContain` into the probe side automatically when
    * its creation-side size estimate clears the threshold — same
    * algebra, planner-discretionary. This key makes the rewrite a
    * DECLARED, always-on part of the plan: the filter build is an
    * ordinary aggregation the optimizer can see through, the geometry
    * is explicit, and the spec pins the shape instead of hoping the
    * planner's thresholds fire. RuntimeFilterSpec documents the
    * comparison. */
  /** [[bloomPrunedFact]]'s collected word tables, memoized per
    * (session, data dir, geometry) — each value is a config-bounded
    * `words`-long Seq of bit words (64 KiB at the declared 8,192), and
    * the weak-keyed [[SessionMemo]] drops it with the session. See the
    * snapshot-semantics note at the collect site. */
  private val bloomWordsMemo = new SessionMemo[(String, Int), Seq[Long]]

  /** The selective build side: urgent orders' keys. */
  private def bloomPruneDim(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))

  /** Stages 1+2 of [[bloomPruneJoin]] — the bloom-pruned fact relation,
    * exposed so RuntimeFilterSpec can measure the prune ratio and pin
    * the no-false-negative invariant directly on the survivor set. */
  private[graft] def bloomPrunedFact(s: SparkSession, dir: String,
      words: Int): DataFrame = {
    val span = words.toLong * BloomPruneBitsPerWord
    def hashPos(key: Column, g: Int): Column =
      pmod(xxhash64(lit(g), key), lit(span))
    // build: ≤ `words` rows cross the (map-side-combined) exchange
    val filterWords = bloomPruneDim(s, dir)
      .select(col("o_orderkey"), explode(array(
        (0 until BloomPruneHashes).map(g => hashPos(col("o_orderkey"), g)): _*))
        .as("pos"))
      .select(floor(col("pos") / BloomPruneBitsPerWord).cast("int").as("word_idx"),
        // 2^k is a double-exact power of two for k ≤ 62 (the
        // agg_bloom_members mask idiom; shiftleft() only takes a
        // literal shift)
        pow(lit(2.0), pmod(col("pos"), lit(BloomPruneBitsPerWord)))
          .cast("long").as("mask"))
      .groupBy("word_idx").agg(expr("bit_or(mask)").as("word"))
    // runtime materialization: the aggregated word table is ≤ `words`
    // rows — bounded by CONFIG, never by data — so it collects to the
    // driver and re-enters the plan as ONE dense array literal. This is
    // exactly InjectRuntimeFilter's shape (build subquery → collected
    // scalar → literal predicate on the probe side), and the literal
    // makes each probe an O(1) codegen'd array index. (A first cut kept
    // the build distributed as a 1-row crossJoin whose dense array came
    // from per-index map lookups — Catalyst maps are linear scans, so
    // that build was O(words²) interpreted work per execution, measured
    // ~3 s at words=8192.)
    // SNAPSHOT SEMANTICS (r17 advice): the collect() below runs at
    // DataFrame-CONSTRUCTION time, so building this plan executes a real
    // (bounded: ≤ `words` rows) Spark job and freezes the build side's
    // key set into the literal — if the orders data changed between
    // construction and execution the bloom could yield false negatives.
    // Safe here because the fixture dirs are immutable within a session
    // (the collapse()/Bcast.measuredBytes contract); a mutable-source
    // deployment would rebuild per execution, which is exactly
    // InjectRuntimeFilter's per-execution cost model. The word table is
    // memoized per (session, dir, words) so repeated CONSTRUCTIONS —
    // bench warm passes, Verify reruns, and the PlanSpec meta-test that
    // plans every declared key — pay the build job once per session
    // instead of once per plan.
    val wordArr = bloomWordsMemo.getOrElseUpdate(s, (dir, words)) {
      val arr = new Array[Long](words)
      filterWords.collect().foreach(r => arr(r.getInt(0)) = r.getLong(1))
      arr.toSeq
    }
    val bloom = typedlit(wordArr)
    val probeHit = (0 until BloomPruneHashes).map { g =>
      val pos = hashPos(col("l_orderkey"), g)
      val wi = floor(pos / BloomPruneBitsPerWord).cast("int")
      val mask = pow(lit(2.0), pmod(pos, lit(BloomPruneBitsPerWord)))
        .cast("long")
      element_at(bloom, wi + 1).bitwiseAND(mask) === mask
    }.reduce(_ && _)
    // probe: map-side filter BELOW the fact's join exchange
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
      .filter(probeHit)
  }

  private[graft] def bloomPruneJoin(s: SparkSession, dir: String,
      words: Int): DataFrame = {
    bloomPrunedFact(s, dir, words)
      .join(bloomPruneDim(s, dir).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      // the DECIMAL folds are exact; the 4dp pin is on the decimal →
      // DOUBLE conversion, which the two engines round differently in
      // the last ulp at sf0.1 magnitudes (caught by verify_scale:
      // 2133720783.32 vs ...3200002) — §7.4's explicit floor chain runs
      // identically on both
      .agg(count(lit(1)).as("n_items"),
        graft.functions.Num.pin(
          sum(col("l_quantity").cast("decimal(28,10)")).cast("double"), 4)
          .as("sum_qty"),
        graft.functions.Num.pin(
          sum(col("l_extendedprice").cast("decimal(28,10)")).cast("double"), 4)
          .as("sum_price"))
      .orderBy("l_returnflag")
  }

  def oracles: Map[String, String] = Map(
    "join_inner_hash" ->
      """SELECT o_orderkey, c_custkey, c_name, o_totalprice
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""",
    "join_left_outer" ->
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         ORDER BY c_custkey, o_orderkey NULLS FIRST""",
    "join_broadcast" ->
      """SELECT r_name,
                CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS revenue,
                count(*) AS n_items
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "join_theta_range" ->
      """SELECT l_orderkey, l_linenumber,
                CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS INT) AS ship_lag_days
         FROM lineitem JOIN orders
           ON l_orderkey = o_orderkey
          AND l_shipdate >= o_orderdate
          AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
         ORDER BY l_orderkey, l_linenumber, ship_lag_days""",
    "join_range_bucket" ->
      """SELECT o_orderkey, count(*) AS n_shipped
         FROM orders o JOIN lineitem l
           ON l.l_shipdate >= o.o_orderdate
          AND l.l_shipdate < o.o_orderdate + INTERVAL 2 DAY
         WHERE o.o_totalprice > 400000
         GROUP BY o_orderkey ORDER BY o_orderkey""",
    // ground truth is the PLAIN overlap-predicate join (DuckDB plans its
    // IEJoin) — the bucketing is Spark-side physical strategy only, so
    // any bucket-boundary bug (missed pair, double-counted pair) breaks
    // the hash compare
    "join_interval" -> s"""
         WITH e AS (
           SELECT user_id, event_id, event_type, ts,
                  CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
         ), marked AS (
           SELECT user_id, es, event_id,
                  CASE WHEN es - lag(es) OVER
                         (PARTITION BY user_id ORDER BY es, event_id)
                         <= ${WindowOps.SessionGapSec}
                       THEN 0 ELSE 1 END AS brk
           FROM e
         ), numbered AS (
           SELECT user_id, es,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY es, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
           FROM marked
         ), sess AS (
           SELECT user_id, min(es) AS ss, max(es) AS se
           FROM numbered GROUP BY user_id, sid
         ), bursts AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  min(es) AS ws, max(es) AS we
           FROM e GROUP BY 1, 2 HAVING count(*) >= $BurstMinEvents
         )
         SELECT b.event_type, b.day, s.user_id, s.ss AS session_start,
                least(s.se, b.we) - greatest(s.ss, b.ws) + 1 AS overlap_sec
         FROM sess s JOIN bursts b ON s.ss <= b.we AND b.ws <= s.se
         ORDER BY event_type, day, user_id, session_start""",
    "join_null_safe" ->
      """WITH c AS (
           SELECT CASE WHEN c_custkey % 199 = 0 THEN NULL
                       ELSE c_nationkey END AS c_nk FROM customer
         ), s AS (
           SELECT CASE WHEN s_suppkey % 97 = 0 THEN NULL
                       ELSE s_nationkey END AS s_nk FROM supplier
         )
         SELECT c_nk IS NULL AS null_key, count(*) AS n_matches
         FROM c JOIN s ON c_nk IS NOT DISTINCT FROM s_nk
         GROUP BY 1 ORDER BY 1""",
    "join_fuzzy" ->
      """WITH names AS (
           SELECT p_name AS name, count(*) AS cnt FROM part GROUP BY p_name
         )
         SELECT a.name AS name_a, b.name AS name_b,
                CAST(hamming(a.name, b.name) AS INT) AS hamming,
                a.cnt * b.cnt AS n_pairs
         FROM names a, names b
         WHERE a.name < b.name
           AND len(a.name) = len(b.name)
           AND hamming(a.name, b.name) <= 3
         ORDER BY name_a, name_b""",
    "join_full_outer" ->
      """SELECT COALESCE(c.day, p.day) AS day,
                COALESCE(c.n_clicks, 0) AS n_clicks,
                COALESCE(p.n_purchases, 0) AS n_purchases
         FROM (SELECT date_trunc('day', ts) AS day, count(*) AS n_clicks
               FROM events WHERE event_type = 'click' GROUP BY 1) c
         FULL JOIN (SELECT date_trunc('day', ts) AS day, count(*) AS n_purchases
                    FROM events WHERE event_type = 'purchase' GROUP BY 1) p
           ON c.day = p.day
         ORDER BY day""",
    "join_asof" ->
      """SELECT p.event_id, p.user_id, p.ts, c.event_id AS click_id, c.ts AS click_ts
         FROM events p LEFT JOIN events c
           ON c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
         WHERE p.event_type = 'purchase'
         QUALIFY row_number() OVER (PARTITION BY p.event_id
                                    ORDER BY c.ts DESC NULLS LAST, c.event_id DESC) = 1
         ORDER BY p.event_id""",
    // deliberately a DIFFERENT formulation than the Spark window merge:
    // raw forward interval join + QUALIFY argmin, ties to min event_id
    "join_asof_forward" ->
      """SELECT c.event_id, c.user_id, c.ts,
                p.event_id AS purchase_id, p.ts AS purchase_ts,
                epoch_us(p.ts) - epoch_us(c.ts) AS latency_us
         FROM events c LEFT JOIN events p
           ON p.user_id = c.user_id AND p.event_type = 'purchase'
          AND p.ts >= c.ts
         WHERE c.event_type = 'click'
         QUALIFY row_number() OVER (PARTITION BY c.event_id
                                    ORDER BY p.ts ASC NULLS LAST, p.event_id ASC) = 1
         ORDER BY c.event_id""",
    "join_asof_tolerance" ->
      """SELECT p.event_id, p.user_id, p.ts, c.event_id AS click_id, c.ts AS click_ts
         FROM events p LEFT JOIN events c
           ON c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
          AND epoch_us(p.ts) - epoch_us(c.ts) <= 1800000000
         WHERE p.event_type = 'purchase'
         QUALIFY row_number() OVER (PARTITION BY p.event_id
                                    ORDER BY c.ts DESC NULLS LAST, c.event_id DESC) = 1
         ORDER BY p.event_id""",
    // ground truth per probe via a lateral argmin over the collapsed
    // (nation, balance) ref relation; ties on distance break to the
    // LOWER balance, matching the Spark side's pick-below preference
    "join_nearest" ->
      """WITH refs AS (
           SELECT CAST(s_nationkey AS BIGINT) AS nk, s_acctbal AS v,
                  min(s_suppkey) AS ref_key
           FROM supplier GROUP BY 1, 2
         )
         SELECT c.c_custkey, CAST(c.c_nationkey AS BIGINT) AS nk, c.c_acctbal,
                r.ref_key AS s_suppkey, r.v AS s_acctbal,
                round(abs(r.v - c.c_acctbal), 2) AS dist
         FROM customer c LEFT JOIN LATERAL (
           SELECT v, ref_key FROM refs
           WHERE refs.nk = CAST(c.c_nationkey AS BIGINT)
           ORDER BY abs(v - c.c_acctbal), v LIMIT 1
         ) r ON TRUE
         ORDER BY c_custkey""",
    // ground truth over the distinct-name relation with the identical
    // pair orientation (longer first; lexicographic when equal length)
    "join_edit_distance" ->
      """WITH names AS (
           SELECT p_name AS name, count(*) AS cnt, length(p_name) AS len
           FROM part GROUP BY 1
         )
         SELECT a.name AS a, b.name AS b,
                CAST(levenshtein(a.name, b.name) AS INT) AS dist,
                a.cnt AS cnt_a, b.cnt AS cnt_b
         FROM names a JOIN names b
           ON ((a.len > b.len AND a.len - b.len <= 2)
               OR (a.len = b.len AND a.name < b.name))
          AND levenshtein(a.name, b.name) <= 2
         ORDER BY a, b""",

    // the bloom is plan-internal sideband pruning: no false negatives +
    // exact residual join ⇒ the result IS the plain selective equi-join
    "join_bloom_prune" ->
      """SELECT l_returnflag, count(*) AS n_items,
                floor(CAST(sum(CAST(l_quantity AS DECIMAL(28,10)))
                           AS DOUBLE) * 1e4 + 0.5) / 1e4 AS sum_qty,
                floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,10)))
                           AS DOUBLE) * 1e4 + 0.5) / 1e4 AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT'
         GROUP BY l_returnflag
         ORDER BY l_returnflag"""
  )
}
