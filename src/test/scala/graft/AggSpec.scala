package graft

import org.apache.spark.sql.functions._

import graft.operators.AggOps

/** Aggregate semantics that the DuckDB oracle can't check (sketches) plus
  * the UDAF surface. */
class AggSpec extends SparkSpec {

  test("agg_bitmap_distinct equals the direct COUNT(DISTINCT)") {
    val bm = AggOps.queries("agg_bitmap_distinct")(spark, SfDir).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_distinct")).toMap
    val direct = Tables.events(spark, SfDir)
      .groupBy("event_type").agg(countDistinct("user_id").as("d"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("d")).toMap
    assert(bm === direct, "bitmap popcount must be exactly the distinct count")
  }

  test("agg_geomean respects the AM ≥ GM ≥ HM chain") {
    val rows = AggOps.queries("agg_geomean")(spark, SfDir).collect()
    assert(rows.nonEmpty)
    val am = Tables.lineitem(spark, SfDir).groupBy("l_returnflag")
      .agg(avg("l_extendedprice").as("am"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("am")).toMap
    rows.foreach { r =>
      val (g, h) = (r.getAs[Double]("geo_mean"), r.getAs[Double]("harm_mean"))
      val a = am(r.getString(0))
      assert(h > 0 && g > 0)
      assert(h <= g + 1e-6 && g <= a + 1e-6,
        s"${r.getString(0)}: Pythagorean-mean inequality violated: $h ≤ $g ≤ $a")
    }
  }

  test("agg_weighted_median satisfies the defining half-mass property") {
    // the oracle pins cross-engine agreement; this pins the DEFINITION:
    // cumulative weight strictly below the median is < half the total,
    // and including the median reaches half
    val med = AggOps.queries("agg_weighted_median")(spark, SfDir).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("weighted_median")).toMap
    val li = Tables.lineitem(spark, SfDir)
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    med.foreach { case (flag, m) =>
      val grp = li.filter(_._1 == flag)
      val total = grp.map(_._3).sum
      val below = grp.filter(_._2 < m).map(_._3).sum
      val upto = grp.filter(_._2 <= m).map(_._3).sum
      assert(below * 2 < total + 1e-6, s"$flag: mass below median too large")
      assert(upto * 2 >= total - 1e-6, s"$flag: median fails to reach half mass")
    }
  }

  test("agg_regression_multi coefficients solve the normal equations") {
    // recompute the moment matrix independently and check M·b = rhs —
    // pins the Cramer arithmetic, not just cross-engine agreement
    val rows = AggOps.queries("agg_regression_multi")(spark, SfDir).collect()
    assert(rows.nonEmpty)
    val sums = Tables.lineitem(spark, SfDir).groupBy("l_returnflag")
      .agg(count(lit(1)).cast("double").as("n"),
        sum("l_quantity").as("sx"), sum("l_discount").as("sd"),
        sum("l_extendedprice").as("sy"),
        sum(col("l_quantity") * col("l_quantity")).as("sxx"),
        sum(col("l_quantity") * col("l_discount")).as("sxd"),
        sum(col("l_discount") * col("l_discount")).as("sdd"),
        sum(col("l_quantity") * col("l_extendedprice")).as("sxy"),
        sum(col("l_discount") * col("l_extendedprice")).as("sdy"))
      .collect().map(r => r.getString(0) -> r).toMap
    rows.foreach { r =>
      val s = sums(r.getString(0))
      def g(c: String) = s.getAs[Double](c)
      val (b0, b1, b2) = (r.getAs[Double]("b0"), r.getAs[Double]("b1"),
        r.getAs[Double]("b2"))
      // each normal equation, relative tolerance (price sums are ~1e8)
      val eq = Seq(
        (g("n") * b0 + g("sx") * b1 + g("sd") * b2, g("sy")),
        (g("sx") * b0 + g("sxx") * b1 + g("sxd") * b2, g("sxy")),
        (g("sd") * b0 + g("sxd") * b1 + g("sdd") * b2, g("sdy")))
      eq.foreach { case (lhs, rhs) =>
        assert(math.abs(lhs - rhs) <= 1e-4 * math.max(1.0, math.abs(rhs)),
          s"${r.getString(0)}: normal equation violated: $lhs vs $rhs")
      }
    }
  }

  test("agg_skew_kurt's closed form matches Spark's native skewness/kurtosis") {
    // the oracle pins cross-engine determinism; this pins the FORMULA —
    // the exact-DECIMAL raw-moment solve must agree with Spark's
    // population skewness()/kurtosis() (same definition, double folds)
    // to within floating-point noise
    val closed = AggOps.queries("agg_skew_kurt")(spark, SfDir).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Double]("skewness"), r.getAs[Double]("kurtosis"))).toMap
    val native = Tables.lineitem(spark, SfDir).groupBy("l_returnflag")
      .agg(skewness(col("l_quantity")).as("sk"),
        kurtosis(col("l_quantity")).as("ku"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(closed.keySet === native.keySet)
    closed.foreach { case (flag, (sk, ku)) =>
      assert(math.abs(sk - native(flag)._1) < 1e-6,
        s"$flag skewness: closed $sk vs native ${native(flag)._1}")
      assert(math.abs(ku - native(flag)._2) < 1e-6,
        s"$flag kurtosis: closed $ku vs native ${native(flag)._2}")
      // Pearson's inequality: excess kurtosis >= skewness^2 - 2
      assert(ku >= sk * sk - 2 - 1e-9, s"$flag violates kurt >= skew^2 - 2")
    }
  }

  test("text_topk_sketch (SpaceSaving) is exact when capacity exceeds the vocabulary") {
    val sketch = graft.operators.TextOps.queries("text_topk_sketch")(spark, SfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.operators.TextOps.queries("text_tokens")(spark, SfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.size <= 64, "fixture vocabulary must fit the sketch capacity")
    assert(sketch === exact)
  }

  test("text_countmin (Count-Min) overestimates by at most eps*N vs exact counts") {
    val est = graft.operators.TextOps.queries("text_countmin")(spark, SfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.operators.TextOps.queries("text_tokens")(spark, SfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val eps = math.E / graft.operators.TextOps.CountMinWidth
    assert(est.keySet === graft.operators.TextOps.CountMinProbes.toSet)
    graft.operators.TextOps.CountMinProbes.foreach { p =>
      val truth = exact.getOrElse(p, 0L)
      val a = est(p)
      assert(a >= truth, s"$p: CM must never underestimate (est=$a exact=$truth)")
      assert(a <= truth + math.ceil(eps * n).toLong,
        s"$p: est=$a exceeds exact=$truth + eps*N bound")
    }
  }

  test("approx_count_distinct is within 5% of exact per event_type") {
    val approx = AggOps.queries("agg_approx_distinct")(spark, SfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, SfDir)
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (k, n) =>
      val a = approx(k)
      assert(math.abs(a - n).toDouble / n <= 0.05,
        s"$k: approx=$a exact=$n beyond 5%")
    }
  }

  test("mergeable HLL (daily sketches union-merged) is within 5% of exact") {
    val approx = AggOps.queries("agg_hll_mergeable")(spark, SfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, SfDir)
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (k, n) =>
      val a = approx(k)
      assert(math.abs(a - n).toDouble / n <= 0.05,
        s"$k: merged-sketch=$a exact=$n beyond 5%")
    }
  }

  test("approximate percentiles land within 2% of the exact quantiles") {
    val approx = AggOps.queries("agg_approx_percentile")(spark, SfDir)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val exact = AggOps.queries("agg_percentiles")(spark, SfDir)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(approx.keySet === exact.keySet)
    for ((k, (a50, a90, a99)) <- approx; (e50, e90, e99) = exact(k);
         (a, e) <- Seq((a50, e50), (a90, e90), (a99, e99)))
      assert(math.abs(a - e) / e <= 0.02, s"$k: approx=$a exact=$e beyond 2%")
  }

  test("agg_tdigest: merged daily digests land within rank-error bounds " +
      "of the exact quantiles") {
    val got = AggOps.queries("agg_tdigest")(spark, SfDir)
      .collect().map(r => r.getString(0) ->
        Seq(0.5 -> r.getDouble(1), 0.9 -> r.getDouble(2),
          0.99 -> r.getDouble(3))).toMap
    val byType = Tables.events(spark, SfDir)
      .select("event_type", "value").collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(_.getDouble(1)).sorted.toIndexedSeq).toMap
    assert(got.keySet === byType.keySet)
    for ((tpe, qs) <- got; (q, v) <- qs) {
      val vals = byType(tpe)
      val n = vals.length.toDouble
      // true rank bracket of the reported value; the estimate must sit
      // within 2.5% rank error of the probed quantile (δ=100 gives ≲1%
      // mid-range in theory; 2.5% absorbs interpolation at group sizes)
      val lo = vals.count(_ < v) / n
      val hi = vals.count(_ <= v) / n
      assert(q >= lo - 0.025 && q <= hi + 0.025,
        s"$tpe q=$q: value $v has rank bracket [$lo, $hi] — beyond 2.5%")
    }
  }

  test("agg_kmv_jaccard: a small-K sketch estimates the exact cell " +
      "Jaccard within the KMV error bound; K past the universe is exact") {
    val cells = Tables.events(spark, SfDir)
      .select(col("event_type"),
        concat_ws("|", col("user_id"), to_date(col("ts"))).as("cell"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    val byType = cells.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def exactJ(a: String, b: String): Double = {
      val (sa, sb) = (byType(a), byType(b))
      (sa & sb).size.toDouble / (sa | sb).size
    }
    // the declared key runs at KmvK=256 over a fixture universe that
    // EXCEEDS it (~1,600 cells per type at sf0.01 — see the KmvK
    // scaladoc in AggOps), so the declared key already estimates and
    // the oracle pins that path bit-for-bit; K=32 here forces a much
    // SMALLER sketch — sketches truncate, jaccard_est is a
    // sample statistic — and the deterministic md5 draw must land within
    // a generous 3σ-style bound of the exact cell Jaccard
    val small = AggOps.kmvJaccard(spark, SfDir, 32).collect()
    assert(small.length >= 3, "fixture must produce type pairs")
    small.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(r.getAs[Long]("k_used") === 32L,
        s"$a×$b: union sketch smaller than K — universe did not exceed " +
          "K, the estimation path was not exercised")
      val est = r.getAs[Double]("jaccard_est")
      val ex = exactJ(a, b)
      assert(math.abs(est - ex) <= 0.3,
        s"$a×$b: est=$est exact=$ex — beyond the K=32 error bound")
    }
    // K beyond every pair's union: k_used = |A∪B| and the estimate IS
    // the exact Jaccard (the sketch degrades to the true set)
    val big = AggOps.kmvJaccard(spark, SfDir, 1000000).collect()
    big.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val ex = exactJ(a, b)
      assert(r.getAs[Long]("k_used") === (byType(a) | byType(b)).size.toLong)
      assert(math.abs(r.getAs[Double]("jaccard_est") -
        math.floor(ex * 1e6 + 0.5) / 1e6) < 1e-12)
    }
  }

  test("TDigestQuantilesAgg honors an arbitrary probe vector (r14 " +
      "verdict item 2: probes were hard-coded p50/p90/p99)") {
    import org.apache.spark.sql.functions.udaf
    val sk = udaf(new graft.functions.TDigestSketchAgg,
      org.apache.spark.sql.Encoders.scalaDouble)
    val probes = Seq(0.25, 0.75, 0.95)
    val qs = udaf(new graft.functions.TDigestQuantilesAgg(probes),
      org.apache.spark.sql.Encoders.BINARY)
    val got = Tables.events(spark, SfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sk(col("value")).as("sk"))
      .groupBy("event_type")
      .agg(qs(col("sk")).as("qv"))
      .select(col("event_type"), col("qv.qs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val byType = Tables.events(spark, SfDir)
      .select("event_type", "value").collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(_.getDouble(1)).sorted.toIndexedSeq).toMap
    assert(got.keySet === byType.keySet)
    for ((tpe, vec) <- got) {
      assert(vec.length === probes.length,
        s"$tpe: expected ${probes.length} estimates, got ${vec.length}")
      val vals = byType(tpe)
      val n = vals.length.toDouble
      for ((q, v) <- probes.zip(vec)) {
        val lo = vals.count(_ < v) / n
        val hi = vals.count(_ <= v) / n
        assert(q >= lo - 0.025 && q <= hi + 0.025,
          s"$tpe q=$q: value $v has rank bracket [$lo, $hi] — beyond 2.5%")
      }
    }
  }

  test("t-digest conserves mass and merges associatively within the " +
      "rank-error bound") {
    import graft.functions.TDigest
    // deterministic skewed corpus: heavy head, long tail
    val vals = (0 until 5000).map { i =>
      val u = ((i * 2654435761L) % 10000L) / 10000.0
      math.pow(u, 3.0) * 1000.0
    }
    val chunks = vals.grouped(1700).toSeq
    def sketchOf(xs: Seq[Double]): Array[Byte] = {
      val b = TDigest.empty()
      xs.foreach(x => TDigest.insert(b, x, 1L))
      TDigest.serialize(b)
    }
    val parts = chunks.map(sketchOf)
    def mergedQuantiles(order: Seq[Array[Byte]]): (Long, Seq[Double]) = {
      val b = TDigest.empty()
      order.foreach(TDigest.deserializeInto(b, _))
      val bytes = TDigest.serialize(b)
      (TDigest.totalWeight(bytes),
        Seq(0.1, 0.5, 0.9, 0.99).map(TDigest.quantileOf(bytes, _)))
    }
    val (w1, q1) = mergedQuantiles(parts)
    val (w2, q2) = mergedQuantiles(parts.reverse)
    // mass conservation: every input point's weight survives every
    // compaction and merge, in any merge order
    assert(w1 === vals.length.toLong)
    assert(w2 === vals.length.toLong)
    // both merge orders satisfy the rank-error contract vs the raw data
    val sorted = vals.sorted
    val n = sorted.length.toDouble
    for ((qs, tag) <- Seq(q1 -> "fwd", q2 -> "rev");
         (q, v) <- Seq(0.1, 0.5, 0.9, 0.99).zip(qs)) {
      val lo = sorted.count(_ < v) / n
      val hi = sorted.count(_ <= v) / n
      assert(q >= lo - 0.02 && q <= hi + 0.02,
        s"$tag q=$q: value $v rank bracket [$lo, $hi] — beyond 2%")
    }
  }

  test("agg_simpson equals the brute strata replay and flags genuine " +
      "sign reversals against the pooled gap") {
    val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    val orders = Tables.orders(spark, SfDir)
      .select("o_orderdate", "o_orderpriority", "o_orderstatus").collect()
      .map(r => (r.getAs[java.sql.Timestamp](0).toInstant.atZone(zone).getYear,
        if (r.getString(1).substring(0, 1) <= "2") 1L else 0L,
        if (r.getString(2) == "F") 1L else 0L))
    def pin6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val nT = orders.map(_._2).sum
    val nC = orders.length - nT
    val pooled = orders.collect { case (_, 1L, y) => y }.sum.toDouble / nT -
      orders.collect { case (_, 0L, y) => y }.sum.toDouble / nC
    val want = orders.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (yr, rs) =>
      val nt = rs.map(_._2).sum
      val nc = rs.length - nt
      if (nt == 0 || nc == 0) None
      else {
        val rt = rs.collect { case (_, 1L, y) => y }.sum.toDouble / nt
        val rc = rs.collect { case (_, 0L, y) => y }.sum.toDouble / nc
        Some((yr, nt, nc, pin6(rt), pin6(rc), pin6(rt - rc), pin6(pooled),
          (rt - rc) * pooled < 0))
      }
    }
    val got = AggOps.queries("agg_simpson")(spark, SfDir).collect()
      .map(r => (r.getAs[Int]("yr"), r.getAs[Long]("n_t"),
        r.getAs[Long]("n_c"), r.getAs[Double]("rate_t"),
        r.getAs[Double]("rate_c"), r.getAs[Double]("diff"),
        r.getAs[Double]("pooled_diff"), r.getAs[Boolean]("reversed"))).toSeq
    assert(got === want)
    assert(want.nonEmpty && want.map(_._2).sum === nT,
      "strata must partition the treated population")
  }

  test("agg_kendall_tau equals the brute all-pairs concordance replay") {
    val rows = Tables.lineitem(spark, SfDir)
      .select("l_quantity", "l_discount").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    var cc = 0L; var dd = 0L
    var i = 0
    while (i < rows.length) {
      var j = i + 1
      while (j < rows.length) {
        val sx = java.lang.Double.compare(rows(i)._1, rows(j)._1)
        val sy = java.lang.Double.compare(rows(i)._2, rows(j)._2)
        if (sx != 0 && sy != 0) { if (sx == sy) cc += 1 else dd += 1 }
        j += 1
      }
      i += 1
    }
    val n = rows.length.toDouble
    val n1d = rows.groupBy(_._1).values
      .map(g => g.length.toDouble * (g.length - 1)).sum
    val n2d = rows.groupBy(_._2).values
      .map(g => g.length.toDouble * (g.length - 1)).sum
    val tau = 2.0 * (cc.toDouble - dd.toDouble) /
      (math.sqrt(n * (n - 1.0) - n1d) * math.sqrt(n * (n - 1.0) - n2d))
    def pin6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val r = AggOps.queries("agg_kendall_tau")(spark, SfDir).collect()(0)
    assert(r.getAs[Long]("n") === rows.length.toLong)
    assert(r.getAs[Long]("n_concordant") === cc)
    assert(r.getAs[Long]("n_discordant") === dd)
    assert(r.getAs[Double]("tau_b") === pin6(tau))
    assert(math.abs(r.getAs[Double]("tau_b")) <= 1.0)
  }

  test("WeightedAvg aggregator matches sum(p*d)/sum(d) directly") {
    val rows = AggOps.queries("agg_custom_wavg")(spark, SfDir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val direct = Tables.lineitem(spark, SfDir)
      .groupBy("l_returnflag")
      .agg(round(sum(col("l_extendedprice") * col("l_discount")) /
        sum(col("l_discount")), 4).as("w"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows.keySet === direct.keySet)
    rows.foreach { case (k, v) => assert(math.abs(v - direct(k)) < 1e-6) }
  }

  test("fn_map builds maps with the declared keys and values") {
    val r = graft.operators.FunctionOps.queries("fn_map")(spark, SfDir)
      .filter(col("n_nationkey") === 0).collect()(0)
    assert(r.getAs[Int]("n_keys") === 2)
    assert(r.getAs[String]("name_val") != null)
  }

  test("agg_chi2 marginals are consistent and chi2 totals the contributions") {
    // the oracle pins cross-engine values; this pins the contingency
    // algebra: row/col marginals really are the sums of their cells, the
    // cell counts sum to n, and chi2 is the sum of every contribution
    val rows = AggOps.queries("agg_chi2")(spark, SfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("status")).foreach { case (_, cells) =>
      assert(cells.map(_.getAs[Long]("obs")).sum ==
        cells.head.getAs[Long]("row_tot"))
    }
    rows.groupBy(_.getAs[String]("priority")).foreach { case (_, cells) =>
      assert(cells.map(_.getAs[Long]("obs")).sum ==
        cells.head.getAs[Long]("col_tot"))
    }
    val chi2 = rows.head.getAs[Double]("chi2")
    val total = rows.map(_.getAs[Double]("contrib")).sum
    assert(chi2 >= 0.0 && math.abs(chi2 - total) < 1e-6,
      s"chi2=$chi2 vs contrib total=$total")
  }

  test("agg_bowley_skew is quartile-coherent and bounded") {
    val rows = AggOps.queries("agg_bowley_skew")(spark, SfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (q1, med, q3) = (r.getAs[Double]("q1"),
        r.getAs[Double]("median"), r.getAs[Double]("q3"))
      assert(q1 <= med + 1e-9 && med <= q3 + 1e-9, "quartile ordering")
      assert(r.getAs[Double]("iqr") > 0.0, "degenerate groups are excluded")
      val b = r.getAs[Double]("bowley")
      assert(b >= -1.0 - 1e-9 && b <= 1.0 + 1e-9, s"Bowley out of range: $b")
      // recompute from the PUBLISHED 4dp quartiles: agreement within the
      // pin propagation (4dp inputs -> ~1e-3 on the ratio)
      val replay = (q3 + q1 - 2.0 * med) / (q3 - q1)
      assert(math.abs(b - replay) < 1e-3, s"bowley $b vs quartile replay $replay")
    }
  }

  test("agg_cramers_v replays the dense-grid chi-square and stays in [0,1]") {
    val r = AggOps.queries("agg_cramers_v")(spark, SfDir).head()
    val (n, nr, nc) = (r.getAs[Long]("n"), r.getAs[Long]("r"), r.getAs[Long]("c"))
    val (chi2, v) = (r.getAs[Double]("chi2"), r.getAs[Double]("cramers_v"))
    // brute replay over the DENSE contingency grid (empty cells carry
    // their full expected mass — the textbook statistic, not the
    // observed-cells shortcut)
    val docs = Tables.documents(spark, SfDir)
      .select("lang", "source").collect()
      .map(row => (row.getString(0), row.getString(1)))
    val langs = docs.map(_._1).distinct.sorted
    val sources = docs.map(_._2).distinct.sorted
    val obs = docs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    def pin6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val contribs = for (l <- langs; s <- sources) yield {
      val o = obs.getOrElse((l, s), 0L)
      val rowTot = sources.map(ss => obs.getOrElse((l, ss), 0L)).sum
      val colTot = langs.map(ll => obs.getOrElse((ll, s), 0L)).sum
      val e = pin6(rowTot.toDouble * colTot / docs.length)
      pin6((o - e) * (o - e) / e)
    }
    val wantChi2 = contribs.map(c => BigDecimal(c).setScale(10,
      BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
    assert(n === docs.length.toLong)
    assert(nr === langs.length.toLong && nc === sources.length.toLong)
    assert(math.abs(chi2 - pin6(wantChi2)) < 1e-9, s"chi2 $chi2 vs $wantChi2")
    assert(v >= 0.0 && v <= 1.0 + 1e-9, s"Cramér's V out of range: $v")
    assert(math.abs(v -
      pin6(math.sqrt(wantChi2 / (n * math.min(nr - 1, nc - 1))))) < 1e-9)
  }

  test("agg_mad matches a brute-force interpolating median of deviations") {
    def q50(xs: Array[Double]): Double = {
      val s = xs.sorted
      val pos = 0.5 * (s.length - 1)
      val (lo, hi) = (s(pos.toInt), s(math.ceil(pos).toInt))
      lo + (pos - pos.toInt) * (hi - lo)
    }
    val got = AggOps.queries("agg_mad")(spark, SfDir).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Double]("med"), r.getAs[Double]("mad"))).toMap
    val vals = Tables.events(spark, SfDir)
      .select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0)).map { case (t, rs) =>
        t -> rs.map(_.getDouble(1))
      }
    assert(got.keySet === vals.keySet)
    vals.foreach { case (t, xs) =>
      val m = q50(xs)
      val mad = q50(xs.map(x => math.abs(x - m)))
      val (gm, gd) = got(t)
      assert(math.abs(gm - m) < 1e-3, s"$t median: $gm vs $m")
      assert(math.abs(gd - mad) < 1e-3, s"$t mad: $gd vs $mad")
    }
  }

  test("agg_tukey_outliers and agg_winsorized obey their robust-stat bounds") {
    val tk = AggOps.queries("agg_tukey_outliers")(spark, SfDir).collect()
    tk.foreach { r =>
      assert(r.getAs[Long]("n_outliers") <= r.getAs[Long]("n"))
      assert(r.getAs[Double]("outlier_rate") < 0.25,
        "the 1.5-IQR fences must contain the central half and then some")
      assert(r.getAs[Double]("q1") <= r.getAs[Double]("q3"))
    }
    val wz = AggOps.queries("agg_winsorized")(spark, SfDir).collect()
    wz.foreach { r =>
      val (w, p05, p95) = (r.getAs[Double]("winsorized_mean"),
        r.getAs[Double]("p05"), r.getAs[Double]("p95"))
      assert(w >= p05 - 1e-6 && w <= p95 + 1e-6,
        "a mean of values clamped to [p05, p95] stays inside the clamp")
    }
  }

  test("agg_assoc_rules identities hold against raw basket counts") {
    val rows = AggOps.queries("agg_assoc_rules")(spark, SfDir).collect()
    val ut = Tables.events(spark, SfDir)
      .select("user_id", "event_type").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val users = ut.map(_._1).distinct.length
    val byType = ut.groupBy(_._2).map { case (t, xs) => t -> xs.map(_._1).toSet }
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val nab = (byType(a) intersect byType(b)).size.toLong
      assert(r.getAs[Long]("n_ab") === nab, s"$a->$b joint support")
      assert(math.abs(r.getAs[Double]("confidence") -
        nab.toDouble / byType(a).size) < 1e-6)
      assert(math.abs(r.getAs[Double]("support") -
        nab.toDouble / users) < 1e-6)
      // lift symmetry: lift(a->b) == lift(b->a)
      val rev = rows.find(x => x.getString(0) == b && x.getString(1) == a).get
      assert(math.abs(r.getAs[Double]("lift") - rev.getAs[Double]("lift")) < 1e-5)
    }
  }

  test("agg_hhi stays inside the concentration bounds") {
    val rows = AggOps.queries("agg_hhi")(spark, SfDir).collect()
    rows.foreach { r =>
      val (n, hhi) = (r.getAs[Long]("n_custs"), r.getAs[Double]("hhi"))
      assert(hhi <= 10000.0 + 1e-6, "monopoly caps the index at 10000")
      assert(hhi >= 10000.0 / n - 1e-4,
        s"perfect competition floors the index at 10000/n: $hhi vs ${10000.0 / n}")
    }
  }

  test("agg_gini matches the naive sorted-rank formula per group") {
    // the distributed tie-block closed form must equal the textbook
    // G = 2·Σ i·xᵢ/(n·Σx) − (n+1)/n over a plain sort
    val got = AggOps.queries("agg_gini")(spark, SfDir).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("gini")).toMap
    val vals = Tables.orders(spark, SfDir)
      .select(col("o_orderpriority"), col("o_totalprice")).collect()
      .groupBy(_.getString(0)).map { case (g, rs) =>
        g -> rs.map(_.getDouble(1)).sorted
      }
    assert(got.keySet === vals.keySet)
    vals.foreach { case (g, xs) =>
      val n = xs.length
      val s2 = xs.zipWithIndex.map { case (x, i) => (i + 1).toDouble * x }.sum
      val gini = 2.0 * s2 / (n * xs.sum) - (n + 1.0) / n
      assert(math.abs(got(g) - gini) < 1e-5, s"$g: ${got(g)} vs $gini")
      assert(got(g) >= 0.0 && got(g) < 1.0)
    }
  }

  test("agg_trimmed_mean replays brute-force and brackets sensibly") {
    val rows = AggOps.queries("agg_trimmed_mean")(spark, SfDir).collect()
    val byType = Tables.events(spark, SfDir)
      .select("event_type", "value").collect()
      .groupBy(_.getString(0)).map { case (t, rs) => t -> rs.map(_.getDouble(1)) }
    assert(rows.map(_.getString(0)).toSet === byType.keySet)
    rows.foreach { r =>
      val xs = byType(r.getString(0)).sorted
      // brute interpolating percentiles (the Spark/DuckDB contract)
      def pct(p: Double) = {
        val h = (xs.length - 1) * p
        val lo = h.toInt
        if (lo == xs.length - 1) xs(lo)
        else xs(lo) + (h - lo) * (xs(lo + 1) - xs(lo))
      }
      val (p05, p95) = (pct(0.05), pct(0.95))
      val kept = xs.filter(x => x >= p05 && x <= p95)
      assert(r.getAs[Long]("n_kept") === kept.length.toLong,
        s"${r.getString(0)}: kept count")
      assert(math.abs(r.getAs[Double]("trimmed_mean") -
        kept.sum / kept.length) < 1e-3, s"${r.getString(0)}: trimmed mean")
      // trimming drops ~10% of rows and the result stays inside the fences
      assert(kept.length >= (xs.length * 0.85).toInt)
      assert(r.getAs[Double]("trimmed_mean") >= p05 - 1e-9 &&
        r.getAs[Double]("trimmed_mean") <= p95 + 1e-9)
    }
  }

  test("agg_theil satisfies the between/within decomposition identity") {
    val rows = AggOps.queries("agg_theil")(spark, SfDir).collect()
    assert(rows.length === 5, "one row per order priority")
    val tb = rows.head.getAs[Double]("theil_between")
    val tt = rows.head.getAs[Double]("theil_total")
    assert(rows.forall(r => r.getAs[Double]("theil_between") === tb &&
      r.getAs[Double]("theil_total") === tt),
      "between/total are global columns, identical on every row")
    // the additive decomposition is Theil's defining property:
    // T_total = T_between + Σ value_share_g · T_within_g
    val within = rows.map(r =>
      r.getAs[Double]("value_share") * r.getAs[Double]("theil_within")).sum
    assert(math.abs(tt - (tb + within)) < 1e-4,
      s"decomposition broke: $tt vs between $tb + within $within")
    assert(tt >= 0.0 && tb >= -1e-9, "Theil indices are nonnegative")
    assert(math.abs(rows.map(_.getAs[Double]("value_share")).sum - 1.0) < 1e-5)
  }

  test("agg_lorenz curve is below the diagonal and partitions the corpus") {
    val rows = AggOps.queries("agg_lorenz")(spark, SfDir).collect()
    assert(rows.length === 10, "ten population deciles")
    val nOrders = Tables.orders(spark, SfDir).count()
    assert(rows.map(_.getAs[Long]("n_orders")).sum === nOrders,
      "deciles must partition the order population")
    val pop = rows.map(_.getAs[Double]("cum_pop_share"))
    val v = rows.map(_.getAs[Double]("cum_value_share"))
    assert(pop.zip(pop.tail).forall { case (a, b) => a < b }, "pop share strictly grows")
    assert(v.zip(v.tail).forall { case (a, b) => a < b }, "value share strictly grows")
    assert(math.abs(pop.last - 1.0) < 1e-9 && math.abs(v.last - 1.0) < 1e-9,
      "both shares reach 1 at the last decile")
    // ordered poorest-first, cumulative value lags cumulative population
    pop.zip(v).foreach { case (p, vv) =>
      assert(vv <= p + 1e-9, s"Lorenz point above the diagonal: $vv > $p")
    }
  }

  test("agg_lorenz equals a driver-side replay of the decile cumsums") {
    // the bucketed plan must put every distinct value in the decile the
    // plain global cumsum puts it in (tie blocks never split)
    val got = AggOps.queries("agg_lorenz")(spark, SfDir).collect().toSeq
    val byVal = Tables.orders(spark, SfDir).select(col("o_totalprice"))
      .collect().map(_.getDouble(0)).groupBy(identity)
      .map { case (v, vs) => v -> vs.length.toLong }.toSeq.sortBy(_._1)
    val nt = byVal.map(_._2).sum
    var cb = 0L
    var cv = BigDecimal(0)
    val cells = byVal.map { case (v, c) =>
      cb += c
      cv += BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP) * c
      (math.min(9L, (10 * cb + nt - 1) / nt - 1), c, cb, cv)
    }
    val want = cells.groupBy(_._1).toSeq.sortBy(_._1).map { case (d, cs) =>
      (d, cs.map(_._2).sum, cs.map(_._3).max, cs.map(_._4).max)
    }
    def pin6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    assert(got.map(_.getAs[Long]("decile")) === want.map(_._1))
    got.zip(want).foreach { case (r, (d, n, cumN, cumV)) =>
      assert(r.getAs[Long]("n_orders") === n, s"decile $d")
      assert(r.getAs[Double]("cum_pop_share") === pin6(cumN.toDouble / nt), s"decile $d")
      assert(math.abs(r.getAs[Double]("cum_value_share") -
        pin6((cumV / cv).toDouble)) <= 1.5e-6, s"decile $d")
    }
  }

  test("agg_bloom_members: zero false negatives at the declared geometry; " +
      "a saturated 2-word filter keeps zero FNs and MUST false-positive") {
    def noFalseNegatives(rows: Array[org.apache.spark.sql.Row]): Unit =
      rows.foreach { r =>
        if (r.getAs[Boolean]("actual"))
          assert(r.getAs[Boolean]("bloom_hit"),
            s"FALSE NEGATIVE at user ${r.getAs[Long]("user_id")} — " +
              "structurally impossible unless build/probe hash chains fork")
      }
    // sf0.01, not SfDir: the saturation argument below needs the
    // 133-member last day (sf0.001's 14 members can't fill even 2 words)
    val dir = "/root/testdata/sf0.01"
    val full = AggOps.queries("agg_bloom_members")(spark, dir).collect()
    assert(full.length === AggOps.BloomPanel.size, "one row per panel probe")
    noFalseNegatives(full)
    // panel covers both surfaces: some members, and the 12 big ids that
    // can never be members at any SF
    assert(full.count(_.getAs[Boolean]("actual")) >= 1, "no member probes")
    assert(full.count(r => !r.getAs[Boolean]("actual")) >= 12,
      "the guaranteed-non-member probes are missing")
    // declared geometry at sf0.01 (~133 members x 4 bits in 4096 slots):
    // the closed-form FPR must sit in the sparse-filter band
    val fpr = full.head.getAs[Double]("fpr_est")
    assert(fpr > 0.0 && fpr < 0.05, s"fpr_est=$fpr outside the sparse band")

    // forced saturation (words=2 -> 126 slots): 133 members x 4 hashes
    // set 125/126 bits, so (deterministically, on this fixture) all 12
    // guaranteed-non-member probes come back as false positives
    val small = AggOps.bloomMembers(spark, dir, 2).collect()
    noFalseNegatives(small)
    assert(small.exists(_.getAs[Boolean]("false_positive")),
      "saturated 2-word filter produced no false positive")
    // fpr_est IS fill^4 of the 126-slot geometry, bit-recomputable
    val bits = small.head.getAs[Long]("bits_set")
    val f = bits.toDouble / 126
    val sfpr = small.head.getAs[Double]("fpr_est")
    assert(math.abs(sfpr - f * f * f * f) < 1e-7,
      s"fpr_est=$sfpr != fill^4=${f * f * f * f}")
    assert(sfpr > 0.5, s"2-word filter should be near-saturated, got $sfpr")
  }
}
