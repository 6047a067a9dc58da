package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the JVM (codegen compiler, parquet readers, shuffle machinery,
    // broadcast exchange, window exec, and the custom pairwise operator)
    // on BOUNDED inputs so the first timed queries don't absorb one-time
    // startup + JIT cost
    try {
      import org.apache.spark.sql.functions._
      Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count().count()
      Tables.events(spark, sfDir).count()
      val docs = Tables.documents(spark, sfDir).limit(200)
        .select(col("doc_id"),
          array_sort(transform(array_distinct(split(col("text"), " ")),
            t => xxhash64(t))).as("th"))
      graft.plans.SelfPairwise(docs, graft.plans.SelfPairwise.Jaccard,
        0.5, triangular = true).count()
      val emb = Tables.embeddings(spark, sfDir).limit(200)
        .select(col("vec_id"), col("embedding"))
      graft.plans.SelfPairwise(emb, graft.plans.SelfPairwise.Cosine,
        Double.MinValue, triangular = true, topK = 3).count()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy("o_orderkey")
      Tables.orders(spark, sfDir).limit(2000)
        .withColumn("rn", row_number().over(w)).count()
    } catch {
      // a broken warm-up only shifts one-time cost into the first timed
      // queries, so the run carries on, but the cause must be visible
      case e: Throwable =>
        System.err.println(s"[bench] warm-up FAILED: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(200))
    }
    // Dev loop: SPARK_GRAFT_ONLY=q1,q2 times a subset (driver leaves it
    // unset and measures everything).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // fail fast on a misspelled filter name — a silent drop times a
    // subset the caller didn't ask for (same guard as graft.Verify)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: " +
          unknown.toSeq.sorted.mkString(", "))
    }
    val selected = only match {
      case Some(ks) => SparkEntry.queries.filter { case (k, _) => ks(k) }
      case None     => SparkEntry.queries
    }
    // SPARK_GRAFT_REPEAT=N times each query N times in one JVM. Default 4:
    // pass 1 is the COLD time (plan analysis + Janino codegen + host
    // noise); over the remaining passes the per-query MIN is the WARM
    // plan-cost floor and the per-query MEDIAN is the noise-robust
    // round-over-round signal (host CPU steal swings individual readings
    // ±100% — a median of 3 warm passes is what makes a regression
    // trustworthy; the min alone can mask one, the mean absorbs outliers).
    // All three totals go in the JSON so a cold outlier (e.g. a 9 s first
    // zorder_layout that is really a 0.3 s plan plus one-time codegen)
    // self-explains in the artifact.
    val repeat = sys.env.get("SPARK_GRAFT_REPEAT").map(_.toInt).getOrElse(4)
    case class R(name: String, cold: Double, warm: Double, warmMed: Double,
                 failed: Boolean)
    // PASS-MAJOR loop (all queries cold, then all queries warm-1, …), not
    // query-major: host CPU steal arrives in sustained windows, and with
    // all of a query's passes back-to-back inside one window its min-of-
    // warm is as inflated as any single reading (r8 driver artifact:
    // dedup_contain 22.49 s vs 1.55 s isolated — a 14× steal artifact).
    // Interleaving separates each query's samples by a full sweep
    // (~minutes), so the min is taken across independent time windows and
    // one steal burst can no longer poison every sample of one query.
    val names = selected.toSeq
    val times = Array.fill(names.length)(Vector.newBuilder[Double])
    val failedFlags = Array.fill(names.length)(false)
    // Steal-calibration channel (r11 verdict item 4): a pinned
    // constant-work CPU probe — 2×10⁸ xorshift64* steps on ONE thread —
    // timed before the sweep and after every pass. The probe's work is
    // fixed, so its reading moves only with host contention (CPU steal,
    // noisy neighbors, thermal throttling), never with plan changes:
    // a warm-total drift across rounds with FLAT calib readings is a
    // plan regression; the same drift with calib up proportionally is
    // host noise. Until now the two were indistinguishable (the r8→r10
    // 0.25→0.37 s/query warm question). Single-threaded on purpose —
    // steal hits per-core throughput, and one pinned thread reads it
    // without the scheduler-elasticity a 32-way probe would add.
    def calib(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 200000000) {
        x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
        x *= 0x2545F4914F6CDD1DL
        i += 1
      }
      // data-dependent guard so the JIT cannot prove the loop dead
      if (x == 42L) System.err.println("calib sentinel")
      (System.nanoTime() - t0) / 1e9
    }
    // Multi-core calibration channel (r17 verdict item 1): the
    // single-thread probe above cannot see multi-core contention — r17's
    // three same-code runs spread 113.8–133.7 s warm while calib stayed
    // flat at 0.614–0.628, so attribution rested on bracket-run narrative.
    // This channel runs the SAME fixed probe on cpus/4 threads (8 at the
    // driver's 32) CONCURRENTLY and reads each thread's own elapsed time:
    // when the host is stealing cores, concurrent threads slow down even
    // though one pinned thread doesn't. Per invocation we record the
    // MEDIAN of the per-thread times (robust to one descheduled thread);
    // the per-pass medians go in the JSON as "calib_mc" with their min as
    // "calib_mc_min". How to read the pair: warm-total drift with BOTH
    // channels flat = plan regression; calib flat but calib_mc up = the
    // r17-run-B signature (multi-core steal) = host noise.
    val mcThreads = math.max(2, cpus.toInt / 4)
    def calibMc(): Double = {
      val perThread = new Array[Double](mcThreads)
      val ts = (0 until mcThreads).map { j =>
        new Thread(() => perThread(j) = calib())
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      val sorted = perThread.sorted
      sorted(mcThreads / 2)
    }
    val calibs = Vector.newBuilder[Double]
    val calibsMc = Vector.newBuilder[Double]
    calibs += calib()
    calibsMc += calibMc()
    for (_ <- 1 to repeat) {
      for ((((name, fn), i)) <- names.zipWithIndex) {
      val t0 = System.nanoTime()
      // a failed query must not kill the whole bench run, but it must be
      // visible IN THE PARSED ARTIFACT, not just stderr: the failure is
      // recorded in the result row and surfaces in the JSON's "failed"
      // list (a swallowed throw would otherwise read as a fast healthy
      // query)
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable =>
          failedFlags(i) = true
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(200))
      }
      times(i) += (System.nanoTime() - t0) / 1e9
      // drop intermediates the query persisted for its own reuse —
      // without this, 100+ cached plans accumulate across the run and
      // the later queries pay their GC bill (measured: multi-second
      // noise)
      spark.sharedState.cacheManager.clearCache()
      // localCheckpoint blocks (dedup_clusters labels, ann_pq codebooks,
      // pagerank ranks) live OUTSIDE the cache manager — they persist as
      // RDD blocks until the ContextCleaner notices the RDD is garbage,
      // which needs a driver GC that an all-heap-headroom bench JVM may
      // never run; drop them explicitly so block-manager memory stays
      // flat across the 140+ query run
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      }
      calibs += calib()
      calibsMc += calibMc()
    }
    val calibTimes = calibs.result()
    val calibMcTimes = calibsMc.result()
    val results = names.zipWithIndex.map { case ((name, _), i) =>
      val ts = times(i).result()
      // warm statistics over the post-cold passes only (falling back to
      // all passes when repeat == 1 keeps the fields well-defined) — the
      // cold pass must not enter the min either, or a steal-inflated set
      // of warm passes reports a cold reading as the plan-cost floor
      val warmPasses = if (ts.length > 1) ts.tail else ts
      val med = warmPasses.sorted.apply(warmPasses.length / 2)
      R(name, ts.head, warmPasses.min, med, failedFlags(i))
    }
    // SF-sweep channel (r19, r18 verdict item 2): at sf0.1 the warm
    // floors are per-query fixed cost, so the 8-vs-32-core ratios read
    // ≈1 everywhere and cannot distinguish "parallelizes" from
    // "overhead-bound". This channel separates fixed cost from data
    // cost directly: after the warm passes (JVM hot), the heaviest keys
    // re-run once against the sibling 1/10-scale fixture; the emitted
    // ratio t(sf/10)/t(sf) reads ~0.1-0.4 for a data-bound key and ~1
    // for a fixed-cost-bound one. Additions-only: the timed region,
    // passes, query set, and every existing JSON field are untouched;
    // the field is omitted when no sibling fixture exists (or under a
    // SPARK_GRAFT_ONLY dev filter).
    val SweepKeys = Seq("dedup_prefix", "dedup_near", "dedup_simhash",
      "ts_mad_anomaly", "pipe_cross_source_overlap", "pipe_vocab",
      "join_bloom_prune", "agg_kmv_jaccard",
      // r19 session 2: the round's remaining heaviest keys join the
      // sweep so the scaling story stays informative as the old top
      // keys shrink (additions only — existing keys and fields intact)
      "agg_weighted_median", "agg_lorenz", "agg_gini", "dedup_contain",
      "text_tfidf", "ann_pq")
    val sweepDir: Option[String] =
      if (only.nonEmpty) None
      else {
        val f = new java.io.File(sfDir)
        Option(f.getParentFile).toSeq
          .flatMap(p => Seq("sf0.01", "sf0.001").map(new java.io.File(p, _)))
          .find(d => d.isDirectory &&
            d.getCanonicalPath != f.getCanonicalPath)
          .map(_.getPath)
      }
    val sweep: Seq[(String, Double)] = sweepDir.toSeq.flatMap { sd =>
      val byName = results.map(r => r.name -> r).toMap
      SweepKeys.flatMap { k =>
        (selected.get(k), byName.get(k)) match {
          case (Some(fn), Some(r)) if !r.failed && r.warm > 0 =>
            val ts = (1 to 2).map { _ =>
              val t0 = System.nanoTime()
              try { fn(spark, sd).count() } catch { case _: Throwable => () }
              spark.sharedState.cacheManager.clearCache()
              spark.sparkContext.getPersistentRDDs.values
                .foreach(_.unpersist(blocking = false))
              (System.nanoTime() - t0) / 1e9
            }
            Some(k -> ts.min / r.warm)
          case _ => None
        }
      }
    }
    val total = results.map(_.cold).sum
    val warmTotal = results.map(_.warm).sum
    val warmMedTotal = results.map(_.warmMed).sum
    val failedNames = results.filter(_.failed).map(_.name).sorted
    // The driver captures only the LAST ~2000 chars of sbt output (and
    // sbt appends a "[success] ..." trailer), so the JSON line must stay
    // comfortably under that or it arrives head-truncated and unparseable
    // (BENCH_r01–r03 all recorded parsed:null for exactly this reason).
    // Emit at 3-decimal precision; degrade to 2 decimals, then to the
    // slowest-N subset (total stays exact), until the line fits.
    def line(dp: Int, keep: Int): String = {
      // per-query numbers are the WARM mins (the plan-cost signal the
      // outlier audit needs); value stays the cold total the baseline
      // gate compares against
      val kept = results.sortBy(-_.warm).take(keep).sortBy(_.name)
      val qs = kept.map { r => "\"" + r.name + "\":" + s"%.${dp}f".format(r.warm) }
        .mkString("{", ",", "}")
      val omitted = results.length - kept.length
      val om = if (omitted > 0) s""","omitted":$omitted""" else ""
      // failed list is bounded so a mass-failure run (wrong SF dir, fixture
      // regeneration) can't push the line past the driver's ~2000-char
      // capture window — the count always survives, names degrade
      val fl = if (failedNames.nonEmpty)
        s""","failed_count":${failedNames.length},"failed":""" +
          failedNames.take(15).map("\"" + _ + "\"").mkString("[", ",", "]")
      else ""
      // calib: repeat+1 pinned-probe readings (before the sweep, then
      // after each pass) — the host-contention channel; calib_min ≈ the
      // uncontended floor of this host class
      val cal = calibTimes.map(c => "%.3f".format(c)).mkString("[", ",", "]")
      // calib_mc: per-pass medians of the concurrent cpus/4-thread probe —
      // the multi-core contention channel the single-thread calib is blind
      // to (see calibMc above)
      val calMc = calibMcTimes.map(c => "%.3f".format(c)).mkString("[", ",", "]")
      // sweep: per-key t(sibling 1/10 fixture)/t(main) warm ratios — the
      // data-bound-vs-fixed-cost separator (see the SweepKeys comment)
      val sw = if (sweep.isEmpty) "" else sweep
        .map { case (k, v) => "\"" + k + "\":" + "%.2f".format(v) }
        .mkString(""","sweep":{""", ",", "}")
      s"""{"metric":"total","value":${"%.3f".format(total)},"warm":${"%.3f".format(warmTotal)},"warm_med":${"%.3f".format(warmMedTotal)},"runs":$repeat,"unit":"sec","calib":$cal,"calib_min":${"%.3f".format(calibTimes.min)},"calib_mc":$calMc,"calib_mc_min":${"%.3f".format(calibMcTimes.min)},"queries":$qs$om$fl$sw,"sf":"$sfDir"}"""
    }
    val MaxLen = 1800
    val out = Iterator((3, results.length), (2, results.length), (2, 60), (2, 50), (2, 40))
      .map { case (dp, keep) => line(dp, keep) }
      .find(_.length <= MaxLen)
      .getOrElse(line(2, 30))
    println(out)
    // Full per-query table on demand (r19, r18 verdict item 4 — the
    // cold-channel decomposition): SPARK_GRAFT_DUMP=<path> writes every
    // query's cold/warm/med readings as JSON to a file, outside the
    // one-line stdout contract (the driver never sets it).
    sys.env.get("SPARK_GRAFT_DUMP").foreach { p =>
      val rows = results.sortBy(-_.cold).map { r =>
        s"""{"name":"${r.name}","cold":${"%.3f".format(r.cold)},""" +
          s""""warm":${"%.3f".format(r.warm)},"warm_med":${"%.3f".format(r.warmMed)}}"""
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        rows.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
    }
    spark.stop()
    // a partially-failing run must FAIL the bench gate, not slip through
    // with a deflated total built from fast failures — the driver sees the
    // nonzero exit; the JSON line above already carries the failed list
    if (failedNames.nonEmpty) sys.exit(2)
  }
}
