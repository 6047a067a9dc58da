package graft

import org.apache.spark.sql.functions._

import graft.operators.PipelineOps

/** Semantic properties of the corpus-build pipeline ops on sf0.001 —
  * complements the DuckDB oracle (which pins values) with the invariants
  * a pipeline consumer relies on. */
class PipelineSpec extends SparkSpec {

  private def q(name: String) = PipelineOps.queries(name)(spark, SfDir)

  test("ml_lift_gain deciles partition the population and converge to lift 1") {
    val rows = q("ml_lift_gain").collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, SfDir)
    assert(rows.map(_.getAs[Long]("n_rows")).sum === docs.count(),
      "deciles must partition the ranked population")
    val caps = rows.map(_.getAs[Double]("cum_capture"))
    assert(caps.zip(caps.tail).forall { case (a, b) => a <= b + 1e-9 },
      "cumulative capture must be non-decreasing")
    assert(math.abs(caps.last - 1.0) < 1e-9, "full population captures everything")
    assert(math.abs(rows.last.getAs[Double]("lift") - 1.0) < 1e-6,
      "lift over the whole population is 1 by definition")
  }

  test("bpeLearn trains once per session — a second consumer triggers " +
      "no new training jobs") {
    // pipe_bpe_train/encode/fertility share one trained merge list,
    // memoized per (session, dir)
    PipelineOps.evictBpe(spark)
    val first = jobsDuring { PipelineOps.bpeLearn(spark, SfDir); () }
    // bpeLearn's return is LAZY (rules from the memo, vocabulary a
    // deferred fold) — a memo hit must therefore launch ZERO jobs
    val repeat = jobsDuring { PipelineOps.bpeLearn(spark, SfDir); () }
    assert(first >= 2,
      s"first invocation ran $first jobs — the training loop never ran")
    assert(repeat === 0,
      s"repeat invocation ran $repeat jobs — BPE memo miss (retraining)")
  }

  test("ml_permutation_test: observed statistic matches ml_ttest's mean " +
      "difference and the p-value is the add-one replica fraction") {
    val r = q("ml_permutation_test").collect()(0)
    val tt = q("ml_ttest").collect()(0)
    assert(r.getAs[Long]("n_replicas") === 64L)
    // same statistic, same pin: the permutation test randomizes the
    // label of exactly the contrast ml_ttest tests parametrically
    assert(r.getAs[Double]("t_obs") === tt.getAs[Double]("mean_diff"))
    val ne = r.getAs[Long]("n_extreme")
    assert(ne >= 0 && ne <= 64)
    def pin6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    assert(r.getAs[Double]("p_value") === pin6((ne + 1.0) / 65.0))
    assert(r.getAs[Double]("p_value") > 0.0 && r.getAs[Double]("p_value") <= 1.0)
  }

  test("ml_anova equals the brute k-group replay and decomposes the " +
      "total sum of squares") {
    val rows = Tables.documents(spark, SfDir)
      .select("lang", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    def pin(x: Double, d: Int): Double = {
      val p = math.pow(10, d); math.floor(x * p + 0.5) / p
    }
    val byLang = rows.groupBy(_._1)
    val terms = byLang.values.map { g =>
      val sg = g.map(_._2).sum.toDouble
      pin(sg * sg / g.length, 6)
    }
    // mirror the decimal(38,6) fold: each pinned term rounds HALF_UP to
    // 6dp as an exact decimal before the sum
    val tsum = terms
      .map(t => BigDecimal(t).setScale(6, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble
    val n = rows.length.toDouble
    val s = rows.map(_._2).sum.toDouble
    val qq = rows.map(r => r._2 * r._2).sum.toDouble
    val k = byLang.size.toDouble
    val ssb = tsum - s * s / n
    val ssw = qq - tsum
    val r = q("ml_anova").collect()(0)
    assert(r.getAs[Long]("k") === byLang.size.toLong)
    assert(r.getAs[Long]("n") === rows.length.toLong)
    assert(r.getAs[Double]("ss_between") === pin(ssb, 4))
    assert(r.getAs[Double]("ss_within") === pin(ssw, 4))
    assert(r.getAs[Double]("f_stat") ===
      pin((ssb / (k - 1)) / (ssw / (n - k)), 6))
    assert(r.getAs[Double]("eta_sq") === pin(ssb / (qq - s * s / n), 6))
    // decomposition: SSB + SSW = SST (up to the 6dp term pre-rounding)
    assert(math.abs(ssb + ssw - (qq - s * s / n)) < 1e-3)
    val eta = r.getAs[Double]("eta_sq")
    assert(eta >= 0.0 && eta <= 1.0)
  }

  test("pipe_bpe_train's first rule is the true argmax pair, merges spaceless") {
    val rows = q("pipe_bpe_train").collect()
    assert(rows.length >= 4 && rows.length <= PipelineOps.BpeMerges,
      s"${rows.length} merge rounds — expected a converged-or-capped run " +
        s"past the old 3-round demo, within the ${PipelineOps.BpeMerges} cap")
    assert(rows.map(_.getAs[Int]("round")).toSeq === (1 to rows.length),
      "rounds must be consecutive from 1 (training stops, never skips)")
    // the point of the K-merge loop: multi-symbol tokens must form —
    // a rule whose merged token is >= 3 chars consumed an earlier merge
    assert(rows.exists(_.getAs[String]("merged").length >= 3),
      "no multi-symbol token formed — training depth regressed to a demo")
    // replay round 1 from the raw word-frequency relation
    val words = Tables.documents(spark, SfDir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("f")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val counts = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    words.foreach { case (w, f) =>
      w.sliding(2).filter(_.length == 2).foreach { p =>
        counts(s"${p(0)} ${p(1)}") += f
      }
    }
    val best = counts.toSeq.sortBy { case (p, c) => (-c, p) }.head
    assert(rows(0).getAs[String]("pair") === best._1,
      s"round-1 rule ${rows(0).getAs[String]("pair")} vs replay ${best._1}")
    assert(rows(0).getAs[Long]("cnt") === best._2)
    rows.foreach { r =>
      assert(r.getAs[String]("merged") ===
        r.getAs[String]("pair").replace(" ", ""))
    }
  }

  test("pipe_repeat_factors weights normalize and targets fill the budget") {
    val rows = q("pipe_repeat_factors").collect()
    assert(rows.nonEmpty)
    val wsum = rows.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wsum - 1.0) < 1e-4, s"weights sum to $wsum")
    val tsum = rows.map(_.getAs[Long]("target_tokens")).sum
    val budget = PipelineOps.EpochBudgetTokens
    assert(tsum <= budget && tsum >= budget - rows.length,
      s"floored targets must fill the budget up to rounding: $tsum")
    rows.foreach { r =>
      val implied = r.getAs[Double]("repeat_factor") * r.getAs[Long]("n_tokens")
      assert(math.abs(implied - r.getAs[Long]("target_tokens")) <=
        r.getAs[Long]("n_tokens") * 1e-4 + 1.0,
        s"${r.getString(0)}: repeat factor inconsistent with its target")
    }
  }

  test("pipe_token_budget keeps exactly the rank-prefix that fits") {
    val kept = q("pipe_token_budget").persist()
    assert(kept.filter(col("cum_tokens") > PipelineOps.TokenBudget).count() === 0)
    // prefix contract per source: every document ranked above a kept one
    // is also kept (no holes in the greedy order)
    val ranked = Tables.documents(spark, SfDir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy(col("n_tokens").desc, col("doc_id"))))
    val withRk = kept.join(ranked.select("source", "doc_id", "rk"),
      Seq("source", "doc_id"))
    val maxRk = withRk.groupBy("source").agg(
      max("rk").as("max_rk"), count(lit(1)).as("n_kept"))
    assert(maxRk.filter(col("max_rk") =!= col("n_kept")).count() === 0,
      "kept set must be a contiguous rank prefix")
    // and the next-ranked doc (if any) would overflow the budget
    val next = maxRk.join(ranked, "source")
      .filter(col("rk") === col("max_rk") + 1)
    val cumKept = kept.groupBy("source").agg(sum("n_tokens").as("kept_tokens"))
    val overflow = next.join(cumKept, "source")
      .filter(col("kept_tokens") + col("n_tokens") <= PipelineOps.TokenBudget)
    assert(overflow.count() === 0, "a fitting document was left out")
    kept.unpersist()
  }

  test("ml_pr_curve sweeps monotonically and ends at full recall") {
    val rows = q("ml_pr_curve").collect()
    assert(rows.nonEmpty)
    // threshold loosens down the output: predicted-positive counts grow
    // strictly, recall never decreases, and the loosest threshold
    // captures every positive
    val nPred = rows.map(_.getAs[Long]("n_predicted"))
    assert(nPred.zip(nPred.tail).forall { case (a, b) => a < b },
      "n_predicted must be strictly increasing as the threshold loosens")
    val recall = rows.map(_.getAs[Double]("recall"))
    assert(recall.zip(recall.tail).forall { case (a, b) => a <= b + 1e-9 },
      "recall must be non-decreasing")
    assert(math.abs(recall.last - 1.0) < 1e-9, "final recall must be 1")
    // precision at the loosest threshold is the base rate
    val docs = Tables.documents(spark, SfDir)
    val base = docs.filter(col("lang") === "en").count().toDouble / docs.count()
    assert(math.abs(rows.last.getAs[Double]("precision") - base) < 1e-4)
  }

  test("ml_calibration bins partition the corpus and bound the mean prediction") {
    val rows = q("ml_calibration").collect()
    val total = Tables.documents(spark, SfDir).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === total,
      "bins must partition the corpus")
    rows.foreach { r =>
      val bin = r.getAs[Int]("bin")
      val mp = r.getAs[Double]("mean_predicted")
      val fp = r.getAs[Double]("frac_positive")
      // p̂ = min(n_chars,500)/500 with bin = min(⌊n_chars/50⌋,9) keeps the
      // bin mean inside [bin/10, (bin+1)/10) (top bin clamps at 1.0)
      assert(mp >= bin / 10.0 - 1e-9, s"bin $bin mean $mp below range")
      if (bin < 9) assert(mp < (bin + 1) / 10.0 + 1e-9,
        s"bin $bin mean $mp above range")
      else assert(mp <= 1.0 + 1e-9)
      assert(fp >= 0.0 && fp <= 1.0)
    }
  }

  test("pipe_sample_stratified is deterministic and a per-language subset") {
    val s1 = q("pipe_sample_stratified").collect().toSeq
    val s2 = q("pipe_sample_stratified").collect().toSeq
    assert(s1 === s2, "hash sampling must be reproducible run-to-run")
    val docs = Tables.documents(spark, SfDir)
    assert(q("pipe_sample_stratified").join(docs, "doc_id", "left_anti").count() === 0)
    // languages with a higher rate keep a larger fraction (en 8/16 vs de 1/16)
    val kept = q("pipe_sample_stratified").groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val all = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((l, n) <- kept if all(l) >= 20 && !PipelineOps.StratRates.contains(l))
      assert(n.toDouble / all(l) < 0.5, s"default-rate lang $l kept $n/${all(l)}")
  }

  test("pipe_weighted_sample is the exact per-source A-ES top-k and " +
      "skews toward long documents") {
    val got = q("pipe_weighted_sample").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val docs = Tables.documents(spark, SfDir)
      .select("source", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .filter(_._3 > 0)
    // brute replay of the identical chain: md5-uniform, one 10dp-pinned
    // ln, rank by (key desc, doc_id asc)
    def key(docId: Long, w: Long): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(docId.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 12)
      val u = (java.lang.Long.parseLong(hex, 16) + 1.0) / 281474976710657.0
      math.floor(math.log(u) / w * 1e10 + 0.5) / 1e10
    }
    val want = docs.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      ds.map(d => (src, d._2, key(d._2, d._3)))
        .sortBy { case (_, id, k) => (-k, id) }
        .take(PipelineOps.WeightedSampleK).zipWithIndex
        .map { case ((s2, id, k), i) => (s2, i + 1, id, k) }
    }.sortBy(x => (x._1, x._2))
    assert(got === want)
    assert(got.nonEmpty)
    // w = n_chars makes the draw length-proportional: the pooled sample
    // mean length must exceed the pooled corpus mean (deterministic
    // fixture, no flake)
    val lenOf = docs.map(d => d._2 -> d._3).toMap
    val sampleMean = got.map(g => lenOf(g._3)).sum.toDouble / got.length
    val corpusMean = docs.map(_._3).sum.toDouble / docs.length
    assert(sampleMean > corpusMean,
      s"weighted sample mean length $sampleMean not above corpus mean $corpusMean")
  }

  test("ml_confusion cells partition the corpus and metrics stay coherent") {
    val r = q("ml_confusion").collect().head
    val (tp, fp, fn, tn) = (r.getAs[Long]("tp"), r.getAs[Long]("fp"),
      r.getAs[Long]("fn"), r.getAs[Long]("tn"))
    assert(tp + fp + fn + tn === Tables.documents(spark, SfDir).count(),
      "the four cells must partition the corpus exactly")
    // cross-check the cells against directly-computed counts
    val docs = Tables.documents(spark, SfDir)
    assert(tp === docs.filter(col("lang") === "en" && col("n_chars") >= 300).count())
    assert(fn === docs.filter(col("lang") === "en" && col("n_chars") < 300).count())
    val (p, rc, f1, acc) = (r.getAs[Double]("precision"), r.getAs[Double]("recall"),
      r.getAs[Double]("f1"), r.getAs[Double]("accuracy"))
    Seq(p, rc, f1, acc).foreach(v => assert(v >= 0.0 && v <= 1.0))
    // the harmonic mean sits between its arguments
    assert(f1 >= math.min(p, rc) - 1e-6 && f1 <= math.max(p, rc) + 1e-6)
  }

  test("pipe_dedup_report conserves documents and clusters") {
    val rep = q("pipe_dedup_report").persist()
    val docs = Tables.documents(spark, SfDir)
    val nDocs = rep.agg(sum("n_docs")).head.getLong(0)
    assert(nDocs === docs.count(), "histogram must account for every doc")
    val nClusters = rep.agg(sum("n_clusters")).head.getLong(0)
    val distinctSets = docs.select(
      array_sort(array_distinct(split(col("text"), " "))).as("ts"))
      .distinct().count()
    assert(nClusters === distinctSets, "one cluster per distinct token set")
    val pct = rep.agg(sum("pct_of_corpus")).head.getDouble(0)
    assert(math.abs(pct - 1.0) < 1e-3, s"pct column must sum to ~1, got $pct")
    rep.unpersist()
  }

  test("pipe_near_dedup_report conserves docs, clusters, and drop counts " +
      "against the dedup_clusters labels") {
    import graft.operators.DedupOps
    val rep = q("pipe_near_dedup_report").persist()
    val labels = DedupOps.queries("dedup_clusters")(spark, SfDir).persist()
    assert(rep.agg(sum("n_docs")).head.getLong(0) === labels.count(),
      "histogram must account for every doc")
    assert(rep.agg(sum("n_clusters")).head.getLong(0) ===
      labels.select("cluster_id").distinct().count(),
      "one histogram entry per near-dup cluster")
    // dropping to one survivor per cluster removes size−1 docs per cluster
    val dropped = rep.agg(sum("n_dropped")).head.getLong(0)
    assert(dropped === labels.count() -
      labels.select("cluster_id").distinct().count())
    rep.collect().foreach { r =>
      assert(r.getAs[Long]("n_dropped") ===
        (r.getAs[Long]("cluster_size") - 1) * r.getAs[Long]("n_clusters"))
    }
    val pct = rep.agg(sum("pct_of_corpus")).head.getDouble(0)
    assert(math.abs(pct - 1.0) < 1e-3, s"pct column must sum to ~1, got $pct")
    rep.unpersist(); labels.unpersist()
  }

  test("pipe_survivor keeps exactly one doc per fingerprint, the best one") {
    val surv = q("pipe_survivor")
    assert(surv.groupBy("fp").count().filter(col("count") > 1).count() === 0)
    // survivor count == distinct fingerprint count over the corpus
    val fps = Tables.documents(spark, SfDir)
      .select(md5(concat_ws(" ",
        array_sort(array_distinct(split(col("text"), " "))))).as("fp"))
      .distinct().count()
    assert(surv.count() === fps)
  }

  test("pipe_pii_scrub leaves no digit runs and counts masks") {
    val scrubbed = q("pipe_pii_scrub")
    assert(scrubbed.filter(col("scrubbed").rlike("[0-9]")).count() === 0)
    assert(scrubbed.filter(col("n_masked") < 0).count() === 0)
    // rows with masks actually changed
    val joined = scrubbed.join(Tables.documents(spark, SfDir), "doc_id")
    assert(joined.filter(col("n_masked") > 0 && col("scrubbed") === col("text"))
      .count() === 0)
  }

  test("pipe_dataset_mix replicates per-language epochs exactly") {
    val mix = q("pipe_dataset_mix")
    val docs = Tables.documents(spark, SfDir)
    val nEn = docs.filter(col("lang") === "en").count()
    val nOther = docs.filter(col("lang") =!= "en").count()
    assert(mix.count() === 2 * nEn + nOther)
    assert(mix.filter(col("lang") === "en").groupBy("doc_id").count()
      .filter(col("count") =!= 2).count() === 0)
  }

  test("pipe_chunk covers every token and respects the stride geometry") {
    val chunks = q("pipe_chunk")
    val docs = Tables.documents(spark, SfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
    // chunk 0 always exists; every chunk is non-empty and at most ChunkSize
    assert(chunks.filter(col("chunk_id") === 0).count() === docs.count())
    assert(chunks.filter(col("n_tokens") < 1 ||
      col("n_tokens") > PipelineOps.ChunkSize).count() === 0)
    // windows advance by stride: chunk k starts at token k*stride, so the
    // last chunk reaches the end of the doc
    val last = chunks.groupBy("doc_id")
      .agg(max(col("chunk_id")).as("k"), max(col("chunk_id") * PipelineOps.ChunkStride +
        col("n_tokens")).as("reach"))
      .join(docs, "doc_id")
    assert(last.filter(col("reach") < col("n")).count() === 0)
  }

  test("pipe_pack offsets are contiguous per language and bins respect the budget") {
    val packed = q("pipe_pack").collect()
      .groupBy(_.getAs[String]("lang"))
    for ((_, rows) <- packed) {
      val sorted = rows.sortBy(_.getAs[Long]("doc_id"))
      var expect = 0L
      for (r <- sorted) {
        assert(r.getAs[Long]("start_offset") === expect)
        assert(r.getAs[Int]("bin") === (expect / PipelineOps.PackBudget).toInt)
        expect += r.getAs[Int]("n_tokens")
      }
    }
  }

  test("pipe_decontaminate flags only training docs that share an eval shingle") {
    val d = q("pipe_decontaminate")
    // eval-slice docs are never themselves in the output
    assert(d.filter(col("doc_id") % 97 === 0).count() === 0)
    // every flagged doc genuinely shares at least one n-token window with
    // some eval doc (re-derive the shingle sets independently with a
    // different construction: sliding arrays_zip-free slice loop)
    val toks = split(col("text"), " ")
    val sh = Tables.documents(spark, SfDir)
      .filter(size(toks) >= PipelineOps.DecontamNGram)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(toks) - PipelineOps.DecontamNGram),
        i => array_join(slice(toks, i + 1, lit(PipelineOps.DecontamNGram)), " "))).as("sh"))
    val evalSh = sh.filter(col("doc_id") % 97 === 0).select("sh").distinct()
    val contaminated = sh.filter(col("doc_id") % 97 =!= 0)
      .join(evalSh, "sh").select("doc_id").distinct()
    assert(d.select("doc_id").except(contaminated).count() === 0)
    assert(contaminated.except(d.select("doc_id")).count() === 0)
  }

  test("pipe_funnel conversions imply a purchase after the first click") {
    val f = q("pipe_funnel")
    // every user with a conversion has at least one purchase event
    val purch = Tables.events(spark, SfDir)
      .filter(col("event_type") === "purchase").select("user_id").distinct()
    assert(f.filter(col("converted"))
      .join(purch, Seq("user_id"), "left_anti").count() === 0)
    // users with zero purchases never convert
    assert(f.filter(col("n_purchases") === 0 && col("converted")).count() === 0)
  }

  test("observe() collects audit metrics in the SAME pass as the write") {
    // The production shape of pipe_audit: a pipeline stage that must
    // report row counts / null counts / domain violations normally pays a
    // second scan for the audit query. `observe` attaches the aggregates
    // to the transformation itself — the metrics ride along with the one
    // pass that materializes the output, zero extra jobs. At 100 TB the
    // audit is free instead of doubling the pipeline's IO.
    val obs = org.apache.spark.sql.Observation("pipe-audit")
    val staged = Tables.documents(spark, SfDir)
      .filter(col("lang").isNotNull)
      .observe(obs,
        count(lit(1)).as("rows_out"),
        sum(when(col("text").isNull || col("text") === "", 1L)
          .otherwise(0L)).as("empty_text"),
        sum(when(!col("lang").isin("en", "fr", "es", "zh", "de"), 1L)
          .otherwise(0L)).as("bad_lang"))
    val n = staged.count() // the one materializing action
    val m = obs.get
    assert(m("rows_out") === n)
    assert(m("empty_text") === 0L)
    assert(m("bad_lang") === 0L)
  }

  test("pipe_vocab min-count cutoff drops rare tokens, ranks only the kept") {
    // aggressive cutoff: recompute the kept vocabulary independently and
    // pin that the encode (a) keeps exactly those tokens' occurrences and
    // (b) assigns ids 1..|kept| by (count desc, token) over the kept set
    val cut = 500L
    val docs = Tables.documents(spark, SfDir)
    val counts = docs.select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = counts.filter(_._2 >= cut).keys.toSet
    assert(kept.nonEmpty && kept.size < counts.size,
      s"fixture must straddle the cutoff (kept ${kept.size}/${counts.size})")
    val out = PipelineOps.vocabEncode(spark, SfDir, cut)
    // per-doc kept-token count matches an independent recompute (docs with
    // zero kept tokens drop out entirely — inner-join semantics)
    val expected = docs.select(col("doc_id"),
        size(filter(split(col("text"), " "),
          t => t.isin(kept.toSeq: _*))).as("n_tokens"))
      .filter(col("n_tokens") > 0)
    assert(out.select("doc_id", "n_tokens").exceptAll(expected).count() === 0)
    assert(expected.exceptAll(out.select("doc_id", "n_tokens")).count() === 0)
    // the id space is exactly 1..|kept| and rank 1 is the most frequent
    val ids = out.select(explode(split(col("ids"), " ")).as("id"))
      .select(col("id").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(ids === (1L to kept.size).toSet)
  }

  test("pipe_vocab degrades to a shuffle join past the broadcast budget") {
    // same data, broadcast disabled: the encode join must plan as a
    // non-broadcast join (the only surviving BroadcastHashJoin is the
    // hinted #partitions-sized offsets table) and values must not move
    val viaBroadcast = q("pipe_vocab").collect().toSeq
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = PipelineOps.vocabEncode(spark, SfDir, PipelineOps.VocabMinCount)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
      val bhj = plan.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin")
      assert(bhj <= 1, s"encode join must not broadcast the vocab:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      assert(df.collect().toSeq === viaBroadcast)
    }
  }

  test("pipe_length_buckets conserves tokens and pads exactly to the bucket") {
    val b = q("pipe_length_buckets").persist()
    val docs = Tables.documents(spark, SfDir)
    assert(b.agg(sum("n_docs")).head.getLong(0) === docs.count(),
      "every document lands in exactly one bucket")
    // per bucket: tokens + padding fill the bucket exactly
    val leak = b.filter(
      col("token_sum") + col("pad_sum") =!= col("seq_len").cast("long") * col("n_docs"))
    assert(leak.count() === 0, "token_sum + pad_sum must equal seq_len * n_docs")
    // bucket edges are powers of two and pad_frac is a proper fraction
    val edges = Set(32, 64, 128, 256, 512, 1024)
    assert(b.collect().forall(r => edges.contains(r.getAs[Int]("seq_len"))))
    assert(b.filter(col("pad_frac") < 0 || col("pad_frac") >= 1).count() === 0)
    b.unpersist()
    ()
  }

  test("pipe_filter_report is a telescoping funnel that conserves the corpus") {
    val rows = PipelineOps.queries("pipe_filter_report")(spark, SfDir)
      .collect().sortBy(_.getAs[Int]("stage_idx"))
    val total = Tables.documents(spark, SfDir).count()
    assert(rows.head.getAs[Long]("n_in") === total,
      "the first stage sees the whole corpus")
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("n_in") ===
        a.getAs[Long]("n_in") - a.getAs[Long]("n_docs"),
        "each stage's intake is the previous intake minus its drops")
    case _ => ()
    }
    assert(rows.map(_.getAs[Long]("n_docs")).sum === total,
      "every document lands in exactly one stage")
    val kept = rows.find(_.getAs[String]("stage") == "kept")
    assert(kept.nonEmpty && kept.get.getAs[Long]("n_docs") > 0)
  }

  test("ml_parity_gap rates reconcile with the overall selection rate") {
    val rows = PipelineOps.queries("ml_parity_gap")(spark, SfDir).collect()
    val n = rows.map(_.getAs[Long]("n")).sum
    val pos = rows.map(_.getAs[Long]("pos")).sum
    val overall = rows.head.getAs[Double]("overall")
    assert(math.abs(overall - pos.toDouble / n) < 1e-6)
    val rates = rows.map(_.getAs[Double]("rate"))
    val spread = rows.head.getAs[Double]("max_spread")
    assert(math.abs(spread - (rates.max - rates.min)) < 1e-9)
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("gap") -
        (r.getAs[Double]("rate") - overall)) < 1e-9)
    }
    assert(n === Tables.documents(spark, SfDir).count(),
      "groups partition the corpus")
  }

  test("pipe_cross_source_overlap matches brute-force fingerprint sets") {
    val got = PipelineOps.queries("pipe_cross_source_overlap")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_shared"), r.getAs[Long]("n_a"))).toMap
    val fps = Tables.documents(spark, SfDir)
      .select(md5(concat_ws(" ",
        array_sort(array_distinct(split(col("text"), " "))))).as("fp"),
        col("source")).distinct().collect()
      .map(r => r.getString(1) -> r.getString(0))
    val bySource = fps.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).toSet }
    got.foreach { case ((a, b), (shared, na)) =>
      assert(a < b, "pairs are emitted once, lexicographically")
      assert(shared === (bySource(a) intersect bySource(b)).size.toLong,
        s"$a x $b shared contents")
      assert(na === bySource(a).size.toLong)
    }
    // completeness: every overlapping source pair appears
    val expectPairs = (for {
      a <- bySource.keys; b <- bySource.keys
      if a < b && (bySource(a) intersect bySource(b)).nonEmpty
    } yield (a, b)).toSet
    assert(got.keySet === expectPairs)
  }

  test("ml_cuped reduction matches the squared pre/post correlation") {
    // closed form: var_adj = var_y(1 − ρ²), so reduction == ρ²
    val r = PipelineOps.queries("ml_cuped")(spark, SfDir).head()
    val (vy, va, red) = (r.getAs[Double]("var_y"),
      r.getAs[Double]("var_adj"), r.getAs[Double]("reduction"))
    assert(va >= -1e-9 && va <= vy + 1e-9,
      "adjustment can only remove variance")
    assert(red >= -1e-9 && red <= 1.0 + 1e-9)
    val xy = Tables.events(spark, SfDir)
      .filter(col("event_type") === "click")
      .groupBy("user_id")
      .agg(sum(when(dayofmonth(col("ts")) <= 15, 1L).otherwise(0L)).as("x"),
        sum(when(dayofmonth(col("ts")) > 15, 1L).otherwise(0L)).as("y"))
      .agg(corr(col("x").cast("double"), col("y").cast("double")))
      .head().getDouble(0)
    assert(math.abs(red - xy * xy) < 1e-3,
      s"reduction $red vs rho^2 ${xy * xy}")
  }

  test("ml_mcc is coherent with ml_confusion's cells") {
    val mcc = PipelineOps.queries("ml_mcc")(spark, SfDir).head()
    val conf = PipelineOps.queries("ml_confusion")(spark, SfDir).head()
    for (c <- Seq("tp", "fp", "fn", "tn"))
      assert(mcc.getAs[Long](c) === conf.getAs[Long](c), s"cell $c")
    val m = mcc.getAs[Double]("mcc")
    assert(m >= -1.0 - 1e-9 && m <= 1.0 + 1e-9)
    val (tp, fp, fn, tn) = (mcc.getAs[Long]("tp").toDouble,
      mcc.getAs[Long]("fp").toDouble, mcc.getAs[Long]("fn").toDouble,
      mcc.getAs[Long]("tn").toDouble)
    val expect = (tp * tn - fp * fn) /
      math.sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
    assert(math.abs(m - expect) < 1e-5, s"mcc $m vs $expect")
  }

  test("pipe_span_corruption masks ~15% in well-formed spans") {
    val rows = PipelineOps.queries("pipe_span_corruption")(spark, SfDir)
      .collect()
    rows.foreach { r =>
      val (nt, nm, ns) = (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_masked"), r.getAs[Long]("n_spans"))
      assert(nm <= nt && ns <= nm,
        "spans cannot outnumber masked tokens, masks cannot exceed tokens")
      assert((nm == 0) == (ns == 0))
    }
    val rate = rows.map(_.getAs[Long]("n_masked")).sum.toDouble /
      rows.map(_.getAs[Long]("n_tokens")).sum
    assert(rate > 0.10 && rate < 0.20,
      s"corpus mask rate $rate should concentrate near the 15% target")
    // replay one document's mask by hash
    val d = Tables.documents(spark, SfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .head()
    val (id, n) = (d.getLong(0), d.getInt(1))
    val md = java.security.MessageDigest.getInstance("MD5")
    val masked = (1 to n).filter { p =>
      val h = md.digest(s"$id:$p".getBytes("UTF-8"))
        .take(2).map("%02x".format(_)).mkString
      Integer.parseInt(h, 16) % 100 < 15
    }
    val got = rows.find(_.getLong(0) == id).get
    assert(got.getAs[Long]("n_masked") === masked.length.toLong,
      s"doc $id mask replay")
  }

  test("ml_ks_test equals the brute-force ECDF sweep") {
    val r = PipelineOps.queries("ml_ks_test")(spark, SfDir).head()
    val split = PipelineOps.queries("pipe_split")(spark, SfDir)
      .join(Tables.documents(spark, SfDir).select("doc_id", "n_chars"), "doc_id")
      .filter(col("split") =!= "val")
      .select("split", "n_chars").collect()
      .map(row => row.getString(0) -> row.getLong(1))
    val tr = split.filter(_._1 == "train").map(_._2).sorted
    val te = split.filter(_._1 == "test").map(_._2).sorted
    assert(r.getAs[Long]("n_train") === tr.length.toLong)
    assert(r.getAs[Long]("n_test") === te.length.toLong)
    val domain = (tr ++ te).distinct.sorted
    val d = domain.map { v =>
      math.abs(tr.count(_ <= v).toDouble / tr.length -
        te.count(_ <= v).toDouble / te.length)
    }.max
    assert(math.abs(r.getAs[Double]("ks_d") - d) < 1e-6,
      s"ks ${r.getAs[Double]("ks_d")} vs brute $d")
  }

  test("ml_psi terms are nonnegative and the total is their sum") {
    // (p−q) and ln(p/q) always share sign, so every PSI term ≥ 0
    val rows = PipelineOps.queries("ml_psi")(spark, SfDir).collect()
    assert(rows.nonEmpty)
    val psi = rows.head.getAs[Double]("psi")
    rows.foreach { r =>
      assert(r.getAs[Double]("term") >= -1e-9)
      assert(r.getAs[Double]("psi") === psi, "psi is a corpus-level constant")
    }
    assert(math.abs(psi - rows.map(_.getAs[Double]("term")).sum) < 1e-4,
      "psi must total the per-bin terms")
    // the split counts must partition the non-val corpus
    val nonVal = rows.map(r =>
      r.getAs[Long]("n_train") + r.getAs[Long]("n_test")).sum
    val expected = PipelineOps.queries("pipe_split")(spark, SfDir)
      .filter(col("split") =!= "val").count()
    assert(nonVal === expected)
  }

  test("pipe_bpe_encode compression is coherent with the learned merges") {
    val r = PipelineOps.queries("pipe_bpe_encode")(spark, SfDir).head()
    val (before, after) = (r.getAs[Long]("symbols_before"),
      r.getAs[Long]("symbols_after"))
    val occ = r.getAs[Long]("n_occurrences")
    assert(after <= before, "merges can only shrink the symbol stream")
    assert(after >= occ, "every word keeps at least one symbol")
    assert(math.abs(r.getAs[Double]("compression") -
      after.toDouble / before) < 1e-6)
    // each merge application removes one symbol per replaced occurrence,
    // and replacements cannot exceed the counted pair frequency (they
    // fall short only on overlapping runs)
    val merges = PipelineOps.queries("pipe_bpe_train")(spark, SfDir)
      .collect().map(_.getAs[Long]("cnt")).sum
    val removed = before - after
    assert(removed > 0 && removed <= merges,
      s"removed $removed vs counted pair mass $merges")
  }

  test("ml_brier obeys the Murphy decomposition inequality and bounds") {
    val r = PipelineOps.queries("ml_brier")(spark, SfDir).head()
    val (b, rel, res, unc) = (r.getAs[Double]("brier"),
      r.getAs[Double]("reliability"), r.getAs[Double]("resolution"),
      r.getAs[Double]("uncertainty"))
    assert(b >= 0.0 && b <= 1.0)
    assert(rel >= 0.0 && res >= 0.0)
    assert(unc >= 0.0 && unc <= 0.25 + 1e-9, "p(1-p) maxes at 1/4")
    assert(res <= unc + 1e-6, "resolution cannot exceed uncertainty")
    // with within-bin forecast variance, brier = rel − res + unc + var ≥
    // rel − res + unc (equality iff the forecast is bin-constant)
    assert(b >= rel - res + unc - 1e-6,
      s"brier $b < rel-res+unc ${rel - res + unc}")
  }

  test("pipe_quality_logit scores every doc with in-range features") {
    val f = PipelineOps.queries("pipe_quality_logit")(spark, SfDir).persist()
    assert(f.count() === Tables.documents(spark, SfDir).count(),
      "the gate scores, it never drops — filtering is the caller's cut")
    for (c <- Seq("stop_ratio", "len_score", "digit_ratio"))
      assert(f.filter(col(c) < 0 || col(c) > 1).count() === 0, s"$c range")
    // the keep flag IS the logit's sign — no hidden second threshold
    assert(f.filter((col("logit") >= 0) =!= col("keep")).count() === 0)
    // weights are live: a stopword-rich doc must outscore an all-digit doc
    val hi = f.agg(max("logit")).head().getDouble(0)
    val lo = f.agg(min("logit")).head().getDouble(0)
    assert(hi > lo, "scorer must separate the corpus")
    f.unpersist()
    ()
  }

  test("pipe_substring_report conserves docs and duplicated tokens " +
      "against the dedup_substring spans") {
    import graft.operators.DedupOps
    val rep = q("pipe_substring_report").persist()
    val docs = Tables.documents(spark, SfDir)
    assert(rep.agg(sum("n_docs")).head.getLong(0) === docs.count(),
      "decile histogram must account for every doc, spans or none")
    val spanTokens = DedupOps.queries("dedup_substring")(spark, SfDir)
      .agg(sum("span_len")).head.getLong(0)
    assert(rep.agg(sum("dup_tokens")).head.getLong(0) === spanTokens,
      "dup_tokens must total exactly the span frame's token coverage")
    rep.collect().foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(b >= 0 && b <= 10, s"decile bucket out of range: $b")
    }
    val pct = rep.agg(sum("pct_of_corpus")).head.getDouble(0)
    assert(math.abs(pct - 1.0) < 1e-3, s"pct column must sum to ~1, got $pct")
    rep.unpersist()
  }

  test("ml_auc_by_group slices agree with a per-slice global AUC replay") {
    val rows = q("ml_auc_by_group").persist()
    val docs = Tables.documents(spark, SfDir).persist()
    val bySource = docs.groupBy("source").agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("np"),
      sum(when(col("lang") === "en", 0L).otherwise(1L)).as("nn"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // every two-class slice appears, one-class slices are filtered
    val expected = bySource.filter { case (_, (p, n)) => p > 0 && n > 0 }
    val got = rows.collect().map(r => r.getAs[String]("source") ->
      (r.getAs[Double]("auc"), r.getAs[Long]("n_pos"), r.getAs[Long]("n_neg")))
      .toMap
    assert(got.keySet === expected.keySet)
    got.foreach { case (src, (auc, np, nn)) =>
      assert(auc >= 0.0 && auc <= 1.0, s"$src AUC out of range: $auc")
      assert((np, nn) === expected(src), s"$src class counts drifted")
      // replay: the Mann-Whitney statistic from first principles (ties
      // count half), per slice, collected — fixture-scale only
      val scored = docs.filter(col("source") === src)
        .select(col("n_chars"), (col("lang") === "en").as("y"))
        .collect().map(r => (r.getLong(0), r.getBoolean(1)))
      val pos = scored.filter(_._2).map(_._1)
      val neg = scored.filterNot(_._2).map(_._1)
      val stat = pos.map(s => neg.count(_ < s) + 0.5 * neg.count(_ == s)).sum
      val want = math.floor(stat / (pos.length.toDouble * neg.length) * 1e6
        + 0.5) / 1e6
      assert(math.abs(auc - want) < 2e-6, s"$src: got $auc, replay $want")
    }
    docs.unpersist()
    rows.unpersist()
    ()
  }

  test("ml_youden_j picks the true argmax row of the ROC sweep") {
    val roc = PipelineOps.queries("ml_roc_curve")(spark, SfDir).collect()
      .map(r => (r.getAs[Long]("score"), r.getAs[Double]("tpr"),
        r.getAs[Double]("fpr")))
    val j = PipelineOps.queries("ml_youden_j")(spark, SfDir).head()
    val (th, tpr, fpr, yj) = (j.getAs[Long]("threshold"),
      j.getAs[Double]("tpr"), j.getAs[Double]("fpr"),
      j.getAs[Double]("youden_j"))
    // the winner must dominate every ROC row's tpr - fpr (6dp outputs,
    // so allow one ulp of the pin), and its own J must be consistent
    assert(math.abs(yj - (tpr - fpr)) < 2e-6)
    val best = roc.map(r => r._2 - r._3).max
    assert(yj >= best - 2e-6, s"picked J $yj below sweep max $best")
    assert(roc.exists(r => r._1 == th), "threshold must be a swept score")
    assert(yj > 0.0, "a signal-bearing fixture must beat the chance line")
  }

  test("pipe_filter_overlap agrees with text_gopher_rules' published counts") {
    // one flag definition, two consumers: the matrix's marginals must
    // BE the per-rule fail counts the gopher table publishes
    val gopher = graft.operators.TextOps.queries("text_gopher_rules")(spark, SfDir)
      .collect().map(r => r.getAs[Int]("rule_idx") -> r.getAs[Long]("n_fail")).toMap
    val rows = q("pipe_filter_overlap").collect()
    assert(rows.length === 15, "6 rules -> 15 unordered pairs")
    rows.foreach { r =>
      val (i, j) = (r.getAs[Int]("rule_i"), r.getAs[Int]("rule_j"))
      assert(i < j)
      assert(r.getAs[Long]("n_a") === gopher(i), s"pair ($i,$j) marginal a")
      assert(r.getAs[Long]("n_b") === gopher(j), s"pair ($i,$j) marginal b")
      val both = r.getAs[Long]("n_both")
      assert(both <= math.min(r.getAs[Long]("n_a"), r.getAs[Long]("n_b")))
      val jac = r.getAs[java.lang.Double]("jaccard")
      if (jac != null) assert(jac >= 0.0 && jac <= 1.0 + 1e-9)
      else assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") === 0L,
        "jaccard may only be NULL when both removed sets are empty")
    }
  }

  test("pipe_split_audit replays the brute bucket census and judges fairly") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def pin(x: Double, d: Int) = {
      val p = math.pow(10, d); math.floor(x * p + 0.5) / p
    }
    val ids = Tables.documents(spark, SfDir).select("doc_id").collect()
      .map(_.getLong(0))
    val counts = Array.fill(100)(0L)
    ids.foreach { id =>
      counts(Integer.parseInt(md5hex(id.toString).substring(0, 4), 16) % 100) += 1
    }
    val n = ids.length.toDouble
    val exp = n / 100.0
    val chi2 = counts.map(c => BigDecimal(pin((c - exp) * (c - exp) / exp, 6))
      .setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
    var cum = 0L
    val ksd = counts.zipWithIndex.map { case (c, b) =>
      cum += c; math.abs(cum.toDouble / n - (b + 1) / 100.0)
    }.max
    val r = PipelineOps.queries("pipe_split_audit")(spark, SfDir).head()
    assert(r.getAs[Long]("n") === ids.length.toLong)
    assert(r.getAs[Long]("min_count") === counts.min)
    assert(r.getAs[Long]("max_count") === counts.max)
    assert(r.getAs[Double]("chi2") === pin(chi2, 6))
    assert(r.getAs[Double]("ks_d") === pin(ksd, 6))
    // the md5 split must actually BE fair on the fixture: chi2 for 99
    // dof far under the gross-failure line, KS tiny
    assert(r.getAs[Double]("ks_d") < 0.05, "split hash visibly biased")
  }

  test("ml_mann_whitney's U is the midrank AUC scaled by n1*n2") {
    // the exact algebraic bridge between the two keys: the tie-corrected
    // (midrank) Mann-Whitney U and the tie-aware AUC over the same
    // pos/neg split satisfy AUC = U / (n1*n2) identically — a cross-key
    // consistency check no single oracle can express
    val mw = PipelineOps.queries("ml_mann_whitney")(spark, SfDir).head()
    val auc = PipelineOps.queries("ml_auc")(spark, SfDir).head()
    val (n1, n2) = (mw.getAs[Long]("n_pos"), mw.getAs[Long]("n_neg"))
    assert(n1 === auc.getAs[Long]("n_pos"))
    assert(n2 === auc.getAs[Long]("n_neg"))
    val u = mw.getAs[Double]("u_stat")
    assert(math.abs(auc.getAs[Double]("auc") - u / (n1.toDouble * n2)) < 1e-6,
      s"AUC ${auc.getAs[Double]("auc")} vs U/(n1 n2) ${u / (n1.toDouble * n2)}")
    // coherence: z carries the direction of U vs its null mean, sigma > 0
    assert(mw.getAs[Double]("sigma_u") > 0.0)
    assert((u - mw.getAs[Double]("mu_u")) * mw.getAs[Double]("z") >= 0.0)
  }

  test("ml_ttest replays Welch's t from first principles and bounds the dof") {
    val r = q("ml_ttest").collect().head
    val xs = Tables.documents(spark, SfDir)
      .select(col("n_chars"), (col("lang") === "en").as("en"))
      .collect().map(row => (row.getLong(0).toDouble, row.getBoolean(1)))
    val a = xs.filter(_._2).map(_._1); val b = xs.filterNot(_._2).map(_._1)
    def mv(v: Array[Double]) = {
      val m = v.sum / v.length
      (m, v.map(x => (x - m) * (x - m)).sum / (v.length - 1))
    }
    val (m1, v1) = mv(a); val (m2, v2) = mv(b)
    val se = v1 / a.length + v2 / b.length
    val t = (m1 - m2) / math.sqrt(se)
    assert(r.getAs[Long]("n1") === a.length.toLong)
    assert(r.getAs[Long]("n2") === b.length.toLong)
    assert(math.abs(r.getAs[Double]("t_stat") - t) < 1e-4,
      s"t replay: got ${r.getAs[Double]("t_stat")}, want ~$t")
    val dof = r.getAs[Double]("dof")
    // Welch dof is bracketed by min(n1,n2)-1 and n1+n2-2
    assert(dof >= math.min(a.length, b.length) - 1 - 1e-9 &&
      dof <= a.length + b.length - 2 + 1e-9, s"dof out of bracket: $dof")
  }

  test("pipe_dsir_weights scores the target slice higher and conserves token counts") {
    val rows = q("pipe_dsir_weights")
    val docs = Tables.documents(spark, SfDir)
    // token conservation: n_tokens = the doc's whitespace token count
    val bad = rows.join(docs, "doc_id")
      .filter(col("n_tokens") =!= size(split(col("text"), " ")))
      .count()
    assert(bad === 0, "n_tokens must equal the doc's token count")
    // the DSIR premise: target-domain (en) docs average a higher
    // log-weight than the rest — if this inverts, the ratio table's
    // target/raw orientation flipped
    val byLang = rows.join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy(col("lang") === "en")
      .agg(avg("log_weight").as("w"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(byLang(true) > byLang(false),
      s"en mean ${byLang(true)} must exceed non-en ${byLang(false)}")
  }

  test("pipe_contam_report reconciles with pipe_decontaminate and the corpus") {
    val rep = q("pipe_contam_report").collect()
    val hits = q("pipe_decontaminate").collect()
    assert(rep.map(_.getAs[Long]("n_contaminated")).sum === hits.length.toLong,
      "per-source contaminated docs must sum to the scrub's hit list")
    assert(rep.map(_.getAs[Long]("n_shingle_hits")).sum ===
      hits.map(_.getAs[Long]("n_hits")).sum,
      "shingle-hit mass must be conserved")
    val nTrain = Tables.documents(spark, SfDir)
      .filter(col("doc_id") % 97 =!= 0).count()
    assert(rep.map(_.getAs[Long]("n_docs")).sum === nTrain,
      "per-source doc counts must partition the training slice")
  }

  test("ml_ece replays from ml_calibration's published bins") {
    val bins = q("ml_calibration").collect()
    val r = q("ml_ece").collect().head
    assert(r.getAs[Long]("n_bins") === bins.length.toLong)
    val n = bins.map(_.getAs[Long]("n_docs")).sum.toDouble
    def pin(x: Double, d: Int) = math.floor(x * math.pow(10, d) + 0.5) / math.pow(10, d)
    val ces = bins.map(b => pin(math.abs(
      b.getAs[Double]("frac_positive") - b.getAs[Double]("mean_predicted")), 6))
    val ece = pin(bins.zip(ces).map { case (b, ce) =>
      pin(b.getAs[Long]("n_docs") / n * ce, 10) }.sum, 6)
    assert(math.abs(r.getAs[Double]("ece") - ece) < 1e-9,
      s"ece ${r.getAs[Double]("ece")} != replay $ece")
    assert(r.getAs[Double]("max_ce") === ces.max)
    assert(r.getAs[Double]("ece") <= r.getAs[Double]("max_ce") + 1e-12,
      "ECE is a weighted mean of gaps, bounded by the max gap")
  }

  test("ml_log_loss replays brute-force and stays inside the clip bounds") {
    val r = q("ml_log_loss").collect().head
    def pin(x: Double, d: Int) = math.floor(x * math.pow(10, d) + 0.5) / math.pow(10, d)
    val docs = Tables.documents(spark, SfDir)
      .select(col("n_chars"), col("lang")).collect()
    def clip(p: Double) = math.max(math.min(p, 0.999), 0.001)
    // brute per-row replay (the query folds per-CELL; the difference is
    // only association order of exact DECIMAL terms, so sums agree)
    val terms = docs.map { d =>
      val p = clip(math.min(d.getAs[Long]("n_chars"), 500L).toDouble / 500.0)
      pin(math.log(if (d.getAs[String]("lang") == "en") p else 1.0 - p), 10)
    }
    val brute = pin(-BigDecimal(terms.map(BigDecimal(_)).sum.toDouble).toDouble
      / docs.length, 6)
    assert(math.abs(r.getAs[Double]("log_loss") - brute) < 1e-6,
      s"log_loss ${r.getAs[Double]("log_loss")} != brute $brute")
    assert(r.getAs[Long]("n_docs") === docs.length.toLong)
    // both losses live inside the clip bounds: (0, -ln(0.001)]
    val bl = r.getAs[Double]("baseline_loss")
    assert(r.getAs[Double]("log_loss") > 0.0 &&
      r.getAs[Double]("log_loss") <= -math.log(0.001) + 1e-9)
    assert(bl > 0.0 && bl <= -math.log(0.001) + 1e-9)
  }

  test("ml_fbeta agrees with ml_confusion at beta=1 and orders by beta weight") {
    val rows = q("ml_fbeta").collect()
    assert(rows.map(_.getAs[Double]("beta")).toSeq === Seq(0.5, 1.0, 2.0))
    val conf = q("ml_confusion").collect().head
    val f1row = rows(1)
    assert(f1row.getAs[Long]("tp") === conf.getAs[Long]("tp"))
    assert(math.abs(f1row.getAs[Double]("fbeta") - conf.getAs[Double]("f1")) < 1e-6,
      "F1 must match ml_confusion's F1 on the same cells")
    // Fβ interpolates between precision (β→0) and recall (β→∞): each
    // value lies inside [min(P,R), max(P,R)], and ordering follows which
    // of P/R dominates
    rows.foreach { r =>
      val (p, rc, f) = (r.getAs[Double]("precision"), r.getAs[Double]("recall"),
        r.getAs[Double]("fbeta"))
      assert(f >= math.min(p, rc) - 1e-9 && f <= math.max(p, rc) + 1e-9,
        s"beta=${r.getAs[Double]("beta")}: $f outside [$p, $rc]")
    }
  }

  test("ml_roc_curve trapezoid equals ml_auc's exact rank-sum AUC") {
    val curve = q("ml_roc_curve").collect().sortBy(-_.getAs[Long]("score"))
    val aucRow = q("ml_auc").collect().head
    // curve sanity: both rates are monotone nondecreasing as the
    // threshold loosens, ending at (1, 1)
    val fprs = 0.0 +: curve.map(_.getAs[Double]("fpr"))
    val tprs = 0.0 +: curve.map(_.getAs[Double]("tpr"))
    assert(fprs.zip(fprs.tail).forall { case (a, b) => a <= b + 1e-12 })
    assert(tprs.zip(tprs.tail).forall { case (a, b) => a <= b + 1e-12 })
    assert(math.abs(fprs.last - 1.0) < 1e-9 && math.abs(tprs.last - 1.0) < 1e-9)
    // the trapezoid under the distinct-score ROC IS the tie-corrected
    // Mann-Whitney statistic — the two keys must agree
    val pts = fprs.zip(tprs)
    val trap = pts.zip(pts.tail).map { case ((f0, t0), (f1, t1)) =>
      (f1 - f0) * (t0 + t1) / 2.0
    }.sum
    assert(math.abs(trap - aucRow.getAs[Double]("auc")) < 1e-4,
      s"trapezoid $trap vs rank-sum ${aucRow.getAs[Double]("auc")}")
  }

  test("ml_bootstrap_ci brackets the full mean deterministically") {
    val r1 = q("ml_bootstrap_ci").collect().head
    assert(r1.getAs[Long]("n_replicas") === 64L)
    val (lo, m, hi) = (r1.getAs[Double]("ci_lo"), r1.getAs[Double]("mean_full"),
      r1.getAs[Double]("ci_hi"))
    assert(lo <= hi, "interval is ordered")
    assert(lo <= m && m <= hi,
      s"half-sample CI [$lo, $hi] fails to bracket the full mean $m")
    // membership is a pure content hash: a second evaluation is identical
    val r2 = q("ml_bootstrap_ci").collect().head
    assert(r1 === r2, "bootstrap must be retry-deterministic")
    // the interval is non-degenerate but far tighter than the data range
    val widths = hi - lo
    assert(widths > 0.0, "64 half-samples cannot all share one mean here")
  }

  test("pipe_unimax respects the epoch cap and conserves the budget") {
    val rows = q("pipe_unimax").collect()
    val e = PipelineOps.UniMaxEpochCap
    val total = Tables.documents(spark, SfDir)
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum("n")).head().getLong(0)
    val b = total / 2
    assert(rows.map(_.getAs[Long]("n_tokens")).sum === total)
    rows.foreach { r =>
      val (c, a) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("alloc_tokens"))
      assert(a <= e * c, s"${r.getString(0)}: alloc $a exceeds the epoch cap")
      if (r.getAs[Boolean]("capped")) assert(a === e * c, "capped = full cap")
    }
    // the waterfill spends the whole budget up to the floor-division
    // remainder (< one token per uncapped language)
    val spent = rows.map(_.getAs[Long]("alloc_tokens")).sum
    val nUnc = rows.count(!_.getAs[Boolean]("capped"))
    assert(spent <= b && b - spent < math.max(nUnc, 1).toLong,
      s"spent $spent of $b with $nUnc uncapped")
    // fairness: uncapped languages all receive the identical equal share,
    // and no capped language's cap exceeds that share
    val shares = rows.filter(!_.getAs[Boolean]("capped"))
      .map(_.getAs[Long]("alloc_tokens")).distinct
    assert(shares.length <= 1, "uncapped shares must be equal")
    shares.headOption.foreach { sh =>
      rows.filter(_.getAs[Boolean]("capped")).foreach { r =>
        assert(r.getAs[Long]("alloc_tokens") <= sh,
          "a capped language cannot out-receive the equal share")
      }
    }
  }

  test("pipe_ppl_buckets terciles partition each language in ce order") {
    val rows = q("pipe_ppl_buckets").collect()
    val perLang = Tables.documents(spark, SfDir)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("bucket"))
      assert(sorted.map(_.getAs[Long]("bucket")).toSeq === Seq(0L, 1L, 2L),
        s"$lang: expected head/middle/tail")
      assert(sorted.map(_.getAs[Long]("n_docs")).sum === perLang(lang),
        s"$lang: buckets must partition the language")
      // ce ranges are disjoint and ordered: head is the LOWEST perplexity
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(a.getAs[Double]("max_ce") < b.getAs[Double]("min_ce") + 1e-12,
          s"$lang: bucket ranges overlap")
      }
      val pct = sorted.map(_.getAs[Double]("pct_docs")).sum
      assert(math.abs(pct - 1.0) < 1e-3, s"$lang: pcts sum to $pct")
    }
  }

  test("pipe_bpe_fertility reconciles with pipe_bpe_encode's global totals") {
    val fert = q("pipe_bpe_fertility").collect()
    val enc = q("pipe_bpe_encode").collect().head
    // the per-language split must partition the global encode datasheet:
    // same trained rules, same vocabulary, sliced by lang
    assert(fert.map(_.getAs[Long]("n_words")).sum ===
      enc.getAs[Long]("n_occurrences"), "word occurrences must partition")
    assert(fert.map(_.getAs[Long]("n_tokens")).sum ===
      enc.getAs[Long]("symbols_after"), "post-merge symbol mass must partition")
    fert.foreach { r =>
      val f = r.getAs[Double]("fertility")
      assert(f >= 1.0, s"${r.getString(0)}: fertility $f < 1 (a word is >= 1 symbol)")
    }
  }

  test("pipe_e2e conserves documents across every chained stage") {
    // The r11 composition: exact dedup → near dedup (cluster reps) →
    // decontamination → quality gate → split accounting. Each stage's
    // drop count must telescope back to the corpus total — a stage that
    // silently duplicates or loses docs would still produce a plausible-
    // looking final table.
    import graft.operators.DedupOps
    val docs = Tables.documents(spark, SfDir)
    val nTotal = docs.count()
    val survivors = docs.groupBy("text")
      .agg(min(col("doc_id")).as("doc_id"))
    val nExact = survivors.count()
    assert(nExact <= nTotal)
    val reps = DedupOps.clusterLabels(spark, SfDir)
      .filter(col("doc_id") === col("cluster_id")).select("doc_id")
    val nNear = survivors.join(reps, Seq("doc_id"), "left_semi").count()
    assert(nNear <= nExact, "near stage can only drop")
    // every near-dropped survivor belongs to a >1 cluster whose rep is
    // a DIFFERENT doc — i.e. the drop count equals survivors whose
    // cluster_id differs from their doc_id
    val nonRep = DedupOps.clusterLabels(spark, SfDir)
      .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    val nDroppedNear = survivors.join(nonRep, Seq("doc_id"), "left_semi").count()
    assert(nNear + nDroppedNear === nExact, "near-dedup stage must partition survivors")
    val contaminated = graft.operators.PipelineOps
      .decontamHits(spark, SfDir).select("doc_id")
    val cleanDf = survivors.join(reps, Seq("doc_id"), "left_semi")
      .join(contaminated, Seq("doc_id"), "left_anti")
    val nClean = cleanDf.count()
    val nContam = survivors.join(reps, Seq("doc_id"), "left_semi")
      .join(contaminated, Seq("doc_id"), "left_semi").count()
    assert(nClean + nContam === nNear, "decontam stage must partition the near-kept set")
    // the final accounting's doc total equals the gate's pass count
    val finalDocs = q("pipe_e2e").collect().map(_.getAs[Long]("n_docs")).sum
    val docsTab = Tables.documents(spark, SfDir)
    val toks = split(col("text"), " ")
    val nGated = docsTab
      .groupBy("text").agg(min(col("doc_id")).as("doc_id"))
      .join(reps, Seq("doc_id"), "left_semi")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .withColumn("n_tokens", size(toks))
      .withColumn("dup_frac",
        lit(1.0) - size(array_distinct(toks)).cast("double") / col("n_tokens"))
      .filter(col("n_tokens").between(20, 400) && col("dup_frac") < 0.8)
      .count()
    assert(finalDocs === nGated,
      s"accounting total $finalDocs != gate survivors $nGated")
  }
}
