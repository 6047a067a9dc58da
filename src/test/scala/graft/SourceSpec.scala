package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** DSv2 contract of the synthetic documents source (graft.sources.DocsSource):
  * declared partitioning, executor-side generation, column-pruning
  * pushdown, and retry-safe determinism. */
class SourceSpec extends SparkSpec {

  private def read(rows: Int, parts: Int) =
    spark.read.format("graft-docs")
      .option("rows", rows).option("partitions", parts).load()

  test("generates the requested rows across the requested partitions") {
    val df = read(1000, 5)
    assert(df.count() === 1000)
    assert(df.rdd.getNumPartitions === 5)
    assert(df.select("doc_id").distinct().count() === 1000)
  }

  test("is deterministic across reads (retry/speculation safety)") {
    val a = read(200, 3).orderBy("doc_id").collect()
    val b = read(200, 3).orderBy("doc_id").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("column pruning reaches the scan: projected reads synthesize only what is asked") {
    val df = read(100, 2).select("doc_id", "lang")
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    assert(scans.head.output.map(_.name).toSet === Set("doc_id", "lang"),
      s"scan not pruned: ${scans.head.output}")
  }

  test("doc_id range pushdown prunes input partitions at planning time") {
    val df = read(1000, 4).filter(col("doc_id") >= 250 && col("doc_id") < 500)
    // ranges are [0,250) [250,500) [500,750) [750,1000): one survives
    assert(df.rdd.getNumPartitions === 1,
      s"expected pruning to 1 partition, got ${df.rdd.getNumPartitions}")
    assert(df.count() === 250)
    val ids = df.agg(min("doc_id"), max("doc_id")).head
    assert(ids.getLong(0) === 250 && ids.getLong(1) === 499)
  }

  test("lang equality pushdown removes the post-scan filter and keeps results exact") {
    val pushed = read(500, 4).filter(col("lang") === "es")
    // accepted filters are removed from the plan: no Filter node remains
    val plan = pushed.queryExecution.executedPlan.toString
    // no Filter NODE ("Filter (...)") — the scan's own "RuntimeFilters: []"
    // tag is not a residual
    assert(!plan.contains("Filter ("), s"pushed filter should leave no residual:\n$plan")
    assert(plan.contains("lang=es"), s"scan should report the pushed filter:\n$plan")
    // reader-side skip returns exactly what an unpushed filter would
    val expected = read(500, 4).select("doc_id", "lang").collect()
      .filter(_.getString(1) == "es").map(_.getLong(0)).toSet
    val got = pushed.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("n_chars agrees with the generated text and lang is from the declared set") {
    val df = read(300, 4)
    assert(df.filter(length(col("text")) =!= col("n_chars")).count() === 0)
    assert(df.filter(!col("lang").isin("en", "es", "fr", "de")).count() === 0)
  }

  test("graft-mem sink: two-phase commit appends, overwrite truncates, rows read back") {
    import graft.sources.MemSink
    import spark.implicits._
    val name = "sink_spec_t1"
    MemSink.tables.remove(name)
    val df1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .repartition(3) // several tasks -> several commit messages
    df1.write.format("graft-mem").option("name", name).mode("append").save()
    assert(MemSink.rows(name).map(r => (r(0), r(1))).toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // append mode extends the committed set
    Seq((4L, "d")).toDF("id", "v").write.format("graft-mem")
      .option("name", name).mode("append").save()
    assert(MemSink.rows(name).length === 4)
    // overwrite truncates atomically at driver commit
    Seq((9L, "z")).toDF("id", "v").write.format("graft-mem")
      .option("name", name).mode("overwrite").save()
    assert(MemSink.rows(name).map(r => (r(0), r(1))) === Vector((9L, "z")))
    MemSink.tables.remove(name)
    ()
  }

  test("graft-mem sink: nested array values are owned, not views into the task buffer") {
    import graft.sources.MemSink
    import spark.implicits._
    val name = "sink_spec_arrays"
    MemSink.tables.remove(name)
    // several rows per task: the aliasing bug made every buffered row's
    // array reflect the LAST record written by that task
    Seq((1L, Seq(1L, 2L)), (2L, Seq(3L, 4L)), (3L, Seq(5L, 6L)))
      .toDF("id", "xs").repartition(1)
      .write.format("graft-mem").option("name", name).mode("append").save()
    val got = MemSink.rows(name).map { r =>
      (r(0).asInstanceOf[Long],
        r(1).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toLongArray().toSeq)
    }.toSet
    assert(got === Set((1L, Seq(1L, 2L)), (2L, Seq(3L, 4L)), (3L, Seq(5L, 6L))))
    MemSink.tables.remove(name)
    ()
  }

  test("count/min/max push down completely: one pre-aggregated row, no data scan") {
    val df = read(100000, 8)
      .filter(col("doc_id") >= 100 && col("doc_id") < 5000)
      .agg(count(expr("*")).as("n"), min("doc_id").as("lo"), max("doc_id").as("hi"))
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(plan.contains("pushed-agg"), s"aggregate not pushed:\n$plan")
    assert(!plan.contains("HashAggregate"),
      s"complete pushdown must remove Spark-side aggregation:\n$plan")
    val r = df.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((4900L, 100L, 4999L)))
  }

  test("aggregate pushdown declines under a lang filter or out-of-contract " +
      "grouping (results stay exact)") {
    // lang filter: count depends on row generation — the source must
    // decline and Spark aggregates the ordinary (lang-pushed) scan
    val flt = read(1000, 4).filter(col("lang") === "es")
      .agg(count(expr("*")).as("n"))
    assert(!flt.queryExecution.executedPlan.toString.contains("pushed-agg"))
    val exact = read(1000, 4).collect().count(_.getAs[String]("lang") == "es").toLong
    assert(flt.collect().head.getLong(0) === exact)
    // grouping by a column OUTSIDE the partial contract (only `lang` is
    // claimed): declined to the ordinary scan
    val grp = read(1000, 4).groupBy("source").agg(count(expr("*")).as("n"))
    assert(!grp.queryExecution.executedPlan.toString.contains("pushed-agg"))
    assert(grp.collect().map(_.getLong(1)).sum === 1000L)
    // grouping by lang UNDER a lang filter: the partial contract also
    // declines (reader-side filter composing with group partials is a
    // contract the source doesn't claim)
    val fg = read(1000, 4).filter(col("lang") === "es")
      .groupBy("lang").agg(count(expr("*")).as("n"))
    assert(!fg.queryExecution.executedPlan.toString.contains("pushed-agg"))
    assert(fg.collect().head.getLong(1) === exact)
  }

  test("grouped aggregate pushes down PARTIALLY: the scan ships per-" +
      "partition lang partials and Spark's final aggregate merges them") {
    val df = read(1000, 4).groupBy("lang").agg(count(expr("*")).as("n"),
      sum("n_chars").as("sc"), min("doc_id").as("lo"), max("doc_id").as("hi"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pushed-group-agg"), s"partial pushdown absent:\n$plan")
    assert(plan.contains("HashAggregate"),
      s"partial pushdown must KEEP Spark's final merge aggregate:\n$plan")
    // exactness vs the ordinary full-row scan, group by group
    val rows = read(1000, 4).collect()
    val exp = rows.groupBy(_.getAs[String]("lang")).map { case (l, rs) =>
      l -> ((rs.length.toLong, rs.map(_.getAs[Long]("n_chars")).sum,
        rs.map(_.getAs[Long]("doc_id")).min, rs.map(_.getAs[Long]("doc_id")).max))
    }
    val got = df.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === exp)
  }

  test("aggregate pushdown over an empty pruned span: count 0, null min/max") {
    val df = read(100, 2).filter(col("doc_id") > 1000)
      .agg(count(expr("*")).as("n"), min("doc_id").as("lo"))
    val r = df.collect().head
    assert(r.getLong(0) === 0L)
    assert(r.isNullAt(1))
  }

  test("grouped partial pushdown over an empty pruned span: zero groups, " +
      "not a zero row") {
    // the grouped contract's empty-span shape differs from the complete
    // path's: with GROUP BY there is no group to report, so the result
    // is EMPTY (the complete path's ungrouped count-0 row would be wrong
    // here) — the scan plans no partitions and the final aggregate sees
    // no partials
    val df = read(100, 2).filter(col("doc_id") > 1000)
      .groupBy("lang").agg(count(expr("*")).as("n"))
    assert(df.queryExecution.executedPlan.toString.contains("pushed-group-agg"))
    assert(df.collect().isEmpty)
  }

  test("grouped partial pushdown agrees with the ordinary scan across " +
      "span/partition geometries (boundary sweep)") {
    // deterministic geometry sweep standing in for a property test: odd
    // spans vs partition counts (per-partition remainders), a span
    // smaller than the partition count, single partition, and pruned
    // sub-spans — each must produce IDENTICAL (lang, n, lo, hi) groups
    // to the unpushed full-row scan
    val geoms = Seq((97, 4, 0L, 97L), (13, 8, 0L, 13L), (50, 1, 0L, 50L),
      (200, 8, 17L, 131L), (64, 8, 63L, 64L))
    for ((rows, parts, lo, hi) <- geoms) {
      val base = read(rows, parts)
        .filter(col("doc_id") >= lo && col("doc_id") < hi)
      val pushed = base.groupBy("lang").agg(count(expr("*")).as("n"),
        min("doc_id").as("lo"), max("doc_id").as("hi"))
      assert(pushed.queryExecution.executedPlan.toString
        .contains("pushed-group-agg"), s"not pushed at geometry $rows/$parts")
      val got = pushed.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val exp = base.select("doc_id", "lang").collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .groupBy(_._2).map { case (l, rs) =>
          (l, rs.length.toLong, rs.map(_._1).min, rs.map(_._1).max)
        }.toSet
      assert(got === exp, s"geometry $rows/$parts span [$lo,$hi) disagrees")
    }
  }

  test("grouped partial pushdown at a 100M-id span: the wire carries " +
      "group partials only, state bounded by the lang domain", SlowTest) {
    // the contract's scale claim, exercised for real: a span 100,000x
    // the fixture flows through the pushed scan as |partitions| x
    // |langs| partial rows — nothing span-sized materializes anywhere
    // (count-only, so the reader never synthesizes text either)
    val df = read2(100000000L, 16).groupBy("lang").agg(count(expr("*")).as("n"))
    val rows = df.collect()
    assert(rows.length === 4)
    assert(rows.map(_.getLong(1)).sum === 100000000L)
    // en owns 3 of the 6 lang slots; the mix is uniform enough that a
    // wide miss here means the generator or the partials broke
    val en = rows.find(_.getString(0) == "en").get.getLong(1)
    assert(math.abs(en / 1e8 - 0.5) < 0.01, s"en share off: $en")
    val scans = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.collect { case b: BatchScanExec => b }
      case p => p.collect { case b: BatchScanExec => b }
    }
    // under AQE the scan may sit inside a materialized stage; fall back
    // to the metric census only when directly visible
    scans.headOption.foreach { s =>
      assert(s.metrics("numOutputRows").value <= 16L * 4)
    }
  }

  private def read2(rows: Long, parts: Int) =
    spark.read.format("graft-docs")
      .option("rows", rows).option("partitions", parts).load()

  test("limit pushdown clamps the generated span at planning time") {
    val df = read(1000000, 8).limit(7)
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty && scans.head.scan.description().contains("range=[0,7)"),
      s"span not clamped:\n${scans.map(_.scan.description()).mkString}")
    assert(df.count() === 7)
    // declined under a reader-side lang filter: the clamp would undercount
    val flt = read(1000, 4).filter(col("lang") === "es").limit(3)
    assert(flt.count() === 3)
  }

  test("top-N pushdown narrows the span from the right end for DESC") {
    val df = read(1000000, 8).orderBy(col("doc_id").desc).limit(3)
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty && scans.head.scan.description().contains("range=[999997,1000000)"),
      s"span not narrowed:\n${scans.map(_.scan.description()).mkString}")
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(999999L, 999998L, 999997L))
  }

  test("doc_id bound at Long.MaxValue does not overflow the pushed range") {
    // `> MaxValue` must yield zero rows (the accepted filter is REMOVED
    // from the plan, so an overflowed bound would return every row)
    assert(read(100, 2).filter(col("doc_id") > Long.MaxValue).count() === 0)
    // `<= MaxValue` must keep every row (overflow clamped hi to MinValue)
    assert(read(100, 2).filter(col("doc_id") <= Long.MaxValue).count() === 100)
  }

  test("conflicting pushed lang equalities compose by intersection, not last-write-wins") {
    // ConstantPropagation normally folds `lang='en' AND lang='fr'` to
    // false before pushdown ever sees it; exclude the rule so BOTH
    // equalities reach the builder — the second must stay residual
    // (accepted filters are removed from the plan, so an overwrite would
    // silently return the second language's rows instead of the empty set)
    withConfs("spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConstantPropagation") {
      val df = read(1000, 2).filter(col("lang") === "en" && col("lang") === "fr")
      assert(df.count() === 0, "conflicting equalities must yield the empty set")
    }
  }

  test("micro-batch planInputPartitions survives a Long.MaxValue span (ceil-div overflow)") {
    // Trigger.Once admits the whole span in one batch; the naive
    // (span + parts - 1) ceil-div wraps negative there, collapses the
    // per-range stride to 1, and asks the driver for ~2^63 range objects
    import graft.sources.{DocsMicroBatchStream, DocsOffset}
    val s = new DocsMicroBatchStream(4, 0L, Long.MaxValue, 10L,
      Array("doc_id"), None)
    val parts = s.planInputPartitions(DocsOffset(0L), DocsOffset(Long.MaxValue))
    assert(parts.length === 4, s"expected 4 ranges, got ${parts.length}")
  }

  test("USE graft gives SHOW TABLES a default namespace to resolve") {
    val prev = spark.catalog.currentCatalog()
    try {
      spark.sql("USE graft")
      assert(spark.sql("SHOW TABLES").collect().nonEmpty,
        "bare catalog must be usable as the current catalog")
    } finally spark.catalog.setCurrentCatalog(prev)
  }

  test("bucket(0, id) raises the contract error, not a raw divide-by-zero") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft.docs.bucket(0, 5L)").collect()
    }
    def msgs(t: Throwable): List[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) :: msgs(t.getCause)
    assert(msgs(e).exists(_.contains("numBuckets must be positive")),
      msgs(e).mkString(" | "))
  }

  test("catalog plugin resolves generated tables to pure SQL with pushdown intact") {
    // name IS the definition: docs_<rows>[_<partitions>]
    val n = spark.sql("SELECT count(*) AS n FROM graft.docs.docs_5000_4").head.getLong(0)
    assert(n === 5000)
    // aggregate pushdown composes through SQL resolution: count answered
    // at plan time (no Exchange in the final plan)
    val agg = spark.sql("SELECT count(*) AS n, min(doc_id) AS lo FROM graft.docs.docs_100000")
    val row = agg.head
    assert(row.getLong(0) === 100000 && row.getLong(1) === 0)
    // filter pushdown composes too
    assert(spark.sql(
      "SELECT count(*) AS n FROM (SELECT * FROM graft.docs.docs_5000_4 WHERE doc_id < 7)")
      .head.getLong(0) === 7)
    // read-only: DDL is rejected
    intercept[Exception] {
      spark.sql("DROP TABLE graft.docs.docs_5000_4")
    }
  }

  test("metadata column _gen_bucket: hidden from SELECT *, synthesized " +
      "when named, equal to the catalog bucket function") {
    // the DSv2 SupportsMetadataColumns contract (the Iceberg _file/_pos
    // shape): provenance columns exist only when asked for
    val star = read(100, 4)
    assert(!star.columns.contains("_gen_bucket"),
      s"metadata column leaked into SELECT *: ${star.columns.toSeq}")
    val named = read(100, 4).select(col("doc_id"), col("_gen_bucket"))
    assert(named.collect().forall(r => r.getInt(1) == (r.getLong(0) % 4).toInt))
    // three-way agreement: reader synthesis, MetadataColumn, and the
    // FunctionCatalog's bucket() all derive from ONE floorMod — through
    // pure catalog SQL
    val bad = spark.sql(
      """SELECT count(*) AS n FROM graft.docs.docs_100_4
         WHERE _gen_bucket <> graft.docs.bucket(4, doc_id)""")
      .collect().head.getLong(0)
    assert(bad === 0L)
  }

  test("catalog scalar function lang_of: SQL-invocable via the magic " +
      "method, agrees with the generator and the table column") {
    // literal call matches the generator directly
    assert(spark.sql("SELECT graft.docs.lang_of(42L) AS l")
      .collect().head.getString(0) === graft.sources.DocsSource.langOf(42L))
    // ONE definition: the scan's lang column, derived by the reader, and
    // the catalog function, derived per-call, can never disagree
    val bad = spark.sql(
      """SELECT count(*) AS n FROM graft.docs.docs_500
         WHERE lang <> graft.docs.lang_of(doc_id)""").collect().head.getLong(0)
    assert(bad === 0L)
    // magic-method resolution: the analyzed expression is a direct
    // Invoke of LangBound.invoke(Long), not the row-boxing
    // ApplyFunctionExpression interpreted fallback
    val df = spark.sql(
      "SELECT graft.docs.lang_of(doc_id) AS l FROM graft.docs.docs_10")
    assert(!df.queryExecution.optimizedPlan.toString
        .contains("ApplyFunctionExpression"),
      s"magic method not taken:\n${df.queryExecution.optimizedPlan}")
    // bind() rejects wrong arity with the contract's analysis error, not
    // a raw internal exception
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft.docs.lang_of(1L, 2L)").collect()
    }
  }

  test("micro-batch streaming read: rows arrive once each across rowsPerBatch epochs") {
    // the same generator as a stream: offsets are high-water doc_ids,
    // 5000 ids admitted 1500 per micro-batch -> 4 epochs; determinism
    // means a replayed epoch would regenerate identical rows
    val q = spark.readStream.format("graft-docs")
      .option("rows", 5000).option("partitions", 4).option("rowsPerBatch", 1500)
      .load()
      .writeStream.format("memory").queryName("docs_stream")
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("docs_stream")
    assert(got.count() === 5000)
    assert(got.select("doc_id").distinct().count() === 5000)
    // projection survives the stream reader: schema is the full table's
    assert(got.columns.sorted === Array("doc_id", "lang", "n_chars", "source", "text"))
    // at least ceil(5000/1500)=4 distinct micro-batches ran
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4)
  }

  test("Trigger.AvailableNow drains the whole span in rowsPerBatch steps, then stops") {
    // latestOffset() must report ALL available data or AvailableNow would
    // fix its end target at one batch and terminate "successfully" after
    // rowsPerBatch rows; pacing lives in admission control instead
    val q = spark.readStream.format("graft-docs")
      .option("rows", 5000).option("partitions", 4).option("rowsPerBatch", 1500)
      .load()
      .writeStream.format("memory").queryName("docs_avail_now")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    // the correctness property: EVERYTHING is read (before the admission-
    // control fix this stopped "successfully" at rowsPerBatch rows);
    // batch pacing under AvailableNow is the engine wrapper's choice
    assert(spark.table("docs_avail_now").count() === 5000)
  }

  test("reported statistics let the planner auto-broadcast a small generated table") {
    // estimateStatistics() reflects the PRUNED span: a doc_id range
    // filter shrinks the estimate below autoBroadcastJoinThreshold, so
    // the planner broadcasts the generated side with NO hint — the same
    // role catalog/footer stats play for file tables
    val small = read(10000000, 8).filter(col("doc_id") < 100)
    val big = read(1000000, 8)
    val joined = big.join(small.select(col("doc_id"), col("lang").as("l2")), "doc_id")
    val bcast = joined.queryExecution.executedPlan.toString
    assert(bcast.contains("BroadcastHashJoin") || bcast.contains("BroadcastExchange"),
      s"expected an automatic broadcast of the pruned side; plan:\n$bcast")
    assert(joined.count() === 100)
  }

  test("runtime (DPP-style) filter from a broadcast join build side narrows the scan") {
    // a selective broadcast build side joined on doc_id should plan a
    // dynamic-pruning IN filter against the scan (SupportsRuntimeV2Filtering);
    // the scan narrows its generated span to the IN set's envelope BEFORE
    // partitions are planned — the connector analogue of skipping
    // DPP-pruned partitions of a partitioned table
    graft.sources.DocsScan.recordRuntimeSpans = true
    graft.sources.DocsScan.lastRuntimeSpan = None
    val docs = read(1000000, 16)
    // the build-side predicate must NOT be a plain range on the key:
    // Catalyst's constraint propagation would push a static doc_id range
    // into the scan and leave the runtime filter nothing to do (that
    // static path has its own test above) — pmod keeps the bounds
    // invisible until the dim actually executes
    val dim = spark.range(0, 1000).filter(pmod(col("id"), lit(100)) === 5)
      .select(col("id").as("doc_id"))
    val joined = docs.join(dim, "doc_id")
    assert(joined.count() === 10)
    // the planner must have attached a runtime filter to the v2 scan
    // (unwrap AQE's adaptive root to see the final physical plan)
    val finalPlan = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = finalPlan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty && scans.head.runtimeFilters.nonEmpty,
      s"expected a runtime filter on the graft-docs scan; plan:\n$finalPlan")
    // and the scan must have actually consumed it: span narrowed to the
    // build side's [min, max+1) envelope (ids 5, 105, …, 905)
    assert(graft.sources.DocsScan.lastRuntimeSpan.contains((5L, 906L)),
      s"runtime span was ${graft.sources.DocsScan.lastRuntimeSpan}")
  }

  test("storage-partitioned join: bucket-layout scans co-locate with no shuffle") {
    // the DSv2 analogue of the bucketed-table join (BucketingSpec): both
    // scans report KeyGroupedPartitioning over bucket(parts, doc_id) and
    // every input partition carries its bucket as the partition key, so
    // the join on doc_id is co-partitioned by construction — Spark plans
    // SMJ/SHJ with ZERO exchanges. This is how Iceberg-style table
    // formats join 100 TB fact tables without paying a shuffle.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // SPJ resolves the scan's bucket transform through the owning
    // CATALOG's FunctionCatalog, so the table must come from the graft
    // catalog (a bare format() read has no function registry to consult)
    def bucketed = spark.table("graft.docs.docs_2000_4_bucket")
    // assert under BOTH planners: AQE off gives a concrete executedPlan;
    // AQE on (the production default) must keep the co-location too —
    // the final adaptive plan is inspected after execution
    for (aqe <- Seq("false", "true")) {
      withConfs(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> aqe) {
        val a = bucketed.select(col("doc_id"), col("n_chars"))
        val b = bucketed.select(col("doc_id"), col("lang"))
        val j = a.join(b, "doc_id")
        // unique ids join 1:1 — and the bucket layout generates exactly
        // the same id set as the default range layout
        assert(j.count() === 2000L)
        val finalPlan = j.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case p => p
        }
        val exchanges = finalPlan.collect { case e: ShuffleExchangeExec => e }
        assert(exchanges.isEmpty,
          s"SPJ should plan no shuffle (aqe=$aqe):\n$finalPlan")
        assert(bucketed.select(sum(col("doc_id"))).head.getLong(0) ===
          (0L until 2000L).sum)

        // a filtered side keeps the co-location: every bucket partition
        // is still emitted (possibly empty), so both sides' key sets
        // stay identical and the filter costs no exchange — the
        // dim-filtered fact join shape
        val f = bucketed.filter(col("lang") === "en")
          .select(col("doc_id"), col("source"))
        val jf = f.join(b, "doc_id")
        val expected = bucketed.filter(col("lang") === "en").count()
        assert(jf.count() === expected)
        val fPlan = jf.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case p => p
        }
        assert(fPlan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"filtered-side SPJ should plan no shuffle (aqe=$aqe):\n$fPlan")
      }
    }
  }

  test("stride reader saturates at the Long.MaxValue edge instead of wrapping") {
    // drive the reader directly (no Spark job can reach this span size):
    // a bucket partition whose span ends within one stride of
    // Long.MaxValue must terminate after its last id — wrapping negative
    // would re-enter the id < end window and emit ids the removed pushed
    // filter excluded, in a ~2^61-iteration loop
    import graft.sources.{DocsBucketRange, DocsRange, DocsScan}
    def ids(p: org.apache.spark.sql.connector.read.InputPartition): Seq[Long] = {
      val r = DocsScan.readerFactory(Array("doc_id"), None, 4).createReader(p)
      val out = Seq.newBuilder[Long]
      while (r.next()) out += r.get().getLong(0)
      r.close()
      out.result()
    }
    val hi = Long.MaxValue
    // hi % 4 == 3, so (hi-10) % 4 == 1: bucket 1 in [hi-10, hi) is
    // exactly {hi-10, hi-6, hi-2} — then the stride must STOP
    val got = ids(DocsBucketRange(bucket = 1, parts = 4,
      start = hi - 10, end = hi))
    assert(got === Seq(hi - 10, hi - 6, hi - 2), s"stride walk wrong: $got")
    // contiguous range partition at the same edge
    val gotR = ids(DocsRange(hi - 3, hi))
    assert(gotR === Seq(hi - 3, hi - 2, hi - 1), s"range walk wrong: $gotR")
    // degenerate: start offset overflow -> empty, never negative ids
    val gotE = ids(DocsBucketRange(bucket = 2, parts = 4,
      start = hi - 1, end = hi))
    assert(gotE.forall(id => id >= hi - 1 && id < hi), s"overflowed first: $gotE")
  }

  test("bucket layout preserves pushdown: lang filter and doc_id range still prune") {
    def bucketed = spark.read.format("graft-docs")
      .option("rows", 2000).option("partitions", 4)
      .option("layout", "bucket").load()
    // reader-side lang filter: same result as the range layout
    val en = bucketed.filter(col("lang") === "en").count()
    val enRange = read(2000, 4).filter(col("lang") === "en").count()
    assert(en === enRange)
    // planning-time span narrowing still applies inside each stride —
    // collect the actual ids (count() alone would be answered by the
    // pushed-aggregate scan from the span bounds without ever running
    // the strided reader, leaving the first-id floorMod math untested)
    val slice = bucketed.filter(col("doc_id") >= 100 && col("doc_id") < 300)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(slice.toSeq === (100L until 300L),
      s"strided span walk produced ${slice.length} ids, " +
        s"head=${slice.headOption}, last=${slice.lastOption}")
  }

  test("src_docs_pushdown (the DECLARED key): every predicate absorbed by " +
      "the scan, columns pruned to the 3 consumed (r18)") {
    // the declared key is the one the daily oracle gate replays — pin
    // that its plan keeps the full pushdown story: if a Spark upgrade or
    // a source edit stops the scan from accepting a predicate, the
    // residual Filter shows up here before the oracle diff could even
    // notice (the oracle is pushdown-agnostic by design)
    val df = graft.sources.SourceOps.queries("src_docs_pushdown")(
      spark, SfDir)
    val opt = df.queryExecution.optimizedPlan
    assert(opt.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.isEmpty,
      s"a predicate was NOT accepted by the source (residual Filter):\n$opt")
    val scans = opt.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }
    assert(scans.length === 1, s"expected one DSv2 scan:\n$opt")
    val scan = scans.head
    // planning-time range narrowing + reader-side lang filter are both
    // visible in the scan's self-description (DocsScan.description)
    assert(scan.scan.description.contains("range=[128,1664)") &&
      scan.scan.description.contains("lang=en"),
      s"pushdown not reflected in scan: ${scan.scan.description}")
    // column pruning: text never crosses the scan boundary (n_chars is
    // derived reader-side)
    assert(scan.output.map(_.name).toSet === Set("doc_id", "source", "n_chars"),
      s"scan output not pruned: ${scan.output.map(_.name)}")
    // the narrowed span is what input partitions are planned FROM
    // (planInputPartitions covers [128,1664), not [0,2000) — the
    // span-pruning contract itself is pinned by the earlier pushdown
    // tests; here the description proves this query engaged it)
  }

  test("src_docs_group_agg (the DECLARED key): partial pushdown engaged — " +
      "pruned span in the group-agg scan, final merge above, scan output " +
      "bounded by partitions x langs (r18 cont.)") {
    val df = graft.sources.SourceOps.queries("src_docs_group_agg")(
      spark, SfDir)
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }
    assert(scans.length === 1, s"expected one DSv2 scan:\n${df.queryExecution.optimizedPlan}")
    assert(scans.head.scan.isInstanceOf[graft.sources.DocsGroupAggScan],
      s"grouped aggregation not pushed: ${scans.head.scan.description}")
    assert(scans.head.scan.description.contains("pushed-group-agg range=[128,1664)"),
      s"span not pruned into the pushed scan: ${scans.head.scan.description}")
    // Spark must keep its own final aggregation — partial, not complete
    assert(df.queryExecution.executedPlan.toString.contains("HashAggregate"),
      "partial contract requires a Spark-side merge aggregate")
    // execute, then read the scan's row metric off the FINAL plan: the
    // wire carries group partials (<= partitions x |langs| rows), never
    // the 1,536-id span — this is the 100-TB point of the contract
    assert(df.collect().length === 4) // en/es/fr/de within the span
    // the scan sits under two exchanges (partial merge + sort), so after
    // execution AQE buries it inside materialized query stages — descend
    // through stage wrappers, which plain collect() treats as leaves
    def deep(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] =
      (p +: p.children.flatMap(deep)) ++ (p match {
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          deep(s.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          deep(a.executedPlan)
        case _ => Nil
      })
    val scanExecs = deep(df.queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b }
    assert(scanExecs.length === 1)
    val outRows = scanExecs.head.metrics("numOutputRows").value
    assert(outRows > 0 && outRows <= 8L * 4,
      s"scan must emit bounded group partials, saw $outRows rows")
  }

  test("src_docs_spj (the DECLARED key): the join subtree plans ZERO " +
      "exchanges — co-location comes from KeyGroupedPartitioning (r18)") {
    // the declared key's whole point is the shuffle-free fact-fact join;
    // pin it on the FINAL adaptive plan after execution (the SPJ elision
    // must survive AQE, which is on in this session)
    val df = graft.sources.SourceOps.queries("src_docs_spj")(spark, SfDir)
    assert(df.count() > 0)
    val finalPlan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val smj = finalPlan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.length === 1, s"expected the hinted SMJ:\n$finalPlan")
    val shufflesBelowJoin = smj.head.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shufflesBelowJoin.isEmpty,
      s"SPJ lost: the join subtree shuffles a side:\n${smj.head}")
    // both sides are pruned scans of the two bucket tables (a carries
    // the reader-side lang filter; b the nested 1,500-id span)
    val scans = smj.head.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => r
    }
    assert(scans.length === 2 &&
      scans.exists(_.scan.description.contains("rows=2000")) &&
      scans.exists(_.scan.description.contains("rows=1500")),
      s"join sides are not the two bucket scans:\n${smj.head}")
  }
}
