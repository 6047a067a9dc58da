package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.operators._

/** The size-conditional broadcast discipline (operators.Bcast): every
  * family that hints a DATA-DEPENDENT relation (vocabulary-, node-, user-,
  * or content-cardinality) must degrade to a shuffle join once the
  * relation exceeds the session's broadcast budget — same values, no
  * driver-side collect of an unbounded frame. Mirrors PipelineSpec's
  * pipe_vocab threshold-forcing test for the families the r8 audit found
  * broadcasting unconditionally. */
class BcastSpec extends SparkSpec {

  /** Build with broadcasting disabled: assert the plan's equi-joins are
    * all shuffle joins (only explicitly-hinted BOUNDED relations — 1-row
    * stats tables riding crossJoin — may survive as BNLJ) and the output
    * equals the broadcast-path rows. */
  private def degradesCleanly(name: String,
      fn: (org.apache.spark.sql.SparkSession, String) => DataFrame): Unit = {
    val viaBroadcast = fn(spark, SfDir).collect().toSeq
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // drop frames persisted by the broadcast-path build: cache lookup
      // ignores hints, so the shuffle-path plan would otherwise display
      // the cached entry's OLD BroadcastHashJoin internals
      spark.sharedState.cacheManager.clearCache()
      val df = fn(spark, SfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("simple"))
      assert(!plan.contains("BroadcastHashJoin"),
        s"$name still broadcasts a data-dependent relation past the budget:\n$plan")
      assert(df.collect().toSeq === viaBroadcast,
        s"$name rows changed between broadcast and shuffle paths")
    }
  }

  test("dedup family: collapse maps, expansion, and verify arrays " +
      "degrade to shuffle joins past the broadcast budget") {
    degradesCleanly("dedup_near", DedupOps.queries("dedup_near"))
  }

  test("text family: the vocabulary-cardinality df table degrades to a " +
      "shuffle join past the broadcast budget") {
    degradesCleanly("text_tfidf", TextOps.queries("text_tfidf"))
  }

  test("text family: collocation marginals degrade past the budget") {
    degradesCleanly("text_collocations", TextOps.queries("text_collocations"))
  }

  test("graph family: the node-cardinality rank vector degrades to " +
      "shuffle joins past the broadcast budget") {
    degradesCleanly("graph_pagerank", ProvidenciasOps.queries("graph_pagerank"))
  }

  test("graph family: degree/weight maps degrade past the budget") {
    degradesCleanly("graph_adamic_adar", ProvidenciasOps.queries("graph_adamic_adar"))
  }

  test("streaming family: the per-user model table degrades to a " +
      "shuffle join past the broadcast budget") {
    degradesCleanly("ts_anomaly", StreamingOps.queries("ts_anomaly"))
  }

  test("vocabHinted measures a plan once per session — repeat " +
      "invocations skip the stats job") {
    // The r9 Bcast size measurements roughly doubled the warm time of
    // every vocabulary-hinted query (one persist + one aggregation job
    // per invocation); r10 memoizes the measured bytes per (session,
    // semanticHash). Pin the elision by counting Spark jobs around two
    // invocations of the SAME plan.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions._
    val counter = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    // Listener events are async to the jobs that produce them, so fixed
    // sleeps flake on a loaded host (an event from the previous window
    // can arrive after a counter reset). Instead wait until the counter
    // has been stable for ~600 ms (3 consecutive unchanged reads),
    // capped at 10 s. Returns whether STABILITY was reached: if the cap
    // expires with events still churning, a late first-invocation event
    // could land in the repeat window and read as a false memo miss —
    // that run must CANCEL (host too loaded to measure), not fail (r11).
    def settle(): Boolean = {
      var prev = -1; var stable = 0
      val deadline = System.nanoTime() + 10_000_000_000L
      while (stable < 3 && System.nanoTime() < deadline) {
        val c = counter.get()
        if (c == prev) stable += 1 else { stable = 0; prev = c }
        Thread.sleep(200)
      }
      stable >= 3
    }
    def jobsDuring(body: => Unit): Int = {
      spark.sparkContext.addSparkListener(l)
      try {
        assume(settle(), "listener events never settled — host too loaded to measure")
        counter.set(0)
        body
        assume(settle(), "listener events never settled — host too loaded to measure")
        counter.get()
      } finally spark.sparkContext.removeSparkListener(l)
    }
    def vocab() = spark.range(1000)
      .selectExpr("id % 37 AS tok", "'r10-memo-probe' AS tag")
      .groupBy("tok", "tag").agg(count(lit(1)).as("df"))
    val first = jobsDuring { Bcast.vocabHinted(vocab(), lit(16)); () }
    val repeat = jobsDuring { Bcast.vocabHinted(vocab(), lit(16)); () }
    assert(first >= 1, "first invocation must run the measuring stats job")
    assert(repeat === 0,
      s"repeat invocation of the same plan ran $repeat jobs — memo miss")
  }

  test("pipeline family: the exact-decontamination eval shingle set " +
      "degrades to a shuffle join past the broadcast budget") {
    degradesCleanly("pipe_decontaminate",
      PipelineOps.queries("pipe_decontaminate"))
  }

  test("pipeline family: near-decontamination swaps the broadcast " +
      "crossJoin for the deterministic prefix-filter join past the " +
      "budget, with identical rows") {
    degradesCleanly("pipe_decontaminate_near",
      PipelineOps.queries("pipe_decontaminate_near"))
  }

  test("a scratch-table derivation that fails mid-write leaves no " +
      "directory and no memo entry; the next call re-derives") {
    import org.apache.spark.sql.functions.{col, udf}
    val root = java.nio.file.Files.createTempDirectory("graft_scratch_fail")
    def leftovers: Seq[String] = Option(root.toFile.listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("graft_fail_probe_"))
    val memo = new SessionTableMemo.Single("graft_fail_probe_",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))))
    val boom = udf((x: Long) => {
      if (x == 2L) throw new IllegalStateException("injected")
      x
    })
    withConfs(SessionTableMemo.ScratchDirKey -> root.toString) {
      try {
        intercept[Exception] {
          memo.get(spark, "k")(spark.range(0, 4, 1, 1)
            .select(boom(col("id")).as("id")))
        }
        assert(leftovers.isEmpty, s"failed derivation left $leftovers")
        val rows = memo.get(spark, "k")(spark.range(0, 3, 1, 1).toDF("id"))
          .collect().map(_.getLong(0)).sorted.toSeq
        assert(rows === Seq(0L, 1L, 2L))
      } finally memo.evict(spark)
    }
    assert(leftovers.isEmpty)
    root.toFile.delete()
  }
}
