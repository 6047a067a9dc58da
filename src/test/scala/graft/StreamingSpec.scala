package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.EventStreams

/** Incremental-execution tests (SURVEY §5.2 tier 2, §7.3): the same window
  * expressions declared as batch queries run incrementally with watermarks;
  * late data is dropped; stateful dedup and custom session state work. Not
  * oracle-able by a batch engine — MemoryStream is the harness. */
class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("tumbling watermark aggregation emits finalized windows and drops late data") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val query = EventStreams.tumblingCounts(df)
      .writeStream.format("memory").queryName("tumbling_test")
      .outputMode("append").start()
    try {
      // two events in window [0,5), one in [5,10)
      input.addData((ts(1), "click", 1.0), (ts(2), "click", 2.0), (ts(6), "view", 3.0))
      query.processAllAvailable()
      // advance event time far enough that the watermark (10 min) passes
      // the first windows and finalizes them
      input.addData((ts(40), "click", 4.0))
      query.processAllAvailable()
      // a late click for window [0,5) arrives after the watermark: dropped
      input.addData((ts(3), "click", 99.0))
      query.processAllAvailable()
      input.addData((ts(60), "click", 5.0))
      query.processAllAvailable()
      val out = spark.table("tumbling_test")
        .select("wstart", "event_type", "n_events", "sum_value").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(out.contains((ts(0), "click", 2L, 3.0)), s"window [0,5) wrong: $out")
      assert(out.contains((ts(5), "view", 1L, 3.0)), s"window [5,10) wrong: $out")
      // the late event must NOT have bumped the finalized [0,5) window
      assert(!out.exists { case (w, t, _, v) => w == ts(0) && t == "click" && v == 102.0 })
    } finally query.stop()
  }

  test("dropDuplicatesWithinWatermark removes duplicate event_ids across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val df = input.toDF().toDF("event_id", "ts", "value")
    val query = EventStreams.dedupWithinWatermark(df)
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      input.addData((1L, ts(1), 1.0), (2L, ts(2), 2.0))
      query.processAllAvailable()
      // same ids again within the watermark window → suppressed
      input.addData((1L, ts(3), 1.0), (3L, ts(4), 3.0))
      query.processAllAvailable()
      val ids = spark.table("dedup_test").select("event_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids.sorted === Seq(1L, 2L, 3L), s"got $ids")
    } finally query.stop()
  }

  test("file source -> windowed agg -> file sink runs end to end with a checkpoint") {
    import java.nio.file.Files
    val srcDir = Files.createTempDirectory("graft_stream_src").toString
    val outDir = Files.createTempDirectory("graft_stream_out").toString
    val ckDir = Files.createTempDirectory("graft_stream_ck").toString
    val fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    // seed the source directory with one file of events (the batch table)
    val ev = Tables.events(spark, SfDir).select("ts", "event_type", "value")
    ev.coalesce(1).write.mode("overwrite").option("timestampFormat", fmt).json(srcDir)
    val stream = spark.readStream
      .schema(ev.schema)
      .option("timestampFormat", fmt)
      .json(srcDir)
    val query = graft.streaming.EventStreams.tumblingCounts(stream)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckDir)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try query.awaitTermination(120000) finally query.stop()
    // append mode emits only watermark-finalized windows; all but the last
    // 10 minutes of the fixture must be present and match the batch twin
    val streamed = spark.read.parquet(outDir)
    val batch = graft.operators.StreamingOps.queries("stream_tumbling")(spark, SfDir)
    val lastFinal = streamed.agg(max("wstart")).collect()(0).getTimestamp(0)
    val batchUpTo = batch.filter(col("wstart") <= lastFinal)
      .select("wstart", "event_type", "n_events")
    val streamUpTo = streamed.filter(col("wstart") <= lastFinal)
      .select("wstart", "event_type", "n_events")
    assert(streamUpTo.count() > 0)
    assert(batchUpTo.exceptAll(streamUpTo).count() === 0)
    assert(streamUpTo.exceptAll(batchUpTo).count() === 0)
  }

  test("stream-stream interval join attributes clicks to views within 10 minutes") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val views = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp, Double)]
    val query = EventStreams.clickAttribution(
      views.toDF().toDF("user_id", "ts"),
      clicks.toDF().toDF("user_id", "ts", "value"))
      .writeStream.format("memory").queryName("attr_test")
      .outputMode("append").start()
    try {
      views.addData((1L, ts(0)), (2L, ts(0)))
      // user 1 clicks 5 min after the view (inside the window);
      // user 2 clicks 20 min after (outside); user 3 clicks with no view
      clicks.addData((1L, ts(5), 1.0), (2L, ts(20), 2.0), (3L, ts(5), 3.0))
      query.processAllAvailable()
      // advance both watermarks so all buffered state resolves
      views.addData((9L, ts(120)))
      clicks.addData((9L, ts(121), 0.0))
      query.processAllAvailable()
      val out = spark.table("attr_test")
        .filter(col("user_id") < 9L)
        .collect().map(r => (r.getLong(0), r.getTimestamp(2))).toSet
      assert(out === Set((1L, ts(5))), s"attribution wrong: $out")
    } finally query.stop()
  }

  test("left-outer stream-stream join emits unmatched views after the watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val views = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp, Double)]
    val query = EventStreams.clickAttributionOuter(
      views.toDF().toDF("user_id", "ts"),
      clicks.toDF().toDF("user_id", "ts", "value"))
      .writeStream.format("memory").queryName("attr_outer_test")
      .outputMode("append").start()
    try {
      // user 1 matches; user 2's view never gets a click
      views.addData((1L, ts(0)), (2L, ts(0)))
      clicks.addData((1L, ts(5), 1.0))
      query.processAllAvailable()
      // march the watermark well past user 2's join horizon (0 + 10 + 10)
      views.addData((9L, ts(120)))
      clicks.addData((9L, ts(121), 0.0))
      query.processAllAvailable()
      views.addData((8L, ts(240)))
      clicks.addData((8L, ts(241), 0.0))
      query.processAllAvailable()
      val out = spark.table("attr_outer_test")
        .filter(col("user_id") < 8L)
        .collect().map(r => (r.getLong(0), Option(r.getTimestamp(2)))).toSet
      assert(out === Set((1L, Some(ts(5))), (2L, None)),
        s"outer join emissions wrong: $out")
    } finally query.stop()
  }

  test("foreachBatch CDC apply materializes upserts and deletes across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc").toFile
    val changes = MemoryStream[(Long, String, Double, Long)]
    val query = EventStreams.cdcApply(
      changes.toDF().toDF("key", "op", "value", "seq"),
      dir.getAbsolutePath)
      .outputMode("update").start()
    try {
      // batch 0: two inserts, plus an intra-batch overwrite of key 1
      changes.addData((1L, "upsert", 10.0, 1L), (2L, "upsert", 20.0, 2L),
        (1L, "upsert", 11.0, 3L))
      query.processAllAvailable()
      // batch 1: delete key 1, update key 2, insert key 3
      changes.addData((1L, "delete", 0.0, 4L), (2L, "upsert", 21.0, 5L),
        (3L, "upsert", 30.0, 6L))
      query.processAllAvailable()
      val versions = dir.listFiles.filter(_.getName.startsWith("v="))
        .map(_.getName.stripPrefix("v=").toLong).sorted
      assert(versions.length === 2, s"expected 2 versions, got ${versions.toSeq}")
      val v0 = spark.read.parquet(s"$dir/v=${versions(0)}")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(v0 === Map(1L -> 11.0, 2L -> 20.0),
        s"batch-0 snapshot wrong (intra-batch compaction): $v0")
      val v1 = spark.read.parquet(s"$dir/v=${versions(1)}")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(v1 === Map(2L -> 21.0, 3L -> 30.0), s"batch-1 snapshot wrong: $v1")
    } finally {
      query.stop()
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles).foreach(_.foreach(rm)); x.delete(); ()
      }
      rm(dir)
    }
  }

  test("transformWithState keeps per-user running totals across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the v2 arbitrary-state API requires the RocksDB state store
    withConfs("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val input = MemoryStream[EventStreams.Event]
      val query = EventStreams.runningTotals(input.toDS())
        .writeStream.format("memory").queryName("running_totals")
        .outputMode("update").start()
      try {
        input.addData(
          EventStreams.Event(1L, ts(0), 1.0),
          EventStreams.Event(1L, ts(1), 2.0),
          EventStreams.Event(2L, ts(2), 10.0))
        query.processAllAvailable()
        input.addData(EventStreams.Event(1L, ts(3), 4.0))
        query.processAllAvailable()
        // last emitted totals per user reflect ALL prior batches
        val last = spark.table("running_totals")
          .groupBy("user_id")
          .agg(max(struct(col("n_events"), col("sum_value"))).as("m"))
          .select(col("user_id"), col("m.n_events"), col("m.sum_value"))
          .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
        assert(last(1L) === ((3L, 7.0)), s"user 1 totals wrong: $last")
        assert(last(2L) === ((1L, 10.0)), s"user 2 totals wrong: $last")
      } finally query.stop()
    }
  }

  test("flatMapGroupsWithState assembles sessions with a 30-minute gap") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val query = EventStreams.sessionizeWithState(input.toDS())
      .writeStream.format("memory").queryName("session_test")
      .outputMode("append").start()
    try {
      // user 1: events at minute 0, 10 (one session), then 50 (gap 40 >= 30 → new)
      input.addData(
        EventStreams.Event(1L, ts(0), 1.0),
        EventStreams.Event(1L, ts(10), 2.0),
        EventStreams.Event(1L, ts(50), 4.0))
      query.processAllAvailable()
      // push event time forward so the second session times out too
      input.addData(EventStreams.Event(2L, ts(200), 1.0))
      query.processAllAvailable()
      input.addData(EventStreams.Event(2L, ts(400), 1.0))
      query.processAllAvailable()
      val sessions = spark.table("session_test")
        .filter(col("user_id") === 1L)
        .select("session_start", "n_events", "sum_value")
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(sessions.contains((ts(0), 2L, 3.0)), s"first session wrong: $sessions")
      assert(sessions.contains((ts(50), 1L, 4.0)), s"second session wrong: $sessions")
    } finally query.stop()
  }

  test("graft-mem streaming sink appends micro-batches through the DSv2 epoch commit") {
    import graft.sources.MemSink
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val name = "stream_sink_test"
    MemSink.tables.remove(name)
    val ckDir = java.nio.file.Files.createTempDirectory("graft_mem_ck").toString
    val input = MemoryStream[(Long, String)]
    val query = input.toDF().toDF("id", "tag")
      .writeStream.format("graft-mem")
      .option("name", name).option("checkpointLocation", ckDir)
      .outputMode("append").start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      query.processAllAvailable()
      assert(MemSink.rows(name).map(_.head).toSet === Set(1L, 2L))
      input.addData((3L, "c"))
      query.processAllAvailable()
      assert(MemSink.rows(name).map(_.head).toSet === Set(1L, 2L, 3L),
        "second micro-batch must append, not replace")
    } finally query.stop()
  }

  test("graft-mem streaming commit is idempotent on replayed epochs") {
    import graft.sources.{MemCommit, MemSink, MemStreamingWrite}
    import org.apache.spark.sql.types._
    val name = "stream_replay_test"
    MemSink.tables.remove(name)
    MemSink.committedEpochs.remove(s"$name#q1")
    val schema = StructType(Seq(StructField("id", LongType)))
    val w = new MemStreamingWrite(name, "q1", schema, truncate = false)
    val msgs: Array[org.apache.spark.sql.connector.write.WriterCommitMessage] =
      Array(MemCommit(Vector(Seq(1L), Seq(2L))))
    w.commit(0L, msgs)
    // recovery replays the last epoch: the sink must skip, not double-install
    w.commit(0L, msgs)
    assert(MemSink.rows(name).size === 2,
      s"replayed epoch double-installed: ${MemSink.rows(name)}")
    w.commit(1L, Array(MemCommit(Vector(Seq(3L)))))
    assert(MemSink.rows(name).size === 3)
    MemSink.tables.remove(name)
    ()
  }

  test("graft-mem sink end-to-end crash recovery: replayed epoch skipped, counts exact") {
    import graft.sources.MemSink
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val name = "stream_recovery_test"
    MemSink.tables.remove(name)
    val ckDir = java.nio.file.Files.createTempDirectory("graft_recover_ck")
    val input = MemoryStream[(Long, String)]
    def start() = input.toDF().toDF("id", "tag")
      .writeStream.format("graft-mem")
      .option("name", name).option("checkpointLocation", ckDir.toString)
      .outputMode("append").start()
    val q1 = start()
    try {
      input.addData((1L, "a"), (2L, "b")); q1.processAllAvailable()
      input.addData((3L, "c")); q1.processAllAvailable()
    } finally q1.stop()
    assert(MemSink.rows(name).map(_.head).toSet === Set(1L, 2L, 3L))
    // Simulate a crash in the at-least-once window: the engine wrote the
    // offset log for the last micro-batch and the sink committed it, but
    // the run died before the COMMIT log entry landed. Deleting the newest
    // commits/ entry reproduces that state exactly — on restart,
    // MicroBatchExecution sees offsets ahead of commits and REPLAYS the
    // batch from the checkpoint, re-calling the sink's commit(epochId).
    val commits = ckDir.resolve("commits")
    // listFiles, not Files.list — the latter's stream holds the directory
    // fd open until GC unless explicitly closed
    val latest = commits.toFile.listFiles()
      .filter(f => f.getName.forall(_.isDigit))
      .maxBy(_.getName.toLong).toPath
    java.nio.file.Files.delete(latest)
    // the local FS keeps a checksum sidecar; a stale one makes the
    // replay's commit rename fail as a (spurious) concurrent-query error
    java.nio.file.Files.deleteIfExists(
      latest.resolveSibling("." + latest.getFileName.toString + ".crc"))
    val q2 = start()
    try {
      q2.processAllAvailable() // replays the deleted-commit epoch
      assert(MemSink.rows(name).map(_.head).toSet === Set(1L, 2L, 3L),
        s"replayed epoch must be skipped by the high-water mark, got ${MemSink.rows(name)}")
      assert(MemSink.rows(name).size === 3,
        s"replayed epoch double-installed rows: ${MemSink.rows(name)}")
      // the restarted query keeps making progress past the replay
      input.addData((4L, "d")); q2.processAllAvailable()
      assert(MemSink.rows(name).map(_.head).toSet === Set(1L, 2L, 3L, 4L))
      assert(MemSink.rows(name).size === 4)
    } finally q2.stop()
  }

  test("graft-mem sink recovery soak: 100 epochs with randomized " +
      "commit-log crashes never double-install or lose a row", SlowTest) {
    // The single-crash e2e test above pins one recovery; production
    // streams crash MANY times over a run, and a high-water-mark bug
    // that survives one replay (e.g. marking the epoch before install,
    // or a mark that regresses on restart) only shows up under repeated
    // randomized failures. Seeded RNG — the failure schedule is
    // deterministic across runs.
    import graft.sources.MemSink
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(42)
    val name = "stream_soak_test"
    MemSink.tables.remove(name)
    val ckDir = java.nio.file.Files.createTempDirectory("graft_soak_ck")
    val input = MemoryStream[(Long, String)]
    def start() = input.toDF().toDF("id", "tag")
      .writeStream.format("graft-mem")
      .option("name", name).option("checkpointLocation", ckDir.toString)
      .outputMode("append").start()
    var q = start()
    var next = 1L
    var crashes = 0
    try {
      for (i <- 1 to 100) {
        input.addData((next, s"v$i")); next += 1
        q.processAllAvailable()
        if (rnd.nextDouble() < 0.25) {
          // crash in the at-least-once window: offsets written + sink
          // committed, but the engine's commit-log entry lost — on
          // restart MicroBatchExecution replays the epoch into the sink
          q.stop()
          val commits = ckDir.resolve("commits").toFile
            .listFiles().filter(_.getName.forall(_.isDigit))
          if (commits.nonEmpty) {
            val latest = commits.maxBy(_.getName.toLong).toPath
            java.nio.file.Files.delete(latest)
            java.nio.file.Files.deleteIfExists(
              latest.resolveSibling("." + latest.getFileName + ".crc"))
          }
          q = start()
          q.processAllAvailable() // replays the lost-commit epoch
          crashes += 1
          assert(MemSink.rows(name).size === next - 1,
            s"after crash $crashes (epoch $i): ${MemSink.rows(name).size} " +
              s"rows for ${next - 1} appends — replay broke exactly-once")
        }
      }
      assert(crashes >= 15, s"soak exercised only $crashes crashes — seed drift?")
      assert(MemSink.rows(name).size === next - 1)
      assert(MemSink.rows(name).map(_.head).toSet === (1L until next).toSet,
        "every appended id must be installed exactly once")
    } finally { q.stop(); MemSink.tables.remove(name); () }
  }

  test("streaming content dedup keeps one doc per token-set fingerprint") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val df = input.toDF().toDF("doc_id", "ts", "text")
    val query = EventStreams.dedupByContent(df)
      .writeStream.format("memory").queryName("content_dedup")
      .outputMode("append").start()
    try {
      // doc 2 is doc 1's text permuted — same token SET, must dedup;
      // doc 3 is distinct content
      input.addData(
        (1L, ts(1), "alpha beta gamma"),
        (2L, ts(2), "gamma alpha beta"),
        (3L, ts(3), "delta epsilon"))
      query.processAllAvailable()
      // same content again within the watermark, later batch: still dropped
      input.addData((4L, ts(4), "beta gamma alpha"))
      query.processAllAvailable()
      val ids = spark.table("content_dedup")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids.size === 2, s"expected 2 survivors, got $ids")
      assert(ids.contains(3L), s"distinct-content doc dropped: $ids")
      assert((ids - 3L).subsetOf(Set(1L, 2L, 4L)),
        s"unexpected survivor in $ids")
    } finally query.stop()
  }

  test("stream-static join enriches each micro-batch from the dim snapshot") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "segment")
    val input = MemoryStream[(Long, Timestamp, Double)]
    val df = input.toDF().toDF("user_id", "ts", "value")
    val query = EventStreams.enrichWithDim(df, dim, keepUnmatched = true)
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode("append").start()
    try {
      // user 3 has no dim row: kept, null segment (left); users 1/2 tagged
      input.addData((1L, ts(1), 1.0), (3L, ts(2), 2.0))
      query.processAllAvailable()
      input.addData((2L, ts(3), 3.0))
      query.processAllAvailable()
      val out = spark.table("enrich_test")
        .select("user_id", "segment").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(out === Map(1L -> Some("gold"), 2L -> Some("basic"), 3L -> None))
    } finally query.stop()
  }

  test("streaming observe: per-micro-batch sideband metrics count rows " +
      "the sink never sees (pipe_observe_metrics' channel, incremental)") {
    // the streaming half of the observe contract: the same
    // CollectMetrics sideband that rides the batch curation pass
    // (pipe_observe_metrics) surfaces PER MICRO-BATCH through
    // StreamingQueryProgress.observedMetrics — the accumulators sit
    // below the gate filter, so a streaming ingest reports its drop
    // counters batch by batch with zero extra passes, and the per-batch
    // rows sum to exactly the ingested total
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val df = input.toDF().toDF("id", "value")
      .observe("gate_metrics", count(lit(1)).as("rows_in"),
        sum(when(col("value") >= 0, 1L).otherwise(0L)).as("rows_kept"))
      .filter(col("value") >= 0)
    val query = df.writeStream.format("memory").queryName("observe_stream")
      .outputMode("append").start()
    try {
      input.addData((1L, 1.0), (2L, -1.0), (3L, 2.0))
      query.processAllAvailable()
      input.addData((4L, -5.0), (5L, 3.0))
      query.processAllAvailable()
      val metrics = query.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("gate_metrics")))
      assert(metrics.nonEmpty, "no observed metrics in any progress event")
      assert(metrics.map(_.getAs[Long]("rows_in")).sum === 5L)
      assert(metrics.map(_.getAs[Long]("rows_kept")).sum === 3L)
      // and the sink holds ONLY the survivors the metrics counted past
      assert(spark.table("observe_stream").count() === 3L)
    } finally query.stop()
  }
}
