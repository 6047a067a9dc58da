package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.functions.ArrayExprs
import graft.plans.{GridPairwise, SelfPairwise}

/** The grid-partitioned all-pairs path must produce exactly the broadcast
  * operator's pairs (it exists for build sides beyond broadcast scale) and
  * must plan as a shuffled join — no broadcast of either replicated side,
  * no CartesianProduct. */
class GridPairwiseSpec extends SparkSpec {

  private def embeddings =
    Tables.embeddings(spark, SfDir).select(col("vec_id"), col("embedding"))

  test("GridPairwise(cosine) equals SelfPairwise exactly, for several grid sizes") {
    val viaBroadcast = SelfPairwise(embeddings, SelfPairwise.Cosine,
      Double.MinValue, triangular = true)
      .select(col("src"), col("dst"), round(col("score") * 100, 4).as("similitud"))
      .filter(col("similitud") >= 30.0)
    for (b <- Seq(1, 3, 8)) {
      val viaGrid = GridPairwise(embeddings, b,
        (x, y) => round(ArrayExprs.cosine(x, y) * 100, 4), lit(30.0))
        .withColumnRenamed("score", "similitud")
      assert(viaGrid.exceptAll(viaBroadcast).count() === 0, s"b=$b extra pairs")
      assert(viaBroadcast.exceptAll(viaGrid).count() === 0, s"b=$b missing pairs")
    }
  }

  test("every unordered pair meets in exactly one grid cell (no dup, no loss)") {
    val n = embeddings.count()
    val pairs = GridPairwise(embeddings, 5, (_, _) => lit(0.0), lit(-1.0))
    assert(pairs.count() === n * (n - 1) / 2, "pair multiset must be exact")
    assert(pairs.select("src", "dst").distinct().count() === n * (n - 1) / 2)
  }

  test("Pairwise.cosineAuto picks broadcast vs grid from plan-time stats") {
    import graft.plans.Pairwise
    // fixture is far under the default 10MB threshold → broadcast operator
    val small = Pairwise.cosineAuto(embeddings, 30.0)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(small.contains("SelfPairwise"), small)
    // force "never broadcast" → the grid plan, same rows
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val forced = Pairwise.cosineAuto(embeddings, 30.0)
      val plan = forced.queryExecution
        .explainString(ExplainMode.fromString("simple"))
      assert(!plan.contains("SelfPairwise"), plan)
      val viaSelf = SelfPairwise(embeddings, SelfPairwise.Cosine,
        Double.MinValue, triangular = true)
        .select(col("src"), col("dst"),
          round(col("score") * 100, 4).as("similitud"))
        .filter(col("similitud") >= 30.0)
      assert(forced.exceptAll(viaSelf).count() === 0)
      assert(viaSelf.exceptAll(forced).count() === 0)
    }
  }

  test("Pairwise.jaccardAuto grid branch matches the broadcast operator") {
    import graft.plans.Pairwise
    val th = Tables.documents(spark, SfDir)
      .select(col("doc_id"),
        array_sort(transform(array_distinct(split(col("text"), " ")),
          t => xxhash64(t))).as("th"))
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val grid = Pairwise.jaccardAuto(th, 0.9)
        .select(col("src"), col("dst"), round(col("score"), 4).as("j"))
        .filter(col("j") >= 0.9)
      val bcast = SelfPairwise(th, SelfPairwise.Jaccard, 0.899, triangular = true)
        .select(col("src"), col("dst"), round(col("score"), 4).as("j"))
        .filter(col("j") >= 0.9)
      assert(grid.exceptAll(bcast).count() === 0)
      assert(bcast.exceptAll(grid).count() === 0)
    }
  }

  test("shuffle volume is n·(B+1) rows — O(n·B), never the O(n²) pair count") {
    // the 100 TB contract of the grid layout: every row ships B−blk left
    // copies and blk+1 right copies — exactly B+1 shuffle records per
    // input row, regardless of how many of the n²/2 pairs the cells then
    // enumerate. Measured from task shuffle-write metrics so a future
    // edit that accidentally replicates per-pair (or lets the join
    // re-shuffle its output) fails here. B=8 over 32 shuffle partitions
    // also forces multi-cell partitions (36 cells), the skew shape a
    // plain parity test never exercises.
    val b = 8
    val n = embeddings.count()
    val expected = n * (b + 1)
    @volatile var shuffleRecords = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val pairs = GridPairwise(embeddings, b,
        (x, y) => ArrayExprs.cosine(x, y), lit(-1.0)).count()
      assert(pairs === n * (n - 1) / 2)
      // listener events are asynchronous — wait for the metrics to drain
      val deadline = System.currentTimeMillis + 15000
      while (System.currentTimeMillis < deadline && shuffleRecords < expected)
        Thread.sleep(100)
      // the grid exchanges write exactly n·(B+1); the only other shuffle
      // is the final count's partial-aggregate exchange, whose record
      // count is one per map task — bounded by the join's output
      // partitioning, so the slack derives from the session's partition
      // config (+ one per grid cell for safety under AQE re-splits)
      // rather than a constant that flakes when either changes.
      // An O(n²) shuffle would be ≥ n(n−1)/2.
      val cells = b * (b + 1) / 2
      val slack = 2L * spark.conf.get("spark.sql.shuffle.partitions").toInt + cells
      assert(shuffleRecords >= expected, s"grid shuffle under-counted: $shuffleRecords")
      assert(shuffleRecords < expected + slack,
        s"shuffle volume $shuffleRecords far above n*(B+1)=$expected — replication regressed")
      assert(expected + slack < n * (n - 1) / 2,
        "fixture too small for the bound to distinguish O(n·B) from O(n²)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("shuffle volume stays n·(B+1) at 10× scale (10k rows, 50M pairs)",
      SlowTest) {
    // same contract as above at a scale where O(n·B) and O(n²) differ by
    // 4 orders of magnitude: 10k synthetic rows ship exactly 90k shuffle
    // records while the cells enumerate all 49,995,000 pairs
    val b = 8
    val n = 10000L
    val rows = spark.range(n)
      .select(col("id"), array(col("id").cast("float")).as("v"))
    val expected = n * (b + 1)
    @volatile var shuffleRecords = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val pairs = GridPairwise(rows, b, (_, _) => lit(0.0), lit(-1.0)).count()
      assert(pairs === n * (n - 1) / 2)
      val deadline = System.currentTimeMillis + 15000
      while (System.currentTimeMillis < deadline && shuffleRecords < expected)
        Thread.sleep(100)
      val cells = b * (b + 1) / 2
      val slack = 2L * spark.conf.get("spark.sql.shuffle.partitions").toInt + cells
      assert(shuffleRecords >= expected, s"grid shuffle under-counted: $shuffleRecords")
      assert(shuffleRecords < expected + slack,
        s"shuffle volume $shuffleRecords far above n*(B+1)=$expected at 10× scale")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("plans a shuffled join on the grid key — no broadcast, no cartesian") {
    val plan = GridPairwise(embeddings, 8,
      (x, y) => ArrayExprs.cosine(x, y), lit(0.0))
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(!plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"), plan)
  }
}
