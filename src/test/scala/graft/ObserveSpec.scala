package graft

import org.apache.spark.sql.execution.CollectMetricsExec
import org.apache.spark.sql.functions._

import graft.operators.PipelineOps

/** `pipe_observe_metrics` — the `Dataset.observe` sideband channel
  * (CollectMetrics). The row-level oracle pins the NUMBERS (they must
  * equal the plain-SQL cascade aggregates); this suite pins the
  * properties that make the channel worth having at 100 TB:
  *
  *  1. Plan shape: the curation output's plan carries a
  *     CollectMetricsExec, and it sits BELOW the survivor filter — the
  *     accumulators see every input row while only survivors reach the
  *     sink. No other key on the surface plans this node.
  *  2. Sideband = recompute: the observed metrics equal a dedicated
  *     two-pass recomputation, including the drop counters for rows the
  *     output never carries.
  *  3. Single pass: output AND datasheet come from ONE Spark job — the
  *     entire point vs `pipe_filter_report`'s dedicated scan.
  *  4. Memoized re-entry: after the first pass, re-constructing the
  *     declared key schedules zero jobs (the `join_bloom_prune`
  *     word-table discipline — a bench warm pass or a dashboard
  *     refresh must not re-run the corpus pass).
  */
class ObserveSpec extends SparkSpec {

  test("observed gate: CollectMetricsExec below the survivor filter, " +
      "output pruned to survivor columns") {
    val (out, _) = PipelineOps.observedGate(spark, SfDir)
    val plan = out.queryExecution.executedPlan
    val metrics = plan.collect { case c: CollectMetricsExec => c }
    assert(metrics.length == 1,
      s"expected exactly one CollectMetricsExec, plan:\n$plan")
    // below the filter: some FilterExec has the metrics node in its
    // subtree (the accumulators must see rows the filter drops)
    val filterAbove = plan.collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.exists(_.isInstanceOf[CollectMetricsExec]) => f
    }
    assert(filterAbove.nonEmpty,
      s"survivor filter must sit ABOVE the metrics node, plan:\n$plan")
    assert(out.columns.toSeq == Seq("doc_id", "lang", "n_tok"))
  }

  test("sideband metrics equal the dedicated recompute, including " +
      "counters for dropped rows") {
    val (ri, rk, d1, d2, d3, d4, tk) =
      PipelineOps.observeGateMetrics(spark, SfDir)
    val staged = Tables.documents(spark, SfDir)
      .select(size(split(col("text"), " ")).cast("long").as("n_tok"),
        PipelineOps.gateStage.getField("i").as("i"))
    val r = staged.agg(
      count(lit(1)), sum(when(col("i") === 5, 1L).otherwise(0L)),
      sum(when(col("i") === 1, 1L).otherwise(0L)),
      sum(when(col("i") === 2, 1L).otherwise(0L)),
      sum(when(col("i") === 3, 1L).otherwise(0L)),
      sum(when(col("i") === 4, 1L).otherwise(0L)),
      sum(when(col("i") === 5, col("n_tok")).otherwise(0L))).head()
    assert((ri, rk, d1, d2, d3, d4, tk) ===
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // the channel is only interesting if the gates actually drop rows
    // the output never carries — pin that the fixture exercises that
    assert(rk < ri, "fixture must have dropped rows for the test to bite")
  }

  test("single pass: output write + datasheet metrics are ONE job") {
    // fresh session object -> fresh memo entry on the SHARED context,
    // so the listener sees exactly this pass's jobs. Touch the table's
    // schema first: a fresh session runs a one-time parquet
    // schema-inference job on first read, which is session setup, not
    // part of the curation pass being pinned.
    val s2 = spark.newSession()
    Tables.documents(s2, SfDir).schema
    val jobs = jobsDuring { PipelineOps.observeGateMetrics(s2, SfDir) }
    assert(jobs == 1,
      s"the observed curation pass must be ONE job (scan->filter->noop " +
        s"write, no shuffle, metrics as sideband accumulators); saw $jobs")
  }

  test("memoized re-entry: re-constructing the declared key after the " +
      "pass schedules zero jobs") {
    // warm the memo on the suite session (no assertion on this one)
    SparkEntry.queries("pipe_observe_metrics")(spark, SfDir)
    val jobs = jobsDuring {
      SparkEntry.queries("pipe_observe_metrics")(spark, SfDir)
    }
    assert(jobs == 0,
      s"second construction must re-enter the memoized literal row; saw $jobs jobs")
  }
}
