package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Bucketed co-located join (SURVEY §2 B4 / 100 TB design): pre-bucketing
  * both join sides on the key lets Spark join without ANY shuffle — the
  * scan partitions already satisfy the join's distribution requirement.
  * This is the repeated-join amortization story: shuffle once at write
  * time, never again at read time. */
class BucketingSpec extends SparkSpec {

  test("join over tables bucketed on the key plans no shuffle exchange") {
    // default warehouse (spark-warehouse/, gitignored) — warehouse.dir is
    // a static conf and cannot be redirected per test
    Tables.orders(spark, SfDir)
      .write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("orders_b")
    Tables.customer(spark, SfDir)
      .write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("customer_b")
    // the fixture dim is broadcast-sized; disable broadcast so the plan
    // must rely on the bucket distribution (the 100 TB case)
    try withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_name", "o_totalprice")
      val plan = joined.queryExecution.explainString(ExplainMode.fromString("simple"))
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      assert(plan.contains("SelectedBucketsCount"), plan)
      // and it returns the same rows as the plain parquet join — which,
      // for contrast, shuffles BOTH sides under the same no-broadcast
      // constraint (the per-query cost bucketing amortizes away)
      val plain = Tables.orders(spark, SfDir)
        .join(Tables.customer(spark, SfDir), col("o_custkey") === col("c_custkey"))
      val plainPlan = plain.queryExecution
        .explainString(ExplainMode.fromString("simple"))
      assert("Exchange hashpartitioning".r.findAllIn(plainPlan).size === 2,
        s"plain SMJ should shuffle both sides:\n$plainPlan")
      assert(joined.count() === plain.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }
}
