package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.ArrayExprs
import graft.operators.SimilarityOps
import graft.plans.SelfPairwiseNode

/** Pins the [[graft.plans.PairwiseRewrite]] optimizer rule: the declarative
  * self-join + cosine + threshold shape must plan through the fused
  * SelfPairwise operator, produce results identical to the explicit
  * operator API, and — critically — NOT fire on shapes whose NULL-score
  * semantics the operator cannot reproduce. */
class PairwiseRewriteSpec extends SparkSpec {

  private def declarative(threshold: Double): DataFrame = {
    val e = Tables.embeddings(spark, SfDir).select(col("vec_id"), col("embedding"))
    e.alias("a").join(e.alias("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        round(ArrayExprs.cosine(col("a.embedding"), col("b.embedding")) * 100, 4)
          .as("similitud"))
      .filter(col("similitud") >= threshold)
  }

  private def hasNode(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[SelfPairwiseNode])

  test("declarative triangular self-join rewrites to SelfPairwiseNode") {
    val df = declarative(SimilarityOps.EdgeThreshold)
    assert(hasNode(df), df.queryExecution.optimizedPlan.toString)
    assert(df.queryExecution.executedPlan.toString.contains("SelfPairwise"))
  }

  test("rewritten plan matches the explicit operator API row-for-row") {
    val viaRule = declarative(SimilarityOps.EdgeThreshold)
      .orderBy("src", "dst").collect().toSeq
    val viaApi = SimilarityOps
      .pairwiseTriangular(spark, SfDir, SimilarityOps.EdgeThreshold)
      .filter(col("similitud") >= SimilarityOps.EdgeThreshold)
      .orderBy("src", "dst").collect().toSeq
    assert(viaRule == viaApi)
    assert(viaRule.nonEmpty)
  }

  test("all-ordered-pairs (=!=) shape rewrites and matches the operator API") {
    val e = Tables.embeddings(spark, SfDir).select(col("vec_id"), col("embedding"))
    val df = e.alias("a").join(e.alias("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        round(ArrayExprs.cosine(col("a.embedding"), col("b.embedding")) * 100, 4)
          .as("similitud"))
      .filter(col("similitud") >= 40.0)
    assert(hasNode(df))
    val viaApi = SimilarityOps.pairwise(spark, SfDir)
      .filter(col("similitud") >= 40.0)
    assert(df.orderBy("src", "dst").collect().toSeq ==
      viaApi.orderBy("src", "dst").collect().toSeq)
  }

  test("beyond the broadcast budget the rewrite grafts the grid plan — " +
      "never an executeCollect broadcast") {
    // the r12 scale-killer regression test: with broadcasting disabled the
    // declarative shape must neither keep the broadcast operator (whose
    // exec collects the WHOLE build side to the driver) nor fall to a
    // CartesianProduct — it must become the shuffle-distributed grid join
    val expected = declarative(SimilarityOps.EdgeThreshold)
      .orderBy("src", "dst").collect().toSeq
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = declarative(SimilarityOps.EdgeThreshold)
      assert(!hasNode(df), df.queryExecution.optimizedPlan.toString)
      val phys = df.queryExecution.executedPlan.toString
      assert(!phys.contains("SelfPairwise"), phys)
      assert(!phys.contains("CartesianProduct"), phys)
      assert(phys.contains("ShuffledHashJoin") || phys.contains("SortMergeJoin"), phys)
      assert(df.orderBy("src", "dst").collect().toSeq == expected)
    }
  }

  test("all-ordered-pairs shape past the budget -> no rewrite (grid has no " +
      "ordered-pair twin)") {
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val e = Tables.embeddings(spark, SfDir).select(col("vec_id"), col("embedding"))
      val df = e.alias("a").join(e.alias("b"), col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
          round(ArrayExprs.cosine(col("a.embedding"), col("b.embedding")) * 100, 4)
            .as("similitud"))
        .filter(col("similitud") >= 40.0)
      assert(!hasNode(df))
    }
  }

  test("no score filter -> no rewrite (NULL-score rows must be kept)") {
    val e = Tables.embeddings(spark, SfDir).select(col("vec_id"), col("embedding"))
    val df = e.alias("a").join(e.alias("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        ArrayExprs.cosine(col("a.embedding"), col("b.embedding")).as("score"))
    assert(!hasNode(df))
  }

  test("projection of non-id/score columns -> no rewrite") {
    val e = Tables.embeddings(spark, SfDir).select(col("vec_id"), col("embedding"))
    val df = e.alias("a").join(e.alias("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("a.embedding").as("vec"),
        ArrayExprs.cosine(col("a.embedding"), col("b.embedding")).as("score"))
      .filter(col("score") >= 0.3)
    assert(!hasNode(df))
    assert(df.count() >= 0) // still executes correctly via the stock plan
  }

  test("non-self join (different relations) -> no rewrite") {
    val e = Tables.embeddings(spark, SfDir).select(col("vec_id"), col("embedding"))
    val half = e.filter(col("vec_id") < 250)
    val df = e.alias("a").join(half.alias("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        ArrayExprs.cosine(col("a.embedding"), col("b.embedding")).as("score"))
      .filter(col("score") >= 0.3)
    assert(!hasNode(df))
  }
}
