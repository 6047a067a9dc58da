package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Manual decomposition probe for the range-partitioned cumulative agg
  * family (`agg_weighted_median` / `agg_lorenz` / `agg_gini`) — r18
  * optimization round, guide §1. Times the collapse aggregate, the range
  * materialization, and the full keys, so the repartitionByRange sampling
  * recompute hypothesis is measured before any rewrite. Run:
  * `sbt "Test/runMain graft.AggProbe /root/testdata/sf0.1 5"`. */
object AggProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val passes = if (args.length > 1) args(1).toInt else 5
    val spark = GraftSession.local(32)
    spark.sparkContext.setLogLevel("WARN")
    val nParts = 32

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def clear(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    def byVal0: DataFrame = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_extendedprice").as("v"))
      .agg(sum(col("l_quantity").cast("decimal(28,10)")).as("w"))

    def byValRange(src: DataFrame): DataFrame = src
      .repartitionByRange(nParts, col("l_returnflag"), col("v"))
      .sortWithinPartitions(col("l_returnflag"), col("v"))
      .withColumn("pid", spark_partition_id())

    // the declared query minus the sortWithinPartitions before persist
    // (the cum window re-sorts; offs is order-free) — candidate trim
    def wmNoSort(): Long = {
      import org.apache.spark.sql.expressions.Window
      val byVal = Tables.lineitem(spark, dir)
        .groupBy(col("l_returnflag"), col("l_extendedprice").as("v"))
        .agg(sum(col("l_quantity").cast("decimal(28,10)")).as("w"))
        .repartitionByRange(nParts, col("l_returnflag"), col("v"))
        .withColumn("pid", spark_partition_id())
        .persist()
      val offs = byVal.groupBy("pid", "l_returnflag")
        .agg(sum(col("w")).as("pw"))
        .withColumn("offset", coalesce(
          sum(col("pw")).over(Window.partitionBy("l_returnflag")
            .orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0).cast("decimal(38,10)")))
        .withColumn("tot",
          sum(col("pw")).over(Window.partitionBy("l_returnflag")))
        .select("pid", "l_returnflag", "offset", "tot")
      val cw = Window.partitionBy("pid", "l_returnflag").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byVal.join(broadcast(offs), Seq("pid", "l_returnflag"))
        .withColumn("cum", sum(col("w")).over(cw) + col("offset"))
        .filter(col("cum") * 2 >= col("tot"))
        .groupBy("l_returnflag")
        .agg(min(col("v")).as("weighted_median"),
          max(col("tot")).cast("double").as("total_weight"))
        .orderBy("l_returnflag")
        .count()
    }

    // candidate rewrite: exact two-phase bucketed weighted median — no
    // corpus-wide shuffle at all (partial-agg to |groups|×B cells, then
    // an exact pass over the ONE bucket the half-mass falls in)
    def wmBucketed(): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.expressions.Window
      // the production bucket COUNT (advisor r18: a drifting constant
      // would silently fork probe from production; the map itself is
      // inlined here as the r16-form replica the equality checks replay)
      val B = graft.operators.AggOps.WmBuckets
      val li = Tables.lineitem(spark, dir).select(col("l_returnflag"),
        col("l_extendedprice").as("v"),
        col("l_quantity").cast("decimal(28,10)").as("w"))
      val rng = li.groupBy("l_returnflag")
        .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      val bucketed = li.join(broadcast(rng), "l_returnflag")
        .withColumn("bkt",
          least(lit(B - 1), greatest(lit(0), floor(
            (col("v") - col("mn")) / ((col("mx") - col("mn")) / B + lit(1e-12))
          ).cast("int"))))
      val cells = bucketed.groupBy("l_returnflag", "bkt")
        .agg(sum(col("w")).as("bw"))
      val wc = Window.partitionBy("l_returnflag").orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = cells
        .withColumn("cumw", sum(col("bw")).over(wc))
        .withColumn("tot", sum(col("bw")).over(Window.partitionBy("l_returnflag")))
      val target = cum
        .filter(col("cumw") * 2 >= col("tot"))
        .groupBy("l_returnflag")
        .agg(min(col("bkt")).as("bstar"), max(col("tot")).as("tot"))
        .join(
          cum.select(col("l_returnflag"), col("bkt").as("pb"), col("cumw").as("below")),
          Seq("l_returnflag"), "left")
        .groupBy("l_returnflag", "bstar", "tot")
        .agg(coalesce(max(when(col("pb") < col("bstar"), col("below"))),
          lit(0).cast("decimal(38,10)")).as("offset"))
      val inB = bucketed.join(broadcast(target), "l_returnflag")
        .filter(col("bkt") === col("bstar"))
        .groupBy(col("l_returnflag"), col("tot"), col("offset"), col("v"))
        .agg(sum(col("w")).as("vw"))
      val vc = Window.partitionBy("l_returnflag").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      inB.withColumn("cum", sum(col("vw")).over(vc) + col("offset"))
        .filter(col("cum") * 2 >= col("tot"))
        .groupBy("l_returnflag")
        .agg(min(col("v")).as("weighted_median"),
          max(col("tot")).cast("double").as("total_weight"))
        .orderBy("l_returnflag")
    }

    // candidate rewrite: bucketed two-phase Lorenz — decile assignment is
    // a 9-boundary SELECTION over the bounded cell relation (buckets whose
    // rank span stays inside one decile map directly; only straddling
    // buckets get an exact within-bucket cumsum), and the per-decile cums
    // are running sums over the ≤10-row decile table — no corpus range
    // shuffle, no persist, no sampling job
    def lorenzBucketed(): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.expressions.Window
      // the production bucket COUNT (advisor r18: a drifting constant
      // would silently fork probe from production; the map itself is
      // inlined here as the r16-form replica the equality checks replay)
      val B = graft.operators.AggOps.WmBuckets
      val byVal = Tables.orders(spark, dir)
        .groupBy(col("o_totalprice").as("v"))
        .agg(count(lit(1)).as("c"))
        .withColumn("sv", col("v").cast("decimal(18,2)") *
          col("c").cast("decimal(18,0)"))
      val rng = byVal.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      val bucketed = byVal.crossJoin(broadcast(rng))
        .withColumn("bkt",
          least(lit(B - 1), greatest(lit(0), floor(
            (col("v") - col("mn")) / ((col("mx") - col("mn")) / B + lit(1e-12))
          ).cast("int"))))
      val cells = bucketed.groupBy("bkt").agg(sum(col("c")).as("bc"))
      val wc = Window.orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cellMap = cells
        .withColumn("cumc", sum(col("bc")).over(wc))
        .withColumn("nt", sum(col("bc")).over(Window.partitionBy()))
        .withColumn("cbelow", col("cumc") - col("bc"))
        .withColumn("dlo",
          least(lit(9L), expr("(10 * (cbelow + 1) + nt - 1) DIV nt") - 1))
        .withColumn("dhi",
          least(lit(9L), expr("(10 * cumc + nt - 1) DIV nt") - 1))
        .select(col("bkt").as("mbkt"), col("cbelow"), col("nt"),
          when(col("dlo") === col("dhi"), col("dhi")).as("d_uniform"))
      val joined = bucketed.join(broadcast(cellMap), col("bkt") === col("mbkt"))
      val uni = joined.filter(col("d_uniform").isNotNull)
        .select(col("d_uniform").as("decile"), col("c"), col("sv"))
      val vw = Window.partitionBy("bkt").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val strad = joined.filter(col("d_uniform").isNull)
        .withColumn("cb", sum(col("c")).over(vw) + col("cbelow"))
        .withColumn("decile",
          least(lit(9L), expr("(10 * cb + nt - 1) DIV nt") - 1))
        .select(col("decile"), col("c"), col("sv"))
      val dw = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy()
      uni.union(strad)
        .groupBy("decile")
        .agg(sum(col("c")).as("n_orders"), sum(col("sv")).as("vsum"))
        .withColumn("cum_orders", sum(col("n_orders")).over(dw))
        .withColumn("cumv", sum(col("vsum")).over(dw))
        .withColumn("ntot", max(col("cum_orders")).over(tot))
        .withColumn("vtot", max(col("cumv")).over(tot))
        .select(col("decile"), col("n_orders"),
          round(col("vsum").cast("double"), 2).as("value_total"),
          graft.functions.Num.pin(
            col("cum_orders").cast("double") / col("ntot"), 6)
            .as("cum_pop_share"),
          graft.functions.Num.pin(
            col("cumv").cast("double") / col("vtot").cast("double"), 6)
            .as("cum_value_share"))
        .orderBy("decile")
    }

    // candidate rewrite: bucketed gini — cb (the strictly-below rank
    // offset) derives from broadcast per-cell counts + a within-bucket
    // cumsum window partitioned on (g, bkt); every downstream expression
    // (w, the DECIMAL folds, the final formula) is literally the current
    // form's, so the outputs are identical integers/decimals
    def giniBucketed(): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.expressions.Window
      // the production bucket COUNT (advisor r18: a drifting constant
      // would silently fork probe from production; the map itself is
      // inlined here as the r16-form replica the equality checks replay)
      val B = graft.operators.AggOps.WmBuckets
      val byVal = Tables.orders(spark, dir)
        .groupBy(col("o_orderpriority").as("g"), col("o_totalprice").as("v"))
        .agg(count(lit(1)).as("c"))
      val rng = Tables.orders(spark, dir).groupBy(col("o_orderpriority").as("g"))
        .agg(min(col("o_totalprice")).as("mn"), max(col("o_totalprice")).as("mx"))
      val bucketed = byVal.join(broadcast(rng), "g")
        .withColumn("bkt",
          least(lit(B - 1), greatest(lit(0), floor(
            (col("v") - col("mn")) / ((col("mx") - col("mn")) / B + lit(1e-12))
          ).cast("int"))))
        .select("g", "v", "c", "bkt")
      val cells = bucketed.groupBy("g", "bkt").agg(sum(col("c")).as("bc"))
      val wc = Window.partitionBy("g").orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
      val cellMap = cells
        .withColumn("cbelow", coalesce(sum(col("bc")).over(wc), lit(0L)))
        .select(col("g"), col("bkt"), col("cbelow"))
      val vw = Window.partitionBy("g", "bkt").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      bucketed.join(broadcast(cellMap), Seq("g", "bkt"))
        .withColumn("cb",
          coalesce(sum(col("c")).over(vw), lit(0L)) + col("cbelow"))
        .withColumn("w", expr("c * (cb + 1) + (c * (c - 1)) DIV 2"))
        .groupBy("g")
        .agg(sum(col("c")).as("n"),
          sum(col("v").cast("decimal(18,2)") *
            col("c").cast("decimal(18,0)")).as("s1"),
          sum(col("v").cast("decimal(18,2)") *
            col("w").cast("decimal(18,0)")).as("s2"))
        .select(col("g").as("priority"), col("n"),
          round(col("s1").cast("double"), 2).as("total"),
          graft.functions.Num.pin(lit(2.0) * col("s2").cast("double") /
              (col("n") * col("s1").cast("double")) -
            (col("n") + lit(1.0)) / col("n"), 6).as("gini"))
        .orderBy("priority")
    }

    val q = graft.operators.AggOps.queries
    // warm
    noop(byVal0); noop(byValRange(byVal0))
    q("agg_weighted_median")(spark, dir).count()
    q("agg_lorenz")(spark, dir).count()
    q("agg_gini")(spark, dir).count()

    val chans = Seq(
      "wm-collapse-agg      " -> (() => { clear(); noop(byVal0) }),
      "wm-range-mat         " -> (() => { clear(); noop(byValRange(byVal0)) }),
      "wm-range-mat-precache" -> (() => { clear()
        val c = byVal0.persist(); c.count(); noop(byValRange(c)) }),
      "full-weighted-median " -> (() => { clear()
        q("agg_weighted_median")(spark, dir).count(); () }),
      "full-wm-nosort       " -> (() => { clear(); wmNoSort(); () }),
      "full-wm-bucketed     " -> (() => { clear(); wmBucketed().count(); () }),
      "full-lorenz          " -> (() => { clear()
        q("agg_lorenz")(spark, dir).count(); () }),
      "full-lorenz-bucketed " -> (() => { clear(); lorenzBucketed().count(); () }),
      "full-gini            " -> (() => { clear()
        q("agg_gini")(spark, dir).count(); () }),
      "full-gini-bucketed   " -> (() => { clear(); giniBucketed().count(); () })
    )
    val acc = chans.map(_ => Vector.newBuilder[Double])
    for (_ <- 1 to passes; ((_, f), i) <- chans.zipWithIndex)
      acc(i) += time(f())
    for (((name, _), i) <- chans.zipWithIndex) {
      val v = acc(i).result()
      println(f"$name min=${v.min}%.2f med=${v.sorted.apply(v.length / 2)}%.2f " +
        s"all=${v.map(x => f"$x%.2f").mkString(",")}")
    }
    clear()
    val cur = q("agg_weighted_median")(spark, dir).collect().toSeq
    clear()
    val bkt = wmBucketed().collect().toSeq
    println(s"equality current==bucketed: ${cur == bkt}")
    println(s"  current : ${cur.mkString(" | ")}")
    println(s"  bucketed: ${bkt.mkString(" | ")}")
    clear()
    val lzCur = q("agg_lorenz")(spark, dir).collect().toSeq
    clear()
    val lzBkt = lorenzBucketed().collect().toSeq
    println(s"equality lorenz current==bucketed: ${lzCur == lzBkt}")
    println(s"  current : ${lzCur.mkString(" | ")}")
    println(s"  bucketed: ${lzBkt.mkString(" | ")}")
    clear()
    val giCur = q("agg_gini")(spark, dir).collect().toSeq
    clear()
    val giBkt = giniBucketed().collect().toSeq
    println(s"equality gini current==bucketed: ${giCur == giBkt}")
    println(s"  current : ${giCur.mkString(" | ")}")
    println(s"  bucketed: ${giBkt.mkString(" | ")}")
    spark.stop()
  }
}
