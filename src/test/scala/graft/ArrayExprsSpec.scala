package graft

import org.apache.spark.sql.functions._

import graft.functions.{ArrayExprs, Vectors}

/** Codegen-parity pins for the custom Catalyst expressions: the fused
  * loops must produce bit-identical doubles to the HOF formulations they
  * replace (same accumulation order), or the DuckDB oracle would drift. */
class ArrayExprsSpec extends SparkSpec {

  private val rnd = new scala.util.Random(7)

  test("FloatCosine is bit-identical to the HOF cosine on 200 random pairs") {
    val pairs = Seq.fill(200)((
      Seq.fill(64)(rnd.nextFloat() * 2 - 1),
      Seq.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = spark.createDataFrame(pairs).toDF("a", "b")
      .select(ArrayExprs.cosine(col("a"), col("b")).as("fused"),
        Vectors.cosineHof(col("a"), col("b")).as("hof"))
    assert(df.filter(col("fused") =!= col("hof")).count() === 0)
  }

  test("FloatCosine returns NULL on zero-norm input, like the guarded HOF") {
    val zero = Seq.fill(8)(0.0f)
    val v = Seq.fill(8)(1.0f)
    val df = spark.createDataFrame(Seq((zero, v), (v, zero), (zero, zero)))
      .toDF("a", "b")
      .select(ArrayExprs.cosine(col("a"), col("b")).as("c"))
    assert(df.filter(col("c").isNotNull).count() === 0)
  }

  test("SortedLongJaccard matches array_intersect/array_union on random sets") {
    val sets = Seq.fill(200)((
      Seq.fill(20)(rnd.nextInt(40).toLong).distinct.sorted,
      Seq.fill(20)(rnd.nextInt(40).toLong).distinct.sorted))
    val df = spark.createDataFrame(sets).toDF("a", "b")
      .select(
        ArrayExprs.sortedJaccard(col("a"), col("b")).as("fused"),
        (size(array_intersect(col("a"), col("b"))).cast("double") /
          size(array_union(col("a"), col("b")))).as("ref"))
    assert(df.filter(col("fused") =!= col("ref")).count() === 0)
  }

  test("MinHashes/SimHash match their interpreted eval and are Jaccard-sensitive") {
    import graft.functions.ArrayExprs
    val sets = Seq.fill(100)(Seq.fill(30)(rnd.nextLong()).distinct.sorted)
    val df = spark.createDataFrame(sets.map(Tuple1(_))).toDF("th")
      .select(col("th"),
        ArrayExprs.minHashes(col("th"), 16).as("mh"),
        ArrayExprs.simHash(col("th"), 32).as("sh"))
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Long]]("mh").length === 16)
      val sh = r.getAs[Long]("sh")
      assert(sh >= 0 && sh <= 0xFFFFFFFFL)
    }
    // identical sets -> identical signatures
    val dup = spark.createDataFrame(Seq(Tuple1(sets.head), Tuple1(sets.head))).toDF("th")
      .select(ArrayExprs.minHashes(col("th"), 16).as("mh")).collect()
    assert(dup(0).getAs[scala.collection.Seq[Long]](0) === dup(1).getAs[scala.collection.Seq[Long]](0))
  }

  test("GraftExtensions registers the expressions as SQL functions") {
    withOwnSession(org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()) { s2 =>
      val c = s2.sql("SELECT float_cosine(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS c").collect()(0).getDouble(0)
      assert(math.abs(c - 1.0) < 1e-12)
      val j = s2.sql("SELECT sorted_jaccard(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS j")
        .collect()(0).getDouble(0)
      assert(j === 0.5)
      val mh = s2.sql("SELECT size(min_hashes(array(1L, 2L), 16)) AS n")
        .collect()(0).getInt(0)
      assert(mh === 16)
      val mb = s2.sql("SELECT size(min_hash_bands(array(1L, 2L), 4, 8)) AS n")
        .collect()(0).getInt(0)
      assert(mb === 4)
      val sh = s2.sql(
        "SELECT sim_hash(array(1L, 2L), 32) = sim_hash(array(1L, 2L), 32) AS eq")
        .collect()(0).getBoolean(0)
      assert(sh)
    }
  }

  test("SortedLongJaccard handles empty inputs (both empty -> NULL)") {
    val df = spark.createDataFrame(Seq(
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(1L, 2L), Seq(1L, 2L))))
      .toDF("a", "b")
      .select(ArrayExprs.sortedJaccard(col("a"), col("b")).as("j"))
    val got = df.collect().map(r => Option(r.get(0)))
    assert(got(0).isEmpty)
    assert(got(1).contains(0.0))
    assert(got(2).contains(1.0))
  }
}
