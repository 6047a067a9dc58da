package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each operator family lives in its own module under [[graft.operators]];
  * this object is only the registry. Every key in [[oracleSql]] also exists
  * in [[queries]] with identical output column names (the driver's compare
  * sorts columns by name before hashing — SURVEY §7.4).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's marquee question: "which rulings are similar to X
    * within [lo, hi]" (streamlit_app.py:55-71), end to end: read
    * embeddings -> derive SIMILAR edges -> range-filter -> project. */
  def entry(spark: SparkSession): DataFrame =
    queries("similar_range")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ProvidenciasOps.queries ++
      SimilarityOps.queries ++
      DedupOps.queries ++
      TextOps.queries ++
      RelationalOps.queries ++
      JoinOps.queries ++
      AggOps.queries ++
      WindowOps.queries ++
      FunctionOps.queries ++
      StreamingOps.queries ++
      MultimodalOps.queries ++
      SkewOps.queries ++
      PipelineOps.queries ++
      MergeOps.queries ++
      graft.sources.SourceOps.queries

  /** The harnesses' dev filter: the keys named in `SPARK_GRAFT_ONLY`
    * (comma-separated), or None when it is unset. A name not in
    * [[queries]] fails fast — a misspelled or stale name would otherwise
    * run a subset nobody asked for, or nothing at all. */
  def onlyFromEnv(): Option[Set[String]] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    only.foreach { names =>
      val unknown = names -- queries.keySet
      require(unknown.isEmpty, "SPARK_GRAFT_ONLY names not in SparkEntry.queries: " +
        unknown.toSeq.sorted.mkString(", "))
    }
    only
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Keys absent here (hash-/sketch-specific ops)
    * get the driver's weaker rows-only check and are covered by the
    * ScalaTest suites instead. */
  def oracleSql: Map[String, String] =
    ProvidenciasOps.oracles ++
      SimilarityOps.oracles ++
      DedupOps.oracles ++
      TextOps.oracles ++
      RelationalOps.oracles ++
      JoinOps.oracles ++
      AggOps.oracles ++
      WindowOps.oracles ++
      FunctionOps.oracles ++
      StreamingOps.oracles ++
      MultimodalOps.oracles ++
      SkewOps.oracles ++
      PipelineOps.oracles ++
      MergeOps.oracles ++
      graft.sources.SourceOps.oracles
}
