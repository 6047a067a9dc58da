package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Declared-key surface for the DSv2 source family (r18, r17 verdict
  * item 6). Until now `sources/` was spec-only (SourceSpec/PlanSpec);
  * this module puts the connector path — catalog resolution
  * (`graft.docs.docs_<rows>_<parts>` via [[GraftCatalog]]), planning-time
  * doc_id range pruning, reader-side lang filter pushdown, and column
  * pruning — under the driver's DAILY DuckDB hash gate, oracled by
  * [[DocsOracleSql]]'s engine-exact replay of the generator.
  *
  * Reference surface: the reference reads its corpus through a managed
  * connector (`/root/reference/streamlit_app.py:31-32` delegates the scan
  * to MongoDB Atlas); this family is that capability rebuilt as a Spark
  * DSv2 connector with explicit pushdown contracts.
  */
object SourceOps {

  /** Generated-table geometry for the declared key: big enough that a
    * missed range-pushdown would be visible in the scan (2,000 ids, 8
    * planned partitions), small enough that the DuckDB twin replays in
    * milliseconds. The query's doc_id span covers partitions 1-6 of 8,
    * so BOTH edge partitions must be pruned at planning time for the
    * SourceSpec pin to hold. */
  val DocsRows = 2000L
  val DocsParts = 8

  /** The declared query text, shared verbatim by the oracle (modulo the
    * table reference: catalog table on Spark, generated CTE in DuckDB).
    * Exercises: doc_id range (accepted at PLANNING time — input
    * partitions outside [128, 1664) are never created), lang equality
    * (accepted, evaluated reader-side before other columns synthesize),
    * column pruning (text is generated only because n_chars needs it),
    * and an ordinary Spark-side grouped aggregate (aggregate pushdown
    * correctly declines under the reader-side filter). sum() is an
    * exact integer fold — no rounding pin needed; the CASTs keep DuckDB
    * (HUGEINT sum) on Spark's BIGINT. */
  private def selectSql(table: String): String = s"""
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM $table
    WHERE doc_id >= 128 AND doc_id < 1664 AND lang = 'en'
    GROUP BY source
    ORDER BY source"""

  /** `src_docs_group_agg`'s query text, shared verbatim by the oracle.
    * The grouped counterpart of [[selectSql]] exercising the THIRD
    * DSv2 aggregate-pushdown mode: no lang filter and group-by = lang,
    * so the scan accepts the aggregation under the PARTIAL contract
    * (supportCompletePushDown = false) — each input partition ships one
    * (lang, count, sum, min, max) partial row per lang in its slice and
    * Spark's final HashAggregate merges them. Together the three keys
    * pin the full contract boundary: ungrouped + unfiltered = COMPLETE
    * (one plan-time row, src_docs_pushdown's sibling assertions in
    * SourceSpec), grouped-by-lang + unfiltered = PARTIAL (this key),
    * grouped + lang-filtered = DECLINED (src_docs_pushdown's ordinary
    * scan). Same 2,000-id/8-partition geometry and [128, 1664) span, so
    * a missed span prune is equally visible here. */
  private def groupSql(table: String): String = s"""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM $table
    WHERE doc_id >= 128 AND doc_id < 1664
    GROUP BY lang
    ORDER BY lang"""

  /** `src_docs_spj` geometry: two bucket-layout tables over nested id
    * spans, both reporting `KeyGroupedPartitioning(bucket(8, doc_id))`
    * through the catalog — the smaller table's 1,500-id span still
    * populates all 8 residue classes, so the partition VALUES match and
    * SPJ planning elides both exchanges. */
  val SpjRowsA = 2000L
  val SpjRowsB = 1500L
  val SpjParts = 8

  /** The SPJ query text, shared with the oracle modulo table refs and
    * the Spark-only MERGE hint. The hint (not a conf flip) keeps the
    * join out of broadcast: declared keys run in SHARED Verify/Bench
    * sessions, where setting autoBroadcastJoinThreshold=-1 would leak
    * into every later query's plan, while a join hint is plan-local —
    * and with zero exchanges below the join there is no shuffle stage
    * for AQE to re-plan it through. a.lang = 'en' is absorbed
    * reader-side WITHOUT costing the co-location (every bucket
    * partition is still emitted, possibly empty — the dim-filtered
    * fact-fact join shape SourceSpec pins). */
  private def spjSql(hint: String, tableA: String, tableB: String): String = s"""
    SELECT $hint a.source AS source, count(*) AS n_pairs,
           CAST(sum(a.n_chars + b.n_chars) AS BIGINT) AS sum_chars,
           min(a.doc_id) AS min_id, max(a.doc_id) AS max_id
    FROM $tableA a
    JOIN $tableB b ON a.doc_id = b.doc_id
    WHERE a.lang = 'en'
    GROUP BY a.source
    ORDER BY source"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The fixture dir is unused: the table is GENERATED (deterministic,
    // dir-independent), which is the point — the oracle replays the
    // generator, not a parquet file. The `graft` catalog resolves through
    // the session's conf, which [[graft.GraftSession]] sets.
    "src_docs_pushdown" -> ((s, _) =>
      s.sql(selectSql(s"graft.docs.docs_${DocsRows}_$DocsParts"))),

    // The grouped PARTIAL aggregate pushdown under the hash gate (r18
    // cont.) — see groupSql's scaladoc for the three-mode contract
    // boundary this completes. SourceSpec pins the DocsGroupAggScan plan
    // (pushed span in the scan description, final merge aggregate above,
    // scan output bounded by partitions x langs, never the span).
    "src_docs_group_agg" -> ((s, _) =>
      s.sql(groupSql(s"graft.docs.docs_${DocsRows}_$DocsParts"))),

    // Storage-partitioned join under the hash gate (r18, item-6 pair
    // with src_docs_pushdown): two bucket-layout catalog tables joined
    // on their bucket key plan with ZERO exchanges below the join —
    // Spark honors the scans' KeyGroupedPartitioning instead of
    // shuffling 2 corpus-sized sides (the Iceberg-style shuffle-free
    // fact-fact join; at 100 TB this elides the two largest exchanges a
    // warehouse pays). Spark trusts reported partitioning only under
    // `spark.sql.sources.v2.bucketing.enabled`, which [[graft.GraftSession]]
    // turns on for the whole session (it only affects scans that REPORT
    // a KeyGroupedPartitioning — here, only graft-docs bucket tables).
    // SourceSpec pins the zero-exchange subtree; the oracle replays both
    // sides from ONE generated relation (the b side is the same generator
    // over the nested [0, 1500) span).
    "src_docs_spj" -> ((s, _) =>
      s.sql(spjSql("/*+ MERGE(b) */",
        s"graft.docs.docs_${SpjRowsA}_${SpjParts}_bucket",
        s"graft.docs.docs_${SpjRowsB}_${SpjParts}_bucket"))))

  def oracles: Map[String, String] = Map(
    "src_docs_pushdown" ->
      s"WITH ${DocsOracleSql.docsGenCte(DocsRows)} ${selectSql("docs_gen")}",
    "src_docs_group_agg" ->
      s"WITH ${DocsOracleSql.docsGenCte(DocsRows)} ${groupSql("docs_gen")}",
    "src_docs_spj" ->
      s"""WITH ${DocsOracleSql.docsGenCte(SpjRowsA)}
          ${spjSql("", "docs_gen",
            s"(SELECT * FROM docs_gen WHERE doc_id < $SpjRowsB)")}""")
}
