package graft

import org.apache.spark.sql.SparkSession

/** One-call session factory for library users — the "switch from the
  * reference" entry point. Produces a `SparkSession` with everything the
  * engine's surface needs already wired:
  *
  *  - [[GraftExtensions]]: the pairwise rewrite rule + planner strategy
  *    and the custom SQL functions (`float_cosine`, `sorted_jaccard`,
  *    `min_hashes`, `min_hash_bands`, `sim_hash`);
  *  - the `graft` catalog ([[graft.sources.GraftCatalog]]) so
  *    `SELECT … FROM graft.docs.docs_<rows>` resolves from pure SQL;
  *  - scale-tuned defaults (only where the Spark default is wrong for
  *    this workload — every one overridable by the caller afterwards):
  *     - `spark.sql.shuffle.partitions` sized to the parallelism instead
  *       of the legacy 200 (on a cluster: set to 2-3× total cores);
  *     - AQE left ON (coalesce, skew split, runtime re-plan) — the
  *       engine's plans are written to benefit from it;
  *     - DSv2 bucketing ON so storage-partitioned joins over the
  *       `graft.docs.…_bucket` layout co-locate without a shuffle;
  *     - session timezone pinned to UTC so date_trunc/window semantics
  *       are reproducible across machines (SURVEY §7.4).
  *
  * This object is the only code that wires graft into a session: query
  * constructors and operators never wire anything into the session they
  * are given (the one data-dependent conf flip is described below), so
  * every harness (tests, `Verify`, `Bench`, `PlanDump`) takes its
  * session from [[local]], and a session built elsewhere goes through
  * [[install]] first.
  *
  * Usage:
  * {{{
  *   val spark = GraftSession.local(cores = 32)
  *   SparkEntry.queries("sim_topk")(spark, "/data/sf0.1")
  *   ProvidenciasApi.buscar(spark, dir, texto = Some("spark merge"))
  * }}}
  *
  * On a cluster, start from `GraftSession.configure(builder)` with your
  * own master/deploy settings; nothing here assumes local mode except
  * `local(...)` itself.
  *
  * Known session-level side effect: reading a legacy fixture whose
  * `events.ts` is Parquet TIMESTAMP(NANOS) flips
  * `spark.sql.legacy.parquet.nanosAsLong=true` for the REST OF THE
  * SESSION (see [[Tables.events]] for why the flag must outlive the lazy
  * read). Under that flag, any later parquet read with NANOS columns maps
  * them to LongType instead of failing — if your own data carries NANOS
  * timestamps you do not want widened, read it before the first
  * `Tables.events` call or unset the flag between reads. Current-
  * generation fixtures (MICROS) never trigger the flip.
  */
object GraftSession {

  /** Apply graft's extensions, catalog, and defaults to any builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.withExtensions(new GraftExtensions)
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // storage-partitioned joins: honor a scan's KeyGroupedPartitioning
      // (the graft.docs _bucket layout) instead of shuffling both sides —
      // off by default in Spark, and harmless when no scan reports one
      .config("spark.sql.sources.v2.bucketing.enabled", "true")

  /** Idempotently wire graft into a LIVE session. `getOrCreate` silently
    * returns any pre-existing session and ignores `withExtensions` for it
    * (builder-time confs still apply), so without this step a notebook or
    * shell that already holds a session would get a GraftSession with none
    * of the SQL functions and no pairwise strategy — and no error until
    * the first query. A session that already plans through
    * [[plans.SelfPairwiseStrategy]] (built with [[GraftExtensions]]) keeps
    * its extension wiring; otherwise the rewrite rule and the strategy are
    * added through `spark.experimental`. Safe to call any number of times
    * on any session. */
  def install(spark: SparkSession): Unit = {
    if (!spark.sessionState.planner.strategies.exists(_.isInstanceOf[plans.SelfPairwiseStrategy])) {
      spark.experimental.extraOptimizations :+= plans.PairwiseRewrite
      spark.experimental.extraStrategies :+= new plans.SelfPairwiseStrategy
    }
    if (!spark.catalog.functionExists("float_cosine"))
      new GraftExtensions().registerInto(spark)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
  }

  /** Local session for tests/benchmarks: `local[cores]` with shuffle
    * parallelism = cores (the 200-partition default would give every
    * small-stage task ~0 rows and pay 6× the scheduling overhead). */
  def local(cores: Int, appName: String = "graft"): SparkSession = {
    val s = configure(SparkSession.builder())
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    install(s) // covers the pre-existing-session path of getOrCreate
    s
  }
}
