package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, count, lit, sum}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Size-conditional broadcast hints for DATA-DEPENDENT relations.
  *
  * A `broadcast()` of a vocabulary-, node-, user-, or content-cardinality
  * frame is correct at fixture scale and a driver OOM at 100×: the hint is
  * unconditional, so Spark collects the relation to the driver no matter
  * how large it grew. Every such site must instead estimate the relation's
  * serialized size and fall back to a shuffle join past the session's
  * broadcast budget — the same data-size-adaptive call Spark itself makes
  * from table statistics, made explicitly here because these frames sit
  * behind aggregations/checkpoints that erase stats. (Bounded relations —
  * single-row stats, constant term lists, ≤|types|×24 aggregates — keep
  * their plain `broadcast()`.)
  */
object Bcast {

  /** The session's broadcast budget; <= 0 means broadcasting is disabled. */
  def budget: Long = SQLConf.get.autoBroadcastJoinThreshold

  /** Broadcast `df` only while `estBytes` fits the budget; identity
    * otherwise, so the consuming join degrades to a shuffle join instead
    * of collecting an unbounded relation to the driver. */
  def ifFits(df: DataFrame, estBytes: Long): DataFrame =
    if (budget > 0 && estBytes <= budget) broadcast(df) else df

  /** Row-count form for slim fixed-width frames: `bytesPerRow` should be
    * a conservative serialized estimate (32 covers a pair of longs plus
    * row framing — the shape of label/degree/weight maps). */
  def ifFitsRows(df: DataFrame, rows: Long, bytesPerRow: Long = 32L): DataFrame =
    ifFits(df, rows * bytesPerRow)

  /** Measured sizes memoized per (session, logical-plan semanticHash,
    * keyLen-expression hash) so re-invocations of the same measurement in
    * one session — bench warm passes, verify reruns — skip the stats job
    * and pay only the persist. The keyLen expression is part of the key:
    * two sites measuring the SAME plan with different per-row estimates
    * must not share a value, or the smaller estimate could silently
    * authorize an over-budget broadcast. Safe because the fixture dirs
    * are immutable within a session and the plan hash pins the data dir
    * (it appears in the scan). A 32-bit hash collision across the few
    * dozen distinct vocabulary plans a session builds is ~1e-7 and would
    * only mis-size a hint, never change results. Growth is bounded by
    * #queries × #sfdirs per LIVE session — [[SessionMemo]] drops a dead
    * session's entries with the session itself. */
  private val measured = new SessionMemo[(Int, Int), Long]

  /** Measure `df`'s estimated serialized size — sum of `keyLen` + 64
    * bytes/row of fixed overhead, the pipe_vocab convention — in ONE
    * stats job, memoized per (session, plan, keyLen) as above. `df`
    * should already be persisted: the stats job then materializes a
    * cache the consuming join reuses instead of recomputing the
    * upstream scan. */
  def measuredBytes(df: DataFrame, keyLen: Column): Long = {
    // Column hides its expression tree in Spark 4; the canonical
    // toString (e.g. "(size(th_e) * 8)") distinguishes estimates just as
    // well for the memo key
    val key = (df.semanticHash(), keyLen.toString.hashCode)
    measured.getOrElseUpdate(df.sparkSession, key) {
      val st = df.agg(count(lit(1)).as("n"),
        coalesce(sum(keyLen.cast("long")), lit(0L)).as("bytes")).first()
      st.getLong(1) + 64L * st.getLong(0)
    }
  }

  /** Persist a vocabulary-sized aggregate, measure it via
    * [[measuredBytes]], and return it broadcast-or-not. The frame stays
    * persisted — Verify/Bench clear the session cache between queries.
    * Two stats-job elisions (the measurement is pure overhead in both):
    *   - budget <= 0: broadcasting is off, the decision is fixed;
    *   - memo hit: this session already measured this exact plan. */
  def vocabHinted(df: DataFrame, keyLen: Column): DataFrame = {
    if (budget <= 0) return df.persist()
    val p = df.persist()
    ifFits(p, measuredBytes(p, keyLen))
  }
}

/** Session-scoped scratch-parquet materialization of derived tables
  * shared by several declared keys. Each (session, key) derives ONCE into
  * its own fresh directory under [[SessionTableMemo.scratchRoot]]; the
  * derivation writes one or more named tables there and returns a small
  * value (measured sizes, counts) that is memoized with the path. A memo
  * hit reads the tables back with FIXED schemas, so it runs no
  * schema-inference job. Verify and Bench clear the SQL cache and
  * unpersist RDD blocks after every query, so in-memory sharing dies
  * between queries; the parquet copy survives both sweeps, and the memo
  * value is a path plus scalars, so the weak-keyed [[SessionMemo]] never
  * pins the session. Use only for bounded derived relations (maps,
  * labels, edge lists, per-doc frames), never for corpus-scale payloads.
  * One instance per derived table: a derivation that reads another memo's
  * table re-enters that memo's map, never its own. */
private[graft] class SessionTableMemo[V](prefix: String) {
  private val memo = new SessionMemo[String, (String, V)]

  /** The one lifecycle. `derive` builds the (lazy) plans and returns the
    * writer plus a release thunk for intermediates the writer pins
    * (persist / localCheckpoint) that no parquet-reading consumer needs.
    * The writer runs against a fresh directory that is registered with
    * `deleteOnExit` once it exists, so a session that dies without an
    * evict still reclaims it. The release thunk runs after the writer
    * either way; on failure the directory is deleted and no entry is
    * left, so the next call re-derives. */
  def materialize(s: SparkSession, key: String)(
      derive: => (SessionTableMemo.Dir => V, () => Unit))
      : (SessionTableMemo.Dir, V) = {
    val (path, v) = memo.getOrElseUpdate(s, key) {
      val (write, release) = derive
      val out = new Path(SessionTableMemo.scratchRoot(s),
        prefix + java.util.UUID.randomUUID().toString.replace("-", ""))
      val fs = out.getFileSystem(s.sessionState.newHadoopConf())
      fs.mkdirs(out)
      fs.deleteOnExit(out)
      try (out.toString, write(new SessionTableMemo.Dir(s, out.toString)))
      catch { case e: Throwable => fs.delete(out, true); throw e }
      finally release()
    }
    (new SessionTableMemo.Dir(s, path), v)
  }

  /** Drop this memo's materializations for one session and delete their
    * scratch dirs, so evict/re-derive cycles orphan nothing. */
  def evict(s: SparkSession): Unit =
    memo.removeAll(s).foreach { case (p, _) =>
      val hp = new Path(p)
      hp.getFileSystem(s.sessionState.newHadoopConf()).delete(hp, true)
      ()
    }
}

private[graft] object SessionTableMemo {

  /** Scratch root for session-shared materializations: a conf key
    * defaulting to the session's warehouse dir, because a driver-local
    * temp dir is unreadable from executors on a real cluster. */
  val ScratchDirKey = "spark.graft.scratchDir"

  def scratchRoot(s: SparkSession): String =
    s.conf.getOption(ScratchDirKey)
      .getOrElse(s.conf.get("spark.sql.warehouse.dir"))

  /** One materialization's directory: named parquet tables inside it.
    * Holds the session only for the duration of a call, never in the
    * memo. */
  final class Dir private[SessionTableMemo] (s: SparkSession, path: String) {
    private def table(name: String): String = new Path(path, name).toString

    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(table(name))

    def read(name: String, schema: StructType): DataFrame =
      s.read.schema(schema).parquet(table(name))
  }

  /** The single-table case: the derivation is one frame, stored under a
    * fixed table name and read back with `schema`. */
  final class Single(prefix: String, schema: StructType)
      extends SessionTableMemo[Unit](prefix) {
    def get(s: SparkSession, key: String)(derive: => DataFrame): DataFrame =
      getReleasing(s, key)((derive, () => ()))

    /** For derivations that pin intermediates their one-shot write needs:
      * `derive` also returns the release thunk. */
    def getReleasing(s: SparkSession, key: String)(
        derive: => (DataFrame, () => Unit)): DataFrame = {
      val (dir, _) = materialize(s, key) {
        val (df, release) = derive
        (_.write("t", df), release)
      }
      dir.read("t", schema)
    }
  }
}

/** A memo scoped to the life of a SparkSession. The outer map is keyed
  * weakly on the session object itself, so two live sessions can never
  * collide (object identity, not a hash) and a collected session's entire
  * entry set becomes unreachable with it. Values must not reference the
  * session, or they would pin the weak key. */
private[operators] final class SessionMemo[K, V] {
  private val outer = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[K, V]]())

  private def inner(s: SparkSession) =
    outer.computeIfAbsent(s,
      _ => new java.util.concurrent.ConcurrentHashMap[K, V]())

  def getOrElseUpdate(s: SparkSession, k: K)(v: => V): V =
    inner(s).computeIfAbsent(k, _ => v)

  /** Drop every entry of one session (spec isolation). */
  def remove(s: SparkSession): Unit = outer.remove(s)

  /** Drop every entry of one session and return the removed values, for
    * memos whose values name external resources the caller must delete. */
  def removeAll(s: SparkSession): Seq[V] = {
    import scala.jdk.CollectionConverters._
    Option(outer.remove(s)).map(_.values.asScala.toSeq).getOrElse(Seq.empty)
  }
}
