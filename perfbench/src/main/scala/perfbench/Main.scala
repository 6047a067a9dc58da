package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbench.{LayerAgg, LayerListener}

import graft.{GraftSession, SparkEntry, Tables}
import graft.operators.ProvidenciasApi

/** The benchmark program. It reads the inputs and requests that `gen.py`
  * wrote (work/plan.json), sets up a `GraftSession.local(nproc)` session,
  * runs one workload for a fixed time and writes every raw measurement
  * and every answer to work/result.json; `run.py` checks the answers and
  * turns the measurements into metrics.
  *
  * Usage: perfbench.Main --work <dir> --seconds <s> --trace <0|1>
  */
object Main {
  private val mapper = new ObjectMapper()

  private val t0 = System.nanoTime()
  def mark(what: String): Unit =
    System.err.println(f"perfbench: $what at ${(System.nanoTime() - t0) / 1e9}%.2f s")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val plan = mapper.readTree(new File(work, "plan.json"))
    val workload = plan.get("workload").asText
    val cores = Runtime.getRuntime.availableProcessors
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0, "trace" -> traced)

    // Set-up: a fresh session plus a warm-up on a small corpus, three
    // times; run.py reports the median. The last session stays up for
    // the measurement.
    val warmFailures = mutable.ArrayBuffer.empty[String]
    var spark: SparkSession = null
    val setupS = (1 to 3).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local(cores, "perfbench")
      warmup(spark, plan, warmFailures)
      (System.nanoTime() - t0) / 1e9
    }
    out("setup_s") = setupS
    mark("set-up")
    out("warmup_failures") = warmFailures.toSeq

    val listener = if (traced) Some(new LayerListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val bench = new Bench(spark, listener, work)

    out("probe_before") = Probe.run(cores)
    Heap.start()
    out(workload) = workload match {
      case "lookup"   => bench.lookup(plan, seconds, cores)
      case "pipeline" => bench.pipeline(plan, seconds)
    }
    mark("measure")
    out("heap") = Heap.stop()
    out("stale") = bench.stale(plan.get("data").asText, plan.get("probe").asScala.toSeq,
      plan.get("replacement").asText)
    mark("stale probe")
    out("probe_after") = Probe.run(cores)
    listener.foreach { l =>
      LayerListener.drain(spark.sparkContext)
      out("layers") = bench.layerRows(l)
      out("spans") = bench.spanRows(l)
    }
    spark.stop()
    mark("stop")
    out("oracles") = SparkEntry.oracleSql
    Files.write(Paths.get(work, "result.json"), mapper.writeValueAsBytes(Json(out)))
  }

  /** One request of each lookup kind over the small warm-up corpus (JIT,
    * codegen, scan, exchange and broadcast machinery). A failure is recorded,
    * never swallowed. */
  private def warmup(spark: SparkSession, plan: JsonNode,
                     failures: mutable.ArrayBuffer[String]): Unit = {
    val dir = plan.get("warm").asText
    Seq("""{"op":"buscar","lang":"en"}""", """{"op":"buscar","source":"src1"}""",
      """{"op":"buscar","n_chars":100}""", """{"op":"buscar","texto":"kalo mire"}""",
      """{"op":"similares","doc":1,"lo":40.0,"hi":55.0}""",
      """{"op":"distinct_sorted"}""", """{"op":"graph_node_ids"}""").foreach { q =>
      try Ops.build(spark, dir, mapper.readTree(q)).collect()
      catch {
        case e: Throwable =>
          failures += s"$q: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
      }
    }
  }
}

/** Building and materializing one operation, the way a user would. */
object Ops {
  private lazy val queries = SparkEntry.queries

  def isKey(r: JsonNode): Boolean = r.get("op").asText == "key"

  /** The tables an operation reads: the resolve layer is timed by
    * calling `Tables` for these before the operation is built. */
  def tables(r: JsonNode): Seq[String] = r.get("op").asText match {
    case "buscar" | "distinct_sorted" => Seq("documents")
    case "similares" | "graph_node_ids" => Seq("embeddings")
    case _ => Seq("documents", "embeddings", "events")
  }

  def resolve(spark: SparkSession, dir: String, r: JsonNode): Unit =
    tables(r).filter(t => new File(dir, s"$t.parquet").exists).foreach {
      case "events" => Tables.events(spark, dir)
      case t        => Tables(spark, dir, t)
    }

  private def str(r: JsonNode, f: String) = Option(r.get(f)).map(_.asText)

  def build(spark: SparkSession, dir: String, r: JsonNode): DataFrame =
    r.get("op").asText match {
      case "buscar" => ProvidenciasApi.buscar(spark, dir, lang = str(r, "lang"),
        source = str(r, "source"), nChars = Option(r.get("n_chars")).map(_.asLong),
        texto = str(r, "texto"))
      case "similares" => ProvidenciasApi.similares(spark, dir, r.get("doc").asLong,
        r.get("lo").asDouble, r.get("hi").asDouble)
      case "key" => queries(r.get("key").asText)(spark, dir)
      case k     => queries(k)(spark, dir)
    }

  /** Materialize every output column with a no-op write. The write also
    * carries an order-free fingerprint of the rows (count, xor and sum of
    * row hashes), observed during the same execution, so every timed
    * answer can be compared with the one that is checked. */
  def noop(df: DataFrame): String =
    fingerprinted(df)(_.write.format("noop").mode("overwrite").save())

  /** The same fingerprint, written to parquet for the off-clock check. */
  def save(df: DataFrame, path: String): String =
    fingerprinted(df)(_.write.mode("overwrite").parquet(path))

  private def fingerprinted(df: DataFrame)(write: DataFrame => Unit): String = {
    val obs = Observation("perfbench_fp")
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*)
    write(df.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"),
      sum(pmod(h, lit(1000000007L))).as("s")))
    val m = obs.get
    s"${m("n")}:${m("x")}:${m("s")}"
  }

  /** Drop what a key persisted for its own reuse, as Bench does between
    * keys; memo tables stay. */
  def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Order-free hash of collected rows. */
  def hash(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.orderedHash(rows.map(_.toString).sorted.toSeq)

  def answer(df: DataFrame, rows: Array[Row]): Map[String, Any] =
    Map("cols" -> df.columns.toSeq, "rows" -> rows.toSeq.map(r => r.toSeq.map(Json.cell)),
      "hash" -> hash(rows))
}

/** Times operations and records, when traced, one span per layer
  * boundary: request → resolve → construct → execute (the Catalyst plan
  * phases inside execute come from [[LayerListener]]). */
final class Bench(spark: SparkSession, listener: Option[LayerListener], work: String) {
  private val sc = spark.sparkContext
  private val traced = listener.isDefined
  private val nextId = new AtomicLong()
  /** (op id, span name, start ns, end ns, start epoch ms) */
  private val spans = new ConcurrentLinkedQueue[(Long, String, Long, Long, Long)]()
  /** (op id, label, group) */
  private val opsSeen = new ConcurrentLinkedQueue[(Long, String, String)]()

  private def span[T](id: Long, name: String)(f: => T): T = {
    if (!traced) return f
    sc.setJobGroup(s"$id|$name", name)
    val ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f finally {
      spans.add((id, name, t0, System.nanoTime(), ms))
      sc.clearJobGroup()
    }
  }

  /** Run one operation; returns (result, elapsed ns). */
  private def timed[A](dir: String, r: JsonNode, group: String)(act: DataFrame => A): (A, Long) = {
    val id = nextId.incrementAndGet()
    if (traced) opsSeen.add((id, r.toString, group))
    val t0 = System.nanoTime()
    val a = span(id, "request") {
      if (traced) span(id, "resolve")(Ops.resolve(spark, dir, r))
      val df = span(id, "construct")(Ops.build(spark, dir, r))
      span(id, "execute")(act(df))
    }
    (a, System.nanoTime() - t0)
  }

  private def err(e: Throwable) =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  private def gcBoundary(): Unit = Heap.fullGc()

  // ---- lookup: the stream's first block from one client primes the
  // data (untimed, checked); then a closed loop of `clients` threads on
  // it for `seconds`; then the cold start: the first block again, from
  // one client, on each of three byte-identical copies of the data that
  // no request has touched yet (run.py reports the median) ----
  def lookup(plan: JsonNode, seconds: Double, clients: Int): Map[String, Any] = {
    val dir = plan.get("data").asText
    val distinct = plan.get("distinct").asScala.toIndexedSeq
    val stream = plan.get("stream").asScala.map(_.asInt).toIndexedSeq
    val block = plan.get("block").asInt
    val answers = new ConcurrentHashMap[Int, Map[String, Any]]()
    def ask(at: String, n: Int, start: Long, into: ConcurrentLinkedQueue[Seq[Any]]): Unit = {
      val i = stream(n % stream.length)
      try {
        var df: DataFrame = null
        val (rows, ns) = timed(at, distinct(i), "request") { d => df = d; d.collect() }
        into.add(Seq(i, ns, Ops.hash(rows), System.nanoTime() - start, null))
        if (!answers.containsKey(i)) answers.putIfAbsent(i, Ops.answer(df, rows))
      } catch { case e: Throwable => into.add(Seq(i, 0L, 0, 0L, err(e))) }
    }
    val unclocked = new ConcurrentLinkedQueue[Seq[Any]]()
    def firstBlock(at: String): Double = {
      gcBoundary()
      val t0 = System.nanoTime()
      (0 until block).foreach(ask(at, _, t0, unclocked))
      (System.nanoTime() - t0) / 1e9
    }
    val copies = (1 to 3).map { k =>
      val to = new File(s"$work/cold$k")
      to.mkdirs()
      new File(dir).listFiles.filter(_.isFile).foreach { f =>
        Files.copy(f.toPath, new File(to, f.getName).toPath)
      }
      to.getPath
    }
    firstBlock(dir)
    gcBoundary()
    val records = new ConcurrentLinkedQueue[Seq[Any]]()
    val next = new AtomicInteger(block)
    val codegen0 = Jit.codegen()
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val threads = (0 until clients).map { _ =>
      new Thread(() =>
        while (System.nanoTime() < deadline) ask(dir, next.getAndIncrement(), start, records))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val elapsed = (System.nanoTime() - start) / 1e9
    val codegen = Jit.codegen() - codegen0
    val coldS = copies.map(firstBlock)
    gcBoundary()
    Map("cold_s" -> coldS, "cold" -> unclocked.asScala.toSeq, "elapsed_s" -> elapsed,
      "records" -> records.asScala.toSeq, "codegen_classes" -> codegen,
      "answers" -> answers.asScala.map { case (k, v) => k.toString -> v }.toMap)
  }

  /** Run requests once on `dir`, each timed; returns the pass time and
    * per-request records (answers of lookups, fingerprints of keys). */
  private def pass(dir: String, reqs: Seq[JsonNode], group: String)
      : (Long, Seq[Map[String, Any]]) = {
    val t0 = System.nanoTime()
    val recs = reqs.map { r =>
      val rec: Map[String, Any] =
        try {
          if (Ops.isKey(r)) {
            val (fp, ns) = timed(dir, r, group)(Ops.noop)
            Map("fp" -> fp, "ns" -> ns)
          } else {
            var df: DataFrame = null
            val (rows, ns) = timed(dir, r, group) { d => df = d; d.collect() }
            Ops.answer(df, rows) + ("ns" -> ns)
          }
        } catch { case e: Throwable => Map("err" -> err(e)) }
      if (Ops.isKey(r)) Ops.release(spark)
      rec
    }
    (System.nanoTime() - t0, recs)
  }

  // ---- pipeline: a cold pass over new data, four untimed passes of the
  // keys while the JIT settles (early passes run several percent slower),
  // then warm passes of the keys for `seconds` (at least three). Each pass
  // after the cold one runs the keys in the plan's next seeded order ----
  def pipeline(plan: JsonNode, seconds: Double): Map[String, Any] = {
    val dir = plan.get("data").asText
    val reqs = plan.get("requests").asScala.toSeq
    val keys = reqs.filter(Ops.isKey)
    val (coldNs, cold) = pass(dir, reqs, "cold")
    Main.mark("cold pass")
    val orders = plan.get("orders").asScala.map(_.asScala.map(_.asInt).toSeq).toIndexedSeq
    var passes = 0
    def keysPass(group: String): Map[String, Any] = {
      gcBoundary()
      val order = orders(passes % orders.length)
      passes += 1
      val j0 = Jit.ms(); val c0 = Jit.codegen()
      val (ns, recs) = pass(dir, order.map(keys), group)
      Map("ns" -> ns, "order" -> order, "jit_ms" -> (Jit.ms() - j0),
        "codegen" -> (Jit.codegen() - c0), "ops" -> recs)
    }
    val settle = (1 to 4).map(_ => keysPass("settle"))
    val warm = mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    while (warm.length < 3 || System.nanoTime() - start < seconds * 1e9)
      warm += keysPass("warm")
    val codegen = warm.map(_("codegen").asInstanceOf[Long]).sum
    gcBoundary()
    // off the clock: each key once more into parquet, for the check
    val check = keys.map { q =>
      val path = s"$work/answers/${q.get("key").asText}"
      try Map("path" -> path, "fp" -> Ops.save(Ops.build(spark, dir, q), path))
      catch { case e: Throwable => Map("err" -> err(e)) }
      finally Ops.release(spark)
    }
    Map("cold_ns" -> coldNs, "cold" -> cold, "settle" -> settle, "warm" -> warm.toSeq,
      "codegen_classes" -> codegen, "check" -> check)
  }

  /** Staleness probe: replace the data's documents in place (keeping the
    * original for the check of what was measured), then ask `probe` again
    * on the live session. Answers go to run.py, which compares them with
    * the replaced data. */
  def stale(dir: String, probe: Seq[JsonNode], replacement: String): Map[String, Any] = {
    val orig = s"$work/orig"
    new File(orig).mkdirs()
    Seq("documents", "embeddings").foreach { t =>
      Files.copy(Paths.get(dir, s"$t.parquet"), Paths.get(orig, s"$t.parquet"))
    }
    Files.copy(Paths.get(replacement), Paths.get(dir, "documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val answers = probe.map { q =>
      try {
        if (Ops.isKey(q)) {
          val path = s"$work/answers/stale/${q.get("key").asText}"
          Ops.save(Ops.build(spark, dir, q), path)
          Map("path" -> path)
        } else { val df = Ops.build(spark, dir, q); Ops.answer(df, df.collect()) }
      } catch { case e: Throwable => Map("err" -> err(e)) }
      finally Ops.release(spark)
    }
    Map("dir" -> dir, "orig" -> orig, "requests" -> probe.map(_.toString), "answers" -> answers)
  }

  /** Per-operation layer numbers, joined from the benchmark's spans and
    * the listener's per-phase aggregates. */
  def layerRows(l: LayerListener): Seq[Map[String, Any]] = {
    val bySpan = spans.asScala.groupBy(s => (s._1, s._2)).map { case (k, v) => k -> v.head }
    opsSeen.asScala.toSeq.sortBy(_._1).map { case (id, label, group) =>
      def ms(name: String) = bySpan.get((id, name)).map(s => (s._4 - s._3) / 1e6).getOrElse(0.0)
      val empty = new LayerAgg
      val res = l.get(s"$id|resolve").getOrElse(empty)
      val con = l.get(s"$id|construct").getOrElse(empty)
      val ex = l.get(s"$id|execute").getOrElse(empty)
      // Every Catalyst phase of the executed query counts under plan.*
      // only: a collected Dataset was already analyzed when it was built,
      // so phases that started before execute come out of construct_ms,
      // the others out of exec.ms
      val conStart = bySpan.get((id, "construct")).map(_._5).getOrElse(0L)
      val execStart = bySpan.get((id, "execute")).map(_._5).getOrElse(0L)
      def phaseMs(from: Long, until: Long) =
        ex.phases.collect { case (_, a, b) if a >= from && a < until => b - a }.sum
      val planInConstruct = phaseMs(conStart, execStart)
      val planMs = phaseMs(execStart, Long.MaxValue)
      Map("id" -> id, "label" -> label, "group" -> group,
        "request_ms" -> ms("request"),
        "tables.resolve_ms" -> ms("resolve"), "tables.resolve_jobs" -> res.jobs,
        "operators.construct_ms" -> math.max(0.0, ms("construct") - planInConstruct),
        "operators.construct_jobs" -> con.jobs,
        "operators.construct_write_bytes" -> con.writeBytes,
        "plan.analysis_ms" -> ex.analysisMs, "plan.optimization_ms" -> ex.optimizationMs,
        "plan.planning_ms" -> ex.planningMs,
        "exec.ms" -> math.max(0.0, ms("execute") - planMs),
        "exec.jobs" -> ex.jobs, "exec.tasks" -> ex.tasks,
        "exec.task_busy_ms" -> ex.busyMs, "exec.task_wait_ms" -> ex.waitMs,
        "exec.shuffle_write_bytes" -> ex.shuffleWrite, "exec.shuffle_read_bytes" -> ex.shuffleRead,
        "exec.spill_bytes" -> ex.spill, "exec.skew_max" -> ex.skewMax,
        "exec.exchanges" -> ex.exchanges, "exec.broadcasts" -> ex.broadcasts,
        "exec.gc_ms" -> ex.gcMs, "exec.result_bytes" -> ex.resultBytes)
    }
  }

  /** Every span, with the Catalyst phases as children of `execute`. */
  def spanRows(l: LayerListener): Seq[Seq[Any]] = {
    val t0 = spans.asScala.map(_._3).minOption.getOrElse(0L)
    val ms0 = spans.asScala.map(s => s._5 - (s._3 - t0) / 1000000L).minOption.getOrElse(0L)
    spans.asScala.toSeq.sortBy(s => (s._1, s._3)).map { case (id, name, a, b, _) =>
      Seq(id, name, if (name == "request") null else "request", (a - t0) / 1e6, (b - t0) / 1e6)
    } ++ l.planSpans.asScala.toSeq.map { case (tag, name, a, b) =>
      val Array(id, parent) = tag.split('|')
      Seq(id.toLong, s"plan.$name", parent, (a - ms0).toDouble, (b - ms0).toDouble)
    }
  }
}

/** Compilation so far: milliseconds the JIT compilers have spent (summed
  * over their threads), and the number of classes Spark's code generator
  * has compiled (each a miss in its code cache). */
object Jit {
  private val bean = ManagementFactory.getCompilationMXBean
  def ms(): Long = bean.getTotalCompilationTime
  def codegen(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** Fixed-work CPU probe: xorshift steps on one thread, then on every core
  * at once (median per-thread time). Its work never changes, so its
  * readings move only with the host, not with the code under test. */
object Probe {
  private def spin(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      x *= 0x2545F4914F6CDD1DL
      i += 1
    }
    if (x == 42L) System.err.println("probe sentinel")
    (System.nanoTime() - t0) / 1e9
  }

  def run(threads: Int): Map[String, Any] = {
    val one = spin()
    val each = new Array[Double](threads)
    val ts = (0 until threads).map(j => new Thread(() => each(j) = spin()))
    ts.foreach(_.start()); ts.foreach(_.join())
    Map("one_thread_s" -> one, "all_threads_s" -> each.sorted.apply(threads / 2))
  }
}

/** Driver heap in use after GC: the peak over every collection while
  * measuring, and the live set after the explicit full collections the
  * benchmark makes between passes and rounds. */
object Heap {
  @volatile private var on = false
  private val peakAfterGc = new AtomicLong()
  private val peakLive = new AtomicLong()
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: javax.management.NotificationEmitter =>
      em.addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (on && n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (p, u) if heapPools(p) => u.getUsed }.sum
          peakAfterGc.accumulateAndGet(used, math.max)
        }
      }, null, null)
    case _ =>
  }

  def start(): Unit = { peakAfterGc.set(0); peakLive.set(0); on = true }

  def fullGc(): Unit = {
    System.gc()
    peakLive.accumulateAndGet(
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed, math.max)
  }

  def stop(): Map[String, Any] = {
    fullGc()
    Thread.sleep(100) // let the last collection's notification arrive
    on = false
    Map("peak_after_gc_mb" -> peakAfterGc.get / 1048576.0,
      "peak_live_mb" -> peakLive.get / 1048576.0)
  }
}

/** Scala values to Jackson-serializable Java values. */
object Json {
  def apply(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, apply(x)) }
      j
    case s: Seq[_] => s.map(apply).asJava
    case x         => x
  }

  /** One collected cell (lookup answers hold strings, longs and doubles). */
  def cell(v: Any): Any = v match {
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case x                                    => x
  }
}
