package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all suites, built the way users
  * get one ([[GraftSession.local]]). Golden assertions run on the smallest
  * fixture (sf0.001) to keep `sbt test` fast. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  val SfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  /** Run `body` with session confs overridden, restoring prior values after —
    * keeps per-test tuning (AQE thresholds, runtime filters) from leaking
    * into other suites sharing the session. */
  def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Run `body` on a session built by `build` while the suite fixture is
    * neither active nor default (so `getOrCreate` makes a NEW session on
    * the shared SparkContext), then restore the fixture. */
  def withOwnSession(build: => SparkSession)(body: SparkSession => Unit): Unit = {
    val spark0 = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try body(build)
    finally {
      SparkSession.setDefaultSession(spark0)
      SparkSession.setActiveSession(spark0)
    }
  }

  /** Spark jobs started while `body` runs. Only jobs in this call's job
    * group count, so a stray async job from another suite never does.
    * Listener events arrive asynchronously, so before and after `body`
    * the count waits until it reads the same on 3 polls 200 ms apart (at
    * most 10 s); a host too loaded to settle cancels the test instead of
    * failing it. */
  def jobsDuring(body: => Unit): Int = {
    val group = "graft-job-probe"
    val counter = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id"))
          counter.incrementAndGet()
    }
    def settle(): Unit = {
      var prev = -1; var stable = 0
      val deadline = System.nanoTime() + 10_000_000_000L
      while (stable < 3 && System.nanoTime() < deadline) {
        val c = counter.get()
        if (c == prev) stable += 1 else { stable = 0; prev = c }
        Thread.sleep(200)
      }
      assume(stable >= 3, "listener events never settled — host too loaded to measure")
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      settle()
      counter.set(0)
      sc.setJobGroup(group, "job probe")
      try body finally sc.clearJobGroup()
      settle()
      counter.get()
    } finally sc.removeSparkListener(l)
  }

  override def afterAll(): Unit = super.afterAll()
}

/** Tag for the synthetic scale-stress tests (~10-60 s each) — included in
  * a plain `sbt test`, excludable with `testOnly -- -l graft.SlowTest`. */
object SlowTest extends org.scalatest.Tag("graft.SlowTest")

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4, "graft-test")
}
