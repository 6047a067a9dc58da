package graft

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

  override def afterAll(): Unit = super.afterAll()
}

/** Tag for the synthetic scale-stress tests (~10-60 s each) — included in
  * a plain `sbt test`, excludable with `testOnly -- -l graft.SlowTest`. */
object SlowTest extends org.scalatest.Tag("graft.SlowTest")

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4, "graft-test")
}
