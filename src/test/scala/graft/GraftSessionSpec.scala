package graft

import org.apache.spark.sql.SparkSession

import graft.plans.{PairwiseRewrite, SelfPairwiseStrategy}

/** The one-call library entry point: extensions + catalog + defaults. */
class GraftSessionSpec extends SparkSpec {

  private def pairwiseStrategies(s: SparkSession): Int =
    s.sessionState.planner.strategies.count(_.isInstanceOf[SelfPairwiseStrategy])

  test("GraftSession.install retrofits a session that predates graft") {
    // the getOrCreate trap: withExtensions is ignored for a pre-existing
    // session — install() must wire functions, strategy, and catalog into
    // the LIVE session (idempotently)
    withOwnSession(SparkSession.builder().getOrCreate()) { s =>
      // a pre-graft session has no graft catalog, whatever entry the
      // shared SparkContext's conf passes on from the fixture
      s.conf.unset("spark.sql.catalog.graft")
      assert(pairwiseStrategies(s) === 0)
      GraftSession.install(s)
      GraftSession.install(s) // idempotent
      assert(s.sql("SELECT sorted_jaccard(array(1L, 2L), array(2L)) AS j")
        .head.getDouble(0) === (1.0 / 2.0))
      assert(s.sql("SELECT count(*) AS n FROM graft.docs.docs_42").head.getLong(0) === 42)
      assert(pairwiseStrategies(s) === 1)
      assert(s.experimental.extraOptimizations.count(_ == PairwiseRewrite) === 1)
    }
  }

  test("GraftSession.local wires the pairwise rule and strategy exactly once") {
    // the extensions already inject both; install() must not stack the
    // experimental copies on top (a second strategy, a third rule batch)
    withOwnSession(GraftSession.local(cores = 2)) { s =>
      assert(pairwiseStrategies(s) === 1)
      assert(!s.experimental.extraOptimizations.contains(PairwiseRewrite))
    }
  }

  test("GraftSession.local wires extensions, the graft catalog, and defaults") {
    // shares the JVM's SparkContext with the suite fixture; master is
    // fixed by the running context, everything session-scoped applies
    withOwnSession(GraftSession.local(cores = 2, appName = "graft-session-spec")) { s2 =>
      // SQL functions from GraftExtensions resolve
      val j = s2.sql("SELECT sorted_jaccard(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS j")
        .head.getDouble(0)
      assert(j === 0.5)
      // the graft catalog resolves generated tables from pure SQL
      assert(s2.sql("SELECT count(*) AS n FROM graft.docs.docs_123").head.getLong(0) === 123)
      // ... including the bucket-layout table and the catalog FUNCTION
      // surface the storage-partitioned join resolves transforms through
      assert(s2.sql("SELECT count(*) AS n FROM graft.docs.docs_123_4_bucket")
        .head.getLong(0) === 123)
      assert(s2.sql("SELECT graft.docs.bucket(4, 10L) AS b").head.getInt(0) === 2)
      // scale defaults: shuffle parallelism = cores, UTC, AQE on
      assert(s2.conf.get("spark.sql.shuffle.partitions") === "2")
      assert(s2.conf.get("spark.sql.session.timeZone") === "UTC")
      assert(s2.conf.get("spark.sql.adaptive.enabled") === "true")
    }
  }
}
