package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{CellCoverJoin, GraftExtensions}

/** A query's plan must not depend on what ran before it in its session.
  * `SparkEntry.queries` brings a bare session (built as `graft.Verify` builds
  * one: no extensions, no object-aggregate threshold) to the engine's
  * settings before each query, whichever query runs first. */
class SessionSettingsSpec extends AnyFunSuite {

  /** A fresh session: the shared context's static config, none of the
    * runtime state other specs have written into the shared session. */
  private def bare(): SparkSession = SparkTestSession.spark.newSession()

  private def cellCoverJoins(s: SparkSession): Int =
    s.experimental.extraOptimizations.count(_ eq CellCoverJoin)

  test("a query that sets nothing itself still runs under the engine's settings") {
    val s = bare()
    assert(SparkEntry.queries("q1_agg")(s, "/root/testdata/sf0.001").count() > 0)
    assert(s.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "65536")
    val excluded = s.conf.get("spark.sql.optimizer.excludedRules").split(",").map(_.trim).toSet
    assert(GraftSession.ExcludedRules.split(",").toSet.subsetOf(excluded))
    assert(s.sql("SELECT st_intersects('POINT (1 1)', 'POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))')")
      .head().getBoolean(0))
  }

  test("register twice adds CellCoverJoin once and keeps the host's own rule exclusions") {
    val s = bare()
    val host = "org.apache.spark.sql.catalyst.optimizer.ConstantFolding"
    s.conf.set("spark.sql.optimizer.excludedRules", host)
    GraftExtensions.register(s)
    GraftExtensions.register(s)
    assert(cellCoverJoins(s) == 1)
    assert(s.conf.get("spark.sql.optimizer.excludedRules") == s"$host,${GraftSession.ExcludedRules}")
  }

  test("on a GraftSession.builder session, whose extensions run the rule, register adds none") {
    val host = SparkTestSession.spark
    // Spark reads `spark.sql.extensions` only from the context's config, and
    // the shared context exists already: install the extension that key names
    val s = try GraftSession.builder("local[4]", 4).withExtensions(new GraftExtensions).create()
    finally {
      SparkSession.setDefaultSession(host)
      SparkSession.setActiveSession(host)
    }
    assert(s.sessionState.optimizer.extendedOperatorOptimizationRules.contains(CellCoverJoin))
    GraftExtensions.register(s)
    assert(cellCoverJoins(s) == 0)
  }
}
