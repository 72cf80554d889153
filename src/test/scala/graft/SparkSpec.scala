package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4, "graft-test", _
    .config("spark.sql.adaptive.enabled", "true")
    // FAIR job scheduling: concurrent-serving suites give each client
    // thread its own pool (sequential suites are unaffected — mode
    // only matters when jobs overlap)
    .config("spark.scheduler.mode", "FAIR"))

  /** A fresh session on the shared SparkContext with its own confs and
    * extensions. `getOrCreate` would otherwise hand back the shared
    * session (builder extensions only apply at session CREATION) and
    * apply this builder's runtime SQL confs to it, leaking them into
    * every suite that runs after. So clear the active/default session,
    * build, then restore the prior one as default. */
  def isolated(appName: String)(
      configure: SparkSession.Builder => SparkSession.Builder): SparkSession = {
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = Sessions.local(4, appName, configure)
    prior.foreach { p =>
      SparkSession.setDefaultSession(p)
      SparkSession.setActiveSession(p)
    }
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf
}
