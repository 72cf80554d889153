package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Guards the codegen cache binding in `build.sbt`. Spark compiles each
  * distinct generated source once per JVM while it stays in the cache
  * (`spark.sql.codegen.cache.maxEntries`, static, LRU). At Spark's
  * default of 100 entries the recommender alone evicts the serving
  * queries' classes, and every serving pass compiles them again. */
class CodegenCacheSpec extends SparkSpec {

  private val apps = Seq("j3_unpaid_orders", "j4_semi_having",
    "j5_anti_join", "vw_invoice_view")

  /** Janino compiles in this JVM so far: one per codegen cache miss. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Compiles while evaluating `names` in order, each as its full
    * answer with the session's caches dropped after it. */
  private def pass(names: Seq[String]): Long = {
    val before = compiles
    names.foreach { n =>
      Bench.fullAnswer(SparkEntry.queries(n)(spark, sf))
      Sessions.reset(spark)
    }
    compiles - before
  }

  test("the session's codegen cache is sized by build.sbt") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "4096")
  }

  test("a repeat pass over the serving apps compiles nothing") {
    pass(apps)
    pass(Seq("ml_recommend"))
    assert(pass(apps) === 0L)
  }
}
