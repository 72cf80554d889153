package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Drives the injected optimizer rule end-to-end in a session built
  * with GraftExtensions (separate from the shared test session, which
  * has no extensions). */
class WindowRewriteSpec extends AnyFunSuite {

  private lazy val spark: SparkSession =
    TestSpark.isolated("graft-ext-test")(_.withExtensions(new GraftExtensions))

  private def topkPattern(k: Int) = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables(spark, TestSpark.sf, "customer")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("c_mktsegment", "c_custkey", "c_acctbal") // rn dropped
  }

  test("window+filter+project pattern is rewritten to TopKPerGroupExec") {
    val df = topkPattern(3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("rewritten plan returns the same rows as the window plan") {
    val rewritten = topkPattern(3)
      .orderBy("c_mktsegment", "c_custkey").collect()
    // keeping rn in the output blocks the rewrite → genuine WindowExec
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    val window = Tables(spark, TestSpark.sf, "customer")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("c_mktsegment", "c_custkey", "c_acctbal", "rn")
      .orderBy("c_mktsegment", "c_custkey")
    assert(window.queryExecution.executedPlan.toString.contains("Window"))
    val expected = window.drop("rn").collect()
    assert(rewritten.map(_.toString).toSeq ===
      expected.map(_.toString).toSeq)
  }

  test("global (unpartitioned) row_number top-k is NOT rewritten") {
    val w = Window.orderBy(col("c_acctbal").desc, col("c_custkey"))
    val df = Tables(spark, TestSpark.sf, "customer")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("c_custkey")
    // ClusteredDistribution(Nil) would crash at planning — must keep the
    // window; and the query must still run
    assert(!df.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
    assert(df.count() === 5)
  }

  test("a filter on an UNRELATED column next to a window is not rewritten") {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    val df = Tables(spark, TestSpark.sf, "customer")
      .withColumn("rn", row_number().over(w))
      .filter(col("c_nationkey") <= 3) // NOT the rank attribute
      .select("c_custkey", "c_mktsegment")
    assert(!df.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
    val expected = Tables(spark, TestSpark.sf, "customer")
      .filter(col("c_nationkey") <= 3).count()
    assert(df.count() === expected)
  }

  test("rn = 1 master-dedup form (the reference idiom) also rewrites") {
    val w = Window.partitionBy("p_brand").orderBy("p_partkey")
    val df = Tables(spark, TestSpark.sf, "part")
      .withColumn("row_num", row_number().over(w))
      .filter(col("row_num") === 1)
      .select("p_brand", "p_partkey")
    assert(df.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
    // one survivor per brand, the min partkey
    val rows = df.collect()
    assert(rows.map(_.getString(0)).distinct.length === rows.length)
  }
}
