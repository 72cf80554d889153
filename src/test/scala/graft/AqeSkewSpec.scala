package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Demonstrates AQE's runtime skew-join splitting on a synthetically
  * skewed key — the engine-side counterpart of the manual salting in
  * Maintenance.sj_salted_join. Thresholds are lowered so the local
  * data's hot partition qualifies as skewed.
  */
class AqeSkewSpec extends AnyFunSuite {

  // isolated: on the shared session these confs would leak
  // autoBroadcastJoinThreshold=-1 etc. into every later suite
  // (observed: PlanInvariantSpec broadcast pins flipping to
  // CartesianProduct in full-suite runs only)
  private lazy val spark: SparkSession =
    TestSpark.isolated("graft-aqe-test")(_
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "64KB")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // the join feeds an aggregation; without force, AQE declines the
      // split because downstream exchanges could be reused
      .config("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // AQE splits a skewed reduce partition by MAPPER ranges — a single
      // input split means a single mapper and nothing to split, so force
      // several map tasks over the one parquet file
      .config("spark.sql.files.maxPartitionBytes", "1MB"))

  test("AQE splits the skewed partition at runtime") {
    val sf01 = "/root/testdata/sf0.1"
    // collapse 90% of lineitem onto one join key → one hot partition.
    // The aggregate must consume lineitem payload columns (random
    // doubles): a key-only shuffle of one repeated value compresses to
    // nearly nothing and stays under the skew threshold.
    // repartition(8): the source parquet has ONE row group → one map
    // task; AQE splits skewed reduce partitions by mapper ranges, so
    // the join's shuffle needs several mappers to have split points
    val li = Tables(spark, sf01, "lineitem")
      .repartition(8)
      .withColumn("k",
        when(col("l_orderkey") % 10 =!= 0, lit(1L))
          .otherwise(col("l_partkey")))
    val p = Tables(spark, sf01, "part")
      .withColumnRenamed("p_partkey", "k")
    val joined = li.join(p, "k").groupBy("p_brand")
      .agg(sum(col("l_extendedprice") * col("l_discount") + col("l_tax"))
        .as("x"))
    joined.collect() // AQE re-plans during execution
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"), s"expected skew-split join:\n$plan")
  }
}
