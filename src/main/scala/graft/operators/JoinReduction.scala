package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.BloomAgg

/** Semi-join reduction via an explicit Bloom runtime filter — the
  * join-pruning technique warehouse engines apply to selective
  * dim-filter ⋈ fact plans (and Spark's AQE can inject automatically);
  * here as a first-class operator pair (`bloom_agg`/`bloom_contains`,
  * functions/BloomFilter.scala) so a pipeline can build the filter
  * once, persist it next to the dimension, and apply it to any number
  * of fact scans.
  *
  * Shape: the filtered dimension aggregates to ONE 32 KiB bitset row,
  * broadcast and cross-joined onto the fact side, where the codegen'd
  * probe filters BEFORE the join's exchange. The bloom admits every
  * true match (no false negatives), so the exact join downstream makes
  * the operator transparent to results — the oracle is the plain join.
  *
  * At 100 TB: the fact side sheds (1 - selectivity - fpp) of its rows
  * map-side instead of shuffling them; with a 1.7% dim selectivity
  * (this query's predicate) a sort-merge join's fact exchange shrinks
  * ~60×. At test scale AQE will broadcast the small dimension anyway —
  * the bitset's value begins where the dimension outgrows the
  * broadcast threshold but its KEY SET still fits a few KiB/key-bits.
  */
object JoinReduction extends graft.QuerySet {
  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 2))

  val queries: Map[String, Q] = Map(
    // urgent finished orders (≈1.7% of orders), revenue by line status;
    // the bloom prunes lineitem map-side before the exact key join
    "bf_bloom_prune" -> ((s, dir) => {
      BloomAgg.register(s)
      val dim = Tables(s, dir, "orders")
        .filter(col("o_orderstatus") === "F" &&
          col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val bits = dim.agg(expr("bloom_agg(o_orderkey)").as("bf"))
      val fact = Tables(s, dir, "lineitem")
        .select("l_orderkey", "l_linestatus", "l_quantity", "l_extendedprice")
      val pruned = fact
        .crossJoin(broadcast(bits))
        .filter(expr("bloom_contains(l_orderkey, bf)"))
        .drop("bf")
      pruned
        .join(dim, pruned("l_orderkey") === dim("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
          count(lit(1)).as("n_items"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("revenue"))
        .orderBy("l_linestatus")
    })
  )

  val oracles: Map[String, String] = Map(
    // the bloom is transparent: the oracle is the plain filtered join
    "bf_bloom_prune" ->
      """SELECT l_linestatus,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin
  )
}
