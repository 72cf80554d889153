package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.Tables

/** Order row for the typed path (fields mirror the parquet columns the
  * query selects, so `as[Order]` binds by name). */
final case class Order(o_orderkey: Long, o_custkey: Long,
                       o_totalprice: Double)

/** Typed aggregation result. */
final case class OrderStats(n: Long, maxPrice: Double)

/** Typed Dataset surface (the `Dataset[T]` + case-class-`Encoder` API
  * the DataFrame queries don't exercise): a compile-time-checked
  * pipeline — `as[Order]`, typed `filter`, `groupByKey`, and a custom
  * [[Aggregator]] — expressing the same semantics the SQL surface
  * covers elsewhere (generalizing the reference's dataframe-program
  * style, 02_customer_curation_sp.sql's procedural aggregation, to
  * type-safe Scala).
  *
  * Scale note: the Aggregator path keeps PARTIAL aggregation — the
  * plan shows `partial_orderStats` before the exchange, so the shuffle
  * carries one (count, max) buffer per customer per partition, exactly
  * like the untyped `agg(count, max)`. `mapGroups` would lose that
  * (full groups shuffle); this is the typed API used right.
  */
object Typed extends graft.QuerySet {
  /** (count, running max) per customer — partial-agg-friendly. */
  private object OrderStatsAgg
    extends Aggregator[Order, (Long, Double), OrderStats] {
    def zero: (Long, Double) = (0L, Double.NegativeInfinity)
    def reduce(b: (Long, Double), a: Order): (Long, Double) =
      (b._1 + 1, math.max(b._2, a.o_totalprice))
    def merge(x: (Long, Double), y: (Long, Double)): (Long, Double) =
      (x._1 + y._1, math.max(x._2, y._2))
    def finish(r: (Long, Double)): OrderStats = OrderStats(r._1, r._2)
    def bufferEncoder = Encoders.product[(Long, Double)]
    def outputEncoder = Encoders.product[OrderStats]
  }

  val queries: Map[String, Q] = Map(
    // Typed pipeline end-to-end: bind rows to a case class, filter with
    // a Scala predicate (compile-time field access), aggregate with a
    // custom Aggregator, then project back to columns at the boundary.
    "xt_typed_agg" -> ((s, dir) => {
      import s.implicits._
      val orders = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .as[Order]
      orders
        .filter(_.o_totalprice > 1000.0)
        .groupByKey(_.o_custkey)
        .agg(OrderStatsAgg.toColumn.name("st"))
        .select(col("key").as("o_custkey"),
          col("st.n").as("n_orders"),
          col("st.maxPrice").as("max_price"))
        .orderBy("o_custkey")
    })
  )

  val oracles: Map[String, String] = Map(
    "xt_typed_agg" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  max(o_totalprice) AS max_price
        |FROM orders WHERE o_totalprice > 1000.0
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin
  )
}
