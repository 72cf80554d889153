package graft

import org.apache.spark.sql.functions._
import graft.sources.Bucketing

class BucketingSpec extends SparkSpec {

  test("bucketed join plans with no exchange above either scan") {
    // run the query once so the bucketed tables exist
    val df = Bucketing.queries("bk_bucketed_join")(spark, sf)
    df.collect()
    // re-derive the join (pre-aggregate) and inspect its plan
    val li = spark.table("graft_lineitem_bucketed").hint("merge")
    val o = spark.table("graft_orders_bucketed").hint("merge")
    val join = li.join(o, li("l_orderkey") === o("o_orderkey"))
    val plan = join.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
  }

  test("medallion zones: raw views resolve, processed job lands in its db") {
    Medallion.init(spark, sf)
    assert(Medallion.zones.forall(spark.catalog.databaseExists))
    assert(spark.table("graft_raw.lineitem").count() ===
      Tables(spark, sf, "lineitem").count())
    assert(spark.table("graft_raw.events").count() === 1000)
    Medallion.curateCustomers(spark, sf)
    val processed = spark.table("graft_processed.customer")
    assert(processed.count() === Tables(spark, sf, "customer").count())
    assert(processed.columns.contains("ZIP")) // POSTCODE renamed
  }

  test("an isolated session rewrites graft_invoice_text after the " +
      "shared session wrote it") {
    Bucketing.writeInvoiceTextOnce(spark, sf)
    val iso = TestSpark.isolated("graft-bucketing-test")(identity)
    val orders = Tables(spark, sf, "orders").count()
    try {
      // the stale table an earlier session (at another SF) leaves behind
      graft.jobs.TableIO.overwrite(iso, iso.range(1).toDF("stale"),
        "graft_invoice_text")
      assert(Bucketing.writeInvoiceTextOnce(iso, sf) === "graft_invoice_text")
      val rewritten = iso.table("graft_invoice_text")
      assert(rewritten.columns.contains("inv_status"))
      assert(rewritten.count() === orders)
    } finally {
      // both catalogs point at one warehouse directory: drop the shared
      // session's cached file listing of the replaced files
      spark.catalog.refreshTable("graft_invoice_text")
    }
    assert(spark.table("graft_invoice_text").count() === orders)
  }
}
