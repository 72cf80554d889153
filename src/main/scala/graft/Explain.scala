package graft

/** Plan-audit main: prints `explain("formatted")` for the queries named
  * on the command line (or a representative default set), against
  * sf0.001. Used to confirm pushdown (PushedFilters / ReadSchema),
  * join strategies (BroadcastHashJoin for dims), and whole-stage
  * codegen coverage.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("p6_like_filter", "j1_join_agg", "j3_unpaid_orders",
        "p2_derived_rename", "w3_rank_topk", "dd_embed_cosine")
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
