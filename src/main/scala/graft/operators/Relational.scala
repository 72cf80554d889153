package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Core relational operators (SURVEY.md §2.1–§2.7) re-expressed Spark-first.
  *
  * Every query is paired with a DuckDB oracle in [[oracles]]. Determinism
  * rules: total ORDER BY on every output; money aggregated as
  * DECIMAL(38,2) (cast before SUM) so Spark and DuckDB agree bit-for-bit,
  * then cast to DOUBLE at the output boundary (exact ≪ 2^53 — the driver
  * hash canonicalizes DECIMAL renderings inconsistently across engines);
  * no row_number/rank columns in output (Spark emits int32, DuckDB int64).
  */
object Relational extends graft.QuerySet {
  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 2))

  val queries: Map[String, Q] = Map(
    // S1+P1: vectorized parquet scan with projection pushed to the reader.
    "s1_scan_project" -> ((s, dir) =>
      Tables(s, dir, "region")
        .select("r_regionkey", "r_name")
        .orderBy("r_regionkey")),

    // A2: hash aggregate (partial+final) + HAVING; reference
    // streamlit/pages/1_recommendation_app.py:23-28.
    "a2_agg_having" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          // decimal-exact sums; final cast to DOUBLE (exact ≪ 2^53) because
          // the driver hash canonicalizes DECIMAL renderings inconsistently
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"),
          count(lit(1)).as("n_rows"))
        .filter(col("n_rows") >= 10)
        .orderBy("l_returnflag", "l_linestatus")),

    // J1: inner equi-join on key + aggregate; reference
    // code/curate/04_sales_enrich_sp.sql:36. Catalyst broadcasts the small
    // part side automatically (autoBroadcastJoinThreshold / AQE).
    // Money math in decimal end-to-end: 2dp × 2dp = exact 4dp, so Spark
    // and the oracle agree bit-for-bit (double rounding modes differ).
    "j1_join_agg" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val p  = Tables(s, dir, "part")
      val ep   = col("l_extendedprice").cast(DecimalType(18, 2))
      val disc = (lit(1.0) - col("l_discount")).cast(DecimalType(18, 2))
      li.join(p, li("l_partkey") === p("p_partkey"), "inner")
        .groupBy("p_brand")
        .agg(
          sum(ep * disc).cast(DecimalType(38, 4)).cast("double")
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("p_brand")
    }),

    // J2: left outer join preserving unmatched rows; reference 04:55.
    "j2_left_join" -> ((s, dir) => {
      val p  = Tables(s, dir, "part")
      val li = Tables(s, dir, "lineitem")
      p.join(li, p("p_partkey") === li("l_partkey"), "left")
        .groupBy("p_partkey")
        .agg(count(col("l_orderkey")).as("n_lineitems"))
        .orderBy("p_partkey")
    }),

    // J3+P5+O1+F11: implicit inner join + filter + global sort + concat;
    // the reference's unpaid-invoice analysis
    // (streamlit/pages/2_unpaid_invoice_analysis.py:10-15).
    "j3_unpaid_orders" -> ((s, dir) => {
      Tables.register(s, dir, "orders", "customer")
      s.sql("""SELECT c.c_name || ' (' || CAST(c.c_custkey AS STRING) || ')'
              |         AS display_name,
              |       o.o_orderkey, o.o_totalprice
              |FROM orders o, customer c
              |WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
              |ORDER BY o.o_totalprice DESC, o.o_orderkey
              |LIMIT 100""".stripMargin)
    }),

    // J4+A2: IN-subquery → Catalyst RewritePredicateSubquery → left-semi
    // join; reference streamlit/pages/1_recommendation_app.py:22-29.
    "j4_semi_having" -> ((s, dir) => {
      Tables.register(s, dir, "orders", "customer")
      s.sql("""SELECT c_custkey, c_name FROM customer
              |WHERE c_custkey IN (SELECT o_custkey FROM orders
              |                    GROUP BY o_custkey HAVING COUNT(*) >= 12)
              |ORDER BY c_custkey""".stripMargin)
    }),

    // J5: anti-join (reference 1_recommendation_app.py:88 drops
    // already-bought products client-side; here it is engine-side):
    // customers with no pending ('P') orders. The filter on the right side
    // is pushed below the join by Catalyst.
    "j5_anti_join" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders").filter(col("o_orderstatus") === "P")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // J6b: full outer join — both unmatched sides preserved. Disjoint
    // side filters guarantee left-only rows (even customers whose agg row
    // was filtered out) and right-only rows (odd custkeys with orders).
    // At scale: one shuffle on the key; neither side can broadcast for
    // FULL OUTER, so this IS the sort-merge plan you want.
    "j6_full_outer" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
        .filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_mktsegment"))
      val o = Tables(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_ord"),
          sum(dec(col("o_totalprice"))).cast("double").as("spend"))
        .filter(col("o_custkey") % 3 === 0)
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_mktsegment"), col("n_ord"), col("spend"))
        .orderBy("custkey")
    }),

    // J7: five-way star join (TPC-H Q5 shape) — the multi-dimension
    // enrichment pattern the reference's curation joins build up to.
    // Catalyst broadcasts region/nation (tiny dims) and plans the
    // fact-side chain as hash joins on the shuffled keys; money math in
    // decimal end-to-end with DOUBLE only at the boundary (same
    // discipline as j1).
    "j7_star_join" -> ((s, dir) => {
      val r = Tables(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = Tables(s, dir, "nation")
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders")
      val li = Tables(s, dir, "lineitem")
      val sup = Tables(s, dir, "supplier")
      val ep = col("l_extendedprice").cast(DecimalType(18, 2))
      val disc = (lit(1.0) - col("l_discount")).cast(DecimalType(18, 2))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(sup, li("l_suppkey") === sup("s_suppkey")
          && c("c_nationkey") === sup("s_nationkey"))
        .join(n, sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("n_name")
        .agg(sum(ep * disc).cast(DecimalType(38, 4)).cast("double")
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // W1+P4: row_number window dedup-to-master; reference
    // code/curate/04_sales_enrich_sp.sql:43-47.
    "w1_rownum_dedup" -> ((s, dir) => {
      val w = Window.partitionBy("p_brand").orderBy("p_partkey")
      Tables(s, dir, "part")
        .withColumn("row_num", row_number().over(w))
        .filter(col("row_num") === 1)
        .select("p_brand", "p_partkey", "p_name")
        .orderBy("p_brand")
    }),

    // W3: rank over global ordering then top-k; reference
    // streamlit/pages/2_unpaid_invoice_analysis.py:44-48. The tie-broken
    // ordering makes rank()<=20 ≡ top-20, so we use orderBy+limit — Spark
    // plans TakeOrderedAndProject (per-partition heap + driver merge),
    // which scales where a global rank() window (single-partition
    // WindowExec) would not.
    "w3_rank_topk" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(col("total").desc, col("o_custkey"))
        .limit(20)),

    // W2: the reference's commented-out first_value().over + distinct
    // alternative to the row_number master dedup
    // (code/curate/04_sales_enrich_sp.sql:48-51).
    "w2_first_value_master" -> ((s, dir) => {
      val w = Window.partitionBy("p_name").orderBy("p_partkey")
      Tables(s, dir, "part")
        .select(col("p_name"),
          first(col("p_partkey")).over(w).as("master_partkey"),
          first(col("p_brand")).over(w).as("brand"),
          first(col("p_type")).over(w).as("ptype"))
        .distinct()
        .orderBy("p_name")
    }),

    // A6: ARRAY_AGG(OBJECT_CONSTRUCT(*)) — the reference's JSON-export
    // idiom (code/ingest/3C_load_txn_history.sql:6) as
    // collect_list(struct(...)). The array is sorted before rendering
    // (collect_list order is nondeterministic under parallelism) and
    // money rides as integer cents so the JSON text is byte-identical
    // across engines.
    "a6_collect_struct" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .withColumn("cents",
          (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
            .cast("long"))
        .groupBy("o_custkey")
        .agg(sort_array(collect_list(struct(
          col("o_orderkey").as("k"), col("cents").as("c")))).as("arr"))
        .select(col("o_custkey"), to_json(col("arr")).as("orders_json"),
          size(col("arr")).cast("int").as("n_orders"))
        .orderBy("o_custkey")),

    // A3/A5: distinct on a column subset (GROUP BY with no aggregates);
    // reference 3B2_load_pdf_to_text.sql:6.
    "a3_distinct_cols" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .select("o_orderstatus", "o_orderpriority")
        .distinct()
        .orderBy("o_orderstatus", "o_orderpriority")),

    // U1+A1: UNION ALL of per-table counts (ingest validation);
    // reference code/ingest/0_setup_env_and_ingest.py:100-109.
    "u1_union_counts" -> ((s, dir) => {
      def cnt(t: String) =
        Tables(s, dir, t).agg(count(lit(1)).as("n")).select(lit(t).as("tbl"), col("n"))
      cnt("customer").unionAll(cnt("orders")).unionAll(cnt("lineitem"))
        .orderBy("tbl")
    })
  )

  val oracles: Map[String, String] = Map(
    "s1_scan_project" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",

    "a2_agg_having" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE)
        |    AS sum_price,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) >= 10
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "j1_join_agg" ->
      """SELECT p_brand,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * CAST(1.0 - l_discount AS DECIMAL(18,2)))
        |            AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "j2_left_join" ->
      """SELECT p_partkey, COUNT(l_orderkey) AS n_lineitems
        |FROM part LEFT JOIN lineitem ON p_partkey = l_partkey
        |GROUP BY p_partkey ORDER BY p_partkey""".stripMargin,

    "j3_unpaid_orders" ->
      """SELECT c.c_name || ' (' || CAST(c.c_custkey AS VARCHAR) || ')'
        |         AS display_name,
        |       o.o_orderkey, o.o_totalprice
        |FROM orders o, customer c
        |WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
        |ORDER BY o.o_totalprice DESC, o.o_orderkey
        |LIMIT 100""".stripMargin,

    "j4_semi_having" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders
        |                    GROUP BY o_custkey HAVING COUNT(*) >= 12)
        |ORDER BY c_custkey""".stripMargin,

    "j5_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin,

    "j7_star_join" ->
      """SELECT n_name,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * CAST(1.0 - l_discount AS DECIMAL(18,2)))
        |            AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |             AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "j6_full_outer" ->
      """WITH c AS (SELECT c_custkey, c_mktsegment FROM customer
        |           WHERE c_custkey % 2 = 0),
        |o AS (SELECT o_custkey, count(*) AS n_ord,
        |        CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
        |          AS spend
        |      FROM orders GROUP BY o_custkey HAVING o_custkey % 3 = 0)
        |SELECT coalesce(c_custkey, o_custkey) AS custkey, c_mktsegment,
        |       n_ord, spend
        |FROM c FULL OUTER JOIN o ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin,

    "w1_rownum_dedup" ->
      """SELECT p_brand, p_partkey, p_name FROM (
        |  SELECT p_brand, p_partkey, p_name,
        |         row_number() OVER (PARTITION BY p_brand ORDER BY p_partkey)
        |           AS row_num
        |  FROM part) t
        |WHERE row_num = 1 ORDER BY p_brand""".stripMargin,

    "w3_rank_topk" ->
      """SELECT o_custkey, total FROM (
        |  SELECT o_custkey, total,
        |         rank() OVER (ORDER BY total DESC, o_custkey) AS rnk
        |  FROM (SELECT o_custkey,
        |               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2)))
        |                    AS DOUBLE) AS total
        |        FROM orders GROUP BY o_custkey) agg) ranked
        |WHERE rnk <= 20 ORDER BY total DESC, o_custkey""".stripMargin,

    "w2_first_value_master" ->
      """SELECT DISTINCT p_name,
        |  first_value(p_partkey) OVER w AS master_partkey,
        |  first_value(p_brand) OVER w AS brand,
        |  first_value(p_type) OVER w AS ptype
        |FROM part WINDOW w AS (PARTITION BY p_name ORDER BY p_partkey)
        |ORDER BY p_name""".stripMargin,

    "a6_collect_struct" ->
      """SELECT o_custkey,
        |  '[' || string_agg(
        |           CAST(json_object('k', o_orderkey, 'c', cents) AS VARCHAR),
        |           ',' ORDER BY o_orderkey) || ']' AS orders_json,
        |  CAST(count(*) AS INTEGER) AS n_orders
        |FROM (SELECT o_custkey, o_orderkey,
        |        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |          AS cents
        |      FROM orders) t
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "a3_distinct_cols" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "u1_union_counts" ->
      """SELECT * FROM (
        |  SELECT 'customer' AS tbl, COUNT(*) AS n FROM customer
        |  UNION ALL SELECT 'orders', COUNT(*) FROM orders
        |  UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem) u
        |ORDER BY tbl""".stripMargin
  )
}
