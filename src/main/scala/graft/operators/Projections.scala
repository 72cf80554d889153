package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType}
import graft.Tables

/** Projections, filters, and scalar functions (SURVEY.md §2.2, §2.5–§2.6,
  * §2.8). All expressions stay inside whole-stage codegen (built-in
  * functions only, no UDFs); filters and column pruning push down to the
  * parquet scan.
  */
object Projections extends graft.QuerySet {
  val queries: Map[String, Q] = Map(
    // P2+P3+F13: derived column (qty × price, the reference's SALES_AMT at
    // code/curate/04_sales_enrich_sp.sql:33) + rename (02:29). Decimal
    // end-to-end: 2dp × 2dp = exact 4dp.
    "p2_derived_rename" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .withColumn("sales_amt",
          (col("l_quantity").cast(DecimalType(18, 2)) *
           col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DecimalType(38, 4)).cast("double"))
        .withColumnRenamed("l_returnflag", "flag")
        .select("l_orderkey", "l_linenumber", "flag", "sales_amt")
        .orderBy("l_orderkey", "l_linenumber")),

    // P6: LIKE prefix pattern (reference 1_recommendation_app.py:26
    // `PRODUCT_ID LIKE 'b%'`).
    "p6_like_filter" -> ((s, dir) =>
      Tables(s, dir, "part")
        .filter(col("p_name").like("s%"))
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")),

    // P7+P8: IN-list membership and its negation (reference
    // 2_unpaid_invoice_analysis.py:37, 1_recommendation_app.py:88).
    "p7_isin_filter" -> ((s, dir) =>
      Tables(s, dir, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")),
    "p8_not_isin" -> ((s, dir) =>
      Tables(s, dir, "customer")
        .filter(!col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")),

    // P9+P10+F12: when/otherwise conditional + startsWith predicate
    // (reference code/curate/02_customer_sp.sql:24-26).
    "p9_when_otherwise" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .withColumn("status_label",
          when(col("o_orderstatus") === "O", lit("open"))
            .when(col("o_orderstatus") === "F", lit("finished"))
            .otherwise(lit("other")))
        .withColumn("is_urgent",
          col("o_orderpriority").startsWith("1").cast("int"))
        .select("o_orderkey", "status_label", "is_urgent")
        .orderBy("o_orderkey")),

    // P11: conjunctive predicates on two columns (reference 1_rec:72).
    "p11_conjunction" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")),

    // F1-F3+F6-F11: the string-function surface of the reference's invoice
    // view (3BC_create_raw_pdf_text_view.sql:3-11) and customer SP
    // (02_customer_sp.sql:24-31), exercised on c_name/c_custkey.
    "f_string_funcs" -> ((s, dir) =>
      Tables(s, dir, "customer").select(
        col("c_custkey"),
        split_part(col("c_name"), lit("#"), lit(2)).as("name_num"),
        split_part(col("c_name"), lit("#"), lit(5)).as("sp_oor"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("pad_key"),
        expr("substring(c_name, 1, instr(c_name, '#') - 1)").as("head"),
        length(col("c_name")).cast(IntegerType).as("nlen"),
        regexp_replace(col("c_name"), "[^0-9]", "").as("digits"),
        concat(trim(col("c_name")), lit(" <"), upper(col("c_name")),
               lit(">")).as("disp"))
        .orderBy("c_custkey")),

    // F4+F5: currency round-trip — format with grouping separators, then
    // to_number('$999,999,999.99') back to DECIMAL(38,2) (reference
    // 3BC_create_raw_pdf_text_view.sql:8-11).
    "f_currency_roundtrip" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .withColumn("fmt",
          concat(lit("$"), format_number(col("o_totalprice"), 2)))
        .withColumn("parsed",
          expr("to_number(fmt, '$999,999,999.99')").cast(DecimalType(38, 2))
            .cast("double"))
        .select("o_orderkey", "fmt", "parsed")
        .orderBy("o_orderkey")),

    // F6+F7+F9+F10+P9: phone standardization (02_customer_sp.sql:24-26) —
    // strip non-digits, drop the leading "1" country code. Phone strings
    // are synthesized deterministically from c_custkey.
    "f_phone_clean" -> ((s, dir) => {
      val phone = concat(
        lit("1-"), lpad((col("c_custkey") % 1000).cast("string"), 3, "0"),
        lit("-555-"), lpad((col("c_custkey") % 10000).cast("string"), 4, "0"))
      val digits = regexp_replace(phone, "[^0-9]", "")
      Tables(s, dir, "customer")
        .withColumn("phone", phone)
        .withColumn("clean",
          when(digits.startsWith("1"),
               digits.substr(lit(2), length(digits) - 1))
            .otherwise(digits))
        .select("c_custkey", "phone", "clean")
        .orderBy("c_custkey")
    }),

    // F14: generic function dispatch — the reference's CALL_FUNCTION /
    // CALL_UDF (02_customer_sp.sql:27, 03_invoice_sp.sql:23): a
    // registered scalar UDF invoked by name via call_udf.
    "f_call_udf" -> ((s, dir) => {
      s.udf.register("graft_initials",
        (name: String) =>
          if (name == null) null
          else name.split(" ").filter(_.nonEmpty)
            .map(_.head.toUpper).mkString("."))
      Tables(s, dir, "customer")
        .withColumn("spaced", regexp_replace(col("c_name"), "#", " "))
        .select(col("c_custkey"),
          call_udf("graft_initials", col("spaced")).as("initials"))
        .orderBy("c_custkey")
    }),

    // F15: timestamp parse/format round-trip + date parts over the events
    // table (reference's two timestamp formats, SURVEY §1.2).
    "f_dates" -> ((s, dir) =>
      Tables.events(s, dir).selectExpr(
        "event_id",
        "date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS ts_str",
        "cast(year(ts) AS int) AS yr",
        "cast(month(ts) AS int) AS mo",
        "cast(day(ts) AS int) AS dom",
        "cast(to_date(ts) AS string) AS d",
        "unix_micros(ts) AS epoch_us",
        """unix_micros(to_timestamp(
          |  date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS'),
          |  'yyyy-MM-dd HH:mm:ss.SSSSSS')) AS reparsed_us""".stripMargin)
        .orderBy("event_id")),

    // O4+W-desc: top-k per group via row_number window (reference
    // 1_recommendation_app.py:79-82). Window partitions hash-shuffle by
    // segment — scales horizontally; k rows kept per partition.
    "o4_topk_per_group" -> ((s, dir) => {
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables(s, dir, "customer")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal")
        .orderBy("c_mktsegment", "c_custkey")
    }),

    // A5+O5: distinct on one column + sort (reference 2_unpaid:21-23).
    "a5_distinct_sorted" -> ((s, dir) =>
      Tables(s, dir, "customer")
        .select("c_mktsegment").distinct().orderBy("c_mktsegment"))
  )

  val oracles: Map[String, String] = Map(
    "p2_derived_rename" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag AS flag,
        |  CAST(CAST(CAST(l_quantity AS DECIMAL(18,2))
        |            * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))
        |       AS DOUBLE) AS sales_amt
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "p6_like_filter" ->
      """SELECT p_partkey, p_name FROM part WHERE p_name LIKE 's%'
        |ORDER BY p_partkey""".stripMargin,

    "p7_isin_filter" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        |ORDER BY c_custkey""".stripMargin,

    "p8_not_isin" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_mktsegment NOT IN ('BUILDING', 'MACHINERY')
        |ORDER BY c_custkey""".stripMargin,

    "p9_when_otherwise" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderstatus = 'O' THEN 'open'
        |       WHEN o_orderstatus = 'F' THEN 'finished'
        |       ELSE 'other' END AS status_label,
        |  CAST(o_orderpriority LIKE '1%' AS INTEGER) AS is_urgent
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "p11_conjunction" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "f_string_funcs" ->
      """SELECT c_custkey,
        |  split_part(c_name, '#', 2) AS name_num,
        |  split_part(c_name, '#', 5) AS sp_oor,
        |  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS pad_key,
        |  substr(c_name, 1, strpos(c_name, '#') - 1) AS head,
        |  CAST(length(c_name) AS INTEGER) AS nlen,
        |  regexp_replace(c_name, '[^0-9]', '', 'g') AS digits,
        |  trim(c_name) || ' <' || upper(c_name) || '>' AS disp
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "f_currency_roundtrip" ->
      """SELECT o_orderkey,
        |  '$' || format('{:,}', CAST(trunc(CAST(o_totalprice AS DECIMAL(18,2)))
        |                             AS BIGINT))
        |      || '.' || lpad(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |                              AS BIGINT) % 100 AS VARCHAR), 2, '0')
        |    AS fmt,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS parsed
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "f_phone_clean" ->
      """WITH p AS (
        |  SELECT c_custkey,
        |    '1-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
        |         || '-555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
        |      AS phone
        |  FROM customer),
        |d AS (SELECT c_custkey, phone,
        |             regexp_replace(phone, '[^0-9]', '', 'g') AS digits
        |      FROM p)
        |SELECT c_custkey, phone,
        |  CASE WHEN substr(digits, 1, 1) = '1'
        |       THEN substr(digits, 2, length(digits) - 1)
        |       ELSE digits END AS clean
        |FROM d ORDER BY c_custkey""".stripMargin,

    "f_call_udf" ->
      """SELECT c_custkey,
        |  array_to_string(list_transform(
        |    list_filter(string_split(replace(c_name, '#', ' '), ' '),
        |                x -> length(x) > 0),
        |    x -> upper(substr(x, 1, 1))), '.') AS initials
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "f_dates" ->
      """SELECT event_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
        |  CAST(year(ts) AS INTEGER) AS yr,
        |  CAST(month(ts) AS INTEGER) AS mo,
        |  CAST(day(ts) AS INTEGER) AS dom,
        |  strftime(ts, '%Y-%m-%d') AS d,
        |  epoch_us(ts) AS epoch_us,
        |  epoch_us(strptime(strftime(ts, '%Y-%m-%d %H:%M:%S.%f'),
        |                    '%Y-%m-%d %H:%M:%S.%f')) AS reparsed_us
        |FROM events ORDER BY event_id""".stripMargin,

    "o4_topk_per_group" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal FROM customer
        |QUALIFY row_number() OVER (PARTITION BY c_mktsegment
        |                           ORDER BY c_acctbal DESC, c_custkey) <= 3
        |ORDER BY c_mktsegment, c_custkey""".stripMargin,

    "a5_distinct_sorted" ->
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment"
  )
}
