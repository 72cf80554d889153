package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.jobs.{CustomerStandardize, InvoiceParse, SalesEnrich}

/** Oracle-paired queries for the three curation jobs (SURVEY.md §2.10 D2,
  * §7 build order 3-4). Family-A-shaped inputs (FIXTURES.md §A) are
  * synthesized deterministically from testdata columns — pure
  * integer/string construction, so Spark and DuckDB agree exactly.
  */
object Curation extends graft.QuerySet {
  private def pad(e: Column, n: Int) = lpad(e.cast("string"), n, "0")

  /** Family-A1 customer shape (CUSTOMER_ID, NAME, phones, POSTCODE, …)
    * from customer ⋈ nation. Phone formats cover the edge cases: leading
    * "1-" country code, parenthesized area code that may itself start
    * with 1, and the reference's `[^0-9_]`-survives-underscores quirk. */
  def customerInput(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val n = Tables(s, dir, "nation")
    val k = col("c_custkey")
    c.join(n, col("c_nationkey") === col("n_nationkey"))
      .select(
        pad(k, 10).as("CUSTOMER_ID"),
        regexp_replace(col("c_name"), "#", " ").as("NAME"),
        lit("1970-01-01").as("DOB"),
        col("c_mktsegment").as("JOB_TITLE"),
        lit("ACME Corp").as("COMPANY"),
        concat((k % 999).cast("string"), lit(" Main St")).as("STREET"),
        lit("Springfield").as("CITY"),
        lit("IL").as("STATE"),
        pad(k % 100000, 5).as("POSTCODE"),
        col("n_name").as("COUNTRY"),
        concat(lit("1-"), pad(k % 1000, 3), lit("-555-"), pad(k % 10000, 4))
          .as("HOME_PHONE"),
        concat(lit("("), ((k % 900) + 100).cast("string"), lit(") 555-"),
          pad(k % 10000, 4)).as("CELL_PHONE"),
        concat(pad(k % 1000, 3), lit("_555_"), pad(k % 10000, 4))
          .as("WORK_PHONE"))
  }

  /** Family-A4 invoice raw text (labeled fields, as the reference's
    * PDF→text output) synthesized from orders. Amounts are built from
    * integer cents so both engines produce identical strings/decimals. */
  def invoiceRawText(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    def ac(kk: Int): Column =
      (col("o_orderkey") * 7 + lit(kk * 131)) % 90000 + 100
    def dollars(c: Column) = floor(c / 100).cast("long").cast("string")
    def cents(c: Column) = lpad((c % 100).cast("string"), 2, "0")
    def moneyStr(c: Column) =
      concat(lit("$"), dollars(c), lit("."), cents(c))
    def plainStr(c: Column) = concat(dollars(c), lit("."), cents(c))
    val status = when(col("o_orderstatus") === "F", "PAID")
      .when(col("o_orderstatus") === "O", "OPEN")
      .otherwise("Overdue")
    val payDt = when(col("o_orderstatus") === "F",
      date_add(col("o_orderdate").cast("date"), 30).cast("string"))
      .otherwise(lit("N/A"))
    o.select(
      concat(lit("INVOICE_NO_INV-"), pad(col("o_orderkey"), 8), lit(".pdf"))
        .as("relative_path"),
      concat_ws(" ",
        lit("Customer:"), col("o_custkey").cast("string"),
        lit("Invoice #:"), concat(lit("INV-"), pad(col("o_orderkey"), 8)),
        lit("Generated On:"), col("o_orderdate").cast("date").cast("string"),
        lit("Status:"), status,
        lit("Payment Date:"), payDt,
        lit("Item 1"), moneyStr(ac(1)),
        lit("Item 2"), moneyStr(ac(2)),
        lit("Item 3"), moneyStr(ac(3)),
        lit("Total"), plainStr(ac(1) + ac(2) + ac(3))).as("pdf_text"))
  }

  val queries: Map[String, Q] = Map(
    "d2_customer_standardize" -> ((s, dir) =>
      CustomerStandardize.transform(customerInput(s, dir))
        .orderBy("CUSTOMER_ID")),

    // PII masking over the messy customer feed — what a training-data
    // pipeline runs before text lands in a corpus: phones keep only
    // their last 4 digits, names become stable pseudonyms (md5-derived,
    // so re-runs and both engines agree), postcodes generalize to a
    // 3-digit prefix. Pure per-row codegen expressions.
    "pii_mask" -> ((s, dir) => {
      def mask(c: String) = concat(
        regexp_replace(expr(s"substr($c, 1, length($c) - 4)"),
          "[0-9]", "*"),
        expr(s"substr($c, length($c) - 3, 4)")).as(c)
      customerInput(s, dir).select(
        col("CUSTOMER_ID"),
        concat(lit("person_"), substring(md5(col("NAME")), 1, 8))
          .as("pseudonym"),
        mask("HOME_PHONE"), mask("CELL_PHONE"), mask("WORK_PHONE"),
        concat(substring(col("POSTCODE"), 1, 3), lit("XX"))
          .as("postcode_gen"))
        .orderBy("CUSTOMER_ID")
    }),

    "d2_invoice_parse" -> ((s, dir) => {
      // parse keeps DECIMAL internally; DOUBLE at the output boundary
      // (driver hash canonicalizes DECIMAL renderings inconsistently)
      val parsed = InvoiceParse.parse(invoiceRawText(s, dir))
      Seq("item_1", "item_2", "item_3", "total")
        .foldLeft(parsed)((df, c) => df.withColumn(c, col(c).cast("double")))
        .orderBy("invoice_num")
    }),

    "d2_sales_enrich" -> ((s, dir) =>
      SalesEnrich.transform(
        Tables(s, dir, "lineitem"), Tables(s, dir, "orders"),
        Tables(s, dir, "customer"), Tables(s, dir, "part"))
        .withColumn("net_amt", col("net_amt").cast("double"))
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic
        // lineitem — extend the sort key to a total order for the oracle
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
          "net_amt")),

    // K-ANONYMITY audit — the re-identification check a privacy review
    // runs before a dataset release: rows grouped by their
    // quasi-identifier tuple (nation, market segment, account-balance
    // band); any group smaller than k = 5 is a re-identification risk
    // and would be suppressed or generalized. One aggregate over the
    // QID groupBy feeds a one-row summary (group counts, rows at risk,
    // integer suppression percentage) — robust output shape at every
    // scale factor. At 100 TB this is one shuffle on the QID key with
    // full partial aggregation.
    "pv_k_anonymity" -> ((s, dir) =>
      Tables(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          expr("CAST(c_acctbal AS BIGINT) div 2000").as("bal_band"))
        .agg(count(lit(1)).as("n"))
        .agg(
          count(lit(1)).as("n_groups"),
          sum(when(col("n") < 5, 1L).otherwise(0L)).as("n_risky_groups"),
          sum(when(col("n") < 5, col("n")).otherwise(0L))
            .as("rows_at_risk"),
          sum(col("n")).as("n_rows"))
        .select(col("n_groups"), col("n_risky_groups"),
          col("rows_at_risk"), col("n_rows"),
          expr("rows_at_risk * 100 div n_rows").as("risk_pct"))),

    // L-DIVERSITY audit — k-anonymity's companion check: a QID group
    // can be large (k-safe) yet still leak if every member shares the
    // SAME sensitive value. Per (nation, balance-band) group, l =
    // distinct sensitive values (market segment); the report is the
    // distribution of groups and rows by l, so l = 1 rows are exact
    // attribute disclosures and l < 3 is the usual release bar. Two
    // stacked aggregates — QID shuffle with partial count-distinct,
    // then an l-grain regroup (≤ 5 rows) — never a row-scale window.
    // Band uses the same toward-zero trunc contract as pv_k_anonymity.
    "pv_l_diversity" -> ((s, dir) =>
      Tables(s, dir, "customer")
        .groupBy(col("c_nationkey"),
          expr("CAST(c_acctbal AS BIGINT) div 2000").as("bal_band"))
        .agg(countDistinct(col("c_mktsegment")).as("l"),
          count(lit(1)).as("n"))
        .groupBy("l")
        .agg(count(lit(1)).as("n_groups"), sum(col("n")).as("n_rows"))
        .orderBy("l")),

    // T-CLOSENESS audit — the third leg of the release-privacy triad
    // (Li, Li & Venkatasubramanian ICDE'07): a QID group can be k-safe
    // and l-diverse yet still leak if its sensitive-value DISTRIBUTION
    // diverges from the table's. For a categorical sensitive attribute
    // the Earth Mover's Distance reduces to total variation
    // ½·Σ|p_i − q_i|; with p = cnt/n_g and q = tot/N that is
    // tv = Σ|cnt·N − tot·n_g| / (2·n_g·N) — kept as the integer
    // numerator so the cross-engine comparison never touches a float
    // division, and the t ≤ 0.4 gate is the cross-multiplied compare
    // 10·tv_num ≤ 8·n_g·N. (At petabyte row counts the cnt·N products
    // want DECIMAL headroom or per-million normalization; the plan
    // shape is unchanged.) Cost: three aggregates on the same QID
    // shuffle grain plus a broadcast of the 5-row segment margin and
    // the 1-row total — the group×segment grid is output-sized.
    "pv_t_closeness" -> ((s, dir) => {
      val c = Tables(s, dir, "customer").select(col("c_nationkey"),
        expr("CAST(c_acctbal AS BIGINT) div 2000").as("bal_band"),
        col("c_mktsegment"))
      val cell = c.groupBy("c_nationkey", "bal_band", "c_mktsegment")
        .agg(count(lit(1)).as("cnt"))
      val grp = c.groupBy("c_nationkey", "bal_band")
        .agg(count(lit(1)).as("n_g"))
      val seg = c.groupBy("c_mktsegment").agg(count(lit(1)).as("tot"))
      val tot = c.agg(count(lit(1)).as("n_all"))
      grp.crossJoin(broadcast(seg)).crossJoin(broadcast(tot))
        .join(cell, Seq("c_nationkey", "bal_band", "c_mktsegment"),
          "left")
        .withColumn("term",
          abs(coalesce(col("cnt"), lit(0L)) * col("n_all") -
            col("tot") * col("n_g")))
        .groupBy("c_nationkey", "bal_band")
        .agg(max("n_g").as("n_g"), max("n_all").as("n_all"),
          sum("term").as("tv_num"))
        .select(col("c_nationkey"), col("bal_band"), col("n_g"),
          col("tv_num"),
          (lit(10L) * col("tv_num") >
            lit(8L) * col("n_g") * col("n_all")).cast("int")
            .as("t_violation"))
        .orderBy("c_nationkey", "bal_band")
    }),

    // CELL SUPPRESSION — the statistical-disclosure-control release
    // step census agencies apply to frequency tables (primary +
    // complementary suppression): cells under the k = 5 threshold are
    // primary-suppressed; then any (nation, segment) row left with
    // EXACTLY ONE suppressed cell gets its smallest remaining cell
    // complementarily suppressed too — otherwise the row margin
    // reveals the hidden value by subtraction. The "smallest
    // remaining" pick is the deterministic (n, band) order. Band uses
    // the pv_k_anonymity toward-zero trunc contract. One QID-grain
    // aggregate plus two windows on the row key — never row-scale.
    "pv_cell_suppression" -> ((s, dir) => {
      val wRow = Window.partitionBy("c_nationkey", "c_mktsegment")
      val wOrd = Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy(col("is_primary"), col("n"), col("bal_band"))
      Tables(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          expr("CAST(c_acctbal AS BIGINT) div 2000").as("bal_band"))
        .agg(count(lit(1)).as("n"))
        .withColumn("is_primary", (col("n") < 5).cast("int"))
        .withColumn("n_primary", sum("is_primary").over(wRow))
        .withColumn("rn", row_number().over(wOrd))
        .select(col("c_nationkey"), col("c_mktsegment"),
          col("bal_band"), col("n"),
          when(col("is_primary") === 1, "primary")
            .when(col("n_primary") === 1 && col("rn") === 1,
              "complementary").as("status"))
        .withColumn("released", when(col("status").isNull, col("n")))
        .orderBy("c_nationkey", "c_mktsegment", "bal_band")
    }),

    // Right-to-be-forgotten cascade — the compliance sweep every lake
    // with personal data runs: a deterministic request set (custkey %
    // 97 = 0) propagates through the foreign-key graph (customer →
    // orders → lineitem, customer → events) and the audit report
    // counts forgotten vs retained per table. Direct-FK tables mark
    // rows with a codegen'd predicate (zero joins); lineitem — two
    // hops from the request — marks through ONE join against the
    // forgotten order keys. At sf the forgotten-keys side broadcasts;
    // when a request wave is too large to broadcast, the Bloom
    // runtime-filter pattern (JoinReduction) is the drop-in escape
    // hatch. Counts only — the actual anti-join delete is the same
    // predicate applied with `filter(!...)` at write time.
    "gdpr_cascade" -> ((s, dir) => {
      def report(tbl: String, df: DataFrame, flag: Column): DataFrame =
        df.agg(
          sum(when(flag, 1L).otherwise(0L)).as("n_forgotten"),
          sum(when(flag, 0L).otherwise(1L)).as("n_retained"))
          .select(lit(tbl).as("tbl"), col("n_forgotten"),
            col("n_retained"))
      val cust = Tables(s, dir, "customer")
      val orders = Tables(s, dir, "orders")
      val forgottenOrders = orders
        .filter(col("o_custkey") % 97 === 0).select("o_orderkey")
      val li = Tables(s, dir, "lineitem")
        .join(broadcast(forgottenOrders.withColumn("hit", lit(1))),
          col("l_orderkey") === col("o_orderkey"), "left")
      report("customer", cust, col("c_custkey") % 97 === 0)
        .unionAll(report("events", Tables(s, dir, "events"),
          col("user_id") % 97 === 0))
        .unionAll(report("lineitem", li, col("hit").isNotNull))
        .unionAll(report("orders", orders, col("o_custkey") % 97 === 0))
        .orderBy("tbl")
    })
  )

  val oracles: Map[String, String] = Map(
    "pii_mask" ->
      """WITH inp AS (
        |  SELECT lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS customer_id,
        |    replace(c_name, '#', ' ') AS name,
        |    lpad(CAST(c_custkey % 100000 AS VARCHAR), 5, '0') AS postcode,
        |    '1-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
        |         || '-555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
        |      AS home_phone,
        |    '(' || CAST(c_custkey % 900 + 100 AS VARCHAR) || ') 555-'
        |         || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
        |      AS cell_phone,
        |    lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '_555_'
        |         || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
        |      AS work_phone
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey)
        |SELECT customer_id AS "CUSTOMER_ID",
        |  'person_' || substr(md5(name), 1, 8) AS pseudonym,
        |  regexp_replace(substr(home_phone, 1, length(home_phone) - 4),
        |                 '[0-9]', '*', 'g')
        |    || substr(home_phone, length(home_phone) - 3, 4)
        |    AS "HOME_PHONE",
        |  regexp_replace(substr(cell_phone, 1, length(cell_phone) - 4),
        |                 '[0-9]', '*', 'g')
        |    || substr(cell_phone, length(cell_phone) - 3, 4)
        |    AS "CELL_PHONE",
        |  regexp_replace(substr(work_phone, 1, length(work_phone) - 4),
        |                 '[0-9]', '*', 'g')
        |    || substr(work_phone, length(work_phone) - 3, 4)
        |    AS "WORK_PHONE",
        |  substr(postcode, 1, 3) || 'XX' AS postcode_gen
        |FROM inp ORDER BY customer_id""".stripMargin,

    "d2_customer_standardize" ->
      """WITH inp AS (
        |  SELECT lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS customer_id,
        |    replace(c_name, '#', ' ') AS name,
        |    c_mktsegment AS job_title,
        |    CAST(c_custkey % 999 AS VARCHAR) || ' Main St' AS street,
        |    lpad(CAST(c_custkey % 100000 AS VARCHAR), 5, '0') AS zip,
        |    n_name AS country,
        |    '1-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
        |         || '-555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
        |      AS home_phone,
        |    '(' || CAST(c_custkey % 900 + 100 AS VARCHAR) || ') 555-'
        |         || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
        |      AS cell_phone,
        |    lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '_555_'
        |         || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
        |      AS work_phone
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |ph AS (
        |  SELECT *,
        |    regexp_replace(home_phone, '[^0-9_]', '', 'g') AS hd,
        |    regexp_replace(cell_phone, '[^0-9_]', '', 'g') AS cd,
        |    regexp_replace(work_phone, '[^0-9_]', '', 'g') AS wd
        |  FROM inp)
        |SELECT customer_id AS "CUSTOMER_ID",
        |  substr(name, 1, strpos(name, ' ') - 1) AS "FIRST_NAME",
        |  substr(name, strpos(name, ' ') + 1, length(name)) AS "LAST_NAME",
        |  '1970-01-01' AS "DOB",
        |  job_title AS "JOB_TITLE",
        |  'ACME Corp' AS "COMPANY",
        |  street AS "STREET",
        |  'Springfield' AS "CITY",
        |  'IL' AS "STATE",
        |  zip AS "ZIP",
        |  country AS "COUNTRY",
        |  CASE WHEN substr(hd,1,1)='1' THEN substr(hd,2,10)
        |       ELSE substr(hd,1,10) END AS "HOME_PHONE",
        |  CASE WHEN substr(cd,1,1)='1' THEN substr(cd,2,10)
        |       ELSE substr(cd,1,10) END AS "CELL_PHONE",
        |  CASE WHEN substr(wd,1,1)='1' THEN substr(wd,2,10)
        |       ELSE substr(wd,1,10) END AS "WORK_PHONE"
        |FROM ph ORDER BY customer_id""".stripMargin,

    "d2_invoice_parse" ->
      """WITH a AS (
        |  SELECT o_orderkey, o_custkey, o_orderdate, o_orderstatus,
        |    (o_orderkey * 7 + 131) % 90000 + 100 AS ac1,
        |    (o_orderkey * 7 + 262) % 90000 + 100 AS ac2,
        |    (o_orderkey * 7 + 393) % 90000 + 100 AS ac3
        |  FROM orders)
        |SELECT
        |  'INVOICE_NO_INV-' || lpad(CAST(o_orderkey AS VARCHAR), 8, '0')
        |      || '.pdf' AS relative_path,
        |  lpad(CAST(o_custkey AS VARCHAR), 10, '0') AS customer_id,
        |  'INV-' || lpad(CAST(o_orderkey AS VARCHAR), 8, '0') AS invoice_num,
        |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS inv_gen_dt,
        |  CASE WHEN o_orderstatus = 'F' THEN 'PAID'
        |       WHEN o_orderstatus = 'O' THEN 'OPEN'
        |       ELSE 'Overdue' END AS inv_status,
        |  CASE WHEN o_orderstatus = 'F'
        |       THEN CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR)
        |       ELSE 'N/A' END AS payment_dt,
        |  CAST(CAST(CAST(ac1 // 100 AS VARCHAR) || '.'
        |            || lpad(CAST(ac1 % 100 AS VARCHAR), 2, '0')
        |            AS DECIMAL(38,2)) AS DOUBLE) AS item_1,
        |  CAST(CAST(CAST(ac2 // 100 AS VARCHAR) || '.'
        |            || lpad(CAST(ac2 % 100 AS VARCHAR), 2, '0')
        |            AS DECIMAL(38,2)) AS DOUBLE) AS item_2,
        |  CAST(CAST(CAST(ac3 // 100 AS VARCHAR) || '.'
        |            || lpad(CAST(ac3 % 100 AS VARCHAR), 2, '0')
        |            AS DECIMAL(38,2)) AS DOUBLE) AS item_3,
        |  CAST(CAST(CAST((ac1 + ac2 + ac3) // 100 AS VARCHAR) || '.'
        |            || lpad(CAST((ac1 + ac2 + ac3) % 100 AS VARCHAR), 2, '0')
        |            AS DECIMAL(38,2)) AS DOUBLE) AS total
        |FROM a ORDER BY invoice_num""".stripMargin,

    "d2_sales_enrich" ->
      """WITH master AS (
        |  SELECT p_partkey AS master_partkey, p_name, p_brand, p_type
        |  FROM (SELECT p_partkey, p_name, p_brand, p_type,
        |          row_number() OVER (PARTITION BY p_name ORDER BY p_partkey)
        |            AS rn
        |        FROM part) t
        |  WHERE rn = 1)
        |SELECT DISTINCT l_orderkey, l_linenumber, l_partkey, l_quantity,
        |  CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |            * CAST(1.0 - l_discount AS DECIMAL(18,2))
        |            AS DECIMAL(38,4)) AS DOUBLE) AS net_amt,
        |  c_custkey, c_name, c_mktsegment, p_name, p_brand, p_type
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |LEFT JOIN master ON l_partkey = master_partkey
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity, net_amt
        |""".stripMargin,

    "pv_k_anonymity" ->
      // trunc() before the cast: DuckDB's double→BIGINT cast ROUNDS to
      // nearest (-999.99 → -1000) while Spark's truncates toward zero
      // (-999.99 → -999); trunc matches Spark's semantics for both
      // signs, so band membership agrees for balances within 0.5 of a
      // band boundary (DuckDB `//` and Spark `div` both already
      // truncate, verified: -2001//2000 = -1, -999//2000 = 0)
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(trunc(c_acctbal) AS BIGINT) // 2000 AS bal_band,
        |    count(*) AS n
        |  FROM customer GROUP BY 1, 2, 3)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_risky_groups,
        |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk,
        |  CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) * 100 // sum(n)
        |    AS BIGINT) AS risk_pct
        |FROM g""".stripMargin,

    "pv_l_diversity" ->
      // same trunc-before-cast contract as pv_k_anonymity
      """WITH g AS (
        |  SELECT c_nationkey,
        |    CAST(trunc(c_acctbal) AS BIGINT) // 2000 AS bal_band,
        |    CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l,
        |    count(*) AS n
        |  FROM customer GROUP BY 1, 2)
        |SELECT l, CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(n) AS BIGINT) AS n_rows
        |FROM g GROUP BY l ORDER BY l""".stripMargin,

    "pv_t_closeness" ->
      // same trunc-before-cast band contract as pv_k_anonymity; the
      // tv numerator and the 0.4 gate replay in the same integer
      // arithmetic (DuckDB sums widen to HUGEINT — cast back)
      """WITH c AS (
        |  SELECT c_nationkey,
        |    CAST(trunc(c_acctbal) AS BIGINT) // 2000 AS bal_band,
        |    c_mktsegment
        |  FROM customer),
        |grp AS (SELECT c_nationkey, bal_band, count(*) AS n_g
        |        FROM c GROUP BY 1, 2),
        |seg AS (SELECT c_mktsegment, count(*) AS tot FROM c GROUP BY 1),
        |tot AS (SELECT count(*) AS n_all FROM c),
        |cell AS (SELECT c_nationkey, bal_band, c_mktsegment,
        |           count(*) AS cnt
        |         FROM c GROUP BY 1, 2, 3),
        |terms AS (
        |  SELECT g.c_nationkey, g.bal_band, g.n_g, t.n_all,
        |    abs(coalesce(cl.cnt, 0) * t.n_all - s.tot * g.n_g) AS term
        |  FROM grp g CROSS JOIN seg s CROSS JOIN tot t
        |  LEFT JOIN cell cl
        |    ON cl.c_nationkey = g.c_nationkey
        |   AND cl.bal_band = g.bal_band
        |   AND cl.c_mktsegment = s.c_mktsegment)
        |SELECT c_nationkey, bal_band, CAST(n_g AS BIGINT) AS n_g,
        |  CAST(sum(term) AS BIGINT) AS tv_num,
        |  CAST(CASE WHEN 10 * sum(term) > 8 * n_g * n_all
        |       THEN 1 ELSE 0 END AS INTEGER) AS t_violation
        |FROM terms GROUP BY c_nationkey, bal_band, n_g, n_all
        |ORDER BY c_nationkey, bal_band""".stripMargin,

    // same trunc-before-cast band and the same deterministic
    // (is_primary, n, band) smallest-unsuppressed pick
    "pv_cell_suppression" ->
      """WITH cells AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(trunc(c_acctbal) AS BIGINT) // 2000 AS bal_band,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM customer GROUP BY 1, 2, 3),
        |f AS (
        |  SELECT *, CASE WHEN n < 5 THEN 1 ELSE 0 END AS is_primary
        |  FROM cells),
        |w AS (
        |  SELECT *,
        |    sum(is_primary) OVER (PARTITION BY c_nationkey,
        |      c_mktsegment) AS n_primary,
        |    row_number() OVER (PARTITION BY c_nationkey, c_mktsegment
        |      ORDER BY is_primary, n, bal_band) AS rn
        |  FROM f)
        |SELECT c_nationkey, c_mktsegment, bal_band, n,
        |  CASE WHEN is_primary = 1 THEN 'primary'
        |       WHEN n_primary = 1 AND rn = 1 THEN 'complementary'
        |  END AS status,
        |  CASE WHEN is_primary = 0 AND NOT (n_primary = 1 AND rn = 1)
        |       THEN n END AS released
        |FROM w ORDER BY c_nationkey, c_mktsegment, bal_band""".stripMargin,

    "gdpr_cascade" ->
      """SELECT * FROM (
        |  SELECT 'customer' AS tbl,
        |    CAST(count(CASE WHEN c_custkey % 97 = 0 THEN 1 END)
        |      AS BIGINT) AS n_forgotten,
        |    CAST(count(CASE WHEN c_custkey % 97 <> 0 THEN 1 END)
        |      AS BIGINT) AS n_retained
        |  FROM customer
        |  UNION ALL
        |  SELECT 'events',
        |    CAST(count(CASE WHEN user_id % 97 = 0 THEN 1 END) AS BIGINT),
        |    CAST(count(CASE WHEN user_id % 97 <> 0 THEN 1 END) AS BIGINT)
        |  FROM events
        |  UNION ALL
        |  SELECT 'lineitem',
        |    CAST(count(CASE WHEN o_custkey % 97 = 0 THEN 1 END) AS BIGINT),
        |    CAST(count(CASE WHEN o_custkey % 97 <> 0 THEN 1 END) AS BIGINT)
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  UNION ALL
        |  SELECT 'orders',
        |    CAST(count(CASE WHEN o_custkey % 97 = 0 THEN 1 END) AS BIGINT),
        |    CAST(count(CASE WHEN o_custkey % 97 <> 0 THEN 1 END) AS BIGINT)
        |  FROM orders) t
        |ORDER BY tbl""".stripMargin
  )
}
