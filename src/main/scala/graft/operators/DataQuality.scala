package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Declarative data-quality auditing — the expectation-suite and
  * referential-integrity checks a curation zone runs before promoting
  * a load (the reference gates its curated zone behind stored-proc
  * standardization, `code/curate/02_customer_sp.sql`; production
  * pipelines bolt exactly these assertions onto that promotion).
  *
  * Design for 100 TB: every expectation over a table compiles into ONE
  * conditional-aggregation pass — violations are `sum(case when ...)`
  * columns of a single scan, never one job per rule — and the
  * rule→row reshape happens on the already-aggregated 1-row frame
  * (stack of literals, zero extra reads). Referential checks are
  * anti-join counts: each FK edge costs one shuffle on the key, and
  * the dimension side broadcasts when small. Nothing here collects,
  * loops, or re-reads.
  */
object DataQuality extends graft.QuerySet {
  private def viol(cond: Column): Column =
    sum(when(cond, 1L).otherwise(0L))

  /** (table, check, total, violations) rows from one agg pass: all
    * rules aggregate in a single scan, and the rule→row reshape is an
    * explode OVER the one-row aggregate — a union of per-rule selects
    * would let column pruning split it back into one scan per rule
    * (PlanInvariantSpec pins the scan count). */
  private def suite(df: DataFrame, table: String,
                    checks: Seq[(String, Column)]): DataFrame = {
    val aggs = count(lit(1)).as("_total") +:
      checks.map { case (n, c) => viol(c).as(s"_v_$n") }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rules = array(checks.map { case (n, _) =>
      struct(lit(n).as("check_name"), col(s"_v_$n").as("violations"))
    }: _*)
    one.select(lit(table).as("tbl"), col("_total").as("total"),
        explode(rules).as("rule"))
      .select(col("tbl"), col("rule.check_name").as("check_name"),
        col("total"), col("rule.violations").as("violations"))
      .withColumn("pass", col("violations") === 0L)
  }

  val queries: Map[String, Q] = Map(
    // Expectation suite over the three core tables: null / uniqueness
    // / range / domain rules, one row per rule with violation counts.
    // c_acctbal_nonneg is a deliberately strict rule that FAILS on
    // this corpus (negative balances are legal TPC-H data) — the audit
    // must demonstrably count, not rubber-stamp.
    "dq_expect_suite" -> ((s, dir) => {
      val cust = suite(Tables(s, dir, "customer"), "customer", Seq(
        "c_custkey_not_null" -> col("c_custkey").isNull,
        "c_acctbal_range" -> !col("c_acctbal").between(-1000.0, 10000.0),
        "c_acctbal_nonneg" -> (col("c_acctbal") < 0.0),
        "c_mktsegment_domain" -> !col("c_mktsegment").isin(
          "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")))
      val ord = suite(Tables(s, dir, "orders"), "orders", Seq(
        "o_orderstatus_domain" -> !col("o_orderstatus").isin("F", "O", "P"),
        "o_totalprice_positive" -> (col("o_totalprice") <= 0.0),
        "o_orderdate_range" -> !col("o_orderdate").between(
          lit("1992-01-01").cast("timestamp"),
          lit("2003-01-01").cast("timestamp"))))
      val li = suite(Tables(s, dir, "lineitem"), "lineitem", Seq(
        "l_quantity_range" -> !col("l_quantity").between(1.0, 50.0),
        "l_discount_range" -> !col("l_discount").between(0.0, 0.1),
        "l_shipdate_not_null" -> col("l_shipdate").isNull))
      cust.unionAll(ord).unionAll(li)
        .select("tbl", "check_name", "total", "violations", "pass")
        .orderBy("tbl", "check_name")
    }),

    // Referential-integrity audit across the star's FK edges, both
    // directions: orphans (child key with no parent — must be 0 on a
    // consistent load) and childless parents (dimension rows no fact
    // references — a coverage metric, legitimately non-zero). Each
    // edge is one anti-join; uniqueness probes on the child side
    // dedup before joining so the count is of KEYS, not rows.
    "dq_referential" -> ((s, dir) => {
      val cust = Tables(s, dir, "customer").select("c_custkey")
      val ord = Tables(s, dir, "orders").select("o_orderkey", "o_custkey")
      val li = Tables(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey")
      val part = Tables(s, dir, "part").select("p_partkey")
      val supp = Tables(s, dir, "supplier").select("s_suppkey")
      def edge(name: String, child: DataFrame, childKey: String,
               parent: DataFrame, parentKey: String): DataFrame = {
        val keys = child.select(col(childKey).as("k")).distinct()
        val orphans = keys.join(parent.select(col(parentKey).as("k")),
          Seq("k"), "left_anti")
        orphans.agg(count(lit(1)).as("orphan_keys"))
          .crossJoin(keys.agg(count(lit(1)).as("child_keys")))
          .select(lit(name).as("fk"), col("child_keys"),
            col("orphan_keys"))
      }
      edge("orders.o_custkey->customer", ord, "o_custkey", cust,
          "c_custkey")
        .unionAll(edge("lineitem.l_orderkey->orders", li, "l_orderkey",
          ord, "o_orderkey"))
        .unionAll(edge("lineitem.l_partkey->part", li, "l_partkey",
          part, "p_partkey"))
        .unionAll(edge("lineitem.l_suppkey->supplier", li, "l_suppkey",
          supp, "s_suppkey"))
        .unionAll(edge("customer<-orders (childless)", cust, "c_custkey",
          ord.select("o_custkey"), "o_custkey"))
        .unionAll(edge("part<-lineitem (never ordered)", part,
          "p_partkey", li.select("l_partkey"), "l_partkey"))
        .orderBy("fk")
    }),

    // Benford first-digit audit over order totals — the classic fraud/
    // fabrication screen: observed first-significant-digit counts next
    // to the Benford expectation log10(1+1/d), carried as fixed
    // per-mille integers so the comparison is cross-engine exact. The
    // digit comes from the STRING of floor(price) (never a float log:
    // log10 at a power-of-ten boundary is FP-fragile). One scan + a
    // 9-group aggregation; the expectation joins as a broadcast
    // 9-row literal.
    "dq_benford" -> ((s, dir) => {
      val expect = s.createDataFrame(Seq(
        (1, 301), (2, 176), (3, 125), (4, 97), (5, 79),
        (6, 67), (7, 58), (8, 51), (9, 46)))
        .toDF("digit", "expected_pm")
      val obs = Tables(s, dir, "orders")
        .select(substring(expr("cast(cast(floor(o_totalprice) as bigint) "
          + "as string)"), 1, 1).cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val tot = obs.select(sum("n").as("total"))
      obs.join(expect, Seq("digit"), "right") // all 9 digits in output
        .na.fill(0L, Seq("n"))
        .crossJoin(tot)
        .withColumn("observed_pm", expr("n * 1000 div total"))
        .select("digit", "n", "total", "observed_pm", "expected_pm")
        .orderBy("digit")
    }),

    // COLUMN PROFILER — the per-column census (nulls, cardinality,
    // extremes, payload volume) every catalog / data-discovery layer
    // computes on registration. All five columns profile in ONE
    // aggregation pass over one scan — metrics are parallel aggregate
    // columns, and the column→row reshape explodes an array of
    // structs OVER the already-aggregated single row (same
    // one-scan-then-reshape shape as dq_expect_suite; a union of
    // per-column selects would re-read the table per column, which at
    // 100 TB is the difference between one pass and five). Values
    // profile through an engine-portable RENDERING: integers/strings
    // verbatim, doubles through the established trunc-toward-zero
    // BIGINT contract, so min/max/length never touch float formatting.
    // The count(distinct) per column costs one Expand (×5 rows) —
    // the standard multi-distinct plan, still a single scan.
    "dq_profile" -> ((s, dir) =>
      profileOf(Tables(s, dir, "customer"), "customer", Seq(
        "c_custkey" -> "cast(c_custkey as string)",
        "c_name" -> "c_name",
        "c_nationkey" -> "cast(c_nationkey as string)",
        "c_acctbal" -> "cast(cast(c_acctbal as bigint) as string)",
        "c_mktsegment" -> "c_mktsegment"))),

    // ROBUST outlier detection by median/MAD (the Iglewicz–Hoaglin
    // modified z-score, the DQ screen that survives the very outliers
    // a mean/stddev screen is poisoned by): the report is the top-10
    // days by |x − median|, each flagged anomalous when 0.6745·dev >
    // 3.5·MAD (robustly non-empty at every SF — a thresh-only release
    // is empty whenever the corpus happens to be clean, which is a
    // weak gate). Median and MAD are EXACT
    // interpolated percentiles of integer counts, so they land on
    // half- resp. quarter-integer grids — carried as ×4 / ×8 scaled
    // BIGINTs, and the threshold is the cross-multiplied integer
    // compare 13490·dev_x4 > 35000·mad_x8. No float comparison
    // anywhere. Two percentile passes over the DAILY grain (calendar-
    // scale, the tm_changepoint contract) and a broadcast scalar join.
    "dq_mad_outliers" -> ((s, dir) =>
      madOutliersOf(Tables(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(count(lit(1)).as("x")), 10)))

  /** Top-N days by |x − median| with the Iglewicz–Hoaglin flag — the
    * core behind dq_mad_outliers / api.Series.madOutliers over any
    * (day, x: long) series. */
  private[graft] def madOutliersOf(daily: DataFrame,
                                   topN: Int): DataFrame = {
    val med = daily.agg(expr("percentile(x, 0.5d)").as("med"))
    val dev = daily.crossJoin(broadcast(med))
      .withColumn("dev_x4", expr("cast(abs(x - med) * 4 as bigint)"))
      .withColumn("med_x2", expr("cast(med * 2 as bigint)"))
    val mad = dev
      .agg(expr("cast(percentile(dev_x4, 0.5d) * 2 as bigint)")
        .as("mad_x8"))
    dev.crossJoin(broadcast(mad))
      .select(col("day").cast("string").as("day"), col("x"),
        col("dev_x4"), col("med_x2"), col("mad_x8"),
        (lit(13490L) * col("dev_x4") > lit(35000L) * col("mad_x8"))
          .cast("int").as("is_outlier"))
      .orderBy(col("dev_x4").desc, col("day"))
      .limit(topN)
  }

  /** The one-pass profiler behind dq_profile, over any frame: `cols`
    * maps column name → engine-portable rendering SQL (the facade
    * derives renderings from dtypes). */
  private[graft] def profileOf(df: DataFrame, table: String,
                               cols: Seq[(String, String)]): DataFrame = {
    val aggs = count(lit(1)).as("_n") +: cols.flatMap { case (n, r) =>
      Seq(viol(expr(s"`$n`").isNull).as(s"_null_$n"),
        countDistinct(expr(r)).as(s"_dist_$n"),
        min(expr(r)).as(s"_min_$n"),
        max(expr(r)).as(s"_max_$n"),
        sum(length(expr(r))).as(s"_len_$n"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = array(cols.map { case (n, _) =>
      struct(lit(n).as("column_name"), col(s"_null_$n").as("n_null"),
        col(s"_dist_$n").as("n_distinct"),
        col(s"_min_$n").as("min_val"), col(s"_max_$n").as("max_val"),
        col(s"_len_$n").as("sum_len"))
    }: _*)
    one.select(col("_n").as("n_rows"), explode(rows).as("p"))
      .select(lit(table).as("tbl"), col("p.column_name"),
        col("n_rows"), col("p.n_null"), col("p.n_distinct"),
        col("p.min_val"), col("p.max_val"), col("p.sum_len"))
      .orderBy("column_name")
  }

  val oracles: Map[String, String] = Map(
    "dq_expect_suite" -> {
      def row(tbl: String, check: String, violSql: String) =
        s"""SELECT '$tbl' AS tbl, '$check' AS check_name,
           |  CAST(count(*) AS BIGINT) AS total,
           |  CAST(COALESCE(SUM(CASE WHEN $violSql THEN 1 END), 0)
           |    AS BIGINT) AS violations,
           |  COALESCE(SUM(CASE WHEN $violSql THEN 1 END), 0) = 0 AS pass
           |FROM $tbl""".stripMargin
      Seq(
        row("customer", "c_custkey_not_null", "c_custkey IS NULL"),
        row("customer", "c_acctbal_range",
          "c_acctbal NOT BETWEEN -1000.0 AND 10000.0"),
        row("customer", "c_acctbal_nonneg", "c_acctbal < 0.0"),
        row("customer", "c_mktsegment_domain",
          "c_mktsegment NOT IN ('AUTOMOBILE','BUILDING','FURNITURE'," +
            "'HOUSEHOLD','MACHINERY')"),
        row("orders", "o_orderstatus_domain",
          "o_orderstatus NOT IN ('F','O','P')"),
        row("orders", "o_totalprice_positive", "o_totalprice <= 0.0"),
        row("orders", "o_orderdate_range",
          "o_orderdate NOT BETWEEN TIMESTAMP '1992-01-01' " +
            "AND TIMESTAMP '2003-01-01'"),
        row("lineitem", "l_quantity_range",
          "l_quantity NOT BETWEEN 1.0 AND 50.0"),
        row("lineitem", "l_discount_range",
          "l_discount NOT BETWEEN 0.0 AND 0.1"),
        row("lineitem", "l_shipdate_not_null", "l_shipdate IS NULL"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY tbl, check_name")
    },

    "dq_referential" -> {
      def edge(name: String, childKey: String, childTbl: String,
               parentKey: String, parentTbl: String) =
        s"""SELECT '$name' AS fk,
           |  (SELECT CAST(count(DISTINCT $childKey) AS BIGINT)
           |     FROM $childTbl) AS child_keys,
           |  (SELECT CAST(count(*) AS BIGINT) FROM (
           |     SELECT DISTINCT $childKey AS k FROM $childTbl) c
           |   WHERE NOT EXISTS (SELECT 1 FROM $parentTbl p
           |     WHERE p.$parentKey = c.k)) AS orphan_keys""".stripMargin
      Seq(
        edge("orders.o_custkey->customer", "o_custkey", "orders",
          "c_custkey", "customer"),
        edge("lineitem.l_orderkey->orders", "l_orderkey", "lineitem",
          "o_orderkey", "orders"),
        edge("lineitem.l_partkey->part", "l_partkey", "lineitem",
          "p_partkey", "part"),
        edge("lineitem.l_suppkey->supplier", "l_suppkey", "lineitem",
          "s_suppkey", "supplier"),
        edge("customer<-orders (childless)", "c_custkey", "customer",
          "o_custkey", "orders"),
        edge("part<-lineitem (never ordered)", "p_partkey", "part",
          "l_partkey", "lineitem"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY fk")
    },

    "dq_profile" -> {
      // same trunc-before-cast double contract as pv_k_anonymity
      def row(name: String, rendered: String) =
        s"""SELECT 'customer' AS tbl, '$name' AS column_name,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(COALESCE(SUM(CASE WHEN $name IS NULL THEN 1 END), 0)
           |    AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $rendered) AS BIGINT) AS n_distinct,
           |  min($rendered) AS min_val, max($rendered) AS max_val,
           |  CAST(sum(length($rendered)) AS BIGINT) AS sum_len
           |FROM customer""".stripMargin
      Seq(
        row("c_custkey", "CAST(c_custkey AS VARCHAR)"),
        row("c_name", "c_name"),
        row("c_nationkey", "CAST(c_nationkey AS VARCHAR)"),
        row("c_acctbal", "CAST(CAST(trunc(c_acctbal) AS BIGINT) AS VARCHAR)"),
        row("c_mktsegment", "c_mktsegment"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },

    "dq_benford" ->
      """WITH expect(digit, expected_pm) AS (VALUES
        |  (1, 301), (2, 176), (3, 125), (4, 97), (5, 79),
        |  (6, 67), (7, 58), (8, 51), (9, 46)),
        |obs AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS INTEGER) AS digit,
        |    count(*) AS n
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM obs)
        |SELECT e.digit, CAST(COALESCE(obs.n, 0) AS BIGINT) AS n, total,
        |  CAST(COALESCE(obs.n, 0) * 1000 // total AS BIGINT)
        |    AS observed_pm,
        |  e.expected_pm
        |FROM expect e LEFT JOIN obs ON obs.digit = e.digit
        |CROSS JOIN tot ORDER BY e.digit""".stripMargin,

    // quantile_cont matches Spark's exact interpolated percentile; the
    // scaled values are integer-valued doubles, so both engines' casts
    // agree, and the outlier gate is pure integer arithmetic
    "dq_mad_outliers" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |med AS (SELECT quantile_cont(x, 0.5) AS med FROM daily),
        |dev AS (
        |  SELECT day, x,
        |    CAST(abs(x - med) * 4 AS BIGINT) AS dev_x4,
        |    CAST(med * 2 AS BIGINT) AS med_x2
        |  FROM daily CROSS JOIN med),
        |mad AS (
        |  SELECT CAST(quantile_cont(dev_x4, 0.5) * 2 AS BIGINT)
        |    AS mad_x8
        |  FROM dev)
        |SELECT CAST(day AS VARCHAR) AS day, x, dev_x4, med_x2, mad_x8,
        |  CAST(CASE WHEN 13490 * dev_x4 > 35000 * mad_x8
        |       THEN 1 ELSE 0 END AS INTEGER) AS is_outlier
        |FROM dev CROSS JOIN mad
        |ORDER BY dev_x4 DESC, day LIMIT 10""".stripMargin
  )
}
