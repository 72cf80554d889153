package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType}
import graft.Tables

/** Surface beyond the reference (SURVEY.md §2.12 "explicitly absent"
  * list): window frame specs, lag/lead/ntile, INTERSECT/EXCEPT,
  * rollup/cube, exact count(distinct), higher-order array functions, and
  * JSON scalar functions. All Spark built-ins — the point of building on
  * Catalyst is that exceeding the reference surface costs nothing.
  *
  * Determinism: subtotal keys are coalesced to 'ALL' (null sort order
  * differs between engines), grouping flags and ntile are cast to int
  * (int32 vs int64), arrays are emitted as joined strings.
  */
object Extensions extends graft.QuerySet {
  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 2))

  val queries: Map[String, Q] = Map(
    // Window frame spec: running per-customer order total.
    "x_running_sum" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "orders")
        .withColumn("running",
          sum(dec(col("o_totalprice"))).over(w).cast("double"))
        .select("o_custkey", "o_orderkey", "running")
        .orderBy("o_custkey", "o_orderkey")
    }),

    // lag/lead/ntile over the same per-customer order timeline.
    "x_lag_lead_ntile" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
      // ntile partitioned by priority — a global ntile would force a
      // single-partition window (the scale anti-pattern)
      val wq = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables(s, dir, "orders")
        .withColumn("prev_price",
          lag(dec(col("o_totalprice")), 1).over(w).cast("double"))
        .withColumn("next_price",
          lead(dec(col("o_totalprice")), 1).over(w).cast("double"))
        .withColumn("quartile", ntile(4).over(wq).cast(IntegerType))
        .select("o_custkey", "o_orderkey", "prev_price", "next_price",
          "quartile")
        .orderBy("o_custkey", "o_orderkey")
    }),

    // INTERSECT / EXCEPT.
    "x_intersect_except" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
      def ck(st: String) = o.filter(col("o_orderstatus") === st)
        .select(col("o_custkey")).distinct()
      val both = ck("O").intersect(ck("F"))
        .select(lit("O_and_F").as("tag"), col("o_custkey"))
      val onlyO = ck("O").except(ck("P"))
        .select(lit("O_not_P").as("tag"), col("o_custkey"))
      both.unionAll(onlyO).orderBy("tag", "o_custkey")
    }),

    // ROLLUP with subtotals and grand total.
    "x_rollup" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
      val n = Tables(s, dir, "nation")
      c.join(n, col("c_nationkey") === col("n_nationkey"))
        .rollup(col("c_mktsegment"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          sum(dec(col("c_acctbal"))).cast("double").as("bal"))
        .select(
          coalesce(col("c_mktsegment"), lit("ALL")).as("seg"),
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          col("n_cust"), col("bal"))
        .orderBy("seg", "nation")
    }),

    // CUBE over two low-cardinality dimensions.
    "x_cube" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("n"))
        .orderBy("status", "prio")),

    // Exact count(distinct) — partial aggregation handles the two-phase
    // distinct at scale; approx_count_distinct is spec-covered (HLL++
    // not SQL-reproducible).
    "x_count_distinct" -> ((s, dir) =>
      Tables(s, dir, "customer")
        .groupBy("c_mktsegment")
        .agg(countDistinct(col("c_nationkey")).as("n_nations"),
          count(lit(1)).as("n_cust"))
        .orderBy("c_mktsegment")),

    // Higher-order array functions: transform / filter / aggregate /
    // exists over deterministically built arrays.
    "x_hof_array" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .withColumn("arr", expr(
          "transform(sequence(1, cast(l_orderkey % 5 + 3 as int)), " +
            "i -> cast(i * l_partkey % 7 as int))"))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          concat_ws(",", expr("filter(arr, x -> x > 2)")).as("filtered"),
          expr("aggregate(arr, 0, (a, x) -> a + x)").as("arr_sum"),
          expr("cast(exists(arr, x -> x = 0) as int)").as("has_zero"))
        .orderBy("l_orderkey", "l_linenumber", "arr_sum")),

    // Correlated scalar subquery — Catalyst's
    // RewriteCorrelatedScalarSubquery path (distinct from the IN/EXISTS
    // semi-join rewrites already covered by j4/j5).
    "x_scalar_subquery" -> ((s, dir) => {
      Tables.register(s, dir, "orders", "lineitem")
      s.sql("""SELECT o_orderkey,
              |  (SELECT max(l_quantity) FROM lineitem
              |   WHERE l_orderkey = o_orderkey) AS max_qty,
              |  (SELECT count(*) FROM lineitem
              |   WHERE l_orderkey = o_orderkey) AS n_items
              |FROM orders ORDER BY o_orderkey""".stripMargin)
    }),

    // RANGE frame over a numeric day offset: rolling 30-day spend per
    // customer — the time-series window the ROWS frame can't express
    // when event spacing is irregular.
    "x_rolling_range" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("day_no")
        .rangeBetween(-29, Window.currentRow)
      Tables(s, dir, "orders")
        .withColumn("day_no",
          expr("datediff(cast(o_orderdate as date), date'1995-01-01')"))
        .withColumn("rolling_30d",
          sum(dec(col("o_totalprice"))).over(w).cast("double"))
        .select("o_custkey", "o_orderkey", "day_no", "rolling_30d")
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Calendar-function surface: truncation, month arithmetic with
    // end-of-month clamping, weekday (Spark weekday == DuckDB isodow-1;
    // plain dayofweek conventions differ), day diffs.
    "f_dates2" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .withColumn("d", col("o_orderdate").cast("date"))
        .select(
          col("o_orderkey"),
          expr("cast(date_trunc('month', d) as date)").cast("string")
            .as("mth"),
          expr("cast(last_day(d) as string)").as("last_d"),
          expr("cast(weekday(d) as int)").as("wd"),
          expr("cast(datediff(d, date'1995-01-01') as int)").as("days_in"),
          expr("cast(add_months(d, 2) as string)").as("plus2m"))
        .orderBy("o_orderkey")),

    // Fuzzy matching: distinct product names within edit distance 3 —
    // the dictionary-level fuzzy-dedup pass. Blocking is SOUND
    // length-bucketing: levenshtein(a,b) ≥ |len(a)-len(b)|, so pairs
    // within distance 3 land in the same or an adjacent width-4 length
    // bucket; one side probes its three neighbor buckets and the join is
    // a hash EQUI-join on the bucket key (shuffle-partitioned — survives
    // an unbounded vocabulary, unlike the all-pairs theta join).
    // First-char blocking would NOT be sound here: 80 of the 96 matching
    // pairs on testdata differ in their first character (substituting
    // the first letter costs only 1 edit). The production upgrade path
    // for long tails is PassJoin-style pigeonhole segment signatures.
    "dd_fuzzy_levenshtein" -> ((s, dir) => {
      val names = Tables(s, dir, "part").select("p_name").distinct()
        .withColumn("len", length(col("p_name")))
        .withColumn("bkt", expr("len div 4"))
      val a = names.select(col("p_name").as("name_a"),
        col("len").as("la"), col("bkt"))
      val b = names.select(col("p_name").as("name_b"),
        col("len").as("lb"),
        explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1))
          .as("bkt"))
      a.join(b, "bkt") // each qualifying pair matches exactly one bucket
        .filter(col("name_a") < col("name_b") &&
          abs(col("la") - col("lb")) <= 3)
        // bounded form: banded O(τ·n) DP with early exit, -1 past the
        // threshold — surviving rows carry the same exact distance the
        // unbounded call returns, so the oracle is unchanged
        .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 3)
          .cast(IntegerType))
        .filter(col("dist").between(0, 3))
        .select("name_a", "name_b", "dist")
        .orderBy("name_a", "name_b")
    }),

    // Array set operations (sorted before emission — element order of
    // union/intersect/except differs between engines).
    "x_array_setops" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .withColumn("a", expr(
          "transform(sequence(1, cast(l_orderkey % 4 + 2 as int)), " +
            "i -> cast(i * l_partkey % 11 as int))"))
        .withColumn("b", expr(
          "transform(sequence(1, cast(l_partkey % 4 + 2 as int)), " +
            "i -> cast(i * l_orderkey % 11 as int))"))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          concat_ws(",", array_sort(array_union(col("a"), col("b"))))
            .as("u"),
          concat_ws(",", array_sort(array_intersect(col("a"), col("b"))))
            .as("i"),
          concat_ws(",", array_sort(array_except(col("a"), col("b"))))
            .as("e"))
        .orderBy("l_orderkey", "l_linenumber", "u", "i", "e")),

    // Exact percentiles (Spark `percentile` sorts; linear interpolation
    // matches DuckDB quantile_cont bit-for-bit on the same doubles).
    // approx variants (percentile_approx GK-sketch) are spec territory.
    // LISTAGG (warehouse staple): ordered, delimited concatenation per
    // group. Engine-deterministic via sort-after-collect — collect_set
    // order is arbitrary, so the sort happens on the materialized set.
    "x_listagg" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          array_join(array_sort(collect_set(col("o_orderpriority"))), ",")
            .as("priorities"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")),

    // Fixed-width histogram in pure integer/double comparisons: bucket
    // by floor division (identical IEEE arithmetic in the oracle), no
    // float SUMS — counts and min/max only, which are order-independent.
    "x_histogram" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .withColumn("bucket", expr(
          "cast(least(greatest(floor(o_totalprice / 50000.0), 0.0), 9.0) as int)"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("o_totalprice").as("lo"),
          max("o_totalprice").as("hi"))
        .orderBy("bucket")),

    "x_percentile" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(expr("percentile(o_totalprice, 0.5)").as("med"),
          expr("percentile(o_totalprice, 0.9)").as("p90"))
        .orderBy("o_orderstatus")),

    // NA handling: synthesized nulls → fill / drop / replace.
    "x_na_funcs" -> ((s, dir) => {
      val withNulls = Tables(s, dir, "customer")
        .withColumn("seg",
          when(col("c_custkey") % 7 === 0, lit(null).cast("string"))
            .otherwise(col("c_mktsegment")))
        .withColumn("bal",
          when(col("c_custkey") % 11 === 0, lit(null).cast("double"))
            .otherwise(col("c_acctbal")))
      withNulls
        .na.fill(Map("seg" -> "UNKNOWN", "bal" -> 0.0))
        .na.replace("seg", Map("MACHINERY" -> "MACH"))
        .select(col("c_custkey"), col("seg"), col("bal"))
        .orderBy("c_custkey")
    }),

    // Explicit GROUPING SETS (beyond rollup/cube's fixed lattices).
    "x_grouping_sets" -> ((s, dir) => {
      Tables.register(s, dir, "orders")
      s.sql("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
              |       coalesce(o_orderpriority, 'ALL') AS prio,
              |       count(*) AS n
              |FROM orders
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
              |ORDER BY status, prio""".stripMargin)
    }),

    // PIVOT with an explicit value list (deterministic columns) and its
    // inverse via unpivot/melt.
    // na.fill(0): Spark pivot yields NULL for absent (row, value) combos
    // where the oracle's count-FILTER yields 0
    "x_pivot" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("F", "O", "P"))
        .orderBy("o_orderpriority")),

    "x_unpivot" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("F", "O", "P"))
        .unpivot(Array(col("o_orderpriority")),
          Array(col("F"), col("O"), col("P")), "status", "n")
        .orderBy("o_orderpriority", "status")),

    // Custom whole-operator plan node: heap-based top-k per group
    // (graft.plans.TopKPerGroup — LogicalPlan + Strategy + ExecNode),
    // replacing the full-sort WindowExec pattern. Same semantics as
    // o4_topk_per_group, different physical plan.
    "xk_topk_custom" -> ((s, dir) =>
      graft.plans.TopK.perGroup(
        Tables(s, dir, "customer"),
        Seq("c_mktsegment"),
        Seq("c_acctbal" -> true, "c_custkey" -> false), 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal")
        .orderBy("c_mktsegment", "c_custkey")),

    // JSON scalar surface: path extraction, typed map parse, re-render.
    "x_json_funcs" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("k_int",
          get_json_object(col("props"), "$.k").cast(IntegerType))
        .withColumn("m", from_json(col("props"), lit("map<string,int>")))
        .select(
          col("event_id"), col("k_int"),
          concat_ws(",", map_keys(col("m"))).as("keys"),
          element_at(col("m"), "k").as("k_from_map"),
          to_json(struct(col("event_id"), col("k_int"))).as("rendered"))
        .orderBy("event_id")),

    // Positional explode (LATERAL VIEW posexplode): tokenize part names
    // keeping each token's position — the flatten-with-ordinality shape
    // every tokenizing pipeline needs (the oracle reproduces it with
    // generate_series subscripts).
    "x_explode_pos" -> ((s, dir) =>
      Tables(s, dir, "part")
        .select(col("p_partkey"),
          posexplode(split(col("p_name"), " ")).as(Seq("pos", "word")))
        .orderBy("p_partkey", "pos")),

    // Conditional aggregation + deterministic argmax: count_if /
    // filtered sums via when(), and max_by keyed on an integral
    // composite (balance-cents ⊕ custkey) so ties cannot exist — the
    // warehouse FILTER-clause idiom without engine-specific tie-breaks.
    // The 2^33 shift keeps the key injective while c_custkey < 2^33
    // (TPC-H SF ~5×10^7) with balance-cents ≤ 10^6 staying clear of
    // BIGINT overflow (≤ 2^53) — a round-5 widening of the 10^7
    // multiplier whose injectivity ran out at SF ~67.
    "x_cond_agg" -> ((s, dir) =>
      Tables(s, dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
          count(when(col("c_acctbal") < 0, 1)).as("n_negative"),
          sum(when(col("c_nationkey") % 2 === 0,
            col("c_custkey")).otherwise(0)).as("sum_even_nation"),
          max_by(col("c_custkey"),
            round(col("c_acctbal") * 100) * 8589934592L + col("c_custkey"))
            .as("richest_cust"),
          min_by(col("c_custkey"),
            round(col("c_acctbal") * 100) * 8589934592L + col("c_custkey"))
            .as("poorest_cust"))
        .orderBy("c_mktsegment")),

    // Date-spine gap fill: generate the complete day range with
    // sequence()+explode and left-join daily order counts, emitting 0
    // for silent days — the time-series densification every dashboard
    // and forecasting feed needs. The spine is built from the data's
    // own min/max (one tiny agg, broadcast back), not a driver loop.
    "x_date_spine" -> ((s, dir) => {
      val daily = Tables(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"))
      val bounds = Tables(s, dir, "orders")
        .agg(to_date(min("o_orderdate")).as("lo"),
          to_date(max("o_orderdate")).as("hi"))
      val spine = bounds
        .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
      spine.join(daily, Seq("day"), "left")
        .select(col("day"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy("day")
    }),

    // Gaps-and-islands: consecutive-order-day streaks per customer via
    // the classic anchor trick — day minus row_number is constant
    // within a run of consecutive days — then per-customer streak
    // stats. One shuffle on the customer key; the anchor grouping rides
    // the same partitioning.
    "x_islands" -> ((s, dir) => {
      val days = Tables(s, dir, "orders")
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("day"))
        .distinct()
      val anchored = days.withColumn("anchor",
        expr("date_sub(day, row_number() OVER " +
          "(PARTITION BY o_custkey ORDER BY day))"))
      anchored.groupBy("o_custkey", "anchor")
        .agg(count(lit(1)).as("len"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_islands"), max(col("len")).as("max_streak"))
        .orderBy("o_custkey")
    }),

    // KEY-GAP AUDIT — the largest missing id ranges in an ingested
    // subset (here: finalized orders), the sequence check a loader
    // runs to spot dropped batches. The classic lead()-over-all-keys
    // needs ONE global sort; this plan keeps the row-scale work
    // bucket-partitioned: within-bucket successors come from a
    // (k div 1024)-partitioned lead window, and cross-bucket gaps
    // from a lead over the BUCKET-grain stats table (n/1024 rows —
    // the same model-scale global window tm_changepoint's month table
    // uses). A bucket max pairs with the NEXT NON-EMPTY bucket's min,
    // so runs of entirely-missing buckets fold into one gap row.
    "x_key_gaps" -> ((s, dir) => {
      val B = 1024
      val keys = Tables(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("k")).distinct()
        .withColumn("b", expr(s"k div $B"))
      val wIn = Window.partitionBy("b").orderBy("k")
      val within = keys.withColumn("nk", lead("k", 1).over(wIn))
        .select("k", "nk")
      val wB = Window.orderBy("b")
      val cross = keys.groupBy("b")
        .agg(min("k").as("mn"), max("k").as("mx"))
        .withColumn("nmn", lead("mn", 1).over(wB))
        .select(col("mx").as("k"), col("nmn").as("nk"))
      within.unionAll(cross)
        .filter(col("nk") > col("k") + 1)
        .select((col("k") + 1).as("gap_start"),
          (col("nk") - 1).as("gap_end"),
          (col("nk") - col("k") - 1).as("gap_len"))
        .orderBy(col("gap_len").desc, col("gap_start"))
        .limit(20)
    }),

    // Per-entity daily spine + LOCF (last observation carried forward)
    // — the gap-fill a time-series store runs before resampling: each
    // user's purchase-value series is densified to one row per day over
    // the GLOBAL observation window, missing days inherit the latest
    // earlier value (ignore-nulls window last), leading gaps stay NULL.
    // Per-day observation = the latest event that day by (ts, event_id)
    // — a deterministic tie-break. Everything is partitioned by user:
    // the spine explode, the fill window, the output — no global
    // window anywhere; the spine is |users| × |days| rows, the
    // densified shape the consumer asked for.
    "x_locf_fill" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("user_id") < 20 && col("event_type") === "purchase")
      val bounds = ev.agg(to_date(min("ts")).as("lo"),
        to_date(max("ts")).as("hi"))
      val daily = ev
        .withColumn("day", to_date(col("ts")))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("user_id", "day")
            .orderBy(col("ts").desc, col("event_id").desc)))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("day"), col("value"))
      val spine = ev.select("user_id").distinct()
        .join(broadcast(bounds))
        .select(col("user_id"),
          explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
      val wFill = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("day")
        .rowsBetween(Long.MinValue, 0)
      spine.join(daily, Seq("user_id", "day"), "left")
        .withColumn("filled_value",
          last(col("value"), ignoreNulls = true).over(wFill))
        .withColumn("is_observed", col("value").isNotNull)
        .select("user_id", "day", "filled_value", "is_observed")
        .orderBy("user_id", "day")
    }),

    // Error-safe SQL surface: try_cast (malformed → NULL, not a crash)
    // and try_divide (÷0 → NULL) — the fault-tolerant expressions an
    // ingest pipeline uses where ANSI mode would abort a 100 TB job on
    // one bad row. Inputs are synthesized so both the success and the
    // failure paths appear at every scale factor.
    "x_try_funcs" -> ((s, dir) =>
      Tables(s, dir, "customer")
        .withColumn("raw",
          when(col("c_custkey") % 5 === 0,
            concat(lit("x"), col("c_custkey")))
            .otherwise(col("c_custkey").cast("string")))
        .select(
          col("c_custkey"),
          expr("try_cast(raw AS bigint)").as("parsed"),
          expr("try_divide(cast(c_acctbal as double), " +
            "cast(c_custkey % 3 as double))").as("per_unit"))
        .orderBy("c_custkey")),

    // Relative-rank window functions: percent_rank ((rank-1)/(n-1)) and
    // cume_dist (cum/n) — both a single double division of exact
    // integers, so the floats compare bit-for-bit across engines. The
    // ORDER BY includes the unique orderkey so ties cannot make rank
    // assignment engine-dependent.
    "x_pct_rank" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice", "o_orderkey")
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("o_orderkey")
    }),

    // Descriptive statistics with ENGINE-EXACT reproducibility: stddev
    // and correlation derived from integer-exact power sums (quantity is
    // integral; discount-cents fit a BIGINT), so the only float ops are
    // the final closed-form expressions — identical IEEE evaluations in
    // Spark and the oracle, no order-dependent float accumulation.
    // The closed-form PRODUCTS (sq², n·sqq, …) run in DECIMAL(38,0):
    // BIGINT products wrap silently past SF ~35 under non-ANSI eval
    // while the oracle's SUM promotes to HUGEINT; decimal keeps them
    // exact to ~10^38 (SF ~10^12), and casting the identical exact
    // integer to DOUBLE rounds identically in both engines.
    "x_stats_agg" -> ((s, dir) => {
      def dec(c: String) = col(c).cast("decimal(38,0)")
      Tables(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_quantity").cast("long").as("q"),
          round(col("l_discount") * 100).cast("long").as("d"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum("q").as("sq"), sum(expr("q*q")).as("sqq"),
          sum("d").as("sd"), sum(expr("d*d")).as("sdd"),
          sum(expr("q*d")).as("sqd"))
        .select(col("l_returnflag"), col("n"),
          (col("sq").cast("double") / col("n")).as("mean_qty"),
          sqrt((col("sqq").cast("double") -
            (dec("sq") * dec("sq")).cast("double") / col("n").cast("double"))
            / (col("n") - 1).cast("double")).as("std_qty"),
          ((dec("n") * dec("sqd") - dec("sq") * dec("sd")).cast("double") /
            (sqrt((dec("n") * dec("sqq") - dec("sq") * dec("sq")).cast("double")) *
              sqrt((dec("n") * dec("sdd") - dec("sd") * dec("sd")).cast("double"))))
            .as("corr_qty_disc"))
        .orderBy("l_returnflag")
    }),

    // BITMAP exact-distinct rollup — the ClickHouse/Doris bitmap-index
    // technique for COUNT(DISTINCT) at scale: keys bucket into 32-bit
    // half-words (word = key div 32, bit = key mod 32 — 32 not 64: a
    // shift into bit 63 overflows a checked signed-BIGINT engine, and
    // staying under the sign bit keeps both engines in plain positive
    // arithmetic), bit_or merges each
    // word WITHIN partitions before the shuffle (the aggregate is
    // commutative — a mergeable exact sketch), and popcount sums per
    // group. The shuffle carries word-grain rows (keyspace/64 per
    // group), never row-grain — unlike count(DISTINCT)'s expand — and
    // the result is exact, unlike HLL (cs_card_sketch). Dense integer
    // keyspaces only by design; sparse domains dict-encode first
    // (tr_dense_ids is that operator).
    "x_bitmap_distinct" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"), col("l_partkey").as("k"))
        .groupBy(col("flag"), expr("k div 32").as("w"))
        .agg(expr("bit_or(shiftleft(1L, cast(k % 32 as int)))")
          .as("bits"))
        .groupBy("flag")
        .agg(sum(expr("bit_count(bits)")).cast("long").as("n_distinct"),
          count(lit(1)).as("n_words"))
        .orderBy("flag")),

    // Per-entity LINEAR INTERPOLATION over the daily spine —
    // x_locf_fill's sibling (LOCF carries the last value forward;
    // interpolation weights both neighbors by time distance): each
    // interior missing day gets num/den = (prev_x·(next−day) +
    // next_x·(day−prev)) / (next−prev), released as the exact integer
    // rational — no float division on either engine. Neighbor lookup
    // is one ignore-nulls window pass in each direction over the
    // user-partitioned spine; same per-user scale contract as LOCF
    // (spine = |users| × |days|, no global window).
    "x_interpolate" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("user_id") < 20 && col("event_type") === "purchase")
      val daily = ev
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val span = daily.groupBy("user_id")
        .agg(min("day").as("lo"), max("day").as("hi"))
      val spine = span.select(col("user_id"),
        explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
      val wPrev = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Long.MinValue, -1)
      val wNext = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(1, Long.MaxValue)
      spine.join(daily, Seq("user_id", "day"), "left")
        .withColumn("prev_day",
          last(when(col("x").isNotNull, col("day")), ignoreNulls = true)
            .over(wPrev))
        .withColumn("prev_x",
          last(col("x"), ignoreNulls = true).over(wPrev))
        .withColumn("next_day",
          first(when(col("x").isNotNull, col("day")), ignoreNulls = true)
            .over(wNext))
        .withColumn("next_x",
          first(col("x"), ignoreNulls = true).over(wNext))
        .filter(col("x").isNull)
        .select(col("user_id"), col("day").cast("string").as("day"),
          datediff(col("next_day"), col("prev_day")).cast("long")
            .as("den"),
          (col("prev_x") * datediff(col("next_day"), col("day")) +
            col("next_x") * datediff(col("day"), col("prev_day")))
            .cast("long").as("num"))
        .orderBy("user_id", "day")
    })
  )

  val oracles: Map[String, String] = Map(
    "x_running_sum" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "x_lag_lead_ntile" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(lag(CAST(o_totalprice AS DECIMAL(38,2)), 1) OVER w
        |       AS DOUBLE) AS prev_price,
        |  CAST(lead(CAST(o_totalprice AS DECIMAL(38,2)), 1) OVER w
        |       AS DOUBLE) AS next_price,
        |  CAST(ntile(4) OVER (PARTITION BY o_orderpriority
        |                      ORDER BY o_totalprice DESC, o_orderkey)
        |       AS INTEGER) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "x_intersect_except" ->
      """SELECT * FROM (
        |  SELECT 'O_and_F' AS tag, o_custkey FROM (
        |    SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |    INTERSECT
        |    SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |  UNION ALL
        |  SELECT 'O_not_P', o_custkey FROM (
        |    SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |    EXCEPT
        |    SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'P'))
        |ORDER BY tag, o_custkey""".stripMargin,

    "x_rollup" ->
      """SELECT coalesce(c_mktsegment, 'ALL') AS seg,
        |       coalesce(n_name, 'ALL') AS nation,
        |       count(*) AS n_cust,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(38,2))) AS DOUBLE) AS bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (c_mktsegment, n_name)
        |ORDER BY seg, nation""".stripMargin,

    "x_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS prio,
        |       count(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, prio""".stripMargin,

    "x_count_distinct" ->
      """SELECT c_mktsegment,
        |  count(DISTINCT c_nationkey) AS n_nations,
        |  count(*) AS n_cust
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "x_hof_array" ->
      """WITH a AS (
        |  SELECT l_orderkey, l_linenumber,
        |    list_transform(range(1, CAST(l_orderkey % 5 + 3 AS INTEGER) + 1),
        |                   i -> CAST(i * l_partkey % 7 AS INTEGER)) AS arr
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  coalesce(array_to_string(list_filter(arr, x -> x > 2), ','), '')
        |    AS filtered,
        |  CAST(list_sum(arr) AS INTEGER) AS arr_sum,
        |  CAST(len(list_filter(arr, x -> x = 0)) > 0 AS INTEGER) AS has_zero
        |FROM a ORDER BY l_orderkey, l_linenumber, arr_sum""".stripMargin,

    "x_scalar_subquery" ->
      """SELECT o_orderkey,
        |  (SELECT max(l_quantity) FROM lineitem
        |   WHERE l_orderkey = o_orderkey) AS max_qty,
        |  (SELECT count(*) FROM lineitem
        |   WHERE l_orderkey = o_orderkey) AS n_items
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "x_rolling_range" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |       AS INTEGER) AS day_no,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY datediff('day', DATE '1995-01-01',
        |                      CAST(o_orderdate AS DATE))
        |    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS rolling_30d
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "f_dates2" ->
      """SELECT o_orderkey,
        |  CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS VARCHAR)
        |    AS mth,
        |  CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS last_d,
        |  CAST(isodow(CAST(o_orderdate AS DATE)) - 1 AS INTEGER) AS wd,
        |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |       AS INTEGER) AS days_in,
        |  CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE)
        |       AS VARCHAR) AS plus2m
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "dd_fuzzy_levenshtein" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM n a JOIN n b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY name_a, name_b""".stripMargin,

    "x_array_setops" ->
      """WITH t AS (
        |  SELECT l_orderkey, l_linenumber,
        |    list_transform(range(1, CAST(l_orderkey % 4 + 2 AS INTEGER) + 1),
        |                   i -> CAST(i * l_partkey % 11 AS INTEGER)) AS a,
        |    list_transform(range(1, CAST(l_partkey % 4 + 2 AS INTEGER) + 1),
        |                   i -> CAST(i * l_orderkey % 11 AS INTEGER)) AS b
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  coalesce(array_to_string(
        |    list_sort(list_distinct(list_concat(a, b))), ','), '') AS u,
        |  coalesce(array_to_string(
        |    list_sort(list_distinct(list_intersect(a, b))), ','), '') AS i,
        |  coalesce(array_to_string(list_sort(list_distinct(
        |    list_filter(a, x -> NOT list_contains(b, x)))), ','), '') AS e
        |FROM t ORDER BY l_orderkey, l_linenumber, u, i, e""".stripMargin,

    "x_listagg" ->
      """SELECT o_orderstatus,
        |  array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',')
        |    AS priorities,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "x_histogram" ->
      """SELECT CAST(least(greatest(floor(o_totalprice / 50000.0), 0.0),
        |            9.0) AS INTEGER) AS bucket,
        |  count(*) AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,

    "x_percentile" ->
      """SELECT o_orderstatus,
        |  quantile_cont(o_totalprice, 0.5) AS med,
        |  quantile_cont(o_totalprice, 0.9) AS p90
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "x_na_funcs" ->
      """SELECT c_custkey,
        |  CASE coalesce(CASE WHEN c_custkey % 7 = 0 THEN NULL
        |                     ELSE c_mktsegment END, 'UNKNOWN')
        |    WHEN 'MACHINERY' THEN 'MACH'
        |    ELSE coalesce(CASE WHEN c_custkey % 7 = 0 THEN NULL
        |                       ELSE c_mktsegment END, 'UNKNOWN') END AS seg,
        |  coalesce(CASE WHEN c_custkey % 11 = 0 THEN NULL
        |                ELSE c_acctbal END, 0.0) AS bal
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "x_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS prio,
        |       count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, prio""".stripMargin,

    "x_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (o_orderstatus = 'F') AS "F",
        |  count(*) FILTER (o_orderstatus = 'O') AS "O",
        |  count(*) FILTER (o_orderstatus = 'P') AS "P"
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "x_unpivot" ->
      """WITH p AS (
        |  SELECT o_orderpriority,
        |    count(*) FILTER (o_orderstatus = 'F') AS f,
        |    count(*) FILTER (o_orderstatus = 'O') AS o,
        |    count(*) FILTER (o_orderstatus = 'P') AS pp
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority, status, n FROM (
        |  SELECT o_orderpriority, 'F' AS status, f AS n FROM p
        |  UNION ALL SELECT o_orderpriority, 'O', o FROM p
        |  UNION ALL SELECT o_orderpriority, 'P', pp FROM p) u
        |ORDER BY o_orderpriority, status""".stripMargin,

    "xk_topk_custom" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal FROM customer
        |QUALIFY row_number() OVER (PARTITION BY c_mktsegment
        |                           ORDER BY c_acctbal DESC, c_custkey) <= 3
        |ORDER BY c_mktsegment, c_custkey""".stripMargin,

    "x_json_funcs" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
        |  'k' AS keys,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_from_map,
        |  '{"event_id":' || event_id || ',"k_int":'
        |      || json_extract_string(props, '$.k') || '}' AS rendered
        |FROM events ORDER BY event_id""".stripMargin,

    "x_explode_pos" ->
      """SELECT p_partkey, CAST(j - 1 AS INTEGER) AS pos, words[j] AS word
        |FROM (SELECT p_partkey, string_split(p_name, ' ') AS words
        |      FROM part),
        |     UNNEST(generate_series(1, len(words))) AS t(j)
        |ORDER BY p_partkey, pos""".stripMargin,

    "x_cond_agg" ->
      """SELECT c_mktsegment,
        |  count(*) FILTER (c_acctbal < 0) AS n_negative,
        |  CAST(SUM(CASE WHEN c_nationkey % 2 = 0 THEN c_custkey
        |                ELSE 0 END) AS BIGINT) AS sum_even_nation,
        |  arg_max(c_custkey,
        |          round(c_acctbal * 100) * 8589934592 + c_custkey)
        |    AS richest_cust,
        |  arg_min(c_custkey,
        |          round(c_acctbal * 100) * 8589934592 + c_custkey)
        |    AS poorest_cust
        |FROM customer GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "x_date_spine" ->
      """WITH b AS (SELECT CAST(min(o_orderdate) AS DATE) AS lo,
        |                  CAST(max(o_orderdate) AS DATE) AS hi
        |           FROM orders),
        |spine AS (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))
        |            AS day FROM b),
        |daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |                 count(*) AS n_orders
        |          FROM orders GROUP BY 1)
        |SELECT CAST(spine.day AS DATE) AS day,
        |  coalesce(daily.n_orders, 0) AS n_orders
        |FROM spine LEFT JOIN daily ON CAST(spine.day AS DATE) = daily.day
        |ORDER BY day""".stripMargin,

    // one global lead at oracle scale — a different plan on purpose
    "x_key_gaps" ->
      """WITH k AS (
        |  SELECT DISTINCT o_orderkey AS k FROM orders
        |  WHERE o_orderstatus = 'F'),
        |g AS (SELECT k, lead(k) OVER (ORDER BY k) AS nk FROM k)
        |SELECT k + 1 AS gap_start, nk - 1 AS gap_end,
        |  nk - k - 1 AS gap_len
        |FROM g WHERE nk > k + 1
        |ORDER BY gap_len DESC, gap_start LIMIT 20""".stripMargin,

    "x_islands" ->
      """WITH days AS (
        |  SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS day
        |  FROM orders),
        |anchored AS (
        |  SELECT o_custkey, day,
        |    day - CAST(row_number() OVER
        |      (PARTITION BY o_custkey ORDER BY day) AS INTEGER) AS anchor
        |  FROM days),
        |islands AS (
        |  SELECT o_custkey, anchor, count(*) AS len
        |  FROM anchored GROUP BY o_custkey, anchor)
        |SELECT o_custkey, count(*) AS n_islands,
        |  CAST(max(len) AS BIGINT) AS max_streak
        |FROM islands GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // Tables.events normalizes both generator timestamp encodings; the
    // oracle reads the raw parquet, whose epoch-micros ts casts to the
    // same instants
    "x_locf_fill" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, ts, value FROM events
        |  WHERE user_id < 20 AND event_type = 'purchase'),
        |b AS (SELECT CAST(min(ts) AS DATE) AS lo,
        |             CAST(max(ts) AS DATE) AS hi FROM ev),
        |daily AS (
        |  SELECT user_id, day, value FROM (
        |    SELECT user_id, CAST(ts AS DATE) AS day, value,
        |      row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |        ORDER BY ts DESC, event_id DESC) AS rk
        |    FROM ev) t
        |  WHERE rk = 1),
        |spine AS (
        |  SELECT u.user_id,
        |    CAST(UNNEST(generate_series(b.lo, b.hi, INTERVAL 1 DAY))
        |      AS DATE) AS day
        |  FROM (SELECT DISTINCT user_id FROM ev) u, b)
        |SELECT s.user_id, s.day,
        |  last_value(d.value IGNORE NULLS) OVER (
        |    PARTITION BY s.user_id ORDER BY s.day
        |    ROWS UNBOUNDED PRECEDING) AS filled_value,
        |  d.value IS NOT NULL AS is_observed
        |FROM spine s LEFT JOIN daily d
        |  ON s.user_id = d.user_id AND s.day = d.day
        |ORDER BY s.user_id, s.day""".stripMargin,

    "x_try_funcs" ->
      """WITH t AS (
        |  SELECT c_custkey, c_acctbal,
        |    CASE WHEN c_custkey % 5 = 0 THEN 'x' || c_custkey
        |         ELSE CAST(c_custkey AS VARCHAR) END AS raw
        |  FROM customer)
        |SELECT c_custkey,
        |  TRY_CAST(raw AS BIGINT) AS parsed,
        |  CAST(c_acctbal AS DOUBLE) / CAST(c_custkey % 3 AS DOUBLE)
        |    AS per_unit
        |FROM t ORDER BY c_custkey""".stripMargin,

    "x_pct_rank" ->
      """SELECT o_orderkey, o_orderpriority,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "x_stats_agg" ->
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    SUM(CAST(l_quantity AS BIGINT)) AS sq,
        |    SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
        |      AS sqq,
        |    SUM(CAST(round(l_discount * 100) AS BIGINT)) AS sd,
        |    SUM(CAST(round(l_discount * 100) AS BIGINT)
        |        * CAST(round(l_discount * 100) AS BIGINT)) AS sdd,
        |    SUM(CAST(l_quantity AS BIGINT)
        |        * CAST(round(l_discount * 100) AS BIGINT)) AS sqd
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  CAST(sq AS DOUBLE) / n AS mean_qty,
        |  sqrt((sqq - sq * sq / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE))
        |    AS std_qty,
        |  CAST(n * sqd - sq * sd AS DOUBLE) /
        |    (sqrt(CAST(n * sqq - sq * sq AS DOUBLE)) *
        |     sqrt(CAST(n * sdd - sd * sd AS DOUBLE))) AS corr_qty_disc
        |FROM s ORDER BY l_returnflag""".stripMargin,

    // same half-word/bit decomposition, all shifts below the sign bit
    "x_bitmap_distinct" ->
      """WITH b AS (
        |  SELECT l_returnflag AS flag, l_partkey // 32 AS w,
        |    bit_or(CAST(1 AS BIGINT) << CAST(l_partkey % 32 AS INTEGER))
        |      AS bits
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT flag, CAST(sum(bit_count(bits)) AS BIGINT) AS n_distinct,
        |  CAST(count(*) AS BIGINT) AS n_words
        |FROM b GROUP BY flag ORDER BY flag""".stripMargin,

    // same spine, the same two ignore-nulls passes, the same exact
    // integer rational release
    "x_interpolate" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day
        |  FROM events WHERE user_id < 20 AND event_type = 'purchase'),
        |daily AS (
        |  SELECT user_id, day, CAST(count(*) AS BIGINT) AS x
        |  FROM ev GROUP BY 1, 2),
        |span AS (
        |  SELECT user_id, min(day) AS lo, max(day) AS hi
        |  FROM daily GROUP BY 1),
        |spine AS (
        |  SELECT user_id,
        |    CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |      CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM span),
        |j AS (
        |  SELECT s.user_id, s.day, d.x
        |  FROM spine s LEFT JOIN daily d
        |    ON d.user_id = s.user_id AND d.day = s.day),
        |w AS (
        |  SELECT *,
        |    last_value(CASE WHEN x IS NOT NULL THEN day END
        |      IGNORE NULLS) OVER wp AS prev_day,
        |    last_value(x IGNORE NULLS) OVER wp AS prev_x,
        |    first_value(CASE WHEN x IS NOT NULL THEN day END
        |      IGNORE NULLS) OVER wn AS next_day,
        |    first_value(x IGNORE NULLS) OVER wn AS next_x
        |  FROM j
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |  wn AS (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, CAST(day AS VARCHAR) AS day,
        |  CAST(date_diff('day', prev_day, next_day) AS BIGINT) AS den,
        |  CAST(prev_x * date_diff('day', day, next_day)
        |     + next_x * date_diff('day', prev_day, day) AS BIGINT)
        |    AS num
        |FROM w WHERE x IS NULL
        |ORDER BY user_id, day""".stripMargin
  )
}
