package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Temporal joins Spark lacks as built-ins (SURVEY.md §2.12 notes the
  * reference has none either): as-of join and bounded range join over
  * the events stream.
  *
  * The as-of join uses the union + ordered-window formulation: tag both
  * sides, union, sort each key partition by (ts, side), and carry the
  * last right-side id forward with `last(ignoreNulls)` over an
  * unbounded-preceding frame. ONE shuffle (hash by key) + ONE
  * sort-within-partition — the same cost profile as a sort-merge join,
  * with no range explosion; this is the plan you want at 100 TB, versus
  * a naive `t_right <= t_left` theta-join that Spark would execute as a
  * broadcast-nested-loop.
  */
object AsOf extends graft.QuerySet {
  /** Generic as-of: for each left row, the right row with the greatest
    * `ts <= left.ts` per key. If the right side has several rows at the
    * winning ts, the greatest rightId wins (total-order tiebreak — the
    * result is deterministic without a uniqueness precondition).
    * Returns (key, ts, leftId, asof_<rightId>) — asof id null when no
    * prior right row exists. */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
               leftId: String, rightId: String): DataFrame = {
    // null placeholders typed from the actual id columns, so the union
    // coerces correctly for any id type (not just long)
    val lType = left.schema(leftId).dataType
    val rType = right.schema(rightId).dataType
    val l = left.select(col(key), col(ts),
      col(leftId).as("_lid"), lit(null).cast(rType).as("_rid"),
      lit(0).as("_side"))
    val r = right.select(col(key), col(ts),
      lit(null).cast(lType).as("_lid"), col(rightId).as("_rid"),
      lit(1).as("_side"))
    // right rows sort BEFORE left rows at equal ts (side desc) so the
    // inclusive `right.ts <= left.ts` bound holds; _rid asc makes the
    // greatest right id the last-seen (winning) one at equal (ts, side)
    val w = Window.partitionBy(key)
      .orderBy(col(ts).asc, col("_side").desc, col("_rid").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionAll(r)
      .withColumn("_asof", last(col("_rid"), ignoreNulls = true).over(w))
      .filter(col("_side") === 0)
      .select(col(key), col(ts), col("_lid").as(leftId),
        col("_asof").as(s"asof_$rightId"))
  }

  val queries: Map[String, Q] = Map(
    // As-of: each purchase matched to the user's latest preceding click.
    "az_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      asOfJoin(purch, clicks, "user_id", "ts", "event_id", "event_id")
        .select(col("event_id").as("purchase_id"),
          col("asof_event_id").as("click_id"))
        .orderBy("purchase_id")
    }),

    // NEAREST-in-time join — the bidirectional as-of (sensor fusion /
    // log alignment semantics): each purchase matches the click
    // minimizing |Δt|, ties to the backward side, then greatest id —
    // the same total-order rule as az_asof_join. Composed from TWO
    // ordered-window as-of passes (backward as-is, forward by negating
    // the epoch — last(−t_r ≤ −t_l) IS first(t_r ≥ t_l)), so the plan
    // stays two shuffle+sort passes and never a |Δt| theta-join: the
    // naive formulation is a per-key cross product, this one is the
    // 100 TB shape. The two candidate ids then resolve with integer Δt
    // arithmetic via two id-keyed joins against the (small) click side.
    "az_asof_nearest" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), expr("unix_micros(ts)").as("us"),
          col("event_id"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("unix_micros(ts)").as("us"),
          col("event_id"))
      val back = asOfJoin(purch, clicks, "user_id", "us",
          "event_id", "event_id")
        .select(col("event_id").as("purchase_id"), col("us").as("pus"),
          col("asof_event_id").as("back_id"))
      val fwd = asOfJoin(
          purch.withColumn("nus", -col("us")),
          clicks.withColumn("nus", -col("us")),
          "user_id", "nus", "event_id", "event_id")
        .select(col("event_id").as("purchase_id"),
          col("asof_event_id").as("fwd_id"))
      val cus = clicks.select(col("event_id").as("cid"),
        col("us").as("cus"))
      back.join(fwd, "purchase_id")
        .join(cus.select(col("cid").as("back_id"),
          col("cus").as("back_us")), Seq("back_id"), "left")
        .join(cus.select(col("cid").as("fwd_id"),
          col("cus").as("fwd_us")), Seq("fwd_id"), "left")
        .withColumn("nearest_id",
          when(col("back_id").isNull, col("fwd_id"))
            .when(col("fwd_id").isNull, col("back_id"))
            .when(col("pus") - col("back_us") <= col("fwd_us") - col("pus"),
              col("back_id"))
            .otherwise(col("fwd_id")))
        .withColumn("dt_us",
          when(col("nearest_id") === col("back_id"),
            col("pus") - col("back_us"))
            .otherwise(col("fwd_us") - col("pus")))
        .select("purchase_id", "nearest_id", "dt_us")
        .orderBy("purchase_id")
    }),

    // Bounded range join: events within 60s AFTER each purchase, per
    // user — equi on user (shuffle key) + range residual, never a
    // cartesian.
    "az_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("pts"),
          col("event_id").as("purchase_id"))
      val all = ev.select(col("user_id").as("eu"), col("ts").as("ets"))
      purch.join(all,
          col("pu") === col("eu") &&
            col("ets") > col("pts") &&
            col("ets") <= col("pts") + expr("INTERVAL 60 seconds"),
          "left")
        .groupBy("purchase_id")
        .agg(count(col("ets")).as("n_following"))
        .orderBy("purchase_id")
    }),

    // INTERVAL-OVERLAP self-join — the temporal join neither Spark nor
    // the reference has as a built-in: per supplier, how many pairs of
    // shipments were in flight simultaneously (interval [ship, ship +
    // (1 + qty % 14) days]). A naive theta-join on the overlap
    // predicate is a per-key cross product; the scalable plan is the
    // TEMPORAL BUCKETING one (the interval-join analogue of the LSH
    // band join): intervals span ≤ 15 days, the bucket width is 16
    // days, so every interval covers ≤ 2 buckets — each side explodes
    // ≤ 2×, the join is equi on (supplier, bucket), the exact overlap
    // predicate filters candidates, and a pair is COUNTED only in the
    // bucket holding the later start (it lies in both intervals'
    // bucket ranges whenever they overlap — pigeonhole dedup, no
    // distinct over the pair set). At 100 TB: shuffle keyed by
    // (supplier, 16-day epoch) — time-sliced parallelism within a hot
    // supplier comes free from the bucket component of the key.
    "iv_interval_join" -> ((s, dir) => {
      val DAY = 86400000000L // µs
      val W = 16 * DAY
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic
      // lineitem, so the pair id is a per-supplier row_number — unique
      // within the join key (all the dedup rule needs), shuffled on the
      // same supplier key the join uses, never a global window. Ties in
      // the sort land on rows with identical intervals, so id order
      // among them cannot change the count.
      val idw = Window.partitionBy("l_suppkey").orderBy("l_shipdate",
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      val iv = Tables(s, dir, "lineitem").select(
        col("l_suppkey").as("s"),
        row_number().over(idw).cast("long").as("id"),
        // l_shipdate is TIMESTAMP_NTZ; the session is pinned UTC, so the
        // cast reinterprets the same wall clock DuckDB's epoch_us reads
        expr("unix_micros(cast(l_shipdate as timestamp))").as("a"),
        (expr("unix_micros(cast(l_shipdate as timestamp))") +
          expr(s"(1 + CAST(l_quantity AS BIGINT) % 14) * $DAY")).as("b"))
      val x = iv.withColumn("g",
        explode(expr(s"sequence(a div $W, b div $W)")))
      val y = x.select(col("s"), col("g"), col("id").as("id2"),
        col("a").as("a2"), col("b").as("b2"))
      x.join(y, Seq("s", "g"))
        .filter(col("id") < col("id2") &&
          col("a") <= col("b2") && col("a2") <= col("b") &&
          col("g") === expr(s"greatest(a, a2) div $W"))
        .groupBy(col("s").as("l_suppkey"))
        .agg(count(lit(1)).as("n_overlaps"))
        .orderBy("l_suppkey")
    })
  )

  val oracles: Map[String, String] = Map(
    // clicks deduped to max(event_id) per (user_id, ts): DuckDB's ASOF
    // picks an arbitrary peer among equal-ts rows, so the oracle pins the
    // same greatest-id tie rule the Spark window uses.
    "az_asof_join" ->
      """WITH clicks AS (SELECT user_id, ts, max(event_id) AS event_id
        |               FROM events
        |               WHERE event_type = 'click' GROUP BY user_id, ts),
        |purch AS (SELECT user_id, ts, event_id FROM events
        |          WHERE event_type = 'purchase')
        |SELECT p.event_id AS purchase_id, c.event_id AS click_id
        |FROM purch p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY purchase_id""".stripMargin,

    // the oracle may score ALL (purchase, click) pairs — the global
    // argmin under (|Δt|, side, id desc) is exactly min(back, fwd)
    "az_asof_nearest" ->
      """WITH clicks AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id FROM events
        |  WHERE event_type = 'click'),
        |purch AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id FROM events
        |  WHERE event_type = 'purchase'),
        |scored AS (
        |  SELECT p.event_id AS purchase_id, c.event_id AS cid,
        |    abs(c.us - p.us) AS adt,
        |    CASE WHEN c.us <= p.us THEN 0 ELSE 1 END AS side
        |  FROM purch p JOIN clicks c ON p.user_id = c.user_id),
        |best AS (
        |  SELECT purchase_id, cid, adt FROM (
        |    SELECT *, row_number() OVER (PARTITION BY purchase_id
        |      ORDER BY adt, side, cid DESC) AS rn
        |    FROM scored) x WHERE rn = 1)
        |SELECT p.event_id AS purchase_id, b.cid AS nearest_id,
        |  CAST(b.adt AS BIGINT) AS dt_us
        |FROM purch p LEFT JOIN best b ON p.event_id = b.purchase_id
        |ORDER BY purchase_id""".stripMargin,

    "az_range_join" ->
      """WITH purch AS (SELECT user_id, ts, event_id FROM events
        |               WHERE event_type = 'purchase')
        |SELECT p.event_id AS purchase_id, count(e.ts) AS n_following
        |FROM purch p LEFT JOIN events e
        |  ON e.user_id = p.user_id
        |  AND e.ts > p.ts AND e.ts <= p.ts + INTERVAL 60 SECOND
        |GROUP BY p.event_id ORDER BY purchase_id""".stripMargin,

    // brute-force quadratic within supplier — feasible at oracle scale,
    // a different algorithm from the engine's bucketed join. trunc on
    // l_quantity: the established toward-zero cast contract (integral
    // doubles here, but the pattern is uniform)
    "iv_interval_join" ->
      """WITH iv AS (
        |  SELECT l_suppkey AS s,
        |    row_number() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber,
        |               l_partkey, l_quantity) AS id,
        |    epoch_us(l_shipdate) AS a,
        |    epoch_us(l_shipdate)
        |      + (1 + CAST(trunc(l_quantity) AS BIGINT) % 14)
        |        * 86400000000 AS b
        |  FROM lineitem)
        |SELECT x.s AS l_suppkey, count(*) AS n_overlaps
        |FROM iv x JOIN iv y
        |  ON x.s = y.s AND x.id < y.id AND x.a <= y.b AND y.a <= x.b
        |GROUP BY x.s ORDER BY l_suppkey""".stripMargin
  )
}
