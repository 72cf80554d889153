package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus / behavior diagnostics a training-data pipeline runs before
  * committing a crawl or an event export to training (round 8): a
  * conversion-latency census, per-entity inactivity gaps (the third
  * `api.Folds` ordered-fold client — O(1) per-entity state), a
  * bot-rate ranking (the hyperactive-entity detector that motivates
  * the bounded-fold contract elsewhere), a diurnal load profile, a
  * Zipf rank-frequency fit over the token vocabulary, and an exact
  * fan-out census of the order graph. Every released number is
  * integer-exact (per-mille shares, fixed-point ln at 1e6 — the
  * established cross-engine contracts), so each query hash-matches
  * its DuckDB oracle.
  */
object Diagnostics extends graft.QuerySet {
  private val DAY_US = 86400000000L
  private val GAP_US = 7L * DAY_US

  val queries: Map[String, Q] = Map[String, Q](
    // CONVERSION LATENCY CENSUS — days from a user's FIRST view to the
    // first purchase after it, histogrammed. Two user-grain aggregates
    // + one user-keyed join; nothing survives the user grain.
    "ev_time_to_convert" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("us"))
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("us").as("vus"))
      val p = e.filter(col("event_type") === "purchase")
        .join(v, "user_id")
        .filter(col("us") > col("vus"))
        .groupBy("user_id").agg(min("us").as("pus"), min("vus").as("vus"))
      p.select(col("user_id"),
          ((col("pus") - col("vus")) / lit(DAY_US)).cast("long")
            .as("latency_days"))
        .groupBy("latency_days")
        .agg(count(lit(1)).as("n_users"),
          min("user_id").as("min_user"), max("user_id").as("max_user"))
        .orderBy("latency_days")
    }),

    // INACTIVITY GAPS — per user in (us, event_id) order: event count,
    // count of >7-day silences, and the longest silence. The third
    // api.Folds client: one keyed shuffle + secondary sort, O(1) state
    // (prev timestamp + three counters) — a lag-window would carry the
    // same shuffle but an extra projection pass and no reusable state
    // machine. Output is user-grain.
    "ev_inactivity_gaps" -> ((s, dir) => {
      final class St {
        var n = 0L; var gaps = 0L; var maxGap = 0L
        var prev = Long.MinValue
      }
      graft.api.Folds.foldOrdered(
        Tables.events(s, dir).select(col("user_id"),
          expr("unix_micros(ts)").as("us"), col("event_id")),
        keyCols = Seq("user_id"), orderCols = Seq("us", "event_id"),
        out = new org.apache.spark.sql.types.StructType()
          .add("n_events", org.apache.spark.sql.types.LongType)
          .add("n_gaps_7d", org.apache.spark.sql.types.LongType)
          .add("max_gap_us", org.apache.spark.sql.types.LongType))(
        () => new St)(
        (st, r) => {
          val us = r.getLong(1)
          if (st.prev != Long.MinValue) {
            val gap = us - st.prev
            if (gap > GAP_US) st.gaps += 1
            if (gap > st.maxGap) st.maxGap = gap
          }
          st.n += 1; st.prev = us
          st
        })(
        st => Seq(Long.box(st.n), Long.box(st.gaps), Long.box(st.maxGap)))
        .orderBy("user_id")
    }),

    // BOT-RATE RANKING — the hyperactive-entity detector: each user's
    // busiest UTC day vs 5× the population median of busiest days,
    // ranked top-20 with the flag (rank, don't just gate — the
    // dq_mad_outliers lesson). The median is ONE broadcast scalar,
    // doubled-and-rounded to an exact integer so the 5× comparison is
    // integer arithmetic on both engines (Spark percentile == DuckDB
    // quantile_cont; 2·median is always integral for integer inputs).
    "ev_bot_rank" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .select(col("user_id"),
          expr(s"unix_micros(ts) div $DAY_US").as("day"))
        .groupBy("user_id", "day").agg(count(lit(1)).as("n"))
      val perUser = daily.groupBy("user_id")
        .agg(max("n").as("max_daily"), count(lit(1)).as("days_active"))
      val med2 = perUser.agg(
        expr("cast(round(2 * percentile(max_daily, 0.5)) as bigint)")
          .as("med2"))
      perUser.crossJoin(broadcast(med2))
        .select(col("user_id"), col("days_active"), col("max_daily"),
          col("med2"),
          (col("max_daily") * 2 >= col("med2") * 5).cast("int")
            .as("bot_flag"))
        .orderBy(col("max_daily").desc, col("user_id"))
        .limit(20)
    }),

    // DIURNAL PROFILE — events and purchase share per epoch-hour-of-day
    // (timezone-free: hour = (us div 3600e6) mod 24); per-mille share
    // in exact integers. One hour-grain aggregate.
    "ev_hourly_profile" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(expr("(unix_micros(ts) div 3600000000) % 24").as("hour"),
          (col("event_type") === "purchase").cast("long").as("p"))
        .groupBy("hour")
        .agg(count(lit(1)).as("n_events"), sum("p").as("n_purchases"))
        .select(col("hour"), col("n_events"), col("n_purchases"),
          expr("n_purchases * 1000 div n_events").as("purchase_pm"))
        .orderBy("hour")),

    // ZIPF FIT — least-squares slope of ln(freq) on ln(rank) over the
    // top-1000 vocabulary, in fixed-point (ln·1e6, the established
    // cross-engine contract) with DECIMAL(38,0) product headroom; the
    // released slope is exact integer micro-units. The rank window
    // runs over the 1000-row top slice ONLY (model-parameter scale,
    // never the corpus).
    "ta_zipf_fit" -> ((s, dir) => {
      val freq = Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("term").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("term")).limit(1000)
      val ranked = freq.withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("term")))
          .cast("long"))
        .select(expr("cast(round(ln(rank) * 1e6) as bigint)").as("x"),
          expr("cast(round(ln(freq) * 1e6) as bigint)").as("y"))
      ranked.agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum("y").as("sy"),
          sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"),
          sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"))
        .select(col("n"),
          expr("""CAST((n * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000
                 | div (n * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
                 | AS BIGINT)""".stripMargin).as("slope_micro"))
    }),

    // ORDER FAN-OUT CENSUS — exact histogram of orders-per-customer
    // (0 included via the left join; degrees ≥ 31 pool in one bucket).
    // Customer-grain aggregate + one broadcast-able dimension join.
    "gr_degree_census" -> ((s, dir) => {
      val deg = Tables(s, dir, "orders")
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(count(lit(1)).as("d"))
      Tables(s, dir, "customer").select("c_custkey")
        .join(deg, Seq("c_custkey"), "left")
        .select(least(coalesce(col("d"), lit(0L)), lit(31L)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_customers"))
        .orderBy("degree")
    })
  )

  val oracles: Map[String, String] = Map(
    "ev_time_to_convert" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (
        |  SELECT user_id, min(us) AS vus FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |p AS (
        |  SELECT e.user_id, min(e.us) AS pus, min(v.vus) AS vus
        |  FROM e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase' AND e.us > v.vus
        |  GROUP BY e.user_id)
        |SELECT CAST((pus - vus) // 86400000000 AS BIGINT) AS latency_days,
        |  count(*) AS n_users, min(user_id) AS min_user,
        |  max(user_id) AS max_user
        |FROM p GROUP BY 1 ORDER BY latency_days""".stripMargin,

    "ev_inactivity_gaps" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
        |g AS (
        |  SELECT user_id,
        |    us - lag(us) OVER (PARTITION BY user_id
        |                       ORDER BY us, event_id) AS gap
        |  FROM e)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(count(CASE WHEN gap > 604800000000 THEN 1 END) AS BIGINT)
        |    AS n_gaps_7d,
        |  CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap_us
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    // 2·median is integral for integer inputs, so the 5× comparison is
    // integer-exact on both engines (quantile_cont == percentile)
    "ev_bot_rank" ->
      """WITH daily AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |pu AS (
        |  SELECT user_id, CAST(max(n) AS BIGINT) AS max_daily,
        |    count(*) AS days_active
        |  FROM daily GROUP BY user_id),
        |m AS (
        |  SELECT CAST(round(2 * quantile_cont(max_daily, 0.5)) AS BIGINT)
        |    AS med2 FROM pu)
        |SELECT user_id, days_active, max_daily, m.med2,
        |  CAST(CASE WHEN max_daily * 2 >= m.med2 * 5 THEN 1 ELSE 0 END
        |       AS INTEGER) AS bot_flag
        |FROM pu, m
        |ORDER BY max_daily DESC, user_id LIMIT 20""".stripMargin,

    "ev_hourly_profile" ->
      """SELECT (epoch_us(ts) // 3600000000) % 24 AS hour,
        |  count(*) AS n_events,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_purchases,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |       * 1000 // count(*) AS BIGINT) AS purchase_pm
        |FROM events GROUP BY 1 ORDER BY hour""".stripMargin,

    // same fixed-point ln grid and decimal-headroom products; DuckDB
    // sums widen to HUGEINT, so only the released slope needs the cast
    "ta_zipf_fit" ->
      """WITH f AS (
        |  SELECT t.term, count(*) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS term
        |        FROM documents) t
        |  WHERE len(t.term) > 0
        |  GROUP BY t.term
        |  ORDER BY freq DESC, t.term LIMIT 1000),
        |r AS (
        |  SELECT CAST(round(ln(row_number() OVER (ORDER BY freq DESC, term))
        |                    * 1e6) AS BIGINT) AS x,
        |    CAST(round(ln(freq) * 1e6) AS BIGINT) AS y
        |  FROM f),
        |s AS (
        |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM r)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST((n * sxy - sx * sy) * 1000000
        |       // (n * sxx - sx * sx) AS BIGINT) AS slope_micro
        |FROM s""".stripMargin,

    "gr_degree_census" ->
      """WITH deg AS (
        |  SELECT o_custkey AS c_custkey, count(*) AS d
        |  FROM orders GROUP BY 1)
        |SELECT CAST(least(coalesce(d, 0), 31) AS BIGINT) AS degree,
        |  count(*) AS n_customers
        |FROM customer LEFT JOIN deg USING (c_custkey)
        |GROUP BY 1 ORDER BY degree""".stripMargin
  )
}
