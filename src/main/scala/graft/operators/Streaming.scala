package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.StreamingIngest

/** Oracle-checked batch twins of the streaming pipeline (SURVEY.md §2.9):
  * the exact `from_json` parse path of the stream, and the
  * watermark-windowed aggregation in batch mode (identical plan minus
  * the watermark operator). The stateful/streaming execution itself is
  * exercised in StreamingSpec (checkpoint restart, exactly-once,
  * AvailableNow drain).
  */
object Streaming extends graft.QuerySet {
  private def scratch(dir: String): String =
    s"/tmp/graft_scratch/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/stream_json"

  /** Export events as the JSON-lines feed the producer would emit. */
  def exportJson(s: SparkSession, dir: String): String = {
    val path = scratch(dir)
    Tables.events(s, dir)
      .select(to_json(struct(
        col("event_id"), col("user_id"), col("event_type"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"),
        col("props"))).as("value"))
      .write.mode("overwrite").text(path)
    path
  }

  val queries: Map[String, Q] = Map(
    // T1/T3 batch twin: raw JSON strings → from_json(schema) → typed
    // rows, the same `parse` the stream runs.
    "t1_stream_parse_twin" -> ((s, dir) => {
      val path = exportJson(s, dir)
      StreamingIngest.parse(s.read.text(path))
        .select(col("event_id"), col("event_type"), col("value"),
          expr("unix_micros(ts)").as("epoch_us"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id")
    }),

    // Watermark-windowed aggregation, batch mode: 5-minute tumbling
    // windows per event_type (epoch-aligned, matching DuckDB
    // time_bucket).
    "t5_window_agg" -> ((s, dir) =>
      StreamingIngest.windowedCounts(Tables.events(s, dir))
        // decimal internally; DOUBLE at the output boundary (driver hash)
        .withColumn("sum_value", col("sum_value").cast("double"))
        .orderBy("wstart", "event_type")),

    // Hopping (sliding) event-time windows — the other streaming window
    // shape next to t5's tumbling buckets: 6-hour windows every 3 hours,
    // so every event lands in exactly two windows. Counts only (no float
    // sums); window bounds exported as epoch micros so the oracle is
    // integer arithmetic end-to-end.
    "t7_hopping_twin" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "6 hours", "3 hours").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(expr("unix_micros(w.start)").as("wstart_us"),
          expr("unix_micros(w.end)").as("wend_us"),
          col("event_type"), col("n"))
        .orderBy("wstart_us", "event_type")),

    // Batch twin of the streaming replay-dedup
    // (dropDuplicatesWithinWatermark, exercised live in StreamingSpec):
    // the feed is replayed twice, dedup by event_id restores exactly
    // the original records (replays are bit-identical, so the arbitrary
    // pick is deterministic).
    "t6_stream_dedup_twin" -> ((s, dir) => {
      val path = exportJson(s, dir)
      val raw = s.read.text(path)
      StreamingIngest.parse(raw.unionAll(raw))
        .dropDuplicates("event_id")
        .select(col("event_id"), col("event_type"), col("value"),
          expr("unix_micros(ts)").as("epoch_us"))
        .orderBy("event_id")
    }),

    // Batch twin of the stream-stream interval join (click→purchase
    // attribution; the live two-stream execution with join-state
    // reclamation is exercised in StreamingSpec). Same-user purchases
    // within 30 minutes after a click; equi on user_id so the batch
    // plan is a hash/merge join with a range residual — never a
    // cartesian.
    "t8_stream_join_twin" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      StreamingIngest.attribution(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"))
        .orderBy("click_id", "purchase_id")
    }),

    // Batch twin of the stream-static enrichment join: each micro-batch
    // joins against a slowly-changing dimension read as a plain batch
    // table (the live readStream execution is exercised in
    // StreamingSpec). The dim side broadcasts — at scale the stream
    // never shuffles, each task probes the broadcast hash map.
    "t9_stream_static_twin" -> ((s, dir) => {
      val path = exportJson(s, dir)
      val dim = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      StreamingIngest.parse(s.read.text(path))
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(38,2)")).cast("double")
            .as("sum_value"))
        .orderBy("c_mktsegment")
    }),

    // Batch twin of StatefulTracker (flatMapGroupsWithState): the state
    // a per-user tracker holds after draining the whole feed —
    // cumulative count, cumulative value, high-water timestamp. The
    // aggregate formulation is what the state fold computes
    // (StatefulTrackerSpec asserts the two agree row-for-row); decimal
    // internally so the sum is order-independent, DOUBLE at the output
    // boundary.
    "st_state_twin" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(38,2)")).cast("double")
            .as("total_value"),
          max(expr("unix_micros(ts)")).as("max_ts_us"))
        .orderBy("user_id")),

    // Batch twin of the streaming CEP matcher (streaming/CepPattern
    // .matches over `view (click|other)* purchase`, the same count
    // matcher run as flatMapGroupsWithState state): the per-user match
    // counts after draining the whole feed, computed here with the
    // batch fold (the ev_match_recognize machinery before its
    // histogram — same ordered per-user fold, O(|pattern|) state).
    // CepPatternSpec asserts the stream, the batch fold, and this twin
    // agree user-for-user, including across a checkpoint restart. One
    // user-keyed shuffle; per-user state O(1)-bounded in BOTH paths
    // because the funnel pattern is terminator-disjoint
    // (RowPattern.terminatorDisjoint — by construction, not by test).
    "t10_cep_twin" -> ((s, dir) =>
      EventAnalytics.matchCountsOf(EventAnalytics.funnelCoded(s, dir),
        "v[co]*p").orderBy("user_id")),

    // S10: the custom DataSourceV2 transaction feed (graft.sources
    // .TxnFeed — the engine surface a Kafka connector would plug into),
    // read in batch mode over the full offset range and parsed with the
    // same from_json path the stream runs. Every field is an integer
    // function of the offset, so the oracle reproduces the ENTIRE feed
    // — keys, partition assignment, all payload fields — from range(n)
    // with the same arithmetic: a hash-matched gate on the source
    // itself, not just on a downstream parse.
    "tf_txnfeed_parse" -> ((s, dir) => {
      val txnSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("txn_id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("txn_date",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("txn_quantity",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("customer_id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("product_id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("product_unit_price",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("payment_method",
          org.apache.spark.sql.types.StringType)))
      s.read.format("txnfeed").option("total", "2000").load()
        .select(col("offset"), col("key").as("msg_key"),
          col("partition").as("part"),
          from_json(col("value"), txnSchema).as("r"))
        .select(col("offset"), col("msg_key"), col("part"),
          col("r.txn_id"), col("r.txn_quantity"), col("r.customer_id"),
          col("r.product_id"),
          round(col("r.product_unit_price") * 100).cast("long")
            .as("price_cents"),
          col("r.payment_method"),
          expr("unix_millis(to_timestamp(r.txn_date, " +
            "'MM/dd/yyyy HH:mm:ss.SSS'))").as("txn_ms"))
        .orderBy("offset")
    }),

    // CHAINED-DAG batch twin (reference code/curate/05_task_DAG
    // .sql:3-19 — a dependency chain downstream of the streaming
    // append: feed → curation → enriched fact): stage-1 curation +
    // stage-2 watermarked windowed totals, the EXACT plan definition
    // the two chained StreamingQueries run (streaming/ChainedDag;
    // ChainedDagSpec pins chain==twin equality including one restart
    // replayed across BOTH checkpoints). The oracle reconstructs the
    // whole feed from range(n) with the generator arithmetic, so the
    // hash gate covers source, curation and window math end-to-end.
    "t11_chained_dag_twin" -> ((s, dir) =>
      graft.streaming.ChainedDag.windowedTotals(
        graft.streaming.ChainedDag.curate(
          s.read.format("txnfeed").option("total", "20000").load()))
        .orderBy("ws_us", "payment_method"))
  )

  val oracles: Map[String, String] = Map(
    "t1_stream_parse_twin" ->
      """SELECT event_id, event_type, value, epoch_us(ts) AS epoch_us,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "t5_window_agg" ->
      """SELECT strftime(time_bucket(INTERVAL '5 minutes', ts),
        |                '%Y-%m-%d %H:%M:%S') AS wstart,
        |  event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin,

    // both candidate starts always qualify for slide = duration/2; the
    // WHERE keeps the form general if the ratio changes
    "t7_hopping_twin" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS t FROM events),
        |x AS (
        |  SELECT event_type, t, unnest([
        |      (t // 10800000000) * 10800000000,
        |      (t // 10800000000) * 10800000000 - 10800000000]) AS wstart_us
        |  FROM e)
        |SELECT wstart_us, wstart_us + 21600000000 AS wend_us,
        |  event_type, count(*) AS n
        |FROM x
        |WHERE t >= wstart_us AND t < wstart_us + 21600000000
        |GROUP BY 1, 2, 3 ORDER BY wstart_us, event_type""".stripMargin,

    "t6_stream_dedup_twin" ->
      """SELECT event_id, event_type, value, epoch_us(ts) AS epoch_us
        |FROM events ORDER BY event_id""".stripMargin,

    "t8_stream_join_twin" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY click_id, purchase_id""".stripMargin,

    "t9_stream_static_twin" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "st_state_twin" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS total_value,
        |  max(epoch_us(ts)) AS max_ts_us
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // same (ts, event_id) total order and the same leftmost /
    // non-overlapping / greedy scan as the matcher it twins
    "t10_cep_twin" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
        |         WHEN 'purchase' THEN 'p' ELSE 'o' END AS code
        |  FROM events),
        |tr AS (
        |  SELECT user_id,
        |    string_agg(code, '' ORDER BY us, event_id) AS trace
        |  FROM e GROUP BY user_id)
        |SELECT user_id,
        |  CAST(len(regexp_extract_all(trace, 'v[co]*p')) AS BIGINT)
        |    AS n_matches
        |FROM tr ORDER BY user_id""".stripMargin,

    // independent reconstruction of the txnfeed generator's integer
    // arithmetic (TxnFeed.valueJson — keep in lockstep); partition =
    // round-robin key assignment over the default 4
    "tf_txnfeed_parse" ->
      """SELECT i AS "offset", CAST(i AS VARCHAR) AS msg_key,
        |  CAST(i % 4 AS INTEGER) AS part,
        |  chr(65 + CAST(i % 26 AS INTEGER)) ||
        |    lpad(CAST((i*2654435761) % 99999999999 + 1 AS VARCHAR), 11, '0')
        |    AS txn_id,
        |  CAST((i*7919) % 30 + 1 AS INTEGER) AS txn_quantity,
        |  'C' || lpad(CAST((i*48271) % 5000000 + 1 AS VARCHAR), 7, '0')
        |    AS customer_id,
        |  chr(65 + CAST((i*3) % 26 AS INTEGER)) ||
        |    CAST((i*7) % 9 + 1 AS VARCHAR) || '-' ||
        |    lpad(CAST((i*2246822519) % 9999999 + 1 AS VARCHAR), 7, '0') ||
        |    chr(65 + CAST((i*5) % 26 AS INTEGER)) AS product_id,
        |  100 + (i*104729) % 89901 AS price_cents,
        |  CASE (i*31) % 5 WHEN 0 THEN 'VISA' WHEN 1 THEN 'MASTERCARD'
        |    WHEN 2 THEN 'AMEX' WHEN 3 THEN 'DISCOVER' ELSE 'GIFT_CARD'
        |    END AS payment_method,
        |  1685577600000 + 10*i AS txn_ms
        |FROM range(0, 2000) t(i) ORDER BY "offset"""".stripMargin,

    // same generator arithmetic, then the stage-2 window math in
    // integer milliseconds (BASE_MS is 10 s-aligned, so the 10-second
    // tumbling window floor is ts_ms - ts_ms % 10000); money stays in
    // exact integer cents end-to-end
    "t11_chained_dag_twin" ->
      """WITH t AS (
        |  SELECT (i*7919) % 30 + 1 AS qty,
        |    100 + (i*104729) % 89901 AS price_cents,
        |    CASE (i*31) % 5 WHEN 0 THEN 'VISA' WHEN 1 THEN 'MASTERCARD'
        |      WHEN 2 THEN 'AMEX' WHEN 3 THEN 'DISCOVER' ELSE 'GIFT_CARD'
        |      END AS payment_method,
        |    1685577600000 + 10*i AS ts_ms
        |  FROM range(0, 20000) r(i))
        |SELECT (ts_ms - ts_ms % 10000) * 1000 AS ws_us, payment_method,
        |  count(*) AS n_txns, CAST(sum(qty) AS BIGINT) AS sum_qty,
        |  CAST(sum(price_cents * qty) AS BIGINT) AS sum_amount_cents
        |FROM t GROUP BY 1, 2
        |ORDER BY ws_us, payment_method""".stripMargin
  )
}
