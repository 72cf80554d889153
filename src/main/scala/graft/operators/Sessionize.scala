package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Gap-based sessionization of the events stream (the stateful
  * event-time operation the reference's append-only pipeline lacks,
  * SURVEY.md §2.9): a new session starts when a user is idle longer
  * than the gap. Batch formulation is a per-user ordered fold
  * (api.Folds — ONE hash shuffle by user + a secondary sort; O(1)
  * per-user state of five words; sessions stream out as gaps close
  * them), replacing the classic lag-flag + running-sum + re-aggregate
  * plan — the fold emits session-grain rows directly, so nothing
  * event-grain survives the pass. The window formulation is kept as
  * [[sessionizeWindowed]] and parity-pinned in EventFoldSpec; the
  * streaming equivalent (`session_window`, checked in SessionizeSpec)
  * shares the same gap rule.
  */
object Sessionize extends graft.QuerySet {
  val GAP = "6 hours"
  private val GAP_US = 6L * 3600 * 1000000

  /** The fold state: one open session per user while scanning its
    * events in (ts, event_id) order — us asc means the previous
    * event's timestamp IS the running max. */
  private final class Sess {
    var open = false
    var sid = 0; var n = 0L; var lo = 0L; var hi = 0L
    def row: Seq[Any] = Seq(Int.box(sid), Long.box(n), Long.box(hi - lo))
  }

  /** Fold-based gap sessionization over any (user_id, us, event_id)
    * frame — micros-grain, strict `>` gap rule (the INTERVAL
    * comparison on TimestampType the windowed form runs). */
  private[graft] def sessionizeFold(ev: DataFrame): DataFrame =
    graft.api.Folds.flatFoldOrdered(
      ev.toDF("user_id", "us", "event_id"),
      keyCols = Seq("user_id"), orderCols = Seq("us", "event_id"),
      out = new org.apache.spark.sql.types.StructType()
        .add("session_id", org.apache.spark.sql.types.IntegerType)
        .add("n_events", org.apache.spark.sql.types.LongType)
        .add("duration_us", org.apache.spark.sql.types.LongType))(
      () => new Sess)(
      (st, r) => {
        val us = r.getLong(1)
        if (!st.open) {
          st.open = true; st.sid = 1; st.n = 1; st.lo = us; st.hi = us
          Nil
        } else if (us > st.hi + GAP_US) {
          val closed = st.row
          st.sid += 1; st.n = 1; st.lo = us; st.hi = us
          closed :: Nil
        } else { st.n += 1; st.hi = us; Nil }
      })(
      st => if (st.open) st.row :: Nil else Nil)

  /** The classic lag-flag + running-sum + re-aggregate formulation —
    * the reference implementation EventFoldSpec pins the fold
    * against. */
  private[graft] def sessionizeWindowed(s: SparkSession,
                                        dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val cum = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr(s"INTERVAL $GAP"), 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_sess")).over(cum).cast("int"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        (expr("unix_micros(max(ts))") - expr("unix_micros(min(ts))"))
          .as("duration_us"))
      .orderBy("user_id", "session_id")
  }

  val queries: Map[String, Q] = Map[String, Q](
    "sz_sessionize" -> ((s, dir) =>
      sessionizeFold(Tables.events(s, dir)
        .select(col("user_id"), expr("unix_micros(ts)").as("us"),
          col("event_id")))
        .orderBy("user_id", "session_id")),

    // The same sessions through Spark's NATIVE session_window operator
    // (the one the streaming path uses — merging windows, not
    // lag-flags): one shuffle on user_id, windows merged per group.
    // Note the tie rule differs from sz_sessionize by construction:
    // session_window treats an event at exactly prev+gap as a NEW
    // session (its window no longer overlaps), so the oracle flags
    // new_sess on >= in MICROSECOND arithmetic — the same truncation
    // Spark applies to the nanos timestamps.
    "sz_session_window" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), GAP).as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          expr("unix_micros(sw.start)").as("start_us"),
          expr("unix_micros(sw.end)").as("end_us"),
          col("n_events"))
        .orderBy("user_id", "start_us"))
  )

  val oracles: Map[String, String] = Map(
    "sz_sessionize" ->
      s"""WITH flagged AS (
         |  SELECT user_id, ts, event_id,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |              OR ts - lag(ts) OVER w > INTERVAL $GAP
         |         THEN 1 ELSE 0 END AS new_sess
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sess AS (
         |  SELECT user_id, ts,
         |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                        ROWS UNBOUNDED PRECEDING) AS session_id
         |  FROM flagged)
         |SELECT user_id, CAST(session_id AS INTEGER) AS session_id,
         |  count(*) AS n_events,
         |  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
         |FROM sess GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin,

    // gap comparison in epoch MICROseconds (>=), mirroring both
    // session_window's non-overlap rule and Spark's nanos->micros
    // truncation; end = last event + gap, as session_window defines it
    "sz_session_window" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
        |                 >= 21600000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM flagged)
        |SELECT user_id, epoch_us(min(ts)) AS start_us,
        |  epoch_us(max(ts)) + 21600000000 AS end_us,
        |  count(*) AS n_events
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, start_us""".stripMargin
  )
}
