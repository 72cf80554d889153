package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Time-series downsampling and smoothing over the lineitem event
  * stream — the feature-engineering shapes a demand-forecast or
  * monitoring pipeline derives from a transaction fact table
  * (generalizes the reference's enriched sales fact,
  * `code/curate/04_sales_enrich_sp.sql`, toward its time axis).
  *
  * Both operators are single-pass window/group pipelines: one shuffle
  * on the series key, no self-joins, no collects. At 100 TB the
  * partition key (supplier) is the natural series id — state per key
  * is O(lag depth) for the EWMA and O(1) for the bars, so executor
  * memory is flat no matter how long the history grows.
  *
  * Cross-engine exactness is engineered, not hoped for: the EWMA uses
  * dyadic weights 2^-(k+1) over a FIXED 10-lag horizon, so numerator
  * and denominator are exact integers (quantities are integral ≤ 50:
  * every product and partial sum is far below 2^53) and the single
  * final division of two exact doubles is IEEE-identical in any
  * engine. The bars sum money through DECIMAL(38,2) and cast the
  * result to double once.
  */
object TimeSeries extends graft.QuerySet {
  private def dec(c: Column) = c.cast(DecimalType(38, 2))

  /** Lags 0..9, weight 2^(9-k) — integer EWMA numerator/denominator. */
  private val LAGS = 0 to 9

  /** Holt double-smoothing weights, EXACT: with α = β = ½ the state
    * recursion (l,b)ₜ = M·(l,b)ₜ₋₁ + v·yₜ has M = ¼·[[2,2],[−1,3]]
    * and v = ¼·[2,1], so under zero init (l,b)ₜ = Σₖ Mᵏv·yₜ₋ₖ where
    * Mᵏv = Nᵏ·[2,1] / 4ᵏ⁺¹ with the INTEGER matrix N = [[2,2],[−1,3]]
    * — every lag weight is an integer over the common denominator
    * 4^K. Truncation at K = 10 lags: exact for series up to K
    * observations (zero init makes the sum the exact recursion), a
    * |λ(M)|^K = 2^(−K/2) ≈ 3 % tail beyond — the defined,
    * engine-reproducible semantics, like tm_ewma's truncated horizon.
    * (wl, wb) pairs are Nᵏ[2,1]·4^(K−1−k): integers both engines
    * multiply exactly. */
  private val HOLT_K = 10
  private[operators] val holtW: Seq[(Long, Long)] = {
    var lv = BigInt(2); var bv = BigInt(1)
    (0 until HOLT_K).map { k =>
      val scale = BigInt(4).pow(HOLT_K - 1 - k)
      val out = ((lv * scale).toLong, (bv * scale).toLong)
      val (nl, nb) = (2 * lv + 2 * bv, -lv + 3 * bv)
      lv = nl; bv = nb
      out
    }
  }
  private val HOLT_DEN = math.pow(4, HOLT_K).toLong

  val queries: Map[String, Q] = Map(
    // Exponentially-weighted moving average of shipped quantity per
    // supplier (alpha = 1/2, truncated at 10 lags, weights
    // renormalized over the available prefix), reported at each
    // supplier's LATEST shipment — the "current demand level" feature
    // a forecaster joins back to the dimension. One window over
    // (supplier | shipdate, orderkey, linenumber): lag() replays the
    // last 10 observations without a self-join.
    "tm_ewma" -> ((s, dir) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
      val q = col("l_quantity").cast("long")
      val num = LAGS.map(k => coalesce(lag(q, k).over(w), lit(0L)) *
        lit(1L << (9 - k))).reduce(_ + _)
      val den = LAGS.map(k =>
        when(lag(q, k).over(w).isNotNull, lit(1L << (9 - k)))
          .otherwise(lit(0L))).reduce(_ + _)
      Tables(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate"), col("l_quantity"))
        .withColumn("num", num)
        .withColumn("den", den)
        .withColumn("rn", row_number().over(
          Window.partitionBy("l_suppkey")
            .orderBy(col("l_shipdate").desc, col("l_orderkey").desc,
              col("l_linenumber").desc)))
        .filter(col("rn") === 1)
        .select(col("l_suppkey"),
          col("num"), col("den"),
          (col("num").cast("double") / col("den").cast("double"))
            .as("ewma_qty"))
        .orderBy("l_suppkey")
    }),

    // Monthly OHLC bars per supplier: open/close = extended price of
    // the first/last shipment in the bar (order: shipdate, orderkey,
    // linenumber — unique, so deterministic), high/low = max/min,
    // volume = total quantity through DECIMAL. The downsample is the
    // classic "candlestick" reshape: row count drops from events to
    // (series × bar) — the shape dashboards and models read.
    "tm_ohlc" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate"), col("l_extendedprice"), col("l_quantity"))
        .withColumn("bar", date_trunc("month", col("l_shipdate"))
          .cast("date"))
      val wAsc = Window.partitionBy("l_suppkey", "bar")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
      val wDesc = Window.partitionBy("l_suppkey", "bar")
        .orderBy(col("l_shipdate").desc, col("l_orderkey").desc,
          col("l_linenumber").desc)
      li.withColumn("ra", row_number().over(wAsc))
        .withColumn("rd", row_number().over(wDesc))
        .groupBy("l_suppkey", "bar")
        .agg(
          count(lit(1)).as("n_trades"),
          max(when(col("ra") === 1, col("l_extendedprice"))).as("open"),
          max(col("l_extendedprice")).as("high"),
          min(col("l_extendedprice")).as("low"),
          max(when(col("rd") === 1, col("l_extendedprice"))).as("close"),
          sum(dec(col("l_quantity"))).cast("double").as("volume"))
        .orderBy("l_suppkey", "bar")
    }),

    // AUTOCORRELATION at lags 1..7 of the daily-revenue series — the
    // seasonality probe a forecaster runs before choosing model lags.
    // The series is daily revenue quantized to whole thousands of
    // dollars (integer div — the oracle replays the same quantization),
    // so every moment is an exact BIGINT: per lag l the three
    // Pearson ingredients n·Σab−Σa·Σb, n·Σa²−(Σa)², n·Σb²−(Σb)² are
    // emitted raw (r_l = sxy/√(sxx·syy) is the caller's one float).
    // Shape at 100 TB: the day-grain aggregate is one shuffle with
    // full partial aggregation (events → ~constant rows/day); the lag
    // alignment is an EQUI-join of the day-grain series with itself on
    // day+l (7 broadcast lag rows fan out the probe side) — never a
    // window over the raw facts. Headroom: k$² × days² stays under
    // 2^63 through ~sf2; beyond that the quantization unit is the one
    // knob (the statistic is defined on the quantized series).
    "tm_acf" -> ((s, dir) => {
      val daily = Tables(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(floor(col("o_totalprice")).cast("long")).as("rev"))
        .select(col("day"), expr("rev div 1000").as("x"))
      val lags = s.range(1, 8).select(col("id").cast("int").as("lag"))
      val a = daily.select(col("day"), col("x").as("xa"))
      val b = daily.select(col("day").as("day_b"), col("x").as("xb"))
      a.crossJoin(broadcast(lags))
        .withColumn("day_b", date_add(col("day"), col("lag")))
        .join(b, "day_b")
        .groupBy("lag")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("xa")).as("sa"), sum(col("xb")).as("sb"),
          sum(col("xa") * col("xb")).as("sab"),
          sum(col("xa") * col("xa")).as("saa"),
          sum(col("xb") * col("xb")).as("sbb"))
        .select(col("lag"), col("n_pairs"),
          (col("n_pairs") * col("sab") - col("sa") * col("sb"))
            .as("sxy_n"),
          (col("n_pairs") * col("saa") - col("sa") * col("sa"))
            .as("sxx_n"),
          (col("n_pairs") * col("sbb") - col("sb") * col("sb"))
            .as("syy_n"))
        .orderBy("lag")
    }),

    // CUSUM changepoint scan over the daily order-count series — the
    // level-shift detector a monitoring pipeline runs on ingest
    // volumes. The centered cumulative sum S_t = Σ_{i≤t}(x_i − x̄) is
    // kept integer by multiplying through by n: T_t = n·P_t − t·S
    // (P_t prefix sum, S total, t day index); the top-3 |T_t| days are
    // the candidate changepoints. The prefix sum is distributed
    // two-phase — per-month cumsum (shuffle on month) plus a running
    // month-offset computed on the MONTH-grain table (~n_days/30 rows,
    // never row-scale) — the same bucketed-rank shape as dense IDs;
    // the top-3 is TakeOrderedAndProject, not a global sort.
    "tm_changepoint" -> ((s, dir) => {
      val daily = Tables(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
        .withColumn("m", date_trunc("month", col("day")).cast("date"))
      val wInM = Window.partitionBy("m").orderBy("day")
      val inMonth = daily
        .withColumn("pm", sum(col("x")).over(wInM))
        .withColumn("rm", row_number().over(wInM))
      val wM = Window.orderBy("m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
      val monthOff = daily.groupBy("m")
        .agg(sum(col("x")).as("mx"), count(lit(1)).as("md"))
        .select(col("m"),
          coalesce(sum(col("mx")).over(wM), lit(0L)).as("xoff"),
          coalesce(sum(col("md")).over(wM), lit(0L)).as("doff"))
      val tot = daily.agg(sum(col("x")).as("s"),
        count(lit(1)).as("n"))
      inMonth.join(broadcast(monthOff), "m")
        .withColumn("p", col("pm") + col("xoff"))
        .withColumn("t_idx", col("rm") + col("doff"))
        .crossJoin(broadcast(tot))
        .select(col("day"), col("t_idx"),
          (col("n") * col("p") - col("t_idx") * col("s")).as("t_stat"))
        .orderBy(abs(col("t_stat")).desc, col("day"))
        .limit(3)
        .select("day", "t_idx", "t_stat")
    }),

    // FORECAST BACKTEST — the rolling-origin evaluation every demand
    // forecaster runs before trusting a model: replay the seasonal-
    // naive forecast (ŷ(d) = y(d − 7), the standard baseline any real
    // model must beat) over the whole daily history and score it. The
    // "model" joins the daily series to ITSELF shifted 7 days (one
    // equi-join on the date key — at 100 TB the daily grain is
    // n_days rows, model-parameter scale next to the fact table that
    // produced it), and the scorecard aggregates absolute errors per
    // weekday so systematically-bad days (the weekend effect a 7-day
    // lag should nail, a 1-day lag wouldn't) are visible. Weekday is
    // computed as days-since-epoch mod 7 — pure integer arithmetic,
    // immune to the engines' dayofweek origin disagreement; errors
    // are integer counts, so the scorecard is exact.
    "tm_backtest" -> ((s, dir) => {
      val daily = Tables(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
      val fc = daily.select(date_add(col("day"), 7).as("day"),
        col("x").as("fc"))
      daily.join(fc, "day")
        .withColumn("dow7",
          (datediff(col("day"), lit("1992-01-01").cast("date")) % 7)
            .cast("long"))
        .groupBy("dow7")
        .agg(count(lit(1)).as("n_days"), sum("x").as("sum_actual"),
          sum("fc").as("sum_forecast"),
          sum(abs(col("x") - col("fc"))).as("abs_err_sum"),
          max(abs(col("x") - col("fc"))).as("abs_err_max"))
        .orderBy("dow7")
    }),

    // HOLT DOUBLE SMOOTHING (level + trend, the one-step-ahead
    // forecaster tm_ewma cannot express — EWMA has no trend state):
    // per supplier, the exact K = 10-lag matrix unrolling of the
    // α = β = ½ recursion (see holtW) evaluated at the latest
    // shipment. Level and trend numerators are integer dot products
    // of the lagged quantities with the shared Nᵏ[2,1] weight table
    // — the SAME literal integers are splined into the DuckDB oracle
    // — over the common denominator 4¹⁰; the one-step forecast is
    // (l + b)/4¹⁰, a single division of exact integers. One window
    // shuffle on the series key, O(K) state per row — the tm_ewma
    // scale contract with a 2-dimensional state.
    "tm_holt" -> ((s, dir) =>
      holtOf(Tables(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate"), col("l_quantity")),
        "l_suppkey", Seq("l_shipdate", "l_orderkey", "l_linenumber"),
        "l_quantity")
        .orderBy("l_suppkey")),

    // CLASSICAL SEASONAL DECOMPOSITION (trend + seasonal + residual,
    // the moving-average method every forecasting text opens with)
    // of the daily order-count series, period 7. Trend at day t is
    // the centered 7-row moving sum (only where the full window
    // exists); detrended is kept ×7 so it stays integer (dev7 =
    // 7·x − trend7); the seasonal component is the per-phase mean of
    // dev7 carried as an exact (num, den) pair; the residual is the
    // exact rational resid_num/resid_den = dev7/7 − seas_num/(7·den).
    // Phase = days-since-1992-01-01 mod 7 (tm_backtest's integer
    // weekday, immune to dayofweek-origin disagreements). Everything
    // exported is an exact integer — no float averaging anywhere.
    //
    // Scale shape: the series lives at DAILY grain — a few thousand
    // rows whatever the corpus size — so the one unpartitioned window
    // runs over calendar-scale data (the tm_changepoint contract);
    // the corpus-scale work is the single date-keyed count aggregate,
    // and the 7-row seasonal table joins back as a broadcast.
    "tm_seasonal" -> ((s, dir) =>
      seasonalOf(Tables(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(count(lit(1)).as("x")), 7, "1992-01-01")
        .orderBy("day")))

  /** Holt level+trend at each series' latest observation — the core
    * behind tm_holt / api.Series.holt. `orderCols` must totally order
    * each key's series; `valueCol` must be integral (cast to long).
    * Output: (key, l_num, b_num, den, forecast_1). */
  private[graft] def holtOf(df: DataFrame, keyCol: String,
                            orderCols: Seq[String],
                            valueCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderCols.map(col): _*)
    val q = col(valueCol).cast("long")
    def dot(sel: ((Long, Long)) => Long) =
      holtW.zipWithIndex.map { case (wk, k) =>
        coalesce(lag(q, k).over(w), lit(0L)) * lit(sel(wk))
      }.reduce(_ + _)
    df.withColumn("l_num", dot(_._1))
      .withColumn("b_num", dot(_._2))
      .withColumn("rn", row_number().over(
        Window.partitionBy(keyCol)
          .orderBy(orderCols.map(c => col(c).desc): _*)))
      .filter(col("rn") === 1)
      .select(col(keyCol), col("l_num"), col("b_num"),
        lit(HOLT_DEN).as("den"),
        ((col("l_num") + col("b_num")).cast("double") /
          lit(HOLT_DEN.toDouble)).as("forecast_1"))
  }

  /** Classical decomposition of a (day: date, x: long) daily series —
    * the core behind tm_seasonal / api.Series.seasonal. `period` must
    * be odd (centered ±period/2 row window); `anchor` fixes phase 0.
    * All components are exact integers (dev = period·x − trend). */
  private[graft] def seasonalOf(daily: DataFrame, period: Int,
                                anchor: String): DataFrame = {
    require(period % 2 == 1, s"period must be odd, got $period")
    val h = period / 2
    val p = period.toLong
    val w = Window.orderBy("day").rowsBetween(-h, h)
    val t = daily
      .withColumn("trend7",
        when(count(lit(1)).over(w) === period, sum("x").over(w)))
      .withColumn("dev7", lit(p) * col("x") - col("trend7"))
      .withColumn("phase",
        (datediff(col("day"), lit(anchor).cast("date")) % period)
          .cast("long"))
    val seas = t.filter(col("dev7").isNotNull)
      .groupBy("phase")
      .agg(sum("dev7").as("seas_num"), count(lit(1)).as("seas_den"))
    t.join(broadcast(seas), Seq("phase"), "left")
      .select(col("day").cast("string").as("day"), col("x"),
        col("trend7"), col("dev7"), col("phase"),
        col("seas_num"), col("seas_den"),
        (col("seas_den") * col("dev7") - col("seas_num"))
          .as("resid_num"),
        (lit(p) * col("seas_den")).as("resid_den"))
  }

  val oracles: Map[String, String] = Map(
    "tm_ewma" -> {
      val num = LAGS.map(k =>
        s"COALESCE(lag(CAST(l_quantity AS BIGINT), $k) OVER w, 0) " +
          s"* ${1L << (9 - k)}").mkString(" + ")
      val den = LAGS.map(k =>
        s"CASE WHEN lag(CAST(l_quantity AS BIGINT), $k) OVER w " +
          s"IS NOT NULL THEN ${1L << (9 - k)} ELSE 0 END")
        .mkString(" + ")
      s"""WITH scored AS (
         |  SELECT l_suppkey,
         |    CAST($num AS BIGINT) AS num,
         |    CAST($den AS BIGINT) AS den,
         |    row_number() OVER (PARTITION BY l_suppkey
         |      ORDER BY l_shipdate DESC, l_orderkey DESC,
         |        l_linenumber DESC) AS rn
         |  FROM lineitem
         |  WINDOW w AS (PARTITION BY l_suppkey
         |    ORDER BY l_shipdate, l_orderkey, l_linenumber))
         |SELECT l_suppkey, num, den,
         |  CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS ewma_qty
         |FROM scored WHERE rn = 1 ORDER BY l_suppkey""".stripMargin
    },

    "tm_ohlc" ->
      """WITH e AS (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
        |    l_extendedprice, l_quantity,
        |    CAST(date_trunc('month', l_shipdate) AS DATE) AS bar
        |  FROM lineitem),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY l_suppkey, bar
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber) AS ra,
        |    row_number() OVER (PARTITION BY l_suppkey, bar
        |      ORDER BY l_shipdate DESC, l_orderkey DESC,
        |        l_linenumber DESC) AS rd
        |  FROM e)
        |SELECT l_suppkey, bar,
        |  count(*) AS n_trades,
        |  max(CASE WHEN ra = 1 THEN l_extendedprice END) AS open,
        |  max(l_extendedprice) AS high,
        |  min(l_extendedprice) AS low,
        |  max(CASE WHEN rd = 1 THEN l_extendedprice END) AS close,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS volume
        |FROM r GROUP BY l_suppkey, bar
        |ORDER BY l_suppkey, bar""".stripMargin,

    "tm_acf" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
        |      // 1000 AS x
        |  FROM orders GROUP BY 1),
        |lags AS (SELECT CAST(r AS INT) AS lag
        |         FROM generate_series(1, 7) t(r)),
        |pairs AS (
        |  SELECT l.lag, a.x AS xa, b.x AS xb
        |  FROM daily a CROSS JOIN lags l
        |  JOIN daily b ON b.day = a.day + l.lag),
        |m AS (
        |  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(xa) AS BIGINT) AS sa,
        |    CAST(SUM(xb) AS BIGINT) AS sb,
        |    CAST(SUM(xa * xb) AS BIGINT) AS sab,
        |    CAST(SUM(xa * xa) AS BIGINT) AS saa,
        |    CAST(SUM(xb * xb) AS BIGINT) AS sbb
        |  FROM pairs GROUP BY lag)
        |SELECT lag, n_pairs,
        |  n_pairs * sab - sa * sb AS sxy_n,
        |  n_pairs * saa - sa * sa AS sxx_n,
        |  n_pairs * sbb - sb * sb AS syy_n
        |FROM m ORDER BY lag""".stripMargin,

    "tm_changepoint" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |c AS (
        |  SELECT day,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t_idx,
        |    CAST(SUM(x) OVER (ORDER BY day) AS BIGINT) AS p
        |  FROM daily),
        |tot AS (SELECT CAST(SUM(x) AS BIGINT) AS s,
        |               CAST(count(*) AS BIGINT) AS n FROM daily)
        |SELECT day, t_idx, n * p - t_idx * s AS t_stat
        |FROM c CROSS JOIN tot
        |ORDER BY abs(n * p - t_idx * s) DESC, day LIMIT 3""".stripMargin,

    // same seasonal-naive replay: the daily series joined to itself
    // at +7 days, weekday = days-since-1992-01-01 mod 7
    "tm_backtest" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM orders GROUP BY 1)
        |SELECT
        |  CAST(date_diff('day', DATE '1992-01-01', a.day) % 7 AS BIGINT)
        |    AS dow7,
        |  CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(a.x) AS BIGINT) AS sum_actual,
        |  CAST(sum(f.x) AS BIGINT) AS sum_forecast,
        |  CAST(sum(abs(a.x - f.x)) AS BIGINT) AS abs_err_sum,
        |  CAST(max(abs(a.x - f.x)) AS BIGINT) AS abs_err_max
        |FROM daily a JOIN daily f ON a.day = f.day + INTERVAL 7 DAY
        |GROUP BY 1 ORDER BY dow7""".stripMargin,

    // the SAME Nᵏ[2,1]·4^(K−1−k) literals as the engine side — one
    // coefficient table, two engines
    "tm_holt" -> {
      def dot(sel: ((Long, Long)) => Long) =
        holtW.zipWithIndex.map { case (wk, k) =>
          s"COALESCE(lag(CAST(l_quantity AS BIGINT), $k) OVER w, 0) " +
            s"* ${sel(wk)}"
        }.mkString(" + ")
      s"""WITH scored AS (
         |  SELECT l_suppkey,
         |    CAST(${dot(_._1)} AS BIGINT) AS l_num,
         |    CAST(${dot(_._2)} AS BIGINT) AS b_num,
         |    row_number() OVER (PARTITION BY l_suppkey
         |      ORDER BY l_shipdate DESC, l_orderkey DESC,
         |        l_linenumber DESC) AS rn
         |  FROM lineitem
         |  WINDOW w AS (PARTITION BY l_suppkey
         |    ORDER BY l_shipdate, l_orderkey, l_linenumber))
         |SELECT l_suppkey, l_num, b_num,
         |  CAST($HOLT_DEN AS BIGINT) AS den,
         |  CAST(l_num + b_num AS DOUBLE) / $HOLT_DEN.0 AS forecast_1
         |FROM scored WHERE rn = 1 ORDER BY l_suppkey""".stripMargin
    },

    // same centered 7-row window over the daily grain; dev7 = 7x −
    // trend keeps the detrended series integer, residual is an exact
    // (num, den) rational — zero float averaging on either engine
    "tm_seasonal" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |t AS (
        |  SELECT day, x,
        |    CASE WHEN count(*) OVER w = 7
        |         THEN CAST(sum(x) OVER w AS BIGINT) END AS trend7,
        |    CAST(date_diff('day', DATE '1992-01-01', day) % 7 AS BIGINT)
        |      AS phase
        |  FROM daily
        |  WINDOW w AS (ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |t2 AS (
        |  SELECT *, CAST(7 * x - trend7 AS BIGINT) AS dev7 FROM t),
        |seas AS (
        |  SELECT phase, CAST(sum(dev7) AS BIGINT) AS seas_num,
        |    CAST(count(*) AS BIGINT) AS seas_den
        |  FROM t2 WHERE dev7 IS NOT NULL GROUP BY 1)
        |SELECT CAST(t2.day AS VARCHAR) AS day, t2.x, t2.trend7,
        |  t2.dev7, t2.phase, s.seas_num, s.seas_den,
        |  CAST(s.seas_den * t2.dev7 - s.seas_num AS BIGINT)
        |    AS resid_num,
        |  CAST(7 * s.seas_den AS BIGINT) AS resid_den
        |FROM t2 LEFT JOIN seas s ON s.phase = t2.phase
        |ORDER BY day""".stripMargin)
}
