package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Co-occurrence / affinity mining — the two classic "what goes with
  * what" operators every commerce- or behavior-scale corpus needs:
  * market-basket pair affinity (support + lift) and Markov transition
  * counting over event sequences. Both are exact integer plans, both
  * generalize the reference's sales-fact curation
  * (`code/curate/04_sales_sp.sql` builds the order⋈customer fact this
  * mines) into analytics the warehouse serves daily.
  *
  * Scale shapes:
  *  - `mb_item_pairs` — the pair generator is a self-join keyed on
  *    the BASKET id, so the quadratic factor is per-basket item count,
  *    not corpus size (TPC-H orders hold ≤ 7 lines; a production
  *    pipeline with unbounded baskets applies a documented per-basket
  *    top-N-by-frequency cap before pairing, the same contract as the
  *    SRP bucket window). Everything downstream is count aggregation
  *    on pair keys plus two broadcast-sized dimension joins.
  *  - `ev_transitions` — one user-keyed window (Spark's external sort
  *    handles any per-user history length) followed by a (from, to)
  *    count aggregation: two shuffles total, both map-side combined.
  */
object Affinity extends graft.QuerySet {
  /** Distinct (basket, item) pairs: an order is a basket, the parts on
    * its lines are the items. EAGER checkpoint: four consumers read it
    * (both self-join sides, the item census, the basket total), and the
    * census/total broadcast builds raced the self-join's stage
    * materialization — each cold consumer re-ran the scan + distinct
    * (measured: twin ~600 ms 6.2 MB map jobs per mb_ query); the
    * barrier pays the distinct once and everything reads its blocks. */
  private def baskets(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .localCheckpoint()

  val queries: Map[String, Q] = Map(
    // Market-basket affinity: for every part pair co-occurring in ≥ 2
    // orders, the co-occurrence count plus each part's own basket
    // count and the basket total — the integer ingredients of
    // support / confidence / lift (lift = c12·N / (c1·c2)), kept as
    // exact counts so the oracle hashes bit-identically. Top 100 by
    // (c12 desc, p1, p2) — a deterministic total order.
    "mb_item_pairs" -> ((s, dir) => {
      val b = baskets(s, dir)
      // one row per part — unbounded dimension, so no broadcast hint:
      // stats/AQE broadcast it while it fits, shuffle-join when a
      // 100 TB catalog doesn't
      val itemCnt = b.groupBy("pk").agg(count(lit(1)).as("c"))
      val nBaskets = b.select(countDistinct(col("ok")).as("n_baskets"))
      val pairs = b.as("a")
        .join(b.as("b"), col("a.ok") === col("b.ok") &&
          col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
        .agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 2)
      pairs
        .join(itemCnt.select(col("pk").as("p1"), col("c").as("c1")), "p1")
        .join(itemCnt.select(col("pk").as("p2"), col("c").as("c2")), "p2")
        // single-row scalar: hint the broadcast explicitly — the
        // pre-AQE size estimate of a global aggregate can exceed the
        // broadcast threshold and downgrade this to CartesianProduct
        .crossJoin(broadcast(nBaskets))
        .select(col("p1"), col("p2"), col("c12"), col("c1"), col("c2"),
          col("n_baskets"))
        .orderBy(col("c12").desc, col("p1"), col("p2"))
        .limit(100)
    }),

    // ASSOCIATION RULES from the pair counts — the step after
    // mb_item_pairs in every market-basket pipeline: each frequent
    // pair emits both directed rules ante → cons, graded by
    // confidence (c12/c_ante) and lift (c12·n/(c_ante·c_cons)), both
    // released in exact integer per-mille (no float ratios). The
    // report is the top-50 rules by (lift, confidence, ante, cons)
    // with a `strong` flag at the classic conf ≥ 200 ‰ ∧ lift >
    // 1000 ‰ bar (a threshold-only release is empty whenever the
    // corpus has no strong rules — the dq_mad_outliers lesson:
    // rank, don't just gate). Same plan as mb_item_pairs
    // plus a pair-grain projection: nothing beyond the pair table
    // ever materializes.
    "mb_assoc_rules" -> ((s, dir) => {
      val b = baskets(s, dir)
      val itemCnt = b.groupBy("pk").agg(count(lit(1)).as("c"))
      val nBaskets = b.select(countDistinct(col("ok")).as("n_baskets"))
      val pairs = b.as("a")
        .join(b.as("b"), col("a.ok") === col("b.ok") &&
          col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
        .agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 2)
        .join(itemCnt.select(col("pk").as("p1"), col("c").as("c1")), "p1")
        .join(itemCnt.select(col("pk").as("p2"), col("c").as("c2")), "p2")
        .crossJoin(broadcast(nBaskets))
      // both directed rules in ONE pass over the pair table — the
      // unionAll twin duplicated the whole pair-join subtree (basket
      // self-join + two count joins) in the plan
      val rules = pairs.select(explode(array(
          struct(col("p1").as("ante"), col("p2").as("cons"), col("c12"),
            col("c1").as("c_ante"), col("c2").as("c_cons"),
            col("n_baskets")),
          struct(col("p2").as("ante"), col("p1").as("cons"), col("c12"),
            col("c2").as("c_ante"), col("c1").as("c_cons"),
            col("n_baskets")))).as("t"))
        .select(col("t.ante").as("ante"), col("t.cons").as("cons"),
          col("t.c12").as("c12"), col("t.c_ante").as("c_ante"),
          col("t.c_cons").as("c_cons"), col("t.n_baskets").as("n_baskets"))
      rules
        .select(col("ante"), col("cons"),
          expr("c12 * 1000 div c_ante").as("conf_pm"),
          // lift numerator/denominator through DECIMAL(38,0): plain
          // BIGINT products silently wrap in Spark (non-ANSI) at large
          // basket counts while DuckDB widens to HUGEINT — decimal
          // keeps both engines exact to ~1e38 (integral div of
          // decimals yields BIGINT, matching the oracle's cast)
          expr("""CAST(c12 AS DECIMAL(38,0)) * n_baskets * 1000
                 | div (CAST(c_ante AS DECIMAL(38,0)) * c_cons)"""
            .stripMargin).as("lift_pm"),
          col("c12"))
        .withColumn("strong",
          (col("conf_pm") >= 200 && col("lift_pm") > 1000).cast("int"))
        .orderBy(col("lift_pm").desc, col("conf_pm").desc,
          col("ante"), col("cons"))
        .limit(50)
    }),

    // Markov transition matrix over the event stream: per user, each
    // event's successor in (ts, event_id) order; counts by
    // (from, to) plus the from-state row total — the exact-integer
    // transition-probability numerators a session-model trains on.
    // The consecutive pairs come from an api.Folds ordered fold (one
    // user-keyed shuffle + secondary sort, one word of per-user state)
    // — same one-pass shape as sz_sessionize; the lead-window form is
    // kept as [[transitionsWindowed]] and parity-pinned in
    // EventFoldSpec.
    "ev_transitions" -> ((s, dir) => {
      val steps = transitionSteps(Tables.events(s, dir)
        .select(col("user_id"), expr("unix_micros(ts)").as("us"),
          col("event_id"), col("event_type")))
      val trans = steps
        .groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("n"))
      val fromTot = trans.groupBy("from_type")
        .agg(sum("n").as("n_from"))
      trans.join(fromTot, "from_type")
        .select("from_type", "to_type", "n", "n_from")
        .orderBy("from_type", "to_type")
    })
  )

  /** per-user consecutive (from_type, to_type) steps in (us, event_id)
    * order — an ordered fold whose state is the previous label. */
  private final class PrevLabel extends Serializable {
    var has = false; var prev: String = _
  }
  private[graft] def transitionSteps(ev: DataFrame): DataFrame =
    graft.api.Folds.flatFoldOrdered(
      ev.toDF("user_id", "us", "event_id", "event_type"),
      keyCols = Seq("user_id"), orderCols = Seq("us", "event_id"),
      out = new org.apache.spark.sql.types.StructType()
        .add("from_type", org.apache.spark.sql.types.StringType)
        .add("to_type", org.apache.spark.sql.types.StringType))(
      () => new PrevLabel)(
      (st, r) => {
        val t = r.getString(3)
        val out = if (st.has) (st.prev :: t :: Nil) :: Nil else Nil
        st.prev = t; st.has = true
        out
      })(
      _ => Nil)

  /** the lead-window formulation — the reference implementation
    * EventFoldSpec pins the fold against. */
  private[graft] def transitionsWindowed(s: SparkSession,
                                         dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("us"), col("event_id"))
    val steps = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
    val trans = steps
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromTot = trans.groupBy("from_type")
      .agg(sum("n").as("n_from"))
    trans.join(fromTot, "from_type")
      .select("from_type", "to_type", "n", "n_from")
      .orderBy("from_type", "to_type")
  }

  val oracles: Map[String, String] = Map(
    "mb_item_pairs" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |ic AS (SELECT pk, count(*) AS c FROM b GROUP BY pk),
        |nb AS (SELECT count(DISTINCT ok) AS n_baskets FROM b),
        |pairs AS (
        |  SELECT a.pk AS p1, b2.pk AS p2, count(*) AS c12
        |  FROM b a JOIN b b2 ON a.ok = b2.ok AND a.pk < b2.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT p1, p2, c12, i1.c AS c1, i2.c AS c2, nb.n_baskets
        |FROM pairs
        |JOIN ic i1 ON i1.pk = p1
        |JOIN ic i2 ON i2.pk = p2
        |CROSS JOIN nb
        |ORDER BY c12 DESC, p1, p2 LIMIT 100""".stripMargin,

    // both directed rules per pair, the same integer per-mille grades
    "mb_assoc_rules" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |ic AS (SELECT pk, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY pk),
        |nb AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets
        |       FROM b),
        |pairs AS (
        |  SELECT a.pk AS p1, b2.pk AS p2,
        |    CAST(count(*) AS BIGINT) AS c12
        |  FROM b a JOIN b b2 ON a.ok = b2.ok AND a.pk < b2.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |wide AS (
        |  SELECT p1, p2, c12, i1.c AS c1, i2.c AS c2, nb.n_baskets
        |  FROM pairs
        |  JOIN ic i1 ON i1.pk = p1
        |  JOIN ic i2 ON i2.pk = p2
        |  CROSS JOIN nb),
        |rules AS (
        |  SELECT p1 AS ante, p2 AS cons, c12, c1 AS c_ante,
        |    c2 AS c_cons, n_baskets FROM wide
        |  UNION ALL
        |  SELECT p2, p1, c12, c2, c1, n_baskets FROM wide),
        |graded AS (
        |  SELECT ante, cons,
        |    CAST(c12 * 1000 // c_ante AS BIGINT) AS conf_pm,
        |    CAST(c12 * n_baskets * 1000 // (c_ante * c_cons) AS BIGINT)
        |      AS lift_pm,
        |    c12
        |  FROM rules)
        |SELECT ante, cons, conf_pm, lift_pm, c12,
        |  CAST(CASE WHEN conf_pm >= 200 AND lift_pm > 1000
        |       THEN 1 ELSE 0 END AS INTEGER) AS strong
        |FROM graded
        |ORDER BY lift_pm DESC, conf_pm DESC, ante, cons
        |LIMIT 50""".stripMargin,

    "ev_transitions" ->
      """WITH steps AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |t AS (
        |  SELECT from_type, to_type, count(*) AS n FROM steps
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |ft AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
        |       FROM t GROUP BY 1)
        |SELECT t.from_type, t.to_type, t.n, ft.n_from
        |FROM t JOIN ft ON t.from_type = ft.from_type
        |ORDER BY t.from_type, t.to_type""".stripMargin
  )
}
