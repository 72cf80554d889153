package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Weak-supervision document classification — the quality/topic
  * classifier stage of an LLM data pipeline (CCNet/C4 train a simple
  * classifier on proxy labels and score the whole corpus with it;
  * generalizes the reference's feature-text scoring surface,
  * `code/ml/05_product_recommender_sp.sql`, from retrieval to
  * classification):
  *
  *   1. SEED RULES label the confident slice: three keyword classes;
  *      a doc gets a weak label iff one class's seed-hit count is a
  *      strict maximum and ≥ 2 (ties and weak evidence stay
  *      unlabeled — they are exactly the docs the classifier is FOR).
  *   2. A multinomial NAIVE BAYES model trains on the weak-labeled
  *      slice: add-one-smoothed token likelihoods over the train
  *      vocabulary plus class priors.
  *   3. The model scores EVERY doc (labeled or not) and the report is
  *      the weak-label × predicted-label confusion matrix.
  *
  * Cross-engine exactness: every log-weight is fixed-point —
  * round(ln(p)·10⁶) as BIGINT — so scores are integer sums. The ln
  * inputs are ratios of exact integers evaluated in double (IEEE-
  * identical in any engine); ln itself is correctly rounded to ≤ 1
  * ulp on both JVMs and libm, and a 1-ulp wobble (~10⁻¹⁶ relative)
  * sits ~10⁻⁹ of a fixed-point step from any rounding boundary — the
  * contract every fixed-point ln operator in this repo shares.
  *
  * Scale shape: the model is parameter-sized (train-vocab × 3 grid +
  * 3 class rows) and BROADCAST; the corpus-sized path is one
  * token-explode scan, a ×3 class fan-out against the broadcast
  * 3-row table, a broadcast equi-join against the grid, and one
  * (doc, class) partial-aggregated shuffle. Training is two shuffles
  * on (class, word). No collects anywhere — the model stays a frame.
  */
object Classify extends graft.QuerySet {
  private val SEEDS: Map[String, Seq[String]] = Map(
    "sql"  -> Seq("join", "query", "table", "filter", "group"),
    "perf" -> Seq("fast", "slow", "batch", "scan", "sort"),
    "ml"   -> Seq("vector", "hash", "stream", "window", "merge"))

  /** Fixed-point natural log: round(ln(x)·10⁶) as BIGINT. */
  private def lnFx(x: org.apache.spark.sql.Column) =
    round(log(x) * lit(1000000d)).cast("long")

  val queries: Map[String, Q] = Map(
    "ml_weak_nb" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      val tok = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")

      // 1. seed rule: strict-max seed class with ≥ 2 hits
      def hits(cls: String) = sum(
        when(col("word").isin(SEEDS(cls): _*), 1L).otherwise(0L))
      val weak = tok.groupBy("doc_id")
        .agg(hits("sql").as("sql_n"), hits("perf").as("perf_n"),
          hits("ml").as("ml_n"))
        .select(col("doc_id"),
          when(col("sql_n") >= 2 &&
            col("sql_n") > greatest(col("perf_n"), col("ml_n")), "sql")
            .when(col("perf_n") >= 2 &&
              col("perf_n") > greatest(col("sql_n"), col("ml_n")), "perf")
            .when(col("ml_n") >= 2 &&
              col("ml_n") > greatest(col("sql_n"), col("perf_n")), "ml")
            .as("weak"))
      val labeled = weak.filter(col("weak").isNotNull)

      // 2. train: smoothed token log-likelihoods + priors, all as a
      // parameter-sized frame (never collected)
      val cnts = tok.join(labeled, "doc_id")
        .groupBy(col("weak").as("cls"), col("word"))
        .agg(count(lit(1)).as("c"))
      val tots = cnts.groupBy("cls").agg(sum(col("c")).as("tot"))
      val vocab = cnts.select("word").distinct()
      val vsz = vocab.agg(count(lit(1)).as("v"))
      val nd = labeled.groupBy(col("weak").as("cls"))
        .agg(count(lit(1)).as("nd"))
      val ndt = labeled.agg(count(lit(1)).as("ndt"))
      val cls = tots.join(nd, "cls")
        .crossJoin(broadcast(vsz)).crossJoin(broadcast(ndt))
        .select(col("cls"), col("tot"), col("v"),
          lnFx(col("nd").cast("double") / col("ndt")).as("prior"),
          lnFx(lit(1d) / (col("tot") + col("v")).cast("double"))
            .as("dflt"))
      val grid = vocab.crossJoin(broadcast(cls.select("cls", "tot", "v")))
        .join(cnts, Seq("word", "cls"), "left")
        .select(col("word"), col("cls"),
          lnFx((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
            (col("tot") + col("v")).cast("double")).as("w"))

      // 3. score every doc against the broadcast model; argmax class
      val scored = tok
        .crossJoin(broadcast(cls.select("cls", "prior", "dflt")))
        .join(broadcast(grid), Seq("word", "cls"), "left")
        .groupBy("doc_id", "cls", "prior")
        .agg(sum(coalesce(col("w"), col("dflt"))).as("tw"))
        .select(col("doc_id"), col("cls"),
          (col("prior") + col("tw")).as("score"))
      val wDoc = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("cls"))
      val pred = scored.withColumn("rn", row_number().over(wDoc))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("cls").as("pred"))

      pred.join(labeled, Seq("doc_id"), "left")
        .groupBy(coalesce(col("weak"), lit("unlabeled")).as("weak_label"),
          col("pred"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("weak_label", "pred")
    }),

    // ROC AUC by rank statistics (Mann–Whitney U): AUC = P(score of a
    // random positive > score of a random negative) + ½·P(tie) —
    // computed EXACTLY from per-score class counts, never from a
    // sampled curve. Here the "model" under evaluation is the n_chars
    // length prior for lang = 'en'. concordant = Σ_s pos_s ·
    // (negatives strictly below s) via a running sum over the
    // score-distinct table; tied = Σ_s pos_s · neg_s; AUC =
    // (2·concordant + tied) / (2·pos·neg), released in integer basis
    // points so the hash check is exact.
    //
    // Scale shape: one corpus-scale aggregate onto the SCORE grain,
    // then an unpartitioned running sum over distinct scores only —
    // bounded by score precision, not rows (the x_histogram
    // contract) — and a one-row rollup.
    "ml_auc_roc" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("n_chars").as("score"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val g = d.groupBy("score")
        .agg(sum("pos").as("np"),
          (count(lit(1)) - sum("pos")).as("nn"))
      val w = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
      // DECIMAL-headroom caveat (the pv_t_closeness contract): the
      // concordant/tied SUMS are bounded by n_pos·n_neg — exact in
      // BIGINT to ~3e9 positives×negatives; the released auc_bps runs
      // its products through DECIMAL(38,0) so the grade itself never
      // wraps, and the denominator is null-guarded so a one-class
      // corpus yields a defined NULL on BOTH engines instead of an
      // engine-specific division error.
      g.withColumn("nn_below", coalesce(sum("nn").over(w), lit(0L)))
        .agg(sum("np").as("n_pos"), sum("nn").as("n_neg"),
          sum(col("np") * col("nn_below")).as("concordant"),
          sum(col("np") * col("nn")).as("tied"))
        .select(col("n_pos"), col("n_neg"), col("concordant"),
          col("tied"),
          expr("""(2 * CAST(concordant AS DECIMAL(38,0)) + tied) * 10000
                 | div nullif(2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg, 0)"""
            .stripMargin).as("auc_bps"))
    }),

    // DECISION STUMP (1R) — the best single categorical test for a
    // binary label, by exact misclassification count: each candidate
    // split (segment = v | nation = v) predicts the majority class on
    // both sides; errors = min(pos, neg) on each side, summed. The
    // label is the balanced c_acctbal ≥ 4500 (TPC-H balances are
    // uniform on [-999.99, 9999.99]). All counts are integers; the
    // winner is flagged against the broadcast scalar minimum.
    //
    // Scale shape: two category-grain aggregates over one scan each,
    // a category-scale union (segments + nations), and two broadcast
    // one-row cross joins (class totals, best error) — the documented
    // broadcast-scalar pattern; nothing row-scale survives the
    // aggregates.
    "ml_stump" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_nationkey"),
          when(col("c_acctbal") >= 4500d, 1L).otherwise(0L).as("pos"))
      def cand(feat: String, value: org.apache.spark.sql.Column) =
        c.groupBy(value.as("value"))
          .agg(sum("pos").as("lp"),
            (count(lit(1)) - sum("pos")).as("ln"))
          .select(lit(feat).as("feature"), col("value"), col("lp"),
            col("ln"))
      val cands = cand("segment", col("c_mktsegment"))
        .unionAll(cand("nation", col("c_nationkey").cast("string")))
      val tot = c.agg(sum("pos").as("tp"),
        (count(lit(1)) - sum("pos")).as("tn"))
      val scored = cands.crossJoin(broadcast(tot))
        .select(col("feature"), col("value"),
          (col("lp") + col("ln")).as("n_left"),
          (least(col("lp"), col("ln")) +
            least(col("tp") - col("lp"), col("tn") - col("ln")))
            .as("errors"))
      val best = scored.agg(min("errors").as("min_err"))
      scored.crossJoin(broadcast(best))
        .select(col("feature"), col("value"), col("n_left"),
          col("errors"),
          when(col("errors") === col("min_err"), 1L).otherwise(0L)
            .as("is_best"))
        .orderBy("feature", "value")
    }))

  private def inList(ws: Seq[String]) =
    ws.map(w => s"'$w'").mkString("(", ", ", ")")

  val oracles: Map[String, String] = Map(
    "ml_weak_nb" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |tok2 AS (SELECT doc_id, word FROM tok WHERE word <> ''),
         |seedcnt AS (
         |  SELECT doc_id,
         |    SUM(CASE WHEN word IN ${inList(SEEDS("sql"))}
         |        THEN 1 ELSE 0 END) AS sql_n,
         |    SUM(CASE WHEN word IN ${inList(SEEDS("perf"))}
         |        THEN 1 ELSE 0 END) AS perf_n,
         |    SUM(CASE WHEN word IN ${inList(SEEDS("ml"))}
         |        THEN 1 ELSE 0 END) AS ml_n
         |  FROM tok2 GROUP BY doc_id),
         |weak AS (
         |  SELECT doc_id,
         |    CASE
         |      WHEN sql_n >= 2 AND sql_n > greatest(perf_n, ml_n)
         |        THEN 'sql'
         |      WHEN perf_n >= 2 AND perf_n > greatest(sql_n, ml_n)
         |        THEN 'perf'
         |      WHEN ml_n >= 2 AND ml_n > greatest(sql_n, perf_n)
         |        THEN 'ml'
         |    END AS weak
         |  FROM seedcnt),
         |labeled AS (SELECT doc_id, weak FROM weak WHERE weak IS NOT NULL),
         |cnts AS (
         |  SELECT l.weak AS cls, t.word, CAST(count(*) AS BIGINT) AS c
         |  FROM tok2 t JOIN labeled l USING (doc_id) GROUP BY 1, 2),
         |tots AS (SELECT cls, CAST(SUM(c) AS BIGINT) AS tot
         |         FROM cnts GROUP BY 1),
         |vocab AS (SELECT DISTINCT word FROM cnts),
         |vsz AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
         |nd AS (SELECT weak AS cls, CAST(count(*) AS BIGINT) AS nd
         |       FROM labeled GROUP BY 1),
         |ndt AS (SELECT CAST(count(*) AS BIGINT) AS ndt FROM labeled),
         |cls AS (
         |  SELECT t.cls, t.tot, v.v,
         |    CAST(round(ln(CAST(n.nd AS DOUBLE) / d.ndt) * 1000000)
         |      AS BIGINT) AS prior,
         |    CAST(round(ln(1.0 / (t.tot + v.v)) * 1000000)
         |      AS BIGINT) AS dflt
         |  FROM tots t JOIN nd n ON n.cls = t.cls
         |  CROSS JOIN vsz v CROSS JOIN ndt d),
         |grid AS (
         |  SELECT vb.word, c.cls,
         |    CAST(round(ln((COALESCE(k.c, 0) + 1)
         |      / CAST(c.tot + c.v AS DOUBLE)) * 1000000) AS BIGINT) AS w
         |  FROM vocab vb CROSS JOIN cls c
         |  LEFT JOIN cnts k ON k.word = vb.word AND k.cls = c.cls),
         |scored AS (
         |  SELECT t.doc_id, c.cls,
         |    c.prior + SUM(COALESCE(g.w, c.dflt)) AS score
         |  FROM tok2 t CROSS JOIN cls c
         |  LEFT JOIN grid g ON g.word = t.word AND g.cls = c.cls
         |  GROUP BY t.doc_id, c.cls, c.prior),
         |pred AS (
         |  SELECT doc_id, cls AS pred FROM (
         |    SELECT doc_id, cls, row_number() OVER (
         |      PARTITION BY doc_id ORDER BY score DESC, cls) AS rn
         |    FROM scored) r WHERE rn = 1)
         |SELECT COALESCE(l.weak, 'unlabeled') AS weak_label, p.pred,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM pred p LEFT JOIN labeled l USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // same rank-sum identity over the score-distinct grain
    "ml_auc_roc" ->
      """WITH d AS (
        |  SELECT n_chars AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |g AS (
        |  SELECT score, CAST(sum(pos) AS BIGINT) AS np,
        |    CAST(count(*) - sum(pos) AS BIGINT) AS nn
        |  FROM d GROUP BY 1),
        |r AS (
        |  SELECT np, nn,
        |    CAST(COALESCE(sum(nn) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS nn_below
        |  FROM g)
        |SELECT CAST(sum(np) AS BIGINT) AS n_pos,
        |  CAST(sum(nn) AS BIGINT) AS n_neg,
        |  CAST(sum(np * nn_below) AS BIGINT) AS concordant,
        |  CAST(sum(np * nn) AS BIGINT) AS tied,
        |  CAST((2 * sum(np * nn_below) + sum(np * nn)) * 10000
        |    // NULLIF(2 * sum(np) * sum(nn), 0) AS BIGINT) AS auc_bps
        |FROM r""".stripMargin,

    // same majority-vote error counts; winner vs the scalar minimum
    "ml_stump" ->
      """WITH c AS (
        |  SELECT c_mktsegment, c_nationkey,
        |    CASE WHEN c_acctbal >= 4500 THEN 1 ELSE 0 END AS pos
        |  FROM customer),
        |cands AS (
        |  SELECT 'segment' AS feature, c_mktsegment AS value,
        |    CAST(sum(pos) AS BIGINT) AS lp,
        |    CAST(count(*) - sum(pos) AS BIGINT) AS ln
        |  FROM c GROUP BY 2
        |  UNION ALL
        |  SELECT 'nation' AS feature, CAST(c_nationkey AS VARCHAR),
        |    CAST(sum(pos) AS BIGINT), CAST(count(*) - sum(pos) AS BIGINT)
        |  FROM c GROUP BY 2),
        |tot AS (
        |  SELECT CAST(sum(pos) AS BIGINT) AS tp,
        |    CAST(count(*) - sum(pos) AS BIGINT) AS tn
        |  FROM c),
        |scored AS (
        |  SELECT feature, value, lp + ln AS n_left,
        |    least(lp, ln) + least(tp - lp, tn - ln) AS errors
        |  FROM cands CROSS JOIN tot),
        |best AS (SELECT min(errors) AS min_err FROM scored)
        |SELECT feature, value, n_left, errors,
        |  CAST(CASE WHEN errors = min_err THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_best
        |FROM scored CROSS JOIN best
        |ORDER BY feature, value""".stripMargin)
}
