package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus lexical statistics beyond raw counts: per-document keyword
  * extraction (tf-idf ranking) and corpus-level collocation mining
  * (PMI ranking) — the two signals a training-data pipeline uses to
  * tag documents with topics and to discover multi-word expressions
  * worth protecting from tokenizer splits.
  *
  * Both scores are kept INTEGER-EXACT: ranking by tf-idf and PMI only
  * needs the score's ORDER, and tf·N/df (resp. c12·T/(c1·c2)) is
  * monotone in the true log score, so both rank on the
  * integer-division-scaled ratio instead of a float logarithm — the
  * cross-engine hash stays bit-stable (the same reason the quality
  * classifier and BM25 use scaled-integer scores).
  *
  * Scale shapes: keyword extraction is two token-keyed aggregations
  * (tf, df) + a doc-keyed top-k window over tf-sized data; PMI is one
  * bigram aggregation + two unigram rejoins (dimension-sized, left to
  * stats/AQE) + a global top-k (orderBy+limit = TakeOrdered, never a
  * full sort at the driver).
  */
object Collocations extends graft.QuerySet {
  private def tokens(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "term")))

  val queries: Map[String, Q] = Map(
    // top-3 keywords per document by integer-scaled tf-idf
    // (score = tf·1e6 div df) — ubiquitous terms score low through
    // the df denominator itself, so no separate stopword cut (this
    // corpus's vocabulary is small and dense; an absolute df cut
    // would empty it)
    "ts_keywords" -> ((s, dir) => {
      val tok = tokens(s, dir)
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term")
        .agg(count(lit(1)).as("df")) // docs containing term
      tf.join(df, "term")
        .withColumn("score", expr("tf * 1000000 div df"))
        .withColumn("rk", row_number().over(Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("term"))))
        .filter(col("rk") <= 3)
        .select("doc_id", "rk", "term", "score")
        .orderBy("doc_id", "rk")
    }),

    // top-50 collocations by integer-scaled PMI over adjacent bigrams:
    // ratio_pm = c12·T·1000 div (c1·c2), c12 ≥ 3 (rare-pair PMI is
    // noise — the standard minimum-support cut)
    "ta_pmi_pairs" -> ((s, dir) => {
      val tok = tokens(s, dir)
      val big = tok
        .withColumn("w2", lead("term", 1).over(
          Window.partitionBy("doc_id").orderBy("pos")))
        .filter(col("w2").isNotNull)
        .select(col("term").as("w1"), col("w2"))
      val c12 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 3)
      val uni = tok.groupBy(col("term")).agg(count(lit(1)).as("c"))
      val t = tok.select(count(lit(1)).as("t_tokens"))
      c12
        .join(uni.select(col("term").as("w1"), col("c").as("c1")), "w1")
        .join(uni.select(col("term").as("w2"), col("c").as("c2")), "w2")
        .crossJoin(t)
        .withColumn("pmi_pm", expr("c12 * t_tokens * 1000 div (c1 * c2)"))
        .select("w1", "w2", "c12", "c1", "c2", "pmi_pm")
        .orderBy(col("pmi_pm").desc, col("w1"), col("w2"))
        .limit(50)
    })
  )

  val oracles: Map[String, String] = Map(
    "ts_keywords" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT doc_id, term, tf * 1000000 // df AS score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tf * 1000000 // df DESC, term) AS rk
        |  FROM tf JOIN df USING (term))
        |SELECT doc_id, rk, term, score FROM sc WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,

    "ta_pmi_pairs" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS term FROM w),
        |big AS (
        |  SELECT unnest(list_transform(range(1, len(w)),
        |    i -> struct_pack(w1 := w[i], w2 := w[i + 1]))) AS s
        |  FROM w),
        |c12 AS (
        |  SELECT s.w1 AS w1, s.w2 AS w2, count(*) AS c12 FROM big
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |uni AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
        |t AS (SELECT count(*) AS t_tokens FROM tok)
        |SELECT c12.w1, c12.w2, c12, u1.c AS c1, u2.c AS c2,
        |  c12 * t_tokens * 1000 // (u1.c * u2.c) AS pmi_pm
        |FROM c12
        |JOIN uni u1 ON u1.term = c12.w1
        |JOIN uni u2 ON u2.term = c12.w2
        |CROSS JOIN t
        |ORDER BY pmi_pm DESC, c12.w1, c12.w2 LIMIT 50""".stripMargin
  )
}
