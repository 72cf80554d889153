package graft.operators

import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, HashingTF, IDF, Normalizer, Tokenizer}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** The reference's TF-IDF cosine-similarity product recommender
  * (streamlit/pages/1_recommendation_app.py:20-95, M1–M6) folded into
  * the engine: qualified customers (HAVING COUNT ≥ n), text
  * vectorization, per-category similar-product top-k excluding
  * already-bought, dedup. Two implementations:
  *
  *  - `ml_recommend`: DataFrame-native TF-IDF-style pipeline with
  *    rational idf weights ((N+1)/(df+1) — no transcendental functions,
  *    so the DuckDB oracle reproduces scores deterministically).
  *    Candidate pairs are blocked by brand (the reference's per-category
  *    restriction). Cosine is computed at name grain and broadcast; the
  *    purchases then take ONE shuffle, by customer, and each customer
  *    is ranked inside its partition as a bounded top-k (a heap, no
  *    sort) under an exact score bound θ:
  *      1. each unbought part of an owned class (brand, n) scores ≥ s(n, n);
  *      2. so with ≥ TOPK such parts, the k-th best score is ≥ θ = min s(n, n);
  *      3. a name pair scoring < θ cannot rank and is never joined.
  *
  *  - `ml_lsh_pipeline`: the Spark ML scale path — Tokenizer →
  *    HashingTF → IDF → L2 Normalizer → seeded
  *    BucketedRandomProjectionLSH approxSimilarityJoin. numHashTables is
  *    sized (12; recall is already exhaustive at 10 on every testdata
  *    SF, margin kept) so the candidate set is recall-complete at the
  *    1.2 distance threshold — the query then MEANS "all name pairs
  *    with Euclidean distance < 1.2 in normalized TF-IDF space", which
  *    the DuckDB oracle reproduces exactly: Spark's murmur3_x86_32
  *    (seed 42, byte-at-a-time signed tail — Murmur3_x86_32
  *    .hashUnsafeBytes) is implemented in a recursive CTE over UBIGINT
  *    arithmetic, then HashingTF-mod-256 / IDF ln((m+1)/(df+1)) /
  *    L2-normalize / exact pair distances. The nearest non-pair sits
  *    ~0.1 below the threshold, so double-rounding differences between
  *    engines cannot flip membership.
  */
object Recommender extends graft.QuerySet {
  private val MIN_ORDERS = 12
  private val TOPK = 3

  val queries: Map[String, Q] = Map(
    "ml_recommend" -> ((s, dir) => {
      val orders = Tables(s, dir, "orders")
      val li = Tables(s, dir, "lineitem")
      val part = Tables(s, dir, "part")

      // M3/M4 at name grain: parts sharing a name have identical term
      // sets, so cosine is a function of the two names (64 names at
      // every sf). The weights (N+1)/(df+1), with df and N counted over
      // parts, are rational, with no logarithm, so the DuckDB oracle's
      // naive per-part formulation reproduces every score exactly.
      def terms(names: Column) = explode(array_distinct(split(names, " ")))
      val tw = part.select(terms(col("p_name")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(part.agg(count(lit(1)).as("n_parts"))))
        .select(col("term"),
          ((col("n_parts") + lit(1.0)) / (col("df") + lit(1.0))).as("w"))
      // One row per (name, term) with the name's norm: the vector is
      // built by one aggregate in the name partitioning, so the pair
      // join below needs no exchange and sums in a fixed term order.
      val nvec = part.select(col("p_name")).distinct()
        .select(col("p_name"), terms(col("p_name")).as("term"))
        .join(broadcast(tw), "term")
        .groupBy("p_name")
        .agg(collect_list(struct(col("term"), col("w"))).as("v"),
          sqrt(sum(col("w") * col("w"))).as("nrm"))
        .select(col("p_name"), col("nrm"), explode(col("v")).as("tw"))
        .select(col("p_name"), col("tw.term").as("term"), col("tw.w").as("w"),
          col("nrm"))
      val nsim = nvec.toDF("aid", "term", "wa", "nrm_a")
        .join(broadcast(nvec.toDF("bid", "term", "wb", "nrm_b")), "term")
        .groupBy(col("aid"), col("bid"), col("nrm_a"), col("nrm_b"))
        .agg(sum(col("wa") * col("wb")).as("dot"))
        .select(col("aid"), col("bid"),
          (col("dot") / (col("nrm_a") * col("nrm_b"))).as("s"))

      // A class is one (brand, name): its parts share every score, so a
      // customer ranks classes and expands only the survivors to parts.
      // Only a class's (pcnt + TOPK) smallest part ids can rank: the
      // final order breaks score ties by part id, and at most pcnt of
      // them are bought, so TOPK unbought class-mates beat every larger
      // one.
      val wClass = Window.partitionBy("p_brand", "p_name").orderBy("p_partkey")
      val pclass = part.select(col("p_partkey"), col("p_brand"), col("p_name"),
        row_number().over(wClass).as("crn"),
        count(lit(1)).over(wClass.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)).as("gsize"))
      val pname = pclass.select(col("p_partkey"), col("p_brand"),
        col("p_name"), col("gsize"))
      val pnameRanked = pclass.select(col("p_partkey").as("q"), col("p_brand"),
        col("p_name").as("bid"), col("crn"))

      // M1: qualified customers' purchases, shuffled ONCE by customer
      // range; every step below runs inside those partitions, and the
      // range also satisfies the final ORDER BY, so the answer needs no
      // second exchange. The partition count is pinned because AQE
      // coalesces by bytes: the 16-byte rows fan out to every name pair
      // below, and coalesced they ran as one task. One aggregate lifts
      // the purchases to classes and keeps the bought parts.
      val quals = orders.groupBy("o_custkey")
        .agg(count(lit(1)).as("n_ord")).filter(col("n_ord") >= MIN_ORDERS)
        .select("o_custkey")
      val owned = li
        .join(orders, li("l_orderkey") === orders("o_orderkey"))
        .join(broadcast(quals), "o_custkey")
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
        .repartitionByRange(
          s.conf.get("spark.sql.shuffle.partitions").toInt, col("cust"))
        .join(broadcast(pname), col("part") === col("p_partkey"))
        .groupBy("cust", "p_brand", "p_name", "gsize")
        .agg(collect_set(col("part")).as("bought"))
        .withColumn("free", col("gsize") - size(col("bought")))

      // The bound θ (scaladoc): only when the owned classes hold TOPK
      // unbought parts, else −∞. Ties at θ survive (`>=`). A class's own
      // pair is always kept, whatever its score: it carries the bought
      // parts of a bought-out class that a cross pair may still reach.
      // The self scores come from the same nsim, so θ and the scores it
      // bounds are the same doubles.
      val selfSim = nsim.groupBy("aid")
        .agg(max(when(col("aid") === col("bid"), col("s"))).as("self"))
      val perCust = Window.partitionBy("cust")
      val self = col("p_name") === col("bid")
      val classes = owned
        .join(broadcast(selfSim), col("p_name") === col("aid"))
        .withColumn("theta",
          when(sum(col("free")).over(perCust) >= TOPK,
            min(when(col("free") > 0, col("self"))).over(perCust)))
        .drop("aid")
        .join(broadcast(nsim), col("p_name") === col("aid"))
        .filter(self || col("theta").isNull || col("s") >= col("theta"))
        .groupBy("cust", "p_brand", "bid")
        .agg(max(col("s")).as("score"),
          flatten(collect_list(when(self, col("bought")))).as("bought"))

      // M5/M6: expand, drop bought parts, bounded top-k per customer.
      val cands = classes
        .join(broadcast(pnameRanked), Seq("p_brand", "bid"))
        .filter(col("crn") <= size(col("bought")) + TOPK &&
          !array_contains(col("bought"), col("q")))
        .select(col("cust"), col("q"), col("score"))
      graft.plans.TopK.perGroup(cands, Seq("cust"),
          Seq("score" -> true, "q" -> false), TOPK)
        .orderBy(col("cust"), col("score").desc, col("q"))
        .select(col("cust"), col("q").as("part"))
    }),

    // Spark ML pipeline + LSH approximate similarity join (seeded).
    // Runs over the name-deduped product master (the reference's W1
    // dedup-before-similarity, 04_sales_enrich_sp.sql:43-47): parts
    // sharing a name have identical vectors, so joining the raw table
    // would explode every LSH bucket quadratically — at sf0.1 that is
    // 20k parts over 64 names, a ~300×300 duplicate blow-up per bucket.
    "ml_lsh_pipeline" -> ((s, dir) => {
      val docs = Tables(s, dir, "part")
        .groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("p_partkey"))
        .select(col("p_partkey"), col("p_name"))
      val words = new Tokenizer().setInputCol("p_name")
        .setOutputCol("words").transform(docs)
      val tf = new HashingTF().setInputCol("words").setOutputCol("tf")
        .setNumFeatures(256).transform(words)
      val idfModel = new IDF().setInputCol("tf").setOutputCol("tfidf")
        .fit(tf)
      val feats = new Normalizer().setInputCol("tfidf")
        .setOutputCol("features").setP(2.0)
        .transform(idfModel.transform(tf))
      val lsh = new BucketedRandomProjectionLSH()
        .setInputCol("features").setOutputCol("hashes")
        .setBucketLength(1.0).setNumHashTables(12).setSeed(42L)
      val model = lsh.fit(feats)
      // d² = 2 − 2·cos for unit vectors → d < 1.2 ⟺ cos > 0.28: wide
      // enough to pair distinct names sharing one of their two terms
      // (the master is name-deduped, so distance-0 self-pairs are gone)
      model.approxSimilarityJoin(feats, feats, 1.2, "dist")
        .select(col("datasetA.p_partkey").as("id1"),
          col("datasetB.p_partkey").as("id2"))
        .filter(col("id1") < col("id2"))
        .distinct()
        .orderBy("id1", "id2")
    })
  )

  val oracles: Map[String, String] = Map(
    // Mirrors the whole Spark-ML pipeline in SQL. The recursive CTE
    // `mm` is Spark's Murmur3_x86_32.hashUnsafeBytes (seed 42): 4-byte
    // little-endian blocks then ONE FULL mix round per remaining tail
    // byte (Spark's variant — standard murmur3 merges the tail into a
    // single k1). rotl is split into (x << r) % 2^32 + (x >> 32-r) on
    // UBIGINT; 32×32-bit products stay under 2^64. Feature index =
    // hash mod 256 (nonNegativeMod of a 2^32-periodic value). The LSH
    // candidate set is recall-complete at the threshold (see query
    // scaladoc), so the oracle is the exact pair set.
    "ml_lsh_pipeline" ->
      """WITH RECURSIVE
        |docs AS (SELECT p_name, min(p_partkey) AS pk FROM part GROUP BY p_name),
        |toks AS (SELECT pk, unnest(string_split(lower(p_name), ' ')) AS w FROM docs),
        |vocab AS (SELECT DISTINCT w FROM toks),
        |mm(w, nb, i, h) AS (
        |  SELECT w, length(w), 0, CAST(42 AS UBIGINT) FROM vocab
        |  UNION ALL
        |  SELECT w, nb, i + 1, (hb * 5 + 3864292196) % 4294967296
        |  FROM (
        |    SELECT w, nb, i, h,
        |      CAST(CASE WHEN i < nb // 4
        |        THEN ord(substr(w, 4*i+1, 1)) + ord(substr(w, 4*i+2, 1)) * 256
        |           + ord(substr(w, 4*i+3, 1)) * 65536 + ord(substr(w, 4*i+4, 1)) * 16777216
        |        ELSE ord(substr(w, (nb // 4) * 4 + (i - nb // 4) + 1, 1)) END AS UBIGINT) AS kraw,
        |      (kraw * 3432918353) % 4294967296 AS k1a,
        |      (k1a * 32768) % 4294967296 + k1a // 131072 AS k1b,
        |      (k1b * 461845907) % 4294967296 AS k1c,
        |      xor(h, k1c) AS ha,
        |      (ha * 8192) % 4294967296 + ha // 524288 AS hb
        |    FROM mm WHERE i < nb // 4 + nb % 4) step
        |),
        |hfin AS (
        |  SELECT w, h FROM (
        |    SELECT w, h, row_number() OVER (PARTITION BY w ORDER BY i DESC) AS rn FROM mm) t
        |  WHERE rn = 1
        |),
        |widx AS (
        |  SELECT w, CAST(xor(f5, f5 // 65536) % 256 AS INT) AS idx FROM (
        |    SELECT w,
        |      xor(h, CAST(length(w) AS UBIGINT)) AS f1,
        |      (xor(f1, f1 // 65536) * 2246822507) % 4294967296 AS f3,
        |      (xor(f3, f3 // 8192) * 3266489909) % 4294967296 AS f5
        |    FROM hfin) c
        |),
        |tf AS (
        |  SELECT t.pk, x.idx, CAST(count(*) AS DOUBLE) AS tf
        |  FROM toks t JOIN widx x ON t.w = x.w
        |  GROUP BY 1, 2
        |),
        |m AS (SELECT count(*) AS m FROM docs),
        |idf AS (SELECT idx, ln((m.m + 1.0) / (count(*) + 1.0)) AS idf FROM tf, m GROUP BY idx, m.m),
        |tw AS (SELECT tf.pk, tf.idx, tf.tf * idf.idf AS v FROM tf JOIN idf USING (idx)),
        |nrm AS (SELECT pk, sqrt(sum(v * v)) AS nrm FROM tw GROUP BY pk),
        |feat AS (SELECT tw.pk, tw.idx, tw.v / nrm.nrm AS v FROM tw JOIN nrm USING (pk)),
        |cand AS (
        |  SELECT DISTINCT a.pk AS id1, b.pk AS id2
        |  FROM feat a JOIN feat b ON a.idx = b.idx AND a.pk < b.pk),
        |u AS (
        |  SELECT c.id1, c.id2, f.idx,
        |    sum(CASE WHEN f.pk = c.id1 THEN f.v ELSE 0 END) AS va,
        |    sum(CASE WHEN f.pk = c.id2 THEN f.v ELSE 0 END) AS vb
        |  FROM cand c JOIN feat f ON f.pk = c.id1 OR f.pk = c.id2
        |  GROUP BY 1, 2, 3),
        |sq AS (SELECT id1, id2, sum((va - vb) * (va - vb)) AS sqd FROM u GROUP BY 1, 2)
        |SELECT id1, id2 FROM sq WHERE sqrt(sqd) < 1.2 ORDER BY id1, id2""".stripMargin,

    "ml_recommend" ->
      s"""WITH quals AS (
         |  SELECT o_custkey FROM orders GROUP BY o_custkey
         |  HAVING count(*) >= $MIN_ORDERS),
         |purch AS (
         |  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE o_custkey IN (SELECT o_custkey FROM quals)),
         |terms AS (
         |  SELECT DISTINCT p_partkey, unnest(string_split(p_name, ' ')) AS term
         |  FROM part),
         |stats AS (SELECT count(*) AS n FROM part),
         |dfreq AS (SELECT term, count(*) AS df FROM terms GROUP BY term),
         |tw AS (
         |  SELECT t.p_partkey, t.term, (stats.n + 1.0) / (dfreq.df + 1.0) AS w
         |  FROM terms t, stats JOIN dfreq ON t.term = dfreq.term),
         |nrm AS (SELECT p_partkey, sqrt(sum(w * w)) AS nrm
         |        FROM tw GROUP BY p_partkey),
         |sim AS (
         |  SELECT a.p_partkey AS p, b.p_partkey AS q,
         |    sum(a.w * b.w) / (na.nrm * nb.nrm) AS s
         |  FROM tw a
         |  JOIN tw b ON a.term = b.term
         |  JOIN part pa ON a.p_partkey = pa.p_partkey
         |  JOIN part pb ON b.p_partkey = pb.p_partkey
         |    AND pa.p_brand = pb.p_brand AND a.p_partkey <> b.p_partkey
         |  JOIN nrm na ON a.p_partkey = na.p_partkey
         |  JOIN nrm nb ON b.p_partkey = nb.p_partkey
         |  GROUP BY 1, 2, na.nrm, nb.nrm),
         |scored AS (
         |  SELECT pu.cust, s.q AS part, max(s.s) AS score
         |  FROM purch pu JOIN sim s ON pu.part = s.p
         |  WHERE NOT EXISTS (SELECT 1 FROM purch p2
         |                    WHERE p2.cust = pu.cust AND p2.part = s.q)
         |  GROUP BY 1, 2)
         |SELECT cust, part FROM (
         |  SELECT cust, part,
         |    row_number() OVER (PARTITION BY cust
         |                       ORDER BY score DESC, part) AS rn
         |  FROM scored) t
         |WHERE rn <= $TOPK ORDER BY cust, rn""".stripMargin
  )
}
