package graft.operators

import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, HashingTF, IDF, Normalizer, Tokenizer}
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  *    restriction), keeping the similarity join sub-quadratic.
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

      // M-qualification: customers with enough purchase history (A2).
      val quals = orders.groupBy("o_custkey")
        .agg(count(lit(1)).as("n_ord")).filter(col("n_ord") >= MIN_ORDERS)
        .select("o_custkey")
      val purch = li
        .join(orders, li("l_orderkey") === orders("o_orderkey"))
        .join(broadcast(quals), "o_custkey")
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
        .distinct()
        .cache() // reused: name lift, purchase counts, final anti-join

      // M3/M4: similarity is a function of NAMES only (parts sharing a
      // name have identical vectors), so it is computed at name level —
      // a constant-size table (64 names at every sf) instead of the
      // per-part n² matrix. Weights stay part-level ((N+1)/(df+1) with
      // df counted over parts) so scores equal the per-part formulation
      // exactly; the DuckDB oracle computes the naive per-part version
      // and hash-matches. Names are carried as integer codes (min
      // partkey per name — deterministic, data-derived) through every
      // wide shuffle: a TPC-H p_name is ~35 chars, the code is 8 bytes,
      // and the multi-million-row class table is keyed by it.
      val pname0 = part.select(col("p_partkey"), col("p_brand"), col("p_name"))
      // ONE name-grain aggregate supplies the integer name code AND the
      // per-name part count: parts sharing a name have identical term
      // sets, so df(term) = Σ over names containing the term of that
      // name's part count, and n_parts = Σ of all name sizes — the
      // part-level (p_partkey, term) explode + distinct + groupBy this
      // replaces was a part-scale exchange recomputing what the name
      // table already knows (guide §2.3: shuffle name-grain metadata,
      // not part-grain rows). Values are exact, not approximate: the
      // same integers the per-part formulation yields, oracle unchanged.
      val nameKey = pname0.groupBy("p_name")
        .agg(min(col("p_partkey")).as("nid"),
          count(lit(1)).as("n_in_name"))
        .cache()
      val pname = pname0.join(broadcast(nameKey), "p_name")
        .select(col("p_partkey"), col("p_brand"), col("nid"))
        .cache()
      val stats = nameKey.agg(sum(col("n_in_name")).as("n_parts"))
      val nterms = nameKey.select(col("nid"), col("n_in_name"),
          explode(split(col("p_name"), " ")).as("term"))
        .dropDuplicates("nid", "term")
      val dfreq = nterms.groupBy("term").agg(sum("n_in_name").as("df"))
      val ntw = nterms.select(col("nid"), col("term"))
        .join(broadcast(dfreq), "term")
        .crossJoin(broadcast(stats))
        .select(col("nid"), col("term"),
          ((col("n_parts") + lit(1.0)) / (col("df") + lit(1.0))).as("w"))
        .cache()
      val nnrm = ntw.groupBy("nid")
        .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
      val na = ntw.toDF("aid", "term", "wa")
        .join(nnrm.toDF("aid", "nrm_a"), "aid")
      val nb = ntw.toDF("bid", "term", "wb")
        .join(nnrm.toDF("bid", "nrm_b"), "bid")
      val nsim = na.join(nb, Seq("term"))
        .groupBy(col("aid"), col("bid"), col("nrm_a"), col("nrm_b"))
        .agg(sum(col("wa") * col("wb")).as("dot"))
        .select(col("aid"), col("bid"),
          (col("dot") / (col("nrm_a") * col("nrm_b"))).as("s"))

      // Purchases lifted to name level; ONE aggregate supplies both the
      // distinct purchased classes (its keys) and the per-customer
      // purchase counts used for the avail computation.
      val purchParts = purch
        .join(broadcast(pname), purch("part") === pname("p_partkey"))
        .select(col("cust"), col("p_brand"), col("nid"), col("part"))
      val purchAgg = purchParts.groupBy("cust", "p_brand", "nid")
        .agg(count(lit(1)).as("pcnt"))
        .cache()
      val classScores = purchAgg
        .join(broadcast(nsim), purchAgg("nid") === nsim("aid"))
        .groupBy(col("cust"), col("p_brand"), col("bid"))
        .agg(max(col("s")).as("score"))
      val gsize = pname.groupBy("p_brand", "nid")
        .agg(count(lit(1)).as("gsize"))
      // avail = unpurchased parts in this (brand, name) class for this
      // customer. The self-name class (bid == a purchased name) is
      // reachable via nsim(a, a) = 1 and is valid exactly when avail>0 —
      // i.e., some OTHER part with the same name exists, matching the
      // p≠q condition of the naive formulation.
      val classes = classScores
        .join(broadcast(gsize),
          classScores("p_brand") === gsize("p_brand") &&
            classScores("bid") === gsize("nid"))
        .drop(gsize("p_brand")).drop(gsize("nid"))
        .join(purchAgg.toDF("cust", "p_brand", "bid", "pcnt"),
          Seq("cust", "p_brand", "bid"), "left")
        .na.fill(0L, Seq("pcnt"))
        .withColumn("avail", col("gsize") - col("pcnt"))
        .filter(col("avail") > 0)
      // Keep a class iff fewer than TOPK parts are available in classes
      // with STRICTLY higher score (ties must all survive — equal-score
      // classes interleave by part id in the final ranking). Both frames
      // share one partitioning and ordering, so Spark evaluates them in
      // a single WindowExec over a single sort: cum-including-peers
      // minus the peer-group sum (RANGE CURRENT ROW..CURRENT ROW = the
      // tie group) is the strictly-higher total. A threshold-based
      // pre-prune (score ≥ k-th distinct score) was measured
      // NET-NEGATIVE here: the extra pass over the class table costs
      // more than the window sort it saves at this row count.
      val wOrd = Window.partitionBy("cust").orderBy(col("score").desc)
      val kept = classes
        .withColumn("cumInclPeers", sum(col("avail")).over(
          wOrd.rangeBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("peerSum", sum(col("avail")).over(
          wOrd.rangeBetween(Window.currentRow, Window.currentRow)))
        .filter(col("cumInclPeers") - col("peerSum") < TOPK)

      // Expand the surviving classes to parts, drop purchased, exact
      // top-k per customer (M5+M6).
      // EXACT expansion cap: within a (brand, name) class every part
      // shares the class score, and the final ranking tie-breaks by
      // part id ASCENDING — so only a class's (pcnt + TOPK) smallest
      // part ids can ever reach a customer's top-k (at most pcnt of
      // them are purchased, leaving ≥ TOPK unpurchased candidates
      // that dominate every larger class-mate). Expanding the full
      // class shuffled the whole catalog-grain fan-out (measured:
      // 70 MB exchange + 60 MB anti-join at sf0.1) to keep 3 rows per
      // customer; the cap shrinks the anti-join input to
      // Σ(pcnt + TOPK) rows with bit-identical output.
      val wClass = Window.partitionBy("p_brand", "nid")
        .orderBy("p_partkey")
      val pnameRanked = pname
        .withColumn("crn", row_number().over(wClass))
        .select(col("p_partkey").as("q"), col("p_brand"),
          col("nid").as("bid"), col("crn"))
      val expanded = kept
        .join(broadcast(pnameRanked), Seq("p_brand", "bid"))
        .filter(col("crn") <= col("pcnt") + TOPK)
        .select(col("cust"), col("q"), col("score"))
        .join(purch.toDF("cust", "q"), Seq("cust", "q"), "left_anti")
      val w = Window.partitionBy("cust")
        .orderBy(col("score").desc, col("q"))
      expanded.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= TOPK)
        .select(col("cust"), col("q").as("part"))
        .orderBy("cust", "rn")
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
