package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Product-quantization ANN (Jégou et al. 2011, "Product quantization
  * for nearest neighbor search"): the third point on the repo's ANN
  * cost/recall curve after IVF (prune the corpus) and SQ8 (shrink the
  * bytes) — PQ shrinks distance COMPUTATION: 64 dims → M=8 sub-vectors,
  * each coded to one of 16 learned centroids, so a corpus vector is 8
  * small ints and a query-to-vector distance is 8 table lookups (ADC)
  * instead of 64 multiplies. Candidates by ADC distance, exact rerank
  * on the full vectors.
  *
  * All arithmetic rides the Clustering primitives' integer-exact frame:
  * unit-normalize, quantize to 10⁻⁴ units (`floor(u·10⁴ + 0.5)`), then
  * every codebook train / encode / LUT / ADC / rerank step is BIGINT —
  * the DuckDB oracle replays it bit-for-bit. Codebooks train with one
  * Lloyd round per subspace (init = first 16 sub-vectors); a cell that
  * empties KEEPS its init centroid, so every codebook stays exactly 16
  * rows and the flattened 128-entry LUT array indexes by m·16+code on
  * both engines.
  *
  * At 100 TB: codebooks are 8×16×8 longs (model parameters), encoding
  * is one map-side pass, and the ADC scan is the NQ-row LUT table
  * broadcast across the coded corpus — the only wide state is the
  * 8-byte-per-vector code table, 32× smaller than the float corpus.
  * Rerank fetches full vectors for RERANK rows per query, not n.
  */
object ProductQuant extends graft.QuerySet {
  private val M = 8       // subspaces
  private val DSUB = 8    // dims per subspace
  private val CB = 16     // codebook entries per subspace
  private val NQ = 10     // query vectors: vec_id < NQ
  private val TOPK = 5
  private val RERANK = 40 // ADC candidates reranked exactly
  private val DIST2 =
    "aggregate(zip_with(%s, %s, (a, b) -> (a - b) * (a - b)), " +
      "0L, (acc, v) -> acc + v)"

  /** Quantize a float-array column to unit-milli BIGINT coordinates —
    * identical double-op order to the oracle's spelling. */
  private def quantize(df: DataFrame, idCol: Column,
                       vecCol: String): DataFrame =
    df.select(idCol.as("vec_id"), expr(
      s"""transform($vecCol, x -> cast(floor(cast(x as double) /
         |  sqrt(aggregate($vecCol, 0.0d,
         |    (acc, y) -> acc + cast(y as double) * cast(y as double)))
         |  * 10000.0d + 0.5d) as bigint))""".stripMargin).as("q"))

  /** PQ/ADC top-k of `queries` against `corpus`, both (id, vector)
    * frames with 64-dim float vectors. Codebooks train on the CORPUS
    * (its CB lowest-id vectors seed each subspace, one Lloyd round);
    * query batches ride broadcasts. Same-id pairs are excluded.
    *
    * The index artifacts (quantized corpus, codebooks, code table) go
    * through `index`: facade callers build them inline per run
    * ([[graft.sources.Materialize.cached]]); the named query persists
    * them once per (session, sf-dir), the train/search split every
    * production PQ deployment has — codebooks train at ingest, queries
    * pay LUT + ADC + rerank only. */
  private[graft] def pqTopKOf(queries: DataFrame, corpus: DataFrame,
                              k: Int, rerank: Int,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding",
                              index: graft.sources.Materialize.Index =
                                graft.sources.Materialize.cached): DataFrame = {
      val e = index("ann_qvecs", () => quantize(corpus, col(idCol), vecCol))
      val q0 = quantize(queries, col(idCol), vecCol)
      pqCore(q0, e, k, rerank, index, "pq")
  }

  /** OPQ-style learned DIMENSION ALLOCATION (Ge et al. CVPR'13,
    * "Optimized Product Quantization", public — the parametric
    * balanced-allocation idea restricted to the coordinate basis): the
    * full OPQ rotation is a float SVD per iteration, which this repo's
    * integer-exact oracle idiom cannot replay bit-for-bit — but a
    * PERMUTATION is the orthogonal family's exactly-replayable member.
    * Rank dimensions by their corpus second moment (exact BIGINT sums
    * over the quantized frame) and deal them to the M subspaces in
    * SNAKE order (round r gives every subspace one dim, alternating
    * direction), balancing per-subspace energy the way Ge's eigenvalue
    * allocation balances eigenvalue products — so no codebook wastes
    * its 16 cells on a subspace of near-zero-variance dims while
    * another starves. L2 is permutation-invariant, so ADC candidates
    * change (that is the point) but the exact rerank distances are
    * identical to PQ's. The 64-long energy collect is model-parameter
    * scale (one value per dimension). */
  private[graft] def learnedPermutation(e: DataFrame,
                                        vecCol: String = "q"): Seq[Int] = {
    val energy = e.select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy("pos").agg(sum(expr("x * x")).as("en"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val ranked = energy.sortBy { case (p, en) => (-en, p) }.map(_._1)
    val bySub = Array.fill(M)(
      scala.collection.mutable.ArrayBuffer.empty[Int])
    ranked.zipWithIndex.foreach { case (dim, r) =>
      val m = if ((r / M) % 2 == 0) r % M else M - 1 - r % M
      bySub(m) += dim
    }
    bySub.toSeq.flatMap(_.toSeq)
  }

  /** PQ/ADC top-k over the [[learnedPermutation]]-reordered vectors —
    * identical pipeline, seeds, and rerank as [[pqTopKOf]] at the same
    * code size (M×CB unchanged); only the subspace SPLIT differs. The
    * permutation is learned from the corpus and applied to queries
    * identically; index artifacts take the `opq` prefix so the two
    * variants' materialized codebooks never collide. */
  private[graft] def opqTopKOf(queries: DataFrame, corpus: DataFrame,
                               k: Int, rerank: Int,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding",
                               index: graft.sources.Materialize.Index =
                                 graft.sources.Materialize.cached): DataFrame = {
    val e0 = index("ann_qvecs", () => quantize(corpus, col(idCol), vecCol))
    val perm = learnedPermutation(e0)
    require(perm.sorted == (0 until M * DSUB), s"not a permutation: $perm")
    def permute(df: DataFrame): DataFrame =
      df.select(col("vec_id"), expr(
        s"transform(array(${perm.mkString(",")}), " +
          "i -> element_at(q, i + 1))").as("q"))
    val e = index("opq_pvecs", () => permute(e0))
    val q0 = permute(quantize(queries, col(idCol), vecCol))
    pqCore(q0, e, k, rerank, index, "opq")
  }

  /** The shared train/encode/LUT/ADC/rerank pipeline over
    * already-quantized (vec_id, q) frames; `prefix` namespaces the
    * materialized index artifacts per variant. */
  private def pqCore(q0: DataFrame, e: DataFrame, k: Int, rerank: Int,
                     index: graft.sources.Materialize.Index,
                     prefix: String): DataFrame = {
      // ONE keyed plan for all M subspaces — m is a join/group key, not
      // a plan-duplication axis: training shuffles stay O(Lloyd rounds)
      // instead of O(M·rounds), and centroid joins are broadcast
      // equi-joins on m (an earlier per-subspace draft planned 107
      // shuffles at M=8; this shape plans ~10)
      def subs(df: DataFrame, inCol: String, outCol: String): DataFrame =
        df.select(col(inCol).as(outCol), posexplode(expr(
          s"transform(sequence(0, ${M - 1}), " +
            s"m -> slice(q, m * $DSUB + 1, $DSUB))")).as(Seq("m", "sq")))
      val subv = subs(e, "vec_id", "vec_id")
      // seed cids re-key densely to 0..CB-1 (CB lowest corpus ids, a
      // CB-row frame): the ADC fold below indexes the flattened LUT by
      // m·CB+code, which needs dense code values whatever the caller's
      // id space looks like
      val seeds = e.orderBy("vec_id").limit(CB)
        .select((row_number().over(Window.orderBy("vec_id")) - 1)
          .cast("long").as("cid"), col("q"))
      val init = subs(seeds, "cid", "cid")
        .select(col("cid"), col("m"), col("sq").as("cq"))
      // nearest centroid per (vector, subspace); exact integer distance,
      // ties to the lower cid — the Clustering.assign contract, keyed
      def assignM(cents: DataFrame): DataFrame = {
        val w = Window.partitionBy("vec_id", "m")
          .orderBy(col("dist"), col("cid"))
        subv.join(broadcast(cents), "m")
          .withColumn("dist", expr(DIST2.format("sq", "cq")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("vec_id", "m", "sq", "cid")
      }
      val re = assignM(init)
        .select(col("m"), col("cid"), posexplode(col("sq"))
          .as(Seq("pos", "x")))
        .groupBy("m", "cid", "pos")
        .agg(floor(sum("x").cast("double") / count(lit(1)))
          .cast("long").as("mm"))
        .groupBy("m", "cid")
        .agg(expr("transform(array_sort(collect_list(struct(pos, mm))), " +
          "s -> s.mm)").as("cq"))
      // empty cells keep their init centroid: the codebook is always
      // exactly M·CB rows, so the LUT flattening stays aligned
      val cb = index(s"${prefix}_cb", () =>
        re.unionByName(init.join(re, Seq("m", "cid"), "left_anti")))
      val codes = index(s"${prefix}_codes", () => assignM(cb)
        .select(col("vec_id"), col("m"), col("cid").as("code"))
        .groupBy("vec_id")
        .agg(expr("transform(array_sort(collect_list(struct(m, code))), " +
          "s -> s.code)").as("codes")))
      val luts = subs(q0, "vec_id", "qid")
        .join(broadcast(cb), "m")
        .select(col("qid"), col("m"), col("cid"),
          expr(DIST2.format("sq", "cq")).as("d"))
        .groupBy("qid")
        .agg(expr("transform(array_sort(collect_list(struct(m, cid, d))), " +
          "s -> s.d)").as("lut"))
      val wA = Window.partitionBy("qid").orderBy(col("approx"), col("nid"))
      val cand = codes.withColumnRenamed("vec_id", "nid")
        .crossJoin(broadcast(luts))
        .filter(col("nid") =!= col("qid"))
        .withColumn("approx", expr(
          s"aggregate(transform(codes, (c, m) -> " +
            s"element_at(lut, cast(m * $CB + c + 1 as int))), " +
            s"0L, (acc, v) -> acc + v)"))
        .withColumn("arn", row_number().over(wA))
        .filter(col("arn") <= rerank)
        .select("qid", "nid")
      val full = e.select(col("vec_id").as("nid"), col("q").as("nv"))
      val qfull = q0.select(col("vec_id").as("qid"), col("q").as("qv"))
      val wT = Window.partitionBy("qid").orderBy(col("dist"), col("nid"))
      cand
        .join(full, "nid")
        .join(broadcast(qfull), "qid")
        .withColumn("dist", expr(DIST2.format("qv", "nv")))
        .withColumn("rn", row_number().over(wT))
        .filter(col("rn") <= k)
        .select("qid", "nid", "dist")
        .orderBy("qid", "dist", "nid")
  }

  val queries: Map[String, Q] = Map(
    "sim_pq_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      pqTopKOf(emb.filter(col("vec_id") < NQ), emb, TOPK, RERANK,
        index = graft.sources.Materialize.indexOf(s, dir))
    }),

    // OPQ dimension allocation (see opqTopKOf): same code size, the
    // subspace split learned from the corpus energy profile instead of
    // taken in natural order. The oracle replays the whole learned
    // index - energy ranking, snake allocation, permutation, training,
    // ADC, rerank - bit-for-bit.
    "sim_opq_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      opqTopKOf(emb.filter(col("vec_id") < NQ), emb, TOPK, RERANK,
        index = graft.sources.Materialize.indexOf(s, dir))
    })
  )

  /** Distance between two DSUB-long lists, DuckDB spelling. */
  private def d2(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, ${DSUB + 1}),
       |          i -> ($a[i] - $b[i]) * ($a[i] - $b[i])),
       |          (x, y) -> x + y)""".stripMargin

  /** Subspace m's codebook-train + encode + LUT CTE block. */
  private def subspaceSql(m: Int): String =
    s"""sub$m AS (
       |  SELECT vec_id,
       |    list_transform(range(1, ${DSUB + 1}), i -> q[${m * DSUB} + i])
       |      AS q
       |  FROM e),
       |cbi$m AS (
       |  SELECT rn - 1 AS cid, cq FROM (
       |    SELECT row_number() OVER (ORDER BY vec_id) AS rn, q AS cq
       |    FROM sub$m) s
       |  WHERE rn <= $CB),
       |a$m AS (
       |  SELECT vec_id, q, cid FROM (
       |    SELECT vec_id, q, cid,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY dist, cid) AS rn
       |    FROM (SELECT n.vec_id, n.q, c.cid,
       |            ${d2("n.q", "c.cq")} AS dist
       |          FROM sub$m n, cbi$m c) d) x
       |  WHERE rn = 1),
       |cbr$m AS (
       |  SELECT cid, list(mm ORDER BY i) AS cq FROM (
       |    SELECT a.cid, g.i,
       |      CAST(floor(CAST(sum(a.q[g.i]) AS DOUBLE) / count(*))
       |           AS BIGINT) AS mm
       |    FROM a$m a, generate_series(1, $DSUB) g(i)
       |    GROUP BY a.cid, g.i) s
       |  GROUP BY cid),
       |cb$m AS (
       |  SELECT cid, cq FROM cbr$m
       |  UNION ALL
       |  SELECT cid, cq FROM cbi$m
       |  WHERE cid NOT IN (SELECT cid FROM cbr$m)),
       |code$m AS (
       |  SELECT vec_id, $m AS m, cid AS code FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY dist, cid) AS rn
       |    FROM (SELECT n.vec_id, c.cid,
       |            ${d2("n.q", "c.cq")} AS dist
       |          FROM sub$m n, cb$m c) d) x
       |  WHERE rn = 1),
       |lut$m AS (
       |  SELECT s.vec_id AS qid, $m AS m, c.cid,
       |    ${d2("s.q", "c.cq")} AS d
       |  FROM sub$m s, cb$m c WHERE s.vec_id < $NQ)""".stripMargin

  /** The quantize CTE body, named. */
  private def quantizeSql(name: String): String =
    s"""$name AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) /
       |      sqrt(list_reduce(
       |        list_transform(embedding,
       |          y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)),
       |        (acc, z) -> acc + z))
       |      * 10000.0 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings)""".stripMargin

  /** Everything downstream of the `e` CTE — shared verbatim by the PQ
    * and OPQ oracles (the pipelines differ only in what `e` holds). */
  private def pqOracleTail: String =
    s"""${(0 until M).map(subspaceSql).mkString(",\n")},
       |codes AS (${(0 until M).map(m => s"SELECT * FROM code$m")
          .mkString(" UNION ALL ")}),
       |luts AS (${(0 until M).map(m => s"SELECT * FROM lut$m")
          .mkString(" UNION ALL ")}),
       |adc AS (
       |  SELECT l.qid, ct.vec_id AS nid, sum(l.d) AS approx
       |  FROM codes ct JOIN luts l ON l.m = ct.m AND l.cid = ct.code
       |  WHERE ct.vec_id <> l.qid
       |  GROUP BY l.qid, ct.vec_id),
       |cand AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |      row_number() OVER (PARTITION BY qid
       |                         ORDER BY approx, nid) AS arn
       |    FROM adc) x WHERE arn <= $RERANK)
       |SELECT qid, nid, dist FROM (
       |  SELECT c.qid, c.nid,
       |    ${d2Full("eq.q", "en.q")} AS dist,
       |    row_number() OVER (PARTITION BY c.qid
       |                       ORDER BY ${d2Full("eq.q", "en.q")},
       |                                c.nid) AS rn
       |  FROM cand c
       |  JOIN e en ON en.vec_id = c.nid
       |  JOIN e eq ON eq.vec_id = c.qid) x
       |WHERE rn <= $TOPK ORDER BY qid, dist, nid""".stripMargin

  val oracles: Map[String, String] = Map(
    // same normalize/quantize/train/encode/ADC/rerank arithmetic; the
    // ADC sum is a join on (m, code) here vs an array fold in Spark —
    // identical integer sums either way. Seeds mirror the Spark side's
    // rule exactly (CB lowest vec_ids, densely re-keyed 0..CB-1 by
    // row_number), so the gate stays valid on id spaces that don't
    // start dense at 0
    "sim_pq_topk" ->
      s"""WITH ${quantizeSql("e")},
         |$pqOracleTail""".stripMargin,

    // OPQ allocation replayed in full: per-dimension second moments
    // over the quantized corpus, energy-desc ranking (ties to the
    // lower index), snake allocation over the M subspaces, the
    // permutation applied before the IDENTICAL pipeline tail — both
    // engines must learn the same permutation and train the same
    // codebooks bit-for-bit. DuckDB lists are 1-based where Spark's
    // element_at(q, i+1) reads a 0-based perm — the same reorder.
    "sim_opq_topk" ->
      s"""WITH ${quantizeSql("e0")},
         |en AS (
         |  SELECT g.i, sum(q[g.i] * q[g.i]) AS en
         |  FROM e0, generate_series(1, ${M * DSUB}) g(i) GROUP BY g.i),
         |rk AS (
         |  SELECT i, row_number() OVER (ORDER BY en DESC, i) - 1 AS r
         |  FROM en),
         |al AS (
         |  SELECT i,
         |    CASE WHEN (r // $M) % 2 = 0 THEN r % $M
         |         ELSE $M - 1 - (r % $M) END AS m,
         |    r // $M AS slot
         |  FROM rk),
         |pm AS (SELECT list(i ORDER BY m, slot) AS perm FROM al),
         |e AS (
         |  SELECT vec_id, list_transform(pm.perm, j -> q[j]) AS q
         |  FROM e0, pm),
         |$pqOracleTail""".stripMargin
  )

  /** Full 64-dim integer distance, DuckDB spelling. */
  private def d2Full(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, ${M * DSUB + 1}),
       |          i -> ($a[i] - $b[i]) * ($a[i] - $b[i])),
       |          (x, y) -> x + y)""".stripMargin
}
