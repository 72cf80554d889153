package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** IVF-PQ — the composite ANN index production systems actually run
  * (Jégou et al. 2011 §V: coarse quantizer + product quantization of
  * the RESIDUAL): IVF prunes the corpus to a few probed cells, PQ
  * shrinks distance computation inside them, and quantizing residuals
  * (vector − its cell centroid) instead of raw vectors spends the
  * codebook's 16 cells on local structure — the composition completes
  * the repo's ANN curve (brute → IVF → SQ8 → PQ → IVF-PQ).
  *
  * Pipeline, all in the unit-milli BIGINT frame of ProductQuant:
  *  1. coarse cells: the C lowest-id corpus vectors, densely re-keyed
  *     (the sim_ivf_topk rule — `Vectors.kmeans` output plugs in as a
  *     trained replacement);
  *  2. every vector assigns to its nearest cell (exact integer
  *     distance, ties to the lower cell) and leaves a residual
  *     r = q − cq (exact BIGINT subtraction);
  *  3. per-subspace PQ codebooks train on residuals (one Lloyd round,
  *     seeds = residuals of the CB lowest ids, empty cells keep their
  *     seed) and every residual encodes to M small ints;
  *  4. a query probes its P nearest cells; its PER-CELL residual
  *     builds a per-(query, cell) LUT against the codebooks;
  *  5. ADC scans ONLY the probed cells' codes (equi-join on cell id),
  *     exact rerank of the top candidates on the full vectors.
  *
  * At 100 TB: the coarse table and codebooks are model parameters
  * (C + M·CB rows), codes are M bytes/vector partitioned BY CELL — a
  * query touches ~P/C of the code table via an equi-join, and the
  * only full-vector reads are RERANK rows per query. Every arithmetic
  * step is integer-exact, so the DuckDB oracle replays the entire
  * index build and search bit-for-bit.
  */
object IvfPq extends graft.QuerySet {
  private val C = 16      // coarse cells
  private val PROBES = 4  // cells probed per query
  private val M = 8       // PQ subspaces
  private val DSUB = 8    // dims per subspace
  private val CB = 16     // codebook entries per subspace
  private val NQ = 10     // query vectors: vec_id < NQ
  private val TOPK = 5
  private val RERANK = 40
  // adaptive escalation (round 14 — see adaptiveRerankTopKOf): widen
  // the exact-rerank budget to ESC_RERANK for exactly the queries
  // whose ADC margin at the narrow cut is tight — a_k = 0 (a complete
  // ADC tie at the top, the degenerate maximally-tight case) or
  // (a_cut − a_k)·AD_DEN ≤ a_k·AD_NUM, i.e. the RERANK-th ADC
  // distance within 3.5× of the TOPK-th. The 3.5× point is MEASURED,
  // not folklore: on the easy regime (sf0.01 base) the 40th ADC
  // distance sits 40–60× beyond the 5th (the probed cells run out of
  // near candidates and the tail is honest-far), while on
  // replica-dense corpora (sf0.1 and its x10/x30) every query's ratio
  // is 1.4–3.4 — the distributions don't touch, so the threshold
  // cleanly classifies the regime per query.
  private val ESC_RERANK = 160
  private val AD_NUM = 5
  private val AD_DEN = 2
  private val DIST2 =
    "aggregate(zip_with(%s, %s, (a, b) -> (a - b) * (a - b)), " +
      "0L, (acc, v) -> acc + v)"

  private def quantize(df: DataFrame, vecCol: String): DataFrame =
    df.select(col("vec_id"), expr(
      s"""transform($vecCol, x -> cast(floor(cast(x as double) /
         |  sqrt(aggregate($vecCol, 0.0d,
         |    (acc, y) -> acc + cast(y as double) * cast(y as double)))
         |  * 10000.0d + 0.5d) as bigint))""".stripMargin).as("q"))

  /** IVF-PQ top-k of `queries` against `corpus`, both (vec_id, v)
    * float-vector frames. Index artifacts (quantized corpus, coarse
    * cells, residuals, codebooks, cell-keyed code table) thread through
    * `index` — inline+cached for facade callers, persisted once per
    * (session, sf-dir) by the named query, so steady runs pay probe +
    * LUT + cell-pruned ADC + rerank only (the FAISS train/add vs
    * search split). */
  private[graft] def ivfPqTopKOf(queries: DataFrame, corpus: DataFrame,
                                 k: Int, probes: Int,
                                 rerank: Int,
                                 index: graft.sources.Materialize.Index =
                                   graft.sources.Materialize.cached,
                                 opq: Boolean = false): DataFrame = {
    val (ranked, full, qfull) = adcRanked(queries, corpus, probes,
      index, opq)
    val cand = ranked
      .filter(col("arn") <= rerank)
      .select("qid", "nid")
    rerankExact(cand, full, qfull, k)
      .select("qid", "nid", "dist")
      .orderBy("qid", "dist", "nid")
  }

  /** ADAPTIVE rerank budget (round 14 — the operating point the
    * round-13 knob sweep demanded: at the x30 soak the fixed
    * rerank=40 cut, not cell pruning, binds IVF-PQ recall — probes
    * 4→8 changes nothing, rerank 40→160 triples it — while at easier
    * operating points the wide budget is 4× wasted rerank work). The
    * budget becomes a PER-QUERY decision read off the ADC margins the
    * search already computed: rank the probed cells' ADC candidates,
    * and escalate from `rerankLow` to `rerankHigh` exactly when the
    * ADC distance at the cut sits within a margin of the k-th ADC
    * distance — `(a_cut − a_k)·marginDen ≤ a_k·marginNum` with
    * a_k / a_cut the k-th / rerankLow-th ranked ADC distances. A tight
    * margin means candidates past the cut are ADC-indistinguishable
    * from the reported top-k, i.e. quantization noise (the ±ε an
    * M-subspace LUT sum carries) can reorder across the cut, so the
    * exact rerank must look deeper; a wide margin means the cut is
    * safe and the narrow budget keeps rerank cost at floor (a_k = 0 —
    * a complete ADC tie at the top — counts as maximally tight). Every
    * quantity is integer-exact off the shared index artifacts
    * (identical cells, codebooks, and codes as sim_ivfpq_topk — the
    * sweep isolates search cost), so the DuckDB oracle replays the
    * escalation rule bit-for-bit; the chosen budget is SURFACED as a
    * `budget` column on every output row, making the per-query
    * decision part of the hash-checked contract rather than an
    * invisible heuristic. At 100 TB: the stats pass is one
    * NQ-row aggregate over the already-ranked candidates, the budget
    * table an NQ-row broadcast — escalated queries read
    * rerankHigh full vectors, everyone else rerankLow. */
  private[graft] def adaptiveRerankTopKOf(
      queries: DataFrame, corpus: DataFrame,
      k: Int, probes: Int, rerankLow: Int, rerankHigh: Int,
      marginNum: Int, marginDen: Int,
      index: graft.sources.Materialize.Index =
        graft.sources.Materialize.cached,
      opq: Boolean = false): DataFrame = {
    require(rerankHigh >= rerankLow,
      s"rerankHigh ($rerankHigh) must be >= rerankLow ($rerankLow)")
    require(marginNum >= 0 && marginDen > 0,
      s"margin must be a nonnegative ratio, got $marginNum/$marginDen")
    val (ranked, full, qfull) = adcRanked(queries, corpus, probes,
      index, opq)
    val stats = ranked.groupBy("qid").agg(
      max(when(col("arn") === k, col("approx"))).as("a_k"),
      max(when(col("arn") === rerankLow, col("approx"))).as("a_cut"))
    // a_cut NULL (fewer candidates than the narrow budget) → the
    // narrow budget already reranks everything: no escalation. a_k = 0
    // → a complete ADC tie at the top (quantization-identical
    // candidates, the replica-corpus signature): maximally tight by
    // definition — the multiplicative margin alone would read it as
    // infinitely wide and skip exactly the queries that need depth.
    val bud = stats.select(col("qid"),
      when(col("a_cut").isNotNull &&
          (col("a_k") === 0L ||
            (col("a_cut") - col("a_k")) * lit(marginDen.toLong) <=
              col("a_k") * lit(marginNum.toLong)),
        lit(rerankHigh.toLong)).otherwise(lit(rerankLow.toLong))
        .as("budget"))
    val cand = ranked.join(broadcast(bud), "qid")
      .filter(col("arn") <= col("budget"))
      .select("qid", "nid", "budget")
    rerankExact(cand, full, qfull, k)
      .select("qid", "nid", "dist", "budget")
      .orderBy("qid", "dist", "nid")
  }

  /** Exact rerank tail shared by the fixed and adaptive budgets: exact
    * integer distance on the full quantized vectors for the candidate
    * rows, top-k per query. Extra columns on `cand` (e.g. the adaptive
    * `budget`) ride through. */
  private def rerankExact(cand: DataFrame, full: DataFrame,
                          qfull: DataFrame, k: Int): DataFrame = {
    val wT = Window.partitionBy("qid").orderBy(col("dist"), col("nid"))
    cand
      .join(full, "nid")
      .join(broadcast(qfull), "qid")
      .withColumn("dist", expr(DIST2.format("qv", "nv")))
      .withColumn("rn", row_number().over(wT))
      .filter(col("rn") <= k)
  }

  /** The shared IVF-PQ search head: index artifacts (built or read via
    * `index`), query probe, per-(query, cell) LUTs, and the
    * cell-pruned ADC scan RANKED per query — (qid, nid, approx, arn) —
    * plus the full-vector frames the exact rerank reads. Both budget
    * policies consume this; the artifacts are shared across them by
    * name. */
  private[graft] def adcRanked(queries: DataFrame, corpus: DataFrame,
                        probes: Int,
                        index: graft.sources.Materialize.Index,
                        opq: Boolean)
      : (DataFrame, DataFrame, DataFrame) = {
    val e = index("ann_qvecs", () => quantize(corpus, "v"))
    val q0 = quantize(queries, "v")
    val coarse = index("ivfpq_coarse", () => e.orderBy("vec_id").limit(C)
      .select((row_number().over(Window.orderBy("vec_id")) - 1)
        .cast("long").as("ccid"), col("q").as("cq")))
    def nearestCells(df: DataFrame, idOut: String, n: Int): DataFrame = {
      val w = Window.partitionBy(idOut).orderBy(col("cdist"), col("ccid"))
      df.crossJoin(broadcast(coarse))
        .withColumn("cdist", expr(DIST2.format("q", "cq")))
        .withColumn("crn", row_number().over(w))
        .filter(col("crn") <= n)
        .select(col(idOut), col("ccid"),
          expr("zip_with(q, cq, (a, b) -> a - b)").as("r"))
    }
    val resid0 = index("ivfpq_resid", () =>
      nearestCells(e.select(col("vec_id"), col("q")), "vec_id", 1))
    // OPQ ON RESIDUALS (round 13 — the production FAISS
    // `OPQxx,IVFyy,PQzz` composition, Ge CVPR'13 allocation restricted
    // to the exactly-replayable permutation family, see
    // ProductQuant.learnedPermutation): after coarse assignment, rank
    // dimensions by the RESIDUAL corpus's second moment — the energy
    // profile the codebooks actually see, which coarse subtraction
    // reshapes away from the raw corpus's — snake-deal them across the
    // M subspaces, and permute every residual (corpus and per-probe
    // query residuals identically) before training/encoding. Rerank is
    // on full unpermuted vectors; L2 is permutation-invariant, so only
    // the ADC candidate ordering changes — that is the point. The
    // 64-long energy collect is model-parameter scale.
    val permute: DataFrame => DataFrame =
      if (!opq) identity
      else {
        val perm = ProductQuant.learnedPermutation(resid0, "r")
        require(perm.sorted == (0 until M * DSUB),
          s"not a permutation: $perm")
        df => df.withColumn("r", expr(
          s"transform(array(${perm.mkString(",")}), " +
            "i -> element_at(r, i + 1))"))
      }
    // the permuted residual table is its own artifact; the raw resid
    // artifact is shared with the plain-IVFPQ variant (identical plan)
    val resid =
      if (!opq) resid0
      else index("opqivf_presid", () => permute(resid0))
    val prefix = if (opq) "opqivf" else "ivfpq"
    def subs(df: DataFrame, keep: Seq[String]): DataFrame =
      df.select(keep.map(col) :+ posexplode(expr(
        s"transform(sequence(0, ${M - 1}), " +
          s"m -> slice(r, m * $DSUB + 1, $DSUB))")).as(Seq("m", "sq")): _*)
    val subv = subs(resid, Seq("vec_id"))
    val seeds = resid.orderBy("vec_id").limit(CB)
      .select((row_number().over(Window.orderBy("vec_id")) - 1)
        .cast("long").as("cid"), col("r"))
    val init = subs(seeds.withColumnRenamed("cid", "vec_id"),
        Seq("vec_id"))
      .select(col("vec_id").as("cid"), col("m"), col("sq").as("cq"))
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
      .select(col("m"), col("cid"),
        posexplode(col("sq")).as(Seq("pos", "x")))
      .groupBy("m", "cid", "pos")
      .agg(floor(sum("x").cast("double") / count(lit(1)))
        .cast("long").as("mm"))
      .groupBy("m", "cid")
      .agg(expr("transform(array_sort(collect_list(struct(pos, mm))), " +
        "s -> s.mm)").as("cq"))
    val cb = index(s"${prefix}_cb", () =>
      re.unionByName(init.join(re, Seq("m", "cid"), "left_anti")))
    val codes = index(s"${prefix}_codes", () => assignM(cb)
      .select(col("vec_id"), col("m"), col("cid").as("code"))
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(m, code))), " +
        "s -> s.code)").as("codes"))
      .join(resid.select("vec_id", "ccid"), "vec_id"))
    val qprobe = permute(nearestCells(
      q0.select(col("vec_id").as("qid"), col("q")), "qid", probes))
    val luts = subs(qprobe, Seq("qid", "ccid"))
      .join(broadcast(cb), "m")
      .select(col("qid"), col("ccid"), col("m"), col("cid"),
        expr(DIST2.format("sq", "cq")).as("d"))
      .groupBy("qid", "ccid")
      .agg(expr("transform(array_sort(collect_list(struct(m, cid, d))), " +
        "s -> s.d)").as("lut"))
    val wA = Window.partitionBy("qid").orderBy(col("approx"), col("nid"))
    val ranked = codes.withColumnRenamed("vec_id", "nid")
      .join(broadcast(luts), "ccid")
      .filter(col("nid") =!= col("qid"))
      .withColumn("approx", expr(
        s"aggregate(transform(codes, (c, m) -> " +
          s"element_at(lut, cast(m * $CB + c + 1 as int))), " +
          s"0L, (acc, v) -> acc + v)"))
      .withColumn("arn", row_number().over(wA))
      .select("qid", "nid", "approx", "arn")
    val full = e.select(col("vec_id").as("nid"), col("q").as("nv"))
    val qfull = q0.select(col("vec_id").as("qid"), col("q").as("qv"))
    (ranked, full, qfull)
  }

  /** Incremental index maintenance — the FAISS `add` after `train`:
    * encode a NEW vector batch against an index whose coarse cells and
    * residual codebooks were trained on the BASE corpus only, with NO
    * retraining. Each new vector assigns to its nearest trained coarse
    * cell, leaves a residual, and codes per subspace against the frozen
    * codebooks; output is the (vec_id, cell, code-list) rows a code
    * table append would take. At 100 TB this is the nightly-ingest
    * path: batch cost is |batch| × (C + M·CB) broadcast distance
    * evaluations — it scales with the batch, never the corpus, the
    * same contract `dd_incremental` pins for dedup. Train-on-base
    * matters for the gate: the oracle replays the BASE-trained
    * codebooks, so a retrain leaking batch vectors into training would
    * hash-mismatch. */
  private[graft] def indexAddOf(batch: DataFrame, base: DataFrame,
      index: graft.sources.Materialize.Index =
        graft.sources.Materialize.cached): DataFrame = {
    val e = index("ivfadd_qvecs", () => quantize(base, "v"))
    val coarse = index("ivfadd_coarse", () => e.orderBy("vec_id").limit(C)
      .select((row_number().over(Window.orderBy("vec_id")) - 1)
        .cast("long").as("ccid"), col("q").as("cq")))
    def nearest(df: DataFrame): DataFrame = {
      val w = Window.partitionBy("vec_id").orderBy(col("cdist"), col("ccid"))
      df.crossJoin(broadcast(coarse))
        .withColumn("cdist", expr(DIST2.format("q", "cq")))
        .withColumn("crn", row_number().over(w))
        .filter(col("crn") === 1)
        .select(col("vec_id"), col("ccid"),
          expr("zip_with(q, cq, (a, b) -> a - b)").as("r"))
    }
    def subs(df: DataFrame): DataFrame =
      df.select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${M - 1}), " +
          s"m -> slice(r, m * $DSUB + 1, $DSUB))")).as(Seq("m", "sq")))
    def assign(subv: DataFrame, cents: DataFrame): DataFrame = {
      val w = Window.partitionBy("vec_id", "m")
        .orderBy(col("dist"), col("cid"))
      subv.join(broadcast(cents), "m")
        .withColumn("dist", expr(DIST2.format("sq", "cq")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("vec_id", "m", "sq", "cid")
    }
    val residB = index("ivfadd_resid", () =>
      nearest(e.select(col("vec_id"), col("q"))))
    // one Lloyd round per subspace on BASE residuals; empty cells keep
    // their seed — identical training rule to ivfPqTopKOf
    val cb = index("ivfadd_cb", () => {
      val subv = subs(residB)
      val seeds = residB.orderBy("vec_id").limit(CB)
        .select((row_number().over(Window.orderBy("vec_id")) - 1)
          .cast("long").as("cid"), col("r"))
      val init = subs(seeds.withColumnRenamed("cid", "vec_id"))
        .select(col("vec_id").as("cid"), col("m"), col("sq").as("cq"))
      val re = assign(subv, init)
        .select(col("m"), col("cid"),
          posexplode(col("sq")).as(Seq("pos", "x")))
        .groupBy("m", "cid", "pos")
        .agg(floor(sum("x").cast("double") / count(lit(1)))
          .cast("long").as("mm"))
        .groupBy("m", "cid")
        .agg(expr("transform(array_sort(collect_list(struct(pos, mm))), " +
          "s -> s.mm)").as("cq"))
      re.unionByName(init.join(re, Seq("m", "cid"), "left_anti"))
    })
    val residN = nearest(quantize(batch, "v"))
    assign(subs(residN), cb)
      .select(col("vec_id"), col("m"), col("cid").as("code"))
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(m, code))), " +
        "s -> s.code)").as("codes"))
      .join(residN.select("vec_id", "ccid"), "vec_id")
      .select(col("vec_id"), col("ccid"),
        expr("array_join(transform(codes, c -> cast(c as string)), ',')")
          .as("code_csv"))
      .orderBy("vec_id")
  }

  private val ADDMOD = 10 // batch = every vec_id ≡ 7 (mod 10), ~10%

  val queries: Map[String, Q] = Map(
    "sim_ivfpq_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"))
      ivfPqTopKOf(emb.filter(col("vec_id") < NQ), emb,
        TOPK, PROBES, RERANK,
        index = graft.sources.Materialize.indexOf(s, dir))
    }),

    // OPQ-on-residuals (round 13): the FAISS OPQ,IVF,PQ composite —
    // identical coarse cells, probes, code size, and rerank as
    // sim_ivfpq_topk; only the residual subspace SPLIT is learned (from
    // the residual energy profile, which coarse subtraction reshapes).
    // The oracle replays the ENTIRE index: coarse assign → residuals →
    // residual energy ranking → snake allocation → permutation →
    // codebooks → codes → per-(query, cell) LUTs → cell-pruned ADC →
    // exact rerank on unpermuted vectors.
    "sim_opq_ivfpq_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"))
      ivfPqTopKOf(emb.filter(col("vec_id") < NQ), emb,
        TOPK, PROBES, RERANK,
        index = graft.sources.Materialize.indexOf(s, dir), opq = true)
    }),

    "sim_index_add" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"))
      indexAddOf(emb.filter(col("vec_id") % ADDMOD === 7),
        emb.filter(col("vec_id") % ADDMOD =!= 7),
        index = graft.sources.Materialize.indexOf(s, dir))
    }),

    // RERANK-BUDGET-AWARE search (round 14): identical index artifacts
    // as sim_ivfpq_topk (cells, codebooks, codes — byte-shared managed
    // tables), but the exact-rerank budget is decided PER QUERY from
    // the ADC margins: escalate 40 → 160 exactly when the 40th-ranked
    // ADC distance sits within 3.5× of the 5th-ranked one, or the top
    // ADC ranks are a complete tie (candidates past the cut are
    // quantization-indistinguishable from the reported top-k, so the
    // cut is unsafe) — the measured regime boundary, see AD_NUM/AD_DEN.
    // The budget column is part of the hash-checked output; the oracle
    // replays the whole rule.
    "sim_adaptive_rerank" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"))
      adaptiveRerankTopKOf(emb.filter(col("vec_id") < NQ), emb,
        TOPK, PROBES, RERANK, ESC_RERANK, AD_NUM, AD_DEN,
        index = graft.sources.Materialize.indexOf(s, dir))
    })
  )

  private def d2(n: Int, a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, ${n + 1}),
       |          i -> ($a[i] - $b[i]) * ($a[i] - $b[i])),
       |          (x, y) -> x + y)""".stripMargin

  /** Residual-subspace m: codebook train + encode + per-probe LUT. */
  private def subspaceSql(m: Int): String =
    s"""sub$m AS (
       |  SELECT vec_id,
       |    list_transform(range(1, ${DSUB + 1}), i -> r[${m * DSUB} + i])
       |      AS q
       |  FROM resid),
       |cbi$m AS (
       |  SELECT rn - 1 AS cid,
       |    list_transform(range(1, ${DSUB + 1}), i -> r[${m * DSUB} + i])
       |      AS cq
       |  FROM (SELECT row_number() OVER (ORDER BY vec_id) AS rn, r
       |        FROM resid) s
       |  WHERE rn <= $CB),
       |a$m AS (
       |  SELECT vec_id, q, cid FROM (
       |    SELECT vec_id, q, cid,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY dist, cid) AS rn
       |    FROM (SELECT n.vec_id, n.q, c.cid,
       |            ${d2(DSUB, "n.q", "c.cq")} AS dist
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
       |            ${d2(DSUB, "n.q", "c.cq")} AS dist
       |          FROM sub$m n, cb$m c) d) x
       |  WHERE rn = 1),
       |lut$m AS (
       |  SELECT p.qid, p.ccid, $m AS m, c.cid,
       |    ${d2(DSUB, "pq", "c.cq")} AS d
       |  FROM (SELECT qid, ccid,
       |          list_transform(range(1, ${DSUB + 1}),
       |            i -> r[${m * DSUB} + i]) AS pq
       |        FROM qprobe) p, cb$m c)""".stripMargin

  /** Add-path subspace m: codebook train on BASE residuals (residb) +
    * batch encode against the frozen codebook (residn). */
  private def addSubspaceSql(m: Int): String =
    s"""asub$m AS (
       |  SELECT vec_id,
       |    list_transform(range(1, ${DSUB + 1}), i -> r[${m * DSUB} + i])
       |      AS q
       |  FROM residb),
       |acbi$m AS (
       |  SELECT rn - 1 AS cid, q AS cq FROM (
       |    SELECT row_number() OVER (ORDER BY vec_id) AS rn, q
       |    FROM asub$m) s
       |  WHERE rn <= $CB),
       |aa$m AS (
       |  SELECT vec_id, q, cid FROM (
       |    SELECT vec_id, q, cid,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY dist, cid) AS rn
       |    FROM (SELECT n.vec_id, n.q, c.cid,
       |            ${d2(DSUB, "n.q", "c.cq")} AS dist
       |          FROM asub$m n, acbi$m c) d) x
       |  WHERE rn = 1),
       |acbr$m AS (
       |  SELECT cid, list(mm ORDER BY i) AS cq FROM (
       |    SELECT a.cid, g.i,
       |      CAST(floor(CAST(sum(a.q[g.i]) AS DOUBLE) / count(*))
       |           AS BIGINT) AS mm
       |    FROM aa$m a, generate_series(1, $DSUB) g(i)
       |    GROUP BY a.cid, g.i) s
       |  GROUP BY cid),
       |acb$m AS (
       |  SELECT cid, cq FROM acbr$m
       |  UNION ALL
       |  SELECT cid, cq FROM acbi$m
       |  WHERE cid NOT IN (SELECT cid FROM acbr$m)),
       |bsub$m AS (
       |  SELECT vec_id,
       |    list_transform(range(1, ${DSUB + 1}), i -> r[${m * DSUB} + i])
       |      AS q
       |  FROM residn),
       |bcode$m AS (
       |  SELECT vec_id, $m AS m, cid AS code FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY dist, cid) AS rn
       |    FROM (SELECT n.vec_id, c.cid,
       |            ${d2(DSUB, "n.q", "c.cq")} AS dist
       |          FROM bsub$m n, acb$m c) d) x
       |  WHERE rn = 1)""".stripMargin

  val oracles: Map[String, String] = Map(
    // replays the base-trained index (coarse cells + residual codebooks
    // on base vectors only), then the batch's assign → residual →
    // frozen-codebook encode. Identical integer arithmetic throughout.
    "sim_index_add" ->
      s"""WITH e AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) /
         |      sqrt(list_reduce(
         |        list_transform(embedding,
         |          y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)),
         |        (acc, z) -> acc + z))
         |      * 10000.0 + 0.5) AS BIGINT)) AS q
         |  FROM embeddings),
         |base AS (SELECT * FROM e WHERE vec_id % $ADDMOD <> 7),
         |coarse AS (
         |  SELECT rn - 1 AS ccid, q AS cq FROM (
         |    SELECT row_number() OVER (ORDER BY vec_id) AS rn, q
         |    FROM base) s WHERE rn <= $C),
         |residb AS (
         |  SELECT vec_id, ccid,
         |    list_transform(range(1, ${M * DSUB + 1}),
         |      i -> q[i] - cq[i]) AS r
         |  FROM (
         |    SELECT n.vec_id, n.q, c.ccid, c.cq,
         |      row_number() OVER (PARTITION BY n.vec_id
         |        ORDER BY ${d2(M * DSUB, "n.q", "c.cq")}, c.ccid) AS rn
         |    FROM base n, coarse c) x WHERE rn = 1),
         |residn AS (
         |  SELECT vec_id, ccid,
         |    list_transform(range(1, ${M * DSUB + 1}),
         |      i -> q[i] - cq[i]) AS r
         |  FROM (
         |    SELECT n.vec_id, n.q, c.ccid, c.cq,
         |      row_number() OVER (PARTITION BY n.vec_id
         |        ORDER BY ${d2(M * DSUB, "n.q", "c.cq")}, c.ccid) AS rn
         |    FROM e n, coarse c WHERE n.vec_id % $ADDMOD = 7) x
         |  WHERE rn = 1),
         |${(0 until M).map(addSubspaceSql).mkString(",\n")},
         |bcodes AS (${(0 until M).map(m => s"SELECT * FROM bcode$m")
            .mkString(" UNION ALL ")}),
         |agg AS (
         |  SELECT vec_id, list(code ORDER BY m) AS cl
         |  FROM bcodes GROUP BY vec_id)
         |SELECT a.vec_id, r.ccid,
         |  array_to_string(list_transform(cl, c -> CAST(c AS VARCHAR)), ',')
         |    AS code_csv
         |FROM agg a JOIN residn r ON a.vec_id = r.vec_id
         |ORDER BY a.vec_id""".stripMargin,

    // replays the whole index: coarse assign → residuals → per-subspace
    // residual codebooks → codes → per-(query, probed-cell) LUTs →
    // cell-pruned ADC → exact rerank. Identical integer arithmetic.
    "sim_ivfpq_topk" ->
      s"""WITH ${headSql("resid", "qprobe")},
         |$tailSql""".stripMargin,

    // OPQ-on-residuals replayed in full (round 13): after the shared
    // coarse-assign/residual head, the RESIDUAL energy ranking (ties
    // to the lower index), snake allocation, and permutation — applied
    // identically to corpus residuals and per-probe query residuals —
    // then the identical subspace/ADC/rerank tail. Rerank reads the
    // unpermuted vectors (L2 is permutation-invariant). DuckDB lists
    // are 1-based where Spark's element_at(r, i+1) reads a 0-based
    // perm — the same reorder.
    // replays the shared index head + the adaptive escalation rule
    // (round 14): ranked ADC → per-query (a_k, a_cut) margins →
    // budget ∈ {RERANK, ESC_RERANK} → budget-cut rerank, budget on
    // every row. Identical integer arithmetic throughout.
    "sim_adaptive_rerank" ->
      s"""WITH ${headSql("resid", "qprobe")},
         |$adaptiveTailSql""".stripMargin,

    "sim_opq_ivfpq_topk" ->
      s"""WITH ${headSql("resid0", "qprobe0")},
         |ren AS (
         |  SELECT g.i, sum(r[g.i] * r[g.i]) AS en
         |  FROM resid0, generate_series(1, ${M * DSUB}) g(i)
         |  GROUP BY g.i),
         |rrk AS (
         |  SELECT i, row_number() OVER (ORDER BY en DESC, i) - 1 AS rk
         |  FROM ren),
         |ral AS (
         |  SELECT i,
         |    CASE WHEN (rk // $M) % 2 = 0 THEN rk % $M
         |         ELSE $M - 1 - (rk % $M) END AS m,
         |    rk // $M AS slot
         |  FROM rrk),
         |rpm AS (SELECT list(i ORDER BY m, slot) AS perm FROM ral),
         |resid AS (
         |  SELECT vec_id, ccid, list_transform(rpm.perm, j -> r[j]) AS r
         |  FROM resid0, rpm),
         |qprobe AS (
         |  SELECT qid, ccid, list_transform(rpm.perm, j -> r[j]) AS r
         |  FROM qprobe0, rpm),
         |$tailSql""".stripMargin
  )

  /** Quantize + coarse + assignment + residual + query-probe CTEs,
    * shared by both oracles; the residual and probe CTE names are
    * caller-chosen so the OPQ variant can interpose its permutation. */
  private def headSql(residName: String, qprobeName: String): String =
    s"""e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) /
       |      sqrt(list_reduce(
       |        list_transform(embedding,
       |          y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)),
       |        (acc, z) -> acc + z))
       |      * 10000.0 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |coarse AS (
       |  SELECT rn - 1 AS ccid, q AS cq FROM (
       |    SELECT row_number() OVER (ORDER BY vec_id) AS rn, q
       |    FROM e) s WHERE rn <= $C),
       |cass AS (
       |  SELECT vec_id, q, ccid, cq FROM (
       |    SELECT n.vec_id, n.q, c.ccid, c.cq,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY ${d2(M * DSUB, "n.q", "c.cq")}, c.ccid) AS rn
       |    FROM e n, coarse c) x WHERE rn = 1),
       |$residName AS (
       |  SELECT vec_id, ccid,
       |    list_transform(range(1, ${M * DSUB + 1}),
       |      i -> q[i] - cq[i]) AS r
       |  FROM cass),
       |$qprobeName AS (
       |  SELECT qid, ccid, r FROM (
       |    SELECT n.vec_id AS qid, c.ccid,
       |      list_transform(range(1, ${M * DSUB + 1}),
       |        i -> n.q[i] - c.cq[i]) AS r,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY ${d2(M * DSUB, "n.q", "c.cq")}, c.ccid) AS rn
       |    FROM e n, coarse c WHERE n.vec_id < $NQ) x
       |  WHERE rn <= $PROBES)""".stripMargin

  /** Subspace train/encode/LUT CTEs + the per-query RANKED ADC scan
    * over `resid` / `qprobe` (whatever the head bound those names to)
    * — shared by the fixed-budget and adaptive-budget tails. */
  private def adcSql: String =
    s"""${(0 until M).map(subspaceSql).mkString(",\n")},
       |codes AS (${(0 until M).map(m => s"SELECT * FROM code$m")
          .mkString(" UNION ALL ")}),
       |luts AS (${(0 until M).map(m => s"SELECT * FROM lut$m")
          .mkString(" UNION ALL ")}),
       |adc AS (
       |  SELECT l.qid, ct.vec_id AS nid, sum(l.d) AS approx
       |  FROM codes ct
       |  JOIN resid rs ON rs.vec_id = ct.vec_id
       |  JOIN luts l ON l.ccid = rs.ccid AND l.m = ct.m
       |    AND l.cid = ct.code
       |  WHERE ct.vec_id <> l.qid
       |  GROUP BY l.qid, ct.vec_id),
       |rankedadc AS (
       |  SELECT qid, nid, approx,
       |    row_number() OVER (PARTITION BY qid
       |                       ORDER BY approx, nid) AS arn
       |  FROM adc)""".stripMargin

  /** Fixed-budget tail: ADC cut at $RERANK, exact rerank, top-k. */
  private def tailSql: String =
    s"""$adcSql,
       |cand AS (
       |  SELECT qid, nid FROM rankedadc WHERE arn <= $RERANK)
       |SELECT qid, nid, dist FROM (
       |  SELECT c.qid, c.nid,
       |    ${d2(M * DSUB, "eq.q", "en.q")} AS dist,
       |    row_number() OVER (PARTITION BY c.qid
       |                       ORDER BY ${d2(M * DSUB, "eq.q", "en.q")},
       |                                c.nid) AS rn
       |  FROM cand c
       |  JOIN e en ON en.vec_id = c.nid
       |  JOIN e eq ON eq.vec_id = c.qid) x
       |WHERE rn <= $TOPK ORDER BY qid, dist, nid""".stripMargin

  /** Adaptive-budget tail (round 14): per-query escalation off the
    * ADC margins — a_k / a_cut are the TOPK-th / RERANK-th ranked ADC
    * distances, the budget widens to ESC_RERANK when
    * (a_cut − a_k)·AD_DEN ≤ a_k·AD_NUM, and the chosen budget rides
    * the output. Identical integer arithmetic to the engine path. */
  private def adaptiveTailSql: String =
    s"""$adcSql,
       |stats AS (
       |  SELECT qid,
       |    max(CASE WHEN arn = $TOPK THEN approx END) AS a_k,
       |    max(CASE WHEN arn = $RERANK THEN approx END) AS a_cut
       |  FROM rankedadc GROUP BY qid),
       |bud AS (
       |  SELECT qid,
       |    CASE WHEN a_cut IS NOT NULL
       |           AND (a_k = 0
       |                OR (a_cut - a_k) * $AD_DEN <= a_k * $AD_NUM)
       |         THEN CAST($ESC_RERANK AS BIGINT)
       |         ELSE CAST($RERANK AS BIGINT) END AS budget
       |  FROM stats),
       |cand AS (
       |  SELECT r.qid, r.nid, b.budget
       |  FROM rankedadc r JOIN bud b ON r.qid = b.qid
       |  WHERE r.arn <= b.budget)
       |SELECT qid, nid, dist, budget FROM (
       |  SELECT c.qid, c.nid, c.budget,
       |    ${d2(M * DSUB, "eq.q", "en.q")} AS dist,
       |    row_number() OVER (PARTITION BY c.qid
       |                       ORDER BY ${d2(M * DSUB, "eq.q", "en.q")},
       |                                c.nid) AS rn
       |  FROM cand c
       |  JOIN e en ON en.vec_id = c.nid
       |  JOIN e eq ON eq.vec_id = c.qid) x
       |WHERE rn <= $TOPK ORDER BY qid, dist, nid""".stripMargin
}
