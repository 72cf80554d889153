package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor similarity search over the embeddings
  * table (`embedding: Array[Float]`, 64-dim): brute-force cosine top-k as
  * the exact baseline, and an IVF (inverted-file) variant as the scale
  * path — assign every vector to its nearest of C centroids (broadcast
  * join), then probe only the P closest buckets per query. At 100 TB the
  * assignment is a map-side broadcast pass and each query touches ~P/C
  * of the data instead of all of it.
  *
  * Cosine uses the codegen'd [[graft.functions.FloatVecDot]] expression.
  * Centroids are chosen deterministically (vec_id < C) so the DuckDB
  * oracle reproduces the exact bucketing.
  */
object Similarity extends graft.QuerySet {
  private val C = 16      // IVF centroid count
  private val PROBES = 4  // buckets probed per query
  private val TOPK = 5
  private val NQ = 10     // query vectors: vec_id < NQ
  private val RERANK = 50 // SQ8 candidates reranked with full floats
  private val FEAT_D = 16 // hashing-trick feature dimensions
  private val NEGK = 5    // hard negatives mined per anchor
  private val MMRC = 20   // MMR candidate pool per query (selects TOPK)
  private val KNN_PROBES = 200 // kNN-probe evaluation batch: vec_id < 200

  /** embeddings with L2 norm, via vec_dot(v, v). */
  private def vecs(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(expr("vec_dot(v, v)")))
  }

  private def cos(v1: String, n1: String, v2: String, n2: String) =
    expr(s"vec_dot($v1, $v2)") / (col(n1) * col(n2))

  /** Exact per-query cosine top-k of `queries` against `corpus`, both
    * (vec_id, v, nrm)-shaped. Parameterized for the
    * [[graft.api.Vectors]] facade; the named query runs it with the
    * corpus's first NQ vectors as queries. The query side is the
    * broadcast side by contract (query batches are small next to a
    * corpus). */
  private[graft] def bruteTopKOf(queries: DataFrame, corpus: DataFrame,
                                 k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("v").as("qv"),
      col("nrm").as("qn"))
    val n = corpus.select(col("vec_id").as("nid"), col("v").as("nv"),
      col("nrm").as("nn"))
    val w = Window.partitionBy("qid")
      .orderBy(col("c").desc, col("nid"))
    // the query batch is the small side by contract (NQ rows vs the
    // corpus): broadcast it EXPLICITLY so the non-equi join is a
    // BroadcastNestedLoopJoin streamed over the corpus regardless of
    // session threshold settings — auto-detection alone flips this to
    // a CartesianProduct under autoBroadcastJoinThreshold=-1
    broadcast(q).join(n, col("nid") =!= col("qid"))
      .withColumn("c", cos("qv", "qn", "nv", "nn"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** IVF top-k: assign every corpus vector to its nearest centroid
    * (broadcast pass), probe the `probes` closest centroids per query,
    * exact-rerank inside probed buckets only. `centroids` is an
    * explicit (cid, cv, cn) frame — model parameters the caller owns
    * (the named query derives them as the corpus's first C vectors). */
  private[graft] def ivfTopKOf(queries: DataFrame, corpus: DataFrame,
                               centroids: DataFrame, k: Int,
                               probes: Int): DataFrame = {
    val cent = broadcast(centroids)
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("c").desc, col("cid"))
    val assign = corpus.crossJoin(cent)
      .withColumn("c", cos("v", "nrm", "cv", "cn"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"))
    val wProbe = Window.partitionBy("qid")
      .orderBy(col("c").desc, col("cid"))
    val probed = queries
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"))
      .crossJoin(cent)
      .withColumn("c", cos("qv", "qn", "cv", "cn"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= probes)
      .select("qid", "cid")
    val cand = probed.join(assign, "cid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"))
      .distinct()
    val qv = queries.select(col("vec_id").as("qid"), col("v").as("qv"),
      col("nrm").as("qn"))
    val nv = corpus.select(col("vec_id").as("nid"), col("v").as("nv"),
      col("nrm").as("nn"))
    val wTop = Window.partitionBy("qid")
      .orderBy(col("c").desc, col("nid"))
    cand.join(qv, "qid").join(nv, "nid")
      .withColumn("c", cos("qv", "qn", "nv", "nn"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
  }

  /** SQ8 scalar-quantized top-k of `queries` against `corpus`, both
    * (vec_id, v, nrm)-shaped. Per-dimension min/max stats come from the
    * CORPUS (the index's training data) and quantize both sides, so a
    * caller's out-of-corpus query batch rides the same codebook.
    * Candidates rank by the DEQUANTIZED double dot (decode
    * mn + c·Δ/255 on the fly — the raw integer code dot is NOT monotone
    * in cosine: every code is offset-positive, so -mn·Σu cross terms
    * bias it toward large-coordinate vectors); the top-`rerank` per
    * query get an exact float rerank. The scale story is bandwidth:
    * the scan that touches every vector reads 1 byte/dim instead of 4,
    * and full floats are fetched for `rerank` rows per query, not n.
    * All quantization arithmetic is double-precision with the same
    * operation order as the oracle, so floor() cannot drift. */
  private[graft] def sqTopKOf(queries: DataFrame, corpus: DataFrame,
                              k: Int, rerank: Int,
                              index: graft.sources.Materialize.Index =
                                graft.sources.Materialize.cached): DataFrame = {
    // normalize in double with an explicit left fold (not vec_dot,
    // whose float accumulation the oracle can't reproduce): the
    // integer code dot then approximates COSINE, not raw dot
    val unit = (df: DataFrame) => df.withColumn("u", expr(
      """transform(v, x -> cast(x as double) /
        |  sqrt(aggregate(v, 0.0d,
        |    (acc, y) -> acc + cast(y as double) * cast(y as double))))"""
        .stripMargin))
    val e = unit(corpus)
    // one row; goes through `index` (cached inline, or persisted by the
    // named query) so the query-side decode below reuses it instead of
    // re-running the full-corpus min/max aggregation (at the 100 TB
    // design point that second pass would double the index-build scan)
    val stats = index("sq_stats", () => e
      .select(posexplode(col("u")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(min("x").as("mn"), max("x").as("mx"))
      .agg(
        expr("transform(array_sort(collect_list(struct(pos, mn))), s -> s.mn)")
          .as("mns"),
        expr("transform(array_sort(collect_list(struct(pos, mx))), s -> s.mx)")
          .as("mxs")))
    val quantExpr =
      """transform(u, (x, i) -> coalesce(cast(least(255.0d, greatest(0.0d,
        |  floor((x - element_at(mns, i + 1))
        |        / nullif(element_at(mxs, i + 1) - element_at(mns, i + 1), 0.0d)
        |        * 255.0d + 0.5d))) as int), 0))""".stripMargin
    val decode = (df: DataFrame) => df.crossJoin(broadcast(stats))
      .select(col("vec_id"), col("v"), col("nrm"), col("mns"),
        col("mxs"), expr(quantExpr).as("code"))
      .withColumn("dec", expr(
        """transform(code, (c, i) -> element_at(mns, i + 1)
          |  + cast(c as double)
          |    * (element_at(mxs, i + 1) - element_at(mns, i + 1))
          |    / 255.0d)""".stripMargin))
      .drop("mns", "mxs")
    // both the candidate join and the rerank read the coded corpus; the
    // named query persists it (in production it IS a materialized table
    // — the 1-byte/dim scan artifact is the entire point of SQ8)
    val coded = index("sq_coded", () => decode(e))
    val q = decode(unit(queries))
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), col("dec").as("qd"))
    val n = coded.select(col("vec_id").as("nid"), col("v").as("nv"),
      col("nrm").as("nn"), col("dec").as("nd"))
    val wApprox = Window.partitionBy("qid")
      .orderBy(col("adot").desc, col("nid"))
    // broadcast the small query side explicitly and keep it on the
    // build side: planner size estimates for the stats cross join can
    // overshoot the auto-broadcast threshold, and the non-equi join
    // would then fall all the way to a CartesianProduct
    val cand = n.join(broadcast(q), col("nid") =!= col("qid"))
      .withColumn("adot", expr(
        "aggregate(zip_with(qd, nd, (a, b) -> a * b), 0.0d, (acc, y) -> acc + y)"))
      .withColumn("arn", row_number().over(wApprox))
      .filter(col("arn") <= rerank)
    val wTop = Window.partitionBy("qid")
      .orderBy(col("c").desc, col("nid"))
    cand
      .withColumn("c", cos("qv", "qn", "nv", "nn"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
  }

  val queries: Map[String, Q] = Map(
    // Exact baseline: per-query top-k over all vectors.
    "sim_bruteforce_topk" -> ((s, dir) => {
      val e = vecs(s, dir)
      bruteTopKOf(e.filter(col("vec_id") < NQ), e, TOPK)
        .select("qid", "nid")
        .orderBy("qid", "rn")
    }),

    // MATRYOSHKA two-stage retrieval (Kusupati et al., NeurIPS 2022 —
    // MRL: nested prefixes of an embedding are themselves usable
    // representations): stage 1 shortlists RERANK candidates per query
    // by cosine over only the FIRST 8 dimensions — at 100 TB that scan
    // reads an 8/d slice of the vector bytes (with vectors stored
    // dim-major / truncated-copy, a genuine d/8× I/O and FLOP cut) —
    // and stage 2 re-ranks the shortlist with full-dimension exact
    // cosine. Same shape as SQ8's coarse-then-exact split; the knob
    // traded is prefix width instead of quantization error.
    "sim_matryoshka" -> ((s, dir) => {
      val e = vecs(s, dir)
      val pref = e.select(col("vec_id"), expr("slice(v, 1, 8)").as("v"))
        .withColumn("nrm", sqrt(expr("vec_dot(v, v)")))
      val short = bruteTopKOf(pref.filter(col("vec_id") < NQ), pref,
        RERANK).select("qid", "nid")
      val w = Window.partitionBy("qid")
        .orderBy(col("c").desc, col("nid"))
      short
        .join(e.select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qn")), "qid")
        .join(e.select(col("vec_id").as("nid"), col("v").as("nv"),
          col("nrm").as("nn")), "nid")
        .withColumn("c", cos("qv", "qn", "nv", "nn"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= TOPK)
        .select("qid", "nid")
        .orderBy("qid", "rn")
    }),

    // Retrieval EVALUATION — the measurement operator that closes the
    // ANN loop: for each query, run the exact top-TOPK retrieval and
    // grade it against label relevance (a neighbor is relevant iff it
    // shares the query's label — the standard proxy when no human
    // judgments exist). Emits the per-query ingredients every IR
    // report aggregates: rank of the first relevant hit, reciprocal
    // rank scaled by 60 (exact integer for ranks 1..5 — 60 is
    // lcm(1..5), the fixed-point trick that keeps MRR hash-exact
    // cross-engine), and precision@k numerator. At 100 TB the cost is
    // the retrieval pass itself; the grading join touches only the
    // NQ×TOPK result rows against the label column.
    "sim_eval_mrr" -> ((s, dir) => {
      val e = vecs(s, dir)
      val lab = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("label"))
      val top = bruteTopKOf(e.filter(col("vec_id") < NQ), e, TOPK)
        .select(col("qid"), col("nid"), col("rn"))
      top
        .join(lab.select(col("vec_id").as("qid"),
          col("label").as("ql")), "qid")
        .join(lab.select(col("vec_id").as("nid"),
          col("label").as("nl")), "nid")
        .groupBy("qid")
        .agg(
          coalesce(min(when(col("nl") === col("ql"), col("rn"))),
            lit(0)).cast("long").as("first_rel_rank"),
          sum(when(col("nl") === col("ql"), 1L).otherwise(0L))
            .as("rel_at_5"))
        .withColumn("rr_x60",
          expr("CASE WHEN first_rel_rank > 0 " +
            "THEN 60 div first_rel_rank ELSE 0 END").cast("long"))
        .select("qid", "first_rel_rank", "rr_x60", "rel_at_5")
        .orderBy("qid")
    }),

    // IVF: centroid assignment (broadcast) → multi-probe → exact rerank
    // inside probed buckets only.
    "sim_ivf_topk" -> ((s, dir) => {
      val e = vecs(s, dir)
      val cent = e.filter(col("vec_id") < C)
        .select(col("vec_id").as("cid"), col("v").as("cv"),
          col("nrm").as("cn"))
      ivfTopKOf(e.filter(col("vec_id") < NQ), e, cent, TOPK, PROBES)
        .select("qid", "nid")
        .orderBy("qid", "rn")
    }),

    // SQ8 scalar quantization (see sqTopKOf): stats computed
    // distributed — posexplode + groupBy, re-assembled into two
    // 64-element arrays on a single broadcast row, never collected to
    // the driver.
    "sim_sq_topk" -> ((s, dir) => {
      val e = vecs(s, dir)
      sqTopKOf(e.filter(col("vec_id") < NQ), e, TOPK, RERANK,
        index = graft.sources.Materialize.indexOf(s, dir))
        .select("qid", "nid")
        .orderBy("qid", "rn")
    }),

    // Contrastive-training HARD-NEGATIVE MINING — for each anchor
    // (query vector), its top-1 same-label neighbor (the positive) and
    // the NEGK hardest different-label neighbors (highest cosine among
    // wrong labels): the (anchor, positive, negatives) rows a
    // contrastive/embedding trainer consumes. rn = 0 marks the
    // positive. One corpus scan with the NQ-row anchor batch broadcast
    // onto it; both heads (positive argmax, negative top-k) rank the
    // same scored frame, so at 100 TB the cost is the scan plus two
    // NQ-partition windows over anchor-local rows — never a global
    // sort, never a second pass over the corpus.
    "ml_hard_negatives" -> ((s, dir) => {
      VectorFunctions.register(s)
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"), col("label"))
        .withColumn("nrm", sqrt(expr("vec_dot(v, v)")))
      val q = e.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qn"), col("label").as("qlbl"))
      val n = e.select(col("vec_id").as("nid"), col("v").as("nv"),
        col("nrm").as("nn"), col("label").as("nlbl"))
      val scored = n.join(broadcast(q), col("nid") =!= col("qid"))
        .withColumn("c", cos("qv", "qn", "nv", "nn"))
      val w = Window.partitionBy("qid")
        .orderBy(col("c").desc, col("nid"))
      val pos = scored.filter(col("nlbl") === col("qlbl"))
        .withColumn("r", row_number().over(w)).filter(col("r") === 1)
        .select(col("qid"), lit(0).as("rn"), col("nid"))
      val neg = scored.filter(col("nlbl") =!= col("qlbl"))
        .withColumn("r", row_number().over(w)).filter(col("r") <= NEGK)
        .select(col("qid"), col("r").as("rn"), col("nid"))
      pos.unionAll(neg).orderBy("qid", "rn")
    }),

    // MMR-diversified retrieval; see mmrTopKOf for the full story.
    "sim_mmr_topk" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"))
      mmrTopKOf(e.filter(col("vec_id") < NQ), e, TOPK, MMRC)
        .orderBy("qid", "pick")
    }),

    // kNN label probe — THE standard embedding-quality evaluation: if
    // k nearest neighbors under the embedding's own geometry predict a
    // held-out vector's label, the space has learned the class
    // structure (the "kNN probe" of representation-learning papers).
    // 200 probe vectors classify by majority label of their 5 nearest
    // corpus neighbors (quantized BIGINT dots — the MMR frame — so the
    // vote is integer-exact; ties to the smaller label); the output is
    // the per-label accuracy table. Plan: one broadcast of the probe
    // batch across the corpus scan, one rank window, a vote aggregate
    // — probe cost is |probes|·n dots, never n².
    "ml_knn_probe" -> ((s, dir) => {
      VectorFunctions.register(s)
      val e = Tables(s, dir, "embeddings")
      // quantize ONLY the 200-row broadcast side up front; the corpus
      // side stays raw floats and the fused vec_dot_milli expression
      // quantizes inside the codegen dot loop — the earlier formulation
      // (transform both sides + aggregate(zip_with)) re-evaluated an
      // interpreted quantize per JOINED row (|corpus|·|probes| times)
      val probes = e.filter(col("vec_id") < KNN_PROBES)
        .select(col("vec_id").as("qid"), col("label").as("true_label"),
          expr(
            """transform(embedding, x ->
              |  cast(floor(cast(x as double) * 1000.0d + 0.5d) as bigint))"""
              .stripMargin).as("qq"))
      val w = Window.partitionBy("qid")
        .orderBy(col("rel").desc, col("nid"))
      val nn = Tables.spread(e)
        .join(broadcast(probes), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("true_label"),
          col("vec_id").as("nid"), col("label").as("nlabel"),
          expr("vec_dot_milli(embedding, qq)").as("rel"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= TOPK)
      val voted = nn.groupBy("qid", "true_label", "nlabel")
        .agg(count(lit(1)).as("votes"))
        .withColumn("vr", row_number().over(
          Window.partitionBy("qid")
            .orderBy(col("votes").desc, col("nlabel"))))
        .filter(col("vr") === 1)
      voted
        .groupBy(col("true_label").as("label"))
        .agg(count(lit(1)).as("n_probes"),
          sum(when(col("nlabel") === col("true_label"), 1L)
            .otherwise(0L)).as("n_correct"))
        .orderBy("label")
    }),

    // Hashing-trick text featurizer — the deterministic text→vector
    // step that bridges the documents table into the embedding/ANN
    // family: each token lands in one of 16 buckets by its md5 prefix
    // (engine-portable, no trained model), per-doc bucket counts form
    // the feature vector. One map-side tokenize + one hash-agg; integer
    // outputs (vector rendered as CSV, exact squared norm) so the
    // oracle is bit-exact. At 100 TB this is the embarrassingly
    // parallel featurize pass ANN indexing starts from.
    "emb_hash_features" -> ((s, dir) => {
      val tok = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .withColumn("bucket",
          expr("instr('0123456789abcdef', substr(md5(term), 1, 1)) - 1"))
      val cnts = (0 until FEAT_D).map(i =>
        count(when(col("bucket") === i, 1)).as(s"c$i"))
      tok.groupBy("doc_id")
        .agg(cnts.head, cnts.tail: _*)
        .select(col("doc_id"),
          concat_ws(",", (0 until FEAT_D).map(i => col(s"c$i")): _*)
            .as("fvec"),
          (0 until FEAT_D).map(i => col(s"c$i") * col(s"c$i"))
            .reduce(_ + _).as("sq_norm"))
        .orderBy("doc_id")
    })
  )

  /** MMR-diversified top-k — maximal marginal relevance (Carbonell &
    * Goldstein 1998): after plain top-k, re-select so results cover
    * the query's neighborhood instead of returning k near-copies of
    * the same cluster (exactly what a 90%-dup corpus produces).
    * Greedy rule: pick argmax(rel − max-sim-to-already-picked) each
    * round (λ=1/2, scale folded out). ALL similarity is the dot
    * product of milli-quantized BIGINT vectors (the kmeans/SQ8
    * pattern), so every comparison both engines make is integer-exact
    * and the greedy unrolls into a bit-exact oracle CTE chain.
    *
    * Scale shape: the corpus-facing work is ONE broadcast-query scan
    * producing `pool` candidates per query (codegen'd LongVecDot);
    * the greedy then runs IN MEMORY inside a single `flatMapGroups`
    * over each (qid, pool≤20) group — model-parameter scale,
    * independent of corpus size. Round 5 unrolled the greedy into
    * k−1 chained window+join+union stages with a cache per round
    * (~8 s steady for a ≤20-row-per-query selection); the
    * partition-local pass does the same integer argmax (same
    * rel−maxsim score, same smaller-nid tiebreak, verified by the
    * unchanged oracle CTE chain) in one narrow stage.
    * `queries`/`corpus` are (vec_id, v: float-array) frames
    * ([[graft.api.Vectors]] facade shape). */
  private[graft] def mmrTopKOf(queries: DataFrame, corpus: DataFrame,
                               k: Int, pool: Int): DataFrame = {
    val spark = corpus.sparkSession
    VectorFunctions.register(spark)
    def quant(df: DataFrame): DataFrame =
      df.select(col("vec_id"), expr(
        """transform(v, x ->
          |  cast(floor(cast(x as double) * 1000.0d + 0.5d) as bigint))"""
          .stripMargin).as("q"))
    val qs = quant(queries).select(col("vec_id").as("qid"),
      col("q").as("qq"))
    val qcorpus = quant(corpus)
    // the top-pool window shuffles ONLY (qid, nid, rel) scalars — the
    // 64-element vectors would multiply the exchange ~60× and are only
    // needed for the in-memory greedy, so they re-join from the corpus
    // for just the |queries|·pool survivors
    // fused quantize+dot on the corpus side (see MilliVecDot: avoids a
    // per-output-row interpreted transform after CollapseProject)
    val cands = Tables.spread(corpus).join(broadcast(qs),
        col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        expr("vec_dot_milli(v, qq)").as("rel"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("rel").desc, col("nid"))))
      .filter(col("rn") <= pool)
      .join(qcorpus.select(col("vec_id").as("nid"), col("q")), "nid")
      .select(col("qid"), col("nid"), col("q"), col("rel"))
    import spark.implicits._
    cands.as[(Long, Long, Array[Long], Long)]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Array[Long], Long)]) =>
        // ≤ pool rows per group: greedy is partition-local, integer-exact
        val rows = it.toArray.sortBy(r => (-r._4, r._2)) // rel desc, nid asc
        val n = rows.length
        def dot(a: Array[Long], b: Array[Long]): Long = {
          val m = math.min(a.length, b.length)
          var s = 0L; var i = 0
          while (i < m) { s += a(i) * b(i); i += 1 }
          s
        }
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Int, Long, Long)]
        if (n > 0) {
          val picked = Array.fill(n)(false)
          val maxSim = Array.fill(n)(Long.MinValue) // max sim to picked set
          picked(0) = true // rows(0) = max rel, ties to smaller nid
          out += ((qid, 1, rows(0)._2, rows(0)._4))
          var last = 0
          var r = 2
          while (r <= k && r <= n) {
            var best = -1
            var bestScore = Long.MinValue
            var i = 0
            while (i < n) {
              if (!picked(i)) {
                val sim = dot(rows(i)._3, rows(last)._3)
                if (sim > maxSim(i)) maxSim(i) = sim
                val score = rows(i)._4 - maxSim(i)
                // argmax(score) with ties to smaller nid
                if (best < 0 || score > bestScore ||
                    (score == bestScore && rows(i)._2 < rows(best)._2))
                  { best = i; bestScore = score }
              }
              i += 1
            }
            picked(best) = true
            out += ((qid, r, rows(best)._2, rows(best)._4))
            last = best
            r += 1
          }
        }
        out.iterator
      }
      .toDF("qid", "pick", "nid", "rel")
  }

  /** BIGINT dot product of two 64-dim quantized lists (1-based). */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, 65), " +
      s"i -> $a[i] * $b[i]), (x, y) -> x + y)"

  /** One MMR greedy round: max-sim of each unpicked candidate to the
    * picked set, then argmax(rel − maxsim) with ties to lower nid. */
  private def mmrStepSql(prev: String, out: String, r: Int): String =
    s"""${out}_ms AS (
       |  SELECT p.qid, p.an AS nid, max(p.sim) AS ms
       |  FROM pair p JOIN $prev s ON p.qid = s.qid AND p.bn = s.nid
       |  GROUP BY 1, 2),
       |${out}_pick AS (
       |  SELECT qid, nid, rel, $r AS pick FROM (
       |    SELECT c.qid, c.nid, c.rel,
       |      row_number() OVER (PARTITION BY c.qid
       |        ORDER BY c.rel - m.ms DESC, c.nid) AS rn
       |    FROM cands c
       |    JOIN ${out}_ms m ON c.qid = m.qid AND c.nid = m.nid
       |    WHERE NOT EXISTS (SELECT 1 FROM $prev s
       |                      WHERE s.qid = c.qid AND s.nid = c.nid)) x
       |  WHERE rn = 1),
       |$out AS (SELECT * FROM $prev UNION ALL
       |         SELECT * FROM ${out}_pick)""".stripMargin

  val oracles: Map[String, String] = Map(
    // same quantized dots, same (votes desc, label) vote tiebreak
    "ml_knn_probe" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, list_transform(embedding, x ->
         |    CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))
         |    AS q
         |  FROM embeddings),
         |nn AS (
         |  SELECT qid, true_label, nlabel FROM (
         |    SELECT p.vec_id AS qid, p.label AS true_label,
         |      n.vec_id AS nid, n.label AS nlabel,
         |      row_number() OVER (PARTITION BY p.vec_id
         |        ORDER BY ${dotSql("n.q", "p.q")} DESC, n.vec_id) AS rn
         |    FROM e p JOIN e n ON n.vec_id <> p.vec_id
         |    WHERE p.vec_id < $KNN_PROBES) x
         |  WHERE rn <= $TOPK),
         |voted AS (
         |  SELECT qid, true_label, nlabel FROM (
         |    SELECT qid, true_label, nlabel,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY count(*) DESC, nlabel) AS vr
         |    FROM nn GROUP BY qid, true_label, nlabel) x
         |  WHERE vr = 1)
         |SELECT true_label AS label, count(*) AS n_probes,
         |  CAST(sum(CASE WHEN nlabel = true_label THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_correct
         |FROM voted GROUP BY 1 ORDER BY label""".stripMargin,

    "sim_mmr_topk" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x ->
         |    CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))
         |    AS q
         |  FROM embeddings),
         |qs AS (SELECT vec_id AS qid, q AS qq FROM e WHERE vec_id < $NQ),
         |cands AS (
         |  SELECT qid, nid, q, rel FROM (
         |    SELECT qs.qid, n.vec_id AS nid, n.q,
         |      ${dotSql("n.q", "qs.qq")} AS rel,
         |      row_number() OVER (PARTITION BY qs.qid
         |        ORDER BY ${dotSql("n.q", "qs.qq")} DESC, n.vec_id) AS rn
         |    FROM e n JOIN qs ON n.vec_id <> qs.qid) x
         |  WHERE rn <= $MMRC),
         |pair AS (
         |  SELECT a.qid, a.nid AS an, b.nid AS bn,
         |    ${dotSql("a.q", "b.q")} AS sim
         |  FROM cands a JOIN cands b
         |    ON a.qid = b.qid AND a.nid <> b.nid),
         |s1 AS (
         |  SELECT qid, nid, rel, 1 AS pick FROM (
         |    SELECT qid, nid, rel,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY rel DESC, nid) AS rn
         |    FROM cands) x WHERE rn = 1),
         |${mmrStepSql("s1", "s2", 2)},
         |${mmrStepSql("s2", "s3", 3)},
         |${mmrStepSql("s3", "s4", 4)},
         |${mmrStepSql("s4", "s5", 5)}
         |SELECT qid, pick, nid, CAST(rel AS BIGINT) AS rel
         |FROM s5 ORDER BY qid, pick""".stripMargin,

    "sim_bruteforce_topk" ->
      s"""SELECT qid, nid FROM (
         |  SELECT q.vec_id AS qid, n.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_cosine_similarity(q.embedding, n.embedding)
         |               DESC, n.vec_id) AS rn
         |  FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
         |  WHERE q.vec_id < $NQ) t
         |WHERE rn <= $TOPK ORDER BY qid, rn""".stripMargin,

    "sim_eval_mrr" ->
      s"""WITH top5 AS (
         |  SELECT qid, nid, rn FROM (
         |    SELECT q.vec_id AS qid, n.vec_id AS nid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(q.embedding, n.embedding)
         |                 DESC, n.vec_id) AS rn
         |    FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
         |    WHERE q.vec_id < $NQ) t
         |  WHERE rn <= $TOPK),
         |graded AS (
         |  SELECT t.qid,
         |    COALESCE(MIN(CASE WHEN nl.label = ql.label THEN t.rn END),
         |             0) AS first_rel_rank,
         |    CAST(SUM(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END)
         |         AS BIGINT) AS rel_at_5
         |  FROM top5 t
         |  JOIN embeddings ql ON ql.vec_id = t.qid
         |  JOIN embeddings nl ON nl.vec_id = t.nid
         |  GROUP BY t.qid)
         |SELECT qid, CAST(first_rel_rank AS BIGINT) AS first_rel_rank,
         |  CAST(CASE WHEN first_rel_rank > 0
         |       THEN 60 // first_rel_rank ELSE 0 END AS BIGINT) AS rr_x60,
         |  rel_at_5
         |FROM graded ORDER BY qid""".stripMargin,

    "sim_matryoshka" ->
      s"""WITH pref AS (SELECT vec_id, embedding[1:8] AS p
         |              FROM embeddings),
         |short AS (
         |  SELECT qid, nid FROM (
         |    SELECT q.vec_id AS qid, n.vec_id AS nid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(q.p, n.p) DESC,
         |                 n.vec_id) AS rn
         |    FROM pref q JOIN pref n ON n.vec_id <> q.vec_id
         |    WHERE q.vec_id < $NQ) t
         |  WHERE rn <= $RERANK)
         |SELECT qid, nid FROM (
         |  SELECT s.qid, s.nid,
         |    row_number() OVER (PARTITION BY s.qid
         |      ORDER BY list_cosine_similarity(q.embedding, n.embedding)
         |               DESC, s.nid) AS rn
         |  FROM short s
         |  JOIN embeddings q ON q.vec_id = s.qid
         |  JOIN embeddings n ON n.vec_id = s.nid) t
         |WHERE rn <= $TOPK ORDER BY qid, rn""".stripMargin,

    "sim_ivf_topk" ->
      s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv
         |              FROM embeddings WHERE vec_id < $C),
         |assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC,
         |                 c.cid) AS rn
         |    FROM embeddings e, cent c) x WHERE rn = 1),
         |probes AS (
         |  SELECT qid, cid FROM (
         |    SELECT q.vec_id AS qid, c.cid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(q.embedding, c.cv) DESC,
         |                 c.cid) AS rn
         |    FROM embeddings q, cent c WHERE q.vec_id < $NQ) x
         |  WHERE rn <= $PROBES),
         |cand AS (
         |  SELECT DISTINCT p.qid, a.vec_id AS nid
         |  FROM probes p JOIN assign a ON p.cid = a.cid
         |  WHERE a.vec_id <> p.qid)
         |SELECT qid, nid FROM (
         |  SELECT c.qid, c.nid,
         |    row_number() OVER (PARTITION BY c.qid
         |      ORDER BY list_cosine_similarity(q.embedding, n.embedding)
         |               DESC, c.nid) AS rn
         |  FROM cand c JOIN embeddings q ON c.qid = q.vec_id
         |              JOIN embeddings n ON c.nid = n.vec_id) t
         |WHERE rn <= $TOPK ORDER BY qid, rn""".stripMargin,

    // mirrors the Spark plan exactly: same double-precision quantize
    // formula (1-based lambda index in DuckDB vs element_at(i+1) in
    // Spark), integer code dot for candidates, float rerank
    "sim_sq_topk" ->
      s"""WITH nrm AS (
         |  SELECT vec_id, embedding,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
         |      sqrt(list_reduce(
         |        list_transform(embedding,
         |          y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)),
         |        (acc, z) -> acc + z))) AS u
         |  FROM embeddings),
         |stats AS (
         |  SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs
         |  FROM (
         |    SELECT i AS pos, MIN(u[i]) AS mn, MAX(u[i]) AS mx
         |    FROM nrm, unnest(range(1, 65)) AS t(i)
         |    GROUP BY i)),
         |coded AS (
         |  SELECT vec_id, embedding,
         |    list_transform(
         |      list_transform(u, (x, i) ->
         |        coalesce(CAST(least(255.0, greatest(0.0,
         |          floor((x - mns[i])
         |                / nullif(mxs[i] - mns[i], 0.0)
         |                * 255.0 + 0.5))) AS INTEGER), 0)),
         |      (c, i) -> mns[i] + CAST(c AS DOUBLE)
         |                         * (mxs[i] - mns[i]) / 255.0) AS dec
         |  FROM nrm, stats),
         |cand AS (
         |  SELECT qid, nid, qe, ne FROM (
         |    SELECT q.vec_id AS qid, n.vec_id AS nid,
         |      q.embedding AS qe, n.embedding AS ne,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        list_reduce(list_transform(range(1, 65),
         |          i -> q.dec[i] * n.dec[i]), (a, b) -> a + b) DESC,
         |        n.vec_id) AS arn
         |    FROM coded q JOIN coded n ON n.vec_id <> q.vec_id
         |    WHERE q.vec_id < $NQ) x
         |  WHERE arn <= $RERANK)
         |SELECT qid, nid FROM (
         |  SELECT qid, nid, row_number() OVER (PARTITION BY qid
         |    ORDER BY list_cosine_similarity(qe, ne) DESC, nid) AS rn
         |  FROM cand) t
         |WHERE rn <= $TOPK ORDER BY qid, rn""".stripMargin,

    // positive head (rn = 0) and negative head (rn = 1..NEGK) rank the
    // same label-filtered cosine joins the Spark plan does
    "ml_hard_negatives" ->
      s"""SELECT qid, rn, nid FROM (
         |  SELECT qid, CAST(0 AS INTEGER) AS rn, nid FROM (
         |    SELECT q.vec_id AS qid, n.vec_id AS nid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(q.embedding, n.embedding)
         |                 DESC, n.vec_id) AS r
         |    FROM embeddings q JOIN embeddings n
         |      ON n.vec_id <> q.vec_id AND n.label = q.label
         |    WHERE q.vec_id < $NQ) p
         |  WHERE r = 1
         |  UNION ALL
         |  SELECT qid, CAST(r AS INTEGER) AS rn, nid FROM (
         |    SELECT q.vec_id AS qid, n.vec_id AS nid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(q.embedding, n.embedding)
         |                 DESC, n.vec_id) AS r
         |    FROM embeddings q JOIN embeddings n
         |      ON n.vec_id <> q.vec_id AND n.label <> q.label
         |    WHERE q.vec_id < $NQ) g
         |  WHERE r <= $NEGK) u
         |ORDER BY qid, rn""".stripMargin,

    "emb_hash_features" -> {
      val cs = (0 until FEAT_D).map(i =>
        s"count(*) FILTER (bucket = $i) AS c$i").mkString(",\n|    ")
      val vec = (0 until FEAT_D).map(i => s"c$i").mkString("[", ", ", "]")
      val sq = (0 until FEAT_D).map(i => s"c$i * c$i").mkString(" + ")
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |           FROM documents),
         |b AS (SELECT doc_id,
         |        strpos('0123456789abcdef', substr(md5(term), 1, 1)) - 1
         |          AS bucket
         |      FROM t),
         |a AS (
         |  SELECT doc_id,
         |    $cs
         |  FROM b GROUP BY doc_id)
         |SELECT doc_id, array_to_string($vec, ',') AS fvec,
         |  CAST($sq AS BIGINT) AS sq_norm
         |FROM a ORDER BY doc_id""".stripMargin
    }
  )
}
