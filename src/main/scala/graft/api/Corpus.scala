package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Graph}

/** Public library facade: the dedup family over ARBITRARY caller
  * DataFrames — the entry points a user switching from the reference
  * suite calls on their own tables, not on the benchmark paths. Every
  * method delegates to the exact code path the oracle-checked named
  * queries run (one implementation, two front doors), so the facade
  * inherits their correctness and their scale shape: native
  * [[graft.functions.MinHash9]] signatures (zero-shuffle projection),
  * band-bucket equi-join candidates, digest-keyed exact dedup, and
  * star-contraction component resolution.
  *
  * Column contract: callers name their id and text columns; results
  * come back keyed by the caller's id column.
  */
object Corpus {

  private def normalized(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))

  /** MinHash signatures (h1..h9 md5-hex minima) per document. Docs with
    * fewer than 3 words have no 3-gram shingles and are absent. */
  def minhashSignatures(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    Dedup.minhashesOf(normalized(docs, idCol, textCol))
      .withColumnRenamed("doc_id", idCol)

  /** Near-duplicate pairs (id1 < id2, n_match >= 6 of 9 signature
    * agreement) from the LSH band-bucket join — sub-quadratic: only
    * bucket-sharing pairs are scored. */
  def nearDupPairs(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    // release + memoize (round 13, ADVICE r12): the LSH pipeline's
    // internal signature cache is unpersisted once the pair set is
    // checkpoint-materialized, and the result is memoized per
    // (session, input plan) so a serve loop replays one artifact
    // instead of minting a checkpoint per call — the
    // Materialize.resultOnce serving contract nearDupClusters already
    // follows (ServeLoopSpec pins storage flat across loops).
    val in = normalized(docs, idCol, textCol)
    graft.sources.Materialize.resultOnce("corpus.nearDupPairs", "",
      Seq(in))(Dedup.minhashPairsOf(in, release = true))
  }

  /** The (bands, rowsPerBand) banding of the k-hash signature whose
    * LSH S-curve threshold sits nearest `targetJaccard` — closing the
    * loop on the MEASURED S-curve table (`dd_lsh_tuning` evaluates all
    * three K=9 divisor bandings' candidate/verified volumes on real
    * data; this picks from the same menu analytically). The candidate
    * probability at similarity s is P(s) = 1 − (1 − s^r)^b, and the
    * chosen banding minimizes |s₀.₅ − target| where
    * s₀.₅ = (1 − 0.5^(1/b))^(1/r) is the curve's midpoint. K=9 menu:
    * 9×1 → s₀.₅ ≈ 0.074 (catch-everything recall),
    * 3×3 → s₀.₅ ≈ 0.590 (the production near-dup point),
    * 1×9 → s₀.₅ ≈ 0.926 (near-exact only).
    * K=16 (round 10) widens it for high-precision targets:
    * 16×1 ≈ 0.042, 8×2 ≈ 0.246, 4×4 ≈ 0.631, 2×8 ≈ 0.858,
    * 1×16 ≈ 0.958 — two graded steps above the near-dup point where
    * K=9 jumps straight from 0.59 to 0.93. */
  def lshBandingFor(targetJaccard: Double, k: Int = 9): (Int, Int) = {
    require(targetJaccard > 0 && targetJaccard < 1,
      s"targetJaccard must be in (0,1), got $targetJaccard")
    require(k == 9 || k == 16, s"signature width $k: only 9 and 16 " +
      "are compiled expressions (minhash9 / minhash16)")
    // descending b keeps the k=9 tie-break identical to the round-9
    // Seq(9, 3, 1) menu
    (1 to k).filter(k % _ == 0).reverse.map { b =>
      val r = k / b
      val mid = math.pow(1 - math.pow(0.5, 1.0 / b), 1.0 / r)
      (b, r, math.abs(mid - targetJaccard))
    }.minBy(_._3) match { case (b, r, _) => (b, r) }
  }

  /** Near-duplicate pairs at a caller-chosen similarity target: the
    * banding comes from [[lshBandingFor]] and verification keeps pairs
    * whose signature agreement estimates J ≥ target (n_match ≥
    * ⌈9·target⌉ of 9). Expected error budget, from the S-curve
    * P(s) = 1 − (1 − s^r)^b at the chosen (b, r): a TRUE pair at
    * similarity exactly `target` is missed by the candidate stage with
    * probability 1 − P(target) (e.g. 3×3 at target 0.65: P ≈ 0.61, so
    * ≈ 39% of borderline pairs miss — falling fast to ≈ 4% at s=0.9);
    * candidate-stage FALSE POSITIVES cost only verification work —
    * the agreement filter removes them exactly, so they never reach
    * the output. At target ≈ 2/3 with k = 9 this is BY CONSTRUCTION
    * the same (3 bands × 3 rows, ≥6/9) plan as [[nearDupPairs]] —
    * parity-pinned in DedupSpec. Pass k = 16 for high-precision
    * targets (the minhash16 signature's 2×8 / 1×16 bandings step
    * where K=9's menu jumps from 0.59 to 0.93); the k = 9 default
    * compiles the identical plan it always did. */
  def nearDedup(docs: DataFrame, targetJaccard: Double,
                idCol: String = "doc_id",
                textCol: String = "text",
                k: Int = 9): DataFrame = {
    val (b, _) = lshBandingFor(targetJaccard, k)
    val minAgree = math.ceil(k * targetJaccard).toInt
    val in = normalized(docs, idCol, textCol)
    // same release + memo contract as nearDupPairs (the (b, k, agree)
    // triple parameterizes the memo key — distinct targets build
    // distinct artifacts)
    graft.sources.Materialize.resultOnce("corpus.nearDedup",
      s"$b|$k|$minAgree", Seq(in)) {
      val scored = if (k == 9) Dedup.minhashScoredUnder(in, b,
        release = true)
      else Dedup.minhashScoredWide(in, k, b, release = true)
      scored.filter(col("n_match") >= minAgree)
    }
  }

  /** COST-BASED routing decision for near-dup detection (round 12):
    * estimates the exact n-gram path's prefix-join candidate volume
    * from the shingle document-frequency histogram — ONE cheap
    * aggregation, Σ C(df, 2), an upper bound on the collisions the
    * rarity-ranked prefixes can produce — and compares it against a
    * per-document pair budget. Returns (route, estimate, bound):
    * `"exact"` (the J ≥ 1/2 prefix-filter pipeline, recall exact by
    * theorem) when the estimate fits, `"lsh"` (minhash band-bucket
    * candidates, density-robust) when it does not. A replica-saturated
    * corpus — k copies of a document contribute k²/2 collisions per
    * shingle — is exactly the input where the exact path's candidate
    * stage is structurally quadratic; the x30 soak measured its
    * verified-output floor at 136 s where the LSH path's candidate
    * share stays ~0.02%. Pinned by ApiSpec (saturated → lsh, sparse →
    * exact) and cross-engine by the `dd_route_auto` oracle.
    *
    * BUDGET GRAIN (round 13, surfaced per ADVICE r13): the returned
    * `bound` is `pairBudgetPerDoc × n_docs` where `n_docs` counts
    * DISTINCT ids — a document's natural key — so a caller frame with
    * duplicated ids budgets per distinct id, not per row (rounds ≤ 12
    * budgeted per row; a dup-id frame can therefore route differently
    * than it did then). Rows whose text is NULL or shorter than one
    * shingle still count toward the census via the explode_outer null
    * row; rows with a NULL id count as one distinct id together. */
  def dedupRoute(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text",
                 pairBudgetPerDoc: Long = 32): (String, Long, Long) = {
    require(pairBudgetPerDoc > 0,
      s"pairBudgetPerDoc must be > 0, got $pairBudgetPerDoc")
    // ONE job (round 13): Dedup.routeStats folds the document census
    // into the estimator aggregation via GROUPING SETS — the old shape
    // ran the Σ C(df,2) aggregation plus a separate count() job.
    // n_docs counts DISTINCT ids (documents' natural key; a caller
    // frame with duplicated ids budgets per distinct id).
    val in = normalized(docs, idCol, textCol)
    val (est, n) = Dedup.routeStats(in)
    val bound = pairBudgetPerDoc * n
    (if (est <= bound) "exact" else "lsh", est, bound)
  }

  /** Near-duplicate pairs with AUTOMATIC path selection
    * ([[dedupRoute]]): the exact n-gram J ≥ 1/2 pipeline when its
    * candidate estimate fits the budget, minhash-LSH (band-bucket
    * candidates, ≥ 6/9 agreement ≈ J ≳ 0.6) when it does not. The
    * decision is SURFACED in the result — every pair row carries a
    * literal `route` column — because the two branches answer slightly
    * different questions (exact set similarity vs an LSH estimate):
    * the routing trades the exact relation for a density-robust one
    * only when the exact path is structurally quadratic on this
    * corpus, and never silently. Callers pinning one semantics use
    * [[nearDupPairs]] / the exact path directly. */
  def nearDupPairsAuto(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text",
                       pairBudgetPerDoc: Long = 32): DataFrame = {
    require(pairBudgetPerDoc > 0,
      s"pairBudgetPerDoc must be > 0, got $pairBudgetPerDoc")
    // ONE corpus read end-to-end (round 13): the normalized frame is
    // cached once and feeds BOTH the one-job routing estimator
    // (Dedup.routeStats) and the selected branch — the round-12 shape
    // re-shingled the corpus inside the branch after the estimator had
    // already paid for it. Both branch pipelines materialize their
    // result eagerly and release their internal caches (the components
    // discipline); the normalized cache is released once the
    // checkpointed pair set exists, so a long-lived caller pins
    // nothing beyond the result it holds — and the whole routed call
    // is memoized per (session, input plan, budget), the resultOnce
    // serving contract.
    val key = normalized(docs, idCol, textCol)
    graft.sources.Materialize.resultOnce("corpus.nearDupPairsAuto",
      s"$pairBudgetPerDoc", Seq(key)) {
      val (route, pairs) = routedPairs(key, pairBudgetPerDoc)
      pairs.withColumn("route", lit(route))
    }
  }

  /** The routed decision + the selected branch's CHECKPOINTED pair set,
    * off ONE cached read of the normalized corpus — shared by
    * [[nearDupPairsAuto]] and [[nearDupClustersAuto]]. Both branch
    * pipelines release their internal caches once materialized; the
    * normalized cache is released here. */
  private def routedPairs(in: DataFrame,
                          pairBudgetPerDoc: Long): (String, DataFrame) = {
    val c = in.cache()
    try {
      val (est, n) = Dedup.routeStats(c)
      val route = if (est <= pairBudgetPerDoc * n) "exact" else "lsh"
      val pairs =
        if (route == "exact") Dedup.jaccardPairsOf(c)
        else Dedup.minhashPairsOf(c, release = true).select("id1", "id2")
      (route, pairs)
    } finally { c.unpersist(false); () }
  }

  /** Connected components over the ROUTED near-dup pair graph (round
    * 13 — [[dedupRoute]]'s decision propagated to the clustering entry
    * point): cluster ids come from whichever pair semantics the router
    * selected for this corpus, and every row carries the `route`
    * column so the trade is never silent ([[nearDupPairsAuto]]'s
    * contract). Callers pinning the MinHash semantics use
    * [[nearDupClusters]]. Memoized per (session, input plan, budget)
    * like every components-backed facade. */
  def nearDupClustersAuto(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text",
                          pairBudgetPerDoc: Long = 32): DataFrame = {
    require(pairBudgetPerDoc > 0,
      s"pairBudgetPerDoc must be > 0, got $pairBudgetPerDoc")
    val key = normalized(docs, idCol, textCol)
    graft.sources.Materialize.resultOnce("corpus.nearDupClustersAuto",
      s"$pairBudgetPerDoc", Seq(key)) {
      val (route, pairs) = routedPairs(key, pairBudgetPerDoc)
      Graph.starComponents(pairs)
        .withColumnRenamed("node", idCol)
        .withColumn("route", lit(route))
    }
  }

  /** Connected components over the near-dup pair graph: one row per
    * document in a duplicate family, labeled by the family's minimum
    * id. Documents with no near-dup are absent (singleton = itself).
    * Checkpoint-backed and therefore memoized per (session, input
    * plan) — the [[graft.api.Graphs]] serving contract. */
  def nearDupClusters(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val in = normalized(docs, idCol, textCol)
    graft.sources.Materialize.resultOnce("corpus.nearDupClusters", "",
      Seq(in))(
      Graph.starComponents(
          Dedup.minhashPairsOf(in, release = true).select("id1", "id2"))
        .withColumnRenamed("node", idCol))
  }

  /** CLUSTER-AWARE keep-best (round 13; ROUTED round 14) — the
    * resolution step after near-dup clustering: one surviving
    * representative per duplicate cluster by the keep-richest rule
    * (distinct-token count, ties to the lower id), singletons keeping
    * themselves. Returns one row per retained doc: (cluster_id,
    * keep_id = caller id, quality, n_members, route).
    *
    * COMPOSES ON [[nearDupClustersAuto]]'s memoized clusters artifact
    * (round 14 — the round-13 shape hardwired `minhashPairsOf` and
    * re-ran components inside its own memo key, so a serve loop that
    * had just clustered paid the components reduction twice and could
    * resolve keep-best over DIFFERENT pair semantics than its
    * clusters): one components pass per (session, corpus, budget),
    * keep-best semantics guaranteed consistent with the clusters the
    * caller just saw, and the routing decision surfaced on every row
    * ([[nearDupPairsAuto]]'s never-silent contract). The keep-best
    * step itself adds only dup-family-sized windows on top of the
    * clusters artifact — no new shuffle of the corpus beyond the
    * quality projection. Callers pinning the MinHash pair semantics
    * regardless of corpus density use the `dd_cluster_keep_best`
    * named-query path ([[graft.operators.Dedup]]). */
  def keepBestPerCluster(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text",
                         pairBudgetPerDoc: Long = 32): DataFrame = {
    require(pairBudgetPerDoc > 0,
      s"pairBudgetPerDoc must be > 0, got $pairBudgetPerDoc")
    val in = normalized(docs, idCol, textCol)
    graft.sources.Materialize.resultOnce("corpus.keepBestPerCluster",
      s"$pairBudgetPerDoc", Seq(in)) {
      // the routed clusters artifact — memoized per (session, plan,
      // budget), so a clusters-then-keep-best serve loop runs ONE
      // components pass (ServeLoopSpec pins zero new persistent RDDs
      // on the keep-best call after a clusters call)
      val cl = nearDupClustersAuto(docs, idCol, textCol,
          pairBudgetPerDoc)
        .select(col(idCol).as("doc_id"), col("cluster_id"),
          col("route"))
      // the route is one constant per (corpus, budget): read it off
      // the artifact (a one-row probe — model-parameter scale); a
      // corpus with NO dup family has an empty artifact, so fall back
      // to the estimator's decision for the surfaced column
      val route = cl.select("route").head(1).headOption
        .map(_.getString(0))
        .getOrElse(dedupRoute(docs, idCol, textCol, pairBudgetPerDoc)._1)
      val d = in
        .withColumn("q",
          size(array_distinct(split(col("text"), " "))).cast("long"))
        .select(col("doc_id"), col("q"))
      val labeled = d.join(cl.select("doc_id", "cluster_id"),
          Seq("doc_id"), "left")
        .withColumn("cluster_id",
          coalesce(col("cluster_id"), col("doc_id")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster_id").orderBy(col("q").desc, col("doc_id"))
      labeled
        .withColumn("rn",
          org.apache.spark.sql.functions.row_number().over(w))
        .withColumn("n_members",
          org.apache.spark.sql.functions.count(lit(1)).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("cluster_id")))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("keep_id"),
          col("q").as("quality"), col("n_members"))
        .withColumn("route", lit(route))
    }
  }

  /** Exact duplicates by normalized body (lowercase, trimmed, collapsed
    * whitespace): (keep_id = min id of the group, n_copies). The group
    * key is the md5 digest, so at scale the shuffle carries 16 bytes
    * per row, never the body. */
  def exactDupGroups(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    normalized(docs, idCol, textCol)
      .withColumn("norm",
        regexp_replace(trim(lower(col("text"))), " +", " "))
      .groupBy(md5(col("norm").cast("binary")).as("grp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id").as(idCol), col("n_copies"))

  /** The corpus with near-duplicates removed: for every near-dup pair
    * the higher id is dropped (the keep-lowest rule the recipe pipeline
    * uses). Returns the caller's frame filtered, schema unchanged. */
  def dropNearDups(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val dupIds = nearDupPairs(docs, idCol, textCol)
      .select(col("id2").as(idCol)).distinct()
    docs.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Benchmark decontamination: training rows sharing ANY word n-gram
    * with the benchmark frame are dropped (the eval-scrub rule).
    * Returns the caller's frame filtered, schema unchanged.
    *
    * HARD size contract when `broadcastBench = true` (the default):
    * `bench`'s distinct gram set — roughly one 16-char hash per word of
    * benchmark text — must fit the driver and every executor (eval
    * suites are model-parameter-scale next to a training corpus; tens
    * of millions of grams ≈ 1 GB is the practical ceiling, and Spark's
    * 8 GB broadcast hard cap is the absolute one). For a corpus-scale
    * `bench`, pass `broadcastBench = false`: the membership probe
    * becomes an ordinary shuffled hash join on the gram hash, slower
    * but unbounded. */
  def decontaminate(train: DataFrame, bench: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    ngram: Int = 8,
                    broadcastBench: Boolean = true): DataFrame = {
    def grams(df: DataFrame): DataFrame = df
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= ngram)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(w) - ${ngram - 1}),
           |  i -> substring(md5(cast(concat_ws(' ', slice(w, i, $ngram))
           |                          as binary)), 1, 16))""".stripMargin))
        .as("gh"))
    val benchGrams = grams(bench).select("gh").distinct()
    val probe = if (broadcastBench) broadcast(benchGrams) else benchGrams
    val hit = grams(train).join(probe, "gh")
      .select(col("doc_id").as(idCol)).distinct()
    train.join(hit, Seq(idCol), "left_anti")
  }

  /** Overlapping token-window chunks: (id, chunk_id, n_tokens,
    * chunk_text) — every token covered, final window may be short. */
  def chunk(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text", window: Int = 64,
            stride: Int = 48): DataFrame =
    graft.operators.CorpusPrep.chunkOf(
      normalized(docs, idCol, textCol), window, stride)
      .withColumnRenamed("doc_id", idCol)

  /** Token-budget packing of (id, tokenCount) items into bins per hash
    * group — distributed first-fit-decreasing, no global sort. */
  def pack(items: DataFrame, idCol: String = "doc_id",
           ntokCol: String = "ntok", budget: Int = 512,
           groups: Int = 32): DataFrame =
    graft.operators.CorpusPrep.packOf(
      items.select(col(idCol).as("doc_id"), col(ntokCol).as("ntok")),
      budget, groups)

  /** Deterministic training-shard assignment: (id, text, shard_id,
    * pos) — md5-keyed shuffle, per-shard replay order, byte-stable
    * across reruns. Write with `.write.partitionBy("shard_id")` for
    * one exported file set per shard; see the tr_shard_manifest query
    * for the matching manifest aggregate. */
  def shard(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text", nshards: Int = 16): DataFrame =
    graft.operators.CorpusPrep.shardOf(
      normalized(docs, idCol, textCol), nshards)
      .select(col("doc_id").as(idCol), col("text").as(textCol),
        col("shard_id"), col("pos"))

  /** Write the sharded corpus as one parquet file set per shard
    * (`outDir/shard_id=K/…`), each row carrying its md5 key and replay
    * position — the export a trainer's loader mounts. Verify the
    * round-trip by comparing `tr_shard_manifest` against the manifest
    * recomputed from the files (ShardExportSpec pins equality, plus
    * zero key-to-shard strays on the files). */
  def exportShards(docs: DataFrame, outDir: String,
                   idCol: String = "doc_id", textCol: String = "text",
                   nshards: Int = 16): Unit =
    graft.operators.CorpusPrep.exportShards(
      normalized(docs, idCol, textCol), outDir, nshards)

  /** Dense 0..n−1 ids in `idCol` order, without a global-sort task:
    * bucketed local ranks + a broadcast offset join — equals
    * row_number() OVER (ORDER BY id) − 1 exactly. Returns the input
    * columns plus `dense_id`. */
  def denseIds(docs: DataFrame, idCol: String = "doc_id",
               bucketWidth: Int = 512): DataFrame =
    graft.operators.CorpusPrep.denseIdsOf(docs, idCol, bucketWidth)

  /** The release card a corpus ships with: per-source×lang,
    * per-source ('ALL' lang), and corpus-total ('ALL','ALL') rows of
    * document/token/char volumes, token-length spread, and the
    * exact-duplicate share — one GROUPING SETS pass plus one digest
    * shuffle, any corpus size. */
  def datasetCard(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text", sourceCol: String = "source",
                  langCol: String = "lang"): DataFrame =
    graft.operators.CorpusQuality.datasetCardOf(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text"),
        col(sourceCol).as("source"), col(langCol).as("lang")))

  /** Streaming curation: the recipe's front gates (quality → exact
    * dedup → near-dup removal) applied incrementally to a JSON-lines
    * document stream, each micro-batch probed against the accumulated
    * corpus state (digest anti-join + banded-signature bucket join —
    * `dd_incremental`'s batch-vs-corpus shape; batch cost scales with
    * the batch, never the corpus). Appends survivors to
    * `outDir/accepted`; under in-order arrival the accepted set equals
    * the batch recipe's (CorpusStreamSpec twin law). See
    * [[graft.streaming.CorpusStream]] for state layout and replay
    * semantics. */
  def curateStream(spark: org.apache.spark.sql.SparkSession,
                   srcDir: String, outDir: String, checkpointDir: String,
                   availableNow: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.CorpusStream.start(
      spark, srcDir, outDir, checkpointDir, availableNow)

  /** DSIR-style data selection (importance resampling — Xie et al.
    * 2023): score every raw-pool document by the log-likelihood ratio
    * of two add-one-smoothed unigram LMs (target vs raw) over a
    * bounded feature space — the top-`vocabSize` target vocabulary
    * plus one OOV bucket — and return the `k` most target-like docs as
    * (rank, doc_id). The vocab/stats grain is model-parameter scale
    * (broadcast); the corpus-grain plan is one explode, two hash
    * aggregations, and a broadcast join — no corpus-grain window.
    * Delegates to the path behind the oracle-checked `tr_dsir_select`
    * (and CorpusPrepSpec's full local recompute of the scoring). */
  def dsirSelect(target: DataFrame, raw: DataFrame, k: Int = 20,
                 vocabSize: Int = 2000, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    graft.operators.CorpusPrep.dsirSelectOf(
      normalized(target, idCol, textCol),
      normalized(raw, idCol, textCol), k, vocabSize)
}
