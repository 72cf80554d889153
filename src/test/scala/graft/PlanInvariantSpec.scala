package graft

import graft.operators.{AsOf, CorpusQuality, Dedup, FuzzyJoin, Similarity, TextAnalysis}

/** Scale-plan invariants: the dedup / similarity / as-of operators claim
  * (in their scaladoc) to avoid quadratic join strategies — prove it on
  * the optimized physical plan, so a regression to an all-pairs shape
  * fails CI instead of surfacing as a 100×-scale melt-down.
  *
  * CartesianProduct and (non-broadcast-bounded) BroadcastNestedLoopJoin
  * are the two strategies Spark falls back to when a join has no equi
  * clause; every query below is engineered to give the planner one.
  */
class PlanInvariantSpec extends SparkSpec {

  private def executedPlan(fn: (org.apache.spark.sql.SparkSession, String)
      => org.apache.spark.sql.DataFrame): String =
    fn(spark, sf).queryExecution.executedPlan.toString

  private val dedupQueries = Seq("dd_exact", "dd_incremental",
    "dd_minhash_lsh", "dd_simhash",
    "dd_ngram_jaccard", "dd_embed_cosine")

  for (name <- dedupQueries)
    test(s"$name plans without cartesian or nested-loop joins") {
      val plan = executedPlan(Dedup.queries(name))
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    }

  test("dd_fuzzy_levenshtein plans as a bucketed equi-join") {
    val plan = executedPlan(
      graft.operators.Extensions.queries("dd_fuzzy_levenshtein"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the length-bucket key must be the join key (hash-partitionable)
    assert(plan.contains("bkt"), plan)
  }

  for (name <- Seq("az_asof_join", "az_range_join"))
    test(s"$name plans without cartesian or nested-loop joins") {
      val plan = executedPlan(AsOf.queries(name))
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    }

  test("dd_fuzzy_passjoin: candidates come from segment-key equi-joins") {
    val plan = executedPlan(FuzzyJoin.queries("dd_fuzzy_passjoin"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("sim_sq_topk: only the one-row stats table rides a nested loop") {
    // the broadcast single-row (mns, mxs) stats cross is the analogue
    // of IVF's centroid pass; everything data-sized must stay equi/hash
    val plan = executedPlan(Similarity.queries("sim_sq_topk"))
    assert(!plan.contains("CartesianProduct"), plan)
    val bnlj = plan.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("BuildRight")), plan)
  }

  test("ts_bm25: df and corpus stats broadcast; no shuffled theta join") {
    val plan = executedPlan(TextAnalysis.queries("ts_bm25"))
    assert(!plan.contains("CartesianProduct"), plan)
    val bnlj = plan.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("BuildRight")), plan)
  }

  test("dc_decontaminate: gram probe is a broadcast hash join, no shuffle "
      + "of corpus grams into the join") {
    val plan = executedPlan(CorpusQuality.queries("dc_decontaminate"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("dd_boilerplate: chunk-frequency rejoin stays an equi-join") {
    val plan = executedPlan(CorpusQuality.queries("dd_boilerplate"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("ta_repetition: per-row metrics need no shuffle before the sort") {
    // everything up to the presentation ORDER BY must be exchange-free
    val plan = executedPlan(CorpusQuality.queries("ta_repetition"))
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    // exactly the range-partitioning exchange of the final orderBy
    assert(exchanges <= 1, plan)
  }

  test("dd_semantic: nested-loop only against the broadcast centroids") {
    // the C=64 centroid table is crossed deliberately (assignment is a
    // map-side broadcast pass, same shape as IVF); the within-cluster
    // pair join must stay a cid equi-join
    val plan = executedPlan(
      graft.operators.SemanticDedup.queries("dd_semantic"))
    assert(!plan.contains("CartesianProduct"), plan)
    val bnlj = plan.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("BuildRight")), plan)
  }

  test("dd_dup_spans: dup-gram rejoin and coverage stay equi-joins") {
    val plan = executedPlan(CorpusQuality.queries("dd_dup_spans"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("pipe_training_recipe: every stage joins equi, bench probe broadcasts") {
    val plan = executedPlan(
      graft.operators.CorpusPipeline.queries("pipe_training_recipe"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan) // the bench gram probe
  }

  test("sim_ivf_topk: nested-loop only against the broadcast centroids") {
    // the C=16 centroid table is crossed deliberately (IVF assignment is
    // a map-side broadcast pass); candidate generation and rerank must
    // still be equi-joins — so every BNLJ must be a BuildRight broadcast
    // and a cartesian must never appear.
    val plan = executedPlan(Similarity.queries("sim_ivf_topk"))
    assert(!plan.contains("CartesianProduct"), plan)
    val bnlj = plan.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("BuildRight")), plan)
  }

  test("bf_bloom_prune: the probe filters the fact side below the join") {
    val plan = executedPlan(
      graft.operators.JoinReduction.queries("bf_bloom_prune"))
    assert(!plan.contains("CartesianProduct"), plan)
    // the codegen'd probe must appear as a Filter in the fact branch —
    // i.e. the plan string carries bloom_contains BELOW a join node
    assert(plan.contains("bloom_contains"), plan)
    val bnlj = plan.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("BuildRight")), plan) // 1-row bitset
  }

  test("ml_kmeans and sim_pq_topk: nested-loop only against broadcast " +
    "model tables") {
    // centroid/codebook/LUT frames are model parameters (K, CB, NQ
    // rows); the corpus-sized paths must stay equi/hash everywhere
    for (q <- Seq(graft.operators.Clustering.queries("ml_kmeans"),
        graft.operators.ProductQuant.queries("sim_pq_topk"))) {
      val plan = executedPlan(q)
      assert(!plan.contains("CartesianProduct"), plan)
      val bnlj = plan.linesIterator
        .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
      assert(bnlj.forall(_.contains("BuildRight")), plan)
    }
  }

  test("er_blocked_match and dd_containment: blocked equi-joins only") {
    for (q <- Seq(FuzzyJoin.queries("er_blocked_match"),
        Dedup.queries("dd_containment"))) {
      val plan = executedPlan(q)
      assert(!plan.contains("CartesianProduct"), plan)
      // the only nested loop either query may carry is the one-row
      // klen scalar riding a broadcast
      val bnlj = plan.linesIterator
        .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
      assert(bnlj.forall(_.contains("BuildRight")) ||
        bnlj.forall(_.contains("BuildLeft")), plan)
    }
  }

  test("gr_triangles: wedge close is a hash equi-join; threshold is the " +
    "only scalar nested loop (in the BUILD; the read plan has none)") {
    // the co-supply edge table materializes once per session (the ANN
    // build/search split) — the QUERY plan must be pure equi-joins
    // over the materialized scan, no nested loop at all
    val plan = executedPlan(graft.operators.Graph.queries("gr_triangles"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the BUILD plan carries the one-row threshold broadcast (cnt >
    // thr, BuildRight) as its only nested loop
    val build = executedPlan((s, dir) =>
      graft.operators.Graph.coSupplyBuild(s, dir))
    assert(!build.contains("CartesianProduct"), build)
    val bnlj = build.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.nonEmpty, build)
    assert(bnlj.forall(l => l.contains("BuildRight") && l.contains("thr")),
      build)
  }

  test("er_jaro_winkler: scoring stays on blocked equi-joins, " +
    "jaro_winkler runs inside codegen") {
    val plan = executedPlan(FuzzyJoin.queries("er_jaro_winkler"))
    assert(!plan.contains("CartesianProduct"), plan)
    // klen scalar is the only permissible nested loop (same contract
    // as er_blocked_match)
    val bnlj = plan.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("BuildRight")) ||
      bnlj.forall(_.contains("BuildLeft")), plan)
    // the expression must NOT appear as a codegen-breaking fallback
    assert(!plan.contains("Eval Python"), plan)
  }

  test("skyline: no join anywhere — two sorts and one group shuffle") {
    for (name <- Seq("sky_pareto", "sky_pareto_brand")) {
      val plan = executedPlan(graft.operators.Skyline.queries(name))
      assert(!plan.contains("Join"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
    }
  }

  test("dq_expect_suite: one scan per audited table, never one per rule") {
    val qe = graft.operators.DataQuality.queries("dq_expect_suite")(
      spark, sf).queryExecution
    val scans = qe.executedPlan.toString.linesIterator
      .filter(_.contains("FileScan parquet")).size
    // three tables audited; union reuses each table's single agg —
    // allow Spark to re-print a reused exchange but never re-scan
    // more than once per RULE-GROUP (10 rules would mean 10 scans)
    assert(scans <= 6, qe.executedPlan.toString)
  }

  test("tm_ewma/tm_ohlc: one shuffle family on the series key, no joins") {
    for (name <- Seq("tm_ewma", "tm_ohlc")) {
      val plan = executedPlan(graft.operators.TimeSeries.queries(name))
      assert(!plan.contains("Join"), plan)
    }
  }

  test("mb_item_pairs: basket self-join is an equi-join; only the one-row "
      + "basket count rides a nested loop") {
    val plan = executedPlan(
      graft.operators.Affinity.queries("mb_item_pairs"))
    assert(!plan.contains("CartesianProduct"), plan)
    val bnlj = plan.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.size <= 1, plan) // the countDistinct scalar
    assert(bnlj.forall(_.contains("BuildRight")), plan)
  }

  test("geo_radius_join / geo_grid_knn: cell-keyed equi-join, no cartesian") {
    for (name <- Seq("geo_radius_join", "geo_grid_knn")) {
      val plan = executedPlan(graft.operators.Spatial.queries(name))
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      // the distance test must be a post-join Filter, not a join
      // condition that downgrades the strategy
      assert(plan.contains("dist2"), plan)
    }
  }

  test("gr_walks: every step is an equi-join on (node, rank)") {
    val plan = executedPlan(graft.operators.Walks.queries("gr_walks"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the ranked adjacency is built once and reused: the cached plan
    // shows as InMemoryTableScan at each of the L probe sites
    assert(plan.contains("InMemoryTableScan"), plan)
  }

  test("ev_transitions: no join before the from-total rejoin; both "
      + "aggregations partial-merge") {
    val plan = executedPlan(
      graft.operators.Affinity.queries("ev_transitions"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("dd_keep_best: one digest shuffle, no joins at all") {
    val plan = executedPlan(Dedup.queries("dd_keep_best"))
    assert(!plan.contains("Join"), plan)
  }

  test("ts_hybrid_fusion / sim_eval_mrr: equi-joins only, both global "
      + "top-ks are TakeOrderedAndProject not full-sort") {
    val fusion = executedPlan(TextAnalysis.queries("ts_hybrid_fusion"))
    assert(!fusion.contains("CartesianProduct"), fusion)
    assert(fusion.contains("TakeOrderedAndProject"), fusion)
    val mrr = executedPlan(Similarity.queries("sim_eval_mrr"))
    assert(!mrr.contains("CartesianProduct"), mrr)
  }

  test("ml_weak_nb: model is broadcast-bounded; data path has no " +
      "cartesian and no shuffle nested loop") {
    val plan = executedPlan(graft.operators.Classify.queries("ml_weak_nb"))
    assert(!plan.contains("CartesianProduct"), plan)
    // the 3-row class table and the vocab×3 grid ride broadcasts; any
    // nested loop must be one of those broadcast fan-outs
    val bnlj = plan.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(l => l.contains("BuildRight") ||
      l.contains("BuildLeft")), plan)
    assert(bnlj.nonEmpty, plan) // the class fan-out is expected
  }

  test("tm_acf / tm_changepoint: lag alignment is an equi-join on day;" +
      " top-3 is TakeOrderedAndProject") {
    val acf = executedPlan(
      graft.operators.TimeSeries.queries("tm_acf"))
    assert(!acf.contains("CartesianProduct"), acf)
    val cp = executedPlan(
      graft.operators.TimeSeries.queries("tm_changepoint"))
    assert(!cp.contains("CartesianProduct"), cp)
    assert(cp.contains("TakeOrderedAndProject"), cp)
  }

  test("gr_adamic_adar: wedge and degree joins are equi-joins; the " +
      "co-supply threshold is the only scalar nested loop") {
    val plan = executedPlan(graft.operators.Graph.queries("gr_adamic_adar"))
    assert(!plan.contains("CartesianProduct"), plan)
    val bnlj = plan.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(l => l.contains("BuildRight") && l.contains("thr")),
      plan)
  }

  test("pv_l_diversity: two stacked aggregates, no joins at all") {
    val plan = executedPlan(
      graft.operators.Curation.queries("pv_l_diversity"))
    assert(!plan.contains("Join"), plan)
  }

  test("ml_recommend: one customer shuffle feeds a heap top-k; no score " +
      "sort, no theta join, no extra part-grain broadcast") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, ResolvedHint}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.plans.TopKPerGroupExec
    val df = graft.operators.Recommender.queries("ml_recommend")(spark, sf)
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(!plan.toString.contains("CartesianProduct"), plan)
    val topk = plan.collect { case t: TopKPerGroupExec => t }
    assert(topk.size == 1, plan)
    // windows rank parts by id and bound theta per customer; none sorts
    // by a score
    plan.collect { case w: WindowExec => w }.foreach { w =>
      val keys = w.orderSpec.flatMap(_.references).map(_.name)
      assert(!keys.exists(Set("s", "score")), w)
    }
    // the name-grain subtree is planned once per use (AQE reuses its
    // stages), so count distinct joins
    val bnlj = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.map(_.canonicalized).distinct.size == 1, plan)
    assert(bnlj.head.right.output.map(_.name) == Seq("n_parts"), plan)
    // the first shuffles under the top-k, not counting broadcast builds:
    // exactly one, the customer shuffle, so the class table never moves
    def streamed(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
      case _: BroadcastExchangeExec => Nil
      case e: ShuffleExchangeExec => Seq(e)
      case other => other.children.flatMap(streamed)
    }
    val shuffles = streamed(topk.head.child)
    assert(shuffles.size == 1, plan)
    val keys = shuffles.head.outputPartitioning match {
      case e: org.apache.spark.sql.catalyst.expressions.Expression =>
        e.references.map(_.name).toSet
      case _ => Set.empty[String]
    }
    assert(keys == Set("cust"), plan)
    // part-grain relations (no aggregate under the hint) broadcast at most
    // twice: the part -> class lift and the class -> part expansion
    val partGrain = df.queryExecution.analyzed.collect {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) &&
        h.child.collectFirst { case a: Aggregate => a }.isEmpty => h
    }
    assert(partGrain.size <= 2, partGrain.mkString("\n"))
  }
}
