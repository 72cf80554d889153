package graft

import scala.collection.mutable
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Plan-audit main (PLANS_r3.md producer): executes a representative
  * query set and tabulates, from each FINAL adaptive physical plan, the
  * shape facts that matter at 100 TB — whole-stage-codegen span count,
  * shuffle count, join strategy mix, any cartesian/nested-loop joins,
  * and whether parquet scans carry pushed filters. The traversal
  * descends into adaptive query stages and into each cached
  * (InMemoryRelation) pipeline ONCE — a plan string would re-print a
  * cached subtree at every reference and overcount. The same facts
  * PlanInvariantSpec asserts for the dedup family, here recorded as an
  * auditable artifact across the wider surface.
  */
object PlanAudit {

  /** Round 8: the audit covers EVERY SparkEntry query — the list is
    * DERIVED from the registry so coverage cannot drift as operators
    * are added (the round-7 gap was a hand-curated list). The legacy
    * hand-ordered prefix is kept so historical PLANS_r* rows stay
    * comparable; the derived remainder follows alphabetically. */
  private def allAudited: Seq[String] = {
    val rest = (SparkEntry.queries.keySet -- AUDITED).toSeq.sorted
    AUDITED ++ rest
  }

  private val AUDITED = Seq(
    "s1_scan_project", "p6_like_filter", "j1_join_agg", "j4_semi_having",
    "a2_agg_having", "w3_rank_topk", "az_asof_join", "sz_sessionize",
    "dd_minhash_lsh", "dd_simhash", "dd_ngram_jaccard", "dd_embed_cosine",
    "sim_ivf_topk", "ml_recommend", "pipe_clean_corpus", "xk_topk_custom",
    "dd_fuzzy_passjoin", "sim_sq_topk", "ts_bm25", "doc_chunk",
    "pack_sequences", "dd_incremental", "sz_session_window",
    "t7_hopping_twin",
    // round-4 additions
    "dc_decontaminate", "dd_boilerplate", "dd_dup_spans", "dd_semantic",
    "mix_domains", "vocab_topk", "bpe_pair_counts", "emb_hash_features",
    "j7_star_join", "cdc_snapshot_diff", "zo_zorder_scan", "mt_compaction",
    "t8_stream_join_twin", "x_date_spine", "x_stats_agg", "xt_typed_agg",
    "ta_pii_scan", "s9_orc_ingest", "pipe_training_recipe",
    "qs_quantile_sketch", "x_islands", "pw_dynamic_overwrite",
    // round-5 additions
    "tf_txnfeed_parse", "bf_bloom_prune", "ml_kmeans", "sim_pq_topk",
    "tr_shard_manifest",
    // round-5 continuation: training-data additions
    "dd_lines", "mix_temperature", "ta_quality_classifier", "bpe_encode",
    "ml_hard_negatives",
    // round-5 continuation: graph / IR / MV / curation additions
    "gr_pagerank", "mv_incremental", "tr_dense_ids", "tr_dataset_card",
    "ta_outliers", "ts_phrase_search", "sim_mmr_topk",
    // round-5 continuation: sketches / regression / event analytics
    "cs_countmin_probe", "cs_sketch_merge", "ml_linreg",
    "ev_funnel", "ev_retention", "ml_confusion", "az_asof_nearest",
    "ml_power_pc", "sim_ivfpq_topk", "ml_knn_probe", "dd_lsh_tuning",
    // round-6 additions
    "sim_index_add", "s11_xml_ingest",
    "gr_components", "gr_triangles", "er_blocked_match", "er_entities",
    "dd_containment", "samp_weighted", "ta_code_detect", "tr_curriculum",
    "gdpr_cascade", "mt_clustering_depth",
    "tt_asof_read", "pv_k_anonymity", "tc_normalize", "dq_drift_report",
    "gr_components_incr", "gr_link_predict", "x_locf_fill",
    "mv_join_delta", "mt_join_profile", "mt_skew_advisor",
    "mt_file_skipping", "ev_attribution",
    // round-7 additions
    "gr_triangles_incr", "mm_decode_meta", "mm_audio_meta",
    "mm_phash_dedup",
    "er_jaro_winkler", "sky_pareto", "sky_pareto_brand",
    "tm_ewma", "tm_ohlc", "dq_expect_suite", "dq_referential",
    "gr_ppr", "ta_bigram_lm", "sim_matryoshka", "gr_kcore",
    // round-7 continuation: hierarchy / density / interval / sketch /
    // privacy / BFS additions
    "hr_tree_rollup", "db_dbscan_grid", "iv_interval_join",
    "cs_kmv_intersect", "pv_t_closeness", "gr_bfs_dist",
    "gr_sssp_bounded", "dq_profile", "er_mutual_best", "tm_backtest",
    "hr_bom_explode", "ev_segment_overlap", "ev_seq_patterns",
    "geo_point_in_poly", "ts_proximity", "x_key_gaps",
    // round-7 continuation: pattern matching / eval / decomposition /
    // disclosure control
    "ev_match_recognize", "ml_auc_roc", "ml_stump", "tm_seasonal",
    "ta_readability", "pv_cell_suppression",
    "t10_cep_twin", "x_bitmap_distinct", "x_interpolate",
    "dq_mad_outliers", "tm_holt", "iv_time_weighted", "mb_assoc_rules",
    "gr_label_spread", "ev_window_funnel", "dc_fuzzy_decontaminate",
    "ev_rfm")

  private final case class Stats(var codegen: Int = 0, var shuffles: Int = 0,
                                 var bhj: Int = 0, var smj: Int = 0,
                                 var bnlj: Int = 0, var reused: Int = 0,
                                 var scans: Int = 0, var pushed: Int = 0)

  private def audit(root: SparkPlan): Stats = {
    val st = Stats()
    val seenCaches = mutable.Set.empty[Long]
    def rec(n: SparkPlan): Unit = {
      n match {
        case a: AdaptiveSparkPlanExec => rec(a.executedPlan); return
        case q: QueryStageExec => rec(q.plan); return
        case r: ReusedExchangeExec => st.reused += 1; return
        case _ => ()
      }
      n match {
        case _: ShuffleExchangeExec => st.shuffles += 1
        case _: BroadcastHashJoinExec => st.bhj += 1
        case _: SortMergeJoinExec | _: ShuffledHashJoinExec => st.smj += 1
        case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec =>
          st.bnlj += 1
        case s: FileSourceScanExec =>
          st.scans += 1
          if (s.metadata.get("PushedFilters").exists(_ != "[]"))
            st.pushed += 1
        case im: InMemoryTableScanExec =>
          val id = System.identityHashCode(im.relation.cacheBuilder).toLong
          if (!seenCaches.contains(id)) {
            seenCaches += id
            rec(im.relation.cachedPlan)
          }
        case _ => ()
      }
      n.children.foreach(rec)
    }
    rec(root)
    st
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val out = if (args.nonEmpty) args(0) else "PLANS_r8.md"
    val spark = Sessions.local(8)
    spark.sparkContext.setLogLevel("ERROR")

    val rows = allAudited.map { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      // execute THIS QueryExecution (count() would plan a new one and
      // leave this plan un-finalized, pre-codegen)
      df.collect()
      val st = audit(df.queryExecution.executedPlan)
      // codegen spans via the distinct *(n) markers of the final plan
      // string — the tree hides the wrapper inside materialized stages,
      // and distinct ids de-duplicate re-printed cached subtrees
      st.codegen = "\\*\\((\\d+)\\)".r
        .findAllMatchIn(df.queryExecution.executedPlan.toString)
        .map(_.group(1)).toSet.size
      spark.catalog.clearCache()
      Seq(name, st.codegen.toString, st.shuffles.toString,
        s"${st.reused}", st.bhj.toString, st.smj.toString,
        st.bnlj.toString, s"${st.pushed}/${st.scans}")
    }

    val header = Seq("query", "codegen spans", "shuffles", "reused exch",
      "broadcast joins", "shuffle joins", "nested-loop/cartesian",
      "pushed-filter scans")
    val md = new StringBuilder
    md ++= s"# ${out.stripSuffix(".md")} — physical-plan audit\n\n"
    md ++= s"Final adaptive plans at `$dir` " +
      "(`sbt \"runMain graft.PlanAudit\"`), counted by tree traversal — " +
      "each cached pipeline visited once, adaptive stages unwrapped.\n" +
      "`pushed-filter scans` = parquet scans with non-empty PushedFilters " +
      "over total parquet scans. Nested-loop joins appear only against " +
      "broadcast model-parameter-scale tables: sim_ivf_topk's 16-row " +
      "centroid table, ml_recommend's single-row corpus-stats scalar, " +
      "sim_sq_topk's one-row quantizer stats and 10-row query set, " +
      "ts_bm25's one-row corpus stats, dd_semantic's 64-row centroid " +
      "table, bf_bloom_prune's one-row bloom bitset, ml_kmeans's K-row " +
      "centroid tables, sim_pq_topk's NQ-row flattened-LUT table, " +
      "ml_power_pc's one-row iterated-vector and moment frames (its 12 " +
      "entries are two fixed power rounds x broadcast 1-row states), " +
      "sim_mmr_topk's and sim_ivfpq_topk's NQ-row query batches, and " +
      "az_asof_nearest's scalar stats, and the one-row scalar " +
      "broadcasts of gr_triangles/gr_link_predict (co-occurrence " +
      "threshold), x_locf_fill (date bounds), mt_skew_advisor " +
      "(row total), ml_stump and ml_auc_roc (class totals / best-error " +
      "scalars), dq_mad_outliers (median and MAD scalars), ev_rfm " +
      "(high-water and percentile-threshold scalars), iv_time_weighted " +
      "(day-total scalar), mb_assoc_rules (basket-count scalar on both " +
      "rule directions), gr_label_spread and cs_kmv_intersect and " +
      "pv_t_closeness (the same 1-row statistic shape) " +
      "(each asserted broadcast-bounded in PlanInvariantSpec or scalar " +
      "by construction).\n" +
      "The round-8 full-surface extension (105 newly audited queries) " +
      "introduces no new nested-loop class — every new entry is the " +
      "same broadcast-scalar shape: dq_referential's six FK edges each " +
      "cross one-row orphan/child count scalars, dq_benford's " +
      "digit-total scalar, ml_weak_nb's class-prior/vocab-size " +
      "one-rowers, the NQ-row broadcast query batches of ml_knn_probe / " +
      "sim_bruteforce_topk / sim_eval_mrr / sim_matryoshka / " +
      "sim_index_add (plus their one-row quantizer stats), " +
      "cs_sketch_merge and cs_kmv_intersect's one-row merged-sketch / " +
      "tau scalars, mb_item_pairs' basket-count scalar, " +
      "mix_temperature's domain-weight table, ml_hard_negatives' " +
      "NQ-row anchors, ta_pmi_pairs / ta_unigram_lm / ta_bigram_lm's " +
      "corpus-total and bounded-vocabulary broadcasts, tm_acf's fixed " +
      "lag list, tm_changepoint's series-total scalar, ts_hybrid_fusion's " +
      "two top-20 result legs, the er_* family's size-adaptive klen " +
      "scalar (FuzzyJoin.scala:292 — ONE broadcast row joined " +
      "unconditioned, twice per match-table leg → the 4-entry rows), " +
      "and ev_bot_rank's one-row doubled-median scalar " +
      "(Diagnostics.scala — explicit broadcast).\n" +
      "Round-10 extension: tr_dsir_select's one nested-loop entry is " +
      "its ONE-ROW smoothing-totals scalar (tt/tr/bb — " +
      "CorpusPrep.dsirSelectOf's broadcast consts crossJoin); its two " +
      "shuffle-join entries are BOTH the bucket-grain FULL-OUTER count " +
      "merge (top-V+OOV feature space — model-parameter scale, never " +
      "the corpus; it appears once under each consumer, the contrib " +
      "join and the totals row), while the corpus-grain path is " +
      "explode → hash agg → broadcast join only.\n" +
      "A 0/N pushed-filter entry is NOT a miss when the query has no " +
      "pushable predicate by nature: aggregate-input scans read every " +
      "row on purpose (j4_semi_having 0/2, a2_agg_having 0/1, and every " +
      "whole-corpus scan in the dedup/text families) — the column " +
      "reports pushdown only where a filter exists to push.\n\n"
    md ++= header.mkString("| ", " | ", " |\n")
    md ++= header.map(_ => "---").mkString("| ", " | ", " |\n")
    rows.foreach(r => md ++= r.mkString("| ", " | ", " |\n"))
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      md.toString.getBytes("UTF-8"))
    println(s"wrote $out")
    spark.stop()
  }
}
