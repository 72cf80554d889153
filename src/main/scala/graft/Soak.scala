package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale soak for the dedup/similarity family (docs/findings.md):
  * measures, at 10× the bench corpus, what the plan audits only argue —
  * that candidate generation stays sub-quadratic and runtimes stay
  * near-linear.
  *
  * The 10× corpus is adversarially near-dup-HEAVY, not iid: copy c of
  * document d rotates d's word order by c positions (rotations share
  * almost all 3-gram shingles → every 10-copy family is mutually
  * near-duplicate), and copy c of vector v adds a c·5e-4 bias (copies
  * mostly share SRP sign bits → crowded buckets). A corpus where 90% of
  * documents are near-dups is the worst realistic case for LSH bucket
  * joins — candidate volume is dominated by TRUE positives, which no
  * sound method can avoid scoring.
  *
  * Usage: runMain graft.Soak [copies] — writes the synthetic corpus
  * under /tmp/graft_soak, then prints one JSON line per (corpus, query)
  * with rows, wall time, bucket-join candidate count, verified-pair
  * count, and candidates as a fraction of n(n-1)/2.
  */
object Soak {

  private val OFFSET = 10L * 1000 * 1000

  def generate(spark: SparkSession, base: String, out: String,
               copies: Int): Unit = {
    val docs = Tables(spark, base, "documents")
    val rotated = (0 until copies).map { c =>
      docs.withColumn("w", split(col("text"), " "))
        .withColumn("off", lit(c) % greatest(size(col("w")), lit(1)))
        .select(
          (col("doc_id") + lit(c * OFFSET)).as("doc_id"),
          when(col("off") === 0, col("text")).otherwise(concat_ws(" ",
            concat(slice(col("w"), col("off") + lit(1),
                size(col("w")) - col("off")),
              slice(col("w"), lit(1), col("off"))))).as("text"),
          col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _)
    rotated.write.mode("overwrite").parquet(s"$out/documents.parquet")
    val vecs = Tables(spark, base, "embeddings")
    // copy 0 is the base corpus verbatim (the queries); copy c > 0 adds
    // the c·5e-4 uniform bias PLUS a per-(vector, dim, copy)
    // DETERMINISTIC murmur3 jitter of ±1000 quantized units — ±0.1 per
    // dim, family radius ≈ 0.46 of a unit vector (round 13: the
    // round-12 soak's uniform-bias replicas saturated every ANN recall
    // line at 1.000 — a query's replicas sat on one ray at monotone
    // tiny distances sharing the query's own PQ/IVF cells, so the
    // exact rerank always recovered the full truth set. Measured on
    // the way here: ±10 and ±200 units still saturate — any jitter
    // radius below the corpus's own neighbor distances leaves the
    // family strictly nearest and every index finds it. At ±1000 the
    // family radius reaches real inter-vector distances, so the truth
    // set mixes replicas and strangers and the recall line finally
    // measures the INDEX, not the replica geometry; cosine within a
    // family stays ≈ 0.89, so families remain near-dup-heavy for the
    // SRP-LSH candidate-share lines).
    val shifted = (0 until copies).map { c =>
      if (c == 0) vecs.select(col("vec_id"), col("embedding"), col("label"))
      // the ANN QUERY vectors (vec_id < 10 — the sim_ family's NQ)
      // keep NO replicas: a query whose own near-identical copies
      // dominate its truth set saturates every recall line at 1.000
      // regardless of index quality (any index finds the family —
      // measured through three jitter magnitudes on the way here), so
      // the queries' truth stays STRANGER-ONLY at the corpus's own
      // neighbor granularity while the other 99.98% of vectors stay
      // replica-heavy for the SRP-LSH candidate-share lines
      else vecs.filter(col("vec_id") >= 10).select(
        (col("vec_id") + lit(c * OFFSET)).as("vec_id"),
        expr(s"""transform(embedding, (x, i) ->
                |  x + cast($c * 0.0005 as float)
                |    + cast((hash(vec_id, i, $c) % ${200 * c + 1})
                |           * 0.0001 as float))"""
          .stripMargin).as("embedding"),
        col("label"))
    }.reduce(_ unionAll _)
    shifted.write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // fuzzy-dedup vocabulary: 1000 base words × 10 single-substitution
    // variants, ALL exactly 20 chars — the deliberate worst case for
    // length-bucket blocking (one populated bucket → all-pairs) and the
    // normal case for PassJoin segment keys. Variant c of a base
    // substitutes position (c*7)%20 with a letter outside the hex
    // alphabet, so within a family pairwise edit distance is 1–2.
    val vocab = spark.range(1000 * 10).select(
      expr("""substring(md5(cast(id div 10 as string)), 1, 20)""").as("base"),
      expr("cast(id % 10 as int)").as("c"))
      .select(expr(
        """if(c = 0, base, concat(
          |  substring(base, 1, (c * 7) % 20),
          |  char(ascii('g') + c),
          |  substring(base, (c * 7) % 20 + 2)))""".stripMargin).as("p_name"))
      .distinct()
    vocab.write.mode("overwrite").parquet(s"$out/part.parquet")
    // relational/event tables for the graph / sketch / analytics / MV
    // families: copy c offsets every entity key by c·OFFSET so copies
    // are disjoint worlds (graph grows by whole components, funnels by
    // whole users), EXCEPT l_partkey, kept verbatim so Count-Min key
    // frequencies scale ×copies (the sketch stress is counter depth,
    // not key cardinality). One replicate rule for all three tables;
    // events goes through Tables.events so BOTH generator timestamp
    // encodings land here as the same normalized TimestampType.
    def replicate(df: DataFrame, keyCols: Seq[String],
                  table: String): Unit =
      (0 until copies).map { c =>
        keyCols.foldLeft(df)((d, k) =>
          d.withColumn(k, col(k) + lit(c * OFFSET)))
      }.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
    // o_custkey INTERLEAVES (k·copies + c) to mirror the customer
    // replicate below — offset custkeys would only ever join copy-0
    // customers, so every customer-joining soak query (mv_join_delta,
    // the profiler, gdpr's FK reasoning) would measure scan growth
    // instead of join growth. Orderkeys stay on the +OFFSET plane to
    // match lineitem. Copy c's orders still join exactly copy c's
    // customers — worlds remain disjoint, just interleaved; the one
    // intentional cross-copy touch is gr_components' custkey+1 decade
    // bridge, which now occasionally links adjacent copies (deeper
    // chains — a harder, not easier, contraction input).
    (0 until copies).map { c =>
      Tables(spark, base, "orders")
        .withColumn("o_orderkey", col("o_orderkey") + lit(c * OFFSET))
        .withColumn("o_custkey", col("o_custkey") * copies + c)
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    replicate(Tables(spark, base, "lineitem"),
      Seq("l_orderkey", "l_suppkey"), "lineitem")
    replicate(Tables.events(spark, base),
      Seq("event_id", "user_id"), "events")
    // customer replicates with INTERLEAVED keys (k·copies + c), not the
    // +OFFSET worlds: offset keys would share their long leading-digit
    // run, collapsing the ER name-prefix block into one giant bucket —
    // a blocking-key design lesson, but one that would measure the
    // collapse, not the operator. Interleaving keeps the leading-digit
    // distribution (and so block population) realistic while staying
    // disjoint.
    val cust = Tables(spark, base, "customer")
    (0 until copies).map(c =>
      cust.withColumn("c_custkey", col("c_custkey") * copies + c))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
    // supplier replicates interleaved for the spatial family: the
    // key-derived coordinates stay uniform over the grid, so cell
    // occupancy (the spatial join's skew bound) grows linearly with
    // copies. With BOTH point sets ×copies, within-radius pair count
    // grows ~copies² — the ground truth is quadratic in density, so
    // the soak checks output tracks density, not that output is linear.
    val supp = Tables(spark, base, "supplier")
    (0 until copies).map(c =>
      supp.withColumn("s_suppkey", col("s_suppkey") * copies + c))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/supplier.parquet")
    // DIMS SHADOW CORPUS for the auto-coverage loop (round 8): the
    // main corpus swaps `part` for the fuzzy vocabulary and carries no
    // nation/region, so part/dimension-reading queries can't run
    // there. The shadow dir symlinks every REPLICATED fact table and
    // carries the base dir's part/nation/region VERBATIM — dimension
    // tables don't scale with fact volume (the realistic 100 TB lake
    // shape: facts ×copies against fixed-size dims; l_partkey is kept
    // verbatim by the replicate above, so fact→dim joins stay keyed).
    val dims = s"$out/dims"
    new java.io.File(dims).mkdirs()
    for (t <- Seq("part", "nation", "region"))
      Tables(spark, base, t)
        .write.mode("overwrite").parquet(s"$dims/$t.parquet")
    for (t <- Seq("lineitem", "orders", "customer", "supplier", "events",
      "documents", "embeddings")) {
      val link = java.nio.file.Paths.get(s"$dims/$t.parquet")
      // a crashed or older-version run can leave a REAL directory at
      // the symlink path; deleteIfExists throws DirectoryNotEmpty on
      // it, so clear a non-symlink directory recursively first
      if (java.nio.file.Files.isDirectory(link,
          java.nio.file.LinkOption.NOFOLLOW_LINKS))
        FileUtils.deleteQuietly(link.toFile)
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(s"$out/$t.parquet").toAbsolutePath)
    }
  }

  /** Named exclusions from the auto-coverage loop — each with the
    * argument on the page (the db_dbscan_grid densification model). */
  private val EXCLUDED: Map[String, String] = Map(
    "db_dbscan_census" -> ("replicate densifies the fixed census grid - " +
      "neighbor-pair volume is quadratic in copies BY GROUND TRUTH " +
      "(density is a corpus property, re-tuned not scaled through); " +
      "the db_dbscan_grid block reports the measured pair count at x10 " +
      "and logs this same skip at x30+"))

  /** Exclusions that apply only at DEEP replication (copies >= 20):
    * operators whose OUTPUT is quadratic in copies by generator spec —
    * measured once at x10 where the volume is already the proof. */
  private val EXCLUDED_DEEP: Map[String, String] = Map(
    "mm_phash_near" -> ("near-dup classes are doc_id % 16 BY GENERATOR " +
      "SPEC, so the TRUE pair set is 16*C(n/16,2) ~ n^2/32 - quadratic " +
      "in copies by ground truth (x10 measured: 78.1M true pairs in " +
      "384 s, the throughput datapoint); a real corpus bounds class " +
      "sizes, it does not grow 16 global classes - the db_dbscan_grid " +
      "argument"))

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def report(spark: SparkSession, tag: String, dir: String): Unit = {
    val nDocs = Tables(spark, dir, "documents").count()
    val nVecs = Tables(spark, dir, "embeddings").count()
    def emit(q: String, n: Long, timeS: Double,
             cand: Long, verified: Long): Unit = {
      val allPairs = n * (n - 1) / 2
      val pct = if (allPairs > 0) 100.0 * cand / allPairs else 0.0
      println(f"""{"corpus":"$tag","query":"$q","rows":$n,"time_s":$timeS%.2f,"candidates":$cand,"verified":$verified,"all_pairs":$allPairs,"cand_pct":$pct%.4f}""")
    }
    import operators.Dedup
    // candidate stages are counted first, then the full query is timed
    // from a cold cache — the timing includes candidate generation
    def run(q: String, cand: => Long): Unit = {
      val c = cand
      spark.catalog.clearCache()
      val (v, t) = time(SparkEntry.queries(q)(spark, dir).count())
      spark.catalog.clearCache()
      val n = if (q == "dd_embed_cosine") nVecs else nDocs
      emit(q, n, t, c, v)
    }
    run("dd_exact", nDocs) // hash-groupBy: 'candidates' = one per row
    run("dd_minhash_lsh", Dedup.minhashScored(spark, dir).count())
    // K=16 high-precision banding (round 10): the candidate volume of
    // the lshBandingFor(0.9, k=16) banding (2×8 — a curve step K=9's
    // menu doesn't have) on the same near-dup-heavy corpus, next to
    // the K=9 production line above for direct comparison
    locally {
      val (b16, r16) = api.Corpus.lshBandingFor(0.9, 16)
      val (cand16, t16) = time(Dedup.minhashScoredWide(
        Tables(spark, dir, "documents"), 16, b16).count())
      spark.catalog.clearCache()
      println(f"""{"corpus":"$tag","query":"dd_lsh_k16","rows":$nDocs,"banding":"${b16}x$r16","candidates":$cand16,"time_s":$t16%.2f}""")
    }
    // incremental probe: candidates touch the ~20% batch only — the
    // measured form of "pairing cost scales with the batch"
    run("dd_incremental", Dedup.incrementalScored(spark, dir).count())
    run("dd_simhash", Dedup.simhashScored(spark, dir).count())
    run("dd_ngram_jaccard",
      jaccardCandCount(spark, dir))
    ngramSuffixAccounting(spark, tag, dir)
    run("dd_embed_cosine", Dedup.embedCandidates(spark, dir).count())
    spark.catalog.clearCache()
    val (v, t) = time(
      SparkEntry.queries("pipe_clean_corpus")(spark, dir).count())
    emit("pipe_clean_corpus", nDocs, t,
      0L, v)
    spark.catalog.clearCache()
    // ANN: IVF recall against the exact baseline (both top-5 x 10
    // queries — collecting 50 rows each is result fetch, not compute)
    val (bf, tBf) = time(
      SparkEntry.queries("sim_bruteforce_topk")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    spark.catalog.clearCache()
    val (ivf, tIvf) = time(
      SparkEntry.queries("sim_ivf_topk")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    spark.catalog.clearCache()
    val recall = if (bf.nonEmpty) 1.0 * (bf & ivf).size / bf.size else 0.0
    spark.catalog.clearCache()
    val (sq, tSq) = time(
      SparkEntry.queries("sim_sq_topk")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    spark.catalog.clearCache()
    val sqRecall = if (bf.nonEmpty) 1.0 * (bf & sq).size / bf.size else 0.0
    val (pq, tPq) = time(
      SparkEntry.queries("sim_pq_topk")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    spark.catalog.clearCache()
    val pqRecall = if (bf.nonEmpty) 1.0 * (bf & pq).size / bf.size else 0.0
    println(f"""{"corpus":"$tag","query":"sim_recall","rows":$nVecs,"brute_s":$tBf%.2f,"ivf_s":$tIvf%.2f,"recall_at_5":$recall%.3f,"sq8_s":$tSq%.2f,"sq8_recall_at_5":$sqRecall%.3f,"pq_s":$tPq%.2f,"pq_recall_at_5":$pqRecall%.3f}""")
    // steady SEARCH timings: the quantized indexes persist once per
    // (session, dir) — the first timings above include train+encode+
    // write; a second run measures the recurring search alone, the
    // figure a serving deployment quotes at this corpus scale
    val (_, tSq2) = time(
      SparkEntry.queries("sim_sq_topk")(spark, dir).count())
    spark.catalog.clearCache()
    val (_, tPq2) = time(
      SparkEntry.queries("sim_pq_topk")(spark, dir).count())
    spark.catalog.clearCache()
    val (_, tIp1) = time(
      SparkEntry.queries("sim_ivfpq_topk")(spark, dir).count())
    spark.catalog.clearCache()
    val (_, tIp2) = time(
      SparkEntry.queries("sim_ivfpq_topk")(spark, dir).count())
    spark.catalog.clearCache()
    println(f"""{"corpus":"$tag","query":"sim_search_steady","rows":$nVecs,"sq8_search_s":$tSq2%.2f,"pq_search_s":$tPq2%.2f,"ivfpq_build_s":$tIp1%.2f,"ivfpq_search_s":$tIp2%.2f}""")
    // k-means: 3 full assignment passes over the corpus (2 Lloyd + the
    // reported one) against 8 broadcast centroids — the scale check is
    // that cost moves linearly with rows (no pairwise term exists)
    val (kmRows, tKm) =
      time(SparkEntry.queries("ml_kmeans")(spark, dir).count())
    spark.catalog.clearCache()
    println(f"""{"corpus":"$tag","query":"ml_kmeans","rows":$kmRows,"time_s":$tKm%.2f}""")
    // fuzzy dedup: PassJoin segment keys vs length buckets on the SAME
    // vocabulary — candidate volume is the whole story
    val nNames = Tables(spark, dir, "part")
      .select("p_name").distinct().count()
    val namePairs = nNames * (nNames - 1) / 2
    // the length-bucket variant is the MEASURED degenerate case: on the
    // all-equal-length vocabulary it IS all-pairs (x10: 50M candidates,
    // ~175 s). Past 20k names that's tens of minutes of deliberately
    // quadratic work — cap it and record the PassJoin path alone (the
    // point of the comparison is already on record at x10).
    val runBucket = nNames <= 20000
    val (pjCand, tPjCand) = time(
      operators.FuzzyJoin.candidatePairs(spark, dir).count())
    spark.catalog.clearCache()
    val (nPj, tPj) = time(
      SparkEntry.queries("dd_fuzzy_passjoin")(spark, dir).count())
    spark.catalog.clearCache()
    if (runBucket) {
      val (bktCand, tBktCand) = time(bucketCandCount(spark, dir))
      spark.catalog.clearCache()
      val (nBkt, tBkt) = time(
        SparkEntry.queries("dd_fuzzy_levenshtein")(spark, dir).count())
      spark.catalog.clearCache()
      require(nBkt == nPj, s"fuzzy variants disagree: $nBkt vs $nPj")
      println(f"""{"corpus":"$tag","query":"fuzzy_compare","names":$nNames,"all_pairs":$namePairs,"bucket_cands":$bktCand,"passjoin_cands":$pjCand,"bucket_s":$tBkt%.2f,"passjoin_s":$tPj%.2f,"cand_count_s":[$tBktCand%.2f,$tPjCand%.2f],"true_pairs":$nPj}""")
    } else
      println(f"""{"corpus":"$tag","query":"fuzzy_passjoin_only","names":$nNames,"all_pairs":$namePairs,"passjoin_cands":$pjCand,"passjoin_s":$tPj%.2f,"true_pairs":$nPj,"bucket_skipped":"quadratic by design past 20k names"}""")
    // corpus-prep + retrieval: linear-path timings at scale
    for (q <- Seq("doc_chunk", "pack_sequences", "ts_bm25")) {
      val (rows, t) = time(SparkEntry.queries(q)(spark, dir).count())
      spark.catalog.clearCache()
      println(f"""{"corpus":"$tag","query":"$q","rows":$rows,"time_s":$t%.2f}""")
    }
    // span dedup (dd_dup_spans): the scale question is gram-volume
    // accounting — the rotated-copy corpus makes nearly EVERY 8-gram a
    // cross-doc duplicate (rotations share all circular grams), so the
    // coverage explode runs at its worst case: 8 × dup-gram occurrences.
    val g = operators.CorpusQuality.spanGrams(spark, dir).cache()
    val totalGramOcc = g.count()
    val dupDistinct = g.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).count()
    g.unpersist()
    spark.catalog.clearCache()
    val (spanRows, tSpan) =
      time(SparkEntry.queries("dd_dup_spans")(spark, dir).count())
    spark.catalog.clearCache()
    println(f"""{"corpus":"$tag","query":"dd_dup_spans","rows":$spanRows,"time_s":$tSpan%.2f,"gram_occurrences":$totalGramOcc,"dup_distinct_grams":$dupDistinct}""")
    // shard-export round-trip at scale: WRITE one file set per shard,
    // recompute the manifest from the files, pin it against the
    // tr_shard_manifest ledger (the ShardExportSpec law, measured here
    // so the write path itself carries a scale point)
    locally {
      val shardOut = s"/tmp/graft_soak/shard_export_$tag"
      val docs = Tables(spark, dir, "documents").select("doc_id", "text")
      val (nDocs, tW) = time {
        operators.CorpusPrep.exportShards(docs, shardOut)
        spark.read.parquet(shardOut).count()
      }
      val ledger = SparkEntry.queries("tr_shard_manifest")(spark, dir)
        .collect().toSeq
      val fromFiles = operators.CorpusPrep
        .manifestOfExport(spark, shardOut).collect().toSeq
      val ok = ledger == fromFiles
      spark.catalog.clearCache()
      println(f"""{"corpus":"$tag","query":"tr_shard_export","rows":$nDocs,"time_s":$tW%.2f,"shards":${fromFiles.size},"manifest_match":$ok}""")
    }
    // rest of the corpus-quality family + featurizer: linear-path
    // timings (each is tokenize/hash-agg/broadcast-join shaped; the
    // soak checks times scale with rows, not quadratically)
    for (q <- LOOP) {
      // a corpus-shape limitation in ONE query must not kill the whole
      // report — log and continue
      try {
        val (rows, t) = time(SparkEntry.queries(q)(spark, dir).count())
        println(f"""{"corpus":"$tag","query":"$q","rows":$rows,"time_s":$t%.2f}""")
      } catch {
        case e: Throwable =>
          println(s"""{"corpus":"$tag","query":"$q","skipped":"${
            e.getMessage.takeWhile(_ != '\n').take(80)}"}""")
      }
      Sessions.reset(spark)
    }
    heavyBlocks(spark, tag, dir)
    // round-8: every remaining SparkEntry query gets its own timed
    // line (or a named exclusion) — the set is DERIVED from the
    // registry so coverage cannot drift
    autoCoverage(spark, tag, dir)
  }

  /** The standing linear-path loop (family arguments inline). */
  private val LOOP: Seq[String] =
    Seq("dc_decontaminate", "dd_boilerplate", "dd_semantic",
      "bpe_pair_counts", "vocab_topk", "emb_hash_features",
      "pipe_training_recipe",
      // addendum-3 operators: line dedup is one digest shuffle over
      // exploded lines; the other four are projection/broadcast shaped —
      // the soak checks all five move with rows, never pairwise
      "dd_lines", "mix_temperature", "ta_quality_classifier",
      "bpe_encode", "ml_hard_negatives",
      // addendum-4/5 operators: graph (disjoint copies → components
      // scale), sketches (fixed grids under ×copies traffic), event
      // analytics (whole-user copies), MV refresh, curation stats,
      // retrieval, diversified ANN — the soak checks every one moves
      // with rows or stays flat, never pairwise
      "gr_pagerank", "cs_countmin_probe", "cs_sketch_merge",
      "ev_funnel", "ev_retention", "mv_incremental", "ml_linreg",
      "tr_dense_ids", "tr_dataset_card", "ta_outliers",
      "ts_phrase_search", "sim_mmr_topk",
      // spectral: fixed-round broadcast-state passes — the soak checks
      // cost moves with rows only (sim_ivfpq_topk moved to the explicit
      // build-vs-search block above)
      "ml_power_pc",
      // round-6 additions: components/triangles grow by whole disjoint
      // copies, containment's probe volume moves with the (rotated,
      // gram-sharing) corpus, entity resolution and the rest are
      // blocked-join/window/scan shaped — the soak checks each moves
      // with rows, never pairwise
      "gr_components", "gr_triangles", "dd_containment", "er_entities",
      "tr_curriculum", "samp_weighted", "ta_code_detect", "gdpr_cascade",
      "mt_clustering_depth",
      // continuation-2: wedge volume moves with Σdeg² of disjoint copy
      // worlds (linear in copies); IVM/advisor/time-travel/anonymity/
      // normalize/drift/LOCF are aggregate- or window-shaped.
      // (the mt_join_profile QUERY is absent — its lineitem_part leg
      // has no key column here, the soak corpus swaps `part` for the
      // keyless fuzzy vocabulary — but the profiler itself gets its
      // scale datapoint in the dedicated estimate==actual block below)
      "gr_components_incr", "gr_link_predict", "gr_triangles_incr",
      "mv_join_delta",
      "mt_skew_advisor", "tt_asof_read",
      "pv_k_anonymity", "tc_normalize", "dq_drift_report",
      "x_locf_fill", "mt_file_skipping", "ev_attribution",
      // round-7 families: graph additions, ER scoring, time-series
      // bars, DQ audits, Matryoshka retrieval, perceptual dedup (the
      // codec path is embarrassingly parallel — the soak pins that),
      // affinity mining, spatial grid join, and walk generation
      "gr_kcore", "gr_ppr", "er_jaro_winkler", "tm_ewma", "tm_ohlc",
      // (dq_referential moved to the auto-coverage sweep: its
      // lineitem→part FK edge needs the real part table, which the
      // main soak corpus swaps for the fuzzy vocabulary)
      "dq_expect_suite", "dq_quarantine",
      "ta_bigram_lm", "sim_matryoshka", "mm_phash_dedup",
      "mb_item_pairs", "ev_transitions", "gr_walks",
      "geo_radius_join", "geo_grid_knn",
      // round-7 continuation: retrieval eval is the brute pass plus a
      // result-sized grading join; fusion is two distributed top-20s;
      // keep-best is the dd_exact digest shuffle with a window
      "sim_eval_mrr", "ts_hybrid_fusion", "dd_keep_best",
      // round-7 continuation: pointer-jumping stays log-round as the
      // interleaved customer replicate deepens the tree; bounded BFS
      // is 6 fixed frontier joins; the interval join's bucket volume
      // moves with rows × (interval/bucket ≤ 2); KMV is top-K over a
      // distinct; t-closeness is three same-grain aggregates
      "hr_tree_rollup", "hr_level_census", "gr_bfs_dist",
      "iv_interval_join", "cs_kmv_intersect", "pv_t_closeness",
      // min-plus BFS sibling (6 fixed rounds), daily-grain backtest,
      // one-pass profiler, and the two match-table windows of the
      // reciprocal argmin — all shuffle-bounded by their input grain
      "gr_sssp_bounded", "tm_backtest", "dq_profile",
      "er_mutual_best",
      // BOM explosion shares the log-round flatten; the event pair
      // grain is users × type vocabulary; trigrams are one window
      "hr_bom_explode", "ev_segment_overlap", "ev_seq_patterns",
      // geofence is one codegen scan; proximity prunes postings to two
      // broadcast terms; key gaps are bucket-partitioned windows
      "geo_point_in_poly", "ts_proximity", "x_key_gaps",
      // batch-4: trace matching is one user-keyed agg + a codegen
      // regex; AUC is score-grain; the stump and suppression are
      // category-grain; the decomposition's window is daily-grain;
      // readability is a zero-shuffle scan
      "ev_match_recognize", "ml_auc_roc", "ml_stump", "tm_seasonal",
      "ta_readability", "pv_cell_suppression",
      // batch-5: the CEP twin shares the trace agg; the bitmap rollup
      // shuffles half-word grain; interpolation is the LOCF spine;
      // MAD is two daily-grain percentile passes
      "t10_cep_twin", "x_bitmap_distinct", "x_interpolate",
      "dq_mad_outliers",
      // batch-6: Holt shares the tm_ewma window; the interval weights
      // are a projection over the scd2 window; rules share the
      // mb_item_pairs basket-keyed self-join
      "tm_holt", "iv_time_weighted", "mb_assoc_rules",
      // batch-7: spreading is 3 fixed src-keyed join rounds (BFS
      // contract); the windowed funnel's join grain is per-user
      // event volume, never corpus size
      "gr_label_spread", "ev_window_funnel",
      // batch-8: fuzzy decontamination joins only true shared-gram
      // pairs against the benchmark slice; RFM is two user-grain
      // aggregates + broadcast thresholds
      "dc_fuzzy_decontaminate", "ev_rfm")

  /** the instrumented candidate-accounting / recall / estimate blocks —
    * the section of report() between the standing loop and the auto
    * coverage sweep. */
  private def heavyBlocks(spark: SparkSession, tag: String,
                          dir: String): Unit = {
    // density clustering: on the replicated corpus DENSITY itself grows
    // with copies (same 512x512 grid, x-times the points), so neighbor
    // volume is quadratic in copies BY GROUND TRUTH — the cluster
    // structure densifies, which is the regime DBSCAN parameters are
    // re-tuned for, not scaled through. A real 100 TB deployment keeps
    // density roughly constant (coordinates span a real domain that
    // widens with the data), where the cell join is linear. The soak
    // therefore reports the measured neighbor-pair count next to the
    // wall time at x10 and logs the densification skip at x30+.
    {
      val p = operators.Density.pts(spark, dir)
      val nPts = p.count()
      if (nPts <= 200000) {
        val (nNbr, tNbr) =
          time(operators.Density.neighborPairs(p, 144L, 12L).count())
        spark.catalog.clearCache()
        val (rows, t) =
          time(SparkEntry.queries("db_dbscan_grid")(spark, dir).count())
        Sessions.reset(spark)
        println(f"""{"corpus":"$tag","query":"db_dbscan_grid","points":$nPts,"neighbor_pairs":$nNbr,"pairs_s":$tNbr%.2f,"rows":$rows,"time_s":$t%.2f}""")
      } else
        println(s"""{"corpus":"$tag","query":"db_dbscan_grid","points":$nPts,"skipped":"replicate densifies the fixed grid - pair volume quadratic in copies by ground truth; see comment"}""")
    }
    // join-size profiler at scale: the CBO primitive's estimate must
    // EQUAL each executed join's cardinality on the replicated corpus
    // (the histogram-product formula is exact on full histograms, at
    // every scale). Profiled on the two joins the soak corpus keys
    // properly — lineitem⋈orders (offset worlds) and orders⋈customer
    // (interleaved custkeys, every copy joins its own customers).
    locally {
      val li = Tables(spark, dir, "lineitem")
      val o = Tables(spark, dir, "orders")
      val cu = Tables(spark, dir, "customer")
      val (prof, tProf) = time(
        operators.Maintenance.joinProfile(
            "lineitem_orders", li, "l_orderkey", o, "o_orderkey")
          .unionAll(operators.Maintenance.joinProfile(
            "orders_customer", o, "o_custkey", cu, "c_custkey"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
      spark.catalog.clearCache()
      val (actLo, _) = time(
        li.join(o, col("l_orderkey") === col("o_orderkey")).count())
      val (actOc, _) = time(
        o.join(cu, col("o_custkey") === col("c_custkey")).count())
      spark.catalog.clearCache()
      require(prof("lineitem_orders") == actLo,
        s"profile est ${prof("lineitem_orders")} != actual $actLo")
      require(prof("orders_customer") == actOc,
        s"profile est ${prof("orders_customer")} != actual $actOc")
      println(f"""{"corpus":"$tag","query":"mt_join_profile","est_lineitem_orders":${prof("lineitem_orders")},"actual_lineitem_orders":$actLo,"est_orders_customer":${prof("orders_customer")},"actual_orders_customer":$actOc,"profile_s":$tProf%.2f,"estimates_exact":true}""")
    }
    // ER with explicit candidate accounting: blocked candidates vs the
    // all-pairs square over the customer table
    val nCust = Tables(spark, dir, "customer").count()
    val erCand = operators.FuzzyJoin.erCandidates(spark, dir).count()
    spark.catalog.clearCache()
    val (erRows, tEr) =
      time(SparkEntry.queries("er_blocked_match")(spark, dir).count())
    spark.catalog.clearCache()
    locally {
      val allPairs = nCust * (nCust - 1) / 2
      val pct = if (allPairs > 0) 100.0 * erCand / allPairs else 0.0
      println(f"""{"corpus":"$tag","query":"er_blocked_match","rows":$nCust,"time_s":$tEr%.2f,"candidates":$erCand,"verified":$erRows,"all_pairs":$allPairs,"cand_pct":$pct%.4f}""")
    }
    // skyline at scale: the NAMED queries read `part` (swapped for the
    // fuzzy vocabulary here), so the soak drives the facade over the
    // replicated customer table instead — what must hold is that the
    // merge-phase input (the per-partition local skylines) stays
    // orders of magnitude under the row count
    locally {
      val cu = Tables(spark, dir, "customer")
      val (skyRows, tSky) = time(operators.Skyline.skyline(
        cu, "c_mktsegment", "c_custkey", "c_acctbal", "c_nationkey")
        .count())
      println(f"""{"corpus":"$tag","query":"sky_facade_customer","rows":$skyRows,"input_rows":$nCust,"time_s":$tSky%.2f}""")
    }
  }

  /** Queries already measured by an instrumented block above (their
    * scale lines carry candidate/recall/estimate accounting). */
  private val INSTRUMENTED: Set[String] = Set(
    "dd_exact", "dd_minhash_lsh", "dd_incremental", "dd_simhash",
    "dd_ngram_jaccard", "dd_embed_cosine", "pipe_clean_corpus",
    "sim_bruteforce_topk", "sim_ivf_topk", "sim_sq_topk", "sim_pq_topk",
    "sim_ivfpq_topk", "ml_kmeans", "dd_fuzzy_passjoin",
    "dd_fuzzy_levenshtein", "doc_chunk", "pack_sequences", "ts_bm25",
    "dd_dup_spans", "db_dbscan_grid", "mt_join_profile",
    "er_blocked_match")

  /** AUTO COVERAGE (round 8): every SparkEntry query not measured by
    * an instrumented block or the standing loop gets its own timed
    * line, run against the DIMS SHADOW corpus (replicated facts + the
    * base dir's fixed-size part/nation/region — see generate), so
    * dimension-reading queries get a real scale point instead of a
    * corpus-shape skip. The base pass runs them against the base dir
    * itself. Exclusions print with their argument on the page. The
    * query set is derived from the registry, so a new operator without
    * a scale line is impossible by construction. */
  /** Time one registry query at one scale point — the shared body of
    * the auto-coverage loop and the `only=` scoped runs: count + wall
    * time as a JSON line, a `skipped` line instead of an abort on
    * failure, storage cleaned between queries. */
  private def timeOne(spark: SparkSession, tag: String, dir: String,
                      q: String): Unit = {
    try {
      val (rows, t) = time(SparkEntry.queries(q)(spark, dir).count())
      println(f"""{"corpus":"$tag","query":"$q","rows":$rows,"time_s":$t%.2f}""")
    } catch {
      case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          .replace('"', '\'')
        println(s"""{"corpus":"$tag","query":"$q","skipped":"${
          msg.takeWhile(_ != '\n').take(80)}"}""")
    }
    Sessions.reset(spark)
  }

  private def autoCoverage(spark: SparkSession, tag: String,
                           dir: String): Unit = {
    val copies = tag.stripPrefix("x").toIntOption.getOrElse(0)
    val deep = if (copies >= 20) EXCLUDED_DEEP else Map.empty[String, String]
    val covered = INSTRUMENTED ++ LOOP ++ EXCLUDED.keySet ++ deep.keySet
    val auto = (SparkEntry.queries.keySet -- covered).toSeq.sorted
    val shadow = s"$dir/dims"
    val autoDir =
      if (tag == "base" || !new java.io.File(shadow).exists()) dir
      else shadow
    auto.foreach(timeOne(spark, tag, autoDir, _))
    (EXCLUDED ++ deep).foreach { case (q, why) =>
      println(s"""{"corpus":"$tag","query":"$q","excluded":"$why"}""")
    }
  }

  /** pre-verification pair count of the length-bucket variant (same
    * blocking as dd_fuzzy_levenshtein, stopping before levenshtein). */
  private def bucketCandCount(spark: SparkSession, dir: String): Long = {
    val names = Tables(spark, dir, "part").select("p_name").distinct()
      .withColumn("len", length(col("p_name")))
      .withColumn("bkt", expr("len div 4"))
    val a = names.select(col("p_name").as("name_a"), col("len").as("la"),
      col("bkt"))
    val b = names.select(col("p_name").as("name_b"), col("len").as("lb"),
      explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("bkt"))
    a.join(b, "bkt")
      .filter(col("name_a") < col("name_b") &&
        abs(col("la") - col("lb")) <= 3)
      .count()
  }

  /** suffix-filter accounting (round 11): of the prefix-filter
    * candidates, how many the PPJoin+ suffix filter pruned before any
    * merge work (res = −2) vs reached the exact early-exit merge
    * (res ≥ −1) vs verified (res ≥ 0) — the measured form of the
    * candidate:verified cut the filter exists to buy. Runs in the full
    * report AND whenever a scoped `only=` run names
    * dd_ngram_jaccard. */
  private def ngramSuffixAccounting(spark: SparkSession, tag: String,
                                    dir: String): Unit = {
    val (row, tSf) = time(operators.Dedup.jaccardScored(spark, dir)
      .agg(count(lit(1)).as("cand"),
        sum(when(col("res") >= -1, 1L).otherwise(0L)).as("merge_reached"),
        sum(when(col("res") >= 0, 1L).otherwise(0L)).as("verified"))
      .collect().head)
    spark.catalog.clearCache()
    println(f"""{"corpus":"$tag","query":"dd_ngram_suffix_filter","candidates":${row.getLong(0)},"merge_reached":${row.getLong(1)},"verified":${row.getLong(2)},"time_s":$tSf%.2f}""")
  }

  private def jaccardCandCount(spark: SparkSession, dir: String): Long = {
    val sh = operators.Dedup.shingleTable(spark, dir).cache()
    val n = operators.Dedup.jaccardCandidates(sh).count()
    sh.unpersist()
    n
  }

  /** Time exactly the named queries at one scale point — the
    * "named scoped run" used to append lines for operators added after
    * a full soak (the full report's autoCoverage shape: dims-shadow
    * corpus where it exists, count + wall time per query). */
  private def scopedReport(spark: SparkSession, tag: String, dir: String,
                           only: Seq[String]): Unit = {
    val shadow = s"$dir/dims"
    val autoDir =
      if (tag == "base" || !new java.io.File(shadow).exists()) dir
      else shadow
    only.foreach(timeOne(spark, tag, autoDir, _))
    if (only.contains("dd_ngram_jaccard"))
      ngramSuffixAccounting(spark, tag, dir)
    if (only.contains("dd_route_auto")) {
      // routed near-dup end to end (round 12): the decision + the
      // SELECTED branch's pair pipeline, timed as one call — on the
      // replica-dense soak corpus the estimate must blow the budget
      // and route to LSH, so the wall is minhash time, not the exact
      // path's 136 s x30 floor
      val docs = Tables(spark, dir, "documents").select("doc_id", "text")
      val (route, est, bound) = api.Corpus.dedupRoute(docs)
      val (nPairs, tR) =
        time(api.Corpus.nearDupPairsAuto(docs).count())
      spark.catalog.clearCache()
      println(f"""{"corpus":"$tag","query":"dd_route_auto_pairs","route":"$route","est_candidates":$est,"bound":$bound,"pairs":$nPairs,"time_s":$tR%.2f}""")
    }
    if (only.contains("sim_opq_topk")) {
      // OPQ vs PQ recall@5 at scale (round 12): same truth set, same
      // code size — the line that says whether the learned allocation
      // buys recall on this corpus's energy profile
      def topSet(q: String): (Set[(Long, Long)], Double) = {
        val (s, t) = time(SparkEntry.queries(q)(spark, dir)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
        spark.catalog.clearCache()
        (s, t)
      }
      val (bf, tBf) = topSet("sim_bruteforce_topk")
      val (pq, tPq) = topSet("sim_pq_topk")
      val (opq, tOpq) = topSet("sim_opq_topk")
      val rPq = if (bf.nonEmpty) 1.0 * (bf & pq).size / bf.size else 0.0
      val rOpq = if (bf.nonEmpty) 1.0 * (bf & opq).size / bf.size else 0.0
      println(f"""{"corpus":"$tag","query":"sim_opq_recall","brute_s":$tBf%.2f,"pq_s":$tPq%.2f,"opq_s":$tOpq%.2f,"pq_recall_at_5":$rPq%.3f,"opq_recall_at_5":$rOpq%.3f}""")
    }
    if (only.contains("mm_phash_cluster")) {
      // the timeOne line above was this session's COLD pass (PNG codec
      // + hash-table artifact write + band join); this re-run is the
      // STEADY pass every later perceptual query pays — table read +
      // band join + components only, the round-13 Materialize split
      // (mm_phash_near in the same session reads the same artifact)
      val (rows, t) = time(
        SparkEntry.queries("mm_phash_cluster")(spark, dir).count())
      spark.catalog.clearCache()
      println(f"""{"corpus":"$tag","query":"mm_phash_cluster_steady","rows":$rows,"steady_s":$t%.2f}""")
    }
    if (only.contains("mm_phash_incr")) {
      // batch-vs-corpus codec split (round 14): the timeOne line above
      // was the COLD pass (base hash table + star forest built +
      // batch codec + merge); this steady re-run pays the nightly
      // shape only — batch codec + banded probe + star-forest merge —
      // against mm_phash_cluster's cold (the full-corpus codec) as
      // the corpus-scaled reference
      val (rows, t) = time(
        SparkEntry.queries("mm_phash_incr")(spark, dir).count())
      spark.catalog.clearCache()
      println(f"""{"corpus":"$tag","query":"mm_phash_incr_steady","rows":$rows,"steady_s":$t%.2f}""")
      // pure codec walls, corpus vs batch: the component of the
      // nightly cost the add-path scales with the BATCH (at real
      // image sizes the codec dominates; at the soak's 16×16 PNGs the
      // merge's fixed join overhead is visible next to it — both
      // belong on the page)
      val (nF, tF) = time(
        operators.Multimodal.nearHashesInline(spark, dir, batchOnly = false)
          .count())
      spark.catalog.clearCache()
      val (nB, tB) = time(
        operators.Multimodal.nearHashesInline(spark, dir, batchOnly = true)
          .count())
      spark.catalog.clearCache()
      println(f"""{"corpus":"$tag","query":"mm_codec_split","full_imgs":$nF,"full_codec_s":$tF%.2f,"batch_imgs":$nB,"batch_codec_s":$tB%.2f}""")
    }
    if (only.contains("sim_opq_ivfpq_topk")) {
      // OPQ-on-residuals vs plain IVF-PQ recall@5 at scale (round 13):
      // same coarse cells, probes, code size, and rerank — the line
      // that says whether the residual-energy allocation buys recall
      // on this corpus
      def topSet(q: String): (Set[(Long, Long)], Double) = {
        val (s, t) = time(SparkEntry.queries(q)(spark, dir)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
        spark.catalog.clearCache()
        (s, t)
      }
      val (bf, tBf) = topSet("sim_bruteforce_topk")
      val (ivf, tIvf) = topSet("sim_ivfpq_topk")
      val (oivf, tOivf) = topSet("sim_opq_ivfpq_topk")
      val rIvf = if (bf.nonEmpty) 1.0 * (bf & ivf).size / bf.size else 0.0
      val rOivf = if (bf.nonEmpty) 1.0 * (bf & oivf).size / bf.size else 0.0
      println(f"""{"corpus":"$tag","query":"sim_opq_ivfpq_recall","brute_s":$tBf%.2f,"ivfpq_s":$tIvf%.2f,"opq_ivfpq_s":$tOivf%.2f,"ivfpq_recall_at_5":$rIvf%.3f,"opq_ivfpq_recall_at_5":$rOivf%.3f}""")
      // BINDING-CONSTRAINT SWEEP (round 13): when both composite
      // variants tie at a deep scale point, WHICH knob binds should be
      // a measured line, not prose — re-search the SAME materialized
      // index (coarse/cb/codes depend on neither knob) at doubled
      // probes (8 of 16 cells) and at a 4× rerank budget (160)
      val emb = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"))
      def sweep(probes: Int, rerank: Int,
                opq: Boolean): (Set[(Long, Long)], Double) = {
        val (s2, t2) = time(operators.IvfPq.ivfPqTopKOf(
            emb.filter(col("vec_id") < 10), emb, 5, probes, rerank,
            index = sources.Materialize.indexOf(spark, dir), opq = opq)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
        spark.catalog.clearCache()
        (s2, t2)
      }
      def rec(s2: Set[(Long, Long)]): Double =
        if (bf.nonEmpty) 1.0 * (bf & s2).size / bf.size else 0.0
      for ((p, rr, nm) <- Seq((8, 40, "probes8"), (4, 160, "rerank160"),
                              (8, 160, "probes8_rerank160"))) {
        val (i2, tI2) = sweep(p, rr, opq = false)
        val (o2, tO2) = sweep(p, rr, opq = true)
        println(f"""{"corpus":"$tag","query":"sim_ivfpq_$nm","ivfpq_s":$tI2%.2f,"opq_ivfpq_s":$tO2%.2f,"ivfpq_recall_at_5":${rec(i2)}%.3f,"opq_ivfpq_recall_at_5":${rec(o2)}%.3f}""")
      }
    }
    if (only.contains("sim_adaptive_rerank")) {
      // adaptive vs fixed rerank budgets (round 14): all policies
      // search the SAME materialized index, so the lines isolate
      // search cost — the question is whether the ADC-margin
      // escalation rule spends the wide (160) rerank only where it
      // buys recall. "rerank_work" is Σ per-query budgets (full-vector
      // reads the exact stage pays): fixed-40 = 400, fixed-160 = 1600
      // over the NQ=10 queries.
      def topSet2(df: => org.apache.spark.sql.DataFrame)
          : (Set[(Long, Long)], Double) = {
        val (s2, t2) = time(df.collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet)
        spark.catalog.clearCache()
        (s2, t2)
      }
      val (bf, tBf) =
        topSet2(SparkEntry.queries("sim_bruteforce_topk")(spark, dir))
      def rec(s2: Set[(Long, Long)]): Double =
        if (bf.nonEmpty) 1.0 * (bf & s2).size / bf.size else 0.0
      val emb = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"))
      val idx = sources.Materialize.indexOf(spark, dir)
      def fixed(rr: Int): (Set[(Long, Long)], Double) =
        topSet2(operators.IvfPq.ivfPqTopKOf(
          emb.filter(col("vec_id") < 10), emb, 5, 4, rr, index = idx))
      val (f40, t40) = fixed(40)
      val (f160, t160) = fixed(160)
      println(f"""{"corpus":"$tag","query":"sim_rerank_fixed","brute_s":$tBf%.2f,"rerank40_recall":${rec(f40)}%.3f,"rerank160_recall":${rec(f160)}%.3f,"rerank40_s":$t40%.2f,"rerank160_s":$t160%.2f}""")
      for ((nm, dn) <- Seq((1, 4), (1, 1), (5, 2), (4, 1))) {
        val (res, tA) = time(operators.IvfPq.adaptiveRerankTopKOf(
          emb.filter(col("vec_id") < 10), emb, 5, 4, 40, 160, nm, dn,
          index = idx).collect())
        spark.catalog.clearCache()
        val set = res.map(r => (r.getLong(0), r.getLong(1))).toSet
        val budgets = res.map(r => (r.getLong(0), r.getLong(3))).toMap
        val work = budgets.values.sum
        val esc = budgets.values.count(_ == 160L)
        println(f"""{"corpus":"$tag","query":"sim_adaptive_margin_${nm}_$dn","recall_at_5":${rec(set)}%.3f,"escalated":$esc,"rerank_work":$work,"time_s":$tA%.2f}""")
      }
      // Per-query signal table: ADC a_5/a_40 (the margin the rule
      // reads) vs the exact 5th distance of the narrow rerank, against
      // where 160 actually helps (hits40 vs hits160) — the evidence
      // behind the 3.5× threshold AND the documented negative result
      // (on replica-dense corpora the per-query gain is NOT separable
      // by any ADC margin: gain and no-gain ratio distributions
      // overlap; see docs/findings.md)
      locally {
        val (ranked, _, _) = operators.IvfPq.adcRanked(
          emb.filter(col("vec_id") < 10), emb, 4, idx, opq = false)
        val st = ranked.groupBy("qid").agg(
          max(when(col("arn") === 5, col("approx"))).as("a5"),
          max(when(col("arn") === 40, col("approx"))).as("a40"))
          .collect().map(r => r.getLong(0) ->
            (r.getLong(1), r.getLong(2))).toMap
        def perQ(rows: Set[(Long, Long)]): Map[Long, Set[Long]] =
          rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        val bfQ = perQ(bf)
        val f40full = operators.IvfPq.ivfPqTopKOf(
          emb.filter(col("vec_id") < 10), emb, 5, 4, 40, index = idx)
          .collect()
        val e5 = f40full.groupBy(_.getLong(0)).view
          .mapValues(_.map(_.getLong(2)).max).toMap
        val f40Q = perQ(f40full.map(r => (r.getLong(0), r.getLong(1))).toSet)
        val f160Q = perQ(f160)
        spark.catalog.clearCache()
        st.toSeq.sortBy(_._1).foreach { case (q, (a5, a40)) =>
          val r40 = (bfQ.getOrElse(q, Set()) & f40Q.getOrElse(q, Set())).size
          val r160 = (bfQ.getOrElse(q, Set()) & f160Q.getOrElse(q, Set())).size
          println(s"""{"corpus":"$tag","diag_q":$q,"a5":$a5,"a40":$a40,"e5":${e5.getOrElse(q, -1L)},"hits40":$r40,"hits160":$r160}""")
        }
      }
    }
    if (only.contains("curate_stream")) {
      // write-amplification of the maintained cluster state (round
      // 14): feed the corpus through the curation gates in 5 ordered
      // batches and report, per batch, the cluster-label rows WRITTEN
      // (the delta layout) against the full labeling size (what the
      // round-13 per-batch overwrite wrote) — the measured write drop
      // the append-plus-compact layout buys on a dup-heavy stream
      val outDir = s"/tmp/graft_soak/curate_$tag"
      FileUtils.deleteQuietly(new java.io.File(outDir))
      val docs = Tables(spark, dir, "documents").select("doc_id", "text")
      val qs = docs.stat.approxQuantile("doc_id",
        Array(0.2, 0.4, 0.6, 0.8), 0.001).map(_.toLong)
      val bounds = ((Long.MinValue +: qs) :+ Long.MaxValue).toSeq
      bounds.sliding(2).toSeq.zipWithIndex.foreach { case (pair, i) =>
        val (lo, hi) = (pair.head, pair.last)
        val b = docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
        val ((w, full), tB) = time(
          streaming.CorpusStream.curateBatch(b, outDir, 5))
        spark.catalog.clearCache()
        println(f"""{"corpus":"$tag","query":"curate_stream_b$i","rows_written":$w,"full_labeling":$full,"time_s":$tB%.2f}""")
      }
    }
    if (only.contains("dd_embed_cosine")) {
      // candidate-share accounting for the SRP banding (round 11):
      // the scoped run re-measures what the full report's run() line
      // measures — bucket-join candidates against n(n−1)/2
      val nVecs = Tables(spark, dir, "embeddings").count()
      val (cand, tC) =
        time(operators.Dedup.embedCandidates(spark, dir).count())
      spark.catalog.clearCache()
      val allPairs = nVecs * (nVecs - 1) / 2
      val pct = if (allPairs > 0) 100.0 * cand / allPairs else 0.0
      println(f"""{"corpus":"$tag","query":"dd_embed_candidates","rows":$nVecs,"candidates":$cand,"all_pairs":$allPairs,"cand_pct":$pct%.4f,"time_s":$tC%.2f}""")
    }
  }

  def main(args: Array[String]): Unit = {
    // copies is the first NUMERIC argument wherever it appears, so
    // `Soak only=ev_x` (no copy count) and `Soak only=ev_x 30` both
    // parse; a malformed arg list fails with the expected shape named
    val copies = args.find(a => a.nonEmpty && a.forall(_.isDigit))
      .map(_.toInt).getOrElse {
        require(args.forall(a => a.startsWith("only=") || a == "nobase"),
          s"usage: Soak [copies] [only=q1,q2] [nobase] — got: " +
            args.mkString(" "))
        10
      }
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = s"/tmp/graft_soak/x$copies"
    val only = args.collectFirst {
      case a if a.startsWith("only=") =>
        a.stripPrefix("only=").split(',').toSeq.filter(_.nonEmpty)
    }.getOrElse(Nil)
    val spark = Sessions.local(Sessions.cpus())
    generate(spark, base, out, copies)
    if (only.nonEmpty) {
      // scoped: time just the named queries (base + the xN corpus)
      if (!args.contains("nobase"))
        scopedReport(spark, "base", base, only)
      scopedReport(spark, s"x$copies", out, only)
    } else {
      // "nobase": skip the base pass when another run of the same
      // session already measured it (the x10 log carries the base
      // columns)
      if (!args.contains("nobase")) report(spark, "base", base)
      report(spark, s"x$copies", out)
    }
    spark.stop()
  }
}
