package graft

import org.apache.spark.sql.functions._
import graft.api.Corpus

/** The public facade must run the SAME code path as the oracle-checked
  * named queries — prove it by comparing results over a renamed copy of
  * the documents table (exercising the column-contract mapping too). */
class ApiSpec extends SparkSpec {

  private def renamedDocs = Tables(spark, sf, "documents")
    .select(col("doc_id").as("id"), col("text").as("body"))

  test("facade near-dup pairs equal the dd_minhash_lsh query") {
    val api = Corpus.nearDupPairs(renamedDocs, "id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val query = operators.Dedup.queries("dd_minhash_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(api === query)
  }

  test("cost-based routing: a replica-saturated corpus routes to LSH, " +
    "a sparse one routes exact, and each branch equals its engine path") {
    import spark.implicits._
    // saturated: 3 distinct 5-word texts × 100 copies — every shingle's
    // df is 100, so the estimate (Σ C(df,2)) is quadratic in copies and
    // blows the 32·n budget; sparse: 120 all-distinct texts, df = 1
    // everywhere, estimate 0
    val saturated = (0L until 300L).map(i =>
      (i, s"alpha beta t${i % 3} gamma delta")).toDF("doc_id", "text")
    val sparse = (0L until 120L).map(i =>
      (i, s"w${i}a w${i}b w${i}c w${i}d")).toDF("doc_id", "text")
    val (rSat, estSat, boundSat) = Corpus.dedupRoute(saturated)
    val (rSp, estSp, boundSp) = Corpus.dedupRoute(sparse)
    assert(rSat == "lsh" && estSat > boundSat, s"($rSat, $estSat, $boundSat)")
    assert(rSp == "exact" && estSp == 0L && boundSp == 32L * 120,
      s"($rSp, $estSp, $boundSp)")
    // the routed result carries the decision and equals the branch's
    // direct engine path
    val autoSat = Corpus.nearDupPairsAuto(saturated)
    assert(autoSat.columns.toSeq == Seq("id1", "id2", "route"))
    val satPairs = autoSat.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(satPairs.nonEmpty && satPairs.forall(_._3 == "lsh"))
    val wantSat = operators.Dedup.minhashPairsOf(saturated)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(satPairs.map(t => (t._1, t._2)).toSet == wantSat)
    // sparse routes exact; the corpus has no near-dups, so the exact
    // branch returns empty — run it on a corpus WITH dups too
    val autoSp = Corpus.nearDupPairsAuto(sparse)
    assert(autoSp.collect().isEmpty)
    val fewDups = (0L until 40L).map(i =>
      (i, if (i < 4) "alpha beta gamma delta epsilon"
          else s"x${i}a x${i}b x${i}c x${i}d x${i}e")).toDF("doc_id", "text")
    val (rFew, _, _) = Corpus.dedupRoute(fewDups)
    assert(rFew == "exact")
    val autoFew = Corpus.nearDupPairsAuto(fewDups).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(autoFew.forall(_._3 == "exact"))
    val wantFew = operators.Dedup.jaccardPairsOf(fewDups).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(autoFew.map(t => (t._1, t._2)).toSet == wantFew &&
      wantFew == (0L until 4L).flatMap(a =>
        ((a + 1) until 4L).map(b => (a, b))).toSet)
  }

  test("nearDedup chooses the banding from the S-curve and matches " +
    "the explicit-banding path at the production target") {
    // the analytic chooser lands on the three measured dd_lsh_tuning
    // bandings at their curve midpoints
    assert(Corpus.lshBandingFor(0.08) == ((9, 1)))
    assert(Corpus.lshBandingFor(0.65) == ((3, 3)))
    assert(Corpus.lshBandingFor(0.95) == ((1, 9)))
    // target 2/3 → 3 bands × 3 rows, agreement ≥ 6/9: BY CONSTRUCTION
    // the nearDupPairs plan — row-for-row parity
    val auto = Corpus.nearDedup(renamedDocs, 2.0 / 3, "id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val explicit = Corpus.nearDupPairs(renamedDocs, "id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(auto === explicit && auto.nonEmpty)
    // a near-exact target keeps only the higher-agreement subset
    val strict = Corpus.nearDedup(renamedDocs, 0.95, "id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(strict.subsetOf(auto))
    assert(strict.forall(_._3 >= 9))
  }

  test("K=16 signature: chooser steps where K=9 jumps, first 9 hashes " +
    "are minhash9's, and the high-precision path verifies at 16") {
    // the K=16 divisor menu adds graded steps (0.858, 0.958) above the
    // near-dup point where K=9's menu jumps 0.59 → 0.93
    assert(Corpus.lshBandingFor(0.65, 16) == ((4, 4)))
    assert(Corpus.lshBandingFor(0.87, 16) == ((2, 8)))
    assert(Corpus.lshBandingFor(0.96, 16) == ((1, 16)))
    // k = 9 menu unchanged (byte-identical production plan)
    assert(Corpus.lshBandingFor(0.65) == ((3, 3)))
    // prefix law: hash i of ANY width seeds md5 with "i|", so the
    // 16-wide signature's first 9 hashes equal minhash9's row-for-row
    val nine = operators.Dedup.minhashesOf(
        renamedDocs.select(col("id").as("doc_id"), col("body").as("text")))
      .orderBy("doc_id").collect().map(_.toSeq)
    val sixteen = operators.Dedup.minhashesOfWidth(
        renamedDocs.select(col("id").as("doc_id"), col("body").as("text")),
        16)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(nine.length == sixteen.length && nine.nonEmpty)
    nine.zip(sixteen).foreach { case (a, b) =>
      assert(b.take(10) == a, s"16-wide prefix != minhash9: $a vs $b")
    }
    // the 4×4 near-dup banding at k=16 verifies with >= 11/16
    // agreement and finds the corpus's near-dup families
    val wide = Corpus.nearDedup(renamedDocs, 0.65, "id", "body", k = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(wide.nonEmpty)
    assert(wide.forall(_._3 >= math.ceil(16 * 0.65).toInt))
  }

  test("routeStats: one-pass GROUPING SETS == estimator + count, and " +
    "shingle-less docs still count as documents") {
    import spark.implicits._
    // the one-job (round 13) statistics must equal the two-job shape
    // they replaced on the real corpus
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    val (est, n) = operators.Dedup.routeStats(docs)
    assert(est === operators.Dedup.ngramCollisionEstimate(docs))
    assert(n === docs.count())
    // a doc with < 3 words has no shingles but IS a document — the
    // explode_outer null row keeps it in the census without polluting
    // the df histogram
    val mixed = Seq((1L, "a b"), (2L, "p q r s"), (3L, "p q r s"))
      .toDF("doc_id", "text")
    val (e2, n2) = operators.Dedup.routeStats(mixed)
    // docs 2,3 share both shingles "p q r" and "q r s": Σ C(2,2) = 2
    assert(e2 === 2L && n2 === 3L)
  }

  test("routed clusters surface the decision and equal components of " +
    "the selected branch's pair graph on BOTH routes") {
    import spark.implicits._
    def comp(pairs: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      operators.Graph.starComponents(pairs.select("id1", "id2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // lsh route: the replica-saturated corpus
    val saturated = (0L until 300L).map(i =>
      (i, s"alpha beta t${i % 3} gamma delta")).toDF("doc_id", "text")
    val cSat = Corpus.nearDupClustersAuto(saturated)
    assert(cSat.columns.toSeq == Seq("cluster_id", "doc_id", "route"))
    val satRows = cSat.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(satRows.nonEmpty && satRows.forall(_._3 == "lsh"))
    assert(satRows.map(t => (t._1, t._2)).toSet ===
      comp(operators.Dedup.minhashPairsOf(saturated)))
    // exact route: the sparse corpus with one 4-doc dup family
    val fewDups = (0L until 40L).map(i =>
      (i, if (i < 4) "alpha beta gamma delta epsilon"
          else s"x${i}a x${i}b x${i}c x${i}d x${i}e")).toDF("doc_id", "text")
    val cFew = Corpus.nearDupClustersAuto(fewDups).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(cFew.nonEmpty && cFew.forall(_._3 == "exact"))
    assert(cFew.map(t => (t._1, t._2)).toSet ===
      comp(operators.Dedup.jaccardPairsOf(fewDups)))
  }

  test("facade clusters equal the dd_cluster query") {
    val api = Corpus.nearDupClusters(renamedDocs, "id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val query = operators.Dedup.queries("dd_cluster")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(api === query)
  }

  test("facade keepBestPerCluster composes on the ROUTED clusters " +
    "(round 14): parity with the selected branch's closure on BOTH " +
    "routes, route surfaced, one representative per cluster") {
    import spark.implicits._
    // keep-best recomputed from an explicit pair graph: components +
    // quality argmax + member count, singletons keeping themselves
    def closure(docs: org.apache.spark.sql.DataFrame,
                pairs: org.apache.spark.sql.DataFrame)
        : Set[(Long, Long, Long, Long)] = {
      val cl = operators.Graph.starComponents(pairs.select("id1", "id2"))
        .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
      val d = docs.collect().map(r => (r.getLong(0),
        r.getString(1).split(" ").distinct.length.toLong))
      d.map { case (id, _) => (id, cl.getOrElse(id, id)) }
        .groupBy(_._2).map { case (c, members) =>
          val qs = members.map(m => (d.find(_._1 == m._1).get._2, m._1))
          val (q, keep) = qs.maxBy(t => (t._1, -t._2))
          (c, keep, q, members.length.toLong)
        }.toSet
    }
    def rows(df: org.apache.spark.sql.DataFrame)
        : Array[(Long, Long, Long, Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    // lsh route: the replica-saturated corpus
    val saturated = (0L until 300L).map(i =>
      (i, s"alpha beta t${i % 3} gamma delta")).toDF("doc_id", "text")
    val kbSat = rows(Corpus.keepBestPerCluster(saturated))
    assert(kbSat.nonEmpty && kbSat.forall(_._5 == "lsh"))
    assert(kbSat.map(t => (t._1, t._2, t._3, t._4)).toSet ===
      closure(saturated, operators.Dedup.minhashPairsOf(saturated)))
    // exact route: the sparse corpus with one 4-doc dup family
    val fewDups = (0L until 40L).map(i =>
      (i, if (i < 4) "alpha beta gamma delta epsilon"
          else s"x${i}a x${i}b x${i}c x${i}d x${i}e")).toDF("doc_id", "text")
    val kbFew = rows(Corpus.keepBestPerCluster(fewDups))
    assert(kbFew.nonEmpty && kbFew.forall(_._5 == "exact"))
    assert(kbFew.map(t => (t._1, t._2, t._3, t._4)).toSet ===
      closure(fewDups, operators.Dedup.jaccardPairsOf(fewDups)))
    // on the real corpus the facade equals the closure of whatever
    // branch the router selected — and when that route is lsh, it also
    // equals the MinHash-pinned dd_cluster_keep_best named query
    val docs = renamedDocs.select(col("id").as("doc_id"),
      col("body").as("text"))
    val (route, _, _) = Corpus.dedupRoute(renamedDocs, "id", "body")
    val api = rows(Corpus.keepBestPerCluster(renamedDocs, "id", "body"))
    assert(api.nonEmpty && api.forall(_._5 == route))
    val branch =
      if (route == "lsh") operators.Dedup.minhashPairsOf(docs)
      else operators.Dedup.jaccardPairsOf(docs)
    assert(api.map(t => (t._1, t._2, t._3, t._4)).toSet ===
      closure(docs, branch))
    if (route == "lsh") {
      val query = operators.Dedup.queries("dd_cluster_keep_best")(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(api.map(t => (t._1, t._2, t._3, t._4)).toSet === query)
    }
    // exactly one representative per cluster, singletons keep themselves
    assert(api.map(_._1).distinct.length === api.length)
    assert(api.filter(_._4 == 1L).forall(t => t._1 == t._2))
  }

  test("facade exact groups equal the dd_exact query") {
    val api = Corpus.exactDupGroups(renamedDocs, "id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val query = operators.Dedup.queries("dd_exact")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(api === query)
  }

  test("facade chunk equals the doc_chunk query at the default window") {
    val api = Corpus.chunk(renamedDocs, "id", "body")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val query = operators.CorpusPrep.queries("doc_chunk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(api === query)
  }

  test("facade pack equals the pack_sequences query at defaults") {
    val items = renamedDocs.select(col("id"),
      size(split(col("body"), " ")).as("n"))
    val api = Corpus.pack(items, "id", "n")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    val query = operators.CorpusPrep.queries("pack_sequences")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(api === query)
  }

  test("facade decontaminate drops exactly the dc_decontaminate hits") {
    // the query flags training docs (id % 11 != 0) sharing an 8-gram
    // with the benchmark slice; the facade must drop exactly those
    val bench = renamedDocs.filter(col("id") % 11 === 0)
    val train = renamedDocs.filter(col("id") % 11 =!= 0)
    val kept = Corpus.decontaminate(train, bench, "id", "body")
      .collect().map(_.getLong(0)).toSet
    val flagged = operators.CorpusQuality
      .queries("dc_decontaminate")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val trainIds = train.collect().map(_.getLong(0)).toSet
    assert(kept === trainIds -- flagged)
  }

  test("facade vector topK equals the sim_bruteforce_topk query") {
    val emb = Tables(spark, sf, "embeddings")
      .select(col("vec_id").as("vid"), col("embedding").as("emb"))
    val api = graft.api.Vectors.topK(
        emb.filter(col("vid") < 10), emb, 5, "vid", "emb")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val query = operators.Similarity
      .queries("sim_bruteforce_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(api === query)
  }

  test("facade IVF topK equals the sim_ivf_topk query") {
    val emb = Tables(spark, sf, "embeddings")
      .select(col("vec_id").as("vid"), col("embedding").as("emb"))
    val api = graft.api.Vectors.topKIvf(
        emb.filter(col("vid") < 10), emb,
        emb.filter(col("vid") < 16), 5, 4, "vid", "emb")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val query = operators.Similarity
      .queries("sim_ivf_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(api === query)
  }

  test("facade SQ8 topK equals the sim_sq_topk query") {
    val emb = Tables(spark, sf, "embeddings")
      .select(col("vec_id").as("vid"), col("embedding").as("emb"))
    val api = graft.api.Vectors.topKSq(
        emb.filter(col("vid") < 10), emb, 5, 50, "vid", "emb")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val query = operators.Similarity
      .queries("sim_sq_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(api === query)
  }

  test("facade PQ topK equals the sim_pq_topk query over renamed columns") {
    val emb = Tables(spark, sf, "embeddings")
      .select(col("vec_id").as("vid"), col("embedding").as("emb"))
    val api = graft.api.Vectors.topKPq(
        emb.filter(col("vid") < 10), emb, 5, 40, "vid", "emb")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val query = operators.ProductQuant
      .queries("sim_pq_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(api === query)
  }

  test("facade bm25 and fingerprint equal the ts_bm25/ta_fingerprint queries") {
    val terms = Seq("spark", "window", "merge", "stream")
    val api = graft.api.Text.bm25(renamedDocs, terms, 10, "id", "body")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val query = operators.TextAnalysis.queries("ts_bm25")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(api === query)
    val fp = graft.api.Text.fingerprint(renamedDocs, "id", "body")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val fpQ = operators.TextAnalysis.queries("ta_fingerprint")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(fp === fpQ)
  }

  test("facade text signals equal the ta_* queries") {
    val lang = graft.api.Text.langId(renamedDocs, "id", "body")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val langQ = operators.TextAnalysis.queries("ta_lang_id")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lang === langQ)
    val qual = graft.api.Text.qualityScore(renamedDocs, "id", "body")
      .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    val qualQ = operators.TextAnalysis
      .queries("ta_quality_score")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(qual === qualQ)
    val tok = graft.api.Text.tokenCounts(renamedDocs, "id", "body")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val tokQ = operators.TextAnalysis.queries("ta_token_count")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(tok === tokQ)
  }

  test("facade denseIds / datasetCard / outliers / phraseSearch / MMR / pagerank parity") {
    // denseIds over renamed frame equals the tr_dense_ids query
    val ids = Corpus.denseIds(renamedDocs.select(col("id")), "id")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("dense_id"))
      .toMap
    val idsQ = operators.CorpusPrep.queries("tr_dense_ids")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids === idsQ)
    // datasetCard over fully renamed columns equals the query
    val renamedFull = Tables(spark, sf, "documents")
      .select(col("doc_id").as("id"), col("text").as("body"),
        col("source").as("src"), col("lang").as("lg"))
    val card = Corpus.datasetCard(renamedFull, "id", "body", "src", "lg")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_dup_docs"))).toSet
    val cardQ = operators.CorpusQuality
      .queries("tr_dataset_card")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_dup_docs"))).toSet
    assert(card === cardQ)
    // outliers with a renamed group column equals the query
    val outDocs = Tables(spark, sf, "documents")
      .select(col("doc_id").as("id"), col("text").as("body"),
        col("source").as("grp"))
    val out = graft.api.Text.outliers(outDocs, 3, "id", "body", "grp")
      .collect().map(r => r.getAs[Long]("id")).toSet
    val outQ = operators.TextAnalysis.queries("ta_outliers")(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id")).toSet
    assert(out === outQ)
    // phraseSearch with the query's own top phrase equals the query
    val q = operators.TextAnalysis.queries("ts_phrase_search")(spark, sf)
      .collect()
    val phrase = q.head.getAs[String]("phrase")
    val ps = graft.api.Text.phraseSearch(renamedDocs, phrase, "id", "body")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("n_occ"))
      .toMap
    assert(ps === q.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("n_occ")).toMap)
    // MMR facade equals the sim_mmr_topk query
    val emb = Tables(spark, sf, "embeddings")
      .select(col("vec_id").as("vid"), col("embedding").as("e"))
    val mmr = graft.api.Vectors.topKMmr(
        emb.filter(col("vid") < 10), emb, 5, 20, "vid", "e")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val mmrQ = operators.Similarity.queries("sim_mmr_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(mmr === mmrQ)
    // IVF-PQ facade over renamed columns equals the named query
    val ipEmb = Tables(spark, sf, "embeddings")
      .select(col("vec_id").as("vid"), col("embedding").as("e"))
    val ip = graft.api.Vectors.topKIvfPq(
        ipEmb.filter(col("vid") < 10), ipEmb, 5, 4, 40, "vid", "e")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ipQ = operators.IvfPq.queries("sim_ivfpq_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ip === ipQ)
    // OPQ-on-residuals facade equals the named query (round 13)
    val oip = graft.api.Vectors.topKOpqIvfPq(
        ipEmb.filter(col("vid") < 10), ipEmb, 5, 4, 40, "vid", "e")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oipQ = operators.IvfPq.queries("sim_opq_ivfpq_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oip === oipQ)
    // PCA facade over renamed columns equals the named query
    val pcEmb = Tables(spark, sf, "embeddings")
      .select(col("vec_id").as("vid"), col("embedding").as("e"))
    val pc = graft.api.Vectors.powerPc(pcEmb, 2, "vid", "e")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val pcQ = operators.Spectral.queries("ml_power_pc")(spark, sf)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(pc === pcQ)
    // pagerank facade on the query's graph reproduces its ranks
    val pairs = Tables(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables(spark, sf, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("a"),
        (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
    val edges = pairs.select(col("a").as("s"), col("b").as("d"))
      .unionAll(pairs.select(col("b").as("s"), col("a").as("d")))
    val pr = graft.api.Graphs.pagerank(edges, 3, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prQ = operators.Graph.queries("gr_pagerank")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("rank_millionths"))
      .toMap
    assert(pr === prQ)
  }

  test("facade components / triangles / predictLinks parity") {
    // the named queries' graphs, through the facade over renamed cols
    val chainB = operators.Graph.orderChainEdges(spark, sf)
      .select(col("u").as("s"), col("v").as("d"))
    val comp = graft.api.Graphs.components(chainB, "s", "d")
      .groupBy("component").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val compQ = operators.Graph.queries("gr_components")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === compQ)
    val co = operators.Graph.coSupplyEdges(spark, sf)
      .select(col("x").as("s"), col("y").as("d"))
    val tri = graft.api.Graphs.triangles(co, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val triQ = operators.Graph.queries("gr_triangles")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tri === triQ)
    val lp = graft.api.Graphs.predictLinks(co, 20, "s", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val lpQ = operators.Graph.queries("gr_link_predict")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(lp === lpQ)
  }

  test("facade entity resolution parity with er_blocked_match/er_entities") {
    import graft.api.Entities
    import graft.operators.FuzzyJoin
    // the same synthetic master/dirty frames the named queries derive,
    // under caller column names — the facade must reproduce both the
    // review queue and the consolidated census exactly
    val master = Tables(spark, sf, "customer").select(
      col("c_custkey").as("mid"),
      expr(FuzzyJoin.sylNameSql("c_custkey", "STRING")).as("mname"))
    val dirty = master.select(col("mid").as("did"),
      expr(FuzzyJoin.mutateSql("mid", "mname")).as("dname"))
    val api = Entities.matchRecords(dirty, master,
        "did", "dname", "mid", "mname", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val query = operators.FuzzyJoin.queries("er_blocked_match")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(api === query)
    val census = Entities.resolve(dirty, master,
        "did", "dname", "mid", "mname")
      .groupBy("entity_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val censusQ = operators.FuzzyJoin.queries("er_entities")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(census === censusQ)
    // kind decode: every dirty assignment is a real dirty id, every
    // master assignment a real master id
    val kinds = Entities.resolve(dirty, master,
        "did", "dname", "mid", "mname")
      .groupBy("kind").agg(count(lit(1))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kinds.keySet === Set("dirty", "master"))
  }

  test("facade kcore / personalizedPagerank parity with the named queries") {
    import spark.implicits._
    val pairs = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(spark.read.parquet(s"$sf/lineitem.parquet")
        .select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("a"),
        (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
    val viaApi = graft.api.Graphs.kcore(pairs, 45, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaQuery = operators.Graph.queries("gr_kcore")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaApi === viaQuery)
    // personalized pagerank: facade over the directed frame + seeds
    val directed = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
    val seeds = spark.read.parquet(s"$sf/customer.parquet")
      .filter(col("c_nationkey") === 1)
      .select((col("c_custkey") * 2).as("node"))
    val ranks = graft.api.Graphs.personalizedPagerank(directed, seeds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val named = operators.Graph.queries("gr_ppr")(spark, sf)
      .collect().map(r => (r.getLong(1) * 2 + 1) -> r.getLong(2))
    assert(named.forall { case (node, r) => ranks(node) == r })
    // seeds hold restart mass: some seed outranks zero
    val seedIds = seeds.collect().map(_.getLong(0)).toSet
    assert(seedIds.exists(s => ranks.getOrElse(s, 0L) > 0L))
  }

  test("facade bfs / flatten / dbscan parity with the named queries") {
    import graft.operators.{Density, Graph, Hierarchy}
    // bfs: facade over the once-per-edge chain frame == named census
    val e = Graph.orderChainEdges(spark, sf)
      .select(col("u").as("src"), col("v").as("dst"))
    val seeds = Tables(spark, sf, "orders")
      .filter(col("o_custkey") % 50 === 0)
      .groupBy("o_custkey").agg(min("o_orderkey").as("node"))
      .select("node")
    val viaApi = graft.api.Graphs.bfs(e, seeds)
      .groupBy("d").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val named = Graph.queries("gr_bfs_dist")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaApi === named)
    // flatten: renamed caller columns == the operator's tuples
    val parents = Tables(spark, sf, "customer").select(
      col("c_custkey").as("emp"),
      when(col("c_custkey") < 10, col("c_custkey"))
        .otherwise(expr("c_custkey div 10")).as("boss"))
    val flat = graft.api.Trees.flatten(parents, "emp", "boss")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val hier = Hierarchy.flatten(
        parents.select(col("emp").as("node"), col("boss").as("parent")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(flat === hier && flat.nonEmpty)
    // dbscan: facade over renamed columns == the named query labeling
    val pv = Density.pts(spark, sf)
      .select(col("k").as("id"), col("x").as("px"), col("y").as("py"))
    val viaPoints = graft.api.Points
      .dbscan(pv, 144L, 12L, 4, "id", "px", "py")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    val namedDb = Density.queries("db_dbscan_grid")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(viaPoints === namedDb)
    // the guard refuses a cell smaller than eps
    intercept[IllegalArgumentException] {
      graft.api.Points.dbscan(pv, 144L, 8L, 4, "id", "px", "py")
    }
  }

  test("facade sssp / profile / events parity with the named queries") {
    import graft.operators.{DataQuality, EventAnalytics, Graph}
    // sssp: facade over once-per-edge weighted chain == named census
    val we = Graph.weightedChainEdges(spark, sf)
      .select(col("u").as("src"), col("v").as("dst"), col("w"))
    val seeds = Tables(spark, sf, "orders")
      .filter(col("o_custkey") % 50 === 0)
      .groupBy("o_custkey").agg(min("o_orderkey").as("node"))
      .select("node")
    val viaApi = graft.api.Graphs.sssp(we, seeds)
      .groupBy(expr("d div 16").as("band")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val named = Graph.queries("gr_sssp_bounded")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaApi === named)
    // profile: dtype-derived renderings == the named query's explicit
    // renderings over the same frame
    val viaProf = graft.api.Profiles
      .profile(Tables(spark, sf, "customer"), "customer")
      .collect().map(r => r.getString(1) -> r.toSeq.drop(2)).toMap
    val namedProf = DataQuality.queries("dq_profile")(spark, sf)
      .collect().map(r => r.getString(1) -> r.toSeq.drop(2)).toMap
    assert(viaProf === namedProf)
    // unsupported column type is refused, not silently mis-rendered
    intercept[IllegalArgumentException] {
      graft.api.Profiles.profile(
        Tables.events(spark, sf).select("user_id", "ts", "props"),
        cols = Seq("ts"))
    }
    // events: renamed caller columns == named overlap / patterns
    val ren = Tables.events(spark, sf)
      .select(col("user_id").as("uid"), col("event_id").as("eid"),
        col("event_type").as("etype"),
        expr("unix_micros(ts)").as("micros"))
    val ovApi = graft.api.Events
      .segmentOverlap(ren, "uid", "etype")
      .collect().map(_.toSeq).toSet
    val ovNamed = EventAnalytics.queries("ev_segment_overlap")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(ovApi === ovNamed && ovApi.nonEmpty)
    val sqApi = graft.api.Events
      .sequencePatterns(ren, 15, "uid", "eid", "etype", "micros")
      .collect().map(_.toSeq)
    val sqNamed = EventAnalytics.queries("ev_seq_patterns")(spark, sf)
      .collect().map(_.toSeq)
    assert(sqApi === sqNamed && sqApi.nonEmpty)
  }

  test("Events.matchPattern equals the t10_cep_twin query") {
    import org.apache.spark.sql.functions._
    val coded = Tables.events(spark, sf)
      .select(col("user_id").as("uid"), col("event_id").as("eid"),
        expr("unix_micros(ts)").as("micros"),
        when(col("event_type") === "view", "v")
          .when(col("event_type") === "click", "c")
          .when(col("event_type") === "purchase", "p")
          .otherwise("o").as("c"))
    val api = graft.api.Events
      .matchPattern(coded, "v[co]*p", "uid", "eid", "c", "micros")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val named = operators.Streaming.queries("t10_cep_twin")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(api === named && api.nonEmpty)
  }

  test("Series facade equals the tm_holt/tm_seasonal/mad queries") {
    import org.apache.spark.sql.functions._
    val li = Tables(spark, sf, "lineitem")
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("l_quantity"))
    val hApi = graft.api.Series
      .holt(li, "l_suppkey", Seq("l_shipdate", "l_orderkey",
        "l_linenumber"), "l_quantity")
      .collect().map(_.toSeq).toSet
    val hNamed = operators.TimeSeries.queries("tm_holt")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(hApi === hNamed && hApi.nonEmpty)

    val daily = Tables(spark, sf, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(count(lit(1)).as("n"))
    val sApi = graft.api.Series
      .seasonal(daily, 7, "1992-01-01", "d", "n")
      .collect().map(_.toSeq).toSet
    val sNamed = operators.TimeSeries.queries("tm_seasonal")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(sApi === sNamed && sApi.nonEmpty)

    val mApi = graft.api.Series.madOutliers(daily, 10, "d", "n")
      .collect().map(_.toSeq)
    val mNamed = operators.DataQuality
      .queries("dq_mad_outliers")(spark, sf).collect().map(_.toSeq)
    assert(mApi === mNamed && mApi.nonEmpty)
  }

  test("dropNearDups removes exactly the id2 side, schema unchanged") {
    val kept = Corpus.dropNearDups(renamedDocs, "id", "body")
    assert(kept.columns.toSeq === Seq("id", "body"))
    val dropped = operators.Dedup.queries("dd_minhash_lsh")(spark, sf)
      .select(col("id2")).distinct()
      .collect().map(_.getLong(0)).toSet
    val keptIds = kept.collect().map(_.getLong(0)).toSet
    val allIds = renamedDocs.collect().map(_.getLong(0)).toSet
    assert(keptIds === allIds -- dropped)
  }
}
