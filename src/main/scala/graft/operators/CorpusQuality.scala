package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-quality operators a large-scale training-data pipeline runs
  * between ingest and training (generalizing the reference's curation
  * zone, 04_sales_enrich_sp.sql's clean-then-publish shape, to the
  * LLM-corpus motifs of BASELINE.json):
  *
  *  - `dc_decontaminate` — benchmark decontamination: flag training
  *    documents sharing any word 8-gram with a held-out benchmark set
  *    (the n-gram-overlap rule used to scrub eval sets out of training
  *    corpora). The join key is a 16-hex-char md5 of the gram, not the
  *    gram text: at 100 TB the shuffle carries 16-byte digests, and the
  *    benchmark side (eval suites are ~1e5 grams, not corpus-scale)
  *    broadcasts, so the probe is a map-side hash lookup — no shuffle
  *    of the corpus grams at all.
  *
  *  - `dd_boilerplate` — cross-document repeated-phrase removal (the
  *    line-dedup pass of web-corpus pipelines, expressed over this
  *    corpus's newline-free text as non-overlapping 5-word chunks): a
  *    chunk appearing in ≥ 3 distinct documents is boilerplate; the
  *    output is per-document kept/removed unit accounting. Chunk
  *    frequency shuffles md5 digests once; the rejoin is digest-keyed.
  *
  *  - `ta_repetition` — Gopher-style repetition signals (duplicate-word
  *    fraction, top-bigram fraction) computed entirely per-row with
  *    higher-order array functions: ZERO shuffles, embarrassingly
  *    parallel over any corpus size, integer outputs so oracles are
  *    exact.
  *
  *  - `mix_domains` — domain-mixture sampling: per-source quotas
  *    (weight × base budget) filled in deterministic md5(doc_id) order,
  *    so every engine/run/partition-layout selects the SAME documents —
  *    the reproducible "data recipe" step that turns N raw sources into
  *    a weighted training mix. One hash-partitioned window per source;
  *    no global sort.
  *
  *  - `vocab_topk` — corpus vocabulary: global term counts, top-k with
  *    dense ranking. Two-level hash aggregate (map-side partials) into
  *    a distributed TakeOrdered of k survivors — the word-count shape
  *    every tokenizer-training pass starts from.
  *
  *  - `dd_dup_spans` — exact substring-level dedup accounting (the
  *    "deduplicating training data" span motif): for every document,
  *    how many of its word positions are covered by an 8-gram that also
  *    appears in ANOTHER document. Grams shuffle as 16-hex digests;
  *    coverage is an interval-union computed by exploding only the
  *    DUPLICATED gram starts (8× their count, not 8× the corpus).
  *
  *  - `bpe_pair_counts` — the first BPE merge decision: corpus-wide
  *    adjacent character-pair frequencies, weighted by word frequency.
  *    Pair stats aggregate over the DISTINCT-word dictionary (orders of
  *    magnitude smaller than the corpus), exactly how a tokenizer
  *    trainer shards the merge count at scale.
  */
object CorpusQuality extends graft.QuerySet {
  /** Benchmark membership rule: doc_id ≡ 0 (mod 11) is the held-out
    * eval set (deterministic, data-derived, non-empty at every SF). */
  private[graft] val BENCH_MOD = 11
  private[graft] val NGRAM = 8
  /** A chunk in ≥ BOILER_DOCS distinct docs is boilerplate. */
  private val BOILER_DOCS = 3
  private val CHUNK = 5
  private val VOCAB_K = 25
  /** mix_domains: docs per weight unit; source srcN carries weight
    * (N mod 3) + 1 — a stand-in for the curated mixture table a real
    * pipeline would broadcast. */
  private val MIX_BASE = 10
  /** bpe_encode: merges applied from the first count (one batch). */
  private val BPE_MERGES = 20

  /** Positional 8-gram digests per doc (doc_id, n_words, start0, gh) —
    * the span-dedup working set; exposed so the scale soak can account
    * gram/duplicate volumes against corpus size. */
  private[graft] def spanGrams(s: SparkSession, dir: String): DataFrame =
    // spread: per-gram md5 is the heavy term and the scan is one
    // input split (see Tables.spread)
    graft.Tables.spread(Tables(s, dir, "documents"))
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= NGRAM)
      .select(col("doc_id"), size(col("w")).as("n_words"),
        posexplode(expr(
          s"""transform(sequence(1, size(w) - ${NGRAM - 1}),
             |  i -> substring(md5(cast(concat_ws(' ', slice(w, i, $NGRAM))
             |                          as binary)), 1, 16))""".stripMargin))
          .as(Seq("start0", "gh")))

  val queries: Map[String, Q] = Map(
    "dc_decontaminate" -> ((s, dir) => {
      // spread the single-split scan; cache — the bench slice and the
      // train probe both read the md5 gram explode
      val grams = graft.Tables.spread(Tables(s, dir, "documents"))
        .withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= NGRAM)
        .select(col("doc_id"), explode(expr(
          s"""transform(sequence(1, size(w) - ${NGRAM - 1}),
             |  i -> substring(md5(cast(concat_ws(' ', slice(w, i, $NGRAM))
             |                          as binary)), 1, 16))""".stripMargin))
          .as("gh"))
        .cache()
      val bench = grams.filter(col("doc_id") % BENCH_MOD === 0)
        .select("gh").distinct()
      // no broadcast HINT: this corpus's stand-in benchmark is a
      // doc_id slice, so its gram postings grow with the corpus — a
      // forced broadcast would OOM the driver at scale. AQE broadcasts
      // it when (and only when) the suite is genuinely small, which is
      // what a real curated benchmark is.
      grams.filter(col("doc_id") % BENCH_MOD =!= 0)
        .join(bench, "gh")
        .groupBy("doc_id")
        .agg(countDistinct(col("gh")).as("n_hit_grams"))
        .orderBy("doc_id")
    }),

    // FUZZY decontamination — dc_decontaminate's exact-8-gram hit
    // count answers "quotes a benchmark verbatim"; this answers "is a
    // PARAPHRASE-level near-dup of a benchmark doc": 8-gram-set
    // Jaccard between every train doc and every benchmark doc that
    // share at least one gram, released as integer per-mille with the
    // ≥ 500 ‰ contamination flag, top-20 by (jaccard, pair). At
    // 100 TB the benchmark side is a curated suite (≪ corpus,
    // broadcastable); the join grain is true shared-gram pairs — an
    // 8-gram collision is already near-dup evidence, so candidate
    // volume tracks real contamination, not corpus size (the
    // dd_ngram_jaccard accounting argument).
    "dc_fuzzy_decontaminate" -> ((s, dir) => {
      val g = graft.Tables.spread(Tables(s, dir, "documents"))
        .withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= NGRAM)
        .select(col("doc_id"), explode(expr(
          s"""transform(sequence(1, size(w) - ${NGRAM - 1}),
             |  i -> substring(md5(cast(concat_ws(' ', slice(w, i, $NGRAM))
             |                          as binary)), 1, 16))""".stripMargin))
          .as("gh"))
        .distinct().cache()
      val sizes = g.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val bench = g.filter(col("doc_id") % BENCH_MOD === 0)
        .select(col("doc_id").as("bench_id"), col("gh"))
      val train = g.filter(col("doc_id") % BENCH_MOD =!= 0)
        .select(col("doc_id").as("train_id"), col("gh"))
      // no broadcast HINTS (ADVICE r7): the doc_id-slice stand-in
      // benchmark is ~1/BENCH_MOD of ALL corpus grams — linear in
      // corpus size, so a forced broadcast contradicts the curated-
      // suite scale story and risks OOM well below the advertised
      // scale. AQE picks broadcast exactly when the suite is small
      // enough; a real curated benchmark always is.
      train.join(bench, Seq("gh"))
        .groupBy("train_id", "bench_id")
        .agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("doc_id").as("train_id"),
          col("n").as("n_train")), Seq("train_id"))
        .join(sizes.select(col("doc_id").as("bench_id"),
          col("n").as("n_bench")), Seq("bench_id"))
        .select(col("train_id"), col("bench_id"), col("inter"),
          col("n_train"), col("n_bench"),
          expr("inter * 1000 div (n_train + n_bench - inter)")
            .as("jac_pm"))
        .withColumn("contaminated", (col("jac_pm") >= 500).cast("int"))
        .orderBy(col("jac_pm").desc, col("train_id"), col("bench_id"))
        .limit(20)
    }),

    "dd_boilerplate" -> ((s, dir) => {
      val chunks = Tables(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .select(col("doc_id"), explode(expr(
          s"""transform(sequence(0, cast((size(w) + ${CHUNK - 1}) / $CHUNK
             |                           as int) - 1),
             |  i -> substring(md5(cast(concat_ws(' ', slice(w, i * $CHUNK + 1,
             |                          $CHUNK)) as binary)), 1, 16))"""
            .stripMargin)).as("ch"))
      val freq = chunks.groupBy("ch")
        .agg(countDistinct(col("doc_id")).as("nd"))
      chunks.join(freq, "ch")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_units"),
          count(when(col("nd") >= BOILER_DOCS, 1)).as("n_boiler"))
        .orderBy("doc_id")
    }),

    "ta_repetition" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .withColumn("bg", expr(
          """CASE WHEN size(w) >= 2
            |  THEN transform(sequence(1, size(w) - 1),
            |                 i -> concat_ws(' ', slice(w, i, 2)))
            |  ELSE CAST(array() AS array<string>) END""".stripMargin))
        .select(
          col("doc_id"),
          size(col("w")).as("n_words"),
          size(array_distinct(col("w"))).as("n_distinct"),
          expr("cast(100 * (size(w) - size(array_distinct(w)))" +
            " div size(w) as int)").as("dup_word_pct"),
          size(col("bg")).as("n_bigrams"),
          coalesce(expr(
            """array_max(transform(array_distinct(bg),
              |  b -> size(filter(bg, x -> x = b))))""".stripMargin),
            lit(0)).as("top_bigram_n"))
        .orderBy("doc_id")),

    "mix_domains" -> ((s, dir) => {
      val quota = (expr("cast(substring(source, 4) as int)") % 3 + 1) *
        MIX_BASE
      val w = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables(s, dir, "documents")
        .withColumn("quota", quota)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= col("quota"))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // Temperature-weighted source mixing — the multi-corpus sampling
    // rule LLM training mixtures use (sample source s ∝ n_s^T):
    // source s with tok_s tokens keeps each doc with probability
    // sqrt(min_tok / tok_s), i.e. T = 1/2 normalized so the SMALLEST
    // source keeps everything and larger sources are downsampled
    // toward sqrt scaling. Membership is a deterministic 32-bit hash
    // gate on doc_id, and every float op in the rate (divide, sqrt,
    // multiply-by-2^32, floor) is IEEE-correctly-rounded — sqrt is
    // exact by the standard, unlike pow — so the oracle reproduces the
    // threshold bit-for-bit. Plan shape at 100 TB: one tiny per-source
    // agg (20 rows) broadcast back onto the scan; the corpus itself
    // never shuffles — docs stream past the rate table map-side.
    "mix_temperature" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .withColumn("ntok", size(split(col("text"), " ")).cast("long"))
        .withColumn("h", md5(col("doc_id").cast("string")))
        .withColumn("hv", expr(CorpusPrep.hex32Expr("h")))
      val sizes = docs.groupBy("source").agg(sum("ntok").as("tok_s"))
      val minTok = sizes.agg(min("tok_s").as("min_tok"))
      val rates = sizes.crossJoin(broadcast(minTok))
        .withColumn("rate",
          sqrt(col("min_tok").cast("double") / col("tok_s").cast("double")))
        .withColumn("thresh", floor(col("rate") * lit(4294967296.0d)))
        .select("source", "thresh", "rate")
      docs.join(broadcast(rates), "source")
        .withColumn("keep", col("hv") < col("thresh"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("keep"), col("ntok")).otherwise(0L)).as("tok_kept"),
          sum(when(col("keep"), col("doc_id")).otherwise(0L))
            .as("sum_kept_id"),
          max(floor(col("rate") * lit(1e6))).as("rate_ppm"))
        .orderBy("source")
    }),

    "dd_dup_spans" -> ((s, dir) => {
      // cached: the dup census AND the coverage join read the grams —
      // without it the md5 explode ran twice
      val grams = spanGrams(s, dir).cache()
      // a gram is duplicated iff ≥2 DISTINCT documents contain it
      val dup = grams.groupBy("gh")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select("gh")
      val covered = grams.join(dup, "gh")
        .select(col("doc_id"), col("n_words"),
          explode(expr(s"sequence(start0, start0 + ${NGRAM - 1})"))
            .as("pos"))
        .groupBy("doc_id", "n_words")
        .agg(countDistinct(col("pos")).as("n_dup_tokens"))
      covered
        .withColumn("dup_pct",
          expr("cast(100 * n_dup_tokens div n_words as int)"))
        .select("doc_id", "n_words", "n_dup_tokens", "dup_pct")
        .orderBy("doc_id")
    }),

    "bpe_pair_counts" -> ((s, dir) => {
      val wordFreq = Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy("word").agg(count(lit(1)).as("wf"))
      wordFreq
        .select(col("wf"), explode(expr(
          """transform(sequence(1, length(word) - 1),
            |  i -> substring(word, i, 2))""".stripMargin)).as("pair"))
        .groupBy("pair")
        .agg(sum("wf").as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20)
    }),

    // BPE ENCODE — apply the first merge batch (the top-BPE_MERGES
    // pairs from the initial count, in rank order) to the corpus
    // dictionary and report the 25 most frequent words' encodings.
    // Encoding runs on the DISTINCT-word dictionary (orders of
    // magnitude smaller than the corpus — the same sharding a real
    // tokenizer trainer uses) as one codegen'd projection: each merge
    // is two boundary-anchored string replaces — tokens carry leading
    // AND trailing space sentinels so a search " a b " can never match
    // inside a multi-char token, and the second pass picks up the
    // adjacent applications the first pass's non-overlapping
    // left-to-right scan skipped (a run of k adjacent pairs merges
    // odd occurrences in pass one, the now-isolated rest in pass two).
    // The 20-row merge table is a driver-side model-parameter fetch
    // (like the SRP hyperplanes); both engines then run the identical
    // replace chain, so the oracle (a recursive CTE stepping through
    // the same merge ranks) is bit-exact.
    "bpe_encode" -> ((s, dir) => {
      val wordFreq = Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy("word").agg(count(lit(1)).as("wf"))
        .cache()
      val merges: Array[String] = wordFreq
        .select(col("wf"), explode(expr(
          """transform(sequence(1, length(word) - 1),
            |  i -> substring(word, i, 2))""".stripMargin)).as("pair"))
        .groupBy("pair").agg(sum("wf").as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(BPE_MERGES)
        .collect().map(_.getString(0))
      require(merges.forall(_.matches("[A-Za-z0-9]{2}")),
        "merge pairs must be plain alphanumerics (SQL-literal safe)")
      val init = wordFreq.withColumn("spaced",
        concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")))
      val enc = merges.foldLeft(init) { (df, p) =>
        val srch = s" ${p.charAt(0)} ${p.charAt(1)} "
        val repl = s" $p "
        df.withColumn("spaced", expr(
          s"replace(replace(spaced, '$srch', '$repl'), '$srch', '$repl')"))
      }
      val top = enc
        .select(col("word"), col("wf"), trim(col("spaced")).as("encoded"))
        .orderBy(col("wf").desc, col("word")).limit(25)
      top
        .withColumn("rank", row_number().over(
          Window.orderBy(col("wf").desc, col("word"))))
        .select(col("rank"), col("word"), col("wf"), col("encoded"),
          size(split(col("encoded"), " ")).as("n_pieces"))
        .orderBy("rank")
    }),

    "vocab_topk" -> ((s, dir) => {
      val counts = Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
      // distributed top-k (TakeOrderedAndProject); ranking happens on
      // the k survivors only, never a global window over the vocabulary
      val top = counts.orderBy(col("cnt").desc, col("term")).limit(VOCAB_K)
      top.withColumn("rank", row_number().over(
          Window.orderBy(col("cnt").desc, col("term"))))
        .select(col("rank"), col("term"), col("cnt"))
        .orderBy("rank")
    }),

    // Dataset card — the release-notes table a corpus ships with
    // (per-source×lang, per-source, and corpus-total rows from ONE
    // GROUPING SETS pass): volumes (docs/tokens/chars), token-length
    // spread (min/max), and the exact-duplicate share. Dup flags come
    // from the dd_exact digest rule (md5 of normalized text, count>1
    // corpus-wide), ONE digest-keyed shuffle joined back before the
    // rollup — at 100 TB that digest shuffle is 16 bytes/doc and the
    // grouping-sets pass is a single aggregation with map-side combine,
    // so the whole card costs one scan + two exchanges regardless of
    // corpus size.
    "tr_dataset_card" -> ((s, dir) =>
      datasetCardOf(Tables(s, dir, "documents")
        .select("doc_id", "text", "source", "lang")))
  )

  /** Dataset card of a (doc_id, text, source, lang) frame — see the
    * tr_dataset_card query comment. The GROUPING SETS pass runs via
    * SQL over a temp view (the DataFrame API has cube/rollup but not
    * arbitrary grouping sets); rows come back ordered. */
  private[graft] def datasetCardOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    val flagged = {
      val d = docs
        .withColumn("norm",
          regexp_replace(trim(lower(col("text"))), " +", " "))
        .withColumn("h", md5(col("norm").cast("binary")))
        .withColumn("ntok", size(split(col("text"), " ")))
      val dupCounts = d.groupBy("h").agg(count(lit(1)).as("copies"))
      d.join(dupCounts, "h")
        .withColumn("is_dup", (col("copies") > 1).cast("long"))
    }
    flagged.createOrReplaceTempView("graft_card_flagged")
    s.sql("""SELECT coalesce(source, 'ALL') AS source,
            |  coalesce(lang, 'ALL') AS lang,
            |  count(*) AS n_docs,
            |  cast(sum(ntok) AS bigint) AS n_tokens,
            |  cast(sum(length(text)) AS bigint) AS n_chars,
            |  min(ntok) AS min_tok, max(ntok) AS max_tok,
            |  cast(sum(is_dup) AS bigint) AS n_dup_docs
            |FROM graft_card_flagged
            |GROUP BY GROUPING SETS ((source, lang), (source), ())
            |ORDER BY source, lang""".stripMargin)
  }

  val oracles: Map[String, String] = Map(
    // same digest rule as dd_exact; GROUPING SETS mirrors the Spark SQL
    "tr_dataset_card" ->
      """WITH d AS (
        |  SELECT doc_id, source, lang, text,
        |    md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS h,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS ntok
        |  FROM documents),
        |c AS (SELECT h, count(*) AS copies FROM d GROUP BY h),
        |f AS (
        |  SELECT d.*, CASE WHEN c.copies > 1 THEN 1 ELSE 0 END AS is_dup
        |  FROM d JOIN c USING (h))
        |SELECT coalesce(source, 'ALL') AS source,
        |  coalesce(lang, 'ALL') AS lang,
        |  count(*) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  min(ntok) AS min_tok, max(ntok) AS max_tok,
        |  CAST(sum(is_dup) AS BIGINT) AS n_dup_docs
        |FROM f
        |GROUP BY GROUPING SETS ((source, lang), (source), ())
        |ORDER BY source, lang""".stripMargin,

    "dc_decontaminate" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
         |           FROM documents),
         |g AS (
         |  SELECT doc_id,
         |    substr(md5(array_to_string(w[i:i+${NGRAM - 1}], ' ')), 1, 16)
         |      AS gh
         |  FROM w, UNNEST(range(1, len(w) - ${NGRAM - 2})) t(i)
         |  WHERE len(w) >= $NGRAM),
         |bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % $BENCH_MOD = 0)
         |SELECT g.doc_id, count(DISTINCT g.gh) AS n_hit_grams
         |FROM g JOIN bench USING (gh)
         |WHERE g.doc_id % $BENCH_MOD <> 0
         |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,

    // same distinct 8-gram sets, the same cross-multiplied Jaccard
    "dc_fuzzy_decontaminate" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
         |           FROM documents),
         |g AS (
         |  SELECT DISTINCT doc_id,
         |    substr(md5(array_to_string(w[i:i+${NGRAM - 1}], ' ')), 1, 16)
         |      AS gh
         |  FROM w, UNNEST(range(1, len(w) - ${NGRAM - 2})) t(i)
         |  WHERE len(w) >= $NGRAM),
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |          FROM g GROUP BY 1),
         |inter AS (
         |  SELECT tr.doc_id AS train_id, be.doc_id AS bench_id,
         |    CAST(count(*) AS BIGINT) AS inter
         |  FROM g tr JOIN g be ON tr.gh = be.gh
         |  WHERE tr.doc_id % $BENCH_MOD <> 0
         |    AND be.doc_id % $BENCH_MOD = 0
         |  GROUP BY 1, 2)
         |SELECT i.bench_id, i.train_id, i.inter,
         |  st.n AS n_train, sb.n AS n_bench,
         |  CAST(i.inter * 1000 // (st.n + sb.n - i.inter) AS BIGINT)
         |    AS jac_pm,
         |  CAST(CASE WHEN i.inter * 1000 // (st.n + sb.n - i.inter)
         |       >= 500 THEN 1 ELSE 0 END AS INTEGER) AS contaminated
         |FROM inter i
         |JOIN sizes st ON st.doc_id = i.train_id
         |JOIN sizes sb ON sb.doc_id = i.bench_id
         |ORDER BY jac_pm DESC, train_id, bench_id
         |LIMIT 20""".stripMargin,

    "dd_boilerplate" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
         |           FROM documents),
         |c AS (
         |  SELECT doc_id,
         |    substr(md5(array_to_string(
         |      w[(i*$CHUNK+1):(i*$CHUNK+$CHUNK)], ' ')), 1, 16) AS ch
         |  FROM w, UNNEST(range(0, (len(w) + ${CHUNK - 1}) // $CHUNK)) t(i)),
         |freq AS (SELECT ch, count(DISTINCT doc_id) AS nd FROM c GROUP BY ch)
         |SELECT c.doc_id, count(*) AS n_units,
         |  count(CASE WHEN nd >= $BOILER_DOCS THEN 1 END) AS n_boiler
         |FROM c JOIN freq USING (ch)
         |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,

    "ta_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |b AS (SELECT doc_id, w,
        |        list_transform(range(1, len(w)),
        |                       i -> array_to_string(w[i:i+1], ' ')) AS bg
        |      FROM w)
        |SELECT doc_id,
        |  CAST(len(w) AS INTEGER) AS n_words,
        |  CAST(len(list_distinct(w)) AS INTEGER) AS n_distinct,
        |  CAST(100 * (len(w) - len(list_distinct(w))) // len(w)
        |       AS INTEGER) AS dup_word_pct,
        |  CAST(len(bg) AS INTEGER) AS n_bigrams,
        |  CAST(coalesce(list_max(list_transform(list_distinct(bg),
        |         e -> len(list_filter(bg, x -> x = e)))), 0)
        |       AS INTEGER) AS top_bigram_n
        |FROM b ORDER BY doc_id""".stripMargin,

    "mix_domains" ->
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source,
         |    (CAST(substr(source, 4) AS INTEGER) % 3 + 1) * $MIX_BASE
         |      AS quota,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
         |  FROM documents) x
         |WHERE rn <= quota ORDER BY doc_id""".stripMargin,

    "dd_dup_spans" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
         |           FROM documents
         |           WHERE len(string_split(text, ' ')) >= $NGRAM),
         |g AS (SELECT doc_id, len(w) AS n_words, i,
         |        substr(md5(array_to_string(w[i:i+${NGRAM - 1}], ' ')), 1, 16)
         |          AS gh
         |      FROM w, UNNEST(range(1, len(w) - ${NGRAM - 2})) t(i)),
         |dup AS (SELECT gh FROM g GROUP BY gh
         |        HAVING count(DISTINCT doc_id) >= 2),
         |cov AS (SELECT DISTINCT doc_id, n_words, i - 1 + j AS pos
         |        FROM g JOIN dup USING (gh),
         |             UNNEST(range(0, $NGRAM)) u(j))
         |SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
         |  count(*) AS n_dup_tokens,
         |  CAST(100 * count(*) // n_words AS INTEGER) AS dup_pct
         |FROM cov GROUP BY doc_id, n_words ORDER BY doc_id""".stripMargin,

    "bpe_pair_counts" ->
      """WITH wf AS (
        |  SELECT word, count(*) AS wf FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word
        |    FROM documents) x
        |  WHERE length(word) >= 2 GROUP BY word),
        |p AS (SELECT substr(word, i, 2) AS pair, wf
        |      FROM wf, UNNEST(range(1, length(word))) t(i))
        |SELECT pair, CAST(SUM(wf) AS BIGINT) AS cnt
        |FROM p GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,

    // sqrt/divide/multiply/floor are all IEEE-correctly-rounded, so the
    // per-source threshold is the identical 64-bit double in both
    // engines; the hash gate itself is integer arithmetic
    "mix_temperature" ->
      s"""WITH d0 AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
         |    md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |d AS (SELECT *, ${CorpusPrep.hex32Expr("h")} AS hv FROM d0),
         |sz AS (SELECT source, CAST(SUM(ntok) AS BIGINT) AS tok_s
         |       FROM d GROUP BY source),
         |r AS (SELECT source,
         |    sqrt(CAST((SELECT MIN(tok_s) FROM sz) AS DOUBLE)
         |         / CAST(tok_s AS DOUBLE)) AS rate
         |  FROM sz),
         |r2 AS (SELECT source, rate,
         |    CAST(floor(rate * 4294967296.0) AS BIGINT) AS thresh
         |  FROM r)
         |SELECT d.source,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN hv < thresh THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(SUM(CASE WHEN hv < thresh THEN ntok ELSE 0 END) AS BIGINT)
         |    AS tok_kept,
         |  CAST(SUM(CASE WHEN hv < thresh THEN doc_id ELSE 0 END) AS BIGINT)
         |    AS sum_kept_id,
         |  CAST(MAX(floor(rate * 1e6)) AS BIGINT) AS rate_ppm
         |FROM d JOIN r2 USING (source)
         |GROUP BY d.source
         |ORDER BY source""".stripMargin,

    // the recursive CTE steps through the same 20 merge ranks the Spark
    // fold applies; each step is the same double boundary-anchored
    // replace, so the encodings agree byte-for-byte
    "bpe_encode" ->
      s"""WITH RECURSIVE wf AS (
         |  SELECT word, count(*) AS wf FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word
         |    FROM documents) x
         |  WHERE length(word) >= 2 GROUP BY word),
         |pc AS (SELECT substr(word, i, 2) AS pair, wf
         |       FROM wf, UNNEST(range(1, length(word))) t(i)),
         |m0 AS (SELECT pair, SUM(wf) AS cnt FROM pc GROUP BY pair
         |       ORDER BY cnt DESC, pair LIMIT $BPE_MERGES),
         |merges AS (SELECT
         |    CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS INTEGER)
         |      AS rk,
         |    ' ' || substr(pair, 1, 1) || ' ' || substr(pair, 2, 1) || ' '
         |      AS srch,
         |    ' ' || pair || ' ' AS repl
         |  FROM m0),
         |base AS (SELECT word, wf,
         |    ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS spaced
         |  FROM wf),
         |enc AS (
         |  SELECT word, wf, spaced, 0 AS step FROM base
         |  UNION ALL
         |  SELECT e.word, e.wf,
         |    replace(replace(e.spaced, m.srch, m.repl), m.srch, m.repl),
         |    e.step + 1
         |  FROM enc e JOIN merges m ON m.rk = e.step + 1
         |  WHERE e.step < $BPE_MERGES),
         |fin AS (SELECT word, CAST(wf AS BIGINT) AS wf,
         |    trim(spaced) AS encoded
         |  FROM enc WHERE step = $BPE_MERGES),
         |top AS (SELECT * FROM fin ORDER BY wf DESC, word LIMIT 25)
         |SELECT
         |  CAST(row_number() OVER (ORDER BY wf DESC, word) AS INTEGER)
         |    AS rank,
         |  word, wf, encoded,
         |  CAST(len(string_split(encoded, ' ')) AS INTEGER) AS n_pieces
         |FROM top ORDER BY rank""".stripMargin,

    "vocab_topk" ->
      s"""WITH counts AS (
         |  SELECT term, count(*) AS cnt FROM (
         |    SELECT unnest(string_split(text, ' ')) AS term
         |    FROM documents) x
         |  GROUP BY term),
         |top AS (SELECT term, cnt FROM counts
         |        ORDER BY cnt DESC, term LIMIT $VOCAB_K)
         |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, term)
         |  AS INTEGER) AS rank, term, cnt
         |FROM top ORDER BY rank""".stripMargin
  )
}
