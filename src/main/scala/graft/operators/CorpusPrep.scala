package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Training-corpus preparation operators: fixed-window document
  * chunking and token-budget sequence packing — the two transforms
  * between a cleaned corpus (see CorpusPipeline) and a tokenizer
  * feeding a trainer. Both are pure narrow/codegen plans plus at most
  * one hash shuffle; neither sorts globally.
  */
object CorpusPrep extends graft.QuerySet {
  /** chunk window / stride in tokens: 64-token windows every 48 tokens
    * (16-token overlap), the sliding-window shape context-limited
    * encoders use so no sentence is seen only at a window edge. */
  private[graft] val W = 64
  private[graft] val S = 48

  /** packing: greedy fill toward a fixed token budget per training
    * sequence, done independently inside 32 hash groups — the
    * distributed form of first-fit-decreasing. A global FFD needs a
    * total order over all documents (one partition at 100 TB); hash
    * groups keep every stage data-parallel and cost at most one
    * under-filled bin per group, bounded regardless of corpus size. */
  private[graft] val BUDGET = 512
  private[graft] val GROUPS = 32

  /** Overlapping token-window chunks of ANY (doc_id, text) frame.
    * nchunks = 1 + ceil((n-w)/s) so the final window may be short but
    * every token is covered; integer arithmetic only (ceil-div via
    * (x + s - 1) div s) so the oracle can't drift on float rounding.
    * Parameterized for the [[graft.api.Corpus]] facade; the named
    * query runs it with the W/S defaults. */
  private[graft] def chunkOf(docs: DataFrame, w: Int = W,
                             s: Int = S): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("ntok", size(col("toks")))
      .withColumn("chunk_id", explode(expr(
        // cast: `div` yields BIGINT, and the chunk ordinal contract
        // (and the oracle) is INT
        s"sequence(0, cast(greatest(0, (ntok - $w + $s - 1) div $s) as int))")))
      .select(
        col("doc_id"), col("chunk_id"),
        expr(s"size(slice(toks, chunk_id * $s + 1, $w))").as("n_tokens"),
        expr(s"array_join(slice(toks, chunk_id * $s + 1, $w), ' ')")
          .as("chunk_text"))
      .filter(col("n_tokens") > 0) // stride can overshoot short docs

  /** Token-budget packing of ANY (doc_id, ntok) frame: per hash group,
    * order items longest-first (FFD's sort step), running token total,
    * bin = how many full budgets precede the item. One shuffle (the
    * window partition); bins overflow the budget by at most one item's
    * tokens. */
  private[graft] def packOf(items: DataFrame, budget: Int = BUDGET,
                            groups: Int = GROUPS): DataFrame =
    items
      .withColumn("grp", expr(s"cast(doc_id % $groups as int)"))
      .withColumn("cum", sum("ntok").over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("grp")
          .orderBy(col("ntok").desc, col("doc_id"))
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("bin", expr(s"cast((cum - ntok) div $budget as int)"))
      .groupBy("grp", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum("ntok").as("tot_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))

  /** shard fan-out for the training-export step */
  private[graft] val NSHARDS = 16

  /** The first 8 hex digits of md5 column `hcol` as a BIGINT in
    * [0, 2^32) — an expression string valid VERBATIM in both Spark SQL
    * and DuckDB (instr/substr only; per-term CAST to BIGINT keeps the
    * largest product, 15·16^7 ≈ 4·10^9, out of INT overflow). 32 hash
    * bits make `% nshards` uniform for ANY shard count — a single hex
    * digit mod nshards would leave shards ≥ 16 empty and skew any
    * nshards that doesn't divide 16. */
  private[graft] def hex32Expr(hcol: String): String =
    (1 to 8).map { i =>
      val p = 1L << (4 * (8 - i))
      s"(instr('0123456789abcdef', substr($hcol, $i, 1)) - 1) " +
        s"* CAST($p AS BIGINT)"
    }.mkString(" + ")

  /** Deterministic training-shard assignment of ANY (doc_id, text)
    * frame: shuffle key = md5(doc_id) (identical lowercase hex in
    * Spark and DuckDB), shard = first 32 hash bits mod nshards, and a
    * within-shard position from a PARTITIONED row_number over the md5
    * order. The per-shard window is the 100 TB design point: a global
    * seeded ORDER BY would funnel the corpus through one sort
    * partition, while per-shard ordering keeps one task per shard and
    * still fixes the byte-exact read order a trainer replays —
    * cross-shard order is irrelevant to a loader that consumes whole
    * shards. Re-running on the same corpus reproduces the same
    * (shard_id, pos, doc_id) triples bit-for-bit. */
  private[graft] def shardOf(docs: DataFrame,
                             nshards: Int = NSHARDS): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("shard_id", expr(
        s"cast((${hex32Expr("h")}) % $nshards as int)"))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("shard_id").orderBy("h")))

  /** Export the sharded corpus as ONE FILE SET PER SHARD — the layout
    * a trainer's data loader mounts: `outDir/shard_id=K/…` via
    * partitionBy, so shard K's replay order (`pos`, from shardOf's
    * md5 ordering) and key column `h` travel with its files. One hash
    * shuffle + one write; no global sort, any corpus size. */
  private[graft] def exportShards(docs: DataFrame, outDir: String,
                                  nshards: Int = NSHARDS): Unit =
    shardOf(docs, nshards)
      .write.mode("overwrite").partitionBy("shard_id").parquet(outDir)

  /** The manifest RECOMPUTED FROM THE EXPORTED FILES — the round-trip
    * check against the oracle-checked `tr_shard_manifest` aggregate
    * (counts, token/char volumes, the sum-of-doc_ids checksum, the
    * replay head): equality proves the written file set carries
    * exactly the assignment the ledger promised. ShardExportSpec also
    * re-derives each row's shard from its md5 key ON THE FILES and
    * pins zero strays. */
  private[graft] def manifestOfExport(s: SparkSession,
                                      outDir: String): DataFrame =
    s.read.parquet(outDir)
      .withColumn("ntok", size(split(col("text"), " ")))
      .groupBy("shard_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ntok").cast("long")).as("n_tokens"),
        sum(length(col("text")).cast("long")).as("n_chars"),
        sum(col("doc_id")).as("sum_doc_id"),
        max(when(col("pos") === 1, col("doc_id"))).as("first_doc"))
      .orderBy("shard_id")

  /** range width of one dense-id bucket (≈ rows per local-sort task) */
  private[graft] val IDBUCKET = 512

  /** Dense sequential ids 0..n-1 over ANY (key) frame ordered by `key`,
    * WITHOUT a global sort: the classic zipWithIndex-shaped two-pass,
    * kept declarative. `row_number() OVER (ORDER BY key)` is the naive
    * spelling — an empty partition spec funnels the entire corpus
    * through ONE task, the textbook 100 TB plan killer. Instead:
    *
    *  1. bucket each row by key range (`key div bucketWidth` — order-
    *     preserving across buckets, so bucket-local order + bucket
    *     offsets compose to the global order);
    *  2. rank locally inside each bucket (a PARTITIONED window — one
    *     task per bucket, data-parallel);
    *  3. offset = exclusive running sum of bucket counts — a window
    *     over the bucket-COUNT table (n/bucketWidth rows, metadata
    *     scale), broadcast-joined back.
    *
    * dense_id = offset + local_rank - 1 equals the global row_number
    * exactly, which is what the oracle checks. Ragged/sparse key
    * spaces only change bucket populations, never correctness. */
  private[graft] def denseIdsOf(rows: DataFrame, key: String,
                                bucketWidth: Int = IDBUCKET): DataFrame = {
    val bucketed = rows.withColumn("bkt",
      expr(s"$key div $bucketWidth"))
    val offsets = bucketed.groupBy("bkt")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("off", sum("cnt").over(
        org.apache.spark.sql.expressions.Window
          .orderBy("bkt")
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            -1)))
      .select(col("bkt"), coalesce(col("off"), lit(0L)).as("off"))
    bucketed
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("bkt").orderBy(key)))
      .join(broadcast(offsets), "bkt")
      .withColumn("dense_id", col("off") + col("rn") - 1)
      .drop("bkt", "rn", "off")
  }

  val queries: Map[String, Q] = Map(
    "tr_dense_ids" -> ((s, dir) =>
      denseIdsOf(Tables(s, dir, "documents").select("doc_id"), "doc_id")
        .select(col("doc_id"), col("dense_id"))
        .orderBy("doc_id")),

    "doc_chunk" -> ((s, dir) =>
      chunkOf(Tables(s, dir, "documents"))
        .orderBy("doc_id", "chunk_id")),

    // Shard manifest — the export ledger a trainer checks before
    // reading: per shard, document/token/char volumes, an assignment
    // checksum (sum of doc_ids), and the first document in replay
    // order. One hash shuffle (the shard window); no global sort.
    "tr_shard_manifest" -> ((s, dir) =>
      shardOf(Tables(s, dir, "documents"))
        .withColumn("ntok", size(split(col("text"), " ")))
        .groupBy("shard_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("ntok").cast("long")).as("n_tokens"),
          sum(length(col("text")).cast("long")).as("n_chars"),
          sum(col("doc_id")).as("sum_doc_id"),
          max(when(col("pos") === 1, col("doc_id"))).as("first_doc"))
        .orderBy("shard_id")),

    "pack_sequences" -> ((s, dir) =>
      packOf(Tables(s, dir, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).as("ntok")))
        .orderBy("grp", "bin")),

    // Curriculum schedule — easy-to-hard training order with per-round
    // difficulty mixing: documents fall into FIXED difficulty bins
    // (n_chars div 100 — a data-independent binning, so no corpus-wide
    // quantile pass), are shuffled deterministically inside each bin by
    // the md5 draw (a PARTITIONED window — never a global row_number),
    // and the schedule interleaves one document per bin per round
    // (ORDER BY round, bin): every training window sees the full
    // difficulty spread while overall difficulty ramps as shallow bins
    // exhaust. The only global operation is the final output sort — a
    // range-partitioned total order, the unavoidable cost of emitting
    // any schedule manifest.
    "tr_curriculum" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          expr("n_chars div 100").as("bin"))
        .withColumn("round", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("bin")
            .orderBy(expr("md5(cast(doc_id as string))"), col("doc_id"))))
        .select("round", "bin", "doc_id", "n_chars")
        .orderBy("round", "bin", "doc_id")),

    // DSIR-style data selection (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling" — the public method):
    // pick from the raw pool the documents whose unigram distribution
    // is most TARGET-like, scored by the log-likelihood ratio of two
    // add-one-smoothed unigram LMs over a bounded feature space — here
    // the top-V target vocabulary plus one OOV bucket (the paper hashes
    // n-grams into B buckets purely to bound memory; a top-V vocab +
    // OOV is the same bounded-feature estimator with an engine-free
    // oracle). Target = the English slice of documents; raw pool = the
    // rest; the report is the 20 selected doc_ids in score order.
    //
    // Scale shape: the vocab grain is MODEL-PARAMETER scale (top V
    // terms — the BPE-merge-table argument), so its global window and
    // the per-bucket stats table BROADCAST; the corpus-grain work is
    // one explode, two hash aggregations, and one broadcast join — no
    // corpus-grain window, no global sort before the final top-k.
    // Doubles appear only in the ln-ratio ORDERING: the output is
    // integer (rank, doc_id), and the per-document sum folds over
    // bucket-sorted contributions (the ta_unigram_lm deterministic-
    // summation contract) so both engines add in one order.
    "tr_dsir_select" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      dsirSelectOf(
        docs.filter(col("lang") === "en").select("doc_id", "text"),
        docs.filter(col("lang") =!= "en").select("doc_id", "text"))
    }))

  /** DSIR scoring engine: target and raw pool as (doc_id, text)
    * frames; returns the k selected raw docs as (rank, doc_id) in
    * descending importance order. Parameterized for the
    * [[graft.api.Corpus.dsirSelect]] facade; the named query runs it
    * with the defaults. */
  private[graft] def dsirSelectOf(target: DataFrame, raw0: DataFrame,
                                  k: Int = 20, v: Int = 2000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def tokens(d: DataFrame): DataFrame = d.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tgt = tokens(target)
    val raw = tokens(raw0)
    val vocab = tgt.groupBy("term").agg(count(lit(1)).as("vct"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("vct").desc, col("term"))))
      .filter(col("rk") <= v)
      .select(col("term"), lit(1).as("inv"))
    def buckets(t: DataFrame): DataFrame =
      t.join(broadcast(vocab), Seq("term"), "left")
        .select(col("doc_id"),
          when(col("inv").isNotNull, concat(lit("t:"), col("term")))
            .otherwise(lit("oov")).as("b"))
    val tc = buckets(tgt).groupBy("b").agg(count(lit(1)).as("ct"))
    val rc = buckets(raw).groupBy("b").agg(count(lit(1)).as("cr"))
    // observed-bucket union (vocab terms always appear on the target
    // side; OOV on whichever side has out-of-vocab tokens) — zero
    // counts smooth to 1 below
    val stats = tc.join(rc, Seq("b"), "full")
      .select(col("b"), coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
    val consts = stats.agg(
      sum("ct").cast("double").as("tt"),
      sum("cr").cast("double").as("tr"),
      count(lit(1)).cast("double").as("bb"))
    val rtf = buckets(raw).groupBy("doc_id", "b")
      .agg(count(lit(1)).as("tf"))
    val contrib = rtf.join(broadcast(stats), "b")
      .crossJoin(broadcast(consts))
      .withColumn("c", col("tf").cast("double") *
        log(((col("ct") + lit(1L)).cast("double")
            / (col("tt") + col("bb")))
          / ((col("cr") + lit(1L)).cast("double")
            / (col("tr") + col("bb")))))
    val scored = contrib.groupBy("doc_id")
      .agg(expr(
        """aggregate(array_sort(collect_list(struct(b, c))), 0.0d,
          |  (acc, s) -> acc + s.c)""".stripMargin).as("score"))
    val top = scored.orderBy(col("score").desc, col("doc_id")).limit(k)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("rank"), col("doc_id"))
      .orderBy("rank")
  }

  val oracles: Map[String, String] = Map(
    // the oracle IS the naive global spelling — the operator's claim is
    // exact equality with row_number() OVER (ORDER BY key), minus 1
    "tr_dense_ids" ->
      """SELECT doc_id,
        |  row_number() OVER (ORDER BY doc_id) - 1 AS dense_id
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // md5() is identical lowercase hex in both engines; SUMs cast to
    // BIGINT so DuckDB's HUGEINT promotion can't drift the schema
    "tr_shard_manifest" ->
      s"""WITH h0 AS (
         |  SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |h AS (
         |  SELECT doc_id, text, h,
         |    CAST((${hex32Expr("h")}) % $NSHARDS AS INTEGER) AS shard_id
         |  FROM h0),
         |w AS (
         |  SELECT *, row_number() OVER (
         |      PARTITION BY shard_id ORDER BY h) AS pos
         |  FROM h)
         |SELECT shard_id, COUNT(*) AS n_docs,
         |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
         |  CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
         |  MAX(CASE WHEN pos = 1 THEN doc_id END) AS first_doc
         |FROM w
         |GROUP BY 1
         |ORDER BY shard_id""".stripMargin,

    // unnest(range(...)) rather than a lateral generate_series —
    // DuckDB's table function can't take correlated column arguments
    "doc_chunk" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks,
         |         len(string_split(text, ' ')) AS ntok
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, toks, CAST(unnest(range(0,
         |      greatest(0, (ntok - $W + $S - 1) // $S) + 1)) AS INTEGER)
         |    AS chunk_id
         |  FROM t)
         |SELECT doc_id, chunk_id,
         |  CAST(len(toks[chunk_id * $S + 1 : chunk_id * $S + $W])
         |    AS INTEGER) AS n_tokens,
         |  array_to_string(toks[chunk_id * $S + 1 : chunk_id * $S + $W],
         |    ' ') AS chunk_text
         |FROM c
         |WHERE len(toks[chunk_id * $S + 1 : chunk_id * $S + $W]) > 0
         |ORDER BY doc_id, chunk_id""".stripMargin,

    "pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    len(string_split(text, ' ')) AS ntok,
         |    CAST(doc_id % $GROUPS AS INTEGER) AS grp
         |  FROM documents),
         |w AS (
         |  SELECT *, SUM(ntok) OVER (
         |      PARTITION BY grp ORDER BY ntok DESC, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t)
         |SELECT grp, CAST((cum - ntok) // $BUDGET AS INTEGER) AS bin,
         |  COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS tot_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM w
         |GROUP BY 1, 2
         |ORDER BY grp, bin""".stripMargin,

    "tr_curriculum" ->
      """SELECT
        |  CAST(row_number() OVER (PARTITION BY n_chars // 100
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
        |    AS INTEGER) AS round,
        |  n_chars // 100 AS bin, doc_id, n_chars
        |FROM documents
        |ORDER BY round, bin, doc_id""".stripMargin,

    // the same two smoothed unigram LMs over the same top-V + OOV
    // feature space; the per-document sum is the deterministic
    // bucket-ordered list fold (the ta_unigram_lm technique), and only
    // integer (rank, doc_id) leaves the float domain
    "tr_dsir_select" ->
      """WITH tok AS (SELECT doc_id, lang,
        |    unnest(string_split(text, ' ')) AS term FROM documents),
        |tgt AS (SELECT * FROM tok WHERE lang = 'en'),
        |rawp AS (SELECT * FROM tok WHERE lang <> 'en'),
        |vc AS (SELECT term, count(*) AS vct FROM tgt GROUP BY term),
        |vocab AS (SELECT term FROM (
        |  SELECT term, row_number() OVER (ORDER BY vct DESC, term) AS rk
        |  FROM vc) t WHERE rk <= 2000),
        |tb AS (SELECT t.doc_id,
        |    CASE WHEN v.term IS NOT NULL THEN 't:' || t.term
        |         ELSE 'oov' END AS b
        |  FROM tgt t LEFT JOIN vocab v USING (term)),
        |rb AS (SELECT r.doc_id,
        |    CASE WHEN v.term IS NOT NULL THEN 't:' || r.term
        |         ELSE 'oov' END AS b
        |  FROM rawp r LEFT JOIN vocab v USING (term)),
        |tc AS (SELECT b, count(*) AS ct FROM tb GROUP BY b),
        |rc AS (SELECT b, count(*) AS cr FROM rb GROUP BY b),
        |stats AS (SELECT coalesce(tc.b, rc.b) AS b,
        |    coalesce(ct, 0) AS ct, coalesce(cr, 0) AS cr
        |  FROM tc FULL JOIN rc ON tc.b = rc.b),
        |consts AS (SELECT CAST(SUM(ct) AS DOUBLE) AS tt,
        |    CAST(SUM(cr) AS DOUBLE) AS tr,
        |    CAST(count(*) AS DOUBLE) AS bb FROM stats),
        |rtf AS (SELECT doc_id, b, count(*) AS tf FROM rb GROUP BY 1, 2),
        |contrib AS (SELECT rtf.doc_id, rtf.b,
        |    CAST(tf AS DOUBLE)
        |      * ln((CAST(ct + 1 AS DOUBLE) / (tt + bb))
        |          / (CAST(cr + 1 AS DOUBLE) / (tr + bb))) AS c
        |  FROM rtf JOIN stats USING (b), consts),
        |scored AS (SELECT doc_id,
        |    list_reduce(list_prepend(0.0, list(c ORDER BY b)),
        |                (a, x) -> a + x) AS score
        |  FROM contrib GROUP BY doc_id),
        |top AS (SELECT doc_id, score FROM scored
        |        ORDER BY score DESC, doc_id LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id)
        |  AS INTEGER) AS rank, doc_id
        |FROM top ORDER BY rank""".stripMargin)
}
