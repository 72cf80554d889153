package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Flagship compositions: the end-to-end training-corpus pipelines —
  * `pipe_clean_corpus` (quality gate → MinHash near-dup removal →
  * per-language stats) and `pipe_training_recipe` (the FULL data
  * recipe: quality gate → exact dedup keep-one → near-dup removal →
  * benchmark decontamination → token-window chunking → token-budget
  * packing). Every stage is the same code path the individual
  * operators use (constants shared with CorpusPrep/CorpusQuality), so
  * correctness is inherited, and the composed oracles recompute the
  * whole chain in SQL.
  */
object CorpusPipeline extends graft.QuerySet {
  /** Word-8-gram digests of `df` (doc_id, gh) — the dc_decontaminate
    * gram shape, parameterized over the input relation so the recipe
    * can gram both the raw benchmark slice and the cleaned survivors. */
  private def grams8(df: DataFrame): DataFrame = {
    val n = CorpusQuality.NGRAM
    df.withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(w) - ${n - 1}),
           |  i -> substring(md5(cast(concat_ws(' ', slice(w, i, $n))
           |                          as binary)), 1, 16))""".stripMargin))
        .as("gh"))
  }

  val queries: Map[String, Q] = Map(
    "pipe_clean_corpus" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      // stage 1: quality gate (ta_quality_score semantics: not 'poor')
      val good = docs.filter(size(split(col("text"), " ")) >= 5)
      // stage 2: near-dup removal — drop the id2 side of every MinHash
      // candidate pair with >= 6/9 signature agreement. Shares
      // Dedup.minhashPairs with dd_minhash_lsh: identical subplan ⇒
      // identical generated code (compiled once per JVM) and one
      // maintenance point for the signature/candidate stage.
      val dupIds = Dedup.minhashPairs(s, dir)
        .select(col("id2").as("doc_id")).distinct()
      val kept = good.join(dupIds, Seq("doc_id"), "left_anti")
      // stage 3: per-language corpus stats
      kept.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"),
          sum(length(col("text")).cast("long")).as("total_chars"))
        .orderBy("lang")
    }),

    // The COMPLETE data recipe, documents → training sequences. At
    // 100 TB every stage keeps its individual operator's scale shape:
    // digest-keyed dedup joins, a broadcast benchmark gram probe, and
    // a per-hash-group packing window (no global sort anywhere). The
    // output is the per-group packing manifest a trainer's data loader
    // consumes: how many chunks, bins, and tokens each shard holds.
    "pipe_training_recipe" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      // stage 1: quality gate (shared with pipe_clean_corpus)
      val good = docs.filter(size(split(col("text"), " ")) >= 5)
      // stage 2: exact dedup, keep the lowest doc_id per normalized
      // body (dd_exact's digest key; one shuffle on 16-byte digests)
      val keepExact = good
        .withColumn("norm",
          regexp_replace(trim(lower(col("text"))), " +", " "))
        .withColumn("gh", md5(col("norm").cast("binary")))
        .withColumn("rn",
          row_number().over(Window.partitionBy("gh").orderBy("doc_id")))
        .filter(col("rn") === 1)
        .select("doc_id", "text")
      // stage 3: near-dup removal (dd_minhash_lsh pairs, drop id2)
      val dupIds = Dedup.minhashPairs(s, dir)
        .select(col("id2").as("doc_id")).distinct()
      val s1 = keepExact.join(dupIds, Seq("doc_id"), "left_anti")
      // stage 4: benchmark decontamination — bench grams come from the
      // RAW corpus (the eval set exists regardless of cleaning); drop
      // bench docs themselves plus any survivor sharing an 8-gram
      val bench = grams8(
        docs.filter(col("doc_id") % CorpusQuality.BENCH_MOD === 0))
        .select("gh").distinct()
      // cached: the contamination probe (grams8) and the anti-join's
      // left side both read the survivor set — uncached, the whole
      // quality-gate + exact-dedup window + near-dup anti-join chain
      // re-ran once per consumer (twin map jobs in the job trace)
      val trainCand = s1.filter(col("doc_id") % CorpusQuality.BENCH_MOD =!= 0)
        .cache()
      val hit = grams8(trainCand).join(broadcast(bench), "gh")
        .select("doc_id").distinct()
      val s2 = trainCand.join(hit, Seq("doc_id"), "left_anti")
      // stage 5: token-window chunking (doc_chunk's W/S)
      val (w0, st) = (CorpusPrep.W, CorpusPrep.S)
      val chunks = s2
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("ntok", size(col("toks")))
        .withColumn("chunk_id", explode(expr(
          s"sequence(0, cast(greatest(0, (ntok - $w0 + $st - 1) div $st) as int))")))
        .select(col("doc_id"), col("chunk_id"),
          expr(s"size(slice(toks, chunk_id * $st + 1, $w0))").as("n_tokens"))
        .filter(col("n_tokens") > 0)
      // stage 6: token-budget packing (pack_sequences' budget/groups),
      // manifest per hash group
      val (budget, groups) = (CorpusPrep.BUDGET, CorpusPrep.GROUPS)
      chunks
        .withColumn("grp", expr(s"cast(doc_id % $groups as int)"))
        .withColumn("cum", sum("n_tokens").over(Window.partitionBy("grp")
          .orderBy(col("n_tokens").desc, col("doc_id"), col("chunk_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("bin", expr(s"cast((cum - n_tokens) div $budget as int)"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("bin")).as("n_bins"),
          sum("n_tokens").cast("long").as("tot_tokens"))
        .orderBy("grp")
    })
  )

  val oracles: Map[String, String] = Map(
    "pipe_clean_corpus" -> {
      // the dd_minhash_lsh oracle, reused as a CTE for the dup-id set
      val minhash = Dedup.oracles("dd_minhash_lsh")
      s"""WITH pairs AS ($minhash),
         |dups AS (SELECT DISTINCT id2 AS doc_id FROM pairs),
         |good AS (
         |  SELECT * FROM documents
         |  WHERE len(string_split(text, ' ')) >= 5
         |    AND doc_id NOT IN (SELECT doc_id FROM dups))
         |SELECT lang, count(*) AS n_docs,
         |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
         |  CAST(SUM(length(text)) AS BIGINT) AS total_chars
         |FROM good GROUP BY lang ORDER BY lang""".stripMargin
    },

    "pipe_training_recipe" -> {
      val minhash = Dedup.oracles("dd_minhash_lsh")
      val n = CorpusQuality.NGRAM
      val mod = CorpusQuality.BENCH_MOD
      val (w0, st) = (CorpusPrep.W, CorpusPrep.S)
      val (budget, groups) = (CorpusPrep.BUDGET, CorpusPrep.GROUPS)
      s"""WITH pairs AS ($minhash),
         |dups AS (SELECT DISTINCT id2 AS doc_id FROM pairs),
         |good AS (
         |  SELECT doc_id, text,
         |    md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS gh
         |  FROM documents
         |  WHERE len(string_split(text, ' ')) >= 5),
         |keep_exact AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      row_number() OVER (PARTITION BY gh ORDER BY doc_id) AS rn
         |    FROM good) x WHERE rn = 1),
         |s1 AS (
         |  SELECT doc_id, text FROM keep_exact
         |  WHERE doc_id NOT IN (SELECT doc_id FROM dups)),
         |bench_w AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |  WHERE doc_id % $mod = 0 AND len(string_split(text, ' ')) >= $n),
         |bench AS (
         |  SELECT DISTINCT
         |    substr(md5(array_to_string(w[i:i+${n - 1}], ' ')), 1, 16) AS gh
         |  FROM bench_w, UNNEST(range(1, len(w) - ${n - 2})) t(i)),
         |cand AS (SELECT doc_id, text FROM s1 WHERE doc_id % $mod <> 0),
         |cand_w AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM cand
         |  WHERE len(string_split(text, ' ')) >= $n),
         |hit AS (
         |  SELECT DISTINCT g.doc_id FROM (
         |    SELECT doc_id,
         |      substr(md5(array_to_string(w[i:i+${n - 1}], ' ')), 1, 16) AS gh
         |    FROM cand_w, UNNEST(range(1, len(w) - ${n - 2})) t(i)) g
         |  JOIN bench USING (gh)),
         |s2 AS (
         |  SELECT doc_id, text FROM cand
         |  WHERE doc_id NOT IN (SELECT doc_id FROM hit)),
         |t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks,
         |         len(string_split(text, ' ')) AS ntok
         |  FROM s2),
         |c AS (
         |  SELECT doc_id, CAST(unnest(range(0,
         |      greatest(0, (ntok - $w0 + $st - 1) // $st) + 1)) AS INTEGER)
         |    AS chunk_id, toks
         |  FROM t),
         |ch AS (
         |  SELECT doc_id, chunk_id,
         |    CAST(len(toks[chunk_id * $st + 1 : chunk_id * $st + $w0])
         |      AS INTEGER) AS n_tokens
         |  FROM c
         |  WHERE len(toks[chunk_id * $st + 1 : chunk_id * $st + $w0]) > 0),
         |p AS (
         |  SELECT *, CAST(doc_id % $groups AS INTEGER) AS grp,
         |    SUM(n_tokens) OVER (
         |      PARTITION BY doc_id % $groups
         |      ORDER BY n_tokens DESC, doc_id, chunk_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM ch)
         |SELECT grp, count(*) AS n_chunks,
         |  count(DISTINCT (cum - n_tokens) // $budget) AS n_bins,
         |  CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens
         |FROM p GROUP BY grp ORDER BY grp""".stripMargin
    }
  )
}
