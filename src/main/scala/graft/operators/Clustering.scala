package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Distributed Lloyd k-means over the embeddings table — the corpus
  * clustering step a training-data pipeline runs before cluster-aware
  * curation (SemDeDup pruning, per-cluster sampling quotas, topic
  * balancing; cf. Abbas et al. 2023 §3, which k-means-clusters the
  * corpus first). `dd_semantic` assumes fixed centroids; this operator
  * LEARNS them with the classic iterate-assign-recompute loop,
  * expressed so every arithmetic step is integer-exact and therefore
  * oracle-checkable across engines:
  *
  *  - coordinates quantize once to BIGINT milli-units
  *    (`floor(x·1000 + 0.5)` — the SQ8 pattern, Similarity.scala);
  *  - distances are exact BIGINT sums of squared diffs;
  *  - recomputed centroids floor-divide elementwise integer sums
  *    (exact: |sum| ≪ 2^53, and a true quotient is ≥ 1/n from the
  *    integer above it while the correctly-rounded double division
  *    errs < 2^-40 here, so floor never crosses);
  *  - argmin ties break on centroid id.
  *
  * Iteration count is FIXED (2), not convergence-tested: a bounded
  * driver loop over lazy DataFrames, the standard distributed-k-means
  * shape. At 100 TB each iteration is one map-side assignment pass
  * (centroids are a K-row broadcast) plus one (cid, pos)-keyed partial
  * aggregation whose traffic is K·dims longs per executor after
  * map-side combine — corpus rows never gather anywhere. Quantization
  * to milli-units costs < 0.1% relative distortion at this embedding
  * scale, far below cluster-boundary widths; a float deployment drops
  * the quantize step and keeps the identical plan shape.
  */
object Clustering extends graft.QuerySet {
  private val K = 8      // clusters
  private val ITERS = 2  // fixed Lloyd iterations
  private val DIMS = 64

  /** Assign each vector to its nearest centroid (exact integer
    * distance, ties to the lower cid). `cents` is (cid, cq). */
  private[graft] def assign(e: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("dist"), col("cid"))
    e.crossJoin(broadcast(cents))
      .withColumn("dist", expr(
        "aggregate(zip_with(q, cq, (a, b) -> (a - b) * (a - b)), " +
          "0L, (acc, v) -> acc + v)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("vec_id", "q", "cid", "dist")
  }

  /** Elementwise floor-mean of each cluster's members: explode to
    * (cid, pos), aggregate integer sums with map-side combine, fold
    * back to a K-row centroid array table. */
  private[graft] def recompute(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("q")).as(Seq("pos", "x")))
      .groupBy("cid", "pos")
      .agg(floor(sum("x").cast("double") / count(lit(1)))
        .cast("long").as("m"))
      .groupBy("cid")
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), " +
        "s -> s.m)").as("cq"))

  /** A cluster that captures zero members in a round KEEPS its previous
    * centroid (the ProductQuant codebook rule, ProductQuant.scala): the
    * centroid frame is always exactly k rows whatever the corpus shape,
    * which the k-row facade contract and IVF bucket sizing rely on. */
  private[graft] def backfill(prev: DataFrame, next: DataFrame): DataFrame =
    prev.select(col("cid"), col("cq").as("pq"))
      .join(next, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("cq"), col("pq")).as("cq"))

  /** Train k centroids on an (id, float-vector) frame and return them
    * as (cid, centroid) with FLOAT vectors — directly usable as the
    * centroid frame of the IVF ANN path. Seeds are the k lowest-id
    * vectors; `iters` fixed Lloyd rounds in the integer-exact frame
    * (milli-unit quantization), centroids dequantized at the boundary;
    * emptied clusters keep their previous centroid so the result is
    * always exactly k rows.
    */
  private[graft] def kmeansFit(corpus: DataFrame, k: Int, iters: Int,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding"): DataFrame = {
    val e = corpus.select(col(idCol).as("vec_id"), expr(
      s"""transform($vecCol, x ->
         |  cast(floor(cast(x as double) * 1000.0d + 0.5d) as bigint))"""
        .stripMargin).as("q"))
      .cache() // read by every assignment pass
    val init = e.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cid"), col("q").as("cq"))
    val trained = (1 to iters).foldLeft(init) {
      (cents, _) => backfill(cents, recompute(assign(e, cents)))
    }
    trained.select(col("cid"),
      expr("transform(cq, v -> cast(cast(v as double) / 1000.0d as float))")
        .as("centroid"))
  }

  val queries: Map[String, Q] = Map(
    "ml_kmeans" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), expr(
          """transform(embedding, x ->
            |  cast(floor(cast(x as double) * 1000.0d + 0.5d) as bigint))"""
            .stripMargin).as("q"))
        .cache() // read by every assignment pass
      val init = e.filter(col("vec_id") < K)
        .select(col("vec_id").as("cid"), col("q").as("cq"))
      val trained = (1 to ITERS).foldLeft(init) {
        (cents, _) => backfill(cents, recompute(assign(e, cents)))
      }
      assign(e, trained)
        .select("vec_id", "cid", "dist")
        .orderBy("vec_id")
    })
  )

  /** One assignment round as a DuckDB CTE chain (1-based list indices;
    * the same integer arithmetic as the Spark side). */
  private def assignSql(src: String, cents: String, out: String): String =
    s"""$out AS (
       |  SELECT vec_id, q, cid, dist FROM (
       |    SELECT vec_id, q, cid, dist,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY dist, cid) AS rn
       |    FROM (
       |      SELECT n.vec_id, n.q, c.cid,
       |        list_reduce(list_transform(range(1, ${DIMS + 1}),
       |          i -> (n.q[i] - c.cq[i]) * (n.q[i] - c.cq[i])),
       |          (a, b) -> a + b) AS dist
       |      FROM $src n, $cents c) d) x
       |  WHERE rn = 1)""".stripMargin

  /** Recompute + backfill: a cid absent from `assigned` (zero members
    * this round) keeps its `prev` centroid — the Spark side's
    * `backfill` rule, so both engines hold the cid set invariant. */
  private def recomputeSql(assigned: String, prev: String,
                           out: String): String =
    s"""${out}_m AS (
       |  SELECT a.cid, g.i,
       |    CAST(floor(CAST(sum(a.q[g.i]) AS DOUBLE) / count(*))
       |         AS BIGINT) AS m
       |  FROM $assigned a, generate_series(1, $DIMS) g(i)
       |  GROUP BY a.cid, g.i),
       |${out}_r AS (
       |  SELECT cid, list(m ORDER BY i) AS cq FROM ${out}_m GROUP BY cid),
       |$out AS (
       |  SELECT p.cid, COALESCE(r.cq, p.cq) AS cq
       |  FROM $prev p LEFT JOIN ${out}_r r USING (cid))"""
      .stripMargin

  val oracles: Map[String, String] = Map(
    "ml_kmeans" ->
      s"""WITH e AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x ->
         |      CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))
         |      AS q
         |  FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, q AS cq FROM e WHERE vec_id < $K),
         |${assignSql("e", "c0", "a1")},
         |${recomputeSql("a1", "c0", "c1")},
         |${assignSql("e", "c1", "a2")},
         |${recomputeSql("a2", "c1", "c2")},
         |${assignSql("e", "c2", "af")}
         |SELECT vec_id, cid, dist FROM af ORDER BY vec_id""".stripMargin
  )
}
