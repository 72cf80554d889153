package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** SemDeDup-style semantic deduplication over the embeddings table
  * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
  * through semantic deduplication"): cluster the corpus — k-means-style
  * assignment to C deterministic centroids via a broadcast — then prune
  * near-duplicates WITHIN clusters only. Candidate generation is an
  * equi-join on cluster id, never an all-pairs cross join. A vector is
  * dropped when some lower-id vector in its cluster exceeds the cosine
  * threshold, keeping one representative per semantic-duplicate group.
  *
  * Determinism: cosine is an explicit double-precision left fold over
  * the dimensions — the same IEEE operation sequence as the DuckDB
  * oracle's list_transform + list_reduce — so the threshold compare is
  * bit-exact across engines and needs no measured "gap" around the
  * cutoff. Centroids are vec_id < C: data-derived and reproducible.
  *
  * At 100 TB: centroids are model parameters (a broadcast row set), the
  * assignment is one map-side pass over the corpus, and the
  * within-cluster self-join shuffles on cid only — cost is quadratic in
  * the CLUSTER size, not the corpus. Degenerate clusters get the same
  * cap/salt guard as dd_embed_cosine's band join; a real deployment
  * would also split any cluster above a size bound by re-clustering it
  * with a finer centroid set (hierarchical k-means).
  */
object SemanticDedup extends graft.QuerySet {
  private val C = 64    // centroid count (vec_id < C)
  private val TH = 0.38 // cosine threshold for "semantic duplicate"

  /** Unit-normalized double vector, same op order as the oracle. */
  private val unitExpr =
    """transform(embedding, x -> cast(x as double) /
      |  sqrt(aggregate(embedding, 0.0d,
      |    (acc, y) -> acc + cast(y as double) * cast(y as double))))"""
      .stripMargin

  /** dot(x, y) as a double left fold in index order. */
  private def dot(x: String, y: String): Column = expr(
    s"aggregate(zip_with($x, $y, (a, b) -> a * b), 0.0d, (acc, v) -> acc + v)")

  val queries: Map[String, Q] = Map(
    "dd_semantic" -> ((s, dir) => {
      // spread: the embeddings file is one input split, which made the
      // normalize + centroid-scoring cross join single-threaded
      val e = graft.Tables.spread(Tables(s, dir, "embeddings"))
        .select(col("vec_id"), expr(unitExpr).as("u"))
        .cache() // reused: centroid slice, assignment, both join sides
      val cent = broadcast(e.filter(col("vec_id") < C)
        .select(col("vec_id").as("cid"), col("u").as("cu")))
      val wAssign = Window.partitionBy("vec_id")
        .orderBy(col("cs").desc, col("cid"))
      val assign = e.crossJoin(cent)
        .withColumn("cs", dot("u", "cu"))
        .withColumn("rn", row_number().over(wAssign))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cid"), col("u"))
        .cache() // both sides of the within-centroid pair join read it
      val a = assign.select(col("cid"), col("vec_id").as("ia"),
        col("u").as("ua"))
      val b = assign.select(col("cid"), col("vec_id").as("ib"),
        col("u").as("ub"))
      a.join(b, "cid")
        .filter(col("ia") < col("ib"))
        .withColumn("cs", dot("ua", "ub"))
        .filter(col("cs") > TH)
        .groupBy("cid", "ib")
        .agg(min(col("ia")).as("keeper"))
        .select(col("ib").as("dropped"), col("cid"), col("keeper"))
        .orderBy("dropped")
    })
  )

  val oracles: Map[String, String] = Map(
    // identical normalize / assign / pair arithmetic: 1-based list
    // indices in DuckDB vs zip_with in Spark, both left folds from 0.0
    "dd_semantic" ->
      s"""WITH nrm AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
         |      sqrt(list_reduce(
         |        list_transform(embedding,
         |          y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)),
         |        (acc, z) -> acc + z))) AS u
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cid, u AS cu FROM nrm WHERE vec_id < $C),
         |assign AS (
         |  SELECT vec_id, cid, u FROM (
         |    SELECT n.vec_id, c.cid, n.u,
         |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |        list_reduce(list_transform(range(1, 65),
         |          i -> n.u[i] * c.cu[i]), (a, b) -> a + b) DESC,
         |        c.cid) AS rn
         |    FROM nrm n, cent c) x WHERE rn = 1),
         |pairs AS (
         |  SELECT a.cid, a.vec_id AS ia, b.vec_id AS ib
         |  FROM assign a JOIN assign b
         |    ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE list_reduce(list_transform(range(1, 65),
         |          i -> a.u[i] * b.u[i]), (a2, b2) -> a2 + b2) > $TH)
         |SELECT ib AS dropped, cid, min(ia) AS keeper
         |FROM pairs GROUP BY cid, ib ORDER BY dropped""".stripMargin
  )
}
