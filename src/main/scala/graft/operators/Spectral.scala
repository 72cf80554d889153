package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Distributed spectral analysis of the embedding corpus — the top
  * principal direction of the (scaled) covariance by matrix-free power
  * iteration, the classic distributed-PCA step (each round is one pass
  * over the data; the 64×64 covariance is never materialized):
  *
  *   C·v  =  n·Σᵣ xᵣ(xᵣ·v)  −  sx·(sx·v)
  *
  * with xᵣ the milli-quantized BIGINT rows, sx = Σxᵣ, n the row count —
  * the exact scaled covariance (n·cov = n·Σxxᵀ − sx·sxᵀ) applied to v
  * without forming it. Every sum is exact (BIGINT products, DECIMAL(38,0)
  * accumulation on the Spark side, HUGEINT in DuckDB), and between
  * iterations the vector renormalizes to fixed-point ±10⁴ via
  * floor(c·10⁴ / max|c|) EVALUATED IN DOUBLES from the exact integers:
  * both engines compute the identical IEEE division of identical inputs,
  * so the floor lands identically and the whole two-iteration recurrence
  * is bit-exact across engines — determinism by shared arithmetic, the
  * kmeans/MMR rule. Iteration count is FIXED (2), the bounded-driver-loop
  * shape of Clustering.
  *
  * Scale: each iteration is one broadcast of the 64-long vector, one
  * map-side dot per row, and a 64-group partial aggregation — the 100 TB
  * cost is two scans, independent of dimension² (no covariance shuffle).
  */
object Spectral extends graft.QuerySet {
  private val DIMS = 64
  private val FP = 10000L  // fixed-point scale of the iterated vector
  private val ITERS = 2

  /** One power step: v (1-row frame, array<long>) → renormalized
    * C·v as a 1-row array<long> frame. `e` is (vec_id, q) cached;
    * `sxf` is the 1-row (sx array, n) frame. */
  private def step(e: DataFrame, sxf: DataFrame, v: DataFrame): DataFrame = {
    val dots = e.crossJoin(broadcast(v))
      .select(col("q"), expr(
        "aggregate(zip_with(q, v, (a, b) -> a * b), 0L, " +
          "(acc, x) -> acc + x)").as("dot"))
    val a = dots
      .select(posexplode(col("q")).as(Seq("pos", "x")), col("dot"))
      .select(col("pos"),
        (col("x") * col("dot")).cast("decimal(38,0)").as("t"))
      .groupBy("pos").agg(sum("t").as("a"))
    // c_pos = n·a_pos − sx_pos·(sx·v), all exact decimal
    val cvec = a.crossJoin(broadcast(sxf.crossJoin(v)
        .select(col("n"), col("sx"), expr(
          "aggregate(zip_with(sx, v, (a, b) -> a * b), 0L, " +
            "(acc, x) -> acc + x)").as("svdot"))))
      .select(col("pos"),
        (col("n").cast("decimal(38,0)") * col("a") -
          element_at(col("sx"), col("pos") + 1).cast("decimal(38,0)") *
            col("svdot").cast("decimal(38,0)")).as("c"))
    // fixed-point renormalize: floor(c·FP / max|c|) in doubles of the
    // exact decimals — identical IEEE ops in both engines
    cvec
      .withColumn("m", max(abs(col("c"))).over(
        org.apache.spark.sql.expressions.Window
          .rowsBetween(Long.MinValue, Long.MaxValue)))
      .select(col("pos"), expr(
        s"cast(floor(cast(c as double) * $FP.0d / cast(m as double)) " +
          "as bigint)").as("vp"))
      .groupBy()
      .agg(expr("transform(array_sort(collect_list(struct(pos, vp)))," +
        " s -> s.vp)").as("v"))
  }

  /** Top principal direction of ANY (vec_id, v float-array) corpus as
    * a (pos, pc) frame in fixed-point ±10⁴ — the [[graft.api.Vectors]]
    * facade shape. See the object scaladoc for the arithmetic. */
  private[graft] def powerPcOf(corpus: DataFrame,
                               iters: Int = ITERS): DataFrame = {
    val s = corpus.sparkSession
    val e = corpus.select(col("vec_id"), expr(
        """transform(v, x ->
          |  cast(floor(cast(x as double) * 1000.0d + 0.5d) as bigint))"""
          .stripMargin).as("q"))
      .cache()
    val sxf = e
      .select(posexplode(col("q")).as(Seq("pos", "x")))
      .groupBy("pos").agg(sum("x").as("sxv"))
      .groupBy()
      .agg(expr("transform(array_sort(collect_list(struct(pos, sxv)))," +
        " s -> s.sxv)").as("sx"))
      .crossJoin(e.groupBy().agg(count(lit(1)).as("n")))
    val v0 = s.range(1)
      .select(expr(s"array_repeat(${FP}L, $DIMS)").as("v"))
    val vfinal = (1 to iters).foldLeft(v0)((v, _) => step(e, sxf, v))
    vfinal.select(posexplode(col("v")).as(Seq("pos", "pc")))
  }

  val queries: Map[String, Q] = Map(
    "ml_power_pc" -> ((s, dir) =>
      powerPcOf(Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").as("v")))
        .orderBy("pos"))
  )

  /** One power step in DuckDB: v table (i, vv) → out table (i, vv). */
  private def stepSql(prev: String, out: String): String =
    s"""${out}_dot AS (
       |  SELECT e.vec_id, e.q, SUM(e.q[v.i] * v.vv) AS dot
       |  FROM e, $prev v GROUP BY e.vec_id, e.q),
       |${out}_a AS (
       |  SELECT g.i, SUM(d.q[g.i] * d.dot) AS a
       |  FROM ${out}_dot d, generate_series(1, $DIMS) g(i)
       |  GROUP BY g.i),
       |${out}_sv AS (
       |  SELECT SUM(sx.sxv * v.vv) AS svdot
       |  FROM sx JOIN $prev v ON sx.i = v.i),
       |${out}_c AS (
       |  SELECT a.i,
       |    (SELECT n FROM cnt) * a.a
       |      - (SELECT sxv FROM sx WHERE sx.i = a.i)
       |        * (SELECT svdot FROM ${out}_sv) AS c
       |  FROM ${out}_a a),
       |${out}_m AS (SELECT MAX(ABS(c)) AS m FROM ${out}_c),
       |$out AS (
       |  SELECT i, CAST(floor(CAST(c AS DOUBLE) * $FP.0
       |    / CAST((SELECT m FROM ${out}_m) AS DOUBLE)) AS BIGINT) AS vv
       |  FROM ${out}_c)""".stripMargin

  val oracles: Map[String, String] = Map(
    "ml_power_pc" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x ->
         |    CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))
         |    AS q
         |  FROM embeddings),
         |cnt AS (SELECT count(*) AS n FROM e),
         |sx AS (
         |  SELECT g.i, SUM(e.q[g.i]) AS sxv
         |  FROM e, generate_series(1, $DIMS) g(i) GROUP BY g.i),
         |v0 AS (
         |  SELECT g.i, CAST($FP AS BIGINT) AS vv
         |  FROM generate_series(1, $DIMS) g(i)),
         |${stepSql("v0", "v1")},
         |${stepSql("v1", "v2")}
         |SELECT CAST(i - 1 AS INTEGER) AS pos, CAST(vv AS BIGINT) AS pc
         |FROM v2 ORDER BY pos""".stripMargin
  )
}
