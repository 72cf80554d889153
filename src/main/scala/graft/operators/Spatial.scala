package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Grid-bucketed spatial join — radius search and within-radius
  * nearest-neighbor over point sets, the geo twin of the LSH bucket
  * join the dedup family uses for text: replace the O(n·m) cross join
  * with an equi-join on a spatial cell key.
  *
  * Point coordinates here are derived arithmetically from entity keys
  * (there is no geo column in the corpus), which keeps the oracle in
  * closed form while exercising the real distributed plan: at 100 TB
  * the coordinates come from a real column and NOTHING in the plan
  * changes.
  *
  * Algorithm (textbook fixed-grid spatial join, e.g. PBSM /
  * Patel-DeWitt SIGMOD'96 lineage — public literature):
  *   - cell size = search radius R, so any point within distance R of
  *     a probe lies in the probe's 3×3 cell neighborhood;
  *   - the BUILD side emits each point once keyed by its cell, the
  *     PROBE side emits each point 9× (its neighbor cells) — a
  *     constant-factor explode, NOT data-squared;
  *   - one equi-join on (cx, cy) followed by the exact integer
  *     distance filter dx² + dy² ≤ R².
  *
  * Scale shape: the join is cell-keyed — parallelism = number of
  * occupied cells, and skew is bounded by cell occupancy (a dense
  * city-center cell salts like any hot key; AQE's skew split handles
  * the moderate case). No broadcast hint: either side may be the
  * small one, and at 100 TB neither fits — stats/AQE decide.
  */
object Spatial extends graft.QuerySet {
  private val R = 8 // search radius; also the grid cell size
  private val R2 = R * R

  /** Synthetic integer coordinates on a 1000×1000 grid, arithmetic in
    * the entity key so the DuckDB oracle reproduces them exactly. */
  private def custPoints(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer").select(
      col("c_custkey"),
      (col("c_custkey") * 37 % 1000).as("cx"),
      (col("c_custkey") * 73 % 1000).as("cy"))

  private def suppPoints(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "supplier").select(
      col("s_suppkey"),
      (col("s_suppkey") * 41 % 1000).as("sx"),
      (col("s_suppkey") * 97 % 1000).as("sy"))

  /** Radius-join candidates: suppliers bucketed by home cell,
    * customers exploded to their 3×3 neighborhood, equi-joined on the
    * cell, then the exact integer distance test. Coordinates are in
    * [0, 1000) so `div` is plain floor division on non-negatives —
    * identical semantics in DuckDB's `//`. */
  private def radiusPairs(s: SparkSession, dir: String): DataFrame = {
    val su = suppPoints(s, dir)
      .withColumn("gx", expr(s"sx div $R"))
      .withColumn("gy", expr(s"sy div $R"))
    val cu = custPoints(s, dir)
      .withColumn("gx", explode(expr(s"sequence(cx div $R - 1, cx div $R + 1)")))
      .withColumn("gy", explode(expr(s"sequence(cy div $R - 1, cy div $R + 1)")))
    val d2 = (col("cx") - col("sx")) * (col("cx") - col("sx")) +
      (col("cy") - col("sy")) * (col("cy") - col("sy"))
    cu.join(su, Seq("gx", "gy"))
      .withColumn("dist2", d2)
      .filter(col("dist2") <= R2)
      .select("c_custkey", "s_suppkey", "dist2")
  }

  val queries: Map[String, Q] = Map(
    // all (customer, supplier) pairs within Euclidean distance R —
    // the "stores near me" radius query as a cell-keyed equi-join
    "geo_radius_join" -> ((s, dir) =>
      radiusPairs(s, dir).orderBy("c_custkey", "s_suppkey")),

    // within-radius nearest neighbor: per customer that has at least
    // one supplier within R, the closest one (ties → lowest suppkey).
    // The ranking windows over the CANDIDATE set (output-sized), never
    // the input.
    "geo_grid_knn" -> ((s, dir) => {
      val w = Window.partitionBy("c_custkey")
        .orderBy(col("dist2"), col("s_suppkey"))
      radiusPairs(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("c_custkey", "s_suppkey", "dist2")
        .orderBy("c_custkey")
    }),

    // POINT-IN-POLYGON test against a convex fence (geofencing /
    // service-area assignment): a point is inside a CCW convex
    // polygon iff every edge's cross product (x2−x1)(py−y1) −
    // (y2−y1)(px−x1) is ≥ 0 — pure integer arithmetic, compiled to
    // one conjunction of six inequalities inside a single codegen'd
    // scan (no join at all; the polygon is a query constant, the
    // degenerate broadcast). Boundary points count as inside (the ≥).
    // Census per market segment: points in/out of the hexagonal fence.
    "geo_point_in_poly" -> ((s, dir) => {
      val inside = HEX.indices.map { i =>
        val (x1, y1) = HEX(i)
        val (x2, y2) = HEX((i + 1) % HEX.length)
        (lit(x2 - x1) * (col("cy") - lit(y1)) -
          lit(y2 - y1) * (col("cx") - lit(x1))) >= 0
      }.reduce(_ && _)
      Tables(s, dir, "customer")
        .select(col("c_mktsegment"),
          (col("c_custkey") * 37 % 1000).as("cx"),
          (col("c_custkey") * 73 % 1000).as("cy"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_points"),
          sum(when(inside, 1L).otherwise(0L)).as("n_inside"))
        .orderBy("c_mktsegment")
    })
  )

  /** CCW hexagonal fence centered (500, 500), integer vertices. */
  private val HEX: Seq[(Int, Int)] = Seq(
    (800, 500), (650, 760), (350, 760), (200, 500), (350, 240),
    (650, 240))

  // Oracle = brute-force cross join with the exact distance predicate —
  // a different algorithm entirely, feasible at oracle scale.
  private val pairsSql =
    """SELECT c_custkey, s_suppkey,
      |  (c_custkey * 37 % 1000 - s_suppkey * 41 % 1000)
      |    * (c_custkey * 37 % 1000 - s_suppkey * 41 % 1000)
      |  + (c_custkey * 73 % 1000 - s_suppkey * 97 % 1000)
      |    * (c_custkey * 73 % 1000 - s_suppkey * 97 % 1000) AS dist2
      |FROM customer CROSS JOIN supplier""".stripMargin

  val oracles: Map[String, String] = Map(
    "geo_radius_join" ->
      s"""WITH p AS ($pairsSql)
         |SELECT * FROM p WHERE dist2 <= 64
         |ORDER BY c_custkey, s_suppkey""".stripMargin,

    "geo_grid_knn" ->
      s"""WITH p AS ($pairsSql),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY c_custkey
         |    ORDER BY dist2, s_suppkey) AS rn
         |  FROM p WHERE dist2 <= 64)
         |SELECT c_custkey, s_suppkey, dist2 FROM r WHERE rn = 1
         |ORDER BY c_custkey""".stripMargin,

    // the same six cross products, spelled out
    "geo_point_in_poly" -> {
      val hex = Seq((800, 500), (650, 760), (350, 760), (200, 500),
        (350, 240), (650, 240))
      val conds = hex.indices.map { i =>
        val (x1, y1) = hex(i)
        val (x2, y2) = hex((i + 1) % hex.length)
        s"(${x2 - x1}) * (cy - $y1) - (${y2 - y1}) * (cx - $x1) >= 0"
      }.mkString("\n    AND ")
      s"""WITH p AS (
         |  SELECT c_mktsegment,
         |    c_custkey * 37 % 1000 AS cx,
         |    c_custkey * 73 % 1000 AS cy
         |  FROM customer)
         |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_points,
         |  CAST(COALESCE(SUM(CASE WHEN $conds
         |    THEN 1 END), 0) AS BIGINT) AS n_inside
         |FROM p GROUP BY 1 ORDER BY c_mktsegment""".stripMargin
    }
  )
}
