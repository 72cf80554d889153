package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Density-based clustering — DBSCAN (Ester et al. KDD'96) in the
  * shape a cluster wants. The quadratic part of DBSCAN is the
  * eps-neighborhood count; the distributed formulation replaces it
  * with the FIXED-GRID bucket join the spatial family already uses
  * (cell = eps, so any neighbor of a point lies in its 3×3 cell
  * block): build side keyed by home cell, probe side exploded ≤ 9×,
  * one equi-join on the cell, exact integer distance filter. Core
  * points (≥ minPts neighbors incl. self) then cluster by CONNECTED
  * COMPONENTS of the core-core adjacency — star contraction, the same
  * O(log d)-round primitive the dedup and ER families resolve with —
  * and border points attach to their minimum-labeled core neighbor
  * (a deterministic tie rule; plain DBSCAN leaves border assignment
  * order-dependent, which a distributed engine cannot tolerate).
  *
  * Point coordinates are md5-derived from the customer key (48 bits →
  * a 512×512 grid) so the DuckDB oracle reproduces them digit-for-
  * digit while the distribution stays hash-uniform — the engine's
  * plan is EXACTLY what a real (x, y) column would get. Oracle
  * replays neighbors quadratically and components by recursive-CTE
  * reachability — different algorithms on both legs, which is the
  * point of the cross-check. DensitySpec pins the DBSCAN contract
  * itself (cores/borders/noise on a crafted constellation).
  *
  * Scale shape: parallelism = occupied cells; a dense cell is a hot
  * key handled like any other (AQE skew split / salting); the
  * components loop is log-round on core edges only. Σ core-degree
  * bounds the edge list — eps and minPts control it, exactly as in
  * single-node DBSCAN.
  */
object Density extends graft.QuerySet {
  private val EPS2 = 144 // eps = 12 (grid cell = eps)
  private val MINPTS = 4

  /** md5-derived coordinates: x from hex digits 1-3 (d1·32 + d2·2 +
    * d3 div 8), y from digits 4-6 — each coordinate uniform on
    * [0, 512). The digit arithmetic is engine-portable verbatim. */
  private[graft] def pts(s: SparkSession, dir: String): DataFrame = {
    def coord(off: Int): Column =
      expr(s"cast(conv(substr(h, ${off}, 2), 16, 10) as bigint) * 2 + " +
        s"cast(conv(substr(h, ${off + 2}, 1), 16, 10) as bigint) div 8")
    Tables(s, dir, "customer")
      .select(col("c_custkey").as("k"),
        md5(col("c_custkey").cast("string")).as("h"))
      .select(col("k"), coord(1).as("x"), coord(4).as("y"))
  }

  /** Directed neighbor pairs (ka, kb), ka ≠ kb, within eps — each
    * ordered pair exactly once (the build side is bucketed ONCE by
    * home cell, so a probe row meets it in exactly one of its 9
    * cells). `points` is any (k, x, y) frame; cell width must be
    * ≥ eps for the 3×3 block to cover the eps ball. */
  private[graft] def neighborPairs(points: DataFrame, eps2: Long,
                                   cell: Long): DataFrame = {
    // spread both join sides (guide §2.5): the point table is derived
    // from a single-split parquet scan, so whichever side the planner
    // STREAMS otherwise runs the 9×-exploded probe + integer distance
    // filter in ONE task (measured: ~520 ms single-task jobs, three per
    // dbscan query at sf0.1). Round-robin repartition is a no-op once
    // the scan has ≥ default-parallelism splits (the 100 TB case), and
    // every consumer aggregates by key, so results are unaffected.
    val p = graft.Tables.spread(points)
    val build = p
      .select(col("k").as("kb"), col("x").as("xb"), col("y").as("yb"))
      .withColumn("gx", expr(s"xb div $cell"))
      .withColumn("gy", expr(s"yb div $cell"))
    val probe = p
      .select(col("k").as("ka"), col("x").as("xa"), col("y").as("ya"))
      .withColumn("gx",
        explode(expr(s"sequence(xa div $cell - 1, xa div $cell + 1)")))
      .withColumn("gy",
        explode(expr(s"sequence(ya div $cell - 1, ya div $cell + 1)")))
    probe.join(build, Seq("gx", "gy"))
      .filter(col("ka") =!= col("kb") &&
        (col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb")) <= eps2)
      .select("ka", "kb")
  }

  /** DBSCAN labeling of a (k, x, y) point frame: (k, role, label)
    * with role ∈ core/border/noise and label = min core key of the
    * density-connected component (−1 for noise). Border points take
    * the MIN label among their core neighbors — the deterministic
    * variant of DBSCAN's order-dependent border rule. */
  private[graft] def dbscan(points: DataFrame, eps2: Long, cell: Long,
                            minPts: Int): DataFrame =
    dbscanXY(points, eps2, cell, minPts).select("k", "role", "label")

  /** [[dbscan]] with the input coordinates threaded through to the
    * output — (k, x, y, role, label). The census consumer needs (x, y)
    * for its bounding box, and carrying them here is free codegen
    * width, where re-deriving them cost one more full point scan +
    * join (guide §5 "reuse"). */
  private[graft] def dbscanXY(points: DataFrame, eps2: Long, cell: Long,
                              minPts: Int): DataFrame = {
    // EAGER checkpoint, not .cache(): the core census, the core-core
    // edge join and the border probe all read the pair table, AQE
    // launches their stages concurrently, and concurrent consumers of
    // a cold cache EACH recompute the grid join (measured: twin
    // ~500 ms pair-build jobs per dbscan query). The barrier runs the
    // neighbor join exactly once; everything downstream reads blocks.
    val pairs = neighborPairs(points, eps2, cell).localCheckpoint()
    val core = pairs.groupBy("ka").agg(count(lit(1)).as("deg"))
      .filter(col("deg") + 1 >= minPts)
      .select(col("ka").as("k"))
    val coreEdges = pairs
      .join(core.select(col("k").as("ka")), "ka")
      .join(core.select(col("k").as("kb")), "kb")
      .select("ka", "kb")
    val comp = Graph.starComponents(coreEdges) // (cluster_id, node)
    // singleton cores never touch a core-core edge → own label
    val coreLab = core
      .join(comp, col("k") === col("node"), "left")
      .select(col("k"),
        coalesce(col("cluster_id"), col("k")).as("core_lab"))
    val borderLab = pairs
      .join(core.select(col("k").as("ka")), Seq("ka"), "left_anti")
      .join(coreLab.select(col("k").as("kb"),
        col("core_lab").as("nl")), "kb")
      .groupBy(col("ka").as("k")).agg(min("nl").as("bord_lab"))
    // consumers that don't read (x, y) — the grid query, the facade —
    // get them pruned by Catalyst
    points.select("k", "x", "y")
      .join(coreLab, Seq("k"), "left")
      .join(borderLab, Seq("k"), "left")
      .select(col("k"), col("x"), col("y"),
        when(col("core_lab").isNotNull, lit("core"))
          .when(col("bord_lab").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("core_lab"), col("bord_lab"), lit(-1L))
          .as("label"))
  }

  val queries: Map[String, Q] = Map(
    // Full DBSCAN labeling of the hash-uniform customer constellation.
    "db_dbscan_grid" -> ((s, dir) =>
      dbscan(pts(s, dir), EPS2, 12, MINPTS)
        .select(col("k").as("c_custkey"), col("role"), col("label"))
        .orderBy("c_custkey")),

    // Cluster census over the same labeling — the report a density
    // scan actually ships: per cluster, sizes by role plus bounding
    // box. One groupBy over the labeled points.
    "db_dbscan_census" -> ((s, dir) => {
      // the labeling directly, NOT via the grid query: the named grid
      // query ends in a global ORDER BY c_custkey that this census
      // immediately destroys with a groupBy — same rows, one full sort
      // of the point table saved. (x, y) are threaded through the
      // labeling (dbscanXY) instead of re-derived and re-joined — one
      // point scan + one join removed (guide §5 "reuse").
      dbscanXY(pts(s, dir), EPS2, 12, MINPTS)
        .filter(col("label") >= 0)
        .groupBy("label")
        .agg(sum(when(col("role") === "core", 1L).otherwise(0L))
            .as("n_core"),
          sum(when(col("role") === "border", 1L).otherwise(0L))
            .as("n_border"),
          min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
        .orderBy("label")
    })
  )

  // coordinate + neighbor fragments shared by both oracles; neighbors
  // are brute-force quadratic (oracle scale), components by
  // recursive-CTE reachability over core-core edges
  private val baseSql =
    """WITH RECURSIVE p AS (
      |  SELECT c_custkey AS k,
      |    ((strpos('0123456789abcdef',
      |        substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1)) - 1) * 32
      |     + (strpos('0123456789abcdef',
      |        substr(md5(CAST(c_custkey AS VARCHAR)), 2, 1)) - 1) * 2
      |     + (strpos('0123456789abcdef',
      |        substr(md5(CAST(c_custkey AS VARCHAR)), 3, 1)) - 1) // 8)
      |      AS x,
      |    ((strpos('0123456789abcdef',
      |        substr(md5(CAST(c_custkey AS VARCHAR)), 4, 1)) - 1) * 32
      |     + (strpos('0123456789abcdef',
      |        substr(md5(CAST(c_custkey AS VARCHAR)), 5, 1)) - 1) * 2
      |     + (strpos('0123456789abcdef',
      |        substr(md5(CAST(c_custkey AS VARCHAR)), 6, 1)) - 1) // 8)
      |      AS y
      |  FROM customer),
      |n AS (
      |  SELECT a.k AS ka, b.k AS kb FROM p a JOIN p b
      |  ON a.k <> b.k
      |    AND (a.x - b.x) * (a.x - b.x)
      |      + (a.y - b.y) * (a.y - b.y) <= 144),
      |deg AS (SELECT ka AS k, count(*) AS deg FROM n GROUP BY 1),
      |core AS (SELECT k FROM deg WHERE deg + 1 >= 4),
      |ce AS (
      |  SELECT n.ka AS u, n.kb AS v FROM n
      |  JOIN core c1 ON n.ka = c1.k JOIN core c2 ON n.kb = c2.k),
      |reach(node, r) AS (
      |  SELECT k, k FROM core
      |  UNION
      |  SELECT reach.node, ce.v FROM reach JOIN ce ON ce.u = reach.r),
      |lab AS (SELECT node AS k, min(r) AS label FROM reach GROUP BY node),
      |bord AS (
      |  SELECT n.ka AS k, min(l.label) AS label
      |  FROM n JOIN lab l ON n.kb = l.k
      |  WHERE n.ka NOT IN (SELECT k FROM core)
      |  GROUP BY n.ka),
      |labeled AS (
      |  SELECT p.k AS c_custkey,
      |    CASE WHEN lab.k IS NOT NULL THEN 'core'
      |         WHEN bord.k IS NOT NULL THEN 'border'
      |         ELSE 'noise' END AS role,
      |    CAST(coalesce(lab.label, bord.label, -1) AS BIGINT) AS label,
      |    p.x, p.y
      |  FROM p LEFT JOIN lab ON p.k = lab.k
      |         LEFT JOIN bord ON p.k = bord.k)
      |""".stripMargin

  val oracles: Map[String, String] = Map(
    "db_dbscan_grid" -> (baseSql +
      """SELECT c_custkey, role, label FROM labeled
        |ORDER BY c_custkey""".stripMargin),

    "db_dbscan_census" -> (baseSql +
      """SELECT label,
        |  CAST(sum(CASE WHEN role = 'core' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_core,
        |  CAST(sum(CASE WHEN role = 'border' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_border,
        |  min(x) AS min_x, max(x) AS max_x,
        |  min(y) AS min_y, max(y) AS max_y
        |FROM labeled WHERE label >= 0
        |GROUP BY label ORDER BY label""".stripMargin)
  )
}
