package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Pareto-frontier (skyline) operator — "all offers not dominated by
  * any other offer" (minimize x, maximize y), the multi-criteria
  * filter product search and supplier selection run over catalog
  * tables (Börzsönyi/Kossmann/Stocker, "The Skyline Operator",
  * ICDE 2001 — public literature; no Spark or reference analogue
  * exists, which is why this is a custom per-partition operator and
  * not composed builtins).
  *
  * Distributed shape (the textbook two-phase skyline):
  *   1. LOCAL phase — sort rows WITHIN each partition by
  *      (group, x asc, y desc, key) and stream a constant-memory sweep
  *      that keeps only partition-locally undominated rows. A row is
  *      pruned iff some earlier row in this order has y ≥ it with one
  *      coordinate strict; the sweep tracks just two scalars (max y
  *      at strictly-smaller x; max y inside the current x tie-group).
  *   2. MERGE phase — the surviving candidates (for d=2 and
  *      independent dims, O(log n) expected PER PARTITION) shuffle on
  *      the group key and the same sweep runs once more. Correctness:
  *      dominance is transitive, so any globally dominated row is
  *      dominated by some row that survives its own partition's local
  *      skyline — the merge input provably contains the true skyline.
  *
  * At 100 TB: phase 1 is embarrassingly parallel and spill-safe
  * (sortWithinPartitions is Spark's external sort; the sweep itself
  * holds one row group), and the only shuffle moves candidate sets
  * orders of magnitude smaller than the input. The ungrouped variant
  * degenerates to a single merge task — safe precisely because the
  * candidate volume is tiny; a pathological fully-anti-correlated
  * corpus (skyline ≈ n) would need a partition-tree merge instead,
  * and the operator documents that contract rather than hiding it.
  */
object Skyline extends graft.QuerySet {
  /** (group, key, x, y) — dominance: lower x better, higher y better. */
  case class SkyRow(grp: String, key: Long, x: Double, y: Int)

  /** Streaming sweep over rows sorted by (grp, x asc, y desc, key).
    * Constant memory: two scalars of state per group, one pending
    * x-tie-group max. Emits exactly the undominated rows (duplicates
    * of an undominated (x, y) point all survive — equal points do not
    * dominate each other). */
  private[graft] def sweep(it: Iterator[SkyRow]): Iterator[SkyRow] =
    new Iterator[SkyRow] {
      private val buf = it.buffered
      private var grp: String = null
      private var maxYBefore = Int.MinValue // max y at strictly smaller x
      private var groupX = Double.NaN      // current x tie-group
      private var groupMaxY = Int.MinValue // its max y (first row, y desc)
      private var nextRow: SkyRow = _
      advance()
      private def advance(): Unit = {
        nextRow = null
        while (nextRow == null && buf.hasNext) {
          val r = buf.next()
          if (r.grp != grp) {
            grp = r.grp; maxYBefore = Int.MinValue
            groupX = r.x; groupMaxY = r.y
          } else if (r.x != groupX) {
            maxYBefore = math.max(maxYBefore, groupMaxY)
            groupX = r.x; groupMaxY = r.y
          }
          // sorted y desc inside the tie-group: r.y == groupMaxY only
          // for the leading undominated run of the group
          if (r.y == groupMaxY && r.y > maxYBefore) nextRow = r
        }
      }
      override def hasNext: Boolean = nextRow != null
      override def next(): SkyRow = {
        val r = nextRow; advance(); r
      }
    }

  private val enc = Encoders.product[SkyRow]

  /** Two-phase grouped skyline of (grpCol, keyCol, xCol minimized,
    * yCol maximized). Pass a constant grpCol for a global skyline. */
  def skyline(df: DataFrame, grpCol: String, keyCol: String,
              xCol: String, yCol: String): DataFrame = {
    val rows = df.select(
      col(grpCol).cast("string").as("grp"),
      col(keyCol).cast("long").as("key"),
      col(xCol).cast("double").as("x"),
      col(yCol).cast("int").as("y")).as[SkyRow](enc)
    def phase(ds: Dataset[SkyRow]): Dataset[SkyRow] =
      ds.sortWithinPartitions(col("grp"), col("x").asc, col("y").desc,
          col("key"))
        .mapPartitions(sweep _)(enc)
    val local = phase(rows)
    phase(local.repartition(col("grp"))).toDF()
  }

  val queries: Map[String, Q] = Map(
    // catalog-wide Pareto frontier: cheapest-vs-largest parts — no
    // part both cheaper and at-least-as-large (or as-cheap and
    // strictly larger) exists
    "sky_pareto" -> ((s, dir) =>
      skyline(Tables(s, dir, "part").withColumn("g", lit("all")),
        "g", "p_partkey", "p_retailprice", "p_size")
        .select(col("key").as("p_partkey"), col("x").as("p_retailprice"),
          col("y").as("p_size"))
        .orderBy("p_partkey")),

    // per-brand frontier — the grouped variant: the merge phase
    // shuffles candidates on the brand key, so it parallelizes over
    // groups instead of funneling into one task
    "sky_pareto_brand" -> ((s, dir) =>
      skyline(Tables(s, dir, "part"),
        "p_brand", "p_partkey", "p_retailprice", "p_size")
        .select(col("grp").as("p_brand"), col("key").as("p_partkey"),
          col("x").as("p_retailprice"), col("y").as("p_size"))
        .orderBy("p_brand", "p_partkey")))

  val oracles: Map[String, String] = Map(
    // ground truth by the dominance definition itself: brute-force
    // NOT EXISTS at oracle scale — a different algorithm entirely
    "sky_pareto" ->
      """SELECT p_partkey, p_retailprice, p_size FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_retailprice <= p.p_retailprice
        |    AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice
        |         OR q.p_size > p.p_size))
        |ORDER BY p_partkey""".stripMargin,

    "sky_pareto_brand" ->
      """SELECT p_brand, p_partkey, p_retailprice, p_size FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_brand = p.p_brand
        |    AND q.p_retailprice <= p.p_retailprice
        |    AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice
        |         OR q.p_size > p.p_size))
        |ORDER BY p_brand, p_partkey""".stripMargin)
}
