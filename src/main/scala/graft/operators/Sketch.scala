package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{CardSketch, FreqSketch, QuantileSketch}

/** Sketch-based approximate aggregation (SURVEY.md §2.12 notes the
  * reference has no approx-distinct): the custom [[CardSketch]]
  * TypedImperativeAggregate over order customers, grouped by status.
  * The oracle recomputes the register table in pure SQL (md5 prefix →
  * 60-bit integer → bucket/rank via generated CASE chain) — integer-
  * exact, no estimate drift in the comparison.
  */
object Sketch extends graft.QuerySet {
  val queries: Map[String, Q] = Map(
    // SpaceSaving heavy hitters over the corpus token stream. Capacity
    // 64 exceeds the testdata vocabulary, so the summary is EXACT
    // (err = 0 for every entry) and pairs against plain GROUP BY
    // counts; SketchSpec exercises the approximate regime. The single
    // global summary is fine at any scale: partial aggregation runs
    // map-side and only capacity-entry summaries cross the wire.
    "fs_heavy_hitters" -> ((s, dir) => {
      FreqSketch.register(s)
      Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .agg(expr("freq_sketch(word, 64)").as("summary"))
        .select(explode(expr(
          "transform(split(summary, ';'), x -> struct(" +
            "split(x, ':')[0] AS word," +
            "cast(split(x, ':')[1] AS bigint) AS cnt))")).as("e"))
        .select(col("e.word"), col("e.cnt"))
        .orderBy(col("cnt").desc, col("word"))
    }),

    "cs_card_sketch" -> ((s, dir) => {
      CardSketch.register(s)
      Tables(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          expr("card_sketch(cast(o_custkey as string))").as("registers"),
          count(lit(1)).as("n_rows"))
        .orderBy("o_orderstatus")
    }),

    // Log-histogram quantile sketch (QuantileSketch aggregate) over
    // order totals in cents, with within-2x p50/p90 LOWER BOUNDS derived
    // from the 64-bucket table in pure integer arithmetic — the
    // fixed-state alternative to exact `percentile`'s per-group sort.
    // The rank rule is ceil(q*n) via integer division, so sketch,
    // bounds, and oracle are all bit-exact.
    "qs_quantile_sketch" -> ((s, dir) => {
      QuantileSketch.register(s)
      val sk = Tables(s, dir, "orders")
        .select(col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy("o_orderstatus")
        .agg(expr("quantile_sketch(cents)").as("sketch"),
          count(lit(1)).as("n"))
      val cum = sk
        .select(col("o_orderstatus"), col("n"), col("sketch"),
          posexplode(split(col("sketch"), ",")).as(Seq("b", "c")))
        .withColumn("cum", sum(col("c").cast("long")).over(
          Window.partitionBy("o_orderstatus").orderBy("b")))
      cum.groupBy("o_orderstatus", "n", "sketch")
        .agg(
          min(when(col("cum") >= expr("(n + 1) div 2"), col("b"))).as("b50"),
          min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("b")))
            .as("b90"))
        .select(col("o_orderstatus"), col("n"), col("sketch"),
          expr("shiftleft(cast(1 as bigint), b50)").as("p50_lo"),
          expr("shiftleft(cast(1 as bigint), b90)").as("p90_lo"))
        .orderBy("o_orderstatus")
    }),

    // Sketch mergeability made visible — the algebraic property that
    // lets 100 TB distinct-counts roll up without re-touching data:
    // per-group HLL register tables merge by ELEMENTWISE MAX into
    // exactly the sketch a direct pass over the union would build.
    // The query materializes both sides — per-status sketches merged
    // register-by-register, and the direct global sketch — and emits
    // them with an equality flag; the oracle replays both paths, so
    // the gate proves merge ≡ direct in BOTH engines. This is why
    // daily sketch partitions answer monthly distinct questions for
    // the cost of a 64-byte max, the entire point of sketch columns
    // in a lake.
    "cs_sketch_merge" -> ((s, dir) => {
      CardSketch.register(s)
      val perStatus = Tables(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(expr("card_sketch(cast(o_custkey as string))").as("regs"))
      val merged = perStatus
        .select(posexplode(split(col("regs"), ",")).as(Seq("b", "r")))
        .groupBy("b").agg(max(col("r").cast("int")).as("m"))
        .agg(expr(
          "array_join(transform(array_sort(collect_list(struct(b, m)))," +
            " s -> s.m), ',')").as("merged_registers"))
      val direct = Tables(s, dir, "orders")
        .agg(expr("card_sketch(cast(o_custkey as string))")
          .as("direct_registers"))
      merged.crossJoin(direct)
        .withColumn("is_equal",
          (col("merged_registers") === col("direct_registers")).cast("int"))
    }),

    // Count-Min sketch point queries — the fixed-memory frequency
    // summary that answers "how often does key k appear" from D·W
    // counters instead of a key-cardinality table (Cormode &
    // Muthukrishnan 2005). D=4 hash rows × W=256 counters; the counter
    // table builds in ONE groupBy with map-side combine (4 rows per
    // input row cross the wire, no key-space state), and a point
    // estimate is min over the key's D counters — an upper bound on
    // the true count by construction, never an undercount. The D hash
    // rows split ONE md5 digest into disjoint 2-hex-digit windows
    // (8 independent bits each), engine-portable verbatim, so the
    // DuckDB oracle rebuilds the IDENTICAL sketch and the gate
    // hash-matches estimates, not just bounds. The
    // probe set is the 10 most frequent part keys (deterministic
    // tiebreak); their exact counts ride along so the spec can assert
    // the CMS guarantee est ≥ truth with error ≤ 2n/W at 1−(1/2)^D
    // confidence. At 100 TB the sketch is 8 KiB per executor before
    // the exchange — frequency summaries at any scale for the price of
    // a broadcast.
    "cs_countmin_probe" -> ((s, dir) => {
      val D = 4
      val W = 256
      val rows = Tables(s, dir, "lineitem")
        .select(col("l_partkey").as("key"))
      // ONE md5 per key; hash row d reads its own disjoint 2-hex-digit
      // window (8 independent bits each — exactly log2(W)), the
      // split-the-digest trick that replaces D hash evaluations with
      // one. The window expression is engine-portable verbatim.
      def idxExpr(d: Int): String =
        s"(instr('0123456789abcdef', substr(h, ${2 * d + 1}, 1)) - 1) " +
          s"* 16 + instr('0123456789abcdef', substr(h, ${2 * d + 2}, 1)) - 1"
      def hashed(df: DataFrame): DataFrame = df
        .withColumn("h", md5(col("key").cast("string")))
        .select(col("key"), posexplode(array((0 until D).map(d =>
          expr(idxExpr(d)).cast("int")): _*)).as(Seq("d", "idx")))
      val counters = hashed(rows).groupBy("d", "idx")
        .agg(count(lit(1)).as("c"))
      val heavy = rows.groupBy("key").agg(count(lit(1)).as("n_true"))
        .orderBy(col("n_true").desc, col("key")).limit(10)
      hashed(heavy).join(heavy, "key")
        .join(counters, Seq("d", "idx"))
        .groupBy("key")
        .agg(max("n_true").as("n_true"), min("c").as("est"))
        .orderBy(col("n_true").desc, col("key"))
    }),

    // KMV (k-minimum-values) set-operation sketch — the theta-sketch
    // primitive (Beyer et al. SIGMOD'07; Dasgupta et al.'s theta
    // framework): keep the K smallest hash values of each set; the
    // union sketch is the K smallest of the merged sketches with
    // threshold τ = its max, est|A∪B| = (K−1)·M/τ, and the
    // INTERSECTION estimate — the thing inclusion-exclusion on two
    // HLLs does badly — is est|A∩B| = ρ·est|A∪B| where ρ = fraction
    // of the union sketch present in BOTH input sketches. Hashes are
    // the first 10 hex digits of one md5 (40 bits, M = 2^40), so all
    // arithmetic stays integer-exact in BIGINT ((K−1)·M ≈ 6.9e13) and
    // the DuckDB oracle replays the identical estimator digit-for-
    // digit. The exact intersection rides along so SketchSpec can
    // assert the estimate's relative-error bound. Scale shape: each
    // side's sketch is a distinct + per-partition top-K (TakeOrdered —
    // partial limits before the single final merge); only 3×K ≤ 192
    // hash values ever meet the driver plan, never the key space.
    "cs_kmv_intersect" -> ((s, dir) => {
      val K = 64
      val M = 1L << 40
      def sk(st: String): DataFrame = Tables(s, dir, "orders")
        .filter(col("o_orderstatus") === st)
        .select(col("o_custkey")).distinct()
        .select(expr(
          "cast(conv(substr(md5(cast(o_custkey as string)), 1, 10)," +
            " 16, 10) as bigint)").as("h"))
        .orderBy("h").limit(K)
      val ska = sk("O")
      val skb = sk("F")
      val un = ska.unionAll(skb).distinct().orderBy("h").limit(K)
      val tau = un.agg(max("h").as("tau"), count(lit(1)).as("k_eff"))
      val common = un.join(ska, "h").join(skb, "h")
        .agg(count(lit(1)).as("common_k"))
      val keysOf = (st: String) => Tables(s, dir, "orders")
        .filter(col("o_orderstatus") === st)
        .select("o_custkey").distinct()
      val exact = keysOf("O").join(keysOf("F"), "o_custkey")
        .agg(count(lit(1)).as("exact_intersect"))
      tau.crossJoin(common).crossJoin(exact)
        .select(lit(K.toLong).as("k"), col("k_eff"), col("tau"),
          expr(s"(${K - 1} * cast($M as bigint)) div tau").as("est_union"),
          col("common_k"),
          expr(s"(common_k * ((${K - 1} * cast($M as bigint)) div tau))" +
            s" div $K").as("est_intersect"),
          col("exact_intersect"))
    })
  )

  // h60 = value of the first 15 hex digits of md5(custkey-as-string)
  private def digitSum: String = (0 until 15).map { i =>
    val p = math.pow(16, 14 - i).toLong
    s"CAST((strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1) " +
      s"AS BIGINT) * $p"
  }.mkString("\n      + ")

  // rho = leading zeros of the 54-bit tail + 1, via descending CASE
  private def rhoCase: String = (53 to 0 by -1).map { k =>
    s"WHEN tail >= ${1L << k} THEN ${54 - k}"
  }.mkString("\n        ")

  // h40 = value of the first 10 hex digits of md5 (column alias hx)
  private def digitSum10: String = (0 until 10).map { i =>
    val p = math.pow(16, 9 - i).toLong
    s"CAST((strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1) " +
      s"AS BIGINT) * $p"
  }.mkString("\n      + ")

  private val oracleSql: String = {
    s"""WITH hx AS (
       |  SELECT o_orderstatus,
       |         md5(CAST(o_custkey AS VARCHAR)) AS hx FROM orders),
       |h60 AS (
       |  SELECT o_orderstatus,
       |    ($digitSum) AS h60
       |  FROM hx),
       |bt AS (
       |  SELECT o_orderstatus, h60 // ${1L << 54} AS b,
       |         h60 % ${1L << 54} AS tail
       |  FROM h60),
       |rho AS (
       |  SELECT o_orderstatus, b,
       |    CASE $rhoCase
       |         ELSE 55 END AS rho
       |  FROM bt),
       |regs AS (
       |  SELECT o_orderstatus, b, max(rho) AS r
       |  FROM rho GROUP BY o_orderstatus, b),
       |statuses AS (SELECT DISTINCT o_orderstatus FROM orders),
       |grid AS (
       |  SELECT s.o_orderstatus, g.range AS b
       |  FROM statuses s, range(0, 64) g),
       |full_regs AS (
       |  SELECT grid.o_orderstatus, grid.b, coalesce(regs.r, 0) AS r
       |  FROM grid LEFT JOIN regs
       |    ON grid.o_orderstatus = regs.o_orderstatus AND grid.b = regs.b),
       |cnt AS (SELECT o_orderstatus, count(*) AS n_rows
       |        FROM orders GROUP BY o_orderstatus)
       |SELECT f.o_orderstatus,
       |       string_agg(f.r, ',' ORDER BY f.b) AS registers,
       |       any_value(cnt.n_rows) AS n_rows
       |FROM full_regs f JOIN cnt ON f.o_orderstatus = cnt.o_orderstatus
       |GROUP BY f.o_orderstatus ORDER BY f.o_orderstatus""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "cs_card_sketch" -> oracleSql,
    // replays the identical KMV estimator: same 40-bit md5-prefix hash,
    // same K smallest, same integer division order
    "cs_kmv_intersect" ->
      s"""WITH ha AS (
         |  SELECT md5(CAST(o_custkey AS VARCHAR)) AS hx
         |  FROM (SELECT DISTINCT o_custkey FROM orders
         |        WHERE o_orderstatus = 'O')),
         |hb AS (
         |  SELECT md5(CAST(o_custkey AS VARCHAR)) AS hx
         |  FROM (SELECT DISTINCT o_custkey FROM orders
         |        WHERE o_orderstatus = 'F')),
         |ska AS (SELECT ($digitSum10) AS h FROM ha ORDER BY h LIMIT 64),
         |skb AS (SELECT ($digitSum10) AS h FROM hb ORDER BY h LIMIT 64),
         |un AS (SELECT h FROM (SELECT h FROM ska UNION
         |                      SELECT h FROM skb) u
         |       ORDER BY h LIMIT 64),
         |t AS (SELECT max(h) AS tau, count(*) AS k_eff FROM un),
         |c AS (SELECT count(*) AS common_k
         |      FROM un JOIN ska USING (h) JOIN skb USING (h)),
         |x AS (SELECT count(*) AS exact_intersect FROM (
         |        SELECT DISTINCT o_custkey FROM orders
         |        WHERE o_orderstatus = 'O'
         |        INTERSECT
         |        SELECT DISTINCT o_custkey FROM orders
         |        WHERE o_orderstatus = 'F') i)
         |SELECT CAST(64 AS BIGINT) AS k, k_eff, tau,
         |  (63 * ${1L << 40}) // tau AS est_union, common_k,
         |  (common_k * ((63 * ${1L << 40}) // tau)) // 64
         |    AS est_intersect,
         |  exact_intersect
         |FROM t, c, x""".stripMargin,
    // replays BOTH paths: per-status registers merged by max, and the
    // direct single-group sketch over all orders
    "cs_sketch_merge" ->
      s"""WITH hx AS (
         |  SELECT o_orderstatus,
         |         md5(CAST(o_custkey AS VARCHAR)) AS hx FROM orders),
         |h60 AS (
         |  SELECT o_orderstatus, ($digitSum) AS h60 FROM hx),
         |bt AS (
         |  SELECT o_orderstatus, h60 // ${1L << 54} AS b,
         |         h60 % ${1L << 54} AS tail FROM h60),
         |rho AS (
         |  SELECT o_orderstatus, b,
         |    CASE $rhoCase ELSE 55 END AS rho FROM bt),
         |grid AS (SELECT g.range AS b FROM range(0, 64) g),
         |per_status AS (
         |  SELECT o_orderstatus, b, max(rho) AS r
         |  FROM rho GROUP BY o_orderstatus, b),
         |merged AS (
         |  SELECT grid.b, coalesce(max(p.r), 0) AS m
         |  FROM grid LEFT JOIN per_status p ON grid.b = p.b
         |  GROUP BY grid.b),
         |direct AS (
         |  SELECT grid.b, coalesce(max(rho.rho), 0) AS m
         |  FROM grid LEFT JOIN rho ON grid.b = rho.b
         |  GROUP BY grid.b),
         |ms AS (SELECT string_agg(m, ',' ORDER BY b) AS merged_registers
         |       FROM merged),
         |ds AS (SELECT string_agg(m, ',' ORDER BY b) AS direct_registers
         |       FROM direct)
         |SELECT ms.merged_registers, ds.direct_registers,
         |  CAST(CASE WHEN ms.merged_registers = ds.direct_registers
         |       THEN 1 ELSE 0 END AS INTEGER) AS is_equal
         |FROM ms, ds""".stripMargin,
    // rebuilds the identical D×W counter table (same split-digest md5
    // windows) and replays min-over-rows, so estimates hash-match
    "cs_countmin_probe" ->
      s"""WITH t AS (SELECT l_partkey AS key FROM lineitem),
         |e AS (SELECT key, md5(CAST(key AS VARCHAR)) AS h FROM t),
         |ei AS (
         |  SELECT key, CAST(r.d AS INTEGER) AS d,
         |    CAST((instr('0123456789abcdef',
         |            substr(h, 2 * r.d + 1, 1)) - 1) * 16
         |      + instr('0123456789abcdef',
         |            substr(h, 2 * r.d + 2, 1)) - 1 AS INTEGER) AS idx
         |  FROM e, range(0, 4) r(d)),
         |counters AS (
         |  SELECT d, idx, count(*) AS c FROM ei GROUP BY d, idx),
         |heavy AS (
         |  SELECT key, count(*) AS n_true FROM t GROUP BY key
         |  ORDER BY n_true DESC, key LIMIT 10),
         |probe AS (
         |  SELECT DISTINCT i.key, hv.n_true, i.d, i.idx
         |  FROM heavy hv JOIN ei i ON i.key = hv.key)
         |SELECT p.key, any_value(p.n_true) AS n_true,
         |  CAST(min(c.c) AS BIGINT) AS est
         |FROM probe p
         |JOIN counters c ON p.d = c.d AND p.idx = c.idx
         |GROUP BY p.key
         |ORDER BY n_true DESC, p.key""".stripMargin,
    "qs_quantile_sketch" ->
      """WITH c0 AS (
        |  SELECT o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |bk AS (
        |  SELECT o_orderstatus,
        |    least(length(format('{:b}', cents)) - 1, 63) AS b
        |  FROM c0),
        |cnts AS (SELECT o_orderstatus, b, count(*) AS c
        |         FROM bk GROUP BY 1, 2),
        |statuses AS (SELECT o_orderstatus, count(*) AS n
        |             FROM orders GROUP BY 1),
        |grid AS (SELECT s.o_orderstatus, s.n, g.range AS b
        |         FROM statuses s, range(0, 64) g),
        |filled AS (
        |  SELECT grid.o_orderstatus, grid.n, grid.b,
        |    coalesce(cnts.c, 0) AS c
        |  FROM grid LEFT JOIN cnts
        |    ON grid.o_orderstatus = cnts.o_orderstatus AND grid.b = cnts.b),
        |cum AS (
        |  SELECT *, SUM(c) OVER (PARTITION BY o_orderstatus ORDER BY b)
        |    AS cum
        |  FROM filled),
        |agg AS (
        |  SELECT o_orderstatus, any_value(n) AS n,
        |    string_agg(c, ',' ORDER BY b) AS sketch,
        |    min(CASE WHEN cum >= (n + 1) // 2 THEN b END) AS b50,
        |    min(CASE WHEN cum >= (9 * n + 9) // 10 THEN b END) AS b90
        |  FROM cum GROUP BY o_orderstatus)
        |SELECT o_orderstatus, n, sketch,
        |  CAST(1 << b50 AS BIGINT) AS p50_lo,
        |  CAST(1 << b90 AS BIGINT) AS p90_lo
        |FROM agg ORDER BY o_orderstatus""".stripMargin,
    "fs_heavy_hitters" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word
        |      FROM documents) t
        |GROUP BY word ORDER BY cnt DESC, word""".stripMargin)
}
