package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Sources and sinks (SURVEY.md §2.1): schema-inferred JSON ingest,
  * by-name case-insensitive column matching, directory (file-catalog)
  * scans over unstructured blobs, CTAS + overwrite table writes, and
  * table scans by qualified name.
  */
object Sources extends graft.QuerySet {
  /** Stable scratch dir per sf input (JSON round-trips, managed tables). */
  private def scratch(dir: String, tag: String): String =
    s"/tmp/graft_scratch/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/$tag"

  val queries: Map[String, Q] = Map(
    // S2+O3: JSON-lines batch source with schema inference capped at a
    // 1,000-record sample (reference 3C_load_txn_history.sql:4-18
    // `INFER_SCHEMA ... LIMIT 1000`). Events are first exported to
    // JSON-lines (timestamps as strings, as in the reference's feeds),
    // then re-ingested: infer on the sample, apply to the full read.
    "s2_json_sampled_infer" -> ((s, dir) => {
      val path = scratch(dir, "events_json")
      Tables.events(s, dir)
        .selectExpr("event_id", "user_id", "event_type", "value",
          "date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS ts_str", "props")
        .write.mode("overwrite").json(path)
      import s.implicits._
      val sample = s.read.json(s.read.text(path).limit(1000).as[String])
      s.read.schema(sample.schema).json(path)
        .select("event_id", "event_type", "value", "ts_str")
        .orderBy("event_id")
    }),

    // S3: by-name, case-insensitive column matching on load (reference
    // `MATCH_BY_COLUMN_NAME = CASE_INSENSITIVE`, 3A:16-19): two
    // projections with different column order and case union by name.
    "s3_union_by_name" -> ((s, dir) => {
      val n = Tables(s, dir, "nation")
      val upper = n.select(
        col("n_nationkey").as("N_NATIONKEY"),
        col("n_name").as("N_NAME"),
        col("n_regionkey").as("N_REGIONKEY"))
      val reordered = n.select("n_regionkey", "n_name", "n_nationkey")
      upper.unionByName(reordered)
        .groupBy(col("N_REGIONKEY").as("n_regionkey"))
        .agg(count(lit(1)).as("n"))
        .orderBy("n_regionkey")
    }),

    // S5: directory (file-catalog) scan over blobs — the reference's
    // `directory(@stage)` (3B2_load_pdf_to_text.sql:5) as Spark's
    // binaryFile source: path/length/content per file.
    "s5_binary_dir_scan" -> ((s, dir) =>
      s.read.format("binaryFile").load(s"$dir/*.parquet")
        .selectExpr("regexp_extract(path, '[^/]+$', 0) AS file_name",
          "length")
        .orderBy("file_name")),

    // CSV source/sink round-trip — the third classic lake file format
    // next to the reference's parquet and JSON (its named-file-format
    // idiom, 1_env_setup.sql:33-38, generalizes to any format config):
    // header write, schema-inferred read-back, aggregate. Integer-keyed
    // aggregates so the text round-trip is bit-exact.
    "s8_csv_ingest" -> ((s, dir) => {
      val path = scratch(dir, "customer_csv")
      Tables(s, dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_nationkey")
        .write.mode("overwrite").option("header", "true").csv(path)
      s.read.option("header", "true").option("inferSchema", "true")
        .csv(path)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum(col("c_custkey")).as("sum_key"))
        .orderBy("c_mktsegment")
    }),

    // ORC source/sink round-trip — the columnar lake format Spark ships
    // alongside parquet (same named-file-format idiom as s8_csv_ingest,
    // 1_env_setup.sql:33-38). ORC carries the schema, so the read-back
    // needs no inference; stripe-level min/max statistics give ORC the
    // same scan-pruning story parquet has at 100 TB. Aggregates are
    // count/integer-sum/min/max — order-independent, so the round-trip
    // compares bit-exact regardless of task scheduling.
    "s9_orc_ingest" -> ((s, dir) => {
      val path = scratch(dir, "orders_orc")
      Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_custkey")).as("sum_cust"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy("o_orderstatus")
    }),

    // Third non-parquet format: Spark 4's native XML source (rowTag
    // round trip). Same shape as the ORC/CSV ingests: export, re-ingest
    // with schema inference, aggregate — long sums and double min/max
    // only (Double.toString/parse round-trips exactly; a double SUM
    // would be accumulation-order-dependent across engines).
    "s11_xml_ingest" -> ((s, dir) => {
      val path = scratch(dir, "orders_xml")
      // spread the export (guide §2.5): the single-split parquet source
      // otherwise serializes the whole XML serialization into ONE write
      // task (measured 2.9 s of a 4.4 s query) and leaves ONE file for
      // the schema-inference read-back to re-parse serially; a
      // cluster-parallel export writes one file per task, which is what
      // any production XML dump looks like, and inference + re-ingest
      // then parallelize per file. Row multiset unchanged; every
      // aggregate below is order-independent.
      graft.Tables.spread(Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"))
        .write.mode("overwrite").option("rowTag", "order")
        .format("xml").save(path)
      s.read.option("rowTag", "order").format("xml").load(path)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_custkey")).as("sum_cust"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy("o_orderstatus")
    }),

    // Raw text-lines source — one document per line, the shape of
    // CommonCrawl-style WET dumps a corpus pipeline starts from. Write
    // the documents' bodies as plain text, re-ingest with the line
    // source, and compute order-independent corpus stats (line count,
    // char and word totals); the oracle computes the same stats from
    // the structured table, proving the round trip is lossless.
    // Embedded newlines would split one document into several lines, so
    // they are flattened to spaces BEFORE the write (1:1, so char counts
    // hold) and the oracle applies the same flatten — one-doc-one-line
    // is enforced by the query, not assumed of the generator.
    "s10_text_ingest" -> ((s, dir) => {
      val path = scratch(dir, "docs_text")
      Tables(s, dir, "documents")
        .select(regexp_replace(col("text"), "[\r\n]", " ").as("text"))
        .write.mode("overwrite").text(path)
      s.read.text(path)
        .agg(count(lit(1)).as("n_lines"),
          sum(length(col("value"))).as("sum_chars"),
          sum(size(split(col("value"), " "))).as("sum_words"))
    }),

    // S7+S8+S9: CTAS (3B2:1-7), overwrite table write
    // (02_customer_sp.sql:37), table scan by name (02:22). Managed table
    // in the session warehouse; DROP removes its files so the query is
    // rerunnable.
    "s7_ctas_table_scan" -> ((s, dir) => {
      graft.jobs.TableIO.dropWithLocation(s, "graft_nation_master")
      Tables.register(s, dir, "nation", "region")
      s.sql("""CREATE TABLE graft_nation_master USING parquet AS
              |SELECT n.n_nationkey, n.n_name, r.r_name AS region_name
              |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
              |""".stripMargin)
      // S8: overwrite with an independently-derived frame (same content)
      Tables(s, dir, "nation")
        .join(Tables(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"),
          col("r_name").as("region_name"))
        .write.mode("overwrite").saveAsTable("graft_nation_master")
      s.table("graft_nation_master").orderBy("n_nationkey")
    })
  )

  val oracles: Map[String, String] = Map(
    "s2_json_sampled_infer" ->
      """SELECT event_id, event_type, value,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
        |FROM events ORDER BY event_id""".stripMargin,

    "s3_union_by_name" ->
      """SELECT n_regionkey, CAST(2 * COUNT(*) AS BIGINT) AS n
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    // {SFDIR} is substituted by Verify with the sf dir it actually runs
    // against, so the oracle lists the same files the binaryFile source
    // scans at any scale factor.
    "s5_binary_dir_scan" ->
      """SELECT regexp_extract(filename, '[^/]+$') AS file_name,
        |  size AS length
        |FROM read_blob('{SFDIR}/*.parquet')
        |ORDER BY file_name""".stripMargin,

    "s7_ctas_table_scan" ->
      """SELECT n.n_nationkey, n.n_name, r.r_name AS region_name
        |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        |ORDER BY n.n_nationkey""".stripMargin,

    "s8_csv_ingest" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(SUM(c_custkey) AS BIGINT) AS sum_key
        |FROM customer GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "s9_orc_ingest" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
        |  MIN(o_totalprice) AS min_price,
        |  MAX(o_totalprice) AS max_price
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "s11_xml_ingest" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
        |  MIN(o_totalprice) AS min_price,
        |  MAX(o_totalprice) AS max_price
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "s10_text_ingest" ->
      """WITH flat AS (
        |  SELECT regexp_replace(text, '[\r\n]', ' ', 'g') AS text
        |  FROM documents)
        |SELECT count(*) AS n_lines,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
        |  CAST(SUM(length(string_split(text, ' '))) AS BIGINT) AS sum_words
        |FROM flat""".stripMargin
  )
}
