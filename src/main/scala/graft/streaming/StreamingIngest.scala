package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming ingest mirroring the reference's Kafka →
  * Snowpipe-Streaming pipeline (SURVEY.md §2.9 T1–T4): continuously
  * appended JSON records parsed without a schema registry and flushed to
  * a table on a time trigger. No Kafka connector ships in this
  * environment, so the source is a file stream of JSON lines — the
  * downstream plan (raw string value → from_json → typed append) is
  * identical to the Kafka `CAST(value AS STRING)` path.
  */
object StreamingIngest {

  /** Event-stream record schema (explicit, as in the reference's
    * schema-less sink: schemas.enable=false → parse with a declared
    * StructType, reference snowflake_sink_connector.json:6-7,21). */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("ts_str", StringType),
    StructField("props", StringType)))

  /** T3: raw string value → typed columns. Shared by the streaming job
    * and its oracle-checked batch twin. */
  def parse(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), schema).as("r"))
      .select("r.*")
      .withColumn("ts",
        to_timestamp(col("ts_str"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))

  /** T1+T2+T4: file-source stream → parse → append parquet sink with
    * checkpointed exactly-once semantics. `availableNow=true` drains all
    * pending input then stops (deterministic tests); the default mirrors
    * the reference's 10-second flush. */
  def start(spark: SparkSession, srcDir: String, outDir: String,
            checkpointDir: String,
            availableNow: Boolean = false,
            maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val trigger =
      if (availableNow) Trigger.AvailableNow()
      else Trigger.ProcessingTime("10 seconds")
    // maxFilesPerTrigger bounds each micro-batch (the flush-size knob
    // the reference sets via buffer.count.records); with AvailableNow it
    // also yields deterministic multi-batch replays in tests
    val reader = spark.readStream
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    parse(reader.text(srcDir))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .start()
  }

  /** The reference's ACTUAL source — Kafka
    * (snowflake_sink_connector.json:8 `topics`, :16-18 buffer/flush;
    * streaming_kafka_datagen.py:93-108 producer): subscribe, cast the
    * record value to string, then the SAME parse → checkpointed append
    * path the file stream uses. The `spark-sql-kafka-0-10` connector
    * jar does not ship in this zero-egress environment, so calling this
    * here fails at source resolution ("Failed to find data source:
    * kafka" — StreamingSpec pins that behavior); on a cluster with the
    * package on the classpath it runs as-is. This IS the swap point the
    * file-source stand-in documents. */
  def startKafka(spark: SparkSession, bootstrapServers: String,
                 topic: String, outDir: String,
                 checkpointDir: String): StreamingQuery =
    parse(spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
        .selectExpr("CAST(value AS STRING) AS value"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("10 seconds"))
      .start()

  /** Streaming upsert sink: each micro-batch MERGEs into a managed
    * table via foreachBatch + [[graft.jobs.Upsert.merge]] — latest
    * version per key wins, so replayed or corrected records update in
    * place instead of appending duplicates (the CDC-flavored sink the
    * plain append path can't express). */
  def startUpsert(spark: SparkSession, srcDir: String, table: String,
                  checkpointDir: String, keys: Seq[String]): StreamingQuery =
    parse(spark.readStream.text(srcDir))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val merged =
          if (spark.catalog.tableExists(table))
            graft.jobs.Upsert.merge(spark.table(table),
              batch.dropDuplicates(keys), keys)
          else batch.dropDuplicates(keys)
        // stage to a scratch path first: Spark refuses to overwrite a
        // table that feeds the plan, and collect()-ing to the driver
        // is exactly what a 100 TB merge must not do. The stage is a
        // full table copy, so it goes once the table has landed.
        val stage = new org.apache.hadoop.fs.Path(
          s"/tmp/graft_scratch/upsert_stage/$table/$batchId")
        merged.write.mode("overwrite").parquet(stage.toString)
        graft.jobs.TableIO.overwrite(spark,
          spark.read.parquet(stage.toString), table)
        stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(stage, true)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming exactly-once-by-key dedup: drop replayed records by
    * event_id across micro-batches, with the watermark bounding how
    * long per-key state is retained (the at-least-once-producer →
    * exactly-once-table pattern; state for keys older than the
    * watermark is reclaimed, which is what makes the operator viable
    * on an unbounded 100 TB stream). */
  def startDedup(spark: SparkSession, srcDir: String, outDir: String,
                 checkpointDir: String): StreamingQuery =
    parse(spark.readStream.text(srcDir))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()

  /** Stream-stream interval join — click→purchase attribution: each
    * click pairs with the same user's purchases landing within
    * [click, click + 30 min]. Both sides carry watermarks and the join
    * condition bounds event time in BOTH directions, so Spark can
    * reclaim join state as the watermark advances — the property that
    * keeps an unbounded two-stream join viable at 100 TB (state holds
    * ~40 min of events per side, not the full history). The same
    * function serves the oracle-checked batch twin: `withWatermark` is
    * defined as a no-op in batch queries, so twin and stream share one
    * plan definition. */
  def attribution(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"),
        col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val p = purchases.select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "10 minutes")
    c.join(p, col("user_id") === col("p_user")
        && col("purchase_ts") >= col("click_ts")
        && col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** Event-time windowed aggregation with watermark (the Structured
    * Streaming extension beyond the reference's append-only surface):
    * 5-minute tumbling windows per event_type, 10-minute late-data
    * watermark. */
  def windowedCounts(parsed: DataFrame): DataFrame =
    parsed
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(38, 2))).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("event_type"), col("n"), col("sum_value"))
}
