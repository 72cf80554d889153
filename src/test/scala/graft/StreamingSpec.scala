package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import graft.streaming.StreamingIngest

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def writeChunk(dir: Path, name: String, ids: Range): Unit = {
    val lines = ids.map { i =>
      s"""{"event_id":$i,"user_id":${i % 7},"event_type":"click",""" +
        s""""value":${i % 100}.5,"ts_str":"2024-01-01 00:${f"${i % 60}%02d"}:00.000000",""" +
        s""""props":"{\\"k\\": $i}"}"""
    }
    Files.write(dir.resolve(name),
      lines.mkString("\n").getBytes("UTF-8"))
  }

  test("streaming dedup drops replayed records across micro-batches") {
    val base = Files.createTempDirectory("graft_dedup_stream")
    val src = Files.createDirectory(base.resolve("src"))
    val out = base.resolve("out").toString
    val cp = base.resolve("cp").toString
    // constant event time: every record sits inside the watermark, so
    // a dropped replay is dropped by the DEDUP STATE, not as late data
    def writeChunk(dir: java.nio.file.Path, name: String,
                   ids: Range): Unit = {
      val lines = ids.map { i =>
        s"""{"event_id":$i,"user_id":${i % 7},"event_type":"click",""" +
          s""""value":1.0,"ts_str":"2024-01-01 00:00:00.000000",""" +
          s""""props":"{}"}"""
      }
      Files.write(dir.resolve(name), lines.mkString("\n").getBytes("UTF-8"))
    }
    // batch 1: ids 0-499; batch 2 replays 200-499 and adds 500-599
    writeChunk(src, "b1.json", 0 until 500)
    val q1 = StreamingIngest.startDedup(spark, src.toString, out, cp)
    q1.awaitTermination()
    assert(spark.read.parquet(out).count() === 500)
    writeChunk(src, "b2.json", 200 until 600)
    val q2 = StreamingIngest.startDedup(spark, src.toString, out, cp)
    q2.awaitTermination()
    val df = spark.read.parquet(out)
    assert(df.count() === 600, "replayed ids must be dropped")
    assert(df.select("event_id").distinct().count() === 600)
  }

  test("kafka wiring resolves the source (jar absent in this env)") {
    // The production path is wired; this environment ships no
    // spark-sql-kafka jar, so resolution must fail BY NAME — proving
    // the format lookup reaches Spark's DataSource registry rather
    // than dying earlier in our code.
    val base = Files.createTempDirectory("graft_kafka")
    val e = intercept[Exception] {
      StreamingIngest.startKafka(spark, "localhost:9092", "events",
        base.resolve("out").toString, base.resolve("cp").toString)
    }
    assert(e.getMessage.toLowerCase.contains("kafka"), e.getMessage)
  }

  test("replays the reference's cadence across >= 3 micro-batches") {
    // The reference's datagen emits ~100 msg/s against a 10 s flush
    // trigger (streaming_kafka_datagen.py:45-48,
    // snowflake_sink_connector.json:16-18) — ~1000 records per
    // micro-batch. Three such batches are replayed deterministically:
    // one file per trigger via maxFilesPerTrigger=1.
    val base = Files.createTempDirectory("graft_cadence")
    val src = Files.createDirectory(base.resolve("src"))
    val out = base.resolve("out").toString
    val cp = base.resolve("cp").toString
    writeChunk(src, "t0.json", 0 until 1000)
    writeChunk(src, "t1.json", 1000 until 2000)
    writeChunk(src, "t2.json", 2000 until 3000)

    val q = StreamingIngest.start(spark, src.toString, out, cp,
      availableNow = true, maxFilesPerTrigger = Some(1))
    q.awaitTermination()

    // per-batch progress: three non-empty micro-batches of 1000 each
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length === 3,
      s"expected 3 micro-batches, saw ${batches.length}")
    assert(batches.forall(_.numInputRows === 1000),
      s"per-batch rows: ${batches.map(_.numInputRows).mkString(",")}")
    // batch ids strictly advance (checkpointed offsets)
    val ids = batches.map(_.batchId)
    assert(ids.sorted.toSeq === ids.toSeq && ids.distinct.length === 3)
    assert(spark.read.parquet(out).count() === 3000)

    // a fourth trigger's worth of input continues from the checkpoint
    writeChunk(src, "t3.json", 3000 until 4000)
    val q2 = StreamingIngest.start(spark, src.toString, out, cp,
      availableNow = true, maxFilesPerTrigger = Some(1))
    q2.awaitTermination()
    val b2 = q2.recentProgress.filter(_.numInputRows > 0)
    assert(b2.length === 1 && b2.head.numInputRows === 1000)
    assert(b2.head.batchId > ids.max, "batch ids must continue, not reset")
    val all = spark.read.parquet(out)
    assert(all.count() === 4000)
    assert(all.select("event_id").distinct().count() === 4000)
  }

  test("stream drains, checkpoints, and is exactly-once across restarts") {
    val base = Files.createTempDirectory("graft_stream")
    val src = Files.createDirectory(base.resolve("src"))
    val out = base.resolve("out").toString
    val cp = base.resolve("cp").toString

    writeChunk(src, "chunk1.json", 0 until 500)
    val q1 = StreamingIngest.start(spark, src.toString, out, cp,
      availableNow = true)
    q1.awaitTermination()
    assert(spark.read.parquet(out).count() === 500)

    // restart with new data: only the delta is processed (checkpoint)
    writeChunk(src, "chunk2.json", 500 until 800)
    val q2 = StreamingIngest.start(spark, src.toString, out, cp,
      availableNow = true)
    q2.awaitTermination()
    val df = spark.read.parquet(out)
    assert(df.count() === 800)
    assert(df.select("event_id").distinct().count() === 800) // no dups

    // restart with NO new data: nothing is reprocessed
    val q3 = StreamingIngest.start(spark, src.toString, out, cp,
      availableNow = true)
    q3.awaitTermination()
    assert(spark.read.parquet(out).count() === 800)

    // parsed types survived the json round-trip
    val r = spark.read.parquet(out).filter(col("event_id") === 42)
      .collect().head
    assert(r.getAs[String]("event_type") === "click")
    assert(r.getAs[Double]("value") === 42.5)
    assert(r.getAs[java.sql.Timestamp]("ts") != null)
  }

  test("malformed JSON lines yield null rows, not a dead stream") {
    val base = Files.createTempDirectory("graft_stream_bad")
    val src = Files.createDirectory(base.resolve("src"))
    writeChunk(src, "good.json", 0 until 10)
    Files.write(src.resolve("bad.json"),
      "not json at all\n{\"event_id\": 99}".getBytes("UTF-8"))
    val q = StreamingIngest.start(spark, src.toString,
      base.resolve("out").toString, base.resolve("cp").toString,
      availableNow = true)
    q.awaitTermination()
    val df = spark.read.parquet(base.resolve("out").toString)
    assert(df.count() === 12) // 10 good + garbage row + partial row
    assert(df.filter(col("event_id").isNull).count() === 1) // garbage
    assert(df.filter(col("event_id") === 99)
      .filter(col("event_type").isNull).count() === 1) // partial
  }

  test("foreachBatch upsert sink: replayed keys update, not duplicate") {
    val base = Files.createTempDirectory("graft_stream_upsert")
    val src = Files.createDirectory(base.resolve("src"))
    val cp = base.resolve("cp").toString
    val table = "graft_stream_upsert_target"
    val stage = new java.io.File(s"/tmp/graft_scratch/upsert_stage/$table")
    org.apache.commons.io.FileUtils.deleteDirectory(stage) // earlier runs

    writeChunk(src, "b1.json", 0 until 100)
    val q1 = StreamingIngest.startUpsert(spark, src.toString, table, cp,
      Seq("event_id"))
    q1.awaitTermination()
    assert(spark.table(table).count() === 100)

    // overlap 50-150: 50 replayed keys (updates) + 50 new (inserts)
    writeChunk(src, "b2.json", 50 until 150)
    val q2 = StreamingIngest.startUpsert(spark, src.toString, table, cp,
      Seq("event_id"))
    q2.awaitTermination()
    val t = spark.table(table)
    assert(t.count() === 150) // no duplicates
    assert(t.select("event_id").distinct().count() === 150)
    // each batch's staged table copy is deleted once the table landed,
    // and the table reads the same without it
    assert(Option(stage.list()).forall(_.isEmpty),
      s"stage dirs left behind: ${Option(stage.list()).map(_.toSeq)}")
    assert(spark.table(table).select("event_id").distinct().count() === 150)
  }

  test("windowed watermark aggregation: streaming result matches batch") {
    val base = Files.createTempDirectory("graft_stream_w")
    val src = Files.createDirectory(base.resolve("src"))
    writeChunk(src, "all.json", 0 until 300)

    val parsedStream = StreamingIngest.parse(
      spark.readStream.text(src.toString))
    val q = StreamingIngest.windowedCounts(parsedStream)
      .writeStream.format("memory").queryName("win_out")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.table("win_out")
      .orderBy("wstart", "event_type").collect()
    val batch = StreamingIngest.windowedCounts(
      StreamingIngest.parse(spark.read.text(src.toString)))
      .orderBy("wstart", "event_type").collect()
    assert(streamed.map(_.toString).toSeq === batch.map(_.toString).toSeq)
    assert(streamed.nonEmpty)
  }

  test("custom sketch aggregate runs under streaming semantics, equals batch") {
    // the TypedImperativeAggregate path (CardSketch) inside a streaming
    // groupBy in complete mode: registers after the stream drains must
    // equal the batch build — sketches are the natural streaming
    // aggregate (fixed state per group), so the engine contract here is
    // that the SAME custom aggregate object serves both planes
    graft.functions.CardSketch.register(spark)
    val base = Files.createTempDirectory("graft_stream_sk")
    val src = Files.createDirectory(base.resolve("src"))
    writeChunk(src, "a.json", 0 until 200)
    writeChunk(src, "b.json", 200 until 300)
    val parsed = StreamingIngest.parse(spark.readStream.text(src.toString))
    val q = parsed
      .groupBy("event_type")
      .agg(expr("card_sketch(cast(user_id as string))").as("regs"))
      .writeStream.format("memory").queryName("sk_out")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("sk_out").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val batch = StreamingIngest.parse(spark.read.text(src.toString))
      .groupBy("event_type")
      .agg(expr("card_sketch(cast(user_id as string))").as("regs"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("count-min counters build identically under streaming and batch") {
    // the CMS counter grid is a pure groupBy count over hashed rows —
    // the canonical streaming-aggregation shape. Build it from a
    // file-replayed stream in complete mode and from the same data in
    // batch: the 4x256 grids must be identical, which is what lets a
    // stream maintain the sketch a batch consumer later merges/probes.
    val base = Files.createTempDirectory("graft_stream_cms")
    val src = Files.createDirectory(base.resolve("src"))
    writeChunk(src, "a.json", 0 until 250)
    writeChunk(src, "b.json", 250 until 400)
    def grid(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("h", md5(col("user_id").cast("string")))
      .select(col("user_id"), posexplode(array((0 until 4).map(d => expr(
        s"cast((instr('0123456789abcdef', substr(h, ${2 * d + 1}, 1)) - 1)" +
          s" * 16 + instr('0123456789abcdef', substr(h, ${2 * d + 2}, 1))" +
          " - 1 as int)")): _*)).as(Seq("d", "idx")))
      .groupBy("d", "idx").count()
    val q = grid(StreamingIngest.parse(spark.readStream.text(src.toString)))
      .writeStream.format("memory").queryName("cms_out")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("cms_out").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val batch = grid(StreamingIngest.parse(spark.read.text(src.toString)))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(streamed === batch)
    assert(streamed.values.sum === 400L * 4)
  }

  test("session windows MERGE across micro-batches when a gap is bridged") {
    import org.apache.spark.sql.functions._
    // events at t=0h and t=10h arrive in run 1 (two open sessions, 6h
    // gap) — then run 2, RESUMED FROM THE CHECKPOINT, delivers only
    // t=4h, which bridges them (0h–4h ≤ gap, 4h–10h ≤ gap): the
    // restored state store must MERGE the two session states into one.
    // This is the stateful path a lag-cumsum batch twin never
    // exercises. foreachBatch (not the memory sink) because only it
    // supports checkpoint recovery.
    val base = Files.createTempDirectory("graft_sess_merge")
    val src = Files.createDirectory(base.resolve("src"))
    val ckpt = base.resolve("ckpt").toString
    def line(id: Int, hour: Int): String =
      s"""{"event_id":$id,"user_id":1,"event_type":"click","value":1.0,""" +
        s""""ts_str":"2024-01-01 ${"%02d".format(hour)}:00:00.000000",""" +
        s""""props":"{}"}"""

    @volatile var last: Array[org.apache.spark.sql.Row] = Array.empty
    def run(): Unit = {
      val parsed = StreamingIngest.parse(
          spark.readStream.text(src.toString))
        .withColumn("ets", col("ts"))
      val sessions = parsed
        // a grouping key is required: streaming session windows reject
        // global aggregation (state is keyed per group)
        .groupBy(col("event_type"),
          session_window(col("ets"), "6 hours").as("sw"))
        .agg(count(lit(1)).as("n"))
        .select(col("sw.start").as("s"), col("sw.end").as("e"), col("n"))
      val q = sessions.writeStream
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          last = b.collect()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    Files.write(src.resolve("b1.json"),
      java.util.Arrays.asList(line(1, 0), line(2, 10)))
    run()
    assert(last.length === 2, last.mkString(";")) // two open sessions

    Files.write(src.resolve("b2.json"),
      java.util.Arrays.asList(line(3, 4)))
    run() // resumes from the checkpoint: processes ONLY b2
    assert(last.length === 1, last.mkString(";")) // one merged session
    assert(last.head.getAs[Long]("n") === 3)
  }

  test("stream-static join: live stream enriched by a batch dim matches twin") {
    // the dim is a plain batch table; each micro-batch probes its
    // broadcast — the enrichment path t9's oracle-checked twin mirrors
    val feed = graft.operators.Streaming.exportJson(spark, sf)
    val dim = Tables(spark, sf, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val q = StreamingIngest.parse(spark.readStream.text(feed))
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(38,2)")).cast("double")
          .as("sum_value"))
      .writeStream.format("memory").queryName("ss_out")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("ss_out")
      .orderBy("c_mktsegment").collect()
    val batch = graft.operators.Streaming
      .queries("t9_stream_static_twin")(spark, sf).collect()
    assert(streamed.map(_.toString).toSeq === batch.map(_.toString).toSeq)
    assert(streamed.nonEmpty)
  }

  test("stream-stream interval join matches its batch twin on the real feed") {
    // Two independent file streams over the sf0.001 event feed (clicks
    // and purchases), joined live with watermarks on both sides — the
    // join-state-reclamation path the oracle-checked t8 batch twin
    // cannot exercise. Inner interval joins emit on match, so an
    // AvailableNow drain yields the complete pair set.
    val feed = graft.operators.Streaming.exportJson(spark, sf)
    def side(tpe: String) = StreamingIngest.parse(
      spark.readStream.text(feed)).filter(col("event_type") === tpe)
    val q = StreamingIngest.attribution(side("click"), side("purchase"))
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.table("attr_out")
      .orderBy("click_id", "purchase_id").collect()
    val batch = graft.operators.Streaming
      .queries("t8_stream_join_twin")(spark, sf).collect()
    assert(streamed.map(_.toString).toSeq === batch.map(_.toString).toSeq)
    assert(streamed.nonEmpty)
  }
}
