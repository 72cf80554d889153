package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.{CepPattern, StreamingIngest}

/** Streaming MATCH_RECOGNIZE for arbitrary patterns (streaming/
  * CepPattern): the RowPattern speculation chain rides
  * flatMapGroupsWithState as java-serialized per-key state. Twin law:
  * a chunked replay WITH A RESTART between chunks (new query, same
  * checkpoint — the machine state must round-trip the state store)
  * ends at exactly the batch fold's counts over the union of all
  * chunks, for terminator-disjoint AND non-disjoint patterns, with
  * matches spanning the restart boundary.
  */
class CepPatternSpec extends SparkSpec {

  private def writeChunk(dir: java.nio.file.Path, name: String,
                         evs: Seq[(Long, Long, String, Int)]): Unit = {
    val lines = evs.map { case (id, user, tpe, hour) =>
      s"""{"event_id":$id,"user_id":$user,"event_type":"$tpe",""" +
        f""""value":1.0,"ts_str":"2024-01-01 $hour%02d:00:00.000000",""" +
        s""""props":"{}"}"""
    }
    Files.write(dir.resolve(name), lines.mkString("\n").getBytes("UTF-8"))
  }

  // user 1's first funnel match SPANS the chunk boundary (view+click in
  // chunk 1, purchase in chunk 2) — the carried machine, not a
  // per-batch rescan, is what completes it. user 3 is a hot-ish loop.
  private val chunk1 = Seq(
    (1L, 1L, "view", 1), (2L, 1L, "click", 2),
    (6L, 2L, "purchase", 1), (7L, 2L, "view", 2),
    (10L, 3L, "view", 1), (11L, 3L, "click", 2), (12L, 3L, "purchase", 3))
  private val chunk2 = Seq(
    (3L, 1L, "purchase", 3), (4L, 1L, "view", 4), (5L, 1L, "purchase", 5),
    (8L, 2L, "error", 3), (9L, 2L, "purchase", 4),
    (13L, 3L, "view", 4), (14L, 3L, "error", 5), (15L, 3L, "purchase", 6))

  private def batchCounts(pattern: String): Map[Long, Long] = {
    import spark.implicits._
    val coded = (chunk1 ++ chunk2).toDF("event_id", "user_id", "tpe", "hour")
      .select(col("user_id"), col("hour").cast("long").as("us"),
        col("event_id"),
        expr("""CASE tpe WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
               |WHEN 'purchase' THEN 'p' ELSE 'o' END""".stripMargin)
          .as("code"))
    operators.EventAnalytics.matchCountsOf(coded, pattern)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("chunked replay with restart equals the batch fold, per pattern") {
    // v[co]*p: terminator-disjoint; vc?p: disjoint, no loop; v.*p: NOT
    // disjoint — the greedy loop consumes the terminator, so this pins
    // the speculation chain itself (pending match + live successor)
    // round-tripping the checkpoint
    for (pattern <- Seq("v[co]*p", "vc?p", "v.*p")) {
      val base = Files.createTempDirectory(s"graft_cepgen")
      val src = Files.createDirectory(base.resolve("src"))
      val cp = base.resolve("cp").toString
      val out = base.resolve("out").toString

      def runBatch(): Unit = {
        val q = CepPattern
          .matches(spark, StreamingIngest.parse(
            spark.readStream.text(src.toString)), pattern)
          .writeStream.format("parquet")
          .option("path", out)
          .outputMode("append")
          .option("checkpointLocation", cp)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }

      writeChunk(src, "b1.json", chunk1)
      runBatch() // query stops: everything below is a fresh start
      writeChunk(src, "b2.json", chunk2)
      runBatch() // restart — per-key machines reload from the state store

      // flushed counts are monotone for these patterns (funnel pendings
      // resolve on their own char; v.*p only ever extends its match),
      // so the final value per user is the max emission
      val streamed = spark.read.parquet(out)
        .groupBy("user_id").agg(max("n_matches").as("m")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = batchCounts(pattern)
      assert(streamed === batch, s"pattern $pattern: $streamed != $batch")
      assert(batch.values.sum > 0, s"pattern $pattern never matched")
    }
  }

  test("facade matchPatternStream + custom codeExpr equals the batch fold") {
    import spark.implicits._
    // batch frame through the same wiring (the fold sees whole
    // histories at once) with a caller alphabet: first letter of the
    // event type — pattern v+p over it
    val parsed = (chunk1 ++ chunk2)
      .toDF("event_id", "user_id", "tpe", "hour")
      .selectExpr("user_id", "event_id",
        "to_timestamp(printf('2024-01-01 %02d:00:00', hour)) AS ts",
        "tpe AS event_type")
    val got = api.Events.matchPatternStream(spark, parsed, "v+p",
        codeExpr = "substring(event_type, 1, 1)")
      .collect().map(u => u.user_id -> u.n_matches).toMap
    val coded = parsed.selectExpr("user_id", "unix_micros(ts) AS us",
      "event_id", "substring(event_type, 1, 1) AS code")
    val want = operators.EventAnalytics.matchCountsOf(coded, "v+p")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want && want.values.sum > 0)
  }

  // ---- ordering-contract guard (round 10): violation is NEVER a
  // silent miscount — fail loudly by default, absorb exactly under a
  // declared lateness, or drop-with-a-visible-counter ------------------

  private def runChunk(src: java.nio.file.Path, base: java.nio.file.Path,
                       pattern: String, latenessUs: Long = 0L,
                       onLate: String = "fail"): Unit = {
    val q = CepPattern
      .matches(spark, StreamingIngest.parse(
        spark.readStream.text(src.toString)), pattern,
        allowedLatenessUs = latenessUs, onLate = onLate)
      .writeStream.format("parquet")
      .option("path", base.resolve("out").toString)
      .outputMode("append")
      .option("checkpointLocation", base.resolve("cp").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("cross-batch out-of-order replay fails loudly by default " +
    "(the silent-miscount input)") {
    // pattern `vp`: the true (event-time) trace is v,c,p → 0 matches,
    // but feeding in ARRIVAL order yields v,p,c → 1 — exactly the
    // input the unguarded round-9 facade would silently miscount
    val base = Files.createTempDirectory("graft_cepooo")
    val src = Files.createDirectory(base.resolve("src"))
    writeChunk(src, "b1.json", Seq((1L, 1L, "view", 1), (3L, 1L, "purchase", 3)))
    runChunk(src, base, "vp")
    writeChunk(src, "b2.json", Seq((2L, 1L, "click", 2))) // behind the frontier
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      runChunk(src, base, "vp"))
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m =>
      m != null && m.contains("ordering contract violated")), chain(e))
  }

  test("a declared lateness absorbs the same disorder exactly " +
    "(reorder buffer feeds in event-time order)") {
    // same events, 2 h of declared lateness: the click (1 h late
    // against the high-water mark) buffers, releases BEFORE the
    // purchase, and the final count is the event-time truth (0), not
    // the arrival-order miscount (1)
    val base = Files.createTempDirectory("graft_ceplate")
    val src = Files.createDirectory(base.resolve("src"))
    val twoHours = 2L * 3600 * 1000000
    writeChunk(src, "b1.json", Seq((1L, 1L, "view", 1), (3L, 1L, "purchase", 3)))
    runChunk(src, base, "vp", latenessUs = twoHours)
    writeChunk(src, "b2.json", Seq((2L, 1L, "click", 2)))
    runChunk(src, base, "vp", latenessUs = twoHours)
    val rows = spark.read.parquet(base.resolve("out").toString)
      .orderBy("n_matches").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // batch 1 estimates 1 (v,p with the click not yet arrived); batch 2
    // corrects to the event-time truth 0 — last emission wins, and the
    // batch fold over the union agrees
    assert(rows.toSeq == Seq((1L, 0L, 0L), (1L, 1L, 0L)), rows.toSeq)
    val batch = {
      import spark.implicits._
      val coded = Seq((1L, 1L, 1L, "v"), (2L, 1L, 2L, "c"),
        (3L, 1L, 3L, "p"))
        .toDF("event_id", "user_id", "us", "code")
        .select(col("user_id"), col("us"), col("event_id"), col("code"))
      operators.EventAnalytics.matchCountsOf(coded, "vp")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(batch == Map(1L -> 0L))
  }

  test("an event delayed by EXACTLY the declared lateness is absorbed " +
    "(strict watermark release, same-timestamp tie)") {
    // the boundary case: p@1h arrives when the key's high-water mark
    // is 3h — delayed by exactly the declared 2h — and ties the
    // buffered view's timestamp with a LOWER event_id, so a frontier
    // that had already covered 1h (a <= release) would trip the guard;
    // strict release holds 1h back until the watermark passes it by
    // MORE than the lateness, then feeds in exact event-time order
    val base = Files.createTempDirectory("graft_cepexact")
    val src = Files.createDirectory(base.resolve("src"))
    val twoHours = 2L * 3600 * 1000000
    writeChunk(src, "b1.json",
      Seq((1L, 1L, "view", 1), (9L, 1L, "error", 3)))
    runChunk(src, base, "vp", latenessUs = twoHours)
    writeChunk(src, "b2.json", Seq((0L, 1L, "purchase", 1)))
    runChunk(src, base, "vp", latenessUs = twoHours)
    writeChunk(src, "b3.json", Seq((10L, 1L, "error", 6)))
    runChunk(src, base, "vp", latenessUs = twoHours)
    val rows = spark.read.parquet(base.resolve("out").toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // event-time truth: p@(1h,0) sorts BEFORE v@(1h,1) → trace pvoo →
    // zero vp matches, nothing dropped, and the count never wavered
    // (one emission, batch 1's estimate, already 0)
    assert(rows.toSeq == Seq((1L, 0L, 0L)), rows.toSeq)
  }

  test("onLate=drop skips the late event and surfaces the counter") {
    val base = Files.createTempDirectory("graft_cepdrop")
    val src = Files.createDirectory(base.resolve("src"))
    writeChunk(src, "b1.json", Seq((1L, 1L, "view", 1), (3L, 1L, "purchase", 3)))
    runChunk(src, base, "vp", onLate = "drop")
    writeChunk(src, "b2.json", Seq((2L, 1L, "click", 2)))
    runChunk(src, base, "vp", onLate = "drop")
    val last = spark.read.parquet(base.resolve("out").toString)
      .orderBy(col("n_late_dropped")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // emission 1: (1 match, 0 dropped); emission 2: the drop changes
    // the pair, so it IS emitted — count over the undropped
    // subsequence (v,p) stays 1, dropped becomes 1 and is visible
    assert(last.toSeq == Seq((1L, 1L, 0L), (1L, 1L, 1L)), last.toSeq)
  }

  test("the reorder buffer is hard-capped: a hot key under a large " +
    "declared lateness fails loudly, or sheds-and-counts under drop") {
    // 30 days of declared lateness on a 6-event key: nothing ever
    // releases, so the buffer IS the key's backlog — with
    // maxBufferedEvents=4 the 5th and 6th events are over the cap
    val monthUs = 30L * 86400 * 1000000
    val evs = Seq((1L, 1L, "view", 1), (2L, 1L, "click", 2),
      (3L, 1L, "purchase", 3), (4L, 1L, "view", 4),
      (5L, 1L, "view", 5), (6L, 1L, "purchase", 6))
    def run(base: java.nio.file.Path, src: java.nio.file.Path,
            onLate: String): Unit = {
      val q = CepPattern
        .matches(spark, StreamingIngest.parse(
          spark.readStream.text(src.toString)), "v[co]*p",
          allowedLatenessUs = monthUs, onLate = onLate,
          maxBufferedEvents = 4)
        .writeStream.format("parquet")
        .option("path", base.resolve("out").toString)
        .outputMode("append")
        .option("checkpointLocation", base.resolve("cp").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // onLate="fail" (default policy): the cap kills the query loudly
    // with the contract in the message
    val baseF = Files.createTempDirectory("graft_cepcapf")
    val srcF = Files.createDirectory(baseF.resolve("src"))
    writeChunk(srcF, "b1.json", evs)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      run(baseF, srcF, "fail"))
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null &&
      m.contains("reorder buffer") && m.contains("maxBufferedEvents=4")),
      chain(e))
    // onLate="drop": the caller opted into lossy — the over-cap events
    // shed into the visible n_late_dropped, the count covers what the
    // buffer holds (v,c,p,v → 1 match)
    val baseD = Files.createTempDirectory("graft_cepcapd")
    val srcD = Files.createDirectory(baseD.resolve("src"))
    writeChunk(srcD, "b1.json", evs)
    run(baseD, srcD, "drop")
    val rows = spark.read.parquet(baseD.resolve("out").toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, 1L, 2L)), rows.toSeq)
  }

  test("the cap counts only window-resident events: an in-order " +
    "catch-up batch larger than the cap passes under onLate=fail") {
    // 10 in-order events spaced 1 h apart, 1 h declared lateness,
    // maxBufferedEvents=4: pre-round-12 the whole batch buffered
    // BEFORE any release ran, so event 5 tripped the cap on an event
    // that is not late (the ADVICE scenario — Trigger.AvailableNow
    // over a backlog). The interleaved release pass drains everything
    // the running watermark passed, so only the ≤1 h window counts
    // toward the cap and the query must complete with the batch count.
    val hourUs = 3600L * 1000000
    val evs = Seq((1L, 1L, "view", 1), (2L, 1L, "click", 2),
      (3L, 1L, "purchase", 3), (4L, 1L, "view", 4),
      (5L, 1L, "click", 5), (6L, 1L, "purchase", 6),
      (7L, 1L, "view", 7), (8L, 1L, "click", 8),
      (9L, 1L, "purchase", 9), (10L, 1L, "purchase", 10))
    val base = Files.createTempDirectory("graft_cepcatchup")
    val src = Files.createDirectory(base.resolve("src"))
    writeChunk(src, "b1.json", evs)
    val q = CepPattern
      .matches(spark, StreamingIngest.parse(
        spark.readStream.text(src.toString)), "v[co]*p",
        allowedLatenessUs = hourUs, onLate = "fail",
        maxBufferedEvents = 4)
      .writeStream.format("parquet")
      .option("path", base.resolve("out").toString)
      .outputMode("append")
      .option("checkpointLocation", base.resolve("cp").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination() // would throw "reorder buffer" pre-fix
    val rows = spark.read.parquet(base.resolve("out").toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // vcp vcp vcp p → 3 matches, nothing dropped, nothing late
    assert(rows.toSeq == Seq((1L, 3L, 0L)), rows.toSeq)
  }

  test("emit-on-change: an untouched key emits nothing") {
    val base = Files.createTempDirectory("graft_cepquiet")
    val src = Files.createDirectory(base.resolve("src"))
    writeChunk(src, "b1.json", Seq((1L, 9L, "view", 1)))
    runChunk(src, base, "v[co]*p")
    // 'other' events feed the machine but cannot change the count —
    // the key's (n_matches, n_late_dropped) pair is unchanged, so the
    // batch emits NO row for it
    writeChunk(src, "b2.json", Seq((2L, 9L, "error", 2)))
    runChunk(src, base, "v[co]*p")
    writeChunk(src, "b3.json", Seq((3L, 9L, "purchase", 3)))
    runChunk(src, base, "v[co]*p")
    val rows = spark.read.parquet(base.resolve("out").toString)
      .orderBy("n_matches").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((9L, 0L), (9L, 1L)), rows)
  }

  test("streaming spans: chunked replay with restart equals the batch " +
    "span fold, each match emitted exactly once") {
    // the streaming ONE ROW PER MATCH mode: user 1's first funnel
    // match SPANS the restart boundary (v,c in chunk 1 — p in chunk
    // 2), so its span row can only come from the ring + machine state
    // round-tripping the checkpoint
    val base = Files.createTempDirectory("graft_cepspans")
    val src = Files.createDirectory(base.resolve("src"))
    def runBatch(): Unit = {
      val q = CepPattern
        .matchSpans(spark, StreamingIngest.parse(
          spark.readStream.text(src.toString)), "v[co]*p")
        .writeStream.format("parquet")
        .option("path", base.resolve("out").toString)
        .outputMode("append")
        .option("checkpointLocation", base.resolve("cp").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeChunk(src, "b1.json", chunk1)
    runBatch()
    val after1 = spark.read.parquet(base.resolve("out").toString).collect()
    // only user 3's closed funnel has confirmed so far
    assert(after1.map(_.getLong(0)).toSeq == Seq(3L), after1.toSeq)
    writeChunk(src, "b2.json", chunk2)
    runBatch() // restart — ring + machine reload from the state store
    val streamed = spark.read.parquet(base.resolve("out").toString)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    // batch twin over the union of both chunks, through the same
    // parse (ts = the hour timestamps, us = unix_micros of them)
    import spark.implicits._
    val coded = (chunk1 ++ chunk2)
      .toDF("event_id", "user_id", "tpe", "hour")
      .selectExpr("user_id",
        "unix_micros(to_timestamp(printf('2024-01-01 %02d:00:00', hour)))" +
          " AS us",
        "event_id",
        """CASE tpe WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
          |WHEN 'purchase' THEN 'p' ELSE 'o' END AS code""".stripMargin)
    val batch = operators.EventAnalytics.matchSpansOf(coded, "v[co]*p")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(streamed == batch, s"$streamed != $batch")
    assert(batch.size >= 3) // users 1 (x2 incl. the boundary) and 3
    // exactly-once: no duplicate (user, start) across all emissions
    val all = spark.read.parquet(base.resolve("out").toString).collect()
    assert(all.length == all.map(r => (r.getLong(0), r.getLong(2),
      r.getLong(3))).distinct.length, "a span emitted twice")
  }

  test("streaming ALL ROWS: chunked replay with restart equals the " +
    "batch matchRowsOf fold, every matched event emitted exactly once") {
    // user 1's boundary-spanning funnel match again — its per-event
    // rows can only come from the ring surviving the checkpoint; the
    // quiescent emitted set must equal the batch ALL ROWS fold over
    // the union, with match_seq in confirmation order per key
    val base = Files.createTempDirectory("graft_ceprows")
    val src = Files.createDirectory(base.resolve("src"))
    def runBatch(): Unit = {
      val q = api.Events.matchRowsStream(spark, StreamingIngest.parse(
          spark.readStream.text(src.toString)), "v[co]*p")
        .writeStream.format("parquet")
        .option("path", base.resolve("out").toString)
        .outputMode("append")
        .option("checkpointLocation", base.resolve("cp").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeChunk(src, "b1.json", chunk1)
    runBatch()
    val after1 = spark.read.parquet(base.resolve("out").toString).collect()
    // only user 3's closed funnel confirmed: its 3 events
    assert(after1.map(_.getLong(0)).distinct.toSeq == Seq(3L) &&
      after1.length == 3, after1.toSeq)
    writeChunk(src, "b2.json", chunk2)
    runBatch() // restart — ring + machine reload from the state store
    val streamed = spark.read.parquet(base.resolve("out").toString)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSet
    import spark.implicits._
    val coded = (chunk1 ++ chunk2)
      .toDF("event_id", "user_id", "tpe", "hour")
      .selectExpr("user_id",
        "unix_micros(to_timestamp(printf('2024-01-01 %02d:00:00', hour)))" +
          " AS us",
        "event_id",
        """CASE tpe WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
          |WHEN 'purchase' THEN 'p' ELSE 'o' END AS code""".stripMargin)
    val batch = operators.EventAnalytics.matchRowsOf(coded, "v[co]*p")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSet
    assert(streamed == batch, s"$streamed != $batch")
    assert(batch.size >= 8) // ≥3 matches over users 1 and 3
    // exactly-once: no duplicate (user, match_seq, ord) across the run
    val all = spark.read.parquet(base.resolve("out").toString).collect()
    assert(all.length == all.map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2))).distinct.length, "a matched row emitted twice")
  }

  test("streaming SKIP TO LAST: chunked replay with restart equals " +
    "the batch skip fold, overlap at the resume row crossing the " +
    "checkpoint") {
    // components (s=., d=c+, u=p+) with SKIP TO LAST u: user 1's first
    // match's greedy p+ tail EXTENDS across the restart (p@3 in chunk
    // 1, p@4 in chunk 2), and the second match re-anchors ON the first
    // match's last p — both the buffered attempt and the resume
    // position must round-trip the state store
    val comps = Seq("s" -> ".", "d" -> "c+", "u" -> "p+")
    val skip = graft.functions.RowPattern.SkipMode.ToLast("u")
    val c1 = Seq((1L, 1L, "view", 1), (2L, 1L, "click", 2),
      (3L, 1L, "purchase", 3))
    val c2 = Seq((4L, 1L, "purchase", 4), (5L, 1L, "click", 5),
      (6L, 1L, "purchase", 6), (7L, 1L, "error", 7),
      (10L, 2L, "error", 1), (11L, 2L, "click", 2),
      (12L, 2L, "purchase", 3), (13L, 2L, "view", 4),
      (14L, 2L, "click", 5), (15L, 2L, "purchase", 6),
      (16L, 2L, "error", 7))
    val base = Files.createTempDirectory("graft_cepskip")
    val src = Files.createDirectory(base.resolve("src"))
    def runBatch(): Unit = {
      val q = api.Events.matchSkipStream(spark, StreamingIngest.parse(
          spark.readStream.text(src.toString)), comps, skip)
        .writeStream.format("parquet")
        .option("path", base.resolve("out").toString)
        .outputMode("append")
        .option("checkpointLocation", base.resolve("cp").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeChunk(src, "b1.json", c1)
    runBatch()
    // nothing can confirm inside chunk 1 (the p+ tail is still open)
    assert(spark.read.parquet(base.resolve("out").toString).count() == 0)
    writeChunk(src, "b2.json", c2)
    runBatch() // restart — the scanner reloads from the state store
    val streamed = spark.read.parquet(base.resolve("out").toString)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(5),
        r.getLong(6))).toSet // (user, seq, start_event_id, end_id, n)
    // batch twin: the classified skip fold reading the code column
    import spark.implicits._
    val coded = (c1 ++ c2).toDF("event_id", "user_id", "tpe", "hour")
      .selectExpr("user_id", "event_id", "cast(hour as long) AS hour",
        """CASE tpe WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
          |WHEN 'purchase' THEN 'p' ELSE 'o' END AS code""".stripMargin)
    val batch = operators.EventAnalytics.matchSpansSkip(
        coded, comps, skip, Seq("user_id"), Seq("hour", "event_id"),
        "event_id")((_, cur) => cur.getString(3).charAt(0))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(streamed == batch, s"$streamed != $batch")
    // user 1: [v c p p] then re-anchored [p c p]; user 2: two matches
    assert(batch.size == 4, batch)
    assert(batch.contains((1L, 1L, 1L, 4L, 4L)) &&
      batch.contains((1L, 2L, 4L, 6L, 3L)), batch)
    // exactly-once across all emissions
    val all = spark.read.parquet(base.resolve("out").toString).collect()
    assert(all.length == all.map(r => (r.getLong(0), r.getLong(1)))
      .distinct.length)
  }

  test("streaming MEASURES: chunked replay with restart equals the " +
    "batch matchMeasuresOf fold, one aggregate row per match") {
    // funnel events with per-event money (value = event_id * 1.5, so
    // cents = id * 150 — exact under the decimal cast); user 1's
    // boundary-spanning match must aggregate values held in the ring
    // across the restart
    def writeChunkV(dir: java.nio.file.Path, name: String,
                    evs: Seq[(Long, Long, String, Int)]): Unit = {
      val lines = evs.map { case (id, user, tpe, hour) =>
        s"""{"event_id":$id,"user_id":$user,"event_type":"$tpe",""" +
          f""""value":${id * 1.5}%.2f,"ts_str":"2024-01-01 $hour%02d:00:00.000000",""" +
          s""""props":"{}"}"""
      }
      Files.write(dir.resolve(name), lines.mkString("\n").getBytes("UTF-8"))
    }
    val base = Files.createTempDirectory("graft_cepmeas")
    val src = Files.createDirectory(base.resolve("src"))
    def runBatch(): Unit = {
      val q = api.Events.matchMeasuresStream(spark, StreamingIngest.parse(
          spark.readStream.text(src.toString)), "v[co]*p")
        .writeStream.format("parquet")
        .option("path", base.resolve("out").toString)
        .outputMode("append")
        .option("checkpointLocation", base.resolve("cp").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeChunkV(src, "b1.json", chunk1)
    runBatch()
    writeChunkV(src, "b2.json", chunk2)
    runBatch() // restart — ring with values reloads from the store
    val streamed = spark.read.parquet(base.resolve("out").toString)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSet
    import spark.implicits._
    val coded = (chunk1 ++ chunk2)
      .toDF("event_id", "user_id", "tpe", "hour")
      .selectExpr("user_id",
        "unix_micros(to_timestamp(printf('2024-01-01 %02d:00:00', hour)))" +
          " AS us",
        "event_id",
        """CASE tpe WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
          |WHEN 'purchase' THEN 'p' ELSE 'o' END AS code""".stripMargin,
        "cast(cast(event_id * 1.5 as decimal(18,2)) * 100 as long)" +
          " AS v_cents")
    val batch = operators.EventAnalytics.matchMeasuresOf(coded, "v[co]*p")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSet
    assert(streamed == batch, s"$streamed != $batch")
    assert(batch.size >= 3)
    assert(batch.exists(_._8 > 200L), "sums never exceeded one event")
  }

  test("streaming DEFINE/PREV: classified replay with restart equals " +
    "the batch classified fold, prev window crossing the boundary") {
    // per-user price sequences classify U/D/e against the PREVIOUS
    // row's value; user 1's U+D match needs the prev row (value 20,
    // fed in chunk 1) carried through the checkpoint to classify the
    // chunk-2 drop as D
    def writeValChunk(dir: java.nio.file.Path, name: String,
                      evs: Seq[(Long, Long, Double, Int)]): Unit = {
      val lines = evs.map { case (id, user, v, hour) =>
        s"""{"event_id":$id,"user_id":$user,"event_type":"order",""" +
          f""""value":$v%.1f,"ts_str":"2024-01-01 $hour%02d:00:00.000000",""" +
          s""""props":"{}"}"""
      }
      Files.write(dir.resolve(name), lines.mkString("\n").getBytes("UTF-8"))
    }
    val c1 = Seq((1L, 1L, 10.0, 1), (2L, 1L, 20.0, 2),
      (10L, 2L, 30.0, 1), (11L, 2L, 10.0, 2))
    val c2 = Seq((3L, 1L, 15.0, 3), (4L, 1L, 25.0, 4), (5L, 1L, 5.0, 5),
      (12L, 2L, 20.0, 3), (13L, 2L, 5.0, 4))
    val classify: (org.apache.spark.sql.Row,
      org.apache.spark.sql.Row) => Char = (prev, cur) =>
      if (prev == null) 'o'
      else {
        val p = prev.getAs[Double]("value")
        val c = cur.getAs[Double]("value")
        if (c > p) 'U' else if (c < p) 'D' else 'e'
      }
    val base = Files.createTempDirectory("graft_cepby")
    val src = Files.createDirectory(base.resolve("src"))
    def runBatch(): Unit = {
      val q = api.Events.matchPatternStreamBy(spark,
          StreamingIngest.parse(spark.readStream.text(src.toString)),
          "U+D")(classify)
        .writeStream.format("parquet")
        .option("path", base.resolve("out").toString)
        .outputMode("append")
        .option("checkpointLocation", base.resolve("cp").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeValChunk(src, "b1.json", c1)
    runBatch()
    writeValChunk(src, "b2.json", c2)
    runBatch() // restart — machine AND prev row reload from the store
    // flushed counts are monotone here (U+D pendings resolve on their
    // own classified char), so the final value per user is the max
    val streamed = spark.read.parquet(base.resolve("out").toString)
      .groupBy("user_id").agg(max("n_matches").as("m")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // local truth: classify each user's value sequence, count U+D
    val want = (c1 ++ c2).groupBy(_._2).view.mapValues { evs =>
      val vs = evs.sortBy(e => (e._4, e._1)).map(_._3)
      val cls = vs.zipWithIndex.map { case (v, i) =>
        if (i == 0) 'o'
        else if (v > vs(i - 1)) 'U'
        else if (v < vs(i - 1)) 'D' else 'e'
      }.mkString
      val m = java.util.regex.Pattern.compile("U+D").matcher(cls)
      var n = 0L
      while (m.find()) n += 1
      n
    }.toMap
    assert(streamed === want, s"$streamed != $want")
    assert(want.values.sum >= 2)
    // and the batch classified fold (the ev_updown_runs engine) agrees
    import spark.implicits._
    val frame = (c1 ++ c2).toDF("event_id", "user_id", "value", "hour")
      .selectExpr("user_id", "event_id", "value",
        "to_timestamp(printf('2024-01-01 %02d:00:00', hour)) AS ts")
    val batch = graft.operators.EventAnalytics.matchCountsClassified(
        frame, "U+D", Seq("user_id"), Seq("ts", "event_id"))(
        (prev, cur) =>
          if (prev == null) 'o'
          else {
            val p = prev.getAs[Double]("value")
            val c = cur.getAs[Double]("value")
            if (c > p) 'U' else if (c < p) 'D' else 'e'
          })
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch === want, s"batch $batch != $want")
  }

  test("streaming classified spans: DEFINE/PREV replay with restart " +
    "equals the batch classified span fold") {
    // the same U/D value walks as the classified-count twin; user 1's
    // U+D span needs BOTH the prev row (20.0 fed in chunk 1) and the
    // open machine state carried through the checkpoint
    def writeValChunk(dir: java.nio.file.Path, name: String,
                      evs: Seq[(Long, Long, Double, Int)]): Unit = {
      val lines = evs.map { case (id, user, v, hour) =>
        s"""{"event_id":$id,"user_id":$user,"event_type":"order",""" +
          f""""value":$v%.1f,"ts_str":"2024-01-01 $hour%02d:00:00.000000",""" +
          s""""props":"{}"}"""
      }
      Files.write(dir.resolve(name), lines.mkString("\n").getBytes("UTF-8"))
    }
    val c1 = Seq((1L, 1L, 10.0, 1), (2L, 1L, 20.0, 2),
      (10L, 2L, 30.0, 1), (11L, 2L, 10.0, 2))
    val c2 = Seq((3L, 1L, 15.0, 3), (4L, 1L, 25.0, 4), (5L, 1L, 5.0, 5),
      (12L, 2L, 20.0, 3), (13L, 2L, 5.0, 4))
    val classify: (org.apache.spark.sql.Row,
      org.apache.spark.sql.Row) => Char = (prev, cur) =>
      if (prev == null) 'o'
      else {
        val p = prev.getAs[Double]("value")
        val c = cur.getAs[Double]("value")
        if (c > p) 'U' else if (c < p) 'D' else 'e'
      }
    val base = Files.createTempDirectory("graft_cepspanby")
    val src = Files.createDirectory(base.resolve("src"))
    def runBatch(): Unit = {
      val q = api.Events.matchSpansStreamBy(spark,
          StreamingIngest.parse(spark.readStream.text(src.toString)),
          "U+D")(classify)
        .writeStream.format("parquet")
        .option("path", base.resolve("out").toString)
        .outputMode("append")
        .option("checkpointLocation", base.resolve("cp").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeValChunk(src, "b1.json", c1)
    runBatch()
    writeValChunk(src, "b2.json", c2)
    runBatch() // restart — machine + ring + prev row reload
    val streamed = spark.read.parquet(base.resolve("out").toString)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(5),
        r.getLong(6))).toSet // (user, seq, start_tie, end_tie, n)
    import spark.implicits._
    val frame = (c1 ++ c2).toDF("event_id", "user_id", "value", "hour")
      .selectExpr("user_id", "event_id", "value",
        "to_timestamp(printf('2024-01-01 %02d:00:00', hour)) AS ts")
    val batch = operators.EventAnalytics.matchSpansClassified(
        frame, "U+D", Seq("user_id"), Seq("ts", "event_id"),
        "event_id")(classify)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(streamed == batch, s"$streamed != $batch")
    assert(batch.size >= 3)
  }

  test("streaming per-variable MEASURES and labeled skip-ALL-ROWS: " +
    "classified replay with restart equals the batch folds (round 12)") {
    // V-shape comps (s=., d=D+, u=U+) with SKIP TO LAST u over U/D
    // value walks classified inside the state: user 1's single match
    // STARTS in chunk 1 and ends in chunk 2 (the buffered attempt +
    // prev row must round-trip the checkpoint); user 2 chains TWO
    // overlapping matches sharing the peak row (id 13), which labeled
    // ALL ROWS must re-emit under each match's own ordinal
    def writeValChunk(dir: java.nio.file.Path, name: String,
                      evs: Seq[(Long, Long, Double, Int)]): Unit = {
      val lines = evs.map { case (id, user, v, hour) =>
        s"""{"event_id":$id,"user_id":$user,"event_type":"order",""" +
          f""""value":$v%.1f,"ts_str":"2024-01-01 $hour%02d:00:00.000000",""" +
          s""""props":"{}"}"""
      }
      Files.write(dir.resolve(name), lines.mkString("\n").getBytes("UTF-8"))
    }
    val c1 = Seq((1L, 1L, 50.0, 1), (2L, 1L, 40.0, 2),
      (11L, 2L, 30.0, 1), (12L, 2L, 10.0, 2))
    val c2 = Seq((3L, 1L, 30.0, 3), (4L, 1L, 35.0, 4), (5L, 1L, 45.0, 5),
      (6L, 1L, 20.0, 6),
      (13L, 2L, 20.0, 3), (14L, 2L, 5.0, 4), (15L, 2L, 8.0, 5),
      (16L, 2L, 2.0, 6))
    val classify: (org.apache.spark.sql.Row,
      org.apache.spark.sql.Row) => Char = (prev, cur) =>
      if (prev == null) 'o'
      else {
        val p = prev.getAs[Double]("value")
        val c = cur.getAs[Double]("value")
        if (c > p) 'U' else if (c < p) 'D' else 'e'
      }
    val comps = Seq("s" -> ".", "d" -> "D+", "u" -> "U+")
    val skip = graft.functions.RowPattern.SkipMode.ToLast("u")
    val base = Files.createTempDirectory("graft_cepvar")
    val src = Files.createDirectory(base.resolve("src"))
    def runBoth(): Unit = {
      val in = StreamingIngest.parse(spark.readStream.text(src.toString))
        .withColumn("mv", expr("cast(value as long)"))
      val q1 = api.Events.matchVarMeasuresStreamBy(
          spark, in, comps, skip, "mv",
          subsets = Seq("w" -> Seq("d", "u")))(classify)
        .writeStream.format("parquet")
        .option("path", base.resolve("outm").toString)
        .outputMode("append")
        .option("checkpointLocation", base.resolve("cpm").toString)
        .trigger(Trigger.AvailableNow()).start()
      val q2 = api.Events.matchRowsSkipStreamBy(
          spark, in, comps, skip)(classify)
        .writeStream.format("parquet")
        .option("path", base.resolve("outr").toString)
        .outputMode("append")
        .option("checkpointLocation", base.resolve("cpr").toString)
        .trigger(Trigger.AvailableNow()).start()
      q1.awaitTermination(); q2.awaitTermination()
    }
    writeValChunk(src, "b1.json", c1)
    runBoth()
    // nothing can confirm inside chunk 1 (every attempt still open)
    assert(spark.read.parquet(base.resolve("outm").toString).count() == 0)
    assert(spark.read.parquet(base.resolve("outr").toString).count() == 0)
    writeValChunk(src, "b2.json", c2)
    runBoth() // restart — scanner + prev row reload from the state store
    // batch twins over the union, same classification
    import spark.implicits._
    val frame = (c1 ++ c2).toDF("event_id", "user_id", "value", "hour")
      .selectExpr("user_id", "event_id", "value",
        "cast(value as long) AS mv",
        "to_timestamp(printf('2024-01-01 %02d:00:00', hour)) AS ts")
    // per-variable measures: stream long form vs batch wide reshaped
    val streamedM = spark.read.parquet(base.resolve("outm").toString)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    val batchWide = operators.EventAnalytics.matchVarMeasures(
        frame, comps, skip, Seq("user_id"), Seq("ts", "event_id"),
        "event_id", "mv")(classify)
      .collect()
    val batchM = batchWide.flatMap { r =>
      // cols: user_id, match_seq, start_id, end_id, then (n, sum)×comp;
      // the streaming SUBSET w = (d, u) rows are the member sums
      Seq("s", "d", "u").zipWithIndex.map { case (n, i) =>
        (r.getLong(0), r.getLong(1), n, r.getLong(4 + 2 * i),
          r.getLong(5 + 2 * i))
      } :+ ((r.getLong(0), r.getLong(1), "w",
        r.getLong(6) + r.getLong(8), r.getLong(7) + r.getLong(9)))
    }.toSet
    assert(streamedM == batchM, s"$streamedM != $batchM")
    // the boundary-crossing match aggregated rows from BOTH chunks
    assert(streamedM.contains((1L, 1L, "d", 2L, 70L)) &&
      streamedM.contains((1L, 1L, "u", 2L, 80L)), streamedM)
    // labeled ALL ROWS: stream vs batch fold
    val streamedR = spark.read.parquet(base.resolve("outr").toString)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    val batchR = operators.EventAnalytics.matchRowsSkip(
        frame, comps, skip, Seq("user_id"), Seq("ts", "event_id"),
        "event_id")(classify)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    assert(streamedR == batchR, s"$streamedR != $batchR")
    // user 2's shared peak row (id 13) emits once per match, labeled
    // u in the first and s (the anchor) in the second
    assert(streamedR.contains((2L, 1L, 3L, 13L, "u")) &&
      streamedR.contains((2L, 2L, 1L, 13L, "s")), streamedR)
    // exactly-once across all emissions
    val allR = spark.read.parquet(base.resolve("outr").toString).collect()
    assert(allR.length == allR.map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2))).distinct.length, "a labeled row emitted twice")
  }

  test("streaming RUNNING/FINAL measures: classified replay with " +
    "restart equals the batch fold (round 13)") {
    // U+D over value walks classified inside the state: user 1's first
    // match STARTS in chunk 1 (two U rows) and confirms in chunk 2 (the
    // D terminator) — the ring + prev row must round-trip the
    // checkpoint; user 2's match confirms entirely inside chunk 1, so
    // emission-before-restart is covered too
    def writeValChunk(dir: java.nio.file.Path, name: String,
                      evs: Seq[(Long, Long, Double, Int)]): Unit = {
      val lines = evs.map { case (id, user, v, hour) =>
        s"""{"event_id":$id,"user_id":$user,"event_type":"order",""" +
          f""""value":$v%.1f,"ts_str":"2024-01-01 $hour%02d:00:00.000000",""" +
          s""""props":"{}"}"""
      }
      Files.write(dir.resolve(name), lines.mkString("\n").getBytes("UTF-8"))
    }
    val c1 = Seq((1L, 1L, 10.0, 1), (2L, 1L, 20.0, 2),
      (11L, 2L, 8.0, 1), (12L, 2L, 9.0, 2), (13L, 2L, 3.0, 3))
    val c2 = Seq((3L, 1L, 30.0, 3), (4L, 1L, 15.0, 4),
      (5L, 1L, 25.0, 5), (6L, 1L, 5.0, 6))
    val classify: (org.apache.spark.sql.Row,
      org.apache.spark.sql.Row) => Char = (prev, cur) =>
      if (prev == null) 'o'
      else {
        val p = prev.getAs[Double]("value")
        val c = cur.getAs[Double]("value")
        if (c > p) 'U' else if (c < p) 'D' else 'e'
      }
    val base = Files.createTempDirectory("graft_ceprun")
    val src = Files.createDirectory(base.resolve("src"))
    def run(): Unit = {
      val in = StreamingIngest.parse(spark.readStream.text(src.toString))
        .withColumn("mv", expr("cast(value as long)"))
      val q = api.Events.matchRowsRunningStreamBy(
          spark, in, "U+D", "mv")(classify)
        .writeStream.format("parquet")
        .option("path", base.resolve("out").toString)
        .outputMode("append")
        .option("checkpointLocation", base.resolve("cp").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeValChunk(src, "b1.json", c1)
    run()
    // only user 2's match (U at id 12, D at id 13) can confirm inside
    // chunk 1; user 1's attempt is still open
    val afterC1 = spark.read.parquet(base.resolve("out").toString)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5), r.getLong(6))).toSet
    assert(afterC1 == Set(
      (2L, 1L, 1L, 12L, "U", 9L, 12L),
      (2L, 1L, 2L, 13L, "D", 12L, 12L)), afterC1)
    writeValChunk(src, "b2.json", c2)
    run() // restart — ring + prev row reload from the state store
    import spark.implicits._
    val frame = (c1 ++ c2).toDF("event_id", "user_id", "value", "hour")
      .selectExpr("user_id", "event_id", "value",
        "cast(value as long) AS mv",
        "to_timestamp(printf('2024-01-01 %02d:00:00', hour)) AS ts")
    val streamed = spark.read.parquet(base.resolve("out").toString)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5), r.getLong(6))).toSet
    val batch = operators.EventAnalytics.matchRowsRunning(
        frame, "U+D", Seq("user_id"), Seq("ts", "event_id"),
        "event_id", "mv")(classify)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5), r.getLong(6))).toSet
    assert(streamed == batch, s"$streamed != $batch")
    // the boundary-crossing match: U(20) fed pre-restart, U(30) D(15)
    // post — running walks 20, 50, 65; final 65 on every row, equal to
    // running on the last (the SQL:2016 RUNNING/FINAL law)
    assert(streamed.contains((1L, 1L, 1L, 2L, "U", 20L, 65L)) &&
      streamed.contains((1L, 1L, 2L, 3L, "U", 50L, 65L)) &&
      streamed.contains((1L, 1L, 3L, 4L, "D", 65L, 65L)), streamed)
    // user 1's second match confirms post-restart off carried state
    assert(streamed.contains((1L, 2L, 1L, 5L, "U", 25L, 30L)) &&
      streamed.contains((1L, 2L, 2L, 6L, "D", 30L, 30L)), streamed)
    // exactly-once: no (user, match, ord) emitted twice
    val all = spark.read.parquet(base.resolve("out").toString).collect()
    assert(all.length == all.map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2))).distinct.length, "a running row emitted twice")
  }

  test("streaming FIRST/LAST navigation: classified replay with " +
    "restart equals the batch fold, with an empty-component match and " +
    "a NULL-valued boundary row in the stream (round 14)") {
    // V-shape comps (s=., d=D+, u=U*) under PAST LAST ROW: user 1's
    // match STARTS in chunk 1 (s + an open d run) and confirms in
    // chunk 2 — the scanner's buffered attempt + prev row must
    // round-trip the checkpoint; user 2's first match confirms inside
    // chunk 1 with an EMPTY u component (U* matched zero rows —
    // navigation-on-empty must emit None in the STREAM) and a NULL
    // measure on its d_first boundary row (value-preserving
    // navigation must emit None, not 0)
    def writeValChunk(dir: java.nio.file.Path, name: String,
                      evs: Seq[(Long, Long, Double, Int)]): Unit = {
      val lines = evs.map { case (id, user, v, hour) =>
        s"""{"event_id":$id,"user_id":$user,"event_type":"order",""" +
          f""""value":$v%.1f,"ts_str":"2024-01-01 $hour%02d:00:00.000000",""" +
          s""""props":"{}"}"""
      }
      Files.write(dir.resolve(name), lines.mkString("\n").getBytes("UTF-8"))
    }
    // classify: o on first, U/D/e on value vs PREV(value)
    val c1 = Seq((1L, 1L, 50.0, 1), (2L, 1L, 40.0, 2),
      (11L, 2L, 30.0, 1), (12L, 2L, 20.0, 2), (13L, 2L, 10.0, 3),
      (14L, 2L, 10.0, 4))
    // NOTE: every tail attempt is left EOF-UNCONFIRMABLE (user 1's 6
    // is a U so no D+ can anchor after match 1; user 2's 17 is a bare
    // s) — the batch fold's finish() would otherwise confirm a final
    // match the stream, lacking end-of-stream evidence, must not emit
    val c2 = Seq((3L, 1L, 30.0, 3), (4L, 1L, 45.0, 4), (5L, 1L, 44.0, 5),
      (6L, 1L, 45.0, 6),
      (15L, 2L, 5.0, 5), (16L, 2L, 8.0, 6), (17L, 2L, 1.0, 7))
    val classify: (org.apache.spark.sql.Row,
      org.apache.spark.sql.Row) => Char = (prev, cur) =>
      if (prev == null) 'o'
      else {
        val p = prev.getAs[Double]("value")
        val c = cur.getAs[Double]("value")
        if (c > p) 'U' else if (c < p) 'D' else 'e'
      }
    val comps = Seq("s" -> ".", "d" -> "D+", "u" -> "U*")
    val skip = graft.functions.RowPattern.SkipMode.PastLast
    // event 12 carries a NULL measure; classification still runs on
    // the (non-null) value column
    val mvExpr =
      "case when event_id = 12 then cast(null as long) " +
        "else cast(value as long) end"
    val base = Files.createTempDirectory("graft_cepnav")
    val src = Files.createDirectory(base.resolve("src"))
    def run(): Unit = {
      val in = StreamingIngest.parse(spark.readStream.text(src.toString))
        .withColumn("mv", expr(mvExpr))
      val q = api.Events.matchVarNavStreamBy(
          spark, in, comps, skip, "mv")(classify)
        .writeStream.format("parquet")
        .option("path", base.resolve("out").toString)
        .outputMode("append")
        .option("checkpointLocation", base.resolve("cp").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeValChunk(src, "b1.json", c1)
    run()
    def collectNav(): Set[(Long, Long, Long, Long, String,
        Option[Long], Option[Long])] =
      spark.read.parquet(base.resolve("out").toString).collect().map { r =>
        def opt(i: Int): Option[Long] =
          if (r.isNullAt(i)) None else Some(r.getLong(i))
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4), opt(5), opt(6))
      }.toSet
    // chunk 1: only user 2's first match can confirm (o D D then the
    // 'e' at 14 proves both D+ and U* are done) — s=11, d={12,13},
    // u=∅; user 1's attempt is still open
    val afterC1 = collectNav()
    assert(afterC1 == Set(
      (2L, 1L, 11L, 13L, "s", Some(30L), Some(30L)),
      (2L, 1L, 11L, 13L, "d", None, Some(10L)),
      (2L, 1L, 11L, 13L, "u", None, None)), afterC1)
    writeValChunk(src, "b2.json", c2)
    run() // restart — scanner + prev row reload from the state store
    import spark.implicits._
    val frame = (c1 ++ c2).toDF("event_id", "user_id", "value", "hour")
      .selectExpr("user_id", "event_id", "value", s"($mvExpr) AS mv",
        "to_timestamp(printf('2024-01-01 %02d:00:00', hour)) AS ts")
    val streamed = collectNav()
    // batch twin (the ev_vshape_firstlast path), wide → long reshape
    val batch = operators.EventAnalytics.matchVarNav(
        frame, comps, skip, Seq("user_id"), Seq("ts", "event_id"),
        "event_id", "mv")(classify)
      .collect().flatMap { r =>
        def opt(i: Int): Option[Long] =
          if (r.isNullAt(i)) None else Some(r.getLong(i))
        Seq("s", "d", "u").zipWithIndex.map { case (n, i) =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), n,
            opt(4 + 2 * i), opt(5 + 2 * i))
        }
      }.toSet
    assert(streamed == batch, s"$streamed != $batch")
    // the checkpoint-crossing match: s=1, d={2,3} (2 fed pre-restart,
    // 3 post), u={4} — confirmed by the D at 5 off carried state
    assert(streamed.contains((1L, 1L, 1L, 4L, "s", Some(50L), Some(50L)))
      && streamed.contains((1L, 1L, 1L, 4L, "d", Some(40L), Some(30L)))
      && streamed.contains((1L, 1L, 1L, 4L, "u", Some(45L), Some(45L))),
      streamed)
    // user 2's second match confirms post-restart: s=14, d={15}, u={16}
    assert(streamed.contains((2L, 2L, 14L, 16L, "d", Some(5L), Some(5L))),
      streamed)
    // exactly-once: no (user, match, var) emitted twice
    val all = spark.read.parquet(base.resolve("out").toString).collect()
    assert(all.length == all.map(r => (r.getLong(0), r.getLong(1),
      r.getString(4))).distinct.length, "a nav row emitted twice")
  }

  test("t10_cep_twin equals CepPattern.matches run in batch mode") {
    // the streaming count mode over the batch events frame (each key's
    // whole history in one group) against the oracle-checked twin
    val folded = CepPattern.matches(spark, Tables.events(spark, sf),
        "v[co]*p")
      .collect().map(u => u.user_id -> u.n_matches).toMap
    val twin = operators.Streaming.queries("t10_cep_twin")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(twin.nonEmpty)
    assert(twin === folded)
    // the corpus actually exercises the pattern
    assert(twin.values.exists(_ > 0))
  }

  test("the spanning match is absent before the second chunk") {
    val base = Files.createTempDirectory("graft_cepspan")
    val src = Files.createDirectory(base.resolve("src"))
    writeChunk(src, "b1.json", chunk1)
    val q = CepPattern
      .matches(spark, StreamingIngest.parse(
        spark.readStream.text(src.toString)), "v[co]*p")
      .writeStream.format("parquet")
      .option("path", base.resolve("out").toString)
      .outputMode("append")
      .option("checkpointLocation", base.resolve("cp").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val after1 = spark.read.parquet(base.resolve("out").toString)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // user 1 is mid-attempt (v c …), user 3 already closed one funnel
    assert(after1 === Map(1L -> 0L, 2L -> 0L, 3L -> 1L))
  }
}
