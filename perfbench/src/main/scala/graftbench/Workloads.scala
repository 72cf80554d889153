package graftbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables
import graft.jobs.{CurationPipeline, CustomerStandardize, InvoiceParse,
  SalesEnrich, TableIO}
import graft.operators.Curation
import graft.streaming.ChainedDag

/** Helpers shared by the workloads. */
object W {
  /** `body` under a span when tracing, plain otherwise. */
  def sp[T](t: Option[Tracer], kind: String, name: String)(body: => T): T =
    t.fold(body)(_.span(kind, name)(body))

  def spans(all: Seq[Span], kind: String, name: String): Seq[Span] =
    all.filter(s => s.kind == kind && s.name == name)

  /** Part files under `dir`, at any depth. */
  def files(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) files(f)
      else if (f.getName.startsWith("part-")) Seq(f) else Nil
    }
}

/** Named queries from graft's registry, timed as build + full answer. */
object Query {
  private lazy val registry = graft.SparkEntry.queries

  /** Build `q` (the query function returning its DataFrame: eager
    * driver-side work happens here) and evaluate its full answer.
    * Returns (build s, exec s, process CPU s). */
  def run(ctx: Ctx, q: String, t: Option[Tracer]): (Double, Double, Double) =
    W.sp(t, "query", q) {
      val c0 = Clock.cpuNs
      val t0 = System.nanoTime()
      val df = W.sp(t, "build", q)(build(ctx, q))
      val t1 = System.nanoTime()
      W.sp(t, "exec", q)(FullAnswer.run(df))
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (Clock.cpuNs - c0) / 1e9)
    }

  def build(ctx: Ctx, q: String): DataFrame = registry(q)(ctx.spark, ctx.data)

  /** One timed operation: `run`, with a failure recorded rather than
    * thrown. */
  def op(ctx: Ctx, q: String, s: Samples, t: Option[Tracer])
      : Option[(Double, Double, Double)] = {
    s.attempted += 1
    try Some(run(ctx, q, t))
    catch { case e: Exception => s.fail(q, e); None }
  }
}

/** The curation DAG: customer_processed -> invoice_processed ||
  * sales_enrich_curated, each overwriting a curated table. */
object Curate {
  private val prefix = "graft_curated"
  /** DAG task -> the table it overwrites -> the oracle of its content. */
  val tasks = Seq(
    ("customer_processed", s"${prefix}_customer", "d2_customer_standardize"),
    ("invoice_processed", s"${prefix}_invoice", "d2_invoice_parse"),
    ("sales_enrich_curated", s"${prefix}_product_sales", "d2_sales_enrich"))
  private var filesPerRun = 0L

  /** One DAG run; returns its wall and process CPU seconds. */
  def dag(ctx: Ctx, s: Samples, t: Option[Tracer]): (Double, Double) = {
    val (status, wall, cpu) = Clock.time(W.sp(t, "part", "curate.dag")(
      CurationPipeline(ctx.data, prefix).run(ctx.spark)))
    s.attempted += status.size
    status.filter(_._2 != "ok").foreach { case (task, st) =>
      s.failures += s"curate $task: $st" }
    s.partA += wall
    (wall, cpu)
  }

  def warm(ctx: Ctx, s: Samples): Unit = {
    graft.Medallion.init(ctx.spark, ctx.data)
    dag(ctx, s, None)
    filesPerRun = tasks.map(t =>
      W.files(new File(ctx.root, s"warehouse/${t._2}")).size.toLong).sum
  }

  /** Each task once through its job's public entry point, then the same
    * transform evaluated into the noop sink: the difference is the
    * table write. */
  def layerWork(ctx: Ctx, t: Tracer): Unit = for (_ <- 1 to 2) {
    val s = ctx.spark
    val d = ctx.data
    val raw = s"${prefix}_customer_raw"
    def timed(task: String)(write: => Unit)(compute: => DataFrame): Unit = {
      ctx.resetCaches()
      t.span("task", task)(write)
      ctx.resetCaches()
      t.span("compute", task)(FullAnswer.run(compute))
    }
    timed("customer_processed") {
      Curation.customerInput(s, d).createOrReplaceTempView(raw)
      CustomerStandardize.run(s, raw, s"${prefix}_customer")
    }(CustomerStandardize.transform(s.table(raw)))
    timed("invoice_processed") {
      TableIO.overwrite(s, InvoiceParse.parse(Curation.invoiceRawText(s, d)),
        s"${prefix}_invoice")
    }(InvoiceParse.parse(Curation.invoiceRawText(s, d)))
    timed("sales_enrich_curated") {
      SalesEnrich.run(s, d, s"${prefix}_product_sales")
    }(SalesEnrich.transform(Tables(s, d, "lineitem"), Tables(s, d, "orders"),
      Tables(s, d, "customer"), Tables(s, d, "part")))
  }

  def layers(all: Seq[Span]): Seq[Metric] = {
    val perTask = tasks.flatMap { case (task, _, _) =>
      val run = Stats.median(W.spans(all, "task", task).map(_.wallS))
      val compute = Stats.median(W.spans(all, "compute", task).map(_.wallS))
      Seq(Metric(s"curate.$task.s", run, "s"),
        Metric(s"curate.$task.compute_s", compute, "s"),
        Metric(s"curate.$task.write_s", run - compute, "s"))
    }
    val dags = W.spans(all, "part", "curate.dag").map(_.total)
    def m(f: Counters => Double) = Stats.median(dags.map(f))
    perTask ++ Seq(
      Metric("curate.plan_ms", m(_.planMs.toDouble), "ms"),
      Metric("curate.executor_cpu_s", m(_.cpuNs / 1e9), "s"),
      Metric("curate.shuffle_bytes", m(_.shuffleBytes.toDouble), "B"),
      Metric("curate.spill_bytes", m(_.spillBytes.toDouble), "B"),
      Metric("curate.gc_s", m(_.gcMs / 1e3), "s"),
      Metric("curate.bytes_written", m(_.bytesWritten.toDouble), "B"),
      Metric("curate.files_written", filesPerRun.toDouble, "count"),
      Metric("curate.tasks", m(_.tasks.toDouble), "count"))
  }

  /** The curated tables as the last DAG run left them in the warehouse. */
  def checks(ctx: Ctx): Seq[Map[String, Any]] = tasks.map {
    case (_, table, oracle) => Map("kind" -> "digest", "name" -> oracle,
      "path" -> new File(ctx.root, s"warehouse/$table").getAbsolutePath)
  }
}

/** The two-stage streaming DAG over the TxnFeed source: stage 1 parses
  * and curates micro-batches into parquet, stage 2 streams that sink into
  * watermarked 10 s window totals. */
object Stream {
  val Messages = 50000L
  val PerBatch = 10000L // the reference sink's 10,000-record flush
  private var last: Option[(String, String, String)] = None
  private var filesPerRun = 0L

  private def await(q: StreamingQuery, s: Samples, what: String): Unit =
    try q.awaitTermination()
    catch { case e: Exception => s.fail(s"stream $what", e) }

  /** Drain the feed through both stages into fresh sinks; returns the
    * wall and process CPU seconds from stage-1 start to stage-2 end. */
  def drain(ctx: Ctx, s: Samples, t: Option[Tracer]): (Double, Double) =
    W.sp(t, "part", "stream.drain") {
      val spark = ctx.spark
      val base = ctx.fresh("stream")
      val (cur, win) = (s"$base/curated", s"$base/windows")
      val c0 = Clock.cpuNs
      val t0 = System.nanoTime()
      val q1 = W.sp(t, "stage", "stream.stage1") {
        val q = ChainedDag.startCuration(spark, Messages, PerBatch, cur,
          s"$base/ck1")
        t.foreach(_.bindQuery(q.id))
        await(q, s, "stage 1")
        q
      }
      val t1 = System.nanoTime()
      val q2 = W.sp(t, "stage", "stream.stage2") {
        val q = ChainedDag.startWindowed(spark, cur, win, s"$base/ck2")
        t.foreach(_.bindQuery(q.id))
        await(q, s, "stage 2")
        q
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val batches = q1.recentProgress.filter(_.numInputRows > 0)
      s.attempted += q1.recentProgress.length + q2.recentProgress.length
      batches.foreach(b =>
        s.op("batch", b.durationMs.get("triggerExecution").doubleValue))
      s.partB += wall
      s.items += batches.map(_.numInputRows).sum
      s.itemsWall += (t1 - t0) / 1e9
      val watermark = Option(q2.lastProgress).flatMap(p =>
        Option(p.eventTime.get("watermark"))).getOrElse("")
      last = Some((cur, win, watermark))
      filesPerRun = (W.files(new File(cur)) ++ W.files(new File(win))).size
      (wall, (Clock.cpuNs - c0) / 1e9)
    }

  private def feed(ctx: Ctx): DataFrame = ctx.spark.read.format("txnfeed")
    .option("total", Messages.toString).load()

  /** The batch twins: the source alone, and stage 1's transform over a
    * batch read; against stage 1's wall time they split out the
    * micro-batch overhead. */
  def layerWork(ctx: Ctx, t: Tracer): Unit = for (_ <- 1 to 2) {
    ctx.resetCaches()
    t.span("layer", "stream.source")(FullAnswer.run(feed(ctx)))
    ctx.resetCaches()
    t.span("layer", "stream.curate_batch")(
      FullAnswer.run(ChainedDag.curate(feed(ctx))))
  }

  def layers(all: Seq[Span]): Seq[Metric] = {
    val byId = all.map(s => s.id -> s).toMap
    def under(stage: String) = all.filter(s => s.kind == "batch" &&
      byId.get(s.parent).exists(_.name == stage))
    val b1 = under("stream.stage1")
    val b2 = under("stream.stage2")
    val drains = W.spans(all, "part", "stream.drain")
    def perDrain(f: Seq[Span] => Double) = Stats.median(drains.map { d =>
      val stages = all.filter(_.parent == d.id).map(_.id).toSet
      f(b2.filter(b => stages.contains(b.parent)))
    })
    def peak(k: String)(bs: Seq[Span]) =
      bs.map(_.detail.getOrElse(k, 0.0)).foldLeft(0.0)(math.max)
    Seq(
      Metric("stream.source_s",
        Stats.median(W.spans(all, "layer", "stream.source").map(_.wallS)), "s"),
      Metric("stream.curate_batch_s",
        Stats.median(W.spans(all, "layer", "stream.curate_batch").map(_.wallS)), "s")
    ) ++ Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets",
      "latestOffset", "getBatch").map { k =>
      Metric(s"stream.batch.${k}_ms",
        Stats.median(b1.map(_.detail.getOrElse(k, 0.0))), "ms")
    } ++ Seq(
      Metric("stream.files_written", filesPerRun.toDouble, "count"),
      Metric("stream.bytes_written",
        Stats.median(drains.map(_.total.bytesWritten.toDouble)), "B"),
      Metric("stream.window_s",
        Stats.median(W.spans(all, "stage", "stream.stage2").map(_.wallS)), "s"),
      Metric("stream.state_rows_total", perDrain(peak("stateRows")), "count"),
      Metric("stream.state_memory_bytes", perDrain(peak("stateMemoryBytes")),
        "B"),
      Metric("stream.rows_dropped_by_watermark",
        perDrain(_.map(_.detail.getOrElse("droppedByWatermark", 0.0)).sum),
        "count"),
      Metric("stream.executor_cpu_s",
        Stats.median(drains.map(_.total.cpuNs / 1e9)), "s"))
  }

  def checks(ctx: Ctx): Seq[Map[String, Any]] = last.toSeq.flatMap {
    case (cur, win, watermark) =>
      val twin = ctx.fresh("check-stream-twin")
      ChainedDag.windowedTotals(ChainedDag.curate(feed(ctx)))
        .coalesce(1).write.mode("overwrite").parquet(twin)
      Seq(
        Map("kind" -> "offsets", "name" -> "stream stage-1 sink",
          "path" -> cur, "expected" -> Messages),
        Map("kind" -> "windows", "name" -> "stream stage-2 windows",
          "path" -> win, "twin" -> twin, "watermark" -> watermark))
  }
}

/** The write path of one hour: the curation DAG, then the streaming
  * append drained through both stages. Part A of a unit is the DAG run,
  * part B the drain; operations are the stage-1 micro-batches. */
object Ingest extends Workload {
  val name = "ingest"
  val minUnits = 2

  def warm(ctx: Ctx, s: Samples): Unit = {
    Curate.warm(ctx, s)
    Stream.drain(ctx, s, None)
  }

  def unit(ctx: Ctx, s: Samples, t: Option[Tracer]): Unit =
    W.sp(t, "unit", "ingest") {
      val (w1, c1) = Curate.dag(ctx, s, t)
      ctx.resetCaches()
      val (w2, c2) = Stream.drain(ctx, s, t)
      s.unit(w1 + w2, c1 + c2)
    }

  override def layerWork(ctx: Ctx, t: Tracer): Unit = {
    Curate.layerWork(ctx, t)
    Stream.layerWork(ctx, t)
  }

  def layers(all: Seq[Span]): Seq[Metric] =
    Curate.layers(all) ++ Stream.layers(all)

  def checks(ctx: Ctx): Seq[Map[String, Any]] =
    Curate.checks(ctx) ++ Stream.checks(ctx)
}

/** Gold serving: the two apps' SQL (the unpaid-invoice drill-down, the
  * recommender's HAVING qualification and anti-join) plus the invoice
  * view, and the recommendation itself. A unit is one pass over them in a
  * seeded order; each app query comes `AppRepeats` times per pass, so its
  * latency percentiles rest on several samples. Part A of a unit is the
  * app queries' time, part B the recommender's; operations are the app
  * queries. */
object Serve extends Workload {
  val name = "serve"
  val minUnits = 2
  val apps = Seq("j3_unpaid_orders", "j4_semi_having", "j5_anti_join",
    "vw_invoice_view")
  val recommender = "ml_recommend"
  val queries: Seq[String] = apps :+ recommender
  val AppRepeats = 2
  private var cold = Map.empty[String, Double]
  private var dumps = Seq.empty[Map[String, Any]]

  /** The cold pass writes each answer for the output checks instead of
    * discarding it, which spares the run a further evaluation of the
    * recommender; a second round warms the app queries' timed path. */
  def warm(ctx: Ctx, s: Samples): Unit = {
    dumps = ctx.rng.shuffle(queries).flatMap { q =>
      ctx.resetCaches()
      s.attempted += 1
      val t0 = System.nanoTime()
      try {
        val d = Harness.dump(ctx, q, Query.build(ctx, q))
        cold += q -> (System.nanoTime() - t0) / 1e9
        Some(d)
      } catch { case e: Exception => s.fail(q, e); None }
    }
    apps.foreach { q => ctx.resetCaches(); Query.op(ctx, q, s, None) }
  }

  def unit(ctx: Ctx, s: Samples, t: Option[Tracer]): Unit =
    W.sp(t, "unit", "serve.pass") {
      var wall = 0.0
      var cpu = 0.0
      var appsS = 0.0
      var n = 0
      ctx.rng.shuffle(apps.flatMap(Seq.fill(AppRepeats)(_)) :+ recommender)
        .foreach { q =>
          ctx.resetCaches()
          Query.op(ctx, q, s, t).foreach { case (b, e, c) =>
            wall += b + e
            cpu += c
            n += 1
            // operation latency percentiles are the app queries'
            if (q != recommender) { s.op(q, (b + e) * 1e3); appsS += b + e }
            else s.partB += b + e
          }
        }
      s.partA += appsS
      s.unit(wall, cpu)
      s.items += n
      s.itemsWall += wall
    }

  def layers(all: Seq[Span]): Seq[Metric] = {
    def runs(kind: String, q: String) = W.spans(all, kind, q)
    def m(q: String)(f: Span => Double) = Stats.median(runs("query", q).map(f))
    apps.flatMap { q =>
      Seq(Metric(s"interactive.$q.p50_ms", m(q)(_.wallS * 1e3), "ms"),
        Metric(s"interactive.$q.plan_ms", m(q)(_.total.planMs.toDouble), "ms"),
        Metric(s"interactive.$q.jobs", m(q)(_.total.jobs.toDouble), "count"),
        Metric(s"interactive.$q.tasks", m(q)(_.total.tasks.toDouble), "count"),
        Metric(s"interactive.$q.executor_cpu_ms", m(q)(_.total.cpuNs / 1e6),
          "ms"))
    } ++ {
      val q = recommender
      val p = s"analytics.$q"
      Seq(Metric(s"$p.s", m(q)(_.wallS), "s"),
        Metric(s"$p.build_s", Stats.median(runs("build", q).map(_.wallS)), "s"),
        Metric(s"$p.plan_ms", m(q)(_.total.planMs.toDouble), "ms"),
        Metric(s"$p.exec_s", Stats.median(runs("exec", q).map(_.wallS)), "s"),
        Metric(s"$p.jobs", m(q)(_.total.jobs.toDouble), "count"),
        Metric(s"$p.executor_cpu_s", m(q)(_.total.cpuNs / 1e9), "s"),
        Metric(s"$p.shuffle_bytes", m(q)(_.total.shuffleBytes.toDouble), "B"),
        Metric(s"$p.spill_bytes", m(q)(_.total.spillBytes.toDouble), "B"),
        Metric(s"$p.cold_s", cold.getOrElse(q, Double.NaN), "s"))
    }
  }

  def checks(ctx: Ctx): Seq[Map[String, Any]] = dumps
}
