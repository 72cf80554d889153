package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a run measured: one entry per unit of work, the latency of each
  * operation under the units, and operation outcomes. An operation is a
  * DAG task, a micro-batch or a query; output checks are added by
  * run.py. */
final class Samples {
  val unitWall = mutable.ArrayBuffer.empty[Double] // s
  val unitCpu = mutable.ArrayBuffer.empty[Double] // s of process CPU
  val opMs = mutable.ArrayBuffer.empty[Double]
  val partA = mutable.ArrayBuffer.empty[Double] // s, see each workload
  val partB = mutable.ArrayBuffer.empty[Double]
  val byName = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var items = 0L // rows, messages or queries the units delivered
  var itemsWall = 0.0 // s over which `items` were delivered
  var attempted = 0
  val failures = mutable.ArrayBuffer.empty[String]

  def unit(wall: Double, cpu: Double): Unit = { unitWall += wall; unitCpu += cpu }

  /** Record an operation's latency. */
  def op(name: String, ms: Double): Unit = {
    opMs += ms
    byName.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
  }

  def fail(what: String, e: Throwable): Unit = {
    failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
      .take(400)
    System.err.println(s"[perfbench] FAILED $what")
    e.printStackTrace()
  }
}

object Stats {
  /** Python's statistics.quantiles(method="exclusive") at quantile p. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size == 1) s.head
    else {
      val h = (s.size + 1) * p - 1
      val lo = math.max(0, math.min(s.size - 1, math.floor(h).toInt))
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * math.max(0.0, math.min(1.0, h - lo))
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Everything a workload needs: the session, its inputs, a private
  * scratch root and the seeded generator that orders its operations. */
final class Ctx(val spark: SparkSession, val data: String, val root: File,
                val seed: Long) {
  val rng = new scala.util.Random(seed)
  private var dirs = 0

  /** A fresh directory under this run's scratch root. */
  def fresh(tag: String): String = {
    dirs += 1
    val d = new File(root, s"$tag-$dirs")
    d.mkdirs()
    d.getAbsolutePath
  }

  /** Clear every cache between timed operations, as graft.Bench does:
    * cached tables plus raw persisted RDDs (which clearCache misses). */
  def resetCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}

object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  /** Wall seconds and process CPU seconds of `body`. */
  def time[T](body: => T): (T, Double, Double) = {
    val c0 = cpuNs
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9, (cpuNs - c0) / 1e9)
  }
}

/** One of the benchmark's workloads. A unit is the repeated piece of work
  * whose median the end-to-end metrics report. */
trait Workload {
  def name: String

  /** Warm-up; counted in setup_s. */
  def warm(ctx: Ctx, s: Samples): Unit

  /** One timed unit of work. With a tracer, the unit runs under spans. */
  def unit(ctx: Ctx, s: Samples, tracer: Option[Tracer]): Unit

  /** Fewest units whose median the run reports. */
  def minUnits: Int

  /** Per-layer work done only in a traced run, after the units. */
  def layerWork(ctx: Ctx, tracer: Tracer): Unit = ()

  /** The workload's own per-layer detail, read from the span tree. */
  def layers(spans: Seq[Span]): Seq[Metric]

  /** Write this run's outputs for run.py's checks; return their specs. */
  def checks(ctx: Ctx): Seq[Map[String, Any]]
}

final case class Metric(name: String, value: Double, unit: String)

object Harness {
  val workloads: Seq[Workload] = Seq(Ingest, Serve)

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val root = new File(opt("root"))
    val w = workloads.find(_.name == opt("workload")).getOrElse(
      sys.error(s"unknown workload ${opt("workload")}"))
    val out = mutable.LinkedHashMap.empty[String, Any]
    out("loadavg_start") = loadavg()

    val spark = session(root)
    val sessionS = uptimeS
    val ctx = new Ctx(spark, opt("data"), root, seed)
    val setup = new Samples
    val (_, warmS, _) = Clock.time(w.warm(ctx, setup))
    // process start to the first timed operation
    val setupS = uptimeS
    out("setup_phases_s") = Map("jvm_and_session" -> sessionS,
      "warm_up" -> warmS)

    val plain = new Samples
    val metrics = mutable.ArrayBuffer.empty[Metric]
    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer match {
      case None =>
        loop(seconds, w.minUnits) { ctx.resetCaches(); w.unit(ctx, plain, None) }
        metrics += Metric("setup_s", setupS, "s")
        metrics ++= endToEnd(plain)
      case Some(t) =>
        // untraced and traced units in the order A B B A, at least two of
        // each: the traced-against-untraced ratio of each end-to-end metric
        // is the tracing overhead, and warm-up or machine drift falls on
        // both sides alike
        val withT = new Samples
        var i = 0
        loop(seconds, 4) {
          ctx.resetCaches()
          if (i % 4 == 0 || i % 4 == 3) w.unit(ctx, plain, None)
          else {
            t.attach()
            t.span("workload", w.name)(w.unit(ctx, withT, Some(t)))
            t.detach()
          }
          i += 1
        }
        t.attach()
        t.span("workload", w.name)(w.layerWork(ctx, t))
        val spans = t.finish()
        t.detach()
        val base = endToEnd(plain).map(m => m.name -> m.value).toMap
        metrics ++= endToEnd(withT).map(m =>
          Metric(s"overhead.${m.name}", m.value / base(m.name), "ratio"))
        metrics ++= layers(spans)
        out("untraced") = metricMap(endToEnd(plain))
        out("traced") = metricMap(endToEnd(withT))
        out("layers") = metricMap(w.layers(spans))
        writeSpans(new File(opt("spans")), spans)
        plain.attempted += withT.attempted
        plain.failures ++= withT.failures
    }
    out("loadavg_end") = loadavg()

    out("checks") =
      try w.checks(ctx)
      catch { case e: Exception => plain.fail(s"${w.name} checks", e); Nil }
    metrics += Metric("peak_rss_mb", peakRssMb(), "MB")
    out("metrics") = metricMap(metrics.toSeq)
    out("attempted") = setup.attempted + plain.attempted
    out("failures") = setup.failures ++ plain.failures
    out("units") = plain.unitWall.size
    out("ops") = plain.opMs.size
    out("op_ms") = plain.byName
    out("meta") = meta(spark, seed, seconds, traced)
    spark.stop()
    Files.write(Paths.get(opt("result")), Json(out).getBytes(UTF_8))
  }

  private def uptimeS: Double =
    ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  private def metricMap(ms: Seq[Metric]): Map[String, Any] =
    ms.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap

  /** Per-layer metrics every workload has, as medians over the traced
    * units: what the jobs under a unit cost, and how much of the unit's
    * wall time no Spark job covers (driver-side building, planning,
    * commits and file operations). */
  def layers(spans: Seq[Span]): Seq[Metric] = {
    val kids = spans.groupBy(_.parent)
    def jobsUnder(s: Span): Seq[Span] = kids.getOrElse(s.id, Nil).flatMap(k =>
      if (k.kind == "job") Seq(k) else jobsUnder(k))
    val units = spans.filter(_.kind == "unit")
    def m(name: String, unit: String)(f: Span => Double) =
      Metric(name, Stats.median(units.map(f)), unit)
    Seq(
      m("plan_ms", "ms")(_.total.planMs.toDouble),
      m("jobs_s", "s")(u => Tracer.covered(jobsUnder(u))),
      m("driver_s", "s")(u => u.wallS - Tracer.covered(jobsUnder(u))),
      m("jobs", "count")(_.total.jobs.toDouble),
      m("tasks", "count")(_.total.tasks.toDouble),
      m("executor_cpu_s", "s")(_.total.cpuNs / 1e9),
      m("shuffle_bytes", "B")(_.total.shuffleBytes.toDouble),
      m("spill_bytes", "B")(_.total.spillBytes.toDouble),
      m("gc_s", "s")(_.total.gcMs / 1e3),
      m("bytes_written", "B")(_.total.bytesWritten.toDouble))
  }

  /** The generic end-to-end metrics of one workload's samples. */
  def endToEnd(s: Samples): Seq[Metric] = Seq(
    Metric("unit_s", Stats.median(s.unitWall.toSeq), "s"),
    // process CPU time is counted in 10 ms ticks: a mean over the units
    // keeps the resolution a median would lose
    Metric("unit_cpu_s", s.unitCpu.sum / s.unitCpu.size, "s"),
    Metric("part_a_s", Stats.median(s.partA.toSeq), "s"),
    Metric("part_b_s", Stats.median(s.partB.toSeq), "s"),
    Metric("op_p50_ms", Stats.quantile(s.opMs.toSeq, 0.5), "ms"),
    Metric("op_p90_ms", Stats.quantile(s.opMs.toSeq, 0.9), "ms"),
    Metric("rate_per_s", s.items / s.itemsWall, "1/s"))

  /** Run `body` until `seconds` have passed and at least `min` times. */
  def loop(seconds: Double, min: Int)(body: => Unit): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    while (n < min || System.nanoTime() < end) { body; n += 1 }
  }

  def session(root: File): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        new File(root, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(root, "local").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(root, "checkpoints").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def loadavg(): String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim

  /** VmHWM of this process, the benchmark process. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def meta(spark: SparkSession, seed: Long, seconds: Double,
           traced: Boolean): Map[String, Any] = Map(
    "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
    "spark_version" -> spark.version,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "cores" -> Runtime.getRuntime.availableProcessors,
    "spark_conf" -> spark.sparkContext.getConf.getAll
      .filterNot(_._1.startsWith("spark.driver.host")).toMap,
    "sql_conf" -> Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.sql.join.preferSortMergeJoin",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k).getOrElse("")).toMap)

  private def writeSpans(f: File, spans: Seq[Span]): Unit = {
    val rows = spans.sortBy(_.id).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "wall_s" -> s.wallS, "self_s" -> s.selfS, "counters" -> s.total.toMap)
    }
    Files.write(f.toPath, Json(rows).getBytes(UTF_8))
  }

  /** Write `df` for a digest check against the stored DuckDB oracle. */
  def dump(ctx: Ctx, name: String, df: DataFrame): Map[String, Any] = {
    val path = ctx.fresh(s"check-$name")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    Map("kind" -> "digest", "name" -> name, "path" -> path)
  }
}

/** Prints, as JSON, the oracle SQL of every output the benchmark checks
  * by digest (see make_oracles.py). */
object OracleSql {
  def names: Seq[String] =
    Curate.tasks.map(_._3) ++ Serve.queries

  def main(args: Array[String]): Unit =
    println(Json(names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap))
}
