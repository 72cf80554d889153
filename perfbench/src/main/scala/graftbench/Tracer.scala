package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one span, summed over the Spark jobs under it. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L // shuffle bytes written
  var spillBytes = 0L // memory + disk spill
  var gcMs = 0L
  var bytesWritten = 0L
  var planMs = 0L // analysis + optimization + planning

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    gcMs += o.gcMs; bytesWritten += o.bytesWritten; planMs += o.planMs
  }

  def toMap: Map[String, Long] = Map("jobs" -> jobs, "tasks" -> tasks,
    "executor_cpu_ns" -> cpuNs, "shuffle_bytes" -> shuffleBytes,
    "spill_bytes" -> spillBytes, "gc_ms" -> gcMs,
    "bytes_written" -> bytesWritten, "plan_ms" -> planMs)
}

/** A timed interval: a workload, a unit of work, a DAG task, query or
  * micro-batch under it, or a Spark job under that. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      startMs: Long, endMs: Long, wallS: Double) {
  val own = new Counters // events attributed directly to this span
  val total = new Counters // own plus every descendant's
  var selfS: Double = wallS
  var detail: Map[String, Double] = Map.empty // a micro-batch's progress
}

/** Benchmark-owned listeners plus an in-memory span tree. Spans and
  * counters stay in memory and are written out once, by the caller, at
  * the end of the run.
  *
  * Attribution: the open span's id travels as a Spark local property, so
  * every job names the span it ran under; a task's metrics go to its
  * job's span; a micro-batch's jobs go to the batch span built from its
  * progress event; a query execution's planning time goes to the
  * innermost span that was open when planning ran. The harness runs one
  * client at a time, so time attribution is exact up to clock
  * resolution.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.Key

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, Long, Long)] // id, ms, ns
  private var nextId = 1

  private case class Job(id: Int, span: Option[Int],
                         batch: Option[(String, Long)], startMs: Long) {
    val c = new Counters
    @volatile var endMs: Long = startMs
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val planned = new ConcurrentLinkedQueue[(Long, Long)]()
  private val progress = new ConcurrentLinkedQueue[QueryProgressEvent]()
  private val queryOf = mutable.Map.empty[String, Int] // query id -> span

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val batch = for (q <- prop("sql.streaming.queryId");
                       b <- prop("streaming.sql.batchId")) yield (q, b.toLong)
      jobs.put(e.jobId,
        Job(e.jobId, prop(Key).map(_.toInt), batch, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      for (jid <- Option(stageJob.get(e.stageId)); j <- Option(jobs.get(jid));
           if m != null) j.c.synchronized {
        j.c.tasks += 1
        j.c.cpuNs += m.executorCpuTime
        j.c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.c.gcMs += m.jvmGCTime
        j.c.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  private object Plans extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty)
        planned.add((ph.values.map(_.startTimeMs).min,
          ph.values.map(_.durationMs).sum))
    }
  }

  private object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      progress.add(e)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private def classic =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  private var attached = false

  /** Register the listeners (a traced unit follows). */
  def attach(): Unit = if (!attached) {
    sc.addSparkListener(Jobs)
    classic.listenerManager.register(Plans)
    spark.streams.addListener(Streams)
    attached = true
  }

  /** Deliver every pending event, then unregister (an untraced unit
    * follows, which must not pay for the listeners). */
  def detach(): Unit = if (attached) {
    Bus.drain(sc)
    sc.removeSparkListener(Jobs)
    classic.listenerManager.unregister(Plans)
    spark.streams.removeListener(Streams)
    attached = false
  }

  private def current: Int = if (open.isEmpty) 0 else open.top._1

  /** Run `body` as a span of `kind` named `name` under the open span. */
  def span[T](kind: String, name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = current
    open.push((id, System.currentTimeMillis(), System.nanoTime()))
    sc.setLocalProperty(Key, id.toString)
    try body
    finally {
      val (_, ms, ns) = open.pop()
      sc.setLocalProperty(Key, if (parent == 0) null else parent.toString)
      spans += Span(id, parent, kind, name, ms, System.currentTimeMillis(),
        (System.nanoTime() - ns) / 1e9)
    }
  }

  /** Tie a streaming query to the open span: its micro-batches become
    * children of that span. */
  def bindQuery(queryId: java.util.UUID): Unit =
    queryOf(queryId.toString) = current

  /** Turn delivered events into batch and job spans and roll counters up
    * the tree. Call once, after the last traced unit. */
  def finish(): Seq[Span] = {
    if (attached) Bus.drain(sc)
    val batchSpan = mutable.Map.empty[(String, Long), Int]
    progress.asScala.foreach { e =>
      val p = e.progress
      val parent = queryOf.getOrElse(p.id.toString, 0)
      if (parent != 0) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val dur = Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(0L)
        val s = Span(nextId, parent, "batch", s"${p.name}#${p.batchId}",
          start, start + dur, dur / 1e3)
        nextId += 1
        val ops = p.stateOperators.toSeq
        s.detail = p.durationMs.asScala.map { case (k, v) =>
          k -> v.doubleValue }.toMap ++ Map(
          "inputRows" -> p.numInputRows.toDouble,
          "stateRows" -> ops.map(_.numRowsTotal).sum.toDouble,
          "stateMemoryBytes" -> ops.map(_.memoryUsedBytes).sum.toDouble,
          "droppedByWatermark" ->
            ops.map(_.numRowsDroppedByWatermark).sum.toDouble)
        spans += s
        batchSpan((p.id.toString, p.batchId)) = s.id
      }
    }
    val jobSpans = jobs.values.asScala.toSeq.sortBy(_.id).flatMap { j =>
      val parent = j.batch.flatMap(batchSpan.get).orElse(j.span)
      parent.map { pid =>
        val s = Span(nextId, pid, "job", s"job ${j.id}", j.startMs, j.endMs,
          (j.endMs - j.startMs) / 1e3)
        nextId += 1
        s.own.add(j.c)
        s.own.jobs = 1
        s
      }
    }
    spans ++= jobSpans
    val byId = spans.map(s => s.id -> s).toMap
    // planning time: innermost non-job span open at the phase start
    val timed = spans.filter(_.kind != "job").sortBy(s => s.endMs - s.startMs)
    planned.asScala.foreach { case (t, ms) =>
      timed.find(s => s.startMs <= t && t <= s.endMs)
        .foreach(_.own.planMs += ms)
    }
    val children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)
    def roll(s: Span): Unit = {
      s.total.add(s.own)
      val kids = children.getOrElse(s.id, Seq.empty[Span])
      kids.foreach { k => roll(k); s.total.add(k.total) }
      s.selfS = math.max(0.0, s.wallS - Tracer.covered(kids))
    }
    spans.filter(s => !byId.contains(s.parent)).foreach(roll)
    spans.toSeq
  }
}

object Tracer {
  val Key = "graftbench.span"

  /** Seconds of the union of the spans' intervals. */
  def covered(spans: Seq[Span]): Double = {
    var total = 0L
    var end = Long.MinValue
    spans.map(k => (k.startMs, k.endMs)).sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total / 1e3
  }
}
