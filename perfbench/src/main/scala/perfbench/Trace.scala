package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counts of one traced run, kept in memory and written out once
  * at the end. Times are milliseconds since the run started.
  */
final class Trace(val enabled: Boolean) {
  val t0Ns: Long = System.nanoTime()
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private var nextId = 0L
  /** Spans beyond this many are counted, not kept. */
  private val maxSpans = 200000

  def ms(ns: Long): Double = (ns - t0Ns) / 1e6

  /** Record a finished span. Spans of one operation share its `query` or
    * `op` attribute.
    */
  def span(name: String, layer: String, startNs: Long, endNs: Long,
      attrs: Map[String, Any] = Map.empty): Unit =
    if (enabled) synchronized {
      nextId += 1
      if (spans.size < maxSpans)
        spans += Map("id" -> nextId, "name" -> name, "layer" -> layer,
          "start_ms" -> ms(startNs), "end_ms" -> ms(endNs)) ++ attrs
    }

  def timed[T](name: String, layer: String, attrs: Map[String, Any] = Map.empty)(f: => T): T =
    if (!enabled) f
    else {
      val s = System.nanoTime()
      try f finally span(name, layer, s, System.nanoTime(), attrs)
    }

  def write(path: java.nio.file.Path, doc: Map[String, Any]): Unit = {
    val body = synchronized(doc + ("spans" -> spans.toList) + ("spans_total" -> nextId))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, Trace.json(body).getBytes("UTF-8"))
  }
}

object Trace {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .configure(JsonWriteFeature.WRITE_NAN_AS_STRINGS.mappedFeature(), false)

  /** JSON text of a result or trace document; NaN is written bare, as
    * Python's `json` module reads it.
    */
  def json(v: Any): String = mapper.writeValueAsString(v)
}

/** One micro-batch as its progress event reports it. */
final case class BatchRec(query: String, batchId: Long, endNs: Long, rows: Long,
    endOffset: Long, durations: Map[String, Long], stateRows: Long,
    stateBytes: Long, stateCommitMs: Long)

/** Streaming progress of every query in the session: the commit positions
  * (the ingest latency clock) and, for the trace, each batch's breakdown.
  */
final class StreamWatch(trace: Trace) extends StreamingQueryListener {
  import StreamingQueryListener._

  private val commits = new java.util.concurrent.ConcurrentHashMap[String, Commits]()
  private val recs = ArrayBuffer.empty[BatchRec]
  @volatile var onProgress: BatchRec => Unit = _ => ()

  def commitsOf(query: String): Commits = commits.computeIfAbsent(query, _ => new Commits)

  def batches: Seq[BatchRec] = recs.synchronized(recs.toList)

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val now = System.nanoTime()
    val p = e.progress
    val name = Option(p.name).getOrElse(p.id.toString)
    // the MQTT source's offset JSON is the bare buffer position; other
    // sources (the registry's file twins) report -1
    val end = p.sources.headOption.flatMap(s => Try(s.endOffset.trim.toLong).toOption)
      .getOrElse(-1L)
    if (end >= 0) commitsOf(name).add(end, now)
    val ops = p.stateOperators.toSeq
    val rec = BatchRec(name, p.batchId, now, p.numInputRows, end,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum)
    if (trace.enabled) {
      recs.synchronized(recs += rec)
      val total = rec.durations.getOrElse("triggerExecution", 0L)
      trace.span("micro_batch", "engine", now - total * 1000000L, now,
        attrs = Map("query" -> name, "batch" -> p.batchId, "rows" -> p.numInputRows,
          "durations_ms" -> rec.durations, "state_rows" -> rec.stateRows,
          "state_bytes" -> rec.stateBytes))
    }
    onProgress(rec)
  }
}

object StreamWatch {

  /** Per-query engine metrics over `recs`, named `engine.<label>.*`: batch
    * count, batch time percentiles, and the mean of each batch phase.
    */
  def engineMetrics(label: String, recs: Seq[BatchRec], batchesPer: Double = 1.0)
      : Seq[(String, Double, String)] = {
    def mean(key: String) = Stats.mean(recs.map(_.durations.getOrElse(key, 0L).toDouble))
    val total = recs.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    Seq(
      (s"engine.$label.batches", recs.size / batchesPer, "count"),
      (s"engine.$label.batch_p50_ms", Stats.median(total), "ms"),
      (s"engine.$label.batch_p99_ms", Stats.percentile(total, 99), "ms"),
      (s"engine.$label.wal_commit_ms", mean("walCommit"), "ms"),
      (s"engine.$label.commit_offsets_ms", mean("commitOffsets"), "ms"),
      (s"engine.$label.query_planning_ms", mean("queryPlanning"), "ms"),
      (s"engine.$label.add_batch_ms", mean("addBatch"), "ms"))
  }
}

/** Job, stage and task accounting, attributed to the benchmark operation
  * named by the `perfbench.op` local property of the thread that ran it
  * (streams started from that thread inherit it).
  */
final class JobWatch(trace: Trace) extends SparkListener {
  final class Acc {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var taskMs = 0L
    var cpuNs = 0L
    var shuffleBytes = 0L
    val jobSpans = ArrayBuffer.empty[(Long, Long)]
  }
  private val byOp = mutable.HashMap.empty[String, Acc]
  private val jobOp = mutable.HashMap.empty[Int, (String, Long)]
  private val stageOp = mutable.HashMap.empty[Int, String]

  private def acc(op: String): Acc = byOp.getOrElseUpdate(op, new Acc)

  def get(op: String): Option[Acc] = synchronized(byOp.get(op))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(JobWatch.Key)))
    op.foreach { o =>
      acc(o).jobs += 1
      jobOp(e.jobId) = (o, e.time)
      e.stageIds.foreach(s => stageOp(s) = o)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (o, start) =>
      acc(o).jobSpans += ((start, e.time))
      if (trace.enabled) {
        val nowMs = System.currentTimeMillis()
        val nowNs = System.nanoTime()
        def toNs(ms: Long) = nowNs - (nowMs - ms) * 1000000L
        trace.span("job", "scheduler", toNs(start), toNs(e.time),
          attrs = Map("op" -> o, "job" -> e.jobId))
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(o => acc(o).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { o =>
      val a = acc(o)
      a.tasks += 1
      if (e.taskInfo != null) a.taskMs += e.taskInfo.duration
      if (e.taskMetrics != null) {
        a.cpuNs += e.taskMetrics.executorCpuTime
        a.shuffleBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten +
          e.taskMetrics.shuffleReadMetrics.totalBytesRead
      }
    }
  }
}

object JobWatch {
  val Key = "perfbench.op"

  /** Milliseconds of [lo, hi] covered by the union of `spans`. */
  def covered(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    spans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
      }
    total
  }
}

/** Catalyst phase times from every finished query execution, kept with
  * their wall-clock start so they can be attributed to the operation whose
  * window contains them.
  */
final class PhaseWatch extends QueryExecutionListener {
  import PhaseWatch.Phases
  private val recs = ArrayBuffer.empty[Phases]

  def all: Seq[Phases] = recs.synchronized(recs.toList)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) 0L else ph.values.map(_.startTimeMs).min
    recs.synchronized(recs += Phases(start, d("analysis"), d("optimization"), d("planning")))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
}

object PhaseWatch {
  final case class Phases(startMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long)
}

/** JVM-wide gauges the registry trace reads around each operation. */
object Jvm {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Codegen compiles so far and an estimate of their total seconds (the
    * compile-time histogram keeps a sample, so count x mean).
    */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    (n, n * h.getSnapshot.getMean / 1000.0)
  }
}
