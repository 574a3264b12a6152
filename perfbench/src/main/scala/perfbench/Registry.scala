package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** A fixed slice of the query registry, run closed-loop by one client the
  * way `graft.Bench` runs the full registry: noop sink and a cache clear
  * between queries. After an untimed first pass, the slice is run in passes
  * until the timed window is over, with a GC before each pass.
  */
object Registry {

  /** The committed slice: MQTT parity queries plus, for every other family
    * prefix, one batch query, and one `_streaming_file` twin.
    */
  val Slice: Seq[String] = Seq(
    "mqtt_state", "mqtt_history", "q_heavy_hitters", "dedup_exact", "ann_brute_force",
    "text_langid", "emb_quantize", "pipeline_group_sample", "mm_dedup_exact",
    "emb_quantize_streaming_file")

  /** Timed passes a run makes at least, however short `seconds` is. */
  val MinPasses = 2

  val Families: Seq[String] = Seq("mqtt", "q", "dedup", "ann", "text", "emb", "pipeline", "mm")

  def family(name: String): String = name.takeWhile(_ != '_')

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  final case class Exec(name: String, pass: Int, startMs: Long, endMs: Long,
      wallS: Double, ok: Boolean, gcS: Double, compiles: Long, compileS: Double)

  def run(spark: SparkSession, dataDir: String, outDir: Path, seconds: Double,
      trace: Trace, jobs: JobWatch, phases: PhaseWatch, watch: StreamWatch,
      setupUntil: Long => Double): Result = {
    val queries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val missing = Slice.filterNot(n => queries.contains(n) && oracles.contains(n))
    require(missing.isEmpty, s"slice names not in the registry: ${missing.mkString(", ")}")

    def exec(name: String, pass: Int)(body: DataFrame => Unit): Exec = {
      spark.catalog.clearCache()
      val op = s"$name#$pass"
      spark.sparkContext.setLocalProperty(JobWatch.Key, op)
      val (c0, cs0) = Jvm.codegen()
      val g0 = Jvm.gcMs()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val ok = try { body(queries(name)(spark, dataDir)); true }
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
        }
      val t1 = System.nanoTime()
      val w1 = System.currentTimeMillis()
      spark.sparkContext.setLocalProperty(JobWatch.Key, null)
      val (c1, cs1) = Jvm.codegen()
      trace.span("query", "registry", t0, t1,
        attrs = Map("query" -> name, "family" -> family(name), "pass" -> pass, "ok" -> ok))
      Exec(name, pass, w0, w1, (t1 - t0) / 1e9, ok, (Jvm.gcMs() - g0) / 1000.0,
        c1 - c0, cs1 - cs0)
    }

    // the first execution of each query in the session (class loading,
    // codegen, JIT) is set-up, and keeps its result for the oracle check the
    // way graft.Verify writes it; the timed passes that follow repeat the
    // slice with the noop sink until `seconds` have passed
    // One GC per pass, not per query as graft.Bench does: it keeps the run
    // short, and the young collections left inside a pass are a small,
    // steady share of it.
    def runPass(pass: Int)(body: (String, DataFrame) => Unit): Seq[Exec] = {
      System.gc()
      Slice.map(name => exec(name, pass)(body(name, _)))
    }
    Files.createDirectories(outDir)
    val first = runPass(0) { (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(outDir.resolve(name).toString)
    }
    Jvm.resetHeapPeak()
    val timedStartNs = System.nanoTime()
    val setup = setupUntil(timedStartNs)
    val passes = ArrayBuffer.empty[(Seq[Exec], Long, Long)]
    while (passes.size < MinPasses || (System.nanoTime() - timedStartNs) / 1e9 < seconds) {
      val s = System.nanoTime()
      val execs = runPass(passes.size + 1)((_, df) => noop(df))
      passes += ((execs, s, System.nanoTime()))
    }
    val heapPeak = Jvm.heapPeakMb()
    val timed = passes.flatMap(_._1).toList
    val oracleJson = Slice.map(n => n -> oracles(n)).toMap
    Files.write(outDir.resolve("oracle_sql.json"), Trace.json(oracleJson).getBytes("UTF-8"))
    val failedRuns = (first ++ timed).filterNot(_.ok).map(_.name)
    val passS = passes.map(_._1.map(_.wallS).sum).toList
    // an operation is one query execution; with ten queries a pass, the
    // 99th percentile is the slice's slowest queries
    val execMs = timed.map(_.wallS * 1000)
    val metrics = Seq(("setup_s", setup, "s"), ("op_p50_ms", Stats.median(execMs), "ms"),
      ("op_p99_ms", Stats.percentile(execMs, 99), "ms"))
    val named = Seq(("read_pass_s", Stats.median(passS), "s"),
      ("read_p50_s", Stats.median(timed.map(_.wallS)), "s"))
    val perQuery = if (trace.enabled) detail(timed, jobs, phases, passes.size)
      else Map.empty[String, Map[String, Double]]
    val layers = if (!trace.enabled) Nil else {
      def perPass(key: String) = perQuery.values.map(_(key)).sum
      val (_, p1Start, p1End) = passes.head
      val twins = watch.batches.filter(b => b.endNs >= p1Start && b.endNs <= p1End)
      Seq(
        ("catalyst.analysis_s", perPass("analysis_s"), "s"),
        ("catalyst.optimization_s", perPass("optimization_s"), "s"),
        ("catalyst.planning_s", perPass("planning_s"), "s"),
        // code is generated on a query's first execution, so codegen is
        // counted over the set-up pass
        ("codegen.compiles", first.map(_.compiles).sum.toDouble, "count"),
        ("codegen.compile_s", first.map(_.compileS).sum, "s"),
        ("scheduler.jobs", perPass("jobs"), "count"),
        ("scheduler.stages", perPass("stages"), "count"),
        ("scheduler.tasks", perPass("tasks"), "count"),
        ("exec.task_s", perPass("task_s"), "s"),
        ("exec.cpu_s", perPass("cpu_s"), "s"),
        ("shuffle.bytes", perPass("shuffle_bytes"), "B"),
        ("driver.gap_s", perPass("driver_gap_s"), "s"),
        ("jvm.gc_s", perPass("gc_s"), "s"),
        ("jvm.heap_peak_mb", heapPeak, "MB")) ++
        StreamWatch.engineMetrics("twins", twins) ++
        Families.map(f => (s"read.family.${f}_s",
          timed.filter(e => family(e.name) == f).map(_.wallS).sum / passes.size, "s"))
    }
    val attempted = (first.size + timed.size).toLong
    Result(metrics, named, layers, attempted, failedRuns.size.toLong, Map(
      "queries" -> Slice.size, "passes" -> passes.size, "pass_s" -> passS,
      "failed_queries" -> failedRuns.distinct, "check_dir" -> outDir.toString,
      "first_query_s" -> first.map(e => e.name -> e.wallS).toMap,
      "query_p50_s" -> timed.groupBy(_.name).map { case (n, es) => n -> Stats.median(es.map(_.wallS)) },
      "per_query" -> perQuery))
  }

  /** Per-query layer record, from the listeners: each query's mean over
    * the `passes` timed passes.
    */
  private def detail(timed: Seq[Exec], jobs: JobWatch, phases: PhaseWatch,
      passes: Int): Map[String, Map[String, Double]] = {
    val ph = phases.all
    timed.map { e =>
      val inWindow = ph.filter(p => p.startMs >= e.startMs && p.startMs <= e.endMs)
      val a = jobs.get(s"${e.name}#${e.pass}")
      def acc(f: JobWatch#Acc => Double) = a.map(f).getOrElse(0.0)
      val spans = a.map(_.jobSpans.toList).getOrElse(Nil)
      e.name -> Map(
        "wall_s" -> e.wallS,
        "gc_s" -> e.gcS,
        "analysis_s" -> inWindow.map(_.analysisMs).sum / 1000.0,
        "optimization_s" -> inWindow.map(_.optimizationMs).sum / 1000.0,
        "planning_s" -> inWindow.map(_.planningMs).sum / 1000.0,
        "jobs" -> acc(_.jobs.toDouble),
        "stages" -> acc(_.stages.toDouble),
        "tasks" -> acc(_.tasks.toDouble),
        "task_s" -> acc(_.taskMs / 1000.0),
        "cpu_s" -> acc(_.cpuNs / 1e9),
        "shuffle_bytes" -> acc(_.shuffleBytes.toDouble),
        "driver_gap_s" -> (e.wallS - JobWatch.covered(spans, e.startMs, e.endMs) / 1000.0))
    }.groupBy(_._1).map { case (name, recs) =>
      name -> recs.map(_._2).reduce((a, b) => a.map { case (k, v) => k -> (v + b(k)) })
        .map { case (k, v) => k -> v / passes }
    }
  }
}
