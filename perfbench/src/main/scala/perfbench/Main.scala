package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in a fresh JVM. `run.py` launches it
  * and reads the `perfbench-result` line it prints last.
  *
  * {{{
  *   perfbench.Main --workload ingest_live --seed 1 --seconds 10 --trace 0 \
  *     --work <working dir> [--data <tables dir>] [--trace-file <path>]
  * }}}
  */
/** What one workload run measured: `metrics` under the end-to-end names
  * every workload shares, `named` under the workload's own names, and
  * `layers` when traced.
  */
final case class Result(metrics: Seq[(String, Double, String)],
    named: Seq[(String, Double, String)], layers: Seq[(String, Double, String)],
    attempted: Long, failed: Long, info: Map[String, Any])

object Main {

  val LiveConf = Ingest.LiveConf(ratePerS = 250, warmupS = 10, topics = 1000, skew = 2.0,
    valuesPerTopic = 4, drainOutS = 30)

  /** Runs one workload and exits the JVM: 0 after the result line, 1 on any
    * failure, so no leftover non-daemon thread can keep the process alive.
    */
  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    // set-up runs from JVM start until a workload's timed region begins
    val jvmStartNs = t0 - (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    def setupUntil(ns: Long): Double = (ns - jvmStartNs) / 1e9
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)

    val trace = new Trace(traced)
    val spark = Session.start(cores, work)
    spark.range(1).count()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val watch = new StreamWatch(trace)
    spark.streams.addListener(watch)
    val jobs = new JobWatch(trace)
    val phases = new PhaseWatch
    if (traced) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(phases)
    }

    val result = workload match {
      case "ingest_live" =>
        Ingest.live(spark, work, seed, seconds, LiveConf, watch, trace, setupUntil)
      case "read_registry" =>
        Registry.run(spark, opts("data"), work.resolve("check"), seconds, trace,
          jobs, phases, watch, setupUntil)
      case other => sys.error(s"unknown workload $other")
    }

    def asMap(ms: Seq[(String, Double, String)]) =
      ms.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap
    val doc = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "cores" -> cores, "session_s" -> sessionS,
      "wall_s" -> (System.nanoTime() - t0) / 1e9,
      "metrics" -> asMap(result.metrics), "named" -> asMap(result.named),
      "layers" -> asMap(result.layers),
      "attempted" -> result.attempted, "failed" -> result.failed, "info" -> result.info)
    opts.get("trace-file").filter(_ => traced).foreach(p => trace.write(Paths.get(p), doc))
    println("perfbench-result " +
      Trace.json(doc - "info" + ("info" -> result.info.removed("per_query"))))
    spark.stop()
  }
}

object Session {

  /** The benchmark's Spark session: `local[cores]`, shuffle partitions sized
    * to the cores, and all working files inside `workDir`.
    */
  def start(cores: Int, workDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", workDir.resolve("hadoop-tmp").toString)
      .config("spark.sql.streaming.noDataProgressEventInterval", "3600000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
