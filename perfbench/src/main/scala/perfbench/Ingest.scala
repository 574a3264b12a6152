package perfbench

import java.io.BufferedInputStream
import java.net.Socket
import java.nio.file.{Files, Path}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}

import graft.operators.MqttPipeline
import graft.sources.mqtt._
import graft.streaming.{MqttMsg, StatefulCdc, UpsertSink}

/** The reference's ingest path composed from the library's public pieces:
  * one message stream fanned out to two single-consumer [[MqttBroker]]
  * buffers; buffer 1 feeds [[StatefulCdc.changes]] into a parquet history,
  * buffer 2 feeds a `foreachBatch` query that calls [[UpsertSink.merge]].
  */
final class Pipeline(spark: SparkSession, dir: Path, val tag: String, val trace: Trace) {
  val historyBroker = s"$tag-history"
  val stateBroker = s"$tag-state"
  val historyPath: String = dir.resolve("history").toString
  val statePath: String = dir.resolve("state").toString
  /** (start ns, end ns) of every merge, when tracing. */
  val merges = ArrayBuffer.empty[(Long, Long)]
  private var queries: Seq[StreamingQuery] = Nil

  def historyQuery: String = s"$tag-history"
  def stateQuery: String = s"$tag-state"

  private def source(broker: String): DataFrame = {
    // traced runs time the source's calls through a delegating provider
    val format =
      if (trace.enabled) classOf[TimedMqttSourceProvider].getName
      else classOf[MqttSourceProvider].getName
    spark.readStream.format(format).option("broker", broker).load()
  }

  def start(): Unit = {
    import spark.implicits._
    val history = StatefulCdc.changes(source(historyBroker).as[MqttMsg])
      .writeStream.format("parquet").outputMode("append")
      .option("path", historyPath)
      .option("checkpointLocation", dir.resolve("ckpt-history").toString)
      .queryName(historyQuery).trigger(Trigger.ProcessingTime(0)).start()
    val merge: (DataFrame, Long) => Unit = { (batch, id) =>
      val s = System.nanoTime()
      UpsertSink.merge(statePath)(batch, id)
      if (trace.enabled) {
        val e = System.nanoTime()
        merges.synchronized(merges += ((s, e)))
        trace.span("merge", "upsert", s, e, Map("query" -> stateQuery, "batch" -> id))
      }
    }
    val state = source(stateBroker).writeStream.foreachBatch(merge)
      .option("checkpointLocation", dir.resolve("ckpt-state").toString)
      .queryName(stateQuery).trigger(Trigger.ProcessingTime(0)).start()
    queries = Seq(history, state)
  }

  /** Stop both queries; rethrows a query's failure. */
  def stop(): Unit = {
    queries.foreach(q => try q.stop() catch { case _: Exception => () })
    queries.flatMap(_.exception).headOption.foreach(e => throw e)
  }

  def clearBuffers(): Unit = { MqttBroker.clear(historyBroker); MqttBroker.clear(stateBroker) }

  def backlog: Long = MqttBroker.retained(historyBroker).toLong max
    MqttBroker.retained(stateBroker).toLong
}

/** The sink handed to [[MqttClient]]: fans each message out to both buffers,
  * checks it against the generator's record at its arrival position (one
  * publisher connection, so position must equal send order) and stamps its
  * receipt time.
  */
final class FanOut(pipeline: Pipeline, expected: Gen.Batch) {
  val recvNs = new Array[Long](expected.size)
  @volatile var received = 0
  @volatile var altered = 0

  def apply(topic: String, payload: Array[Byte], qos: Int, retain: Boolean): Unit = {
    val i = received
    if (i < recvNs.length) recvNs(i) = System.nanoTime()
    val ts = System.currentTimeMillis() * 1000L
    MqttBroker.publish(pipeline.historyBroker, topic, payload, qos, retain, ts)
    MqttBroker.publish(pipeline.stateBroker, topic, payload, qos, retain, ts)
    if (!FanOut.matches(expected, i, topic, payload)) altered += 1
    received = i + 1
  }
}

object FanOut {
  def matches(expected: Gen.Batch, i: Int, topic: String, payload: Array[Byte]): Boolean =
    i < expected.size &&
      topic == Gen.topicName(expected.topics(i)) &&
      java.util.Arrays.equals(payload, Gen.payload(expected.topics(i), expected.values(i)))
}

/** One MQTT publisher connection sending the generated messages on an open
  * loop: message i is due at `Gen.scheduledNs(start, rate, i)` whatever
  * happened to the messages before it.
  */
final class Publisher(host: String, port: Int, msgs: Gen.Batch, ratePerS: Double) {
  val sentNs = new Array[Long](msgs.size)
  @volatile var sent = 0
  @volatile var error: Option[Throwable] = None
  @volatile private var stopping = false
  var startNs = 0L
  private val socket = new Socket(host, port)
  private val out = new java.io.BufferedOutputStream(socket.getOutputStream)

  {
    import MqttCodec._
    writePacket(out, CONNECT, 0, connectBody("perfbench-pub", cleanSession = true, 0, None, None))
    val ack = readPacket(new BufferedInputStream(socket.getInputStream))
    require(ack.ptype == CONNACK && parseConnack(ack.body) == 0, "publisher CONNACK refused")
  }

  private val thread = new Thread(() => run(), "perfbench-publisher")
  thread.setDaemon(true)

  def start(): Unit = { startNs = System.nanoTime(); thread.start() }

  private def run(): Unit =
    try {
      var i = 0
      while (i < msgs.size && !stopping) {
        val due = Gen.scheduledNs(startNs, ratePerS, i)
        var wait = due - System.nanoTime()
        while (wait > 0) { LockSupport.parkNanos(wait); wait = due - System.nanoTime() }
        val t = msgs.topics(i)
        MqttCodec.writePacket(out, MqttCodec.PUBLISH, 0,
          MqttCodec.publishBody(Gen.topicName(t), Gen.payload(t, msgs.values(i))))
        sentNs(i) = System.nanoTime()
        i += 1
        sent = i
      }
    } catch { case e: Throwable => if (!stopping) error = Some(e) }

  def join(timeoutMs: Long): Unit = thread.join(timeoutMs)

  def close(): Unit = {
    stopping = true
    thread.join(5000)
    try socket.close() catch { case _: Exception => () }
  }
}

/** The live front door: loopback broker, subscribing client, pipeline. */
final class LiveFront(pipeline: Pipeline, expected: Gen.Batch) {
  val server = new MiniMqttServer()
  val fanOut = new FanOut(pipeline, expected)
  private val client = new MqttClient(new SocketMqttTransport(),
    MqttClient.Options(
      MqttConfig.Endpoint("mqtt", server.host, server.port, None, None, None, tls = false),
      subscriptions = Seq("bench/#"), clientId = s"perfbench-${pipeline.tag}"),
    fanOut.apply _)
  @volatile private var stopping = false
  private val loop = new Thread(() => { client.loopForever(() => stopping); () },
    "perfbench-client-loop")
  loop.setDaemon(true)

  def start(): Unit = {
    client.connectWithRetry()
    loop.start()
    val deadline = System.nanoTime() + 10000000000L
    while (server.subscriptionCount < 1 && System.nanoTime() < deadline) Thread.sleep(5)
    require(server.subscriptionCount >= 1, "client never subscribed")
  }

  def close(): Unit = {
    stopping = true
    loop.join(5000)
    server.close()
  }
}

object Ingest {

  /** The generator's own record of the first `n` messages as a message
    * frame: msg_id is the position and ts increases with it.
    */
  def recordFrame(spark: SparkSession, msgs: Gen.Batch): DataFrame = {
    val rows = new java.util.ArrayList[Row](msgs.size)
    var i = 0
    while (i < msgs.size) {
      val t = msgs.topics(i)
      rows.add(Row(i.toLong, new java.sql.Timestamp(1700000000000L + i),
        Gen.topicName(t), Gen.payload(t, msgs.values(i)), 0, 0))
      i += 1
    }
    spark.createDataFrame(rows, MqttSchema.schema)
  }

  /** Failed operations of a run that attempted `attempted` messages: each
    * lost, altered or uncommitted message and each disagreeing row counts,
    * capped at the number attempted.
    */
  def failures(attempted: Long, counts: Long*): Long = math.min(attempted, counts.sum)

  /** Rows in one frame and not the other, counting duplicates. Both sides
    * are small (one row per topic, one per kept message) and are compared
    * on the driver.
    */
  private def symmetricDiff(a: DataFrame, b: DataFrame): Long = {
    def counts(df: DataFrame) = df.collect().toSeq
      .map(_.toSeq.map { case bytes: Array[Byte] => bytes.toSeq; case x => x })
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val (ca, cb) = (counts(a), counts(b))
    (ca.keySet ++ cb.keySet).toSeq.map(k => math.abs(ca.getOrElse(k, 0L) - cb.getOrElse(k, 0L))).sum
  }

  /** Rows of the final state and history that disagree with
    * `MqttPipeline.stateTable` / `historyKept` over `record`, plus the
    * history row count: (state mismatches, history mismatches, history rows).
    */
  def check(record: DataFrame, state: Option[DataFrame],
      history: DataFrame): (Long, Long, Long) = {
    val wantState = MqttPipeline.stateTable(record).select("topic", "value")
    val gotState = state.map(_.select("topic", "value"))
      .getOrElse(wantState.limit(0))
    val wantHist = MqttPipeline.historyKept(record).select("topic", "msg_id", "value")
    val gotHist = history.select("topic", "msg_id", "value")
    (symmetricDiff(wantState, gotState), symmetricDiff(wantHist, gotHist), gotHist.count())
  }

  def readHistory(spark: SparkSession, path: String): DataFrame =
    if (Files.exists(java.nio.file.Paths.get(path))) spark.read.parquet(path)
    else spark.createDataFrame(new java.util.ArrayList[Row](),
      StructType(Seq(StructField("topic", StringType), StructField("msg_id", LongType),
        StructField("value", BinaryType))))

  /** Distinct topics among the first k messages, for every k. */
  def distinctPrefix(msgs: Gen.Batch): Array[Int] = {
    val seen = new java.util.BitSet()
    val out = new Array[Int](msgs.size + 1)
    var i = 0
    while (i < msgs.size) {
      val fresh = !seen.get(msgs.topics(i))
      seen.set(msgs.topics(i))
      out(i + 1) = out(i) + (if (fresh) 1 else 0)
      i += 1
    }
    out
  }

  private def awaitCommitted(watch: StreamWatch, p: Pipeline, n: Long, deadlineNs: Long): Boolean = {
    def done = watch.commitsOf(p.historyQuery).committed >= n &&
      watch.commitsOf(p.stateQuery).committed >= n
    while (!done && System.nanoTime() < deadlineNs) Thread.sleep(2)
    done
  }

  private def sinceNs(recs: Seq[BatchRec], fromNs: Long, query: String): Seq[BatchRec] =
    recs.filter(r => r.query == query && r.endNs >= fromNs && r.rows > 0)

  /** Per-layer metrics of the pipeline: source, engine, StatefulCdc and
    * UpsertSink, over the batches that ended after `fromNs`.
    */
  private def pipelineLayers(p: Pipeline, watch: StreamWatch, fromNs: Long,
      msgs: Gen.Batch, historyRows: Long, messages: Long, backlogMax: Long)
      : Seq[(String, Double, String)] = {
    val all = watch.batches
    val hist = sinceNs(all, fromNs, p.historyQuery)
    val state = sinceNs(all, fromNs, p.stateQuery)
    val both = hist ++ state
    val calls = Seq(SourceTimes.of(p.historyBroker), SourceTimes.of(p.stateBroker))
    def sourceMs(f: SourceTimes.Calls => ArrayBuffer[(Long, Long)]) =
      Stats.mean(calls.map(c => SourceTimes.meanMs(f(c), fromNs)).filterNot(_.isNaN))
    val merges = p.merges.synchronized(p.merges.filter(_._2 >= fromNs).toList)
    val mergeMs = merges.map { case (s, e) => (e - s) / 1e6 }
    for ((broker, c) <- Seq(p.historyBroker, p.stateBroker).zip(calls);
         (name, xs) <- Seq("latest_offset" -> c.latestOffset, "plan_partitions" -> c.planPartitions);
         (s, e) <- xs.synchronized(xs.toList) if e >= fromNs)
      p.trace.span(name, "source", s, e, Map("broker" -> broker))
    val prefix = distinctPrefix(msgs)
    val stateRowsByBatch = state.map(r => prefix(math.min(r.endOffset, msgs.size.toLong).toInt))
    val lastHist = all.filter(_.query == p.historyQuery).lastOption
    Seq(
      ("source.backlog_max", backlogMax.toDouble, "count"),
      ("source.latest_offset_ms", sourceMs(_.latestOffset), "ms"),
      ("source.get_batch_ms", sourceMs(_.planPartitions), "ms"),
      ("source.rows_per_batch_p50", Stats.median(both.map(_.rows.toDouble)), "count")) ++
      StreamWatch.engineMetrics("history", hist) ++
      StreamWatch.engineMetrics("state", state) ++ Seq(
      ("cdc.state_rows", lastHist.map(_.stateRows.toDouble).getOrElse(0.0), "count"),
      ("cdc.state_bytes", lastHist.map(_.stateBytes.toDouble).getOrElse(0.0), "B"),
      ("cdc.state_commit_ms", Stats.mean(hist.map(_.stateCommitMs.toDouble)), "ms"),
      ("cdc.emit_ratio", historyRows.toDouble / math.max(1L, messages), "ratio"),
      ("upsert.merge_p50_ms", Stats.median(mergeMs), "ms"),
      ("upsert.merge_total_s", mergeMs.sum / 1000.0, "s"),
      ("upsert.state_rows", prefix(msgs.size).toDouble, "count"),
      ("upsert.rewrite_ratio",
        stateRowsByBatch.sum.toDouble / math.max(1.0, state.map(_.rows).sum.toDouble), "ratio"))
  }

  final case class LiveConf(ratePerS: Double, warmupS: Double, topics: Int,
      skew: Double, valuesPerTopic: Int, drainOutS: Double)

  def live(spark: SparkSession, dir: Path, seed: Long, seconds: Double,
      conf: LiveConf, watch: StreamWatch, trace: Trace, setupUntil: Long => Double): Result = {
    val nWarm = (conf.warmupS * conf.ratePerS).toInt
    val n = nWarm + (seconds * conf.ratePerS).toInt
    val msgs = new Gen(seed, Shape(conf.topics, conf.skew, conf.valuesPerTopic)).take(n)
    val p = new Pipeline(spark, dir.resolve("live"), s"live-$seed", trace)
    val front = new LiveFront(p, msgs)
    var backlogMax = 0L
    if (trace.enabled) watch.onProgress = _ => backlogMax = backlogMax max p.backlog
    front.start()
    p.start()
    val pub = new Publisher(front.server.host, front.server.port, msgs, conf.ratePerS)
    pub.start()
    val timedStartNs = Gen.scheduledNs(pub.startNs, conf.ratePerS, nWarm)
    val setup = setupUntil(timedStartNs)
    val endNs = Gen.scheduledNs(pub.startNs, conf.ratePerS, n)
    pub.join(math.max(1L, (endNs - System.nanoTime()) / 1000000L + 30000L))
    val drained = awaitCommitted(watch, p, n.toLong,
      System.nanoTime() + (conf.drainOutS * 1e9).toLong)
    val doneNs = System.nanoTime()
    pub.close()
    front.close()
    p.stop()
    watch.onProgress = _ => ()
    pub.error.foreach(e => throw e)

    val lat = Latency.fromSchedule(i => Gen.scheduledNs(pub.startNs, conf.ratePerS, i),
      nWarm, n, Seq(watch.commitsOf(p.historyQuery), watch.commitsOf(p.stateQuery)))
    val uncommitted = lat.count(_.isEmpty)
    val ok = lat.flatten
    val received = front.fanOut.received
    val record = recordFrame(spark, msgs)
    val (stateBad, histBad, histRows) = trace.timed("check", "bench") {
      check(record, UpsertSink.readState(spark, p.statePath),
        readHistory(spark, p.historyPath))
    }
    p.clearBuffers()
    val lost = n - received
    val failed = failures(n, lost, front.fanOut.altered, uncommitted, stateBad, histBad)
    val timed = nWarm until n
    val delivered = timed.filter(i => i < received && pub.sentNs(i) > 0)
    val transit = delivered.map(i => (front.fanOut.recvNs(i) - pub.sentNs(i)) / 1e6)
    if (trace.enabled) delivered.foreach { i =>
      trace.span("transit", "wire", pub.sentNs(i), front.fanOut.recvNs(i), Map("pos" -> i))
    }
    val late = timed.filter(i => pub.sentNs(i) > 0)
      .map(i => (pub.sentNs(i) - Gen.scheduledNs(pub.startNs, conf.ratePerS, i)) / 1e6)
    val (p50, p99) = (Stats.median(ok), Stats.percentile(ok, 99))
    // an operation is one message, from its scheduled send until both
    // queries have committed it
    val metrics = Seq(("setup_s", setup, "s"), ("op_p50_ms", p50, "ms"), ("op_p99_ms", p99, "ms"))
    val named = Seq(("ingest_p50_ms", p50, "ms"), ("ingest_p99_ms", p99, "ms"))
    val layers =
      if (!trace.enabled) Nil
      else Seq(
        ("wire.transit_p50_ms", Stats.median(transit), "ms"),
        ("wire.transit_p99_ms", Stats.percentile(transit, 99), "ms"),
        ("wire.received", received.toDouble, "count"),
        ("wire.lost", lost.toDouble, "count"),
        ("wire.gen_late_p99_ms", Stats.percentile(late, 99), "ms")) ++
        pipelineLayers(p, watch, timedStartNs, msgs, histRows, n, backlogMax)
    Result(metrics, named, layers, n.toLong, failed, Map(
      "messages" -> n, "timed_messages" -> timed.size, "warmup_messages" -> nWarm,
      "received" -> received, "altered" -> front.fanOut.altered,
      "uncommitted" -> uncommitted, "drained_in_time" -> drained,
      "state_mismatches" -> stateBad, "history_mismatches" -> histBad,
      "history_rows" -> histRows, "gen_late_p99_ms" -> Stats.percentile(late, 99),
      "drain_out_s" -> (doneNs - endNs) / 1e9))
  }
}
