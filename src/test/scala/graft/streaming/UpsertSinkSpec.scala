package graft.streaming

import java.nio.file.Files
import java.sql.{DriverManager, Timestamp}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.operators.MqttPipeline

/** The keyed upsert sink in both forms. The JDBC form runs against embedded
  * Derby (the JDBC engine shipped with Spark) and must converge to exactly
  * the reference's `mqtt` table contents: one row per topic holding the last
  * committed message (/root/reference/mysql.sql:51, mqtt2sql.py:579-629).
  * The parquet form is driven batch by batch through `merge` and read back
  * through `readState`: replay, out-of-order timestamps, convergence across
  * compactions, and a crash between the base publish renames.
  */
class UpsertSinkSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)
  private def msg(id: Long, t: Long, topic: String, v: String) =
    MqttMsg(id, ts(t), topic, v.getBytes("UTF-8"), 0, 0)

  private def frame(msgs: Seq[MqttMsg]) =
    msgs.map(m => (m.msg_id, m.ts, m.topic, m.value, m.qos, m.retain))
      .toDF("msg_id", "ts", "topic", "value", "qos", "retain")

  test("mergeSql generates a standard keyed MERGE with quoted identifiers") {
    val sql = UpsertSink.mergeSql("mqtt", "mqtt_stage", Seq("topic"),
      Seq("msg_id", "ts", "topic", "value"))
    assert(sql ==
      """MERGE INTO mqtt t USING mqtt_stage s ON t."topic" = s."topic"
        |WHEN MATCHED THEN UPDATE SET "msg_id" = s."msg_id", "ts" = s."ts", "value" = s."value"
        |WHEN NOT MATCHED THEN INSERT ("msg_id", "ts", "topic", "value") VALUES (s."msg_id", s."ts", s."topic", s."value")""".stripMargin)
  }

  test("JDBC MERGE upsert into Derby converges to last-message-per-topic") {
    val dbDir = Files.createTempDirectory("derby_upsert").toFile.getAbsolutePath
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().executeUpdate(
        """CREATE TABLE mqtt ("msg_id" BIGINT, "ts" TIMESTAMP,
          |  "topic" VARCHAR(1024) NOT NULL PRIMARY KEY,
          |  "value" BLOB, "qos" INT, "retain" INT)""".stripMargin)
    } finally conn.close()

    implicit val ctx = spark.sqlContext
    val input = MemoryStream[MqttMsg]
    val q = input.toDS().toDF().writeStream
      .foreachBatch(UpsertSink.mergeJdbc(url, "mqtt") _)
      .option("checkpointLocation",
        Files.createTempDirectory("derby_ckpt").toFile.getAbsolutePath)
      .outputMode("append").start()
    // batch 1: t twice (intra-batch reduce), u once
    input.addData(Seq(msg(1, 10, "t", "a"), msg(2, 11, "t", "b"), msg(3, 12, "u", "x")))
    q.processAllAvailable()
    // batch 2: t updated (cross-batch MERGE match), v inserted
    input.addData(Seq(msg(4, 13, "t", "c"), msg(5, 14, "v", "z")))
    q.processAllAvailable()
    q.stop()

    val got = spark.read.jdbc(url, "mqtt", new java.util.Properties)
      .select($"topic", $"value".cast("string"), $"msg_id")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("t", "c", 4L), ("u", "x", 3L), ("v", "z", 5L)))
  }

  test("JDBC merge is idempotent: replaying a batch leaves the state unchanged") {
    val dbDir = Files.createTempDirectory("derby_idem").toFile.getAbsolutePath
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().executeUpdate(
        """CREATE TABLE mqtt ("msg_id" BIGINT, "ts" TIMESTAMP,
          |  "topic" VARCHAR(1024) NOT NULL PRIMARY KEY,
          |  "value" BLOB, "qos" INT, "retain" INT)""".stripMargin)
    } finally conn.close()
    val batch = frame(Seq(msg(1, 10, "t", "a"), msg(2, 11, "u", "x")))
    UpsertSink.mergeJdbc(url, "mqtt")(batch, 0L)
    UpsertSink.mergeJdbc(url, "mqtt")(batch, 0L) // checkpoint-restart replay
    val got = spark.read.jdbc(url, "mqtt", new java.util.Properties)
      .select($"topic", $"value".cast("string")).as[(String, String)].collect().toSet
    assert(got == Set(("t", "a"), ("u", "x")))
  }

  test("parquet merge stand-in equals the batch stateTable over all messages") {
    val statePath =
      Files.createTempDirectory("upsert_pq").toFile.getAbsolutePath + "/state"
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[MqttMsg]
    val q = input.toDS().toDF().writeStream
      .foreachBatch(UpsertSink.merge(statePath) _)
      .option("checkpointLocation",
        Files.createTempDirectory("upsert_ck").toFile.getAbsolutePath)
      .outputMode("append").start()
    val b1 = Seq(msg(1, 10, "t", "a"), msg(2, 11, "u", "x"))
    val b2 = Seq(msg(3, 12, "t", "b"), msg(4, 13, "w", "n"))
    Seq(b1, b2).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    val got = UpsertSink.readState(spark, statePath).get
      .select($"topic", $"value".cast("string")).as[(String, String)].collect().toSet
    val expected = MqttPipeline.stateTable(frame(b1 ++ b2))
      .select($"topic", $"value".cast("string")).as[(String, String)].collect().toSet
    assert(got == expected)
  }

  private def newStatePath(): String =
    Files.createTempDirectory("upsert_delta").toFile.getAbsolutePath + "/state"

  /** Every column of the state as comparable values, one tuple per key. */
  private def stateOf(statePath: String): Set[(String, Long, Long, String)] =
    UpsertSink.readState(spark, statePath).get
      .select($"topic", $"msg_id", $"ts".cast("long"), $"value".cast("string"))
      .as[(String, Long, Long, String)].collect().toSet

  private def deltaCount(statePath: String): Int =
    Option(new java.io.File(statePath).list()).getOrElse(Array.empty[String])
      .count(_.matches("""d-\d+"""))

  test("parquet merge is idempotent: replaying batch k, delta or compaction, leaves the state unchanged") {
    val batches = Seq(
      Seq(msg(1, 10, "t", "a"), msg(2, 11, "u", "x")),
      Seq(msg(3, 12, "t", "b")),
      Seq(msg(4, 13, "w", "n"), msg(5, 9, "u", "old")),
      Seq(msg(6, 14, "u", "y")))
    // a stream that merged batches 0..k and crashed before committing k
    val kinds = batches.indices.map { k =>
      val statePath = newStatePath()
      batches.take(k + 1).zipWithIndex.foreach { case (b, i) =>
        UpsertSink.merge(statePath)(frame(b), i.toLong)
      }
      val kind =
        if (new java.io.File(statePath, UpsertSink.deltaName(k)).isDirectory) "delta"
        else "compaction"
      val once = stateOf(statePath)
      UpsertSink.merge(statePath)(frame(batches(k)), k.toLong)
      assert(stateOf(statePath) == once, s"replaying $kind batch $k changed the state")
      if (k == batches.size - 1)
        assert(once.map(r => (r._1, r._4)) == Set(("t", "b"), ("u", "y"), ("w", "n")))
      kind
    }
    assert(kinds.toSet == Set("delta", "compaction"), kinds.toString)
  }

  test("parquet merge: a later batch carrying an older ts for a key does not win") {
    val statePath = newStatePath()
    // batch 1 is folded by a compaction, batch 2 lands as a delta: neither
    // older message may displace the newer one from batch 0
    Seq(Seq(msg(1, 20, "t", "new")), Seq(msg(2, 10, "t", "older")),
      Seq(msg(3, 15, "t", "old"), msg(4, 16, "u", "x"))).zipWithIndex.foreach {
      case (b, k) => UpsertSink.merge(statePath)(frame(b), k.toLong)
    }
    assert(stateOf(statePath).map(r => (r._1, r._2, r._4)) ==
      Set(("t", 1L, "new"), ("u", 4L, "x")))
  }

  test("parquet merge converges to stateTable across several compactions, deltas bounded") {
    val statePath = newStatePath()
    val rnd = new scala.util.Random(7)
    val topics = 300
    var id = 0L
    // timestamps wander backwards as well as forwards across batches
    def next(topic: Int) = {
      id += 1
      msg(id, 1000 + rnd.nextInt(400), s"topic/$topic", s"value-$id-${"x" * 16}")
    }
    // batch 0 writes every topic, so the base outweighs one small batch and
    // several deltas live between compactions
    val batches = (0 until topics).map(next) +:
      (1 until 60).map(_ => Seq.fill(2 + rnd.nextInt(6))(next(rnd.nextInt(topics))))
    // a delta write that died before its rename leaves its tmp dir behind
    val stale = new java.io.File(statePath, UpsertSink.deltaName(999) + "_tmp")
    assert(stale.mkdirs())
    var compactions = 0
    var maxDeltas = 0
    batches.zipWithIndex.foreach { case (b, k) =>
      val before = deltaCount(statePath)
      UpsertSink.merge(statePath)(frame(b).coalesce(1), k.toLong)
      val after = deltaCount(statePath)
      if (after < before) compactions += 1
      maxDeltas = maxDeltas max after
    }
    info(s"$compactions compactions, at most $maxDeltas live deltas")
    assert(compactions >= 3, s"only $compactions compactions")
    assert(maxDeltas >= 3 && maxDeltas <= 10, s"$maxDeltas live deltas")
    assert(!stale.exists(), "a compaction left a dead delta tmp dir")
    val expected = MqttPipeline.stateTable(frame(batches.flatten))
      .select($"topic", $"ts".cast("long"), $"value".cast("string"))
      .as[(String, Long, String)].collect().toSet
    assert(stateOf(statePath).map(r => (r._1, r._3, r._4)) == expected)
  }

  test("parquet merge: a crash between base -> base_prev and tmp -> base still reads the full state") {
    val statePath = newStatePath()
    val batches = Seq(
      Seq(msg(1, 10, "t", "a"), msg(2, 11, "u", "x")),
      Seq(msg(3, 12, "t", "b")), // compaction: publishes the first base
      Seq(msg(4, 13, "w", "n")))  // delta on top of it
    batches.zipWithIndex.foreach { case (b, k) => UpsertSink.merge(statePath)(frame(b), k.toLong) }
    val full = stateOf(statePath)
    val dir = new java.io.File(statePath)
    assert(new java.io.File(dir, UpsertSink.Base).isDirectory && deltaCount(statePath) == 1)
    // the publish renamed base away and died before renaming base_tmp in
    assert(new java.io.File(dir, UpsertSink.Base)
      .renameTo(new java.io.File(dir, UpsertSink.BasePrev)))
    new java.io.File(dir, "base_tmp").mkdirs()
    assert(stateOf(statePath) == full)
    // and the sink carries on from the fallback base after the restart
    UpsertSink.merge(statePath)(frame(Seq(msg(5, 14, "t", "c"))), 3L)
    assert(stateOf(statePath).map(r => (r._1, r._4)) ==
      Set(("t", "c"), ("u", "x"), ("w", "n")))
  }
}
