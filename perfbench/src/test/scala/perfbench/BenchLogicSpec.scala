package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, when}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchLogicSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private val shape = Shape(topics = 50, skew = 2.0, valuesPerTopic = 4)

  test("the generator is deterministic for a seed") {
    val a = new Gen(7, shape).take(500)
    val b = new Gen(7, shape).take(500)
    val c = new Gen(8, shape).take(500)
    assert(a.topics.sameElements(b.topics) && a.values.sameElements(b.values))
    assert(!(a.topics.sameElements(c.topics) && a.values.sameElements(c.values)))
    assert(a.topics.forall(t => t >= 0 && t < shape.topics))
    assert(a.values.forall(v => v >= 0 && v < shape.valuesPerTopic))
  }

  test("skew concentrates traffic on low-numbered topics") {
    val m = new Gen(1, Shape(1000, 2.0, 4)).take(20000)
    assert(m.topics.count(_ < 250) > m.topics.count(_ >= 500))
  }

  test("open-loop latency runs from the scheduled send time, not the actual one") {
    val rate = 1000.0 // one message per ms
    val start = 1000000000L
    val commits = Seq(new Commits, new Commits)
    // a 50 ms stall: both queries commit positions 0..9 only at start + 60 ms,
    // whenever the publisher actually managed to send them
    commits.foreach(_.add(10, start + 60000000L))
    val lat = Latency.fromSchedule(i => Gen.scheduledNs(start, rate, i), 0, 11, commits)
    assert(lat.take(10).flatten == (0 until 10).map(i => 60.0 - i))
    assert(lat(10).isEmpty, "a position no query committed has no latency")
  }

  test("a position counts as committed only once every query has committed it") {
    val a = new Commits
    val b = new Commits
    a.add(5, 100L)
    b.add(3, 150L)
    b.add(6, 400L)
    val lat = Latency.fromSchedule(_ => 0L, 0, 6, Seq(a, b))
    assert(lat.take(3).flatten == Seq(150e-6, 150e-6, 150e-6))
    assert(lat.slice(3, 5).flatten == Seq(400e-6, 400e-6))
    assert(lat(5).isEmpty)
  }

  test("an altered message on the wire is detected at its arrival position") {
    val m = new Gen(3, shape).take(3)
    val t = m.topics(1)
    assert(FanOut.matches(m, 1, Gen.topicName(t), Gen.payload(t, m.values(1))))
    assert(!FanOut.matches(m, 1, Gen.topicName(t), Gen.payload(t, m.values(1) + 1)))
    assert(!FanOut.matches(m, 1, Gen.topicName(m.topics(2)), Gen.payload(t, m.values(1))))
    assert(!FanOut.matches(m, 3, Gen.topicName(t), Gen.payload(t, m.values(1))))
  }

  test("a dropped or altered message makes failed_ratio non-zero") {
    val m = new Gen(5, shape).take(400)
    val record = Ingest.recordFrame(spark, m)
    val state = graft.operators.MqttPipeline.stateTable(record)
    val history = graft.operators.MqttPipeline.historyKept(record)
    assert(Ingest.check(record, Some(state), history)._1 == 0L)
    assert(Ingest.check(record, Some(state), history)._2 == 0L)
    assert(Ingest.failures(m.size.toLong, 0L, 0L, 0L) == 0L)

    // the program lost message 0: its history row is missing
    val dropped = history.filter(col("msg_id") =!= 0L)
    val (s1, h1, _) = Ingest.check(record, Some(state), dropped)
    assert(h1 > 0L)
    // the program altered the last message of some topic: its state row disagrees
    val victim = state.select("topic").head().getString(0)
    val altered = state.withColumn("value",
      when(col("topic") === victim, lit(Array[Byte](1, 2, 3))).otherwise(col("value")))
    val (s2, h2, _) = Ingest.check(record, Some(altered), history)
    assert(s2 > 0L)
    assert(Ingest.failures(m.size.toLong, s1, h1) > 0L)
    assert(Ingest.failures(m.size.toLong, s2, h2).toDouble / m.size > 0.0)
    // a missing state table fails every expected row
    val (s3, _, _) = Ingest.check(record, None, history)
    assert(s3 == state.count())
  }

  test("the failure count never exceeds the operations attempted") {
    assert(Ingest.failures(10L, 7L, 8L) == 10L)
  }

  test("the percentile interpolates like numpy") {
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50) == 2.5)
    assert(Stats.percentile(Seq(5.0), 99) == 5.0)
    assert(Stats.percentile(Nil, 50).isNaN)
  }

  test("covered time is the union of job spans clipped to the window") {
    assert(JobWatch.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 2L, 35L) == 23L)
    assert(JobWatch.covered(Nil, 0L, 10L) == 0L)
  }
}
