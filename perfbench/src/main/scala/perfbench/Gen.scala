package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Deterministic MQTT message generator. The same seed and shape give the
  * same message sequence; the program under test only ever sees the
  * generated topics and payloads.
  *
  * Topic choice is skewed: with `skew` = s the index is `floor(topics * u^s)`
  * for uniform u, so s = 1 is uniform and larger s concentrates traffic on
  * low-numbered topics. Each topic's payload is one of `valuesPerTopic`
  * values, drawn uniformly, so about 1/valuesPerTopic of the messages of a
  * topic repeat its previous payload (which the diff-only history drops).
  */
final case class Shape(topics: Int, skew: Double, valuesPerTopic: Int)

final class Gen(seed: Long, shape: Shape) {
  private val rnd = new SplittableRandom(seed)

  /** The next message as (topic index, value index). */
  def next(): (Int, Int) = {
    val t = math.min(shape.topics - 1,
      (shape.topics * math.pow(rnd.nextDouble(), shape.skew)).toInt)
    (t, rnd.nextInt(shape.valuesPerTopic))
  }

  /** The next `n` messages, packed as parallel arrays. */
  def take(n: Int): Gen.Batch = {
    val topics = new Array[Int](n)
    val values = new Array[Int](n)
    var i = 0
    while (i < n) {
      val (t, v) = next()
      topics(i) = t
      values(i) = v
      i += 1
    }
    Gen.Batch(topics, values)
  }
}

object Gen {
  final case class Batch(topics: Array[Int], values: Array[Int]) {
    def size: Int = topics.length
  }

  def topicName(t: Int): String = f"bench/dev$t%06d/STATE"

  def payload(t: Int, v: Int): Array[Byte] =
    s"""{"dev":$t,"reading":$v}""".getBytes(UTF_8)

  /** Open-loop schedule: message `i` is due `i / rate` seconds after start. */
  def scheduledNs(startNs: Long, ratePerS: Double, i: Long): Long =
    startNs + (i * 1e9 / ratePerS).toLong
}
