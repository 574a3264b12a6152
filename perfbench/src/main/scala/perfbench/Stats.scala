package perfbench

import scala.collection.mutable.ArrayBuffer

object Stats {

  /** Linear-interpolated percentile (numpy's default), `p` in [0, 100]. */
  def percentile(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def median(xs: Iterable[Double]): Double = percentile(xs, 50)

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** The commits of one streaming query, in commit order: after the commit at
  * `timeNs`, every buffer position below `end` is durable.
  */
final class Commits {
  private val ends = ArrayBuffer.empty[Long]
  private val times = ArrayBuffer.empty[Long]

  def add(end: Long, timeNs: Long): Unit = synchronized {
    if (ends.isEmpty || end > ends.last) { ends += end; times += timeNs }
  }

  def committed: Long = synchronized(if (ends.isEmpty) 0L else ends.last)

  /** When position `pos` became durable, or None if it never did. */
  def committedAt(pos: Long): Option[Long] = synchronized {
    // first commit whose end exceeds pos (ends are strictly increasing)
    var lo = 0
    var hi = ends.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ends(mid) > pos) hi = mid else lo = mid + 1
    }
    if (lo < ends.length) Some(times(lo)) else None
  }
}

object Latency {

  /** Open-loop latency of positions [from, until): from each message's
    * SCHEDULED send time to the moment every query has committed it, so a
    * stall also charges the messages that queued behind it. Positions no
    * query committed come back as None.
    */
  def fromSchedule(scheduledNs: Long => Long, from: Long, until: Long,
      queries: Seq[Commits]): IndexedSeq[Option[Double]] =
    (from until until).map { pos =>
      val done = queries.map(_.committedAt(pos))
      if (done.exists(_.isEmpty)) None
      else Some((done.flatten.max - scheduledNs(pos)) / 1e6)
    }
}
