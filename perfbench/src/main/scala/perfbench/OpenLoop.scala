package perfbench

import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** One addData call: events [first, first + n) went in at `sentMs`,
  * under source offset `offset` (the same on every stream it fed). */
final case class Chunk(offset: Long, first: Int, n: Int, sentMs: Double)

/** The result of one open-loop phase. `dueMs(i)` is the schedule time
  * of event i of the phase. */
final case class Phase(t0Ms: Double, rate: Double, first: Int, n: Int,
    chunks: IndexedSeq[Chunk]) {
  def dueMs(i: Int): Double = t0Ms + (i - first) * 1000.0 / rate
}

/** The benchmark's load generator: one thread feeding MemoryStreams on
  * a fixed schedule. Inputs are built before the phase starts, so the
  * send-time work is only `addData`. Each stream gets the same chunk
  * sequence, so a chunk has one offset on all of them. */
final class OpenLoop[A](streams: Seq[MemoryStream[A]], inputs: IndexedSeq[A]) {
  private val chunks = ArrayBuffer.empty[Chunk]
  private var sent = 0

  def offered: Int = sent

  private def now(): Double = System.nanoTime() / 1e6 + OpenLoop.wallOffset

  /** Send events [sent, sent + n) as one chunk. */
  def push(n: Int): Unit = {
    val slice = inputs.slice(sent, sent + n)
    val t = now()
    val off = streams.map(_.addData(slice)).head.toString.toLong
    chunks += Chunk(off, sent, n, t)
    sent += n
  }

  /** Offer `n` events at `rate` per second from now on: event i of the
    * phase is due at t0 + i / rate, whatever the system does. */
  def phase(rate: Double, n: Int): Phase = {
    val first = sent
    val before = chunks.size
    val t0 = now()
    while (sent < first + n) {
      val due = math.min(first + n, first + ((now() - t0) * rate / 1000.0).toInt)
      if (due > sent) push(due - sent)
      else LockSupport.parkNanos(500000L)
    }
    Phase(t0, rate, first, n, chunks.slice(before, chunks.size).toIndexedSeq)
  }
}

object OpenLoop {
  // progress timestamps are wall-clock milliseconds; the generator uses
  // the monotonic clock shifted onto the same epoch
  val wallOffset: Double =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  /** Commit time (epoch ms) of each micro-batch, by the last source
   * offset it covered: trigger start + trigger duration. */
  def commits(q: StreamingQuery): Seq[(Long, Double)] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      (p.sources.head.endOffset.toLong, commitMs(p))
    }.sortBy(_._1)

  def commitMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
      p.durationMs.get("triggerExecution").doubleValue()

  /** Completion time of each chunk: the latest commit, over the given
    * queries, of the batch that covered its offset. */
  def completion(ph: Phase, perQuery: Seq[Seq[(Long, Double)]]): IndexedSeq[Double] =
    ph.chunks.map { c =>
      perQuery.map { cs =>
        cs.find(_._1 >= c.offset).map(_._2).getOrElse(
          sys.error(s"offset ${c.offset} never committed"))
      }.max
    }

  /** Per-event latency from due time to completion, in ms. */
  def latencies(ph: Phase, done: IndexedSeq[Double]): Array[Double] = {
    val out = new Array[Double](ph.n)
    var k = 0
    ph.chunks.zip(done).foreach { case (c, d) =>
      var i = c.first
      while (i < c.first + c.n) { out(k) = d - ph.dueMs(i); k += 1; i += 1 }
    }
    out
  }

  /** How late the generator sent each event, in ms. */
  def lateness(ph: Phase): Array[Double] =
    ph.chunks.flatMap(c => (c.first until c.first + c.n).map(i => c.sentMs - ph.dueMs(i))).toArray

  /** Backlog (due but not completed) growth over the second half of the
    * phase, events per second. */
  def backlogGrowth(ph: Phase, done: IndexedSeq[Double]): Double = {
    val end = ph.t0Ms + ph.n * 1000.0 / ph.rate
    val mid = (ph.t0Ms + end) / 2
    def backlog(t: Double): Double = {
      val due = math.min(ph.n.toDouble, (t - ph.t0Ms) * ph.rate / 1000.0)
      val completed = ph.chunks.zip(done).collect { case (c, d) if d <= t => c.n }.sum
      due - completed
    }
    (backlog(end) - backlog(mid)) / ((end - mid) / 1000.0)
  }

  def pct(xs: Array[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = pct(xs.toArray, 0.5)
}
