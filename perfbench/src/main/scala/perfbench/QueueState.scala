package perfbench

import graft.streaming._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The four EventStream batching state machines keyed by stream, plus
  * sessionize keyed by user, as one streaming query: the five stateful
  * operators read the same MemoryStream and their outputs share one
  * memory sink as (kind, JSON row). One trigger loop commits all five,
  * so an event's result is complete when its micro-batch commits.
  * Policies match the parity specs: time-or-size 10 / 1800 s,
  * periodic 5 / 7200 s, sessions 1800 s. */
final class QueueInstance(spark: SparkSession, seed: Long, n: Int, cores: Int,
    tag: String) extends Instance {
  import spark.implicits._
  private implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
  import QueueInstance._

  val events: Array[Evt] = Gen.queueEvents(seed, n, streams = 30, users = 3000)
  private val in = MemoryStream[Evt](cores)
  private def tagged(ds: Dataset[_], kind: String): DataFrame =
    ds.select(lit(kind).as("kind"), to_json(struct(col("*"))).as("row"))
  private val sinkName = s"queue_state_$tag"
  /** Started on first use, so that a set-up can time it apart from
    * generating the inputs. */
  lazy val queries: Seq[StreamingQuery] = Seq(
    Seq(
      tagged(EventStream.batchFlush(in.toDS(), SizeA, LimitSec), "flush"),
      tagged(EventStream.batchFlushPeriodic(in.toDS(), SizeP, TickSec), "periodic"),
      tagged(EventStream.queueLatency(in.toDS(), SizeA, LimitSec), "latency"),
      tagged(EventStream.queueLatencyPeriodic(in.toDS(), SizeP, TickSec), "latency_periodic"),
      tagged(EventStream.sessionize(in.toDS(), GapSec), "sessions")
    ).reduce(_ union _)
      .writeStream.format("memory").queryName(sinkName).outputMode("append").start())
  val loop = new OpenLoop(Seq(in), events.toIndexedSeq)

  private def table[T: org.apache.spark.sql.Encoder](kind: String): Dataset[T] = {
    val schema = implicitly[org.apache.spark.sql.Encoder[T]].schema
    spark.table(sinkName).filter(col("kind") === kind)
      .select(from_json(col("row"), schema).as("r")).select("r.*").as[T]
  }

  /** Each operator's closed output must equal a plain replay of its
    * policy over the offered events with each stream's open tail left
    * out, and every offered event must sit in exactly one closed batch
    * or that tail. */
  def check(): Check = {
    val offered = events.take(loop.offered).toSeq
    val byStream = offered.groupBy(_.event_type).view
      .mapValues(_.sortBy(_.event_id).map(e => (e.event_id, e.ts.getTime / 1000))).toMap
    val flush = table[ClosedBatch]("flush").collect().toSeq
    val periodic = table[ClosedPeriodicBatch]("periodic").collect().toSeq
    // outputs compare as multisets: an output emitted twice is an error
    def bag[T](xs: Iterable[T]): Map[T, Int] = xs.toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    val gap = byStream.toSeq.flatMap { case (st, es) => timeOrSize(st, es) }
    val tick = byStream.toSeq.flatMap { case (st, es) => periodicTicks(st, es) }
    val errs = Seq.newBuilder[String]
    def same[T](what: String, got: Iterable[T], want: Iterable[T]): Unit =
      if (bag(got) != bag(want)) errs += s"$what differs from its replay"
    same("batchFlush", flush, gap.map(_._1))
    same("batchFlushPeriodic", periodic, tick.map(_._1))
    same("queueLatency", table[LatencyObs]("latency").collect(), gap.flatMap(_._2))
    same("queueLatencyPeriodic", table[LatencyObs]("latency_periodic").collect(), tick.flatMap(_._2))
    same("sessionize", table[ClosedSession]("sessions").collect(), sessionOracle(offered))
    if (!flush.exists(_.closed_by == "size") || !flush.exists(_.closed_by == "time") ||
        !periodic.exists(_.closed_by == "size") || !periodic.exists(_.closed_by == "tick"))
      errs += "not every close reason fired"

    // coverage: per stream, closed batches tile a prefix of its arrivals
    var misplaced = 0L
    byStream.foreach { case (st, es) =>
      val ids = es.map(_._1)
      var at = 0
      flush.filter(_.stream == st).sortBy(_.batch_id).foreach { b =>
        if (at + b.n_events > ids.size || ids(at) != b.first_event ||
            ids(at + b.n_events - 1) != b.last_event) misplaced += b.n_events
        at += b.n_events
      }
      if (ids.size - at >= SizeA) misplaced += ids.size - at
    }
    if (misplaced > 0) errs += s"$misplaced events outside exactly one closed batch or the open tail"
    val e = errs.result()
    Check(offered.size.toLong, if (e.isEmpty) 0L else math.max(misplaced, e.size.toLong), e)
  }

  def stop(): Unit = queries.foreach(_.stop())

  // the memory sink keeps its rows in the driver until its view is dropped
  override def discard(): Unit = { stop(); spark.catalog.dropTempView(sinkName) }
}

object QueueInstance {
  val SizeA = 10
  val LimitSec = 1800L
  val SizeP = 5
  val TickSec = 7200L
  val GapSec = 1800L

  /** Time-or-size replay (queue.go's size limit and idle flush as
    * Batching.assignTimeOrSize models them): closed batches and their
    * members' latency observations, open tail left out. `es` is one
    * stream's (event_id, second) in arrival order. */
  def timeOrSize(stream: String, es: Seq[(Long, Long)]): Seq[(ClosedBatch, Seq[LatencyObs])] = {
    val out = Seq.newBuilder[(ClosedBatch, Seq[LatencyObs])]
    var cur = Vector.empty[(Long, Long)]
    var closed = 0L
    def close(by: String): Unit = {
      closed += 1
      val last = cur.last._2
      out += ((ClosedBatch(stream, closed, cur.size, cur.head._1, cur.last._1, last - cur.head._2, by),
        cur.map(e => LatencyObs(stream, closed, last - e._2))))
      cur = Vector.empty
    }
    es.foreach { e =>
      if (cur.nonEmpty && e._2 - cur.last._2 > LimitSec) close("time")
      cur :+= e
      if (cur.size >= SizeA) close("size")
    }
    out.result()
  }

  /** Free-running ticker replay (Batching.assignPeriodic): ticks at the
    * stream's first arrival second plus multiples of TickSec. */
  def periodicTicks(stream: String, es: Seq[(Long, Long)]): Seq[(ClosedPeriodicBatch, Seq[LatencyObs])] = {
    val out = Seq.newBuilder[(ClosedPeriodicBatch, Seq[LatencyObs])]
    val t0 = es.head._2
    var cur = Vector.empty[(Long, Long)]
    var w = 0L
    var closed = 0L
    def close(by: String, at: Long): Unit = {
      closed += 1
      out += ((ClosedPeriodicBatch(stream, closed, cur.size, cur.head._1, cur.last._1, by, at),
        cur.map(e => LatencyObs(stream, closed, at - e._2))))
      cur = Vector.empty
    }
    es.foreach { e =>
      val we = (e._2 - t0) / TickSec
      if (cur.nonEmpty && we > w) close("tick", t0 + (w + 1) * TickSec)
      if (cur.isEmpty) w = we
      cur :+= e
      if (cur.size >= SizeP) close("size", e._2)
    }
    out.result()
  }

  /** Gap-closed sessions by plain replay, each user's last one open. */
  def sessionOracle(evts: Seq[Evt]): Seq[ClosedSession] =
    evts.groupBy(_.user_id).iterator.flatMap { case (u, es) =>
      val secs = es.sortBy(e => (e.ts.getTime, e.event_id)).map(_.ts.getTime / 1000)
      val out = Seq.newBuilder[ClosedSession]
      var start = secs.head; var last = secs.head; var k = 1
      secs.tail.foreach { s =>
        if (s - last > GapSec) { out += ClosedSession(u, start, last, k); start = s; k = 1 }
        else k += 1
        last = s
      }
      out.result()
    }.toSeq
}
