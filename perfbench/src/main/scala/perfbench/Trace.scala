package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One file write seen by the QueryExecutionListener. */
final case class Write(durationNs: Long, files: Long, bytes: Long, rows: Long)

/** Span: one timed interval at a layer boundary. Spans of one
  * micro-batch share `batch`, the micro-batch id. */
final case class Span(name: String, query: String, batch: Long, startMs: Double,
    endMs: Double, parent: String)

/** The traced run's listeners. Everything is kept in memory and read
  * after the listener bus has drained. */
final class Tracer(spark: SparkSession) {
  val jobs, stages, tasks, cpuNs, gcMs, shuffleWrite, scan, spill = new AtomicLong
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
  val writes = new ConcurrentLinkedQueue[Write]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        scan.addAndGet(m.inputMetrics.bytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) progress.add(e.progress)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def writeMetrics(p: SparkPlan): Option[Write] = p match {
    case c: CommandResultExec => writeMetrics(c.commandPhysicalPlan)
    case d: DataWritingCommandExec =>
      def m(k: String) = d.metrics.get(k).map(_.value).getOrElse(0L)
      Some(Write(0L, m("numFiles"), m("numOutputBytes"), m("numOutputRows")))
    case other => other.children.iterator.flatMap(writeMetrics).nextOption()
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      writeMetrics(qe.executedPlan).foreach(w => writes.add(w.copy(durationNs = durationNs)))
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Snapshot of the Spark-listener totals. */
  def totals: Map[String, Long] = Map("jobs" -> jobs.get, "stages" -> stages.get,
    "tasks" -> tasks.get, "cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get,
    "shuffle_write" -> shuffleWrite.get, "scan" -> scan.get, "spill" -> spill.get)
}

object Tracer {
  // the trigger loop's phases, in the order a micro-batch runs them
  private val Phases = Seq("latestOffset", "walCommit", "queryPlanning", "getBatch",
    "addBatch", "commitOffsets")

  /** A trigger span and its phase spans, laid end to end from the
    * trigger start in the order the trigger loop runs them. */
  def spans(p: StreamingQueryProgress): Seq[Span] = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.asScala
    val trig = Span("microbatch.trigger", p.name, p.batchId, start,
      start + d.get("triggerExecution").map(_.doubleValue).getOrElse(0.0), "")
    var at = start
    trig +: Phases.flatMap { k =>
      d.get(k).map { ms =>
        val s = Span(s"microbatch.$k", p.name, p.batchId, at, at + ms.doubleValue, trig.name)
        at += ms.doubleValue
        s
      }
    }
  }
}

/** Minimal JSON writer for the records. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Span => apply(Map("name" -> s.name, "query" -> s.query, "batch" -> s.batch,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "parent" -> s.parent))
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => apply(other.toString)
  }
}
