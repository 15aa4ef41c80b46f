package perfbench

import java.util.concurrent.atomic.AtomicLong

import graft.operators.Routing
import graft.sources.{JsonWrp, MsgPackWrp}
import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Injected primary-sink failures: every `retryEvery`-th micro-batch
  * fails its first attempt (the retry succeeds), every
  * `failoverEvery`-th fails every attempt and lands in alt. Zero turns
  * a kind off. Counts the attempts it sees. */
final class FailurePlan(retryEvery: Int, failoverEvery: Int)
    extends ((DataFrame, Int) => Boolean) with Serializable {
  val batches = new AtomicLong
  val attempts = new AtomicLong
  val retries = new AtomicLong
  val failovers = new AtomicLong
  /** (batch ordinal, attempt, nanoTime) of each primary attempt. */
  val attemptLog = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, Long)]

  def apply(batch: DataFrame, attempt: Int): Boolean = {
    val k = if (attempt == 0) batches.incrementAndGet() else batches.get
    attempts.incrementAndGet()
    if (attempt > 0) retries.incrementAndGet()
    attemptLog.add((k, attempt, System.nanoTime()))
    val always = failoverEvery > 0 && k % failoverEvery == 0
    val once = retryEvery > 0 && k % retryEvery == 0 && attempt == 0
    if (always && attempt == Ingest.MaxRetries) failovers.incrementAndGet()
    always || once
  }
}

/** The reference pipeline on graft's public functions: classify and
  * decode (JsonWrp / MsgPackWrp), EventStream.validate,
  * Routing.fanoutWithDevice, EventStream.failoverSink. */
object Ingest {
  val MaxRetries = 1

  private def reasonCounts = Gen.Reasons.map(r =>
    sum(when(col("reject_reason") === r, 1L).otherwise(0L)).as(r))

  /** Bodies to decoded WRP rows; rejects counted per reason through
    * named observations ("json_rejects", "msgpack_rejects"). */
  def decode(raw: DataFrame): DataFrame = {
    val json = JsonWrp.classify(
        raw.filter(col("fmt") === 0).select(col("bytes").cast("string").as("value")))
      .observe("json_rejects", reasonCounts.head, reasonCounts.tail: _*)
    val fromJson = JsonWrp.decodeDataset(
      json.filter(col("reject_reason") === "valid").drop("reject_reason")).toDF()
    val mp = MsgPackWrp.classify(
        raw.filter(col("fmt") === 1).select(col("bytes").as("body")))
      .toDF("wrp", "reject_reason")
      .observe("msgpack_rejects", reasonCounts.head, reasonCounts.tail: _*)
    val fromMp = mp.filter(col("reject_reason") === "valid").select("wrp.*")
    fromJson.unionByName(fromMp)
  }

  def route(validated: DataFrame, routes: DataFrame): DataFrame =
    Routing.fanoutWithDevice(validated, routes, col("event_type"), col("source"), col("dest"))

  def routesFrame(spark: SparkSession, routes: Seq[Route], useMeta: Boolean): DataFrame =
    if (useMeta) graft.queries.Events.metaRoutes(spark)
    else spark.createDataFrame(routes.map(r => (r.stream, r.eventRegex, r.deviceRegex)))
      .toDF("stream", "event_regex", "device_regex")
}

/** One running ingest pipeline with its inputs. */
final class IngestInstance(spark: SparkSession, seed: Long, n: Int, cores: Int,
    routes: Seq[Route], useMeta: Boolean, val failures: FailurePlan, dir: String)
    extends Instance {
  import spark.implicits._
  private implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext

  val (bodies, truth) = Gen.wrpBodies(seed, n)
  private val in = MemoryStream[Body](math.max(1, cores / 2))
  val primary = s"$dir/primary"
  val alt = s"$dir/alt"
  val routesFrame: DataFrame = Ingest.routesFrame(spark, routes, useMeta)
  private val routed = Ingest.route(EventStream.validate(Ingest.decode(in.toDF())), routesFrame)
  /** Started on first use, so that a set-up can time it apart from
    * generating the inputs. */
  lazy val query: StreamingQuery = EventStream.failoverSink(routed, primary, alt,
    s"$dir/checkpoint", failures, Ingest.MaxRetries)
  val loop = new OpenLoop(Seq(in), bodies.toIndexedSeq)
  def queries: Seq[StreamingQuery] = Seq(query)

  /** Per-reason reject counts the running pipeline observed. */
  def observedRejects: Map[String, Long] =
    query.recentProgress.toSeq.flatMap { p =>
      Seq("json_rejects", "msgpack_rejects").flatMap(k => Option(p.observedMetrics.get(k)))
    }.flatMap(row => Gen.Reasons.map(r => r -> row.getAs[Long](r)))
      .groupMapReduce(_._1)(_._2)(_ + _)

  /** Every valid event offered must reach exactly its oracle streams,
    * once each, across primary and alt; rejects must match the
    * generator per reason. */
  def check(): Check = {
    val offered = truth.iterator.take(loop.offered).toSeq
    val want = Gen.routeOracle(offered.iterator, routes).toSeq
      .groupBy(_.takeWhile(_ != '|')).view.mapValues(_.toSet).toMap
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    val got = Seq(primary, alt).filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
      .map(p => spark.read.parquet(p).select(concat_ws("|", col("transaction_uuid"), col("stream"))))
      .reduceOption(_ union _).map(_.as[String].collect().toSeq).getOrElse(Nil)
      .groupBy(_.takeWhile(_ != '|'))
    val valid = offered.filter(_.reason == "valid")
    val wrong = valid.count { t =>
      val g = got.getOrElse(t.key, Nil)
      g.size != g.toSet.size || g.toSet != want.getOrElse(t.key, Set.empty)
    }
    val stray = got.keySet.diff(valid.map(_.key).toSet).size
    val wantRejects = offered.filter(_.reason != "valid").groupMapReduce(_.reason)(_ => 1L)(_ + _)
    val gotRejects = observedRejects.filter(_._2 > 0)
    val rejectDiff = (wantRejects.keySet ++ gotRejects.keySet).toSeq.map(r =>
      math.abs(wantRejects.getOrElse(r, 0L) - gotRejects.getOrElse(r, 0L))).sum
    Check(valid.size.toLong, wrong + stray + rejectDiff, Seq(
      if (want.isEmpty) Some("the oracle delivers nothing") else None,
      if (wrong + stray > 0)
        Some(s"routing: $wrong of ${valid.size} valid events misdelivered, $stray stray keys")
      else None,
      if (rejectDiff > 0) Some(s"rejects: got $gotRejects, want $wantRejects") else None
    ).flatten)
  }

  def stop(): Unit = query.stop()
}
