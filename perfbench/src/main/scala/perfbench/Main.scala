package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** Outcome of a workload's correctness check. */
final case class Check(attempted: Long, failed: Long, errors: Seq[String])

/** A running pipeline fed by one open-loop generator. */
trait Instance {
  def loop: OpenLoop[_]
  def queries: Seq[StreamingQuery]
  def check(): Check
  def stop(): Unit
  /** Stop and release what a check would have read. */
  def discard(): Unit = stop()
}

/** A streaming workload. `fixedRate` is the offered rate of its
  * fixed-rate phase, events per second: a constant, about half of the
  * capacity the workload measures at `local[4]`. */
final case class Workload(name: String, fixedRate: Int,
    make: (SparkSession, Long, Int, Int, String) => Instance)

/** The benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * [--cores <n>] [--dir <work dir>]`. Prints one JSON line last. */
object Main {

  val workloads: Map[String, Workload] = Seq(
    Workload("ingest_fanout", 3000, (s, seed, n, c, dir) =>
      new IngestInstance(s, seed, n, c, Gen.fanoutRoutes, useMeta = true,
        new FailurePlan(retryEvery = 4, failoverEvery = 9), dir)),
    Workload("ingest_selective", 3000, (s, seed, n, c, dir) =>
      new IngestInstance(s, seed, n, c, Gen.selectiveRoutes, useMeta = false,
        new FailurePlan(0, 0), dir)),
    Workload("queue_state", 2000, (s, seed, n, c, dir) =>
      new QueueInstance(s, seed, n, c, new File(dir).getName))
  ).map(w => w.name -> w).toMap

  /** Events each set-up pushes through the pipeline's first micro-batch. */
  val Warm = 400
  /** The untimed start of the fixed-rate phase, as a share of its
    * measured part. */
  val WarmShare = 0.5
  /** Length of the above-capacity phase, as a share of `seconds`. */
  val OverShare = 0.3
  /** Offered rate of the above-capacity phase, events per second: about
    * 2.5 times what any workload completes per second. */
  val OverRate = 25000
  /** A generator later than this at p99 makes the run invalid. */
  val MaxLateMs = 100.0

  /** Every per-layer metric and its unit, as BENCHMARK.json lists them.
    * A traced run prints all of them, 0 for a layer its workload does not
    * run. */
  val PerLayerUnits: Seq[(String, String)] = Seq(
    "source.late_ms_p99" -> "ms", "source.backlog_growth_eps" -> "1/s",
    "sources.us_per_event" -> "us", "sources.rejected" -> "count",
    "validate.us_per_event" -> "us", "route.us_per_event" -> "us",
    "route.fanout_ratio" -> "ratio", "route.predicate_evals" -> "count",
    "sink.write_ms_p50" -> "ms", "sink.write_ms_total" -> "ms", "sink.files" -> "count",
    "sink.records_per_file" -> "count", "sink.bytes" -> "bytes", "sink.attempts" -> "count",
    "sink.retries" -> "count", "sink.failovers" -> "count", "sink.other_ms" -> "ms",
    "microbatch.triggers" -> "count", "microbatch.rows_per_trigger_p50" -> "count",
    "microbatch.trigger_ms_p50" -> "ms", "microbatch.trigger_ms_p99" -> "ms",
    "microbatch.planning_ms_p50" -> "ms", "microbatch.wal_ms_p50" -> "ms",
    "microbatch.commit_ms_p50" -> "ms", "microbatch.jobs_per_trigger" -> "count",
    "microbatch.tasks_per_trigger" -> "count", "microbatch.task_cpu_ms" -> "ms",
    "microbatch.gc_ms" -> "ms", "state.rows_total" -> "count", "state.memory_bytes" -> "bytes",
    "state.commit_ms_p50" -> "ms", "state.rows_updated" -> "count",
    "state.output_rows" -> "count", "batch.jobs" -> "count", "batch.stages" -> "count",
    "batch.tasks" -> "count", "batch.task_cpu_s" -> "s", "batch.gc_s" -> "s",
    "batch.shuffle_write_bytes" -> "bytes", "batch.scan_bytes" -> "bytes",
    "batch.spill_bytes" -> "bytes", "batch.memo_builds" -> "count",
    "trace.overhead_latency_p50_pct" -> "%", "trace.overhead_capacity_pct" -> "%") ++
    EvtBatch.Queries.map(q => s"batch.q.$q.s" -> "s")

  def perLayer(values: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = values.keySet -- PerLayerUnits.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    PerLayerUnits.map { case (k, u) => (k, values.getOrElse(k, 0.0), u) }
  }

  def metrics(ms: Seq[(String, Double, String)]): Map[String, Map[String, Any]] =
    ms.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap

  /** The result line. */
  def result(workload: String, check: Check, ms: Seq[(String, Double, String)]): String = {
    check.errors.foreach(e => System.err.println(s"[$workload] check failed: $e"))
    Json(Map("correct" -> (check.errors.isEmpty && check.failed == 0),
      "attempted" -> check.attempted, "failed" -> check.failed, "metrics" -> metrics(ms)))
  }

  /** Heap in use after full collections, MB. The context cleaner frees
    * broadcast and shuffle blocks only after a collection has found
    * their handles unreachable: collect, let it run, collect again. */
  def retainedHeapMb(): Double = {
    System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(300); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Write a traced run's record to `<dir>/../trace/<workload>-seed<n>.json`. */
  def writeRecord(workload: String, seed: Long, dir: String, record: Map[String, Any]): Unit = {
    val f = new File(s"$dir/../trace/$workload-seed$seed.json")
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, Json(record).getBytes("UTF-8"))
    System.err.println(s"[$workload] per-layer record: ${f.getCanonicalPath}")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts.getOrElse("workload", "")
    val names = workloads.keySet + "evt_batch"
    if (!names(name)) sys.error(s"unknown workload; one of ${names.toSeq.sorted.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val cores = opts.getOrElse("cores", "4").toInt
    val dir = new File(opts.getOrElse("dir", ".bench_build/work")).getAbsolutePath

    val t0 = System.nanoTime()
    val spark = session(cores, dir)
    System.err.println(f"[$name] session ${(System.nanoTime() - t0) / 1e9}%.2f s")
    try {
      val out = workloads.get(name) match {
        case Some(w) =>
          val r = new Runner(spark, w, seed, seconds, cores, dir)
          if (trace) r.traced() else r.timed()
        case None => new BatchRunner(spark, opts("data"), dir, seed, cores).run(trace)
      }
      println(out)
    } catch {
      case e: InvalidRun =>
        System.err.println(s"invalid run: ${e.getMessage}")
        sys.exit(3)
    } finally {
      val t1 = System.nanoTime()
      spark.stop()
      System.err.println(f"[$name] stop ${(System.nanoTime() - t1) / 1e9}%.2f s")
    }
  }

  def session(cores: Int, dir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      // the session graft.Bench runs
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      // the status store keeps job, task and execution records for a UI
      // nobody reads; bounded so retained heap measures the pipeline
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "200")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.streaming.ui.retainedProgressUpdates", "20")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

final class InvalidRun(msg: String) extends RuntimeException(msg)

/** What one measured pass over the two phases gives. */
final case class Measured(latency: Array[Double], capacity: Double, passS: Double,
    lateP99: Double, backlogGrowth: Double, heapMb: Double)

final class Runner(spark: SparkSession, w: Workload, seed: Long, seconds: Double,
    cores: Int, dir: String) {
  private val nWarm = (w.fixedRate * seconds * Main.WarmShare).toInt
  private val nA = (w.fixedRate * seconds).toInt
  private val nB = (Main.OverRate * seconds * Main.OverShare).toInt
  private val n = Main.Warm + nWarm + nA + nB
  private var instances = 0

  private def delete(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }

  /** Generate the inputs, then start the pipeline and push one chunk of
    * `Warm` events through its first micro-batch. Only the second part,
    * graft's, is the set-up time. */
  private def setUp(): (Instance, Double) = {
    instances += 1
    val d = s"$dir/i$instances"
    delete(new File(d))
    val tg = System.nanoTime()
    val inst = w.make(spark, seed, n, cores, d)
    val t0 = stamp("inputs generated", tg)
    inst.queries
    inst.loop.push(Main.Warm)
    inst.queries.foreach(_.processAllAvailable())
    stamp("set-up: start and first micro-batch", t0)
    (inst, (System.nanoTime() - t0) / 1e9)
  }

  /** Set up a pipeline once more, on the now warm JVM, and drop it:
    * `setup_s` is the median of this set-up and the measured pipeline's,
    * that is their mean. */
  private def setUpAgain(): Double = {
    val (inst, s) = setUp()
    inst.discard()
    s
  }

  private def stamp(what: String, t0: Long): Long = {
    val t = System.nanoTime()
    System.err.println(f"[${w.name}] $what ${(t - t0) / 1e9}%.2f s")
    t
  }

  /** One pass: the fixed rate for `WarmShare` × seconds, untimed, so that
    * the JIT warms on the workload itself, then on at the same rate for
    * `seconds`, measured; a drain; the above-capacity phase; a drain. */
  private def measure(inst: Instance): Measured = {
    val t00 = System.nanoTime()
    inst.loop.phase(w.fixedRate, nWarm)
    var t = stamp("fixed rate, warm-up", t00)
    val a = inst.loop.phase(w.fixedRate, nA)
    t = stamp("fixed rate, measured", t)
    inst.queries.foreach(_.processAllAvailable())
    t = stamp("drain", t)
    val b = inst.loop.phase(Main.OverRate, nB)
    t = stamp("above-capacity phase", t)
    inst.queries.foreach(_.processAllAvailable())
    t = stamp("drain", t)
    val passS = (t - t00) / 1e9
    val heap = Main.retainedHeapMb()
    val commits = inst.queries.map(OpenLoop.commits)
    val doneA = OpenLoop.completion(a, commits)
    val doneB = OpenLoop.completion(b, commits)
    val late = OpenLoop.lateness(a) ++ OpenLoop.lateness(b)
    Measured(OpenLoop.latencies(a, doneA), nB / ((doneB.max - b.t0Ms) / 1000.0), passS,
      OpenLoop.pct(late, 0.99), OpenLoop.backlogGrowth(a, doneA), heap)
  }

  /** A run whose generator fell behind its schedule measured the host. */
  private def valid(m: Measured): Measured = {
    if (m.lateP99 > Main.MaxLateMs)
      throw new InvalidRun(f"generator fell behind its schedule: p99 lateness ${m.lateP99}%.1f ms")
    m
  }

  private def endToEnd(setup: Double, m: Measured): Seq[(String, Double, String)] = Seq(
    ("setup_s", setup, "s"),
    ("suite_s", m.passS, "s"),
    ("latency_p50_ms", OpenLoop.pct(m.latency, 0.5), "ms"),
    ("latency_p99_ms", OpenLoop.pct(m.latency, 0.99), "ms"),
    ("capacity_eps", m.capacity, "1/s"),
    ("heap_retained_mb", m.heapMb, "MB"))

  private def report(setup: Double, m: Measured, check: Check): Unit =
    System.err.println(f"[${w.name}] seed $seed setup ${setup}%.3f s; fixed rate ${w.fixedRate} /s: " +
      f"${m.latency.length} events, p50 ${OpenLoop.pct(m.latency, 0.5)}%.1f ms, " +
      f"p99 ${OpenLoop.pct(m.latency, 0.99)}%.1f ms, backlog growth ${m.backlogGrowth}%.1f /s; " +
      f"offered ${Main.OverRate} /s: capacity ${m.capacity}%.0f /s; heap ${m.heapMb}%.1f MB; " +
      f"late p99 ${m.lateP99}%.2f ms; checked ${check.attempted}, failed ${check.failed}")

  def timed(): String = {
    val (inst, s1) = setUp()
    val m = try valid(measure(inst)) finally inst.stop()
    val t = System.nanoTime()
    val check = inst.check()
    stamp("check", t)
    val setup = (s1 + setUpAgain()) / 2
    report(setup, m, check)
    Main.result(w.name, check, endToEnd(setup, m))
  }

  /** The traced run: an untraced pass, a pass with the listeners on,
    * and another untraced pass, each on a freshly set-up pipeline. The
    * JIT still warms over these passes, so the overhead compares the
    * traced pass with the mean of the two untraced ones, which cancels a
    * linear trend. Then the prefix ladder. Writes the per-layer record
    * with its spans. */
  def traced(): String = {
    val (plain, s1) = setUp()
    val m0 = try valid(measure(plain)) finally plain.discard()
    val tracer = new Tracer(spark)
    tracer.register()
    val (inst, s2) = setUp()
    val setup = (s1 + s2) / 2
    tracer.drain()
    val base = tracer.totals
    val writes0 = tracer.writes.size
    val progress0 = tracer.progress.size
    val batches0 = inst match { case i: IngestInstance => i.failures.batches.get; case _ => 0L }
    val m1 = try valid(measure(inst)) finally inst.stop()
    tracer.unregister()
    val (plain2, _) = setUp()
    val m2 = try valid(measure(plain2)) finally plain2.discard()
    val check = inst.check()
    report(setup, m1, check)

    import scala.jdk.CollectionConverters._
    val progress = tracer.progress.asScala.toSeq.drop(progress0)
    val writes = tracer.writes.asScala.toSeq.drop(writes0)
    val t = tracer.totals.map { case (k, v) => k -> (v - base(k)).toDouble }
    val triggers = progress.size.toDouble
    def durs(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).toArray
    val states = progress.flatMap(_.stateOperators)
    val lastStates = progress.groupBy(_.id).values.map(_.maxBy(_.batchId)).flatMap(_.stateOperators)

    val ladder = inst match {
      case i: IngestInstance => new Ladder(spark, i, cores).run()
      case _ => Map.empty[String, Double]
    }
    val failures = inst match { case i: IngestInstance => Some(i.failures); case _ => None }
    def fc(f: FailurePlan => Long) = failures.map(f).getOrElse(0L).toDouble
    val writeMs = writes.map(_.durationNs / 1e6).toArray
    val addBatchMs = durs("addBatch").sum
    val files = writes.map(_.files).sum.toDouble

    val perLayer: Map[String, Double] = Map(
      "source.late_ms_p99" -> m1.lateP99,
      "source.backlog_growth_eps" -> m1.backlogGrowth,
      "sources.us_per_event" -> ladder.getOrElse("sources", 0.0),
      "sources.rejected" -> (inst match { case i: IngestInstance => i.observedRejects.values.sum.toDouble; case _ => 0.0 }),
      "validate.us_per_event" -> ladder.getOrElse("validate", 0.0),
      "route.us_per_event" -> ladder.getOrElse("route", 0.0),
      "route.fanout_ratio" -> ladder.getOrElse("fanout_ratio", 0.0),
      "route.predicate_evals" -> ladder.getOrElse("predicate_evals", 0.0),
      "sink.write_ms_p50" -> (if (writeMs.isEmpty) 0.0 else OpenLoop.pct(writeMs, 0.5)),
      "sink.write_ms_total" -> writeMs.sum,
      "sink.files" -> files,
      "sink.records_per_file" -> (if (files == 0) 0.0 else writes.map(_.rows).sum / files),
      "sink.bytes" -> writes.map(_.bytes).sum.toDouble,
      "sink.attempts" -> fc(_.attempts.get),
      "sink.retries" -> fc(_.retries.get),
      "sink.failovers" -> fc(_.failovers.get),
      "sink.other_ms" -> (if (failures.isEmpty) 0.0 else addBatchMs - writeMs.sum),
      "microbatch.triggers" -> triggers,
      "microbatch.rows_per_trigger_p50" -> OpenLoop.pct(progress.map(_.numInputRows.toDouble).toArray, 0.5),
      "microbatch.trigger_ms_p50" -> OpenLoop.pct(durs("triggerExecution"), 0.5),
      "microbatch.trigger_ms_p99" -> OpenLoop.pct(durs("triggerExecution"), 0.99),
      "microbatch.planning_ms_p50" -> OpenLoop.pct(durs("queryPlanning"), 0.5),
      "microbatch.wal_ms_p50" -> OpenLoop.pct(durs("walCommit"), 0.5),
      "microbatch.commit_ms_p50" -> OpenLoop.pct(durs("commitOffsets"), 0.5),
      "microbatch.jobs_per_trigger" -> t("jobs") / triggers,
      "microbatch.tasks_per_trigger" -> t("tasks") / triggers,
      "microbatch.task_cpu_ms" -> t("cpu_ns") / 1e6,
      "microbatch.gc_ms" -> t("gc_ms"),
      "state.rows_total" -> lastStates.map(_.numRowsTotal).sum.toDouble,
      "state.memory_bytes" -> lastStates.map(_.memoryUsedBytes).sum.toDouble,
      "state.commit_ms_p50" -> (if (states.isEmpty) 0.0 else OpenLoop.pct(states.map(_.commitTimeMs.toDouble).toArray, 0.5)),
      "state.rows_updated" -> states.map(_.numRowsUpdated).sum.toDouble,
      "state.output_rows" -> (if (states.isEmpty) 0.0 else progress.map(_.sink.numOutputRows.toDouble).sum),
      "trace.overhead_latency_p50_pct" -> 100 * (OpenLoop.pct(m1.latency, 0.5) /
          ((OpenLoop.pct(m0.latency, 0.5) + OpenLoop.pct(m2.latency, 0.5)) / 2) - 1),
      "trace.overhead_capacity_pct" -> 100 * (1 - m1.capacity / ((m0.capacity + m2.capacity) / 2)))

    // spans: trigger phases per micro-batch, plus one sink.write span per
    // batch (the k-th file write after tracing began belongs to the k-th
    // micro-batch of the instance, started at its last primary attempt)
    val spans = progress.flatMap(Tracer.spans) ++ failures.toSeq.flatMap { f =>
      val lastAttempt = f.attemptLog.asScala.toSeq.groupMapReduce(_._1)(_._3)((x, y) => math.max(x, y))
      val byOrdinal = progress.sortBy(_.batchId).map(_.batchId).zipWithIndex
        .map { case (id, k) => (batches0 + 1 + k) -> id }.toMap
      writes.zipWithIndex.flatMap { case (wr, k) =>
        val ord = batches0 + 1 + k
        for (st <- lastAttempt.get(ord); id <- byOrdinal.get(ord)) yield {
          val s = st / 1e6 + OpenLoop.wallOffset
          Span("sink.write", inst.queries.head.name, id, s, s + wr.durationNs / 1e6, "microbatch.addBatch")
        }
      }
    }
    val record = Map(
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "cores" -> cores,
      "rates_eps" -> Map("fixed" -> w.fixedRate, "above_capacity" -> Main.OverRate),
      "untraced" -> Seq(m0, m2).map(m => endToEnd(setup, m).map { case (k, v, _) => k -> v }.toMap),
      "traced" -> endToEnd(setup, m1).map { case (k, v, _) => k -> v }.toMap,
      "latency_samples" -> m1.latency.length,
      "per_layer" -> Main.metrics(Main.perLayer(perLayer)),
      "spans" -> spans)
    Main.writeRecord(w.name, seed, dir, record)
    Main.result(w.name, check, Main.perLayer(perLayer))
  }
}

/** The prefix ladder: the same bodies, as a batch, to a noop sink after
  * the scan, after decode, after validate and after route. A layer's
  * self time per event is the difference between successive rungs. */
final class Ladder(spark: SparkSession, inst: IngestInstance, cores: Int) {
  import spark.implicits._

  private def time(df: org.apache.spark.sql.DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e3
  }

  def run(): Map[String, Double] = {
    val src = inst.bodies.toSeq.toDS().toDF().repartition(cores).cache()
    val n = src.count().toDouble
    val decoded = Ingest.decode(src)
    val validated = graft.streaming.EventStream.validate(decoded)
    val routes = inst.routesFrame
    val routed = Ingest.route(validated, routes)
    val rungs = Seq(src, decoded, validated, routed)
    time(routed) // warm every rung's code before timing any
    // three rounds over the rungs; each rung's median
    val t = (1 to 3).map(_ => rungs.map(time)).transpose.map(OpenLoop.median)
    val nValid = validated.count().toDouble
    val nRouted = routed.count().toDouble
    src.unpersist()
    Map("sources" -> (t(1) - t(0)) / n, "validate" -> (t(2) - t(1)) / n,
      "route" -> (t(3) - t(2)) / n, "fanout_ratio" -> nRouted / nValid,
      "predicate_evals" -> nValid * routes.count())
  }
}
