package perfbench

import java.io.File

import graft.{CacheScope, QueryMemo, Tables}
import graft.queries.Events
import org.apache.spark.sql.SparkSession

/** The `evt_batch` workload: a fixed subset of `graft.queries.Events.all`
  * over a seeded sf0.1 events table, run pass-major with `QueryMemo`
  * cleared per pass, as `graft.Bench` runs them. `data` holds
  * `events.parquet`; `out` receives each query's result and the oracle
  * SQL for the check. */
final class EvtBatch(spark: SparkSession, data: String, out: String) {
  import EvtBatch._

  /** Queries that threw, in any pass. */
  val failed = scala.collection.mutable.LinkedHashSet.empty[String]

  /** Open the events table and scan it once; seconds. */
  def setUp(): Double = {
    val t0 = System.nanoTime()
    QueryMemo.clear()
    Tables.events(spark, data).count()
    (System.nanoTime() - t0) / 1e9
  }

  /** One pass over the queries: each query's start (epoch ms) and
    * seconds. */
  def pass(): Seq[(String, Double, Double)] = {
    QueryMemo.clear()
    Queries.map { name =>
      val t0 = System.nanoTime()
      val start = t0 / 1e6 + OpenLoop.wallOffset
      QueryMemo.setLabel(name)
      try Events.all(name)(spark, data).count()
      catch { case e: Exception => failed += name; System.err.println(s"[evt_batch] $name failed: $e") }
      finally { QueryMemo.setLabel(null); CacheScope.releaseAll() }
      (name, start, (System.nanoTime() - t0) / 1e9)
    }
  }

  /** Shared artifacts built in the last pass. */
  def memoBuilds: Int = QueryMemo.buildCharges.size

  /** Write the queries' DuckDB twins to `out/oracle_sql.json`. */
  def writeOracles(): Unit = {
    new File(out).mkdirs()
    val tmp = new File(s"$out/oracle_sql.json.tmp")
    java.nio.file.Files.writeString(tmp.toPath, Json(Queries.map(q => q -> Events.oracles(q)).toMap))
    java.nio.file.Files.move(tmp.toPath, new File(s"$out/oracle_sql.json").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Wait, at most `timeoutS`, until the check has computed the twins, so
    * that it does not compete with what is timed. */
  def awaitOracles(timeoutS: Int): Unit = {
    val ready = new File(s"$out/oracle_ready")
    val end = System.nanoTime() + timeoutS * 1000000000L
    while (!ready.exists() && System.nanoTime() < end) Thread.sleep(50)
  }

  /** Write each query's result as one parquet file under `out/<query>`. */
  def dump(): Unit = {
    QueryMemo.clear()
    Queries.foreach { name =>
      try Events.all(name)(spark, data).repartition(1).write.mode("overwrite").parquet(s"$out/$name")
      catch { case e: Exception => failed += name; System.err.println(s"[evt_batch] $name failed: $e") }
      finally CacheScope.releaseAll()
    }
    QueryMemo.clear()
  }
}

object EvtBatch {
  /** The subset: the two routing queries that share `RegexMatch` with
    * the ingest workloads, and six more that cover aggregation, window,
    * gap-session, dedup and top-k plans. Each has a DuckDB twin. */
  val Queries = Seq("evt_route", "evt_route_meta", "evt_type_counts", "wrp_validate",
    "evt_batch_time", "evt_sessionize", "evt_dedup", "evt_topk")
  /** Timed passes, after an untimed one. */
  val Passes = 3
}

/** Runs `evt_batch`: one untimed pass that writes the results for the
  * check, while the check computes the DuckDB twins; three set-ups (the
  * median is `setup_s`); then `EvtBatch.Passes` timed passes. The traced run turns the listeners on
  * for the middle pass and compares it with the mean of the other two. */
final class BatchRunner(spark: SparkSession, data: String, dir: String, seed: Long, cores: Int) {
  private val b = new EvtBatch(spark, data, s"$dir/evt_out")

  private def stamp(what: String, t0: Long): Unit =
    System.err.println(f"[evt_batch] $what ${(System.nanoTime() - t0) / 1e9}%.2f s")

  def run(trace: Boolean): String = {
    b.writeOracles()
    var t = System.nanoTime()
    b.dump()
    stamp("untimed pass (results written)", t)
    t = System.nanoTime()
    b.awaitOracles(120)
    stamp("wait for the oracle", t)
    val setup = OpenLoop.median((1 to 3).map(_ => b.setUp()))
    val rows = Tables.events(spark, data).count().toDouble
    val tracer = new Tracer(spark)
    var base = Map.empty[String, Long]
    var memo = 0
    val passes = (0 until EvtBatch.Passes).map { k =>
      val traced = trace && k == 1
      if (traced) { tracer.register(); tracer.drain(); base = tracer.totals }
      t = System.nanoTime()
      val p = b.pass()
      stamp(s"pass ${k + 1}${if (traced) " (traced)" else ""}", t)
      if (traced) { tracer.unregister(); memo = b.memoBuilds }
      p
    }
    val heap = Main.retainedHeapMb()
    val totals = passes.map(_.map(_._3).sum)
    val perQuery = EvtBatch.Queries.indices.map(i => OpenLoop.median(passes.map(_(i)._3)))
    // a query's latency is its best of the three passes: one query of
    // about a second reads up to 40% slower when the host is busy, and
    // the host only adds time
    val best = EvtBatch.Queries.indices.map(i => passes.map(_(i)._3).min)
    val suite = OpenLoop.median(totals)
    val check = Check(EvtBatch.Queries.size.toLong, b.failed.size.toLong,
      b.failed.toSeq.map(q => s"$q failed"))
    System.err.println(f"[evt_batch] seed $seed setup $setup%.3f s; ${rows}%.0f events; " +
      s"passes ${totals.map(x => f"$x%.2f").mkString(", ")} s; " + f"heap $heap%.1f MB; " +
      s"${b.failed.size} queries failed")
    if (!trace) Main.result("evt_batch", check, Seq(
      ("setup_s", setup, "s"),
      ("suite_s", suite, "s"),
      ("latency_p50_ms", 1000 * OpenLoop.median(best), "ms"),
      ("latency_p99_ms", 1000 * best.max, "ms"),
      ("capacity_eps", rows * EvtBatch.Queries.size / suite, "1/s"),
      ("heap_retained_mb", heap, "MB")))
    else {
      val d = tracer.totals.map { case (k, v) => k -> (v - base(k)).toDouble }
      val untraced = (totals(0) + totals(2)) / 2
      val perLayer = Map(
        "batch.jobs" -> d("jobs"), "batch.stages" -> d("stages"), "batch.tasks" -> d("tasks"),
        "batch.task_cpu_s" -> d("cpu_ns") / 1e9, "batch.gc_s" -> d("gc_ms") / 1e3,
        "batch.shuffle_write_bytes" -> d("shuffle_write"), "batch.scan_bytes" -> d("scan"),
        "batch.spill_bytes" -> d("spill"), "batch.memo_builds" -> memo.toDouble,
        "trace.overhead_latency_p50_pct" -> 100 * (totals(1) / untraced - 1),
        "trace.overhead_capacity_pct" -> 100 * (1 - untraced / totals(1))) ++
        EvtBatch.Queries.zip(perQuery).map { case (q, s) => s"batch.q.$q.s" -> s }
      val spans = passes.zipWithIndex.flatMap { case (p, k) =>
        p.map { case (q, start, s) => Span("batch.query", q, k + 1, start, start + s * 1000, "") }
      }
      Main.writeRecord("evt_batch", seed, dir, Map(
        "workload" -> "evt_batch", "seed" -> seed, "cores" -> cores, "events" -> rows,
        "queries" -> EvtBatch.Queries, "setup_s" -> setup,
        "pass_s" -> totals, "traced_pass" -> 2, "heap_retained_mb" -> heap,
        "per_layer" -> Main.metrics(Main.perLayer(perLayer)), "spans" -> spans))
      Main.result("evt_batch", check, Main.perLayer(perLayer))
    }
  }
}
