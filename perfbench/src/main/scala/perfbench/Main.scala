package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.BusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The benchmark harness: one JVM, one `local[cores]` session and one
  * closed-loop client (this thread) that runs a workload's queries through
  * `graft.SparkEntry.queries` pass after pass: a cold pass, then the
  * measured warm passes, the last of which also compares each result,
  * untimed, with the committed fingerprint. Every query is timed in three calls into
  * the program's public API — build (the `queries` call, where eager work
  * runs), plan (`executedPlan`) and exec (a write to the noop sink).
  *
  * Modes (`--mode`):
  *  - `run`: the measured run (`--trace 1` for the per-layer run);
  *  - `expected`: run every workload query once, write its fingerprint
  *    and its rows (for the DuckDB cross-check in derive_expected.py).
  * Results go to the JSON file named by `--out`; run.py prints them. */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    require(!sys.props.contains("graft.bench.sharePrefix"),
      "graft.bench.sharePrefix must be unset: every query pays its full lineage")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.core.Engine.session(s"local[$cores]", cores)
    val setupS = (System.currentTimeMillis - jvmStartMs) / 1000.0
    val out = Paths.get(arg("out"))
    try arg("mode") match {
      case "run" =>
        val w = arg("workload")
        val passes = math.ceil(arg("seconds").toDouble / Workloads.nominalPassS(w)).toInt
        val run = new Run(spark, cores, arg("data"), Expected.load(Paths.get(arg("expected"))),
          Workloads.all(w), arg("seed").toLong, passes, arg("trace") == "1")
        Files.writeString(out, run.execute(setupS))
        Files.writeString(Paths.get(arg("execs")), run.execsFile)
        run.spanFile.foreach(f => Files.writeString(Paths.get(arg("spans")), f))
      case "expected" =>
        Files.writeString(out, Expected.derive(spark, arg("data"), Paths.get(arg("dump"))))
    } finally spark.stop()
  }
}

/** Timings of one execution of one query. */
final case class Exec(pass: Int, query: String, buildS: Double, planS: Double,
                      execS: Double, ok: Boolean) {
  def latencyS: Double = buildS + planS + execS
}

final class Run(spark: SparkSession, cores: Int, data: String,
                expected: Map[String, Fingerprint], queries: Seq[String], seed: Long,
                warmPasses: Int, trace: Boolean) {
  import Run._

  private val sc = spark.sparkContext
  private val rng = new scala.util.Random(seed)
  private val log = new SpanLog
  private val tracer = new Tracer(log)
  // spans use epoch ms, as Spark's listener events do
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def epochMs(nanos: Long): Double = epoch0 + (nanos - nano0) / 1e6

  private val execs = mutable.ArrayBuffer.empty[Exec]
  private val failures = mutable.ArrayBuffer.empty[String]
  /** Per traced pass: one row of per-query figures for the span file. */
  private val perQuery = mutable.ArrayBuffer.empty[(Int, String, Map[String, Double])]
  private val layerTotals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var peakExecMem = 0L
  private var checkNs = 0L
  private var checkPass = -1
  private val tracedPassS = mutable.ArrayBuffer.empty[Double]
  private val plainPassS = mutable.ArrayBuffer.empty[Double]
  private var spansOut: Option[String] = None

  def spanFile: Option[String] = spansOut

  /** Every execution's timings, for reading a run query by query. */
  def execsFile: String = Json.arr(execs.toSeq.map(e => Json.obj(Seq(
    "pass" -> Json.num(e.pass), "query" -> Json.str(e.query), "build_s" -> Json.num(e.buildS),
    "plan_s" -> Json.num(e.planS), "exec_s" -> Json.num(e.execS), "ok" -> e.ok.toString))))

  def execute(setupS: Double): String = {
    queries.foreach(q => require(expected.contains(q), s"no expected fingerprint for $q"))
    pass(0, traced = false)
    // the measured warm passes; the traced run alternates untraced and
    // traced passes, to measure the tracing cost, and needs a traced pass
    // between two untraced ones
    val last = math.max(warmPasses, if (trace) 3 else 1)
    // the results are checked in the last untraced pass, so that the
    // checks' own jobs are never counted
    checkPass = if (trace && last % 2 == 0) last - 1 else last
    for (p <- 1 to last) {
      val traced = trace && p % 2 == 0
      (if (traced) tracedPassS else plainPassS) += pass(p, traced)
    }
    val cold = execs.filter(_.pass == 0)
    val warm = execs.filter(_.pass > 0)
    val lat = warm.map(_.latencyS).toSeq
    val heapMb = liveHeapMb()
    // the highest percentile above the median with at least ten samples
    // beyond it, if the run has enough samples for one
    val tail = Stats.reportablePercentile(lat.size).filter(_ > 50).map { tp =>
      s"latency_p${tp.toInt}_s" -> Json.num(Stats.percentile(lat, tp))
    }
    val info = Seq(
      "warm_passes" -> Json.num(last), "warm_samples" -> Json.num(lat.size),
      "warm_s" -> Json.num(lat.sum),
      "latency_p50_s" -> Json.num(Stats.median(lat))) ++ tail ++ Seq(
      "failures" -> Json.arr(failures.toSeq.map(Json.str)))
    // Noise on a shared host (CPU steal, a neighbour's burst) only ever
    // adds time, so the least time over the warm passes is the figure
    // least moved by it: throughput is that of the fastest warm pass
    // (executions completed per second of build+plan+exec), and each
    // query's latency its fastest warm execution. One latency per query
    // keeps the summary out of the gaps between queries' latencies.
    val passRates = warm.groupBy(_.pass).values
      .map(e => e.count(_.ok) / e.map(_.latencyS).sum).toSeq
    val perQueryS = warm.groupBy(_.query).values.map(_.map(_.latencyS).min).toSeq
    val metrics =
      if (!trace) Seq(
        "setup_s" -> metric(setupS, "s"),
        "cold_pass_s" -> metric(cold.map(_.latencyS).sum, "s"),
        "throughput_qps" -> metric(passRates.max, "1/s"),
        "latency_geomean_s" -> metric(Stats.geomean(perQueryS), "s"),
        "success_frac" -> metric(execs.count(_.ok).toDouble / execs.size, "frac"),
        "heap_live_mb" -> metric(heapMb, "MB"))
      else layerMetrics()
    Json.obj(Seq(
      "attempted" -> Json.num(execs.size),
      "failed" -> Json.num(execs.count(!_.ok)),
      "metrics" -> Json.obj(metrics),
      "info" -> Json.obj(info)))
  }

  /** One pass over the workload; returns its wall time less the result
    * checks. The listener is attached for traced passes only. */
  private def pass(p: Int, traced: Boolean): Double = {
    // the cold pass runs in the workload's own order, as a one-shot run
    // would; warm passes in the seed's
    val order = if (p == 0) queries else rng.shuffle(queries)
    val passId = log.reserve()
    val check0 = checkNs
    if (traced) sc.addSparkListener(tracer)
    val t0 = System.nanoTime()
    order.foreach(q => execs += query(p, passId, q, traced))
    val t1 = System.nanoTime()
    if (traced) {
      BusDrain(sc)
      sc.removeSparkListener(tracer)
      log.put(Span(passId, -1, "pass", s"pass $p", epochMs(t0), epochMs(t1)))
    }
    (t1 - t0 - (checkNs - check0)) / 1e9
  }

  private def query(p: Int, passId: Int, q: String, traced: Boolean): Exec = {
    val qId = log.reserve()
    val times = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
    var df: DataFrame = null
    /** Times `body` as phase `layer`; under tracing its jobs carry the
      * phase's span id and the bus is drained before the next phase. */
    def phase[T](layer: String)(body: => T): T = {
      val id = log.reserve()
      if (traced) { sc.setLocalProperty(Tracer.SpanProperty, id.toString); tracer.openPhase = id }
      val t0 = System.nanoTime()
      try body finally {
        val t1 = System.nanoTime()
        times += ((id, layer, t0, t1))
        if (traced) BusDrain(sc)
      }
    }
    // codegen is JVM-wide: the deltas over the three phases
    val compile0 = CodeGenerator.compileTime
    val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    var compileMs, classes = 0.0
    val ok = try {
      df = phase("build")(graft.SparkEntry.queries(q)(spark, data))
      phase("plan")(df.queryExecution.executedPlan)
      phase("exec")(df.write.format("noop").mode("overwrite").save())
      compileMs = (CodeGenerator.compileTime - compile0) / 1e6
      classes = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0).toDouble
      p != checkPass || check(q, df)
    } catch {
      case NonFatal(e) =>
        failures += s"pass $p $q: ${e.getClass.getName}: ${e.getMessage}".take(500)
        false
    } finally {
      spark.catalog.clearCache()
      if (traced) sc.setLocalProperty(Tracer.SpanProperty, null)
    }
    def secs(layer: String) = times.find(_._2 == layer).map(t => (t._4 - t._3) / 1e9).getOrElse(0.0)
    if (traced) record(p, passId, qId, q, df, times.toSeq, compileMs, classes)
    Exec(p, q, secs("build"), secs("plan"), secs("exec"), ok)
  }

  /** Heap still reachable once the run's caches are dropped: the least
    * heap in use over a few full collections, spaced so that Spark's
    * context cleaner can release what the previous one freed. */
  private def liveHeapMb(): Double = {
    spark.catalog.clearCache()
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** The untimed result check: the result's fingerprint against the
    * committed one. */
  private def check(q: String, df: DataFrame): Boolean = {
    val t0 = System.nanoTime()
    try {
      val got = Fingerprint.of(df)
      val want = expected(q)
      if (got != want) failures += s"$q: got ${got.rows} rows ${got.digest}, " +
        s"expected ${want.rows} rows ${want.digest}"
      got == want
    } finally checkNs += System.nanoTime() - t0
  }

  /** Adds one traced execution's spans and per-layer figures. */
  private def record(p: Int, passId: Int, qId: Int, q: String, df: DataFrame,
                     times: Seq[(Int, String, Long, Long)], compileMs: Double,
                     classes: Double): Unit = {
    times.foreach { case (id, layer, t0, t1) =>
      log.put(Span(id, qId, layer, s"$q $layer", epochMs(t0), epochMs(t1)))
    }
    if (times.nonEmpty)
      log.put(Span(qId, passId, "query", q, epochMs(times.head._3), epochMs(times.last._4)))
    val phases: Map[String, Double] =
      if (df == null || times.size < 3) Map.empty
      else {
        val ph = df.queryExecution.tracker.phases
        Seq("analysis", "optimization", "planning")
          .map(k => k -> ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)).toMap
      }
    val byLayer = times.map { case (id, layer, t0, t1) =>
      layer -> (tracer.countersOf(id), (t1 - t0) / 1e9)
    }.toMap
    val all = byLayer.values.map(_._1).toSeq
    def sum(f: Counters => Double) = all.map(f).sum
    val execWall = byLayer.get("exec").map(_._2).getOrElse(0.0)
    val execRunMs = byLayer.get("exec").map(_._1.taskRunMs).getOrElse(0.0)
    peakExecMem = math.max(peakExecMem, all.map(_.peakExecMemBytes).foldLeft(0L)(math.max))
    val row = Map(
      "ops.build_s" -> byLayer.get("build").map(_._2).getOrElse(0.0),
      "ops.build_jobs" -> byLayer.get("build").map(_._1.jobs.toDouble).getOrElse(0.0),
      "plans.plan_s" -> byLayer.get("plan").map(_._2).getOrElse(0.0),
      "plans.analysis_ms" -> phases.getOrElse("analysis", 0.0),
      "plans.optimization_ms" -> phases.getOrElse("optimization", 0.0),
      "plans.planning_ms" -> phases.getOrElse("planning", 0.0),
      "codegen.compile_ms" -> compileMs,
      "codegen.classes_compiled" -> classes,
      "sched.jobs" -> sum(_.jobs.toDouble),
      "sched.stages" -> sum(_.stages.toDouble),
      "sched.tasks" -> sum(_.tasks.toDouble),
      "sched.task_wait_ms" -> sum(_.taskWaitMs),
      "exec.exec_s" -> execWall,
      "exec.exec_task_run_ms" -> execRunMs,
      "exec.task_cpu_ms" -> sum(_.taskCpuMs),
      "exec.task_run_ms" -> sum(_.taskRunMs),
      "exec.task_gc_ms" -> sum(_.taskGcMs),
      "shuffle.write_bytes" -> sum(_.shuffleWriteBytes.toDouble),
      "shuffle.read_bytes" -> sum(_.shuffleReadBytes.toDouble),
      "shuffle.spill_bytes" -> sum(_.spillBytes.toDouble),
      "shuffle.fetch_wait_ms" -> sum(_.fetchWaitMs),
      "io.input_bytes" -> sum(_.inputBytes.toDouble),
      "io.output_bytes" -> sum(_.outputBytes.toDouble),
      "streaming.batches" -> sum(_.batches.toDouble),
      "streaming.add_batch_ms" -> sum(_.addBatchMs),
      "streaming.wal_commit_ms" -> sum(_.walCommitMs),
      "streaming.state_commit_ms" -> sum(_.stateCommitMs),
      "streaming.state_rows" -> sum(_.stateRows.toDouble))
    row.foreach { case (k, v) => layerTotals(k) += v }
    perQuery += ((p, q, row))
  }

  private def layerMetrics(): Seq[(String, String)] = {
    val spans = log.all
    val passes = tracedPassS.size.toDouble
    def per(k: String) = layerTotals(k) / passes
    val self = Stats.selfTimeByLayer(spans).withDefaultValue(0.0)
    val overhead = Stats.median(tracedPassS.toSeq) / Stats.median(plainPassS.toSeq) - 1
    spansOut = Some(Json.obj(Seq(
      "spans" -> Json.arr(spans.map(s => Json.obj(Seq("id" -> Json.num(s.id),
        "parent" -> Json.num(s.parent), "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs))))),
      "per_query" -> Json.arr(perQuery.toSeq.map { case (p, q, row) =>
        Json.obj(Seq("pass" -> Json.num(p), "query" -> Json.str(q)) ++
          row.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
      }))))
    val execCoreMs = per("exec.exec_s") * 1000 * cores
    Units.toSeq.sortBy(_._1).map { case (k, unit) =>
      val v = k match {
        case "sched.idle_core_frac" =>
          if (execCoreMs > 0) 1 - per("exec.exec_task_run_ms") / execCoreMs else 0.0
        case "exec.peak_exec_mem_mb" => peakExecMem / 1048576.0
        case "trace.overhead_frac" => overhead
        case s if s.startsWith("self.") => self(s.stripPrefix("self.").stripSuffix("_ms")) / passes
        case _ => per(k)
      }
      k -> metric(v, unit)
    }
  }
}

object Run {
  def metric(v: Double, unit: String): String =
    Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))

  /** Every per-layer metric with its unit. */
  val Units: Map[String, String] = Map(
    "ops.build_s" -> "s", "ops.build_jobs" -> "count",
    "plans.plan_s" -> "s", "plans.analysis_ms" -> "ms", "plans.optimization_ms" -> "ms",
    "plans.planning_ms" -> "ms",
    "codegen.compile_ms" -> "ms", "codegen.classes_compiled" -> "count",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.task_wait_ms" -> "ms", "sched.idle_core_frac" -> "frac",
    "exec.exec_s" -> "s", "exec.task_cpu_ms" -> "ms", "exec.task_run_ms" -> "ms",
    "exec.task_gc_ms" -> "ms", "exec.peak_exec_mem_mb" -> "MB",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.spill_bytes" -> "bytes", "shuffle.fetch_wait_ms" -> "ms",
    "io.input_bytes" -> "bytes", "io.output_bytes" -> "bytes",
    "streaming.batches" -> "count", "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.state_commit_ms" -> "ms",
    "streaming.state_rows" -> "count",
    "trace.overhead_frac" -> "frac") ++
    Seq("pass", "query", "build", "plan", "exec", "job", "stage", "batch")
      .map(l => s"self.${l}_ms" -> "ms")
}

/** Minimal JSON writer (the harness only writes JSON; run.py reads it). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def num(l: Long): String = l.toString
  def num(i: Int): String = i.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
