package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftSession

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable

/** One timed operation: a file, a table operation or a query. */
final case class OpTime(kind: String, ms: Double, rows: Long)

/** Counts operations and output checks; `failed` over `attempted` is the
  * run's failed fraction. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
    ok
  }

  /** Runs one operation; a throw counts as a failed operation. */
  def attempt[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        failures += s"$what: $e"
        System.err.println(s"perfbench: $what failed: $e")
        None
    }
  }
}

/** A workload: set-up, then passes over a fixed list of operations. */
trait Workload {
  /** Generates the inputs and runs the warm pass; returns what it
    * recorded, including `setup_s`. */
  def setup(): collection.Map[String, Any]

  /** One pass; records spans through `t` when it is enabled. */
  def pass(t: Tracer): Seq[OpTime]

  /** Checks that need the whole run, such as a table's final state. */
  def finish(): Unit

  /** Rows the untraced passes wrote, read or produced, as the outputs
    * counted them. */
  def rows(untraced: Seq[Seq[OpTime]]): Long = untraced.flatten.map(_.rows).sum

  /** Workload-specific end-to-end figures with their sample counts. */
  def details(untraced: Seq[Seq[OpTime]]): collection.Map[String, Any]

  /** This workload's per-layer metrics from the traced passes. */
  def perLayer(r: TraceReport, traced: Seq[Seq[OpTime]]): Map[String, Double]
}

object Workload {
  def pctJson(xs: Seq[Double], p: Double, unit: String): collection.Map[String, Any] =
    if (xs.isEmpty) Out.obj("value" -> None, "unit" -> unit, "samples" -> 0)
    else {
      val q = Stats.percentile(xs, p)
      Out.obj("value" -> q.value, "unit" -> unit, "samples" -> q.samples)
    }
}

/** Result lines: ordered maps written by Jackson's Scala module, so
  * doubles keep every digit. */
object Out {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def obj(kv: (String, Any)*): mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap(kv: _*)

  def json(v: Any): String = mapper.writeValueAsString(v)
}

/** Names and units of every metric `BENCHMARK.json` declares. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "rows_per_s" -> "1/s", "retained_heap_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "trace.overhead_frac" -> "frac", "trace.glue_ms" -> "ms",
    "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "sources.detect_ms" -> "ms", "sources.read_ms" -> "ms",
    "sources.geometry_discovery_ms" -> "ms", "plans.crs_probe_ms" -> "ms",
    "plans.transform_plan_ms" -> "ms", "plans.sink_write_ms" -> "ms",
    "functions.reprojected_rows" -> "count", "spark.jobs_per_file" -> "count",
    "spark.tasks_per_file" -> "count", "ingest.driver_gap_ms" -> "ms") ++
    IngestInputs.Formats.map(f => s"ingest_file_ms.${f.name}" -> "ms") ++ Seq(
    "plans.txlog.append_ms" -> "ms", "plans.txlog.merge_ms" -> "ms",
    "plans.txlog.delete_ms" -> "ms", "plans.txlog.compact_ms" -> "ms",
    "plans.txlog.range_scan_ms" -> "ms", "plans.txlog.range_scan_p90_ms" -> "ms",
    "plans.txlog.jobs_per_commit" -> "count", "plans.txlog.driver_gap_ms" -> "ms",
    "plans.txlog.files_per_commit" -> "count", "plans.txlog.pruned_file_frac" -> "frac",
    "plans.txlog.live_files" -> "count", "plans.txlog.data_bytes_written" -> "bytes",
    "plans.txlog.log_bytes" -> "bytes", "plans.txlog.bytes_per_user_byte" -> "ratio") ++
    Curate.Queries.flatMap(q => Seq(
      s"operators.$q.closure_ms" -> "ms", s"operators.$q.plan_ms" -> "ms",
      s"operators.$q.exec_ms" -> "ms", s"operators.$q.closure_jobs" -> "count")) ++ Seq(
    "curate.closure_ms" -> "ms", "curate.exec_ms" -> "ms", "curate.closure_jobs" -> "count")
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`. Prints one detail line (run context, input sizes,
  * per-workload figures with sample counts), then the result line. */
object Main {
  /** What a run leaves once its session has stopped: plain figures only,
    * so none of the benchmark's own state is reachable when the retained
    * heap is measured. */
  final case class Run(
      metrics: Map[String, Double], attempted: Long, failed: Long, failures: Seq[String],
      detail: collection.Map[String, Any], sparkVersion: String)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val trace = args("trace") == "1"
    val load0 = loadAvg()
    val r = run(args, trace)
    // `run` has returned, so the workload, its model and inputs, the
    // spans and the stopped session are garbage: what is left is what the
    // program keeps in static state
    val heapMb = retainedHeapMb()
    val load1 = loadAvg()
    val metrics = if (trace) r.metrics else r.metrics + ("retained_heap_mb" -> heapMb)
    val declared = if (trace) Metrics.PerLayer else Metrics.EndToEnd
    metrics.foreach { case (k, v) => require(v.isFinite, s"metric $k is $v") }
    val detail = Out.obj(
      "workload" -> args("workload"), "seed" -> args("seed").toLong,
      "seconds" -> args("seconds").toDouble, "trace" -> trace,
      "context" -> Out.obj(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "load_avg_before" -> load0, "load_avg_after" -> load1,
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "spark" -> r.sparkVersion,
        "heap_limit_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "git_commit" -> args.get("commit").filter(_.nonEmpty),
        "source_sha256" -> args.get("stamp"))) ++ r.detail ++ Out.obj(
      "failed_frac" -> r.failed.toDouble / math.max(1L, r.attempted),
      "failures" -> r.failures.take(20),
      "retained_heap_mb" -> heapMb)
    val result = Out.obj(
      "correct" -> (r.failed == 0), "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> declared.map { case (k, unit) =>
        k -> Out.obj("value" -> metrics(k), "unit" -> unit)
      }.to(mutable.LinkedHashMap))
    println(Out.json(Out.obj("detail" -> detail)))
    println(Out.json(result))
  }

  /** Set-up, the passes and the figures, inside one session that is
    * stopped before this returns. */
  private def run(args: Map[String, String], trace: Boolean): Run = {
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val work = new File(args("work")).getAbsoluteFile
    work.mkdirs()

    val cores = Runtime.getRuntime.availableProcessors().toString
    val spark = GraftSession.builder(cores, cores)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val checks = new Checks
    val wl: Workload = workload match {
      case "ingest" => new Ingest(spark, work, seed, checks)
      case "table_rw" => new TableRw(spark, work, seed, checks)
      case "curate" => new Curate(spark, sys.env.getOrElse("PERFBENCH_SF_DIR", Curate.DefaultSfDir),
        seed, checks)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setupInfo = wl.setup()
    val counters = new JobCounters
    val tracer = new Tracer(spark.sparkContext, enabled = trace)
    val off = new Tracer(spark.sparkContext, enabled = false)
    // closed loop, one client thread, whole passes while the next one is
    // expected to end within `seconds`; a traced run alternates untraced
    // and traced passes, starting and ending untraced so that warm-up
    // drift does not read as tracing overhead
    val passes = mutable.ArrayBuffer.empty[(Boolean, Seq[OpTime])]
    val minPasses = if (trace) 3 else 1
    val loopStart = System.nanoTime()
    var lastPassS = 0.0
    def elapsedS = (System.nanoTime() - loopStart) / 1e9
    while (passes.size < minPasses || elapsedS + lastPassS <= seconds ||
        (trace && passes.size % 2 == 0)) {
      val traced = trace && passes.size % 2 == 1
      System.gc() // every pass starts from a collected heap
      val t0 = elapsedS
      // the listener is attached only for traced passes, so its cost counts
      // as tracing overhead
      if (traced) spark.sparkContext.addSparkListener(counters)
      passes += traced -> wl.pass(if (traced) tracer else off)
      if (traced) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(counters)
      }
      lastPassS = elapsedS - t0
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    wl.finish()

    val untraced = passes.filterNot(_._1).map(_._2).toSeq
    val passS = untraced.map(_.map(_.ms).sum / 1000)
    val metrics: Map[String, Double] =
      if (!trace) Map(
        "setup_s" -> setupInfo("setup_s").asInstanceOf[Double],
        "pass_s" -> Stats.median(passS),
        "rows_per_s" -> wl.rows(untraced) / passS.sum)
      else {
        val report = new TraceReport(tracer.spans.toSeq, counters.snapshot())
        val traced = passes.filter(_._1).map(_._2).toSeq
        val roots = report.roots
        roots.foreach(r => checks.check(report.nested(r),
          s"a span of ${r.name} #${r.opId} is not inside its parent or overlaps a sibling"))
        val jobs = roots.flatMap(report.jobsUnder)
        val nPasses = traced.size.toDouble
        val tracedPassS = traced.map(_.map(_.ms).sum / 1000)
        val generic = Map(
          "trace.overhead_frac" -> (Stats.median(tracedPassS) / Stats.median(passS) - 1),
          "trace.glue_ms" -> Stats.mean(roots.map(report.selfTime)),
          "spark.executor_cpu_ms" -> jobs.map(_.executorCpuMs).sum / nPasses,
          "spark.gc_ms" -> jobs.map(_.gcMs).sum / nPasses,
          "spark.shuffle_write_bytes" -> jobs.map(_.shuffleWriteBytes).sum / nPasses,
          "spark.spill_bytes" -> jobs.map(_.spillBytes).sum / nPasses)
        writeSpans(new File(args("results")), report, tracer.spans.toSeq)
        Metrics.PerLayer.map(_._1 -> 0.0).toMap ++ generic ++ wl.perLayer(report, traced)
      }
    val detail = Out.obj(
      "setup" -> setupInfo,
      "loop_s" -> loopS,
      "passes" -> Out.obj("untraced" -> untraced.size, "traced" -> passes.count(_._1),
        "pass_s" -> passS),
      "details" -> wl.details(untraced))
    val sparkVersion = spark.version
    spark.stop()
    Run(metrics, checks.attempted, checks.failed, checks.failures.toSeq, detail, sparkVersion)
  }

  /** Heap in use after full collections, once the session has stopped:
    * what the program keeps in static state. */
  private def retainedHeapMb(): Double = {
    val bean = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).foreach(_ => System.gc())
    bean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Spans with their attributed job counts and self times, one JSON
    * object a line. */
  private def writeSpans(file: File, report: TraceReport, spans: Seq[Span]): Unit = {
    file.getParentFile.mkdirs()
    val lines = spans.sortBy(_.id).map { s =>
      val jobs = report.jobsOf.getOrElse(s.id, Nil)
      Out.json(Out.obj("id" -> s.id, "name" -> s.name, "op" -> s.opId, "parent" -> s.parent,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> report.selfTime(s),
        "jobs" -> jobs.size, "tasks" -> jobs.map(_.tasks).sum,
        "executor_cpu_ms" -> jobs.map(_.executorCpuMs).sum))
    }
    Files.write(file.toPath, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
