package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side: builds a session with graft's own
  * configuration, generates the workload's inputs from the seed, warms
  * up, runs the measured phase, checks outputs that need Spark, and
  * writes `result.json` into the work directory for `run.py`.
  *
  * Usage: `Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --t0-ms EPOCH_MS [--size full|tiny] [--corrupt]`. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, t0Ms: Long, tiny: Boolean, corrupt: Boolean)

  /** What one run measured. `layer` holds the traced run's per-layer
    * metrics; `checks` is handed to `run.py` for the DuckDB checks. */
  final class Outcome {
    var setupS = 0.0
    val latMs = mutable.ArrayBuffer.empty[Double]
    var items = 0L
    var wallS = 0.0
    var cpuNs = 0L
    var heapMb = 0.0
    var attempted = 0
    var failed = 0
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val report = mutable.LinkedHashMap.empty[String, Any]
    val checks = mutable.LinkedHashMap.empty[String, Any]
  }

  /** Session, listeners and span recorder shared by the workloads. */
  final class Ctx(val spark: SparkSession, val args: Args, val cores: Int) {
    val work = new WorkListener(byKey = args.trace)
    val progress = new ProgressListener
    val spans = new Spans(spark.sparkContext, args.trace)
    spark.sparkContext.addSparkListener(work)
    spark.streams.addListener(progress)
    def dir(name: String): String = s"${args.work}/$name"
    def sized[A](full: A, tiny: A): A = if (args.tiny) tiny else full
    def drain(): Unit = WorkListener.drain(spark.sparkContext)
  }

  def main(argv: Array[String]): Unit = {
    val mainStartMs = System.currentTimeMillis()
    val a = parse(argv)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val t0 = System.nanoTime()
    val spark = graft.Sessions.builder(cores)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${a.work}/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secs(t0)
    val ctx = new Ctx(spark, a, cores)
    val o = a.workload match {
      case "stream_catchup" => Workloads.streamCatchup(ctx)
      case "corpus_build" => Workloads.corpusBuild(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    // process start (run.py) → JVM main, session, then the workload's
    // own set-up (median input generation + warm-up)
    val setupS = (mainStartMs - a.t0Ms) / 1000.0 + sessionS + o.setupS
    val lat = o.latMs.toSeq.sorted
    val endToEnd = Map(
      "setup_s" -> setupS,
      "items_per_s" -> o.items / o.wallS,
      "latency_p50_ms" -> Stats.quantile(lat, 0.5),
      "cpu_us_per_item" -> o.cpuNs / 1000.0 / o.items,
      "heap_mb" -> o.heapMb)
    val layer = if (a.trace) traceMetrics(ctx, o, lat) else Map.empty[String, Double]
    if (a.trace) Json.write(s"${a.work}/trace.json", Map(
      "workload" -> a.workload, "seed" -> a.seed,
      "spans" -> ctx.spans.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "seconds" -> s.seconds, "self_seconds" -> ctx.spans.selfSeconds(s),
        "attrs" -> s.attrs)),
      "work" -> ctx.work.keys.sorted.map(k =>
        k -> (workMap(ctx.work.forKey(k)) + ("job_names" -> ctx.work.jobsOf(k)))).toMap))
    Json.write(s"${a.work}/result.json", Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace, "cores" -> cores,
      "attempted" -> o.attempted, "failed" -> o.failed,
      "end_to_end" -> endToEnd, "per_layer" -> layer,
      "report" -> (o.report ++ Map("samples" -> lat.size, "setup_session_s" -> sessionS,
        "setup_workload_s" -> o.setupS, "latency_min_ms" -> lat.headOption.getOrElse(0.0),
        "latency_max_ms" -> lat.lastOption.getOrElse(0.0), "wall_s" -> o.wallS,
        "latencies_ms" -> o.latMs.map(x => math.round(x).toDouble),
        "items" -> o.items)).toMap,
      "checks" -> o.checks.toMap))
    spark.stop()
  }

  /** Metrics every traced run reports, whatever its workload. */
  private def traceMetrics(ctx: Ctx, o: Outcome, lat: Seq[Double]): Map[String, Double] = {
    val tenth = math.max(1, lat.size / 10)
    val ordered = o.latMs.toSeq
    Map(
      "traced.latency_p50_ms" -> Stats.quantile(lat, 0.5),
      "latency_growth" -> Stats.median(ordered.takeRight(tenth)) / Stats.median(ordered.take(tenth))
    ) ++ o.layer
  }

  def workMap(w: Work): Map[String, Any] = Map("jobs" -> w.jobs, "stages" -> w.stages,
    "tasks" -> w.tasks, "task_run_s" -> w.taskRunMs / 1000.0, "task_cpu_s" -> w.cpuS,
    "gc_s" -> w.gcMs / 1000.0, "shuffle_read_mb" -> w.shuffleReadBytes / 1048576.0,
    "shuffle_write_mb" -> w.shuffleWriteBytes / 1048576.0, "fetch_wait_ms" -> w.fetchWaitMs,
    "spill_mb" -> w.spillBytes / 1048576.0, "peak_exec_mb" -> w.peakExecBytes / 1048576.0,
    "plan_ms" -> w.planMs)

  /** The `spark.*` and `catalyst.plan_ms` metrics of `w`, per operation;
    * `wallS` is the time the work had, for the idle-core share. */
  def sparkMetrics(w: Work, ops: Int, wallS: Double, cores: Int): Map[String, Double] = {
    val n = math.max(ops, 1).toDouble
    Map("spark.jobs" -> w.jobs / n, "spark.stages" -> w.stages / n, "spark.tasks" -> w.tasks / n,
      "spark.task_run_s" -> w.taskRunMs / 1000.0 / n, "spark.task_cpu_s" -> w.cpuS / n,
      "spark.gc_s" -> w.gcMs / 1000.0 / n,
      "spark.shuffle_read_mb" -> w.shuffleReadBytes / 1048576.0 / n,
      "spark.shuffle_write_mb" -> w.shuffleWriteBytes / 1048576.0 / n,
      "spark.fetch_wait_ms" -> w.fetchWaitMs / n, "spark.spill_mb" -> w.spillBytes / 1048576.0 / n,
      "spark.peak_exec_mb" -> w.peakExecBytes / 1048576.0,
      "spark.idle_core_share" -> (1.0 - w.taskRunMs / 1000.0 / (wallS * cores)),
      "catalyst.plan_ms" -> w.planMs / n)
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Driver heap in use after full collections, in MB: the least of
    * five readings, each two collections apart with a pause between
    * them. The pause lets Spark's ContextCleaner drop the blocks of RDDs
    * it found unreachable; the live set then falls over the first few
    * readings (references that need more than one collection to clear),
    * and a reading taken while a streaming trigger allocates can be
    * higher still. The least reading is the settled live set; all of
    * them go to the report as `heap_readings_mb`. */
  def heapAfterGcMb(o: Outcome): Double = {
    val rt = Runtime.getRuntime
    val readings = (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(300)
      System.gc()
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }
    o.report += "heap_readings_mb" -> readings.map(x => math.round(x * 10) / 10.0)
    readings.min
  }

  /** Materialise a frame without writing it anywhere. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Run `gen` `rounds` times and return the median duration. The
    * inputs of the last round are the ones the workload uses. */
  def timedSetup(rounds: Int)(gen: => Unit): Double =
    Stats.median((1 to rounds).map { _ => val t = System.nanoTime(); gen; secs(t) })

  def note(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def writeText(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), text)
  }

  /** Closed loop: start operations back to back for `seconds`, always
    * at least one, and another only while it is expected (from the
    * previous one's duration) to end inside the window. `op(i)` returns
    * the operation's own latency in ms and the items it processed; a
    * throwing operation counts as failed. */
  def closedLoop(ctx: Ctx, o: Outcome)(op: Int => (Double, Long)): Unit = {
    ctx.drain()
    val w0 = ctx.work.snapshot()
    val deadline = System.nanoTime() + (ctx.args.seconds * 1e9).toLong
    var i = 0
    var last = 0L
    while (i == 0 || System.nanoTime() + last <= deadline) {
      o.attempted += 1
      val t = System.nanoTime()
      try {
        val (l, n) = op(i)
        o.latMs += l; o.items += n; o.wallS += l / 1000.0
      } catch {
        case NonFatal(e) => o.failed += 1; note(s"operation $i failed: $e")
      }
      last = System.nanoTime() - t
      i += 1
    }
    ctx.drain()
    o.cpuNs = ctx.work.snapshot().taskCpuNs - w0.taskCpuNs
    o.heapMb = heapAfterGcMb(o)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--work"), need("--t0-ms").toLong,
      m.get("--size").contains("tiny"), argv.contains("--corrupt"))
  }
}

object Stats {
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)
}

/** Writes the result and trace files. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(path: String, v: Any): Unit = Main.writeText(path, mapper.writeValueAsString(v))
}
