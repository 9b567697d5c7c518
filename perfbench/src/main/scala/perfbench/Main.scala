package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.PerfbenchAccess
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One measured operation: a micro-batch, a merge call or an iteration. */
final class Op(val kind: String, val ms: Double, val round: Int, val traced: Boolean,
    val latency: Boolean) {
  var failed = false
}

/** Engine counters of one round's timed sections. */
final class RoundStats(val idx: Int, val traced: Boolean) {
  var wallMs = 0.0
  var jobs = 0L
  var compiles = 0L
  var compileMs = 0.0
  var outsideJobsMs = 0.0
  var rows = 0L
}

/** Shared measurement state of one benchmark process. Timed sections
  * accumulate wall time, process CPU and engine counters; everything
  * outside them (staging, warm-up, output checks) is untimed. */
final class Run(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Double, val trace: Boolean, val work: String, val out: String) {
  val sc = spark.sparkContext
  val cores: Int = sc.defaultParallelism
  val ops = ArrayBuffer.empty[Op]
  val rounds = ArrayBuffer.empty[RoundStats]
  val checks = ArrayBuffer.empty[Map[String, Any]]
  /** Checks of known library defects: recorded and reported, but they
    * fail no operation and leave `correct` alone. */
  val knownDefects = ArrayBuffer.empty[Map[String, Any]]
  val oracles = ArrayBuffer.empty[Map[String, Any]]
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** Per-layer sums over traced rounds, reported as per-round averages. */
  val acc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val tracer: Option[Tracer] = if (trace) Some(new Tracer(spark)) else None
  tracer.foreach(_.register())

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  var timedNs = 0L
  var cpuNs = 0L
  var firstTimedMs = 0.0
  private var cur: RoundStats = _

  def drain(): Unit = PerfbenchAccess.drainListenerBus(sc)

  def nowMs: Double = System.currentTimeMillis().toDouble

  /** Run one round (the workload's repeated unit). */
  def round(idx: Int, traced: Boolean)(body: => Unit): RoundStats = {
    cur = new RoundStats(idx, traced)
    val t0 = nowMs
    body
    if (traced) tracer.foreach(_.span(1, "round", s"round $idx", t0, nowMs))
    rounds += cur
    cur
  }

  /** A timed section: wall, process CPU, submitted jobs and codegen
    * compiles are charged to the current round; tracing is on only
    * inside timed sections of traced rounds. */
  def timed[A](body: => A): A = {
    drain()
    tracer.foreach(_.on = cur.traced)
    val jobs0 = PerfbenchAccess.jobsSubmitted(sc)
    val comp0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compNs0 = CodeGenerator.compileTime
    val jobIv0 = tracer.map(_.jobIntervals.size).getOrElse(0)
    if (firstTimedMs == 0.0) firstTimedMs = nowMs
    val w0 = nowMs
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val r = body
    val dt = System.nanoTime() - t0
    cpuNs += os.getProcessCpuTime - cpu0
    val w1 = nowMs
    timedNs += dt
    drain()
    tracer.foreach { t =>
      val iv = t.jobIntervals.toArray(new Array[(Double, Double)](0)).drop(jobIv0).toSeq
      cur.outsideJobsMs += (w1 - w0) - Tracer.covered(iv, w0, w1)
      t.on = false
    }
    cur.wallMs += dt / 1e6
    cur.jobs += PerfbenchAccess.jobsSubmitted(sc) - jobs0
    cur.compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - comp0
    cur.compileMs += (CodeGenerator.compileTime - compNs0) / 1e6
    r
  }

  /** A public graft call, recorded as a level-2 span when traced. */
  def call[A](name: String)(body: => A): (A, Double) = {
    val w0 = nowMs
    val t0 = System.nanoTime()
    val r = body
    val ms = (System.nanoTime() - t0) / 1e6
    if (cur.traced) tracer.foreach(_.span(2, "call", name, w0, nowMs))
    (r, ms)
  }

  /** Record an operation; `latency` ones carry the latency metrics. */
  def op(kind: String, ms: Double, latency: Boolean = true): Op = {
    val o = new Op(kind, ms, cur.idx, cur.traced, latency)
    ops += o
    o
  }

  def check(name: String, ok: Boolean, detail: String, failing: Seq[Op]): Unit = {
    if (!ok) failing.foreach(_.failed = true)
    checks += Json.obj("name" -> name, "ok" -> ok, "detail" -> detail,
      "round" -> cur.idx)
  }

  /** A check of a known library defect (see `knownDefects`). */
  def knownDefect(name: String, ok: Boolean, detail: String): Unit =
    knownDefects += Json.obj("name" -> name, "ok" -> ok, "detail" -> detail,
      "round" -> cur.idx)

  def accumulate(key: String, v: Double): Unit =
    if (cur.traced) acc(key) = acc.getOrElse(key, 0.0) + v

  def addRows(n: Long): Unit = cur.rows += n

  /** Ids of the RDDs persisted right now (materialized frames). */
  def persisted(): Set[Int] = sc.getPersistentRDDs.keySet.toSet

  /** Forget the warm-up's timings: the timed part starts after it. */
  def resetAfterWarmup(): Unit = {
    ops.clear(); rounds.clear(); checks.clear(); knownDefects.clear()
    timedNs = 0L; cpuNs = 0L; firstTimedMs = 0.0
  }

  def timedSeconds: Double = timedNs / 1e9

  /** Used heap after full GCs, the least of four: blocks of freed
    * frames are released by Spark's cleaner only after a GC has found
    * them unreachable, so one GC can still see them. */
  def usedHeapMbAfterGc(): Double = (0 until 4).map { _ =>
    System.gc()
    Thread.sleep(250)
    drain()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min
}

/** Micro-batch clock: the trigger duration of every batch that read
  * input, in arrival order. This is the operation latency of the stream
  * workloads, so it is registered in untraced runs too. */
final class StreamClock extends StreamingQueryListener {
  private val q = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      q.add((p.numInputRows, p.durationMs.get("triggerExecution").toDouble))
  }
  /** Take the batches recorded so far as (input rows, trigger ms). */
  def take(): Seq[(Long, Double)] = {
    val b = ArrayBuffer.empty[(Long, Double)]
    var x = q.poll()
    while (x != null) { b += x; x = q.poll() }
    b.toSeq
  }
}

trait Workload {
  /** Generate the seeded inputs under the run's work dir. */
  def stage(): Unit
  /** One untimed pass over the whole path (compiles, JIT, caches); also
    * produces the outputs the DuckDB oracle checks. */
  def warmup(): Unit
  /** One repeated unit of timed work plus its output checks. */
  def round(idx: Int, traced: Boolean): Unit
  /** Checks and per-layer figures after the last round. */
  def finish(): Unit = ()
  /** Why this workload is in the benchmark. */
  def why: String
  /** Timed seconds of one round on a 4-core host; sets the round count. */
  def nominalRoundSeconds: Double
}

object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val work = opt("work")
    val run0 = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .appName(s"perfbench-$workload")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, workload, opt("seed").toLong, opt("seconds").toDouble,
      opt.getOrElse("trace", "0") == "1", work, opt("out"))
    val wl: Workload = workload match {
      case "storm_stream" => new StormStreamWorkload(run)
      case "corpus_batch" => new CorpusBatchWorkload(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val session0 = run.nowMs
    wl.stage()
    val stage0 = run.nowMs
    wl.warmup()
    val warm0 = run.nowMs
    run.resetAfterWarmup()
    // closed loop over a fixed number of rounds: --seconds of timed work
    // at the workload's nominal round time. Fixed work keeps a faster or
    // slower host (or program) from changing how many rounds amortize the
    // first one. A traced run alternates untraced and traced rounds,
    // starting and ending untraced (at least three), so the tracing
    // overhead is measured inside one process and a linear drift cancels
    val planned = math.max(1, math.round(run.seconds / wl.nominalRoundSeconds).toInt)
    val rounds = if (run.trace) math.max(3, planned | 1) else planned
    val loop0 = run.nowMs
    (0 until rounds).foreach(i => wl.round(i, traced = run.trace && i % 2 == 1))
    run.tracer.foreach(_.span(0, "workload", workload, loop0, run.nowMs))
    val heapMb = run.usedHeapMbAfterGc()
    wl.finish()
    val setupS = (run.firstTimedMs - run0) / 1000.0
    val host = Json.obj(
      "nproc" -> cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "calib_iters_per_ms" -> graft.Bench.calibrate(),
      "calib_mt_iters_per_ms" -> graft.Bench.calibrateMt(cores),
      "stray_jvms" -> graft.Bench.strayJvms().map { case (pid, c) =>
        Json.obj("pid" -> pid, "cores" -> c) })
    run.tracer.foreach(t => Layers.summarize(run, t))
    val rows = run.rounds.map(_.rows).sum
    val result = Json.obj(
      "workload" -> workload, "why" -> wl.why, "seed" -> run.seed, "trace" -> run.trace,
      "setup_s" -> setupS, "setup_phases_s" -> Json.obj(
        "jvm_and_session" -> (session0 - run0) / 1000, "stage" -> (stage0 - session0) / 1000,
        "warmup" -> (warm0 - stage0) / 1000),
      "timed_s" -> run.timedSeconds, "rows" -> rows,
      "cpu_ms" -> run.cpuNs / 1e6, "heap_mb" -> heapMb, "host" -> host,
      "rounds" -> run.rounds.map(r => Json.obj("idx" -> r.idx, "traced" -> r.traced,
        "wall_ms" -> r.wallMs, "jobs" -> r.jobs, "compiles" -> r.compiles, "rows" -> r.rows)),
      "ops" -> run.ops.map(o => Json.obj("kind" -> o.kind, "ms" -> o.ms, "latency" -> o.latency,
        "round" -> o.round, "traced" -> o.traced, "failed" -> o.failed)),
      "checks" -> run.checks, "known_defects" -> run.knownDefects, "oracles" -> run.oracles,
      "layer" -> run.layer.toMap)
    val f = new java.io.File(work, "result.json")
    java.nio.file.Files.writeString(f.toPath, Json.render(result))
    run.tracer.foreach(_.unregister())
    spark.stop()
  }
}
