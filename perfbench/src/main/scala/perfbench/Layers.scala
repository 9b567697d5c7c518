package perfbench

import scala.jdk.CollectionConverters._

/** Folds a traced run into its per-layer figures: per-round averages
  * over the traced rounds, the tracing overhead (traced minus untraced
  * round wall, over untraced), the layer-separation self-check and the
  * span file with each span's parent and self time. */
object Layers {

  /** Tracer counters reported as per-round averages. */
  val tracerCounters: Seq[String] = Seq(
    "stream.batches", "stream.add_batch_ms", "stream.query_planning_ms",
    "stream.latest_offset_ms", "stream.commit_ms",
    "materialize.blocks", "materialize.bytes",
    "plan.analysis_ms", "plan.optimizer_ms", "plan.planning_ms",
    "sched.jobs", "sched.stages", "sched.tasks",
    "task.run_ms", "task.cpu_ms", "task.gc_ms",
    "shuffle.read_bytes", "shuffle.write_bytes", "spill.bytes")

  val spanKinds: Seq[String] = Seq("round", "call", "batch", "query", "job", "stage")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Median of the last tenth of `xs` over the median of the first. */
  def growth(xs: Seq[Double]): Double =
    if (xs.size < 2) 0.0 else {
      val k = math.max(1, xs.size / 10)
      val first = median(xs.take(k))
      if (first <= 0) 0.0 else median(xs.takeRight(k)) / first
    }

  def summarize(run: Run, t: Tracer): Unit = {
    val traced = run.rounds.filter(_.traced).toSeq
    val untraced = run.rounds.filterNot(_.traced).toSeq
    val n = math.max(1, traced.size).toDouble
    val L = run.layer
    tracerCounters.foreach(k => L(k) = t.counter(k) / n)
    L("stream.batch_growth") = growth(t.batchMs.asScala.map(_.toDouble).toSeq)
    L("plan.outside_jobs_ms") = traced.map(_.outsideJobsMs).sum / n
    L("codegen.compiles") = traced.map(_.compiles).sum / n
    L("codegen.compile_ms") = traced.map(_.compileMs).sum / n
    val wallMs = traced.map(_.wallMs).sum
    L("task.occupancy") = if (wallMs > 0) t.counter("task.run_ms") / (wallMs * run.cores) else 0.0
    L("task.max_over_median") = median(t.stageSkews.asScala.map(_.toDouble).toSeq)
    run.acc.foreach { case (k, v) => L(k) = v / n }

    val tracedWall = median(traced.map(_.wallMs))
    val untracedWall = untraced.map(_.wallMs).sum / math.max(1, untraced.size)
    L("trace.overhead_frac") = if (untracedWall > 0) tracedWall / untracedWall - 1 else 0.0

    // layer separation: tracing adds no Spark job (the engine itself
    // varies by a job between identical corpus iterations, so one job
    // per round is tolerated; a listener that ran jobs would add one per
    // query), and warm codegen per operation is ~0 on the storm path and
    // well above 0 on the corpus path
    def perRound(rs: Seq[RoundStats], f: RoundStats => Double): Double =
      if (rs.isEmpty) 0.0 else rs.map(f).sum / rs.size
    val extraJobs = perRound(traced, _.jobs.toDouble) - perRound(untraced, _.jobs.toDouble)
    val opsPerRound = run.ops.size.toDouble / math.max(1, run.rounds.size)
    val warmCompilesPerOp = perRound(run.rounds.toSeq, _.compiles.toDouble) / math.max(1.0, opsPerRound)
    L("selfcheck.extra_jobs_per_round") = extraJobs
    L("selfcheck.warm_compiles_per_op") = warmCompilesPerOp
    val codegenOk =
      if (run.workload == "storm_stream") warmCompilesPerOp < 5.0 else warmCompilesPerOp > 50.0
    run.check("layer_separation", math.abs(extraJobs) <= 1.0 && codegenOk,
      f"extra jobs per round $extraJobs%.2f, warm compiles per op $warmCompilesPerOp%.2f",
      Nil)

    val h = Tracer.hierarchy(t.allSpans)
    spanKinds.foreach { k =>
      L(s"self.${k}_ms") = h.filter(_._1.kind == k).map(_._3).sum / n
    }
    L("trace.spans") = h.size.toDouble
    val runId = s"${run.workload}-s${run.seed}"
    val spans = h.sortBy(_._1.startMs).map { case (s, parent, self) =>
      Json.obj("id" -> s.id, "parent" -> parent, "level" -> s.level, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> self,
        "run_id" -> runId)
    }
    new java.io.File(run.out).mkdirs()
    java.nio.file.Files.writeString(new java.io.File(run.out, s"$runId.trace.json").toPath,
      Json.render(Json.obj("run_id" -> runId,
        "kernels_seen" -> t.kernelsSeen.asScala.toSeq.sorted, "spans" -> spans)))
  }
}
