package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `level` orders the hierarchy (workload 0,
  * round 1, public call 2, micro-batch 3, SQL query 4, job 5, stage 6);
  * a span's parent is the innermost lower-level span that contains it. */
final case class Span(id: Long, level: Int, kind: String, name: String,
    startMs: Double, endMs: Double)

/** Per-layer tracing from listeners the benchmark registers itself:
  * a SparkListener (jobs, stages, tasks, block updates), a
  * QueryExecutionListener (Catalyst phase times) and a
  * StreamingQueryListener (micro-batch phase times). Events count only
  * while `on` is set, so traced and untraced rounds can alternate in
  * one process; spans stay in memory until the run writes them out. */
final class Tracer(spark: SparkSession) {
  @volatile var on = false

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]
  private val counters = new ConcurrentHashMap[String, DoubleAdder]
  private val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]
  private val stageTasks = new ConcurrentHashMap[String, ConcurrentLinkedQueue[java.lang.Long]]
  /** Per-stage max/median task duration, stages with >= 2 tasks. */
  val stageSkews = new ConcurrentLinkedQueue[java.lang.Double]
  /** Closed job intervals (epoch ms), in completion order. */
  val jobIntervals = new ConcurrentLinkedQueue[(Double, Double)]
  /** Graft kernel names seen in executed plans. */
  val kernelsSeen = ConcurrentHashMap.newKeySet[String]()

  def add(k: String, v: Double): Unit =
    if (on) counters.computeIfAbsent(k, _ => new DoubleAdder).add(v)

  def counter(k: String): Double = Option(counters.get(k)).map(_.sum).getOrElse(0.0)

  def span(level: Int, kind: String, name: String, startMs: Double, endMs: Double): Unit =
    spans.add(Span(ids.incrementAndGet(), level, kind, name, startMs, endMs))

  def allSpans: Seq[Span] = spans.asScala.toSeq

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      add("sched.jobs", 1)
      jobStarts.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { st =>
        if (on) {
          span(5, "job", s"job ${e.jobId}", st.toDouble, e.time.toDouble)
          jobIntervals.add((st.toDouble, e.time.toDouble))
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val tasks = stageTasks.remove(s"${info.stageId}.${info.attemptNumber()}")
      if (on) {
        add("sched.stages", 1)
        val end = info.completionTime.getOrElse(System.currentTimeMillis())
        span(6, "stage", s"stage ${info.stageId}", info.submissionTime.getOrElse(end).toDouble,
          end.toDouble)
        if (tasks != null && tasks.size >= 2) {
          val d = tasks.asScala.map(_.toDouble).toArray.sorted
          val med = d(d.length / 2)
          if (med > 0) stageSkews.add(d.last / med)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      add("sched.tasks", 1)
      stageTasks.computeIfAbsent(s"${e.stageId}.${e.stageAttemptId}",
        _ => new ConcurrentLinkedQueue[java.lang.Long]).add(e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        add("task.run_ms", m.executorRunTime.toDouble)
        add("task.cpu_ms", m.executorCpuTime / 1e6)
        add("task.gc_ms", m.jvmGCTime.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spill.bytes", m.diskBytesSpilled.toDouble)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (on) {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        add("materialize.blocks", 1)
        add("materialize.bytes", (b.memSize + b.diskSize).toDouble)
      }
    }
  }

  private val kernelRe = "graft_[a-z0-9_]+".r

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) {
        val p = qe.tracker.phases
        def ms(phase: String): Double = p.get(phase).map(_.durationMs.toDouble).getOrElse(0.0)
        add("plan.analysis_ms", ms("analysis"))
        add("plan.optimizer_ms", ms("optimization"))
        add("plan.planning_ms", ms("planning"))
        val end = System.currentTimeMillis().toDouble
        span(4, "query", funcName, end - durationNs / 1e6, end)
        kernelRe.findAllIn(qe.executedPlan.toString).foreach(kernelsSeen.add)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Micro-batch trigger durations (ms) of traced batches, in order. */
  val batchMs = new ConcurrentLinkedQueue[java.lang.Long]

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (on) {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.toDouble).getOrElse(0.0)
      add("stream.batches", 1)
      add("stream.add_batch_ms", ms("addBatch"))
      add("stream.query_planning_ms", ms("queryPlanning"))
      add("stream.latest_offset_ms", ms("latestOffset"))
      add("stream.commit_ms", ms("walCommit") + ms("commitOffsets"))
      val trigger = ms("triggerExecution")
      batchMs.add(trigger.toLong)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      span(3, "batch", s"batch ${p.batchId}", start, start + trigger)
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer {
  /** Total length of the union of `iv` clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Parent links (innermost containing lower-level span) and self
    * time (duration minus the union of its children) for each span. */
  def hierarchy(spans: Seq[Span]): Seq[(Span, Long, Double)] = {
    val byLevel = spans.groupBy(_.level)
    val parent = spans.map { s =>
      val cands = (0 until s.level).reverseIterator.flatMap(l => byLevel.getOrElse(l, Nil))
        .filter(p => p.startMs <= s.startMs + 1 && p.endMs >= s.endMs - 1)
      s.id -> (if (cands.hasNext) cands.minBy(p => p.endMs - p.startMs).id else 0L)
    }.toMap
    val children = spans.groupBy(s => parent(s.id))
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      (s, parent(s.id), (s.endMs - s.startMs) - covered(kids, s.startMs, s.endMs))
    }
  }
}
