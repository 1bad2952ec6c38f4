package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are nanoseconds on this JVM's
  * monotonic clock (`Probe.clock`), `parent` is a span id or -1. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: Int)

/** The traced run's instrumentation, attached from outside the engine: a
  * SparkListener (jobs, stages, tasks, RDD blocks), a
  * QueryExecutionListener (each action's planning tracker) and in-memory
  * spans around every call the workloads make into a layer. Every job is
  * attributed to the op whose thread submitted it through the
  * `perfbench.op` local property. Untraced runs never construct one. */
final class Probe(spark: SparkSession) {
  import Probe._

  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val nextSpan = new AtomicInteger(0)
  private val callbackNs = new AtomicLong(0)
  @volatile private var active = false

  // ---- exec / spark_sched, from the listener
  private final class JobRec(val id: Int, val op: Int, val submit: Long) {
    @volatile var end: Long = 0L
    @volatile var firstTask: Long = Long.MaxValue
  }
  private final class StageRec(val job: Int) {
    @volatile var submit: Long = 0L
    @volatile var end: Long = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private val opCounters = new ConcurrentHashMap[Int, Counters]()
  private val execOp = new ConcurrentHashMap[Long, Int]()
  private val totals = new Counters

  // ---- frames, from RDD block updates
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  private val blocksSeen = ConcurrentHashMap.newKeySet[String]()
  private val storedNow = new AtomicLong(0)
  private val storedPeak = new AtomicLong(0)

  // ---- plans, from each executed QueryExecution
  private val planNs = new ConcurrentHashMap[String, AtomicLong]()
  private val ruleNs = new AtomicLong(0)
  private val ruleRuns = new AtomicLong(0)
  private val ruleHits = new AtomicLong(0)
  private val planSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long, Long)]()

  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  private def counters(op: Int): Counters = opCounters.computeIfAbsent(op, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
        .map(_.toInt).getOrElse(-1)
      val rec = new JobRec(e.jobId, op, clock(e.time))
      jobs.put(e.jobId, rec)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => if (op >= 0) execOp.putIfAbsent(x.toLong, op))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      if (active && op >= 0) {
        counters(op).jobs.incrementAndGet(); totals.jobs.incrementAndGet()
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobs.get(e.jobId)).foreach(_.end = clock(e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
      val i = e.stageInfo
      val rec = new StageRec(stageJob.getOrDefault(i.stageId, -1))
      rec.submit = i.submissionTime.map(clock).getOrElse(System.nanoTime())
      stages.put((i.stageId, i.attemptNumber()), rec)
      opOfStage(i.stageId).foreach { op =>
        if (active) { counters(op).stages.incrementAndGet(); totals.stages.incrementAndGet() }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val i = e.stageInfo
      Option(stages.get((i.stageId, i.attemptNumber())))
        .foreach(_.end = i.completionTime.map(clock).getOrElse(System.nanoTime()))
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = timed {
      val j = stageJob.getOrDefault(e.stageId, -1)
      Option(jobs.get(j)).foreach { r =>
        val t = clock(e.taskInfo.launchTime)
        if (t < r.firstTask) r.firstTask = t
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      if (active) opOfStage(e.stageId).foreach { op =>
        val m = e.taskMetrics
        Seq(counters(op), totals).foreach { c =>
          c.tasks.incrementAndGet()
          if (m != null) {
            c.taskCpuNs.addAndGet(m.executorCpuTime)
            c.taskRunMs.addAndGet(m.executorRunTime)
            c.taskGcMs.addAndGet(m.jvmGCTime)
            c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
            c.input.addAndGet(m.inputMetrics.bytesRead)
          }
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = timed {
      val b = e.blockUpdatedInfo
      if (active && b.blockId.isRDD) {
        val key = b.blockId.name
        val bytes = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        val prev = Option(blocks.put(key, bytes)).map(_.longValue).getOrElse(0L)
        if (bytes > 0) blocksSeen.add(key)
        val now = storedNow.addAndGet(bytes - prev)
        storedPeak.accumulateAndGet(now, math.max)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timed(recordPlan(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      timed(recordPlan(qe))
  }

  private def opOfStage(stage: Int): Option[Int] =
    Option(jobs.get(stageJob.getOrDefault(stage, -1))).map(_.op).filter(_ >= 0)

  /** Adds one QueryExecution's phase times and graft rule statistics. */
  def recordPlan(qe: QueryExecution): Unit = if (active) {
    val tr = qe.tracker
    tr.phases.foreach { case (phase, s) =>
      planNs.computeIfAbsent(phase, _ => new AtomicLong()).addAndGet((s.endTimeMs - s.startTimeMs) * 1000000L)
      planSpans.add((qe.id, phase, s.startTimeMs, s.endTimeMs))
    }
    tr.rules.foreach { case (rule, r) =>
      if (rule.startsWith("graft.plans.")) {
        ruleNs.addAndGet(r.totalTimeNs)
        ruleRuns.addAndGet(r.numInvocations)
        ruleHits.addAndGet(r.numEffectiveInvocations)
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Waits until the listener bus has delivered every queued event. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def start(): Unit = { drain(); active = true }
  def stop(): Unit = { drain(); active = false }

  def span[T](name: String, op: Int, parent: Int = -1)(body: Int => T): T = {
    val id = nextSpan.getAndIncrement()
    val t0 = System.nanoTime()
    try body(id) finally spans.add(Span(id, name, t0, System.nanoTime(), parent, op))
  }

  /** Records an interval measured elsewhere (e.g. a pipeline model's
    * execution time reported by the engine). */
  def addSpan(name: String, start: Long, end: Long, parent: Int, op: Int): Int = {
    val id = nextSpan.getAndIncrement()
    spans.add(Span(id, name, start, end, parent, op)); id
  }

  def opCounts(op: Int): Counters = opCounters.getOrDefault(op, new Counters)

  /** Jobs of `op` as (submit, end, firstTaskStart). */
  def jobsOf(op: Int): Seq[(Long, Long, Long)] =
    jobs.values.asScala.filter(j => j.op == op && j.end > 0)
      .map(j => (j.submit, j.end, j.firstTask)).toSeq

  /** Sum over `op`'s jobs of job submit to first task launch. */
  def queueNs(op: Int): Long = jobsOf(op).map { case (s, _, f) =>
    if (f == Long.MaxValue) 0L else math.max(0L, f - s) }.sum

  /** Op wall not covered by any of its running jobs. */
  def driverGapNs(op: Int, opStart: Long, opEnd: Long): Long =
    (opEnd - opStart) - covered(opStart, opEnd, jobsOf(op).map { case (s, e, _) => (s, e) })

  def totalCounters: Counters = totals
  def planSeconds(phase: String): Double =
    Option(planNs.get(phase)).map(_.get / 1e9).getOrElse(0.0)
  def graftRuleSeconds: Double = ruleNs.get / 1e9
  def graftRuleRuns: Long = ruleRuns.get
  def graftRuleHits: Long = ruleHits.get
  def rddBlocks: Int = blocksSeen.size
  def rddStoredPeak: Long = storedPeak.get
  def callbackSeconds: Double = callbackNs.get / 1e9

  /** Span tree with job and stage spans from the listener added under
    * their op (jobs) and job (stages), plus planning phases placed under
    * the op that ran their jobs. */
  def allSpans(): Seq[Span] = {
    val out = mutable.ArrayBuffer[Span]() ++= spans.asScala.filter(_.op >= 0)
    val opSpan = out.filter(_.name.startsWith("op.")).map(s => s.op -> s.id).toMap
    val jobSpan = mutable.Map[Int, Int]()
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      if (j.end > 0 && opSpan.contains(j.op)) {
        val id = nextSpan.getAndIncrement()
        jobSpan(j.id) = id
        out += Span(id, s"exec.job", j.submit, j.end, opSpan(j.op), j.op)
      }
    }
    stages.values.asScala.foreach { s =>
      jobSpan.get(s.job).filter(_ => s.end > 0).foreach { parent =>
        out += Span(nextSpan.getAndIncrement(), "exec.stage", s.submit, s.end, parent,
          jobs.get(s.job).op)
      }
    }
    // a planning phase belongs to the op that ran its execution's jobs,
    // or else to the only op whose span contains it
    val ops = out.filter(_.name.startsWith("op.")).toSeq
    planSpans.asScala.foreach { case (qe, phase, t0, t1) =>
      val (a, b) = (clock(t0), clock(t1))
      val slack = 1000000L // phase times have millisecond resolution
      val byJobs = if (execOp.containsKey(qe)) Some(execOp.get(qe)).filter(opSpan.contains) else None
      val owner = byJobs.orElse(ops.filter(o => o.start - slack <= a && b <= o.end + slack) match {
        case Seq(o) => Some(o.op); case _ => None })
      owner.foreach(op => out += Span(nextSpan.getAndIncrement(), s"plans.$phase", a, b, opSpan(op), op))
    }
    out.toSeq
  }
}

final class Counters {
  val jobs, stages, tasks, taskCpuNs, taskRunMs, taskGcMs, shuffleWrite, shuffleRead,
    spill, input = new AtomicLong(0)
}

object Probe {
  val OpProperty = "perfbench.op"
  /** Epoch milliseconds (listener event times) on the nanoTime axis. */
  private val offsetNs: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def clock(epochMs: Long): Long = epochMs * 1000000L + offsetNs

  /** Per-layer self time: each span's duration minus the union of its
    * children's intervals, summed by layer (the name up to its first
    * '.'). */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(s => s.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map { s =>
        (s.end - s.start - covered(s.start, s.end, kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))) / 1e9
      }.sum
    }
  }

  /** Length of the union of `intervals`, clipped to [from, until]. */
  def covered(from: Long, until: Long, intervals: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, until)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        total += math.max(0L, b - math.max(a, end)); end = math.max(end, b)
      }
    total
  }
}
