package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Times are epoch milliseconds with sub-ms precision.
  * `parent` is 0 for a root span; listener spans get their parent when the
  * trace is resolved (see [[Trace.resolve]]).
  */
final case class Span(id: Long, var parent: Long, name: String, kind: String,
    start: Double, end: Double, attrs: Map[String, Double] = Map.empty) {
  def ms: Double = end - start
}

/** In-memory span recorder. Disabled (the untraced run) it records nothing
  * and the calls it wraps run exactly as they would without it.
  */
final class Trace(val enabled: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private val ids = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  def nextId(): Long = ids.getAndIncrement()

  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Records a span around `body` when enabled; the span is tagged onto the
    * calling thread's Spark local properties so jobs it starts can be
    * matched to it.
    */
  def around[T](sc: SparkContext, name: String, kind: String, on: Boolean = true)(body: => T): T = {
    if (!enabled || !on) return body
    val id = nextId()
    val prev = sc.getLocalProperty(Trace.OpKey)
    sc.setLocalProperty(Trace.OpKey, id.toString)
    val t0 = now()
    try body
    finally {
      add(Span(id, 0L, name, kind, t0, now()))
      sc.setLocalProperty(Trace.OpKey, prev)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq
}

object Trace {
  val OpKey = "perfbench.op"

  /** Total length of the union of the given intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of it its children
    * cover (children clipped to the parent's interval).
    */
  def selfMs(s: Span, children: Seq[Span]): Double =
    s.ms - unionMs(children.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter(iv => iv._2 > iv._1))

  /** Gives every listener job span the op span that caused it: the op named
    * in the job's local properties when the job ran on a traced thread,
    * otherwise (when `byWindow`) the op span of the given kinds whose
    * interval holds the job's start. Stage and task spans already point at
    * their job.
    */
  def resolve(all: Seq[Span], jobOps: collection.Map[Long, Long], opKinds: Set[String],
      byWindow: Boolean): Unit = {
    val ops = all.filter(s => opKinds(s.kind)).sortBy(_.start).toArray
    val opIds = ops.map(_.id).toSet
    all.filter(_.kind == "job").foreach { j =>
      val tagged = jobOps.get(j.id).filter(opIds)
      j.parent = tagged.getOrElse {
        if (!byWindow) 0L
        else ops.find(o => j.start >= o.start && j.start <= o.end).map(_.id).getOrElse(0L)
      }
    }
  }
}

/** Spark listener recording job, stage and task spans plus the counters the
  * `spark` layer reports. Registered only in the traced run.
  */
final class SparkSpans(trace: Trace) extends SparkListener {
  // listener span ids live in their own ranges so they never collide with
  // op ids: job J → JobBase + J, stage (S, attempt A) → StageBase + S*16 + A
  import SparkSpans._
  private val jobStart = mutable.HashMap.empty[Int, Double]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  val jobOps: mutable.Map[Long, Long] = mutable.HashMap.empty
  var jobs = 0L
  var tasks = 0L
  var resultBytes = 0L
  var shuffleWriteBytes = 0L
  var gcMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time.toDouble
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpKey)))
      .foreach(op => jobOps(JobBase + e.jobId) = op.toLong)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += 1
    val ok = if (e.jobResult == JobSucceeded) 1.0 else 0.0
    trace.add(Span(JobBase + e.jobId, 0L, s"job ${e.jobId}", "job",
      jobStart.getOrElse(e.jobId, e.time.toDouble), e.time.toDouble, Map("ok" -> ok)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val job = stageJob.getOrElse(i.stageId, -1)
    for (s <- i.submissionTime; c <- i.completionTime)
      trace.add(Span(StageBase + i.stageId * 16L + i.attemptNumber(),
        if (job >= 0) JobBase + job else 0L, s"stage ${i.stageId}", "stage",
        s.toDouble, c.toDouble, Map("tasks" -> i.numTasks.toDouble)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    var attrs = Map.empty[String, Double]
    if (m != null) {
      resultBytes += m.resultSize
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      gcMs += m.jvmGCTime
      attrs = Map("result_bytes" -> m.resultSize.toDouble,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "gc_ms" -> m.jvmGCTime.toDouble)
    }
    trace.add(Span(TaskBase + info.taskId, StageBase + e.stageId * 16L + e.stageAttemptId,
      s"task ${info.taskId}", "task", info.launchTime.toDouble, info.finishTime.toDouble, attrs))
  }
}

object SparkSpans {
  val JobBase = 1L << 40
  val StageBase = 2L << 40
  val TaskBase = 3L << 40
}

/** What the listener saw for one op span: its jobs, the tasks of those
  * jobs, and the op's self time (its duration outside any job).
  */
final case class OpCost(op: Span, jobs: Int, tasks: Int, resultBytes: Double,
    shuffleBytes: Double, jobMs: Double, selfMs: Double, gcMs: Double)

object OpCost {
  def of(all: Seq[Span], opKinds: Set[String]): Seq[OpCost] = {
    val jobsBy = all.filter(_.kind == "job").groupBy(_.parent)
    val stagesBy = all.filter(_.kind == "stage").groupBy(_.parent)
    val tasksBy = all.filter(_.kind == "task").groupBy(_.parent)
    all.filter(s => opKinds(s.kind)).sortBy(_.start).map { op =>
      val jobs = jobsBy.getOrElse(op.id, Nil)
      val tasks = jobs.flatMap(j => stagesBy.getOrElse(j.id, Nil))
        .flatMap(st => tasksBy.getOrElse(st.id, Nil))
      def sum(k: String) = tasks.map(_.attrs.getOrElse(k, 0.0)).sum
      OpCost(op, jobs.size, tasks.size, sum("result_bytes"),
        sum("shuffle_write_bytes"), Trace.unionMs(jobs.map(j => (j.start, j.end))),
        Trace.selfMs(op, jobs), sum("gc_ms"))
    }
  }
}
