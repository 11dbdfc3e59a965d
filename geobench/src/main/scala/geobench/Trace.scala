package geobench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One traced interval. Times are epoch microseconds; `parent` is the id
  * of the span that caused this one (0 for the root).
  */
final case class Span(id: Long, parent: Long, name: String, cause: String,
                      startUs: Long, endUs: Long)

/** In-memory span recorder. Disabled, `span` only runs its body. Job and
  * stage spans arrive from [[TaskTotals]]; the open driver span is handed
  * to them through a Spark local property.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = scala.collection.mutable.Stack[Long](0L)
  private val epochUs = System.currentTimeMillis() * 1000
  private val baseNs = System.nanoTime()
  @volatile var sc: SparkContext = _

  def nowUs: Long = epochUs + (System.nanoTime() - baseNs) / 1000
  def nextId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = synchronized { spans += s }

  def span[A](name: String, cause: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId()
      val parent = stack.top
      val start = nowUs
      stack.push(id)
      if (sc != null) sc.setLocalProperty(Tracer.Property, id.toString)
      try body
      finally {
        stack.pop()
        if (sc != null) sc.setLocalProperty(Tracer.Property, stack.top.toString)
        record(Span(id, parent, name, cause, start, nowUs))
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)
}

object Tracer {
  val Property = "geobench.span"

  /** Self time per span: its duration minus the union of its children's
    * intervals clipped to it.
    */
  def selfTimesUs(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter(t => t._2 > t._1).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> math.max(0L, (s.endUs - s.startUs) - covered)
    }.toMap
  }
}

/** Cumulative task metrics of every finished task, read as differences
  * around a piece of work after the listener bus is drained.
  */
final case class Totals(stages: Long, tasks: Long, cpuNs: Long, runMs: Long, gcMs: Long,
                        inputBytes: Long, spillBytes: Long, shuffleWriteBytes: Long,
                        shuffleReadBytes: Long, shuffleRecords: Long,
                        stageRuns: Map[Int, Vector[Long]]) {
  def -(o: Totals): Totals = Totals(stages - o.stages, tasks - o.tasks, cpuNs - o.cpuNs,
    runMs - o.runMs, gcMs - o.gcMs, inputBytes - o.inputBytes, spillBytes - o.spillBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, shuffleReadBytes - o.shuffleReadBytes,
    shuffleRecords - o.shuffleRecords, stageRuns -- o.stageRuns.keys)

  /** Max / median task run time of the stage with the most run time. */
  def taskSkew: Double =
    if (stageRuns.isEmpty) 1.0
    else {
      val runs = stageRuns.values.maxBy(_.sum).sorted
      val med = runs(runs.size / 2)
      if (med <= 0) 1.0 else runs.last.toDouble / med
    }
}

final class TaskTotals(tracer: Tracer) extends SparkListener {
  private var stages, tasks, cpuNs, runMs, gcMs, inputBytes, spillBytes = 0L
  private var shWrite, shRead, shRecords = 0L
  private val stageRuns = scala.collection.mutable.Map[Int, Vector[Long]]()
  private val jobSpan = scala.collection.mutable.Map[Int, (Long, Long, Long)]()
  private val stageToJob = scala.collection.mutable.Map[Int, Int]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    tasks += 1
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      inputBytes += m.inputMetrics.bytesRead
      spillBytes += m.diskBytesSpilled
      shWrite += m.shuffleWriteMetrics.bytesWritten
      shRead += m.shuffleReadMetrics.totalBytesRead
      shRecords += m.shuffleWriteMetrics.recordsWritten
      stageRuns(e.stageId) = stageRuns.getOrElse(e.stageId, Vector.empty) :+ m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    synchronized { stages += 1 }
    if (tracer.enabled) {
      val i = e.stageInfo
      val parent = synchronized(stageToJob.get(i.stageId).flatMap(jobSpan.get).map(_._1))
      for (s <- i.submissionTime; c <- i.completionTime; p <- parent)
        tracer.record(Span(tracer.nextId(), p, "stage", s"stage ${i.stageId}: ${i.name}",
          s * 1000, c * 1000))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tracer.enabled) synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Property)))
      .map(_.toLong).getOrElse(0L)
    jobSpan(e.jobId) = (tracer.nextId(), parent, e.time)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (tracer.enabled) {
    val js = synchronized(jobSpan.get(e.jobId))
    js.foreach { case (id, parent, start) =>
      tracer.record(Span(id, parent, "job", s"job ${e.jobId}", start * 1000, e.time * 1000))
    }
  }

  /** Totals after every event queued so far has been delivered. */
  def snapshot(sc: SparkContext): Totals = {
    org.apache.spark.GraftSparkBridge.waitListenerQueueEmpty(sc)
    synchronized {
      Totals(stages, tasks, cpuNs, runMs, gcMs, inputBytes, spillBytes, shWrite, shRead,
        shRecords, stageRuns.toMap)
    }
  }
}
