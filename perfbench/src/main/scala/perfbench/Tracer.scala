package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark: workload run (level 1) → cycle /
  * epoch / query (level 2) → module call (level 3). Spark jobs are level 4
  * and live in [[Tracer.Job]]. Times are epoch milliseconds, the clock the
  * listener bus stamps its events with. */
final case class Span(id: Int, parent: Int, level: Int, name: String,
                      startMs: Long, var endMs: Long = -1L, var ok: Boolean = true)

/** Span recorder plus the benchmark's own Spark listeners. Everything is
  * kept in memory and written once, when the run ends.
  *
  * When disabled (the untraced run) `span` only runs its body: no local
  * property, no listener, no bookkeeping. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]

  /** Run `body` inside a named span; the span id rides on every Spark job
    * the body starts through the `perfbench.span` local property. `owner`
    * names the graft file that built the plans the body executes, for jobs
    * whose call stack holds no graft frame (the benchmark's own terminal
    * writes and collects). */
  def span[T](level: Int, name: String, owner: String = null)(body: => T): T = {
    if (!enabled) return body
    val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), level,
      name, System.currentTimeMillis())
    spans += s
    open.push(s)
    val prevOwner = sc.getLocalProperty(OwnerProperty)
    sc.setLocalProperty(SpanProperty, s.id.toString)
    if (owner != null) sc.setLocalProperty(OwnerProperty, owner)
    try body
    catch { case e: Throwable => s.ok = false; throw e }
    finally {
      s.endMs = System.currentTimeMillis()
      open.pop()
      sc.setLocalProperty(SpanProperty,
        open.headOption.map(_.id.toString).orNull)
      sc.setLocalProperty(OwnerProperty, prevOwner)
    }
  }

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val execFile = new ConcurrentHashMap[Long, String]()
  @volatile private var lastEventMs = System.currentTimeMillis()
  private val phaseMs = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile var sqlExecs = 0L

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val result = e.stageInfos.maxBy(_.stageId)
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      // the job's own stack first; a job started by an async planning
      // thread takes its SQL execution's; the benchmark's own actions
      // take the owner their span declares
      val file = Some(attribute(result.details)).filter(_ != Unattributed)
        .orElse(prop("spark.sql.execution.id").flatMap(id => Option(execFile.get(id.toLong))))
        .orElse(prop(OwnerProperty))
        .getOrElse(Unattributed)
      val j = new Job(e.jobId, e.time, prop(SpanProperty).map(_.toInt), file,
        result.details.linesIterator.take(4).mkString(" | "))
      e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      j.stages = e.stageIds.size
      jobs.put(e.jobId, j)
      lastEventMs = System.currentTimeMillis()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        Some(attribute(x.details)).filter(_ != Unattributed)
          .orElse(x.rootExecutionId.flatMap(r => Option(execFile.get(r))))
          .foreach(execFile.put(x.executionId, _))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach { j =>
        j.endMs = e.time
        j.ok = e.jobResult == JobSucceeded
      }
      lastEventMs = System.currentTimeMillis()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEventMs = System.currentTimeMillis()
      val j = Option(stageToJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
      val m = e.taskMetrics
      j.foreach { job => job.synchronized {
        job.tasks += 1
        if (m != null) {
          job.runMs += m.executorRunTime
          job.cpuNs += m.executorCpuTime
          job.gcMs += m.jvmGCTime
          job.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          job.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          job.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          job.inputBytes += m.inputMetrics.bytesRead
          job.outputBytes += m.outputMetrics.bytesWritten
        }
      }}
    }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      sqlExecs += 1
      qe.tracker.phases.foreach { case (phase, summary) =>
        phaseMs.merge(phase, summary.durationMs, (a, b) => a + b)
      }
      lastEventMs = System.currentTimeMillis()
    }
  }

  if (enabled) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(sqlListener)
  }

  /** Wait until the asynchronous listener bus has gone quiet: every
    * started job has ended and no event arrived for a short while. */
  def drain(): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + 10000
    def quiet = jobs.values.asScala.forall(_.endMs >= 0) &&
      System.currentTimeMillis() - lastEventMs > 300
    while (!quiet && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  def phaseSeconds(phase: String): Double =
    Option(phaseMs.get(phase)).map(_.longValue / 1000.0).getOrElse(0.0)

  def stop(): Unit = if (enabled) {
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(sqlListener)
  }

  /** The span a job belongs to: the one named by the job's local property
    * when it is still open at job start, else the innermost span open at
    * that moment (jobs started on pool threads whose inherited properties
    * are stale). */
  def parentOf(j: Job): Option[Span] = {
    def openAt(s: Span) = s.startMs <= j.startMs && (s.endMs < 0 || j.startMs <= s.endMs)
    j.spanProp.flatMap(id => spans.lift(id)).filter(openAt)
      .orElse(spans.filter(openAt).maxByOption(s => (s.level, s.startMs)))
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
  val OwnerProperty = "perfbench.owner"

  final class Job(val id: Int, val startMs: Long, val spanProp: Option[Int],
                  val file: String, val site: String) {
    @volatile var endMs: Long = -1L
    @volatile var ok: Boolean = true
    @volatile var stages: Int = 0
    var tasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill,
        inputBytes, outputBytes = 0L
    def seconds: Double = math.max(0L, endMs - startMs) / 1000.0
  }

  val Unattributed = "unattributed"

  private val frame = """^graft\.([a-z]+)\.[^(]*\(([A-Za-z0-9_]+)\.scala:\d+\)""".r

  /** `<pkg>.<File>` of the innermost `graft.*` frame of a job's long call
    * site (Spark puts the stack of the thread that started the job there,
    * innermost first); [[Unattributed]] when no graft frame is on it. */
  def attribute(longCallSite: String): String =
    longCallSite.linesIterator.map(_.trim).collectFirst {
      case frame(pkg, file) => s"$pkg.$file"
    }.getOrElse(Unattributed)

  /** Total length of the union of [start, end] intervals. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
