package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval on the calling thread. */
final case class Span(name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the calling thread. Disabled, `span` is a
  * plain call: an untraced window pays nothing but a branch. */
final class Tracer(var enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** Wall-clock ms of a span timestamp, to line spans up with listener
    * events, which carry `System.currentTimeMillis`. */
  def epochMs(ns: Long): Long = (ns + offsetNs) / 1000000L

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val start = System.nanoTime()
      try body
      finally spans += Span(name, start, System.nanoTime())
    }

  def total(name: String): Double =
    spans.iterator.filter(_.name == name).map(_.seconds).sum
}

/** Work Spark did for one job: wall interval (listener clock, ms), the
  * call site that started it, and its tasks' summed metrics. */
final class JobStats(val id: Int, val site: String, val execution: String,
    val startMs: Long) {
  /** Innermost program frame the job's work was requested from, e.g.
    * `graft.etl.Runner$.run(Runner.scala:90)`; set when the job is read
    * back. */
  @volatile var callSite: String = site
  @volatile var endMs: Long = -1L
  var runMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
}

/** Benchmark-owned listener: per-job call site, interval and task totals.
  * Jobs are attributed to layers by the program frame that asked for them
  * (`graft.etl.Runner$.run(Runner.scala:90)` belongs to etl.Runner). A job of a SQL
  * execution takes the execution's call site: adaptive execution runs
  * shuffle stages as jobs on its own threads, whose stacks hold no program
  * frame. */
final class ExecListener extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobStats]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val executionSite = new ConcurrentHashMap[String, String]()

  /** The first (innermost) program frame of a long-form call site. */
  private def programFrame(stack: String): Option[String] =
    stack.linesIterator.map(_.trim).find(_.startsWith("graft."))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      programFrame(x.details).foreach(executionSite.put(x.executionId.toString, _))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // a job's call site is the long form of its final stage's
    val site = e.stageInfos.maxByOption(_.stageId)
      .map(s => programFrame(s.details).getOrElse(s.name)).getOrElse("?")
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
    jobs.put(e.jobId, new JobStats(e.jobId, site, exec, e.time))
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val jobId = stageToJob.get(e.stageId)
    val j = if (m == null) null else jobs.get(jobId)
    if (j != null) j.synchronized {
      j.runMs += m.executorRunTime
      j.inputBytes += m.inputMetrics.bytesRead
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Jobs that started inside [fromMs, toMs] (epoch ms), in start order. */
  def jobsBetween(fromMs: Long, toMs: Long): Seq[JobStats] = {
    jobs.values.asScala.toSeq
      .filter(j => j.startMs >= fromMs && j.startMs <= toMs).sortBy(_.id).map { j =>
        j.callSite = Option(executionSite.get(j.execution)).getOrElse(j.site)
        j
      }
  }
}

object ExecListener {
  /** Wall time during which at least one of `jobs` was running. */
  def busySeconds(jobs: Seq[JobStats]): Double = {
    var end = Long.MinValue
    var total = 0L
    jobs.filter(_.endMs >= 0).sortBy(_.startMs).foreach { j =>
      val from = math.max(j.startMs, end)
      if (j.endMs > from) total += j.endMs - from
      end = math.max(end, j.endMs)
    }
    total / 1e3
  }
}
