package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into each layer, kept in memory and
  * written out when the run ends. While tracing is on, every span sets a
  * Spark job group, so [[JobLedger]] can charge each job, task, CPU second,
  * shuffle byte and spilled byte to the span (and layer) that caused it.
  * With tracing off, [[Tracer.span]] only runs its body.
  */
final class Tracer(sc: SparkContext, val on: Boolean, runId: String) {
  import Tracer.Span

  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val s = Span(nextId, layer, name, stack.headOption.map(_.id).getOrElse(0), runId,
        System.nanoTime(), 0L)
      stack = s :: stack
      sc.setJobGroup(Tracer.group(s.id), s"$layer:$name", interruptOnCancel = false)
      try body
      finally {
        s.end = System.nanoTime()
        done += s
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.group(p.id), s"${p.layer}:${p.name}",
            interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Renames the span that closed last (for spans named by their result). */
  def relabelLast(name: String): Unit = if (on) done(done.size - 1) = done.last.copy(name = name)
}

object Tracer {
  final case class Span(
      id: Int, layer: String, name: String, parent: Int, run: String,
      start: Long, var end: Long) {
    def seconds: Double = (end - start) / 1e9
    def json: String =
      s"""{"id":$id,"layer":"$layer","name":"${name.replace("\"", "'")}",""" +
        s""""parent":$parent,"run":"$run","start_ns":$start,"end_ns":$end}"""
  }

  val GroupPrefix = "perfbench-span-"
  def group(id: Int): String = GroupPrefix + id

  /** Self time per layer: each span's duration minus the part its children
    * cover. Children run inside their parent on the driver thread, so the
    * self times of a span tree sum to its root's duration.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val childTime = spans.groupMapReduce(_.parent)(s => s.end - s.start)(_ + _)
    spans.groupMapReduce(_.layer)(s =>
      (s.end - s.start - childTime.getOrElse(s.id, 0L)) / 1e9)(_ + _)
  }
}

/** The benchmark's Spark listener: per job group, the tasks,
  * executor CPU, shuffle write and spill; per job, its interval and the
  * source files on its call stack (innermost first), taken from the SQL
  * execution that ran it or, outside SQL, from its stage's call site.
  */
final class JobLedger extends SparkListener {
  import JobLedger.Job
  final class Usage {
    var tasks = 0L; var cpuNs = 0L; var shuffleWrite = 0L; var spill = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execFrames = new ConcurrentHashMap[Long, Seq[String]]()
  private val usage = new ConcurrentHashMap[String, Usage]()
  private val CallFile = """ at ([A-Za-z0-9_$]+\.scala):\d+""".r.unanchored
  private val Frame = """\(([A-Za-z0-9_$]+\.scala):\d+\)""".r

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execFrames.put(x.executionId, Frame.findAllMatchIn(x.details).map(_.group(1)).toSeq)
    case _ =>
  }

  private def of(group: String): Usage = usage.computeIfAbsent(group, _ => new Usage)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val frames = exec.flatMap(id => Option(execFrames.get(id.toLong))).getOrElse(
      site match { case CallFile(f) => Seq(f); case _ => Nil })
    val last = e.stageInfos.sortBy(_.stageId).lastOption
    val detail = s"stages=${e.stageInfos.size} tasks=${last.map(_.numTasks).getOrElse(0)} " +
      s"stage=${last.map(_.name.takeWhile(_ != ' ')).getOrElse("-")}"
    jobs.put(e.jobId, Job(e.jobId, group, frames, exec.fold(s"job-${e.jobId}")("sql-" + _),
      detail, e.time, -1L))
    e.stageIds.foreach(s => stageGroup.put(s, group))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.end = e.time
      j.succeeded = e.jobResult == JobSucceeded
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val u = of(Option(stageGroup.get(e.stageId)).getOrElse(""))
    val m = e.taskMetrics
    u.synchronized {
      u.tasks += 1
      if (m != null) {
        u.cpuNs += m.executorCpuTime
        u.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        u.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def allJobs: Seq[Job] = jobs.values().asScala.toSeq.sortBy(_.id)

  def usageByGroup: Map[String, Layers.Usage] = usage.asScala.map { case (g, u) =>
    g -> u.synchronized(Layers.Usage(u.tasks, u.cpuNs, u.shuffleWrite, u.spill))
  }.toMap

  def reset(): Unit = { jobs.clear(); stageGroup.clear(); usage.clear(); execFrames.clear() }
}

object JobLedger {
  /** One Spark job. `query` is its SQL execution (`sql-<id>`; adaptive
    * query stages share it) or, outside SQL, the job itself (`job-<id>`).
    */
  final case class Job(id: Int, group: String, frames: Seq[String], query: String,
      detail: String, start: Long, var end: Long, var succeeded: Boolean = false)
}
