package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed interval around a call into a layer. `op` is the operation
  * the span belongs to; times are epoch milliseconds so they line up with
  * the listener's job times.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startMs: Double, endMs: Double)

/** Records spans in memory while enabled. Each span also becomes the
  * Spark job group of its thread, so the listener can attribute every job
  * to the innermost span (and through it to one operation and phase).
  */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  // (span id, op id) of the open spans on this thread, innermost first
  private val open = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def span[A](name: String, op: Long = -1L)(body: => A): A =
    if (!enabled) body
    else {
      val outer = open.get
      val opId = if (op >= 0) op else outer.headOption.fold(0L)(_._2)
      val id = ids.incrementAndGet()
      open.set((id, opId) :: outer)
      sc.setJobGroup(id.toString, name)
      val t0 = nowMs
      try body
      finally {
        done.add(Span(id, outer.headOption.fold(0L)(_._1), opId, name, t0, nowMs))
        open.set(outer)
        outer.headOption match {
          case Some((pid, _)) => sc.setJobGroup(pid.toString, "")
          case None => sc.clearJobGroup()
        }
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

/** Per job-group totals of the Spark work the listener saw. */
final class GroupTotals {
  var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var runMs = 0L; var cpuNs = 0L; var waitMs = 0L; var gcMs = 0L
  var inputBytes = 0L; var shuffleWriteBytes = 0L; var shuffleReadBytes = 0L
  var spillBytes = 0L

  def toMap: Map[String, Any] = Map(
    "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "task_run_ms" -> runMs, "task_cpu_ms" -> cpuNs / 1e6,
    "task_wait_ms" -> waitMs, "gc_ms" -> gcMs, "input_bytes" -> inputBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes)
}

final case class Job(id: Int, group: String, startMs: Long, var endMs: Long)

/** Attributes jobs, stages and tasks to the job group (span id) that
  * caused them. Events arrive on the single listener-bus thread; readers
  * drain the bus first and then read under the same lock.
  */
final class OpListener extends SparkListener {
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageSubmitMs = mutable.Map.empty[(Int, Int), Long]
  private val totals = mutable.Map.empty[String, GroupTotals]

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    jobs(e.jobId) = Job(e.jobId, g, e.time, e.time)
    e.stageInfos.foreach(s => stageGroup.getOrElseUpdate(s.stageId, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = e.stageInfo
    val g = stageGroup.getOrElseUpdate(s.stageId, group(e.properties))
    totals.getOrElseUpdate(g, new GroupTotals).stages += 1
    stageSubmitMs((s.stageId, s.attemptNumber())) =
      s.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new GroupTotals)
    t.tasks += 1
    if (e.reason != Success) t.failedTasks += 1
    stageSubmitMs.get((e.stageId, e.stageAttemptId))
      .foreach(s => t.waitMs += math.max(0L, e.taskInfo.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.inputBytes += m.inputMetrics.bytesRead
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def jobList: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.sortBy(_.id).map(j =>
      Map("id" -> j.id, "group" -> j.group, "start_ms" -> j.startMs, "end_ms" -> j.endMs))
  }

  def groupTotals: Map[String, Map[String, Any]] = synchronized {
    totals.map { case (g, t) => g -> t.toMap }.toMap
  }
}
