package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One Spark job as the trace saw it. `phase` comes from the harness's
  * local properties; `module` is the repo module the job is attributed to
  * (see [[Trace.module]]). Times are epoch milliseconds. */
final case class JobRec(id: Int, start: Long, var end: Long,
    phase: String, module: String, var stages: Int = 0, var tasks: Int = 0,
    var taskMs: Long = 0L, var gcMs: Long = 0L, var shuffleRead: Long = 0L,
    var shuffleWrite: Long = 0L, var spill: Long = 0L)

/** Listener recording every job with its stage, task and shuffle
  * counters. Attached only while a traced operation runs, and drained
  * after it. */
final class Trace extends SparkListener {
  private val execDetails = mutable.Map[Long, (Option[Long], String)]()
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execDetails(s.executionId) =
        (s.rootExecutionId.map(_.asInstanceOf[Long]), s.details)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val execId = prop("spark.sql.execution.id").map(_.toLong)
    val details = execId.flatMap { id =>
      execDetails.get(id).flatMap { case (root, d) =>
        if (Trace.firstFrame(d).isDefined) Some(d)
        else root.flatMap(execDetails.get).map(_._2).orElse(Some(d))
      }
    }
    val callSite =
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobs(e.jobId) = JobRec(e.jobId, e.time, e.time,
      prop(Trace.PhaseKey).getOrElse(""),
      Trace.module(details, callSite))
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Removes and returns the jobs recorded so far. */
  def drain(): Seq[JobRec] = synchronized {
    val out = jobs.values.toSeq
    jobs.clear(); stageJob.clear(); execDetails.clear()
    out
  }
}

object Trace {
  val PhaseKey = "perfbench.phase"
  /** Modules a job may land in besides the repo's own. */
  val Harness = "harness"
  val Unattributed = "unattributed"

  private val GraftFrame = """(?:^|[\s/])(graft\.[\w$.]+)\(""".r
  private val HarnessFrame = """(?:^|[\s/])perfbench\.[\w$.]+\(""".r

  /** First `graft.*` frame (class and method) of a call-site stack.
    * Frames of graft's package object are skipped: it holds the shared
    * checkpoint helper, whose jobs belong to the module that called it. */
  def firstFrame(stack: String): Option[String] =
    GraftFrame.findAllMatchIn(stack).map(_.group(1))
      .find(!_.startsWith("graft.package$"))

  /** Repo module of a frame: the sub-package under `graft` when there is
    * one (`operators`, `sources`, `sinks`, ...), else the top-level
    * object (`Tables`, `SparkEntry`, `Pipeline`, `Etl`, ...). */
  def moduleOf(frame: String): String = {
    val parts = frame.split('.').dropRight(1) // drop the method
    if (parts.length >= 3) parts(1) else parts.last.takeWhile(_ != '$')
  }

  /** A job's module. A job run inside a SQL execution is attributed by
    * that execution's start details, because AQE stage jobs carry a
    * thread-pool call site of their own; any other job by the call site
    * of its final stage. Jobs the harness itself issues land in
    * [[Harness]]; the rest in [[Unattributed]]. */
  def module(execDetails: Option[String], callSite: String): String = {
    val stacks = execDetails.toSeq :+ callSite
    stacks.iterator.flatMap(firstFrame).nextOption().map(moduleOf)
      .orElse(stacks.find(s => HarnessFrame.findFirstIn(s).isDefined)
        .map(_ => Harness))
      .getOrElse(Unattributed)
  }
}
