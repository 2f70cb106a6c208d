package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One Spark job of a span and its call site: the description of the SQL
  * execution that ran it (the action's call site, also for the query-stage
  * jobs adaptive execution submits from its own threads), else the name of
  * its result stage. */
final case class JobRec(site: String, exec: String, startMs: Long, endMs: Long)

/** What the Spark jobs of one span did, from its task, stage and job
  * events. Times in epoch ms as Spark reports them, except `cpuNs`. */
final class SpanTally {
  var jobs = 0
  var tasks = 0
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var outputB = 0L
  val taskDurMs = mutable.ArrayBuffer.empty[Long]
  val stageMs = mutable.ArrayBuffer.empty[(Long, Long)]
  val jobRecs = mutable.ArrayBuffer.empty[JobRec]
  /** Task time per SQL execution (or per job, outside SQL). */
  val execTaskMs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
}

/** SparkListener that files every job under the span that started it.
  * Jobs carry their span through the job group (`perfbench-<span id>`);
  * stages and tasks follow their job. `close` drains the listener bus
  * until every job of the span has ended, so no event of one span can be
  * read as part of the next. */
final class Ledger(sc: SparkContext) extends SparkListener {
  private val GroupPrefix = "perfbench-"
  private val stageSpan = mutable.HashMap.empty[Int, (Int, String)]
  private val jobOpen = mutable.HashMap.empty[Int, (Int, String, String, Long)]
  private val openJobs = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
  private val tallies = mutable.HashMap.empty[Int, SpanTally]
  /** SQL execution id -> (root execution id, description). */
  private val execs = mutable.HashMap.empty[String, (String, String)]

  private def tally(span: Int): SpanTally = tallies.getOrElseUpdate(span, new SpanTally)

  // no job description: SQL executions then describe themselves by their
  // call site, which is what jobs are filed under
  def open(span: Int): Unit = sc.setJobGroup(GroupPrefix + span, null)

  /** Drains the bus until the span's jobs have all ended, then hands the
    * job group back to `parent` (or clears it at the root, -1). */
  def close(span: Int, parent: Int): Unit = {
    val deadline = System.nanoTime() + 30000000000L
    org.apache.spark.graftbench.BusDrain.drain(sc)
    while (synchronized(openJobs(span)) > 0 && System.nanoTime() < deadline) {
      Thread.sleep(1)
      org.apache.spark.graftbench.BusDrain.drain(sc)
    }
    if (parent >= 0) open(parent) else sc.clearJobGroup()
  }

  def tallyOf(span: Int): SpanTally = synchronized(tallies.getOrElse(span, new SpanTally))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    prop("spark.jobGroup.id").filter(_.startsWith(GroupPrefix)).foreach { g =>
      val span = g.stripPrefix(GroupPrefix).toInt
      val (exec, site) = prop("spark.sql.execution.id").flatMap(execs.get) match {
        case Some((root, desc)) => (root, execs.get(root).map(_._2).getOrElse(desc))
        case None => (s"job-${e.jobId}", e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse(""))
      }
      e.stageIds.foreach(stageSpan(_) = (span, exec))
      jobOpen(e.jobId) = (span, site, exec, e.time)
      openJobs(span) += 1
      tally(span).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOpen.remove(e.jobId).foreach { case (span, site, exec, t0) =>
      tally(span).jobRecs += JobRec(site, exec, t0, e.time)
      openJobs(span) -= 1
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      val id = x.executionId.toString
      execs(id) = (x.rootExecutionId.map(_.toString).getOrElse(id), x.description)
    }
    case _ => ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageSpan.get(si.stageId).foreach { case (span, _) =>
      for (a <- si.submissionTime; b <- si.completionTime) tally(span).stageMs += ((a, b))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { case (span, exec) =>
      val t = tally(span)
      t.tasks += 1
      t.taskMs += e.taskInfo.duration
      t.taskDurMs += e.taskInfo.duration
      t.execTaskMs(exec) += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        t.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        t.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        t.outputB += m.outputMetrics.bytesWritten
      }
    }
  }
}
