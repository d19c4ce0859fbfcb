package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One call into a layer's public function, timed from outside. */
final case class Span(id: String, name: String, op: Int, startMs: Long, endMs: Long, wallNs: Long)

/** Counters of one Spark job, credited to the job group it ran under. */
final class JobStat(val group: String, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var scanBytes = 0L
  var failedTasks = 0
}

/** Records every job the traced operations run. Each span sets its own
  * job group, so a job's group names the span that was open when it ran
  * (Spark carries the group into broadcast and subquery threads too).
  * Events arrive on the listener-bus thread; readers drain the bus first.
  */
final class SpanListener extends SparkListener {
  val jobs = mutable.ArrayBuffer[JobStat]()
  private val byJob = mutable.HashMap[Int, JobStat]()
  private val byStage = mutable.HashMap[Int, JobStat]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val js = new JobStat(group, e.time)
    jobs += js
    byJob(e.jobId) = js
    e.stageIds.foreach(byStage(_) = js)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    byJob.get(e.jobId).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    byStage.get(e.stageInfo.stageId).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    byStage.get(e.stageId).foreach { js =>
      if (e.reason != org.apache.spark.Success) js.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        js.taskMs += m.executorRunTime
        js.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        js.spillBytes += m.diskBytesSpilled
        js.scanBytes += m.inputMetrics.bytesRead
      }
    }
}

/** Span recorder. Inactive, a span is a plain call: no job group, no
  * clock reads, no listener — the untraced pass runs the program as a
  * user would.
  */
final class Tracer(sc: SparkContext) {
  var active = false
  var op = -1
  val spans = mutable.ArrayBuffer[Span]()
  private var seq = 0

  def apply[T](name: String)(body: => T): T =
    if (!active) body
    else {
      seq += 1
      val id = s"$name#$seq"
      sc.setJobGroup(id, name, interruptOnCancel = false)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, op, startMs, System.currentTimeMillis(), System.nanoTime() - t0)
        sc.clearJobGroup()
      }
    }
}

object Tracer {
  /** A tracer that never records: for warm-up and untraced runs. */
  def off(spark: org.apache.spark.sql.SparkSession): Tracer = new Tracer(spark.sparkContext)
}
