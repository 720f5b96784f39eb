package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans recorded by the benchmark around its calls into the program's
  * layers, plus a `SparkListener` that folds Spark task metrics per job
  * and stage so every span can be split into its jobs, stages, executor
  * CPU, I/O and driver-only time.
  *
  * With tracing off, [[span]] only runs its body and no listener is
  * registered, so untraced runs measure the program alone.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val baseNano = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble

  /** Wall-clock milliseconds on the listener's time base, sub-ms precise. */
  def nowMs(): Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]
  /** Op the spans opened now belong to; `measured` marks the timed ops. */
  var op: Int = -1
  var measured: Boolean = false

  val fold: TaskFold = new TaskFold
  if (enabled) sc.addSparkListener(fold)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), op,
        measured, nowMs(), Double.NaN, derived = false)
      spans += s
      open = s :: open
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endMs = nowMs()
        open = open.tail
        sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)
}

object Tracer {
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, op: Int, measured: Boolean,
      var startMs: Double, var endMs: Double, derived: Boolean) {
    def durMs: Double = endMs - startMs
  }

  final class StageAgg {
    var cpuNs = 0L
    var maxGcMs = 0L
    var inBytes = 0L
    var outBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    val taskMs = mutable.ArrayBuffer[Long]()
    var submittedMs = Double.NaN
    var completedMs = Double.NaN
  }

  final case class JobRec(id: Int, startMs: Double, var endMs: Double, spanProp: Option[Int],
      stageIds: Seq[Int], callSite: String, execId: Option[Long])

  /** Folds task metrics per stage and records every job with the span
    * that submitted it (the `perfbench.span` local property), its call
    * site and its SQL execution's physical plan, so jobs a program thread
    * submits on its own (the streaming micro-batch) can still be attributed
    * to a layer.
    */
  final class TaskFold extends SparkListener {
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stages = mutable.HashMap[Int, StageAgg]()
    /** Physical plan of every SQL execution, by execution id. */
    val plans = mutable.HashMap[Long, String]()

    def planOf(j: JobRec): String = synchronized(j.execId.flatMap(plans.get).getOrElse(""))

    private def stage(id: Int): StageAgg = stages.getOrElseUpdate(id, new StageAgg)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt)
      val site = e.stageInfos.map(_.details).mkString("\n")
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, Double.NaN, prop,
        e.stageInfos.map(_.stageId), site, exec)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        synchronized(plans(x.executionId) = x.physicalPlanDescription)
      case _ => ()
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      e.stageInfo.submissionTime.foreach(t => stage(e.stageInfo.stageId).submittedMs = t.toDouble)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = stage(e.stageInfo.stageId)
      e.stageInfo.submissionTime.foreach(t => s.submittedMs = t.toDouble)
      e.stageInfo.completionTime.foreach(t => s.completedMs = t.toDouble)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val s = stage(e.stageId)
        s.cpuNs += m.executorCpuTime
        s.maxGcMs = math.max(s.maxGcMs, m.jvmGCTime)
        s.inBytes += m.inputMetrics.bytesRead
        s.outBytes += m.outputMetrics.bytesWritten
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
        s.taskMs += e.taskInfo.duration
      }
    }
  }
}
