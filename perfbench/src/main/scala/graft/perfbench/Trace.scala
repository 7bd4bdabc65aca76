package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One traced interval. Times are wall-clock milliseconds as doubles, so
  * spans and the listener's job times share one clock. `parent` is 0 for
  * an op span. */
final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Everything the listener learned about one job. */
final class JobRec(val id: Int, val group: Long, val start: Double) {
  var end: Double = start
  var stages: Int = 0
  var tasks: Long = 0
  var runMs: Double = 0
  var cpuNs: Double = 0
  var gcMs: Double = 0
  var queueMs: Double = 0
  var inputB: Double = 0
  var shufWB: Double = 0
  var shufRB: Double = 0
  var spillB: Double = 0
  var outB: Double = 0
}

/** The benchmark's own listener: counts Spark work per job group. A job
  * belongs to the span whose id is the job group the client thread set
  * before calling into the engine; jobs without a benchmark group are
  * ignored. Events arrive on the listener bus thread, so every access is
  * synchronized; the bus is drained once, at the end of the run. */
final class WorkListener(prefix: String) extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, JobRec]()
  private val stageSubmit = mutable.HashMap[(Int, Int), Long]()
  /** (planning start ms, analysis + optimization + planning ms) */
  val plans = mutable.ArrayBuffer[(Double, Double)]()

  private def groupOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix).toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      val j = new JobRec(e.jobId, g, e.time.toDouble)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = j)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageJob.get(si.stageId).foreach { j =>
      j.stages += 1
      stageSubmit((si.stageId, si.attemptNumber())) = si.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val sub = stageSubmit.getOrElse((e.stageId, e.stageAttemptId), e.taskInfo.launchTime)
      j.queueMs += math.max(0L, e.taskInfo.launchTime - sub).toDouble
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime.toDouble
        j.cpuNs += m.executorCpuTime.toDouble
        j.gcMs += m.jvmGCTime.toDouble
        j.inputB += m.inputMetrics.bytesRead.toDouble
        j.shufWB += m.shuffleWriteMetrics.bytesWritten.toDouble
        j.shufRB += m.shuffleReadMetrics.totalBytesRead.toDouble
        j.spillB += m.diskBytesSpilled.toDouble
        j.outB += m.outputMetrics.bytesWritten.toDouble
      }
    }
  }
  private def planned(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    val used = Seq("analysis", "optimization", "planning").flatMap(ph.get)
    if (used.nonEmpty)
      plans += ((used.map(_.startTimeMs).min.toDouble, used.map(_.durationMs).sum.toDouble))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)
}

/** Span recorder. With tracing off every call is a plain call: no span,
  * no job group, no listener. With tracing on, the innermost open span's
  * id is the client thread's job group, so each job lands on the layer
  * call that caused it. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val prefix = "pb-"
  val listener: Option[WorkListener] =
    if (!on) None
    else {
      val l = new WorkListener(prefix)
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
      Some(l)
    }
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0L
  private var stack: List[Long] = Nil
  private var suppressed = 0
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  def nowMs: Double = ms0 + (System.nanoTime() - ns0) / 1e6

  /** A span around `body`, a child of the open span if there is one.
    * `traced = false` runs `body` untraced even when tracing is on; it is
    * how a traced run pairs untraced samples with traced ones, and
    * everything inside an untraced span is untraced too. */
  def span[T](name: String, traced: Boolean = true)(body: => T): T =
    if (!on) body
    else if (!traced || suppressed > 0) {
      suppressed += 1
      try body finally suppressed -= 1
    } else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0L)
      val sc = spark.sparkContext
      sc.setJobGroup(prefix + id, name, interruptOnCancel = false)
      stack = id :: stack
      val t0 = nowMs
      try body
      finally {
        spans += Span(id, parent, name, t0, nowMs)
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(prefix + p, name, interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (on) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
