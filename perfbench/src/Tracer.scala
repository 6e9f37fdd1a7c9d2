package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one traced op, filled from Spark's listener events. */
final class OpStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inRecords = 0L
  var inBytes = 0L
  var outRecords = 0L
  var outBytes = 0L
  /** Files the op's write commands committed. */
  var files = 0L
  var planNs = 0L
  var codegenNs = 0L
  /** (job id, job group, start ms, end ms) */
  val jobSpans = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
  /** (action name, end ms as delivered, duration ns, analysis+optimization+planning ns) */
  val queries = mutable.ArrayBuffer.empty[(String, Long, Long, Long)]

  def jobsInGroup(group: String): Int = jobSpans.count(_._2 == group)

  /** Wall time of `[t0, t1]` not covered by any job span, in seconds. */
  def driverGapS(t0Ms: Long, t1Ms: Long): Double = {
    val spans = jobSpans.map(j => (math.max(j._3, t0Ms), math.min(j._4, t1Ms)))
      .filter(s => s._2 > s._1).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    spans.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered += curE - curS
    (t1Ms - t0Ms - covered) / 1000.0
  }
}

/** Listener pair attached only around traced ops. Every op runs under a
  * job group that starts with [[Tracer.OpGroupPrefix]]; events of those
  * groups are added to the stats of the op in flight. After an op
  * returns, [[finish]] runs a marker job and waits for its end event:
  * the listener bus delivers in order, so by then every event of the op
  * has been delivered. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  @volatile private var current: OpStats = _
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  private val markerSeen = new java.util.concurrent.atomic.AtomicInteger(0)
  private var markers = 0
  private var codegen0 = 0L

  /** Attaches the listeners, lets events of earlier work pass, then
    * starts collecting for a new op. */
  def start(): OpStats = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    drain()
    val s = new OpStats
    current = s
    codegen0 = WholeStageCodegenExec.codeGenTime
    s
  }

  /** Stops collecting once every event of the op has been delivered, and
    * detaches the listeners, so that untraced ops run without them. */
  def finish(): OpStats = {
    val s = current
    s.codegenNs = WholeStageCodegenExec.codeGenTime - codegen0
    drain()
    current = null
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    s
  }

  private def drain(): Unit = {
    markers += 1
    val sc = spark.sparkContext
    sc.setJobGroup(MarkerGroup, "listener drain marker", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (markerSeen.get() < markers && System.nanoTime() < deadline) Thread.sleep(1)
    require(markerSeen.get() >= markers, "listener bus did not deliver the marker job")
  }

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    jobStart(e.jobId) = (g, e.time)
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      if (g == MarkerGroup) markerSeen.incrementAndGet()
      else if (current != null && g.startsWith(OpGroupPrefix)) {
        current.jobs += 1
        current.jobSpans += ((e.jobId, g, t0, e.time))
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val g = stageGroup.remove(e.stageInfo.stageId).getOrElse("")
    if (current != null && g.startsWith(OpGroupPrefix)) current.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    val s = current
    if (s != null && g.startsWith(OpGroupPrefix) && e.taskMetrics != null) {
      val m = e.taskMetrics
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inRecords += m.inputMetrics.recordsRead
      s.inBytes += m.inputMetrics.bytesRead
      s.outRecords += m.outputMetrics.recordsWritten
      s.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val s = current
      if (s != null) {
        val planNs = qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
        s.planNs += planNs
        s.files += filesWritten(qe.executedPlan)
        s.queries += ((funcName, System.currentTimeMillis(), durationNs, planNs))
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  val OpGroupPrefix = "perfbench-op"
  val MarkerGroup = "perfbench-marker"

  private object Plans extends AdaptiveSparkPlanHelper

  /** Files committed by the write commands of an executed plan, adaptive
    * plans included. */
  def filesWritten(plan: SparkPlan): Long = Plans.collect(plan) {
    case w: DataWritingCommandExec => w.metrics.get("numFiles").fold(0L)(_.value)
  }.sum
}
