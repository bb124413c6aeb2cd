package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.JsonDSL._

/** Records Spark's side of each op while tracing is on: one record per job
  * (its op and phase, read from the local properties the harness sets, and
  * its call site), one per completed stage (wall time and summed task
  * metrics) and one per planned query (Catalyst's phase times). The records
  * stay in memory; the harness writes them out when the run ends.
  */
final class Tracer(spark: SparkSession, emit: JValue => Unit) {
  import Tracer._

  @volatile private var on = false
  private val stageJob = mutable.Map[Int, Int]()
  private val stageDelayMs = mutable.Map[Int, Long]().withDefaultValue(0L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val p = e.properties
      def prop(k: String): JValue = Option(p).flatMap(q => Option(q.getProperty(k)))
        .map(JString(_)).getOrElse(JNull)
      val last = e.stageInfos.maxBy(_.stageId)
      val desc = Option(p).flatMap(q => Option(q.getProperty("spark.job.description"))).getOrElse("")
      // AQE materialises each shuffle as a map-stage job of its own, and a
      // broadcast exchange collects its relation from a separate thread
      val async =
        if (isMapStage(last)) "aqe_map"
        else if (desc.startsWith("broadcast exchange")) "broadcast"
        else ""
      stageJob.synchronized(e.stageIds.foreach(stageJob(_) = e.jobId))
      emit(("kind" -> "job") ~ ("job" -> e.jobId) ~ ("op" -> prop(OpKey)) ~
        ("phase" -> prop(PhaseKey)) ~ ("async" -> async) ~
        ("callsite" -> last.name) ~ ("user_frame" -> userFrame(last.details)) ~
        ("start_ms" -> e.time) ~ ("stages" -> e.stageIds.toList))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on)
      emit(("kind" -> "job_end") ~ ("job" -> e.jobId) ~ ("end_ms" -> e.time) ~
        ("ok" -> (e.jobResult == JobSucceeded)))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) {
      val m = e.taskMetrics
      val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
      val delay = math.max(0L, e.taskInfo.duration - busy - e.taskInfo.gettingResultTime)
      stageDelayMs.synchronized(stageDelayMs(e.stageId) += delay)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      val i = e.stageInfo
      val m = i.taskMetrics
      val delay = stageDelayMs.synchronized(stageDelayMs.remove(i.stageId).getOrElse(0L))
      emit(("kind" -> "stage") ~ ("stage" -> i.stageId) ~ ("attempt" -> i.attemptNumber()) ~
        ("job" -> stageJob.synchronized(stageJob.get(i.stageId))) ~
        ("tasks" -> i.numTasks) ~ ("failed" -> i.failureReason.isDefined) ~
        ("start_ms" -> i.submissionTime.getOrElse(0L)) ~
        ("end_ms" -> i.completionTime.getOrElse(0L)) ~
        ("task_run_ms" -> (if (m == null) 0L else m.executorRunTime)) ~
        ("task_cpu_ns" -> (if (m == null) 0L else m.executorCpuTime)) ~
        ("task_gc_ms" -> (if (m == null) 0L else m.jvmGCTime)) ~
        ("task_delay_ms" -> delay) ~
        ("shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead)) ~
        ("shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten)) ~
        ("spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)) ~
        ("records_read" -> (if (m == null) 0L else m.inputMetrics.recordsRead)))
    }
  }

  private val planning = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) emit(("kind" -> "plan") ~ ("func" -> funcName) ~ ("phases" ->
        JObject(qe.tracker.phases.toList.map { case (k, s) =>
          k -> (("start_ms" -> s.startTimeMs) ~ ("end_ms" -> s.endTimeMs)) })))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(planning)

  /** Starts recording; events still queued from before are not recorded. */
  def start(): Unit = { drain(spark.sparkContext); on = true }

  /** Stops recording once every queued event has been delivered. */
  def stop(): Unit = { drain(spark.sparkContext); on = false }
}

object Tracer {
  /** Local properties the harness sets around each op; Spark copies them
    * into every job the op submits, from any thread it starts. */
  val OpKey = "graftbench.op"
  val PhaseKey = "graftbench.phase"

  /** The first frame of the job's call stack that is graft code, e.g.
    * "graft.Tables$.load(Tables.scala:27)". */
  private[graftbench] def userFrame(details: String): String =
    Option(details).toSeq.flatMap(_.split("\n")).map(_.trim)
      .find(l => l.startsWith("graft.")).getOrElse("")

  /** Whether the stage writes shuffle output: true for the last stage of a
    * map-stage job only. Spark keeps the field internal, hence reflection. */
  private def isMapStage(s: StageInfo): Boolean =
    s.getClass.getMethod("shuffleDepId").invoke(s).asInstanceOf[Option[_]].isDefined

  /** Waits until the listener bus has delivered every posted event. The
    * bus is internal to Spark, so it is reached by reflection. */
  private def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
