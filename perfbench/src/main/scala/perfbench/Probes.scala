package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

object Jvm {
  private def gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  def gcMillis(): Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum
  def gcCount(): Long = gcBeans.map(_.getCollectionCount).filter(_ >= 0).sum
  def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  def heapUsedBytes(): Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  def vmOption(name: String): String =
    ManagementFactory.getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean])
      .getVMOption(name).getValue
}

/** Job, stage and task accounting for the traced phase. Every job is tied
  * to the benchmark call that submitted it through the local property
  * [[CallKey]], which the client thread sets before each call. */
final class SparkProbe extends SparkListener {
  import SparkProbe._
  private val jobCall = scala.collection.mutable.Map[Int, String]()
  private val stageCall = scala.collection.mutable.Map[Int, String]()
  private val stages = ArrayBuffer[StageRec]()
  private val tasks = scala.collection.mutable.Map[(Int, Int), ArrayBuffer[Long]]()
  private var t = TaskTotals()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val key = Option(e.properties).flatMap(p => Option(p.getProperty(CallKey))).getOrElse("")
    jobCall(e.jobId) = key
    e.stageIds.foreach(s => stageCall(s) = key)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    stages += StageRec(i.stageId, i.attemptNumber(), stageCall.getOrElse(i.stageId, ""),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
      m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val ok = e.reason == Success
    if (m != null) {
      tasks.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer()) += m.executorRunTime
      t = t.copy(
        tasks = t.tasks + 1,
        runMs = t.runMs + m.executorRunTime,
        overheadMs = t.overheadMs + m.executorDeserializeTime + m.resultSerializationTime,
        shuffleRead = t.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = t.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spill = t.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        failed = t.failed + (if (ok) 0 else 1))
    } else if (!ok) t = t.copy(failed = t.failed + 1)
  }

  def jobs: Int = synchronized(jobCall.size)
  def totals: TaskTotals = synchronized(t)
  def stageRecs: Seq[StageRec] = synchronized(stages.toSeq)
  def taskTimes: Map[(Int, Int), Seq[Long]] = synchronized(tasks.map { case (k, v) => k -> v.toSeq }.toMap)
}

object SparkProbe {
  val CallKey = "perfbench.call"
  final case class StageRec(stageId: Int, attempt: Int, call: String, submitMs: Long,
                            completeMs: Long, numTasks: Int, shuffleRead: Long, shuffleWrite: Long)
  final case class TaskTotals(tasks: Long = 0, runMs: Long = 0, overheadMs: Long = 0,
                              shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
                              failed: Long = 0)
}

/** Planner phase times and effective `graft.plans` rule firings, read
  * from each finished action's `QueryExecution.tracker`. */
final class PlanProbe extends QueryExecutionListener {
  private var analysisMs, optimizationMs, planningMs = 0L
  private var rewrites = 0L
  private var actions = 0L

  private def add(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    analysisMs += ms("analysis")
    optimizationMs += ms("optimization")
    planningMs += ms("planning")
    rewrites += qe.tracker.rules.collect {
      case (name, s) if name.contains("graft.plans") => s.numEffectiveInvocations
    }.sum
    actions += 1
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)

  def snapshot: (Long, Long, Long, Long, Long) =
    synchronized((analysisMs, optimizationMs, planningMs, rewrites, actions))
}

/** Micro-batch count and trigger time of every streaming query. */
final class StreamProbe extends StreamingQueryListener {
  private var batches = 0L
  private var batchMs = 0L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    batches += 1
    batchMs += Option(e.progress.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
  }
  def snapshot: (Long, Long) = synchronized((batches, batchMs))
}

/** Host state, recorded in every run and never acted on. */
object Host {
  def record(spark: SparkSession, effectiveCores: Double): org.json4s.JObject = {
    val sc = spark.sparkContext
    Json.obj(
      "nproc" -> Json.num(Runtime.getRuntime.availableProcessors().toLong),
      "master" -> Json.str(sc.master),
      "default_parallelism" -> Json.num(sc.defaultParallelism.toLong),
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "g1_region_bytes" -> Json.str(Jvm.vmOption("G1HeapRegionSize")),
      "spark_local_dir" -> Json.str(sc.getConf.get("spark.local.dir", "")),
      "load_avg_1m" -> Json.num(ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage),
      "effective_cores" -> Json.num(effectiveCores))
  }

  def effectiveCores(threads: Int): Double =
    graft.core.HostProbe.effectiveCores(threads, 10000000L)._1
}
