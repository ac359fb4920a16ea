package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around calls into the program's layers: name, start,
  * end and parent, kept in memory and written out when the run ends.
  */
final class Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String, Long)]
  private var nextId = 0

  def spans: Seq[Span] = done.toSeq

  def span[T](name: String)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    stack.push((id, name, System.nanoTime()))
    try body
    finally {
      val (_, _, start) = stack.pop()
      val parent = stack.headOption.map(_._1).getOrElse(0)
      done += Span(id, parent, name, start, System.nanoTime())
    }
  }

  /** Self time per span name: duration minus the time its children
    * cover (children of one parent never overlap: calls are sequential).
    */
  def selfSeconds(within: Span): Map[String, Double] = {
    val inside = done.filter(s => s.startNs >= within.startNs && s.endNs <= within.endNs)
    val childTime = inside.groupBy(_.parent).view.mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    inside.groupBy(_.name).view.mapValues(_.map(s =>
      (s.endNs - s.startNs - childTime.getOrElse(s.id, 0L)) / 1e9).sum).toMap
  }

  def total(name: String, within: Span): Double =
    done.filter(s => s.name == name && s.startNs >= within.startNs && s.endNs <= within.endNs)
      .map(_.seconds).sum

  def json: String = done.map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    .mkString("[", ",\n", "]")
}

/** Spark-side counters, summed over the traced iterations: jobs, stages, tasks, task
  * time, CPU and GC, shuffle, spill and output bytes (SparkListener),
  * Catalyst phases (QueryExecutionListener) and micro-batch durations
  * (StreamingQueryListener).
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, taskGcMs = 0L
  var shuffleWrite, shuffleRead, spill, bytesWritten = 0L
  val tasksPerStage = mutable.ArrayBuffer.empty[Double]
  var scanPartitions = 0L
  var scanRunMs, scanCpuNs = 0L
  private val seenSources = mutable.Set.empty[Int]
  val phasesMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val batchMs = mutable.ArrayBuffer.empty[Double]
  var planningMs, offsetMs, walMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stages += 1
    tasksPerStage += info.numTasks.toDouble
    // the GitHub scan: a stage computing a DSv2 source RDD, and not one
    // re-reading its persisted output
    val sources = info.rddInfos.filter(_.name.contains("DataSourceRDD"))
    val fresh = sources.map(r => seenSources.add(r.id)).exists(identity)
    if (sources.nonEmpty && (fresh || !info.rddInfos.exists(_.storageLevel.isValid))) {
      val m = info.taskMetrics
      scanPartitions += info.numTasks
      scanRunMs += m.executorRunTime
      scanCpuNs += m.executorCpuTime
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    tasks += 1
    if (m != null) {
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      taskGcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) => phasesMs(phase) += s.durationMs }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = SparkCounters.this.synchronized {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      if (e.progress.numInputRows > 0 || d.contains("addBatch")) {
        batchMs += d.getOrElse("triggerExecution", 0L).toDouble
        planningMs += d.getOrElse("queryPlanning", 0L)
        offsetMs += d.getOrElse("latestOffset", 0L) + d.getOrElse("getBatch", 0L)
        walMs += d.getOrElse("walCommit", 0L)
      }
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }

  def unregister(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streams)
  }
}

/** Process-level probes: wall, process CPU, JIT and GC time, and the
  * highest heap occupancy seen after a collection.
  */
object Jvm {
  final case class Snap(wallNs: Long, cpuNs: Long, jitMs: Long, gcMs: Long, codegenNs: Long, compiles: Long,
      stealTicks: Long)

  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  @volatile private var maxAfterGc = 0L

  locally {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.{Notification, NotificationEmitter}
    import javax.management.openmbean.CompositeData
    gcs.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener((n: Notification, _: AnyRef) => {
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            if (after > maxAfterGc) maxAfterGc = after
          }
        }, null, null)
      case _ =>
    }
  }

  def snap(): Snap = Snap(
    System.nanoTime(), os.getProcessCpuTime, jit.getTotalCompilationTime,
    gcs.map(_.getCollectionTime).sum,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    stealTicks())

  /** Host CPU time stolen by the hypervisor (all CPUs, in 1/100 s ticks)
    * from `/proc/stat`; 0 where that file is absent. A wall-time spike
    * without a matching CPU rise on a virtual machine shows up here.
    */
  private def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+")).filter(_.length > 8)
        .map(_(8).toLong).getOrElse(0L)
      finally src.close()
    } catch { case _: java.io.IOException => 0L }

  /** Highest after-GC heap occupancy (MB) since the last call; falls back
    * to the current heap use when no collection ran.
    */
  def takePeakHeapMb(): Double = {
    val peak = maxAfterGc
    maxAfterGc = 0L
    val bytes = if (peak > 0) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    bytes / (1024.0 * 1024.0)
  }

  def startMillis: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}
