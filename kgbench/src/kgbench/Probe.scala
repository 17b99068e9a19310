package kgbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's one listener, registered once per session. It keeps
  * raw events in memory, each stamped with the wall-clock millisecond it
  * happened at, and sums them over any [t0, t1] window afterwards. The
  * benchmark runs one operation at a time, so a window is an operation
  * or a span, whichever thread (pipeline worker pools, the stream
  * execution thread) submitted the work. */
final class Probe extends SparkListener with QueryExecutionListener {
  import Probe._

  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[java.lang.Long]()
  private val plans = new ConcurrentLinkedQueue[(Long, Double)]()
  private val batches = new ConcurrentLinkedQueue[Batch]()
  private val gcs = new ConcurrentLinkedQueue[(Long, Double)]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.taskInfo.launchTime, e.taskInfo.duration,
      m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    e.stageInfo.submissionTime.foreach(t => stages.add(t))

  // QueryExecutionListener: analysis + optimization + planning phases
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) plans.add((ph.values.map(_.startTimeMs).min,
      ph.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val trigger = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      // AvailableNow ends with an empty progress: no batch ran
      if (p.numInputRows > 0) batches.add(Batch(p.batchId, start, trigger, p.numInputRows))
    }
  }

  private def installGcWatch(): Unit =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val after = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
            gcs.add((System.currentTimeMillis(), after / 1048576.0))
          }
        }, null, null)
      case _ =>
    }

  /** Listener sums over [t0, t1] (wall-clock ms). */
  def window(spark: SparkSession, t0: Long, t1: Long): Sums = {
    org.apache.spark.KgBenchBus.drain(spark.sparkContext)
    def in(t: Long) = t >= t0 && t <= t1
    val ts = tasks.asScala.filter(t => in(t.launch)).toVector
    val durs = ts.map(_.durMs.toDouble).sorted
    val p50 = if (durs.isEmpty) 0.0 else durs(durs.size / 2)
    Sums(
      jobs = jobs.asScala.count(t => in(t)),
      stages = stages.asScala.count(t => in(t)),
      tasks = ts.size,
      cpuS = ts.map(_.cpuNs).sum / 1e9,
      gcS = ts.map(_.gcMs).sum / 1e3,
      shuffleReadMb = ts.map(_.shuffleRead).sum / 1048576.0,
      shuffleWriteMb = ts.map(_.shuffleWrite).sum / 1048576.0,
      spillMb = ts.map(_.diskSpill).sum / 1048576.0,
      planningMs = plans.asScala.filter(p => in(p._1)).map(_._2).sum,
      taskSkew = if (p50 > 0) durs.last / p50 else 1.0,
      heapAfterGcMb = gcs.asScala.filter(g => in(g._1)).map(_._2).maxOption.getOrElse(0.0),
      batches = batches.asScala.filter(b => in(b.startMs)).toVector.sortBy(_.id))
  }
}

object Probe {
  final case class TaskRec(launch: Long, durMs: Long, cpuNs: Long, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long, diskSpill: Long)
  final case class Batch(id: Long, startMs: Long, triggerMs: Long, rows: Long)
  final case class Sums(jobs: Int, stages: Int, tasks: Int, cpuS: Double, gcS: Double,
      shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double,
      planningMs: Double, taskSkew: Double, heapAfterGcMb: Double, batches: Vector[Batch]) {
    def json: String = Json.obj(Seq(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "cpu_s" -> cpuS, "gc_s" -> gcS,
      "shuffle_read_mb" -> shuffleReadMb, "shuffle_write_mb" -> shuffleWriteMb,
      "spill_mb" -> spillMb, "planning_ms" -> planningMs, "task_skew" -> taskSkew,
      "heap_after_gc_mb" -> heapAfterGcMb, "stream_batches" -> batches.size))
  }

  @volatile private var installed: Probe = _

  /** Registers the probe once per session; later calls return it. */
  def install(spark: SparkSession): Probe = synchronized {
    if (installed == null) {
      val p = new Probe
      spark.sparkContext.addSparkListener(p)
      spark.listenerManager.register(p)
      spark.streams.addListener(p.streams)
      p.installGcWatch()
      installed = p
    }
    installed
  }
}
