package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide counters read at span boundaries. */
final case class Counters(codegen: Long, gcMs: Long, fsReadOps: Long,
                          fsWriteOps: Long, fsWriteBytes: Long) {
  def -(o: Counters): Counters = Counters(codegen - o.codegen, gcMs - o.gcMs,
    fsReadOps - o.fsReadOps, fsWriteOps - o.fsWriteOps, fsWriteBytes - o.fsWriteBytes)
  def +(o: Counters): Counters = Counters(codegen + o.codegen, gcMs + o.gcMs,
    fsReadOps + o.fsReadOps, fsWriteOps + o.fsWriteOps, fsWriteBytes + o.fsWriteBytes)
  def fields: Seq[(String, Any)] = Seq("codegen_compiles" -> codegen, "gc_ms" -> gcMs,
    "fs_read_ops" -> fsReadOps, "fs_write_ops" -> fsWriteOps, "fs_write_bytes" -> fsWriteBytes)
}

object Counters {
  val Zero: Counters = Counters(0, 0, 0, 0, 0)

  @annotation.nowarn("cat=deprecation")
  def now(): Counters = {
    // Codegen *counts* only: the compile-time histogram is a sampling
    // reservoir whose sums are not usable as totals.
    val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Counters(cg, gc, CountingLocalFileSystem.readOps.sum(), CountingLocalFileSystem.writeOps.sum(),
      fs.map(_.getBytesWritten).sum)
  }
}

/** One Spark job as the scheduler listener saw it, with its task metrics. */
final class JobRec(val id: Int, val site: String, val streaming: Boolean, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var taskMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inRows = 0L
  var inBytes = 0L
}

final case class Batch(query: String, id: Long, startMs: Long, durationMs: Long)

/** One traced phase of one face run: its wall interval, the counter deltas
  * at its boundaries, and the jobs, query executions (planning phase
  * durations in ms) and streaming batches that started inside it. */
final case class Phase(face: String, pass: Int, name: String, startMs: Long, endMs: Long,
                       wallS: Double, delta: Counters, jobs: Seq[JobRec],
                       plans: Seq[Map[String, Long]], batches: Seq[Batch]) {
  def planMs(phase: String): Long = plans.map(_.getOrElse(phase, 0L)).sum
  def planS: Double = (planMs("analysis") + planMs("optimization") + planMs("planning")) / 1e3
}

/** Listens to the scheduler, to query executions and to streaming progress,
  * and cuts what it hears into [[Phase]]s. Phases run one at a time and tag
  * their jobs with a job group; a job that carries another group (a
  * streaming micro-batch) belongs to the phase during which it started. */
final class Tracer(spark: SparkSession) {
  private val lock = new Object
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val plans = mutable.ArrayBuffer.empty[Map[String, Long]]
  private val batches = mutable.ArrayBuffer.empty[Batch]

  private val schedulerListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      // The result stage is created last and is named after the job's call
      // site: "<action> at <File>.scala:<line>".
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val j = new JobRec(e.jobId, site, prop("sql.streaming.queryId").isDefined, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        j.taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.diskBytesSpilled
          j.inRows += m.inputMetrics.recordsRead
          j.inBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      plans += qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = lock.synchronized {
      val p = e.progress
      batches += Batch(p.id.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli, p.batchDuration)
    }
  }

  /** Registers the listeners; untraced passes run without them. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(schedulerListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(schedulerListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  private var open: Option[(String, Int, String, Long, Counters, Long)] = None

  /** Opens a phase. Events of untraced work before it (output checks) are
    * delivered and dropped first; callers keep this outside timed sections. */
  def begin(face: String, pass: Int, name: String): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    lock.synchronized { jobs.clear(); stageJob.clear(); plans.clear(); batches.clear() }
    spark.sparkContext.setJobGroup(s"pb|$pass|$face|$name", face, interruptOnCancel = false)
    open = Some((face, pass, name, System.currentTimeMillis(), Counters.now(), System.nanoTime()))
  }

  /** Closes the open phase: every job, query execution and streaming batch
    * that started since [[begin]] belongs to it. Waits for the listener bus
    * to deliver every event; callers keep this outside timed sections. */
  def end(): Phase = {
    val endNs = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val c1 = Counters.now()
    spark.sparkContext.clearJobGroup()
    PerfbenchBus.drain(spark.sparkContext)
    val (face, pass, name, startMs, c0, startNs) = open.get
    open = None
    lock.synchronized {
      Phase(face, pass, name, startMs, endMs, (endNs - startNs) / 1e9, c1 - c0,
        jobs.values.toSeq.sortBy(_.id), plans.toList, batches.toList)
    }
  }
}
