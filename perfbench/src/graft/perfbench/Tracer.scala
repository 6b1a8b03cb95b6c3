package graft.perfbench

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one traced operation, filled by the listeners below.
  * Listener callbacks arrive on the bus threads, so every access holds
  * the instance's lock.
  */
final class OpTrace(val op: Int, val name: String) {
  var startMs = 0L
  var endMs = 0L
  val jobs = mutable.LinkedHashMap.empty[Int, (Long, Long)] // id -> (start, end) ms
  var stages = 0
  var tasks = 0
  var scanTasks = 0
  var taskMs = 0L
  /** JVM-wide collection time during the op: driver and executors share
    * the JVM in local mode, so per-task GC time would miss the driver's. */
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputRecords = 0L
  var analysisMs = 0L
  var optimizerMs = 0L
  var physicalMs = 0L
  /** One entry per streaming micro-batch: its `durationMs` phases plus
    * input rows and the state operators' commit time, rows and memory.
    */
  val batches = mutable.ArrayBuffer.empty[Map[String, Double]]

  /** Milliseconds of the op window covered by at least one job span. */
  def coveredMs: Long = synchronized {
    val spans = jobs.values.map { case (s, e) =>
      (math.max(s, startMs), math.min(if (e == 0L) endMs else e, endMs))
    }.filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var reach = Long.MinValue
    spans.foreach { case (s, e) =>
      if (e > reach) {
        covered += e - math.max(s, reach)
        reach = e
      }
    }
    covered
  }

  def toMap: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.size, "stages" -> stages, "tasks" -> tasks,
      "scan_tasks" -> scanTasks, "task_s" -> taskMs / 1000.0, "gc_s" -> gcMs / 1000.0,
      "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
      "input_records" -> inputRecords,
      "analysis_ms" -> analysisMs,
      "optimizer_ms" -> optimizerMs, "physical_ms" -> physicalMs,
      "wall_ms" -> (endMs - startMs), "covered_ms" -> coveredMs,
      "batches" -> batches.toSeq)
  }

  /** The op's span with one child span per job, for the trace artifact. */
  def span: Map[String, Any] = synchronized {
    Map("op" -> op, "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs,
      "children" -> jobs.toSeq.map { case (id, (s, e)) =>
        Map("job" -> id, "start_ms" -> s, "end_ms" -> e)
      })
  }
}

/** Attaches Spark's public listeners around one operation at a time.
  * Jobs and stages are attributed through the [[Tracer.OpProperty]]
  * local property the client thread sets before each operation: stream
  * execution threads inherit it even though they replace the job group
  * with their run id. Streaming progress is attributed through the run
  * id seen at query start, which Spark posts synchronously while the
  * operation is running.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val traces = new ConcurrentHashMap[Int, OpTrace]()
  private val jobOp = new ConcurrentHashMap[Int, OpTrace]()
  private val stageOp = new ConcurrentHashMap[Int, OpTrace]()
  private val scanStages = ConcurrentHashMap.newKeySet[Int]()
  private val runOp = new ConcurrentHashMap[UUID, OpTrace]()
  @volatile private var current: OpTrace = _
  val spans = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def opOf(props: java.util.Properties): Option[OpTrace] =
    Option(props).flatMap(p => Option(p.getProperty(OpProperty)))
      .flatMap(id => Option(traces.get(id.toInt)))

  /** A stage whose RDD chain starts at a DSv2 scan: the graft catalog
    * plans one task per surviving segment there.
    */
  private def isScan(si: StageInfo): Boolean =
    si.rddInfos.exists(_.name == "DataSourceRDD")

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = opOf(e.properties).foreach { t =>
      jobOp.put(e.jobId, t)
      e.stageInfos.foreach { si =>
        stageOp.put(si.stageId, t)
        if (isScan(si)) scanStages.add(si.stageId)
      }
      t.synchronized { t.jobs(e.jobId) = (e.time, 0L) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOp.get(e.jobId)).foreach { t =>
        t.synchronized { t.jobs.get(e.jobId).foreach(s => t.jobs(e.jobId) = (s._1, e.time)) }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOp.get(e.stageInfo.stageId)).foreach(t => t.synchronized { t.stages += 1 })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOp.get(e.stageId)).foreach { t =>
        val m = e.taskMetrics
        t.synchronized {
          t.tasks += 1
          if (scanStages.contains(e.stageId)) t.scanTasks += 1
          if (m != null) {
            t.taskMs += m.executorRunTime
            t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
            t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            t.inputRecords += m.inputMetrics.recordsRead
          }
        }
      }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val t = current
      if (t != null) {
        val phases = qe.tracker.phases
        def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
        t.synchronized {
          t.analysisMs += ms("analysis")
          t.optimizerMs += ms("optimization")
          t.physicalMs += ms("planning")
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val t = current
      if (t != null) runOp.put(e.runId, t)
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(runOp.get(e.progress.runId)).foreach { t =>
        val p = e.progress
        val phases = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
        val state = p.stateOperators.toSeq
        val batch = phases ++ Map(
          "numInputRows" -> p.numInputRows.toDouble,
          "stateCommitMs" -> state.map(_.commitTimeMs).sum.toDouble,
          "stateRowsTotal" -> state.map(_.numRowsTotal).sum.toDouble,
          "stateMemoryBytes" -> state.map(_.memoryUsedBytes).sum.toDouble)
        t.synchronized { t.batches += batch }
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Start tracing operation `op`; the caller has set its local property. */
  def begin(op: Int, name: String): OpTrace = {
    val t = new OpTrace(op, name)
    traces.put(op, t)
    current = t
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    t.startMs = System.currentTimeMillis()
    t
  }

  /** Close the op window, wait until the bus has delivered every event
    * the operation posted, then detach the listeners.
    */
  def end(t: OpTrace): Unit = {
    t.synchronized { t.endMs = System.currentTimeMillis() }
    PerfbenchBridge.drainListenerBus(sc)
    current = null
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(queryListener)
    sc.removeSparkListener(jobListener)
    spans += t.span
  }
}

object Tracer {
  val OpProperty = "perfbench.op"
}
