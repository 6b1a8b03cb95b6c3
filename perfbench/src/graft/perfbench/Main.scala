package graft.perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.Row
import org.apache.spark.sql.classic.SparkSession

import graft.GraftExtensions

/** The benchmark's Spark side. `perfbench/run.py` generates the inputs
  * and the plan, starts this program once per run, and checks and
  * summarizes what it records:
  *
  * {{{
  *   Main <plan.json> <out-dir> <seconds> <trace 0|1>
  * }}}
  *
  * One Spark `local[4]` session, one client thread, closed loop. With
  * trace 1 every operation also runs under [[Tracer]]; the result file
  * then carries per-operation counters and the spans.
  */
object Main {
  val Json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val Array(planPath, outDir, seconds, trace) = args
    val plan = Json.readTree(Paths.get(planPath).toFile)
    val out = Paths.get(outDir)
    val workload = plan.get("workload").asText
    val builder = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions())
    if (plan.has("catalog_root"))
      builder
        .config("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
        .config("spark.sql.catalog.graft.root", plan.get("catalog_root").asText)
    val spark = builder.getOrCreate().asInstanceOf[SparkSession]
    spark.sparkContext.setLogLevel("ERROR")
    val heap = new HeapSampler
    val runner = new Runner(spark, trace == "1")
    val result =
      try {
        heap.start()
        val body = workload match {
          case "catalog_rw" => CatalogRw.run(runner, plan, seconds.toDouble)
          case _ => RowsWorkload.run(runner, plan, out, seconds.toDouble)
        }
        body ++ Map(
          "workload" -> workload,
          "ops" -> runner.records.toSeq,
          "leaks" -> runner.leaks,
          "spans" -> runner.tracer.map(_.spans.toSeq).getOrElse(Nil))
      } finally {
        heap.finish()
        spark.stop()
      }
    write(out.resolve("result.json"), result + ("heap_peak_mb" -> heap.peakMb))
  }

  /** Write a tree of Scala maps, sequences and scalars as JSON. */
  def write(path: Path, value: Any): Unit =
    Files.writeString(path, Json.writeValueAsString(toJava(value)))

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case Some(x) => toJava(x)
    case None => null
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  /** A result's fingerprint: insensitive to the order of equal-key rows,
    * sensitive to every value.
    */
  def fingerprint(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** Runs operations one at a time on the client thread: sets the job
  * group and the op property, times the call until its result is on the
  * driver, traces it when asked, and then restores the session the way
  * `graft.Bench` does between rows, counting each intervention.
  */
final class Runner(val spark: SparkSession, traced: Boolean) {
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMillis(): Long = collectors.map(_.getCollectionTime).sum
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  val tracer: Option[Tracer] = if (traced) Some(new Tracer(spark)) else None
  val records = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  var leaks = 0
  private var nextId = 0

  /** Run `body` as one operation. With `trace = false` no listener is
    * attached even in a traced run (the overhead comparison's other arm).
    */
  def op[A](name: String, trace: Boolean = true)(body: => A): Outcome[A] = {
    val id = nextId
    nextId += 1
    val sc = spark.sparkContext
    val before = Hygiene.snapshot(spark)
    sc.setJobGroup(s"op-$id", name)
    sc.setLocalProperty(Tracer.OpProperty, id.toString)
    val t = if (trace) tracer.map(_.begin(id, name)) else None
    val gc0 = gcMillis()
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val value =
      try Right(body)
      catch { case e: Throwable => Left(e) }
    val seconds = (System.nanoTime() - t0) / 1e9
    val cpuSeconds = (os.getProcessCpuTime - cpu0) / 1e9
    val gc = gcMillis() - gc0
    t.foreach { tr =>
      tr.synchronized { tr.gcMs = gc }
      tracer.get.end(tr)
    }
    sc.setLocalProperty(Tracer.OpProperty, null)
    sc.clearJobGroup()
    val leaked = Hygiene.restore(spark, before)
    if (leaked) leaks += 1
    Outcome(value, seconds, cpuSeconds, t, leaked)
  }
}

/** One operation's result and measurements. `cpuSeconds` is the whole
  * process's CPU time during the op: in local mode the driver and the
  * executors share the JVM.
  */
final case class Outcome[A](value: Either[Throwable, A], seconds: Double,
    cpuSeconds: Double, trace: Option[OpTrace], leaked: Boolean)

object Hygiene {
  final case class Snapshot(conf: Map[String, String])

  def snapshot(spark: SparkSession): Snapshot = Snapshot(spark.conf.getAll)

  /** `graft.Bench`'s isolation between operations: drop cached data and
    * stop streams left running. Returns whether the operation left the
    * session different from `before` (conf, cache or streams).
    */
  def restore(spark: SparkSession, before: Snapshot): Boolean = {
    val cached = org.apache.spark.sql.PerfbenchBridge.cachedEntries(spark)
    val streams = spark.streams.active
    val confChanged = spark.conf.getAll != before.conf
    spark.catalog.clearCache()
    streams.foreach(q => try q.stop() catch { case _: Throwable => () })
    cached > 0 || streams.nonEmpty || confChanged
  }
}

/** Peak heap in use right after a garbage collection: the live set
  * plus old-generation garbage not yet collected. Sampling the heap
  * between collections instead would mostly measure when the young
  * generation happened to be full.
  */
final class HeapSampler {
  @volatile private var peak = 0L
  private val listener: NotificationListener = (n: Notification, _: Any) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
      synchronized { peak = math.max(peak, used) }
    }
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }

  def start(): Unit = beans.foreach(_.addNotificationListener(listener, null, null))
  def finish(): Unit = beans.foreach(_.removeNotificationListener(listener))
  def peakMb: Double = peak / (1024.0 * 1024.0)
}
