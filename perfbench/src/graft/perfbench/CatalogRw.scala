package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types.StructType

import graft.sources.GraftLedger

/** `catalog_rw`: seeded reads and writes against persistent-mode graft
  * tables, all through SQL (plus the `graft.upsert.keys` writer option).
  *
  * Set-up creates and loads the tables over several commits and creates
  * the MV, `setup_reps` times (dropping the previous copy in between),
  * so set-up time is a median. The plan's first block then runs untimed
  * to warm every op's code path, and the loop runs whole blocks of the
  * plan's ops until `seconds` have passed at a block boundary. Each
  * write's input batch is a local relation registered before the op is
  * timed, so a write op times the engine's write path and commit only.
  * After the loop the tables are rebuilt from the on-disk ledger alone
  * for the durability check.
  */
object CatalogRw extends AdaptiveSparkPlanHelper {
  def run(runner: Runner, plan: JsonNode, seconds: Double): Map[String, Any] = {
    val spark = runner.spark
    val root = java.nio.file.Paths.get(plan.get("catalog_root").asText)
    val ns = plan.get("namespace").asText
    def sql(s: String): Array[Row] = spark.sql(s).collect()

    plan.get("sources").properties().asScala.foreach { e =>
      spark.read.parquet(e.getValue.asText).createOrReplaceTempView(e.getKey)
    }
    val pools: Map[String, (StructType, Map[Long, Array[Row]])] =
      plan.get("pools").properties().asScala.map { e =>
        val df = spark.read.parquet(e.getValue.asText)
        val idx = df.schema.fieldIndex("batch_id")
        val schema = StructType(df.schema.fields.patch(idx, Nil, 1))
        val batches = df.collect().groupBy(_.getLong(idx)).map { case (b, rows) =>
          b -> rows.map(r => Row.fromSeq(r.toSeq.patch(idx, Nil, 1)))
        }
        e.getKey -> (schema, batches)
      }.toMap

    val setup = Main.strings(plan.get("setup"))
    val setupTimes = (0 until plan.get("setup_reps").asInt).map { rep =>
      if (rep > 0) Main.strings(plan.get("teardown")).foreach(sql)
      val t0 = System.nanoTime()
      setup.foreach(sql)
      (System.nanoTime() - t0) / 1e9
    }

    def version(table: String): Long =
      sql(s"SELECT max(version) FROM graft.$ns.$table.history").head.getLong(0)

    val perKind = mutable.Map.empty[String, Int].withDefaultValue(0)
    def runOp(op: JsonNode, cls: String): Unit = {
      val kind = op.get("kind").asText
      val table = op.get("table").asText
      val timed = cls == "read" || cls == "commit"
      val traced = runner.tracer.nonEmpty && timed && perKind(kind) % 2 == 0
      if (timed) perKind(kind) += 1
      Option(op.get("batch")).foreach { b =>
        val (schema, batches) = pools(b.get("pool").asText)
        spark.createDataFrame(batches(b.get("id").asLong).toSeq.asJava, schema)
          .createOrReplaceTempView(b.get("view").asText)
      }
      val filesBefore = if (traced && cls != "read") rootFiles(root) else Map.empty[String, Long]
      val o = runner.op(kind, traced) {
        Option(op.get("upsert_keys")) match {
          case Some(keys) =>
            spark.table(op.get("batch").get("view").asText)
              .writeTo(s"graft.$ns.$table").option("graft.upsert.keys", keys.asText).append()
            (None, Array.empty[Row])
          case None =>
            val df = spark.sql(op.get("sql").asText)
            (Some(df), df.collect())
        }
      }
      val rec = mutable.LinkedHashMap[String, Any](
        "op" -> op.get("id").asInt, "name" -> kind, "class" -> cls, "s" -> o.seconds,
        "cpu_s" -> o.cpuSeconds,
        "ok" -> o.value.isRight, "traced" -> traced, "leaked" -> o.leaked,
        "error" -> o.value.left.toOption.map(e => String.valueOf(e.getMessage).take(300)))
      o.value.foreach { case (df, rows) =>
        rec("rows") = rows.length
        if (op.get("class").asText == "read") rec("result") = rows.map(_.toSeq.map(cell))
        else rec("version") = version(table)
        o.trace.foreach { t =>
          val extra: Map[String, Any] =
            if (cls == "read") {
              val tables = Main.strings(op.get("tables"))
              val files = tables.map(t => sql(
                s"SELECT count(*), sum(bytes), sum(rows) FROM graft.$ns.$t.files").head)
              Map(
                "segments_live" -> files.map(_.getLong(0)).sum,
                "segment_bytes" -> files.map(_.getLong(1)).sum,
                "segment_rows" -> files.map(_.getLong(2)).sum,
                "eq_deletes" -> tables.map(t => sql(
                  s"SELECT eq_deletes FROM graft.$ns.$t.history WHERE is_current").head.getInt(0)).sum,
                "mv_scan" -> df.exists(scansTable(_, op.path("mv").asText("-"))))
            } else {
              val after = rootFiles(root)
              val written = after.filter { case (p, n) => !filesBefore.get(p).contains(n) }
              Map("bytes_written" -> written.values.sum,
                "ledger_files" -> written.keys.count(_.contains("/_ledger/")))
            }
          rec("trace") = t.toMap ++ extra
        }
      }
      runner.records += rec.toMap
    }

    val blocks = plan.get("blocks").elements().asScala
    blocks.next().elements().asScala.foreach(op => runOp(op, "warmup"))
    val t0 = System.nanoTime()
    var n = 0
    while (blocks.hasNext && (n == 0 || (System.nanoTime() - t0) / 1e9 < seconds)) {
      blocks.next().elements().asScala.foreach(op => runOp(op, op.get("class").asText))
      n += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9

    val rootBytes = rootFiles(root).values.sum
    val l0 = System.nanoTime()
    val states = GraftLedger.readAllTableStates(GraftLedger.tablesDir(root), System.nanoTime())
    val loadMs = (System.nanoTime() - l0) / 1e6
    val ledger = states.flatMap(_.state).collect {
      case (ident, entry, history, _) if ident.namespace.sameElements(Array(ns)) =>
        ident.name -> Map(
          "version" -> history.lastOption.map(_.version),
          "rows" -> entry.segments.map(_.liveRows).sum,
          "eq_deletes" -> entry.eqDeletes.size)
    }.toMap
    Map("setup_s" -> setupTimes, "blocks" -> n, "loop_s" -> loopS,
      "root_bytes" -> rootBytes, "ledger_load_ms" -> loadMs, "ledger" -> ledger)
  }

  /** Whether the executed plan reads `table` through a DSv2 scan. */
  private def scansTable(df: DataFrame, table: String): Boolean =
    find(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b.table.name().split('.').last == table
      case _ => false
    }.isDefined

  private def rootFiles(root: Path): Map[String, Long] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toMap
    finally s.close()
  }

  /** A result cell as JSON: decimals as doubles, timestamps as epoch
    * microseconds, the rest as numbers or strings.
    */
  private def cell(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.doubleValue
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000
    case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
    case n: java.lang.Number => n
    case x => x.toString
  }
}
