package graft.perfbench

import java.nio.file.Path

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** `stream_ingest`: one operation runs one registry row
  * (`SparkEntry.queries`) to completion and collects its result.
  *
  * Set-up runs every row once, outside the timed loop: that invocation
  * builds the row's memoized fixtures, its time is the row's set-up
  * time, its result is written out for the DuckDB oracle, and its
  * fingerprint is what every timed invocation must reproduce. The timed
  * loop then runs whole passes over the rows in the plan's seeded order
  * until `seconds` have passed at a pass boundary, so every run times
  * the same mix. In a traced run each row runs twice per pass, once
  * under the tracer and once without, alternating which goes first.
  */
object RowsWorkload {
  def run(runner: Runner, plan: JsonNode, out: Path, seconds: Double): Map[String, Any] = {
    val spark = runner.spark
    val dataDir = plan.get("data_dir").asText
    val names = Main.strings(plan.get("rows"))
    val queries = SparkEntry.queries

    def invoke(name: String, trace: Boolean) = {
      val o = runner.op(name, trace) {
        val df = queries(name)(spark, dataDir)
        (df.schema, df.collect())
      }
      (o, o.value.toOption.map { case (s, rows) => (s, rows, Main.fingerprint(rows)) })
    }

    val setupTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    // Set-up runs in registry order, not the seeded order: the JVM's
    // first streaming query pays for class loading and JIT, and a fixed
    // order puts that cost on the same row in every run.
    val reference = names.sorted.map { name =>
      val (o, res) = invoke(name, trace = false)
      setupTimes += o.seconds
      res.foreach { case (schema, rows, _) => writeResult(runner, schema, rows, out, name) }
      runner.records += record(name, "setup", o, ok = res.isDefined)
      name -> res.map(_._3)
    }.toMap

    val t0 = System.nanoTime()
    var passes = 0
    var i = 0
    while (passes == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      names.foreach { name =>
        val arms =
          if (runner.tracer.isEmpty) Seq(false)
          else if (i % 2 == 0) Seq(true, false) else Seq(false, true)
        arms.foreach { traced =>
          val (o, res) = invoke(name, traced)
          val ok = res.exists(r => reference(name).contains(r._3))
          runner.records += record(name, "row", o, ok) ++
            Map("traced" -> traced) ++ o.trace.map(t => "trace" -> t.toMap)
        }
        i += 1
      }
      passes += 1
    }
    Map("setup_s" -> setupTimes.toSeq, "passes" -> passes,
      "loop_s" -> (System.nanoTime() - t0) / 1e9,
      "results_dir" -> out.resolve("results").toString,
      "oracle" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
  }

  private def record(name: String, cls: String, o: Outcome[_], ok: Boolean): Map[String, Any] =
    Map("name" -> name, "class" -> cls, "s" -> o.seconds, "cpu_s" -> o.cpuSeconds, "ok" -> ok,
      "leaked" -> o.leaked,
      "error" -> o.value.left.toOption.map(e => String.valueOf(e.getMessage).take(300)))

  /** The set-up result as one parquet file, in the row's own order. */
  private def writeResult(runner: Runner, schema: StructType, rows: Array[Row],
      out: Path, name: String): Unit =
    runner.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(out.resolve("results").resolve(name).toString)
}
