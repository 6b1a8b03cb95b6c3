package graft

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** MICRO_BATCH_READ over catalog tables: the snapshot history as a
  * change stream (`spark.readStream.table("graft.ns.t")`). Covers the
  * initial snapshot load, live appends, checkpoint restart with
  * exactly-once resumption, admission control, change-commit policy,
  * and zone-map segment skipping inside micro-batch planning.
  */
class CatalogStreamReadSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshCkpt(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_csr_$tag").toString

  test("initial snapshot, then live appends, each exactly once") {
    spark.sql("DROP TABLE IF EXISTS graft.csr.src1")
    spark.sql("CREATE TABLE graft.csr.src1 (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.csr.src1 VALUES (1,'a'), (2,'b')")
    spark.sql("INSERT INTO graft.csr.src1 VALUES (3,'c')")
    val q = spark.readStream.table("graft.csr.src1")
      .writeStream.format("memory").queryName("csr1").start()
    try {
      q.processAllAvailable()
      assert(spark.table("csr1").as[(Long, String)].collect().sorted.toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
      spark.sql("INSERT INTO graft.csr.src1 VALUES (4,'d')")
      q.processAllAvailable()
      assert(spark.table("csr1").as[(Long, String)].collect().sorted.toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    } finally q.stop()
  }

  test("checkpoint restart resumes at the committed version; maxSegmentsPerTrigger batches commits") {
    spark.sql("DROP TABLE IF EXISTS graft.csr.src2")
    spark.sql("DROP TABLE IF EXISTS graft.csr.sink2")
    spark.sql("CREATE TABLE graft.csr.src2 (k BIGINT, v STRING) USING graft")
    spark.sql("CREATE TABLE graft.csr.sink2 (k BIGINT, v STRING) USING graft")
    val ckpt = freshCkpt("restart")
    // Leg 1: drain the (empty) initial snapshot, so the checkpoint is
    // committed PAST the snapshot-load phase.
    spark.readStream.table("graft.csr.src2")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).toTable("graft.csr.sink2")
      .awaitTermination()
    assert(spark.table("graft.csr.sink2").isEmpty)
    // Three separate commits while the stream is down.
    spark.sql("INSERT INTO graft.csr.src2 VALUES (1,'a')")
    spark.sql("INSERT INTO graft.csr.src2 VALUES (2,'b')")
    spark.sql("INSERT INTO graft.csr.src2 VALUES (3,'c')")
    // Leg 2: restart from the checkpoint with a 1-segment admission cap
    // — the three commits must arrive as three micro-batches, and
    // nothing from before the checkpoint re-emits.
    val q2 = spark.readStream.option("maxSegmentsPerTrigger", "1")
      .table("graft.csr.src2")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).toTable("graft.csr.sink2")
    q2.awaitTermination()
    assert(spark.table("graft.csr.sink2").as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    val nonEmptyBatches = q2.recentProgress.count(_.numInputRows > 0)
    assert(nonEmptyBatches == 3,
      s"expected 3 rate-limited micro-batches, saw $nonEmptyBatches:\n" +
        q2.recentProgress.map(p => s"${p.batchId}: ${p.numInputRows}").mkString("\n"))
    // Leg 3: nothing new -> nothing re-emitted (exactly-once across restarts).
    spark.readStream.table("graft.csr.src2")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).toTable("graft.csr.sink2")
      .awaitTermination()
    assert(spark.table("graft.csr.sink2").count() == 3)
  }

  test("a change commit (DELETE) fails the stream loudly") {
    spark.sql("DROP TABLE IF EXISTS graft.csr.src3")
    spark.sql("CREATE TABLE graft.csr.src3 (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.csr.src3 VALUES (1,'a'), (2,'b')")
    val q = spark.readStream.table("graft.csr.src3")
      .writeStream.format("memory").queryName("csr3").start()
    try {
      q.processAllAvailable()
      spark.sql("DELETE FROM graft.csr.src3 WHERE k = 1")
      spark.sql("INSERT INTO graft.csr.src3 VALUES (9,'z')")
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination()
      }
      val msg = e.getCause.getMessage
      assert(msg.contains("skipChangeCommits"), msg)
    } finally q.stop()
  }

  test("compaction (dataChange=false) streams through silently — no failure, no duplicates") {
    // Compaction rearranges files without changing a logical row (the
    // Delta dataChange=false shape): a DEFAULT append stream (no
    // skipChangeCommits) must ride through it — failing would make
    // auto-compaction stream-hostile, re-emitting the folded segments
    // would duplicate every already-delivered row.
    spark.sql("DROP TABLE IF EXISTS graft.csr.cmp")
    spark.sql("CREATE TABLE graft.csr.cmp (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.csr.cmp VALUES (1), (2)")
    val q = spark.readStream.table("graft.csr.cmp")
      .writeStream.format("memory").queryName("csr_cmp").start()
    try {
      q.processAllAvailable()
      spark.sql("INSERT INTO graft.csr.cmp VALUES (3)")
      spark.sql("CALL graft.system.compact('csr', 'cmp')").collect()
      spark.sql("INSERT INTO graft.csr.cmp VALUES (4)")
      q.processAllAvailable()
      assert(spark.table("csr_cmp").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L, 4L),
        "every append exactly once, the compaction commit invisible")
    } finally q.stop()
    spark.sql("DROP TABLE graft.csr.cmp")
  }

  test("skipChangeCommits skips the rewrite commit but streams later appends") {
    spark.sql("DROP TABLE IF EXISTS graft.csr.src4")
    spark.sql("CREATE TABLE graft.csr.src4 (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.csr.src4 VALUES (1,'a'), (2,'b')")
    val q = spark.readStream.option("skipChangeCommits", "true")
      .table("graft.csr.src4")
      .writeStream.format("memory").queryName("csr4").start()
    try {
      q.processAllAvailable()
      assert(spark.table("csr4").count() == 2)
      // DELETE rewrites the table (segment removal) — skipped wholesale;
      // the follow-up INSERT is a clean append and must arrive.
      spark.sql("DELETE FROM graft.csr.src4 WHERE k = 1")
      spark.sql("INSERT INTO graft.csr.src4 VALUES (9,'z')")
      q.processAllAvailable()
      assert(spark.table("csr4").as[(Long, String)].collect().sorted.toSeq ==
        Seq((1L, "a"), (2L, "b"), (9L, "z")))
    } finally q.stop()
  }

  test("a DEFAULT append stream rides through an ALTER migration silently (dataChange=false)") {
    // No skipChangeCommits needed: the migration is a layout-only
    // commit like compaction. The stream delivers nothing for it, and
    // fails loud only at the first commit it truly cannot decode (the
    // post-migration append under the evolved layout).
    spark.sql("DROP TABLE IF EXISTS graft.csr.mig")
    spark.sql("CREATE TABLE graft.csr.mig (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.csr.mig VALUES (1, 'a')")
    val q = spark.readStream.table("graft.csr.mig")
      .writeStream.format("memory").queryName("csrmig").start()
    try {
      q.processAllAvailable()
      assert(spark.table("csrmig").count() == 1)
      spark.sql("ALTER TABLE graft.csr.mig ADD COLUMN extra BIGINT") // migration
      q.processAllAvailable() // must NOT fail, must NOT duplicate
      assert(spark.table("csrmig").count() == 1,
        "the migration commit must stream through as a silent no-op")
      spark.sql("INSERT INTO graft.csr.mig VALUES (2, 'b', 20)")
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination(10000)
      }
      def chain(t: Throwable): String =
        if (t == null) "" else t.getMessage + " | " + chain(t.getCause)
      assert(chain(e).contains("restart the stream"), chain(e))
    } finally q.stop()
  }

  test("the advertised remedy WORKS: restart on the SAME checkpoint resumes past a migration") {
    // The failure message says "restart the stream to pick up the
    // evolved schema" — prove the restart actually recovers: the
    // checkpoint sits just past the pre-migration data, the skipped
    // migration commit and the evolved append are all that remain, and
    // the restarted stream (which resolves the NEW schema) must
    // deliver the evolved rows instead of wedging.
    spark.sql("DROP TABLE IF EXISTS graft.csr.rs")
    spark.sql("CREATE TABLE graft.csr.rs (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.csr.rs VALUES (1, 'a')")
    val ck = java.nio.file.Files.createTempDirectory("csr-rs-ck-").toString
    // foreachBatch, not the memory sink: only the former supports
    // checkpoint RECOVERY, which is the thing under test.
    val seen = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    def drain(): Unit = {
      val q = spark.readStream.table("graft.csr.rs")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized { df.collect().foreach(r => seen += r.toSeq) }; ()
        }
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    assert(seen.length == 1, s"pre-migration drain: $seen")
    spark.sql("ALTER TABLE graft.csr.rs ADD COLUMN extra BIGINT")
    spark.sql("INSERT INTO graft.csr.rs VALUES (2, 'b', 20)")
    // Restarted under the evolved schema, same checkpoint: delivers
    // exactly the post-checkpoint rows (migration silent, append in).
    seen.clear()
    drain()
    assert(seen.toList == List(Seq(2L, "b", 20L)),
      s"restart must resume with only the evolved append, got $seen")
    spark.sql("DROP TABLE graft.csr.rs")
  }

  test("post-widening appends fail a stale-schema stream even under skipChangeCommits") {
    spark.sql("DROP TABLE IF EXISTS graft.csr.src5")
    spark.sql("CREATE TABLE graft.csr.src5 (k INT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.csr.src5 VALUES (1,'a')")
    val q = spark.readStream.option("skipChangeCommits", "true")
      .table("graft.csr.src5")
      .writeStream.format("memory").queryName("csr5").start()
    try {
      q.processAllAvailable()
      assert(spark.table("csr5").count() == 1)
      // ALTER COLUMN TYPE keeps the FIELD COUNT but rewrites segments
      // under the widened layout. The rewrite commit itself is skipped
      // (skipChangeCommits), but the follow-up APPEND was written under
      // the widened schema — decoding it with the stream's stale INT
      // schema would read the LongType slot via getInt and silently
      // corrupt out-of-range values. The guard must fail the stream.
      spark.sql("ALTER TABLE graft.csr.src5 ALTER COLUMN k TYPE BIGINT")
      spark.sql("INSERT INTO graft.csr.src5 VALUES (5000000000, 'big')")
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination(10000)
      }
      def chain(t: Throwable): String =
        if (t == null) "" else t.getMessage + " | " + chain(t.getCause)
      assert(chain(e).contains("restart the stream"), chain(e))
    } finally q.stop()
  }

  test("initial snapshot load under a stale (pre-widening) stream schema fails loudly") {
    // The window: a stream object captures the table schema at load
    // time; an ALTER COLUMN TYPE widening lands BEFORE the first
    // micro-batch plans. The initial-snapshot guard must compare field
    // TYPES (arity is unchanged by a retype) — decoding the widened
    // snapshot with the stale narrow schema would getInt a LongType
    // slot and silently corrupt values.
    spark.sql("DROP TABLE IF EXISTS graft.csr.src7")
    spark.sql("CREATE TABLE graft.csr.src7 (k INT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.csr.src7 VALUES (1,'a')")
    import org.apache.spark.sql.connector.catalog.Identifier
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    val staleSchema = StructType(Seq(
      StructField("k", IntegerType), StructField("v", StringType)))
    val stream = new graft.sources.GraftCatalogMicroBatchStream(
      Identifier.of(Array("csr"), "src7"), staleSchema, staleSchema,
      IndexedSeq.empty, None, false)
    spark.sql("ALTER TABLE graft.csr.src7 ALTER COLUMN k TYPE BIGINT")
    spark.sql("INSERT INTO graft.csr.src7 VALUES (5000000000, 'big')")
    val latest = stream.reportLatestOffset()
    val e = intercept[IllegalStateException] {
      stream.planInputPartitions(graft.sources.GraftVersionOffset(-1), latest)
    }
    assert(e.getMessage.contains("restart the stream"), e.getMessage)
  }

  test("startingVersion replay of pre-widening commits fails loudly under the evolved schema") {
    // Mirror image of the stale-stream case: the stream holds the NEW
    // (widened) schema but startingVersion points at commits written
    // under the old layout — the per-commit guard must refuse to decode
    // them rather than widen bytes positionally.
    spark.sql("DROP TABLE IF EXISTS graft.csr.src8")
    spark.sql("CREATE TABLE graft.csr.src8 (k INT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.csr.src8 VALUES (1,'old')") // narrow-layout commit
    spark.sql("ALTER TABLE graft.csr.src8 ALTER COLUMN k TYPE BIGINT")
    val q = spark.readStream.option("startingVersion", "1")
      .table("graft.csr.src8")
      .writeStream.format("memory").queryName("csr8").start()
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination(10000)
      }
      def chain(t: Throwable): String =
        if (t == null) "" else t.getMessage + " | " + chain(t.getCause)
      assert(chain(e).contains("different schema"), chain(e))
    } finally q.stop()
  }

  test("startingVersion skips the snapshot and replays history from that commit") {
    spark.sql("DROP TABLE IF EXISTS graft.csr.src6")
    spark.sql("CREATE TABLE graft.csr.src6 (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.csr.src6 VALUES (1,'old')") // commit v1
    val vNext = spark.sql("CALL graft.system.history('csr', 'src6')")
      .select("version").as[Long].collect().max + 1
    spark.sql("INSERT INTO graft.csr.src6 VALUES (2,'new')") // commit vNext
    val q = spark.readStream.option("startingVersion", vNext.toString)
      .table("graft.csr.src6")
      .writeStream.format("memory").queryName("csr6").start()
    try {
      q.processAllAvailable()
      assert(spark.table("csr6").as[(Long, String)].collect().toSeq == Seq((2L, "new")),
        "rows committed before startingVersion must not replay")
      spark.sql("INSERT INTO graft.csr.src6 VALUES (3,'live')")
      q.processAllAvailable()
      assert(spark.table("csr6").count() == 2)
    } finally q.stop()
  }

  test("startingTimestamp replays from the first commit at or after the instant") {
    spark.sql("DROP TABLE IF EXISTS graft.csr.st1")
    spark.sql("CREATE TABLE graft.csr.st1 (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.csr.st1 VALUES (1,'old')")
    // The cut instant: strictly after the 'old' commit, at or before
    // the 'new' one (commit wallMs are ms-distinct — each INSERT is a
    // full Spark job).
    Thread.sleep(5)
    val cut = java.time.Instant.now().toString
    Thread.sleep(5)
    spark.sql("INSERT INTO graft.csr.st1 VALUES (2,'new')")
    val q = spark.readStream.option("startingTimestamp", cut)
      .table("graft.csr.st1")
      .writeStream.format("memory").queryName("csrst1").start()
    try {
      q.processAllAvailable()
      assert(spark.table("csrst1").as[(Long, String)].collect().toSeq == Seq((2L, "new")),
        "rows committed before startingTimestamp must not replay")
    } finally q.stop()
    // A timestamp past the newest commit refuses loudly (nothing would
    // replay) instead of silently starting "from now".
    val late = java.time.Instant.now().plusSeconds(3600).toString
    val e = intercept[Exception] {
      spark.readStream.option("startingTimestamp", late)
        .table("graft.csr.st1")
        .writeStream.format("memory").queryName("csrst1b").start()
        .processAllAvailable()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("after")), chain(e).mkString(" | "))
    // Both starting options together refuse.
    val e2 = intercept[Exception] {
      spark.readStream
        .option("startingVersion", "1").option("startingTimestamp", cut)
        .table("graft.csr.st1")
        .writeStream.format("memory").queryName("csrst1c").start()
        .processAllAvailable()
    }
    assert(chain(e2).exists(_.contains("mutually exclusive")), chain(e2).mkString(" | "))
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
  }

  test("batch reader options versionAsOf/timestampAsOf pin a snapshot; vacuum expires it") {
    spark.sql("DROP TABLE IF EXISTS graft.csr.tt")
    spark.sql("CREATE TABLE graft.csr.tt (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.csr.tt VALUES (1)")
    val v = spark.sql("CALL graft.system.history('csr', 'tt')")
      .select("version").as[Long].collect().max
    spark.sql("INSERT INTO graft.csr.tt VALUES (2)")
    assert(spark.read.option("versionAsOf", v.toString).table("graft.csr.tt").count() == 1)
    assert(spark.read.table("graft.csr.tt").count() == 2)
    // VACUUM: non-current snapshots expire, current data untouched
    val res = spark.sql("CALL graft.system.vacuum('csr', 'tt')").collect()
    assert(res(0).getInt(1) >= 2, res.mkString) // v0 (empty) + v1 expired
    assert(spark.read.table("graft.csr.tt").count() == 2)
    intercept[Exception] {
      spark.read.option("versionAsOf", v.toString).table("graft.csr.tt").collect()
    }
    assert(spark.sql("CALL graft.system.history('csr', 'tt')").count() == 1)
  }

  test("concurrent INSERT jobs both commit: no lost segments, every row exactly once") {
    spark.sql("DROP TABLE IF EXISTS graft.csr.cw")
    spark.sql("CREATE TABLE graft.csr.cw (k BIGINT) USING graft")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (0 until 4).map { w =>
      Future {
        spark.sql(s"INSERT INTO graft.csr.cw SELECT id FROM range(${w * 1000}, ${w * 1000 + 1000}, 1, 2)")
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    assert(spark.sql("SELECT count(*), count(DISTINCT k) FROM graft.csr.cw")
      .as[(Long, Long)].head() == ((4000L, 4000L)))
    // 4 commits × 2 segments each, all present
    assert(graft.sources.GraftCatalog.segmentCount("csr", "cw") == 8)
  }

  test("zone-map filters skip whole segments in micro-batch planning") {
    // Spark's optimizer does not (yet) run filter pushdown against
    // MICRO_BATCH_READ scans — V2ScanRelationPushDown is batch-only —
    // so this asserts the mechanism at the stream-planning level: a
    // stream built with a pruning filter must plan no split for a
    // segment whose zone map proves no row can match.
    spark.sql("DROP TABLE IF EXISTS graft.csr.src5")
    spark.sql("CREATE TABLE graft.csr.src5 (k BIGINT, v DOUBLE) USING graft")
    // Two segments with disjoint k ranges (separate single-partition inserts).
    spark.sql("INSERT INTO graft.csr.src5 SELECT id, id * 1.0 FROM range(0, 10, 1, 1)")
    spark.sql("INSERT INTO graft.csr.src5 SELECT id, id * 1.0 FROM range(1000, 1010, 1, 1)")
    import org.apache.spark.sql.connector.catalog.Identifier
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val ident = Identifier.of(Array("csr"), "src5")
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType)))
    def stream(filters: org.apache.spark.sql.sources.Filter*) =
      new graft.sources.GraftCatalogMicroBatchStream(
        ident, schema, schema, filters.toIndexedSeq, None, false)
    val latest = stream().reportLatestOffset()
    val all = stream().planInputPartitions(graft.sources.GraftVersionOffset(-1), latest)
    assert(all.length == 2, s"expected 2 segments, planned ${all.length}")
    val pruned = stream(org.apache.spark.sql.sources.GreaterThanOrEqual("k", 1000L))
      .planInputPartitions(graft.sources.GraftVersionOffset(-1), latest)
    assert(pruned.length == 1, s"expected the k<10 segment skipped, planned ${pruned.length}")
  }
}
