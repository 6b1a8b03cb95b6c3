package graft

import org.scalatest.funsuite.AnyFunSuite

/** Identity columns (`GENERATED ALWAYS/BY DEFAULT AS IDENTITY`):
  * Spark validates the DDL and delivers NULLs for omitted columns;
  * the catalog's writers generate values from a per-table watermark
  * (progression index k; task p's i-th value takes k0 + p + i·P —
  * disjoint congruence classes, uniqueness with zero coordination).
  */
object IdentitySpec {
  // Task-side rendezvous for the concurrent-write test (single JVM in
  // local mode, so a static barrier is visible to executor threads).
  @volatile var barrier: java.util.concurrent.CyclicBarrier = _
}

class IdentitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("values continue across commits; single-task inserts are contiguous") {
    spark.sql("DROP TABLE IF EXISTS graft.idn.a PURGE")
    spark.sql("CREATE TABLE graft.idn.a " +
      "(id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 100 INCREMENT BY 10), v STRING) " +
      "USING graft")
    spark.sql("INSERT INTO graft.idn.a (v) VALUES ('a'), ('b'), ('c')")
    spark.sql("INSERT INTO graft.idn.a (v) VALUES ('d')")
    val got = spark.sql("SELECT id, v FROM graft.idn.a ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(got.map(_._1) == Seq(100L, 110L, 120L, 130L),
      "watermark persists between commits — the second insert continues, not restarts")
    spark.sql("DROP TABLE graft.idn.a PURGE")
  }

  test("multi-task writes assign unique in-domain values with no coordination") {
    spark.sql("DROP TABLE IF EXISTS graft.idn.m PURGE")
    spark.sql("CREATE TABLE graft.idn.m " +
      "(id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 7 INCREMENT BY 3), k BIGINT) " +
      "USING graft")
    // 4 parallel writer tasks; each generates from its own congruence
    // class — contiguity is NOT promised, uniqueness and domain are.
    spark.range(0, 400, 1, 4).selectExpr("CAST(NULL AS BIGINT) AS id", "id AS k")
      .writeTo("graft.idn.m").append()
    val ids = spark.sql("SELECT id FROM graft.idn.m").as[Long].collect()
    assert(ids.length == 400 && ids.distinct.length == 400, "unique across tasks")
    assert(ids.forall(v => v >= 7 && (v - 7) % 3 == 0),
      "every value sits on the declared progression start + step*k")
    // Next single insert continues above everything allocated.
    spark.sql("INSERT INTO graft.idn.m (k) VALUES (9999)")
    val mx = spark.sql("SELECT id FROM graft.idn.m WHERE k = 9999").as[Long].head()
    assert(!ids.contains(mx), "watermark cleared the whole multi-task allocation")
    spark.sql("DROP TABLE graft.idn.m PURGE")
  }

  test("GENERATED ALWAYS refuses explicit values; BY DEFAULT accepts them") {
    spark.sql("DROP TABLE IF EXISTS graft.idn.s PURGE")
    spark.sql("CREATE TABLE graft.idn.s " +
      "(id BIGINT GENERATED ALWAYS AS IDENTITY, v STRING) USING graft")
    val e = intercept[Exception] {
      spark.sql("INSERT INTO graft.idn.s VALUES (5, 'x')")
    }
    assert(e.getMessage.contains("GENERATED ALWAYS") ||
      Option(e.getCause).exists(_.getMessage.contains("GENERATED ALWAYS")))
    spark.sql("DROP TABLE graft.idn.s PURGE")

    spark.sql("DROP TABLE IF EXISTS graft.idn.d PURGE")
    spark.sql("CREATE TABLE graft.idn.d " +
      "(id BIGINT GENERATED BY DEFAULT AS IDENTITY (START WITH 1 INCREMENT BY 1), v STRING) " +
      "USING graft")
    spark.sql("INSERT INTO graft.idn.d VALUES (500, 'explicit')")
    spark.sql("INSERT INTO graft.idn.d (v) VALUES ('generated')")
    val rows = spark.sql("SELECT id, v FROM graft.idn.d ORDER BY v")
      .as[(Long, String)].collect().toSeq
    assert(rows == Seq((500L, "explicit"), (1L, "generated")),
      "explicit value kept verbatim; generated value comes from the progression")
    spark.sql("DROP TABLE graft.idn.d PURGE")
  }

  test("negative increment descends; INT identity columns work") {
    spark.sql("DROP TABLE IF EXISTS graft.idn.n PURGE")
    spark.sql("CREATE TABLE graft.idn.n " +
      "(id INT GENERATED ALWAYS AS IDENTITY (START WITH 0 INCREMENT BY -5), v STRING) " +
      "USING graft")
    spark.sql("INSERT INTO graft.idn.n (v) VALUES ('a'), ('b'), ('c')")
    assert(spark.sql("SELECT id FROM graft.idn.n ORDER BY id DESC")
      .as[Int].collect().toSeq == Seq(0, -5, -10))
    spark.sql("DROP TABLE graft.idn.n PURGE")
  }

  test("MERGE NOT MATCHED inserts generate ids and advance the watermark") {
    spark.sql("DROP TABLE IF EXISTS graft.idn.g PURGE")
    spark.sql("CREATE TABLE graft.idn.g " +
      "(id BIGINT GENERATED ALWAYS AS IDENTITY, k BIGINT, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.idn.g (k, v) VALUES (1, 10), (2, 20)") // ids 0,1
    spark.range(2, 5).selectExpr("id AS k", "id * 100 AS v")
      .createOrReplaceTempView("idn_src")
    spark.sql(
      """MERGE INTO graft.idn.g t USING idn_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    val rows = spark.sql("SELECT id, k, v FROM graft.idn.g ORDER BY k")
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows.map(_._2) == Seq(1L, 2L, 3L, 4L))
    assert(rows.map(_._1).distinct.length == 4, "merge-inserted rows got fresh unique ids")
    assert(rows.find(_._2 == 1L).get._1 == rows.map(_._1).min,
      "pre-merge rows keep their original ids through the rewrite")
    // Watermark advanced past the merge's allocations.
    spark.sql("INSERT INTO graft.idn.g (k, v) VALUES (9, 90)")
    val all = spark.sql("SELECT id FROM graft.idn.g").as[Long].collect()
    assert(all.distinct.length == 5, "no collision after the merge")
    spark.sql("DROP TABLE graft.idn.g PURGE")
  }

  test("RENAME COLUMN carries the identity watermark — no restart, no collision") {
    spark.sql("DROP TABLE IF EXISTS graft.idn.r PURGE")
    spark.sql("CREATE TABLE graft.idn.r " +
      "(id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 0 INCREMENT BY 1), v STRING) " +
      "USING graft")
    spark.sql("INSERT INTO graft.idn.r (v) VALUES ('a'), ('b')") // ids 0, 1
    spark.sql("ALTER TABLE graft.idn.r RENAME COLUMN id TO row_key")
    spark.sql("INSERT INTO graft.idn.r (v) VALUES ('c')")
    assert(spark.sql("SELECT row_key FROM graft.idn.r ORDER BY row_key")
      .as[Long].collect().toSeq == Seq(0L, 1L, 2L),
      "the watermark follows the renamed column — continuation, not a k=0 restart")
    spark.sql("DROP TABLE graft.idn.r PURGE")
  }

  test("sync_identity re-seats the watermark past explicit BY DEFAULT values") {
    spark.sql("DROP TABLE IF EXISTS graft.idn.sy PURGE")
    spark.sql("CREATE TABLE graft.idn.sy " +
      "(id BIGINT GENERATED BY DEFAULT AS IDENTITY (START WITH 0 INCREMENT BY 2), v STRING) " +
      "USING graft")
    spark.sql("INSERT INTO graft.idn.sy (v) VALUES ('a')")      // generated: 0
    spark.sql("INSERT INTO graft.idn.sy VALUES (10, 'explicit')") // on-progression, above
    spark.sql("INSERT INTO graft.idn.sy VALUES (7, 'off')")      // off-progression: harmless
    // Without sync, the next generated value (2) is fine — but the one
    // after the explicit 10 would eventually collide. Sync now.
    val r = spark.sql("CALL graft.system.sync_identity('idn', 'sy')").collect()
    assert(r.length == 1 && r(0).getString(1) == "id" && r(0).getLong(2) == 6L,
      "10 = start + 2*5 -> next index 6")
    spark.sql("INSERT INTO graft.idn.sy (v) VALUES ('b')")       // generated: 12, not 2
    val ids = spark.sql("SELECT id FROM graft.idn.sy ORDER BY id")
      .as[Long].collect().toSeq
    assert(ids == Seq(0L, 7L, 10L, 12L), "post-sync generation clears the explicit value")
    spark.sql("DROP TABLE graft.idn.sy PURGE")
  }

  test("INT identity overflow fails loudly instead of wrapping into duplicates") {
    spark.sql("DROP TABLE IF EXISTS graft.idn.ov PURGE")
    spark.sql("CREATE TABLE graft.idn.ov " +
      "(id INT GENERATED ALWAYS AS IDENTITY (START WITH 2147483000 INCREMENT BY 1000), " +
      "v STRING) USING graft")
    val e = intercept[Exception] {
      // Single task: ks 0 and 1 -> 2147483000 (fits), 2147484000 (overflows INT).
      spark.sql("INSERT INTO graft.idn.ov (v) VALUES ('a'), ('b')")
    }
    def hasOv(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("overflows INT")) ||
        hasOv(t.getCause))
    assert(hasOv(e), s"expected the INT overflow refusal, got: $e")
    assert(spark.table("graft.idn.ov").count() == 0L, "the failed insert landed nothing")
    spark.sql("DROP TABLE graft.idn.ov PURGE")
  }

  test("concurrent identity writes: one commits, the other conflicts — never duplicates") {
    spark.sql("DROP TABLE IF EXISTS graft.idn.cc PURGE")
    spark.sql("CREATE TABLE graft.idn.cc " +
      "(id BIGINT GENERATED ALWAYS AS IDENTITY, v BIGINT) USING graft")
    // Both writes hold their tasks at a barrier until the other
    // arrives — each planned its congruence classes at the SAME
    // watermark, so without commit-time conflict detection both would
    // land and mint duplicate ids.
    IdentitySpec.barrier = new java.util.concurrent.CyclicBarrier(2)
    val rendezvous = org.apache.spark.sql.functions.udf { (v: Long) =>
      IdentitySpec.barrier.await(30, java.util.concurrent.TimeUnit.SECONDS); v
    }
    spark.udf.register("idn_rendezvous", rendezvous)
    import java.util.concurrent.{Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Option[Throwable]]()
    (0 until 2).foreach { i =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          val r = try {
            spark.range(i * 10, i * 10 + 3, 1, 1)
              .selectExpr("CAST(NULL AS BIGINT) AS id", "idn_rendezvous(id) AS v")
              .writeTo("graft.idn.cc").append()
            None
          } catch { case t: Throwable => Some(t) }
          outcomes.add(r)
        }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "writers finished")
    val (failed, ok) = outcomes.toArray(Array.empty[Option[Throwable]])
      .partition(_.isDefined)
    assert(ok.length == 1 && failed.length == 1,
      s"exactly one write commits, got ok=${ok.length} failed=${failed.length}")
    def conflict(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("concurrent")) ||
        conflict(t.getCause))
    assert(conflict(failed.head.get), s"loser failed as a CONFLICT: ${failed.head.get}")
    val ids = spark.sql("SELECT id FROM graft.idn.cc").as[Long].collect()
    assert(ids.length == 3 && ids.distinct.length == 3,
      "only the winner's rows landed; ids unique")
    spark.sql("DROP TABLE graft.idn.cc PURGE")
  }

  test("streaming writes refuse to generate identity values (batch-only), loudly") {
    spark.sql("DROP TABLE IF EXISTS graft.idn.st PURGE")
    spark.sql("CREATE TABLE graft.idn.st " +
      "(id BIGINT GENERATED BY DEFAULT AS IDENTITY, v BIGINT) USING graft")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    ms.addData(1L, 2L)
    val q = ms.toDF().selectExpr("CAST(NULL AS BIGINT) AS id", "value AS v")
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("idn_ck").toString)
      .toTable("graft.idn.st")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable(); q.stop()
    }
    assert(e.getMessage.contains("batch-only") ||
      Option(e.getCause).exists(_.getMessage.contains("batch-only")))
    try q.stop() catch { case _: Throwable => () }
    spark.sql("DROP TABLE graft.idn.st PURGE")
  }
}
