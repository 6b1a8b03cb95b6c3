package graft

import org.scalatest.funsuite.AnyFunSuite

/** `CALL graft.system.copy_into` — idempotent exactly-once file
  * ingestion (the Delta COPY INTO shape). File identity is
  * sha-256(path|size|mtime); the batch's tokens commit atomically with
  * its segments, so a re-run (retry, replay, crash-restart) loads only
  * what a prior run didn't.
  */
class CopyIntoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshDir(name: String): java.io.File = {
    val d = new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft_copyinto/$name")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.mkdirs()
    d
  }

  private def call(t: String, src: String, fmt: String = "parquet", opts: String = "") =
    spark.sql(s"CALL graft.system.copy_into('ci', '$t', '$src', '$fmt', '$opts')")
      .collect().head

  private def count(t: String): Long =
    spark.sql(s"SELECT count(*) FROM graft.ci.$t").as[Long].head()

  test("re-run loads nothing; a newly arrived file loads alone") {
    val dir = freshDir("base")
    spark.sql("DROP TABLE IF EXISTS graft.ci.t PURGE")
    spark.sql("CREATE TABLE graft.ci.t (k BIGINT, v STRING) USING graft")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(2)
      .write.mode("append").parquet(dir.toString)
    val first = call("t", dir.toString)
    assert(first.getInt(1) == 2 && first.getLong(3) == 2L, s"first load: $first")
    val rerun = call("t", dir.toString)
    assert(rerun.getInt(1) == 0 && rerun.getInt(2) == 2 && rerun.getLong(3) == 0L,
      s"re-run must skip everything: $rerun")
    assert(count("t") == 2L)
    // A late-arriving file loads alone — the already-loaded pair skips.
    Seq((3L, "c")).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(dir.toString)
    val late = call("t", dir.toString)
    assert(late.getInt(1) == 1 && late.getInt(2) == 2 && late.getLong(3) == 1L,
      s"late file: $late")
    assert(count("t") == 3L)
    spark.sql("DROP TABLE graft.ci.t PURGE")
  }

  test("csv reads with the TABLE schema; missing nullable column NULL-fills") {
    val dir = freshDir("csv")
    java.nio.file.Files.write(
      new java.io.File(dir, "part1.csv").toPath,
      "k,v\n10,x\n11,y\n".getBytes("UTF-8"))
    spark.sql("DROP TABLE IF EXISTS graft.ci.c PURGE")
    spark.sql("CREATE TABLE graft.ci.c (k BIGINT, v STRING, extra DOUBLE) USING graft")
    val r = call("c", dir.toString, "csv", "header=true")
    assert(r.getInt(1) == 1 && r.getLong(3) == 2L)
    val rows = spark.sql("SELECT k, v, extra FROM graft.ci.c ORDER BY k").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(10L, 11L))
    assert(rows.forall(_.isNullAt(2)), "missing source column must NULL-fill")
    spark.sql("DROP TABLE graft.ci.c PURGE")
  }

  test("csv with a REORDERED header binds by name, not position") {
    val dir = freshDir("csvorder")
    // Header order v,k — opposite of the table's (k, v).
    java.nio.file.Files.write(
      new java.io.File(dir, "part1.csv").toPath,
      "v,k\nx,10\ny,11\n".getBytes("UTF-8"))
    spark.sql("DROP TABLE IF EXISTS graft.ci.o PURGE")
    spark.sql("CREATE TABLE graft.ci.o (k BIGINT, v STRING) USING graft")
    assert(call("o", dir.toString, "csv", "header=true").getLong(3) == 2L)
    val rows = spark.sql("SELECT k, v FROM graft.ci.o ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(rows == Seq((10L, "x"), (11L, "y")),
      s"columns must bind by header NAME, got $rows")
    // A typo'd header column refuses (the by-name check can now fire).
    val dir2 = freshDir("csvtypo")
    java.nio.file.Files.write(
      new java.io.File(dir2, "part1.csv").toPath,
      "typo,k\nx,10\n".getBytes("UTF-8"))
    val e = intercept[Exception] { call("o", dir2.toString, "csv", "header=true") }
    assert(e.getMessage.contains("typo"), e.getMessage)
    spark.sql("DROP TABLE graft.ci.o PURGE")
  }

  test("one batch, two csv files with DIFFERENT header orders: each binds by its own header") {
    // The crosswise-mapping trap: deriving ONE layout from a single
    // inferred read and applying it by position to every file would
    // land the second file's values in the wrong columns. Files must
    // be grouped by their own header signature.
    val dir = freshDir("csvmixed")
    java.nio.file.Files.write(
      new java.io.File(dir, "a.csv").toPath,
      "k,v\n1,one\n2,two\n".getBytes("UTF-8"))
    java.nio.file.Files.write(
      new java.io.File(dir, "b.csv").toPath,
      "v,k\nthree,3\nfour,4\n".getBytes("UTF-8"))
    spark.sql("DROP TABLE IF EXISTS graft.ci.mx PURGE")
    spark.sql("CREATE TABLE graft.ci.mx (k BIGINT, v STRING) USING graft")
    val r = call("mx", dir.toString, "csv", "header=true")
    assert(r.getInt(1) == 2 && r.getLong(3) == 4L, s"mixed-order batch: $r")
    val rows = spark.sql("SELECT k, v FROM graft.ci.mx ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "one"), (2L, "two"), (3L, "three"), (4L, "four")),
      s"each file must bind by ITS OWN header, got $rows")
    spark.sql("DROP TABLE graft.ci.mx PURGE")
  }

  test("unknown source column refuses; nothing lands") {
    val dir = freshDir("unknown")
    Seq((1L, "a", 9.9)).toDF("k", "v", "typo").coalesce(1)
      .write.mode("append").parquet(dir.toString)
    spark.sql("DROP TABLE IF EXISTS graft.ci.u PURGE")
    spark.sql("CREATE TABLE graft.ci.u (k BIGINT, v STRING) USING graft")
    val e = intercept[Exception] { call("u", dir.toString) }
    assert(e.getMessage.contains("typo"), e.getMessage)
    assert(count("u") == 0L, "a refused copy_into must not land rows")
    spark.sql("DROP TABLE graft.ci.u PURGE")
  }

  test("a REWRITTEN file (same path, new content) counts as new data") {
    val dir = freshDir("rewrite")
    val f = new java.io.File(dir, "d.csv")
    java.nio.file.Files.write(f.toPath, "1,a\n".getBytes("UTF-8"))
    spark.sql("DROP TABLE IF EXISTS graft.ci.rw PURGE")
    spark.sql("CREATE TABLE graft.ci.rw (k BIGINT, v STRING) USING graft")
    assert(call("rw", dir.toString, "csv").getLong(3) == 1L)
    // Same path, different size => different identity token.
    java.nio.file.Files.write(f.toPath, "1,a\n2,bb\n".getBytes("UTF-8"))
    val r2 = call("rw", dir.toString, "csv")
    assert(r2.getInt(1) == 1 && r2.getLong(3) == 2L,
      s"rewritten file must reload: $r2")
    assert(count("rw") == 3L)
    spark.sql("DROP TABLE graft.ci.rw PURGE")
  }

  test("registry is reserved from SET; UNSET is the force-reload escape hatch") {
    val dir = freshDir("force")
    Seq((1L, "a")).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(dir.toString)
    spark.sql("DROP TABLE IF EXISTS graft.ci.f PURGE")
    spark.sql("CREATE TABLE graft.ci.f (k BIGINT, v STRING) USING graft")
    assert(call("f", dir.toString).getLong(3) == 1L)
    intercept[Exception] {
      spark.sql(
        "ALTER TABLE graft.ci.f SET TBLPROPERTIES ('graft.copyinto.loaded'='deadbeef')")
    }
    // SHOW TBLPROPERTIES hides the internal registry.
    assert(!spark.sql("SHOW TBLPROPERTIES graft.ci.f").collect()
      .exists(_.getString(0) == "graft.copyinto.loaded"))
    spark.sql("ALTER TABLE graft.ci.f UNSET TBLPROPERTIES ('graft.copyinto.loaded')")
    val again = call("f", dir.toString)
    assert(again.getInt(1) == 1 && again.getLong(3) == 1L,
      "after UNSET the same file force-reloads")
    assert(count("f") == 2L)
    spark.sql("DROP TABLE graft.ci.f PURGE")
  }

  test("copy_into fills identity and generated columns the source lacks") {
    val dir = freshDir("idgen")
    Seq((10L, "a"), (20L, "b"), (30L, "c")).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(dir.toString)
    spark.sql("DROP TABLE IF EXISTS graft.ci.g PURGE")
    spark.sql(
      """CREATE TABLE graft.ci.g (
        |  id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 100 INCREMENT BY 1),
        |  k BIGINT, v STRING,
        |  k2 BIGINT GENERATED ALWAYS AS (k * 2)) USING graft""".stripMargin)
    val r = call("g", dir.toString)
    assert(r.getLong(3) == 3L)
    val rows = spark.sql("SELECT id, k, k2 FROM graft.ci.g ORDER BY k").collect()
    assert(rows.map(_.getLong(0)).toSet.size == 3 &&
      rows.forall(_.getLong(0) >= 100L), "identity ids generated, unique, on-progression")
    assert(rows.forall(r => r.getLong(2) == r.getLong(1) * 2),
      "generated column computed at write")
    spark.sql("DROP TABLE graft.ci.g PURGE")
  }

  test("concurrent copy_into of the same files stays exactly-once") {
    val dir = freshDir("race")
    (0 until 6).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(dir.toString)
    }
    spark.sql("DROP TABLE IF EXISTS graft.ci.race PURGE")
    spark.sql("CREATE TABLE graft.ci.race (k BIGINT, v STRING) USING graft")
    // 4 racers, each retrying on the conflict refusal: the tokens-with-
    // segments atomic commit means whatever interleaving wins, every
    // file's rows land EXACTLY once across all racers.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val loaded = new java.util.concurrent.atomic.AtomicLong(0)
    try {
      val tasks = (1 to 4).map { _ =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            var attempts = 0
            var done = false
            while (!done && attempts < 10) {
              attempts += 1
              try {
                loaded.addAndGet(call("race", dir.toString).getLong(3))
                done = true
              } catch {
                // Spark may wrap the commit refusal — scan the chain.
                case e: Throwable if Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
                  .take(8).exists(t => Option(t.getMessage)
                    .exists(_.contains("concurrent copy_into"))) => () // re-diff, retry
              }
            }
            assert(done, "racer never converged")
          }
        })
      }
      tasks.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(loaded.get() == 6L,
      s"racers together must load each file exactly once, loaded ${loaded.get()}")
    assert(count("race") == 6L)
    assert(spark.sql("SELECT count(DISTINCT k) FROM graft.ci.race").as[Long].head() == 6L)
    spark.sql("DROP TABLE graft.ci.race PURGE")
  }

  test("registry rides the ledger: a restart still skips loaded files") {
    // Ledger-backed catalog (whichever suite instantiates pgraft first
    // binds the JVM-wide root; the shared-store semantics are the same).
    spark.conf.set("spark.sql.catalog.pgraft", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.pgraft.root",
      java.nio.file.Files.createTempDirectory("graft_copyinto_root_").toString)
    val dir = freshDir("ledger")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(dir.toString)
    spark.sql("DROP TABLE IF EXISTS pgraft.cil.l PURGE")
    spark.sql("CREATE TABLE pgraft.cil.l (k BIGINT, v STRING) USING graft")
    assert(spark.sql(
      s"CALL pgraft.system.copy_into('cil', 'l', '$dir', 'parquet', '')")
      .collect().head.getLong(3) == 2L)
    // Simulated restart: drop in-memory state; the next statement
    // reloads the entry — registry prop included — from the ledger.
    graft.sources.GraftCatalog.resetInMemoryStateForTest(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("cil"), "l"))
    val r = spark.sql(
      s"CALL pgraft.system.copy_into('cil', 'l', '$dir', 'parquet', '')").collect().head
    assert(r.getInt(1) == 0 && r.getInt(2) == 1,
      s"reloaded registry must still skip: $r")
    assert(spark.sql("SELECT count(*) FROM pgraft.cil.l").as[Long].head() == 2L)
    spark.sql("DROP TABLE pgraft.cil.l PURGE")
  }
}
