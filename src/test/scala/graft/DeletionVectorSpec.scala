package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftCatalog

/** Merge-on-read deletes: a minority DELETE attaches a deletion vector
  * (no file rewrite), a majority DELETE copy-on-writes, readers skip dv
  * ordinals everywhere (scan, row-level ops, time travel reads the
  * UN-deleted past), compaction materializes, and metadata aggregates
  * stay exact (COUNT via live rows; MIN/MAX decline the stats path).
  */
class DeletionVectorSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("minority DELETE writes a deletion vector, not a file; scans skip it") {
    spark.sql("DROP TABLE IF EXISTS graft.dv.t")
    spark.sql("CREATE TABLE graft.dv.t (k BIGINT, v DOUBLE) USING graft")
    spark.sql("INSERT INTO graft.dv.t SELECT id, id * 0.5 FROM range(0, 1000, 1, 1)")
    val filesBefore = GraftCatalog.segmentFilesOnDisk("dv", "t")
    spark.sql("DELETE FROM graft.dv.t WHERE k >= 990") // 10 of 1000 rows
    assert(GraftCatalog.segmentFilesOnDisk("dv", "t") == filesBefore,
      "a 1% delete must not write or retire any file")
    assert(GraftCatalog.dvDeletedRows("dv", "t") == 10L)
    assert(GraftCatalog.rowCount("dv", "t") == 990L)
    assert(spark.sql("SELECT count(*), max(k) FROM graft.dv.t")
      .as[(Long, Long)].head() == ((990L, 989L)))
    assert(spark.sql("SELECT count(*) FROM graft.dv.t WHERE k >= 980")
      .as[Long].head() == 10L)
    // second dv delete merges into the existing vector
    spark.sql("DELETE FROM graft.dv.t WHERE k < 5")
    assert(GraftCatalog.dvDeletedRows("dv", "t") == 15L)
    assert(spark.sql("SELECT min(k), count(*) FROM graft.dv.t")
      .as[(Long, Long)].head() == ((5L, 985L)))
  }

  test("majority DELETE copy-on-writes instead of carrying a near-full bitmap") {
    spark.sql("DROP TABLE IF EXISTS graft.dv.m")
    spark.sql("CREATE TABLE graft.dv.m (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.dv.m SELECT id FROM range(0, 100, 1, 1)")
    spark.sql("DELETE FROM graft.dv.m WHERE k < 80")
    assert(GraftCatalog.dvDeletedRows("dv", "m") == 0L,
      "an 80% delete must rewrite, not attach a dv")
    assert(GraftCatalog.rowCount("dv", "m") == 20L)
    assert(spark.sql("SELECT min(k) FROM graft.dv.m").as[Long].head() == 80L)
    // delete-everything drops the segment entirely
    spark.sql("DELETE FROM graft.dv.m WHERE k >= 0")
    assert(GraftCatalog.segmentCount("dv", "m") == 0)
  }

  test("time travel reads the pre-delete snapshot through the SAME file") {
    spark.sql("DROP TABLE IF EXISTS graft.dv.tt")
    spark.sql("CREATE TABLE graft.dv.tt (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.dv.tt SELECT id FROM range(0, 100, 1, 1)")
    val v = spark.sql("CALL graft.system.history('dv', 'tt')")
      .select("version").as[Long].collect().max
    spark.sql("DELETE FROM graft.dv.tt WHERE k >= 90")
    assert(GraftCatalog.dvDeletedRows("dv", "tt") == 10L, "expected the dv path")
    assert(spark.sql("SELECT count(*) FROM graft.dv.tt").as[Long].head() == 90L)
    assert(spark.sql(s"SELECT count(*) FROM graft.dv.tt VERSION AS OF $v")
      .as[Long].head() == 100L)
  }

  test("compact materializes deletion vectors; results unchanged") {
    spark.sql("DROP TABLE IF EXISTS graft.dv.c")
    spark.sql("CREATE TABLE graft.dv.c (k BIGINT, s STRING) USING graft")
    spark.sql(
      "INSERT INTO graft.dv.c SELECT id, concat('x', CAST(id AS STRING)) FROM range(0, 500, 1, 2)")
    spark.sql("DELETE FROM graft.dv.c WHERE k >= 50 AND k < 100")
    val expect = spark.sql("SELECT k, s FROM graft.dv.c ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(GraftCatalog.dvDeletedRows("dv", "c") > 0L)
    val res = spark.sql("CALL graft.system.compact('dv', 'c')").collect()
    assert(res(0).getLong(3) == expect.length.toLong, res.mkString)
    assert(GraftCatalog.dvDeletedRows("dv", "c") == 0L, "compact must materialize dvs")
    assert(spark.sql("SELECT k, s FROM graft.dv.c ORDER BY k")
      .as[(Long, String)].collect().toSeq == expect)
  }

  test("UPDATE over dv-carrying segments never resurrects deleted rows") {
    spark.sql("DROP TABLE IF EXISTS graft.dv.u")
    spark.sql("CREATE TABLE graft.dv.u (k BIGINT, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.dv.u SELECT id, 0 FROM range(0, 100, 1, 1)")
    spark.sql("DELETE FROM graft.dv.u WHERE k < 10") // dv on the lone segment
    spark.sql("UPDATE graft.dv.u SET v = 1 WHERE k < 50")
    assert(spark.sql("SELECT count(*) FROM graft.dv.u").as[Long].head() == 90L)
    assert(spark.sql("SELECT count(*) FROM graft.dv.u WHERE v = 1").as[Long].head() == 40L)
    assert(spark.sql("SELECT min(k) FROM graft.dv.u").as[Long].head() == 10L)
  }

  test("DELETE with NOT over a NULL comparison keeps the NULL row (3-valued logic)") {
    spark.sql("DROP TABLE IF EXISTS graft.dv.n3 PURGE")
    spark.sql("CREATE TABLE graft.dv.n3 (a BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.dv.n3 VALUES (5, 'five'), (7, 'seven'), (NULL, 'null')")
    // NOT(a = 5) is UNKNOWN for the NULL row — SQL deletes only TRUE.
    spark.sql("DELETE FROM graft.dv.n3 WHERE a <> 5")
    val left = spark.sql("SELECT v FROM graft.dv.n3 ORDER BY v")
      .as[String].collect().toSeq
    assert(left == Seq("five", "null"),
      s"the NULL row must survive a <> delete, got $left")
    spark.sql("DROP TABLE graft.dv.n3 PURGE")
  }

  test("DELETE on a DECIMAL column actually deletes (exact decimal compare)") {
    spark.sql("DROP TABLE IF EXISTS graft.dv.dec PURGE")
    spark.sql("CREATE TABLE graft.dv.dec (p DECIMAL(10,2), v STRING) USING graft")
    spark.sql("INSERT INTO graft.dv.dec VALUES (5.00, 'a'), (6.50, 'b')")
    spark.sql("DELETE FROM graft.dv.dec WHERE p = 5.00")
    val left = spark.sql("SELECT v FROM graft.dv.dec").as[String].collect().toSeq
    assert(left == Seq("b"), s"the 5.00 row must actually delete, got $left")
    spark.sql("DROP TABLE graft.dv.dec PURGE")
  }

  test("DELETE on bigint keys above 2^53 deletes exactly the named row") {
    spark.sql("DROP TABLE IF EXISTS graft.dv.big PURGE")
    spark.sql("CREATE TABLE graft.dv.big (id BIGINT) USING graft")
    // Adjacent longs that collapse to the SAME double — a lossy
    // double-compare evaluator deletes both.
    spark.sql("INSERT INTO graft.dv.big VALUES (9007199254740992), (9007199254740993)")
    spark.sql("DELETE FROM graft.dv.big WHERE id = 9007199254740993")
    val left = spark.sql("SELECT id FROM graft.dv.big").as[Long].collect().toSeq
    assert(left == Seq(9007199254740992L), s"only the named row deletes, got $left")
    spark.sql("DROP TABLE graft.dv.big PURGE")
  }

  test("supplementary-plane strings: pruning agrees with the UTF-8 stats order") {
    spark.sql("DROP TABLE IF EXISTS graft.dv.sup PURGE")
    spark.sql("CREATE TABLE graft.dv.sup (s STRING) USING graft")
    // U+FFFF sorts BELOW U+10000 in UTF-8 binary order (the stats
    // writer's min/max order) but ABOVE it under UTF-16 compareTo — a
    // UTF-16 pruner would prove the segment empty and drop the row.
    spark.sql("INSERT INTO graft.dv.sup VALUES ('￿'), ('𐀀')")
    // Under Spark's UTF8String order U+10000 > U+FFFF, so BOTH rows
    // match — a UTF-16 pruner saw max(U+10000) < U+FFFF and returned 0.
    val got = spark.sql("SELECT count(*) FROM graft.dv.sup WHERE s >= '￿'")
      .head().getLong(0)
    assert(got == 2L, s"both rows must survive zone-map pruning, got $got")
    spark.sql("DROP TABLE graft.dv.sup PURGE")
  }

  test("a dv commit is a CHANGE commit for streaming readers") {
    spark.sql("DROP TABLE IF EXISTS graft.dv.s")
    spark.sql("CREATE TABLE graft.dv.s (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.dv.s VALUES (1,'a'), (2,'b'), (3,'c')")
    val q = spark.readStream.table("graft.dv.s")
      .writeStream.format("memory").queryName("dvs").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dvs").count() == 3)
      spark.sql("DELETE FROM graft.dv.s WHERE k = 1") // attaches a dv, same file
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable(); q.awaitTermination()
      }
      assert(e.getCause.getMessage.contains("skipChangeCommits"), e.getCause.getMessage)
    } finally q.stop()
  }
}
