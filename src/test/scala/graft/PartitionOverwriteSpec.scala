package graft

import org.scalatest.funsuite.AnyFunSuite

/** Partition-scoped and dynamic INSERT OVERWRITE — the idempotent
  * backfill primitive: replace exactly the targeted partitions in one
  * atomic commit; everything else (incl. retained history) survives.
  */
class PartitionOverwriteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rows(t: String): Set[(String, Long)] =
    spark.sql(s"SELECT k, v FROM $t").as[(String, Long)].collect().toSet

  test("static PARTITION (k='…') overwrite replaces only that partition") {
    spark.sql("DROP TABLE IF EXISTS graft.po.t")
    spark.sql(
      "CREATE TABLE graft.po.t (k STRING, v BIGINT) USING graft PARTITIONED BY (k)")
    spark.sql("INSERT INTO graft.po.t VALUES ('a', 1), ('a', 2), ('b', 10), ('c', 20)")
    spark.sql("INSERT OVERWRITE graft.po.t PARTITION (k = 'a') VALUES (100), (101)")
    assert(rows("graft.po.t") ==
      Set(("a", 100L), ("a", 101L), ("b", 10L), ("c", 20L)))
    // Idempotent backfill: run it again, same state.
    spark.sql("INSERT OVERWRITE graft.po.t PARTITION (k = 'a') VALUES (100), (101)")
    assert(rows("graft.po.t") ==
      Set(("a", 100L), ("a", 101L), ("b", 10L), ("c", 20L)))
    // Pre-overwrite state stays time-travelable.
    assert(spark.sql("SELECT k, v FROM graft.po.t VERSION AS OF 1")
      .as[(String, Long)].collect().toSet ==
      Set(("a", 1L), ("a", 2L), ("b", 10L), ("c", 20L)))
  }

  test("dynamic mode replaces only the partitions the write touches") {
    // Self-contained fixture — no dependence on the previous test's
    // leftover state or ordering.
    spark.sql("DROP TABLE IF EXISTS graft.po.d")
    spark.sql(
      "CREATE TABLE graft.po.d (k STRING, v BIGINT) USING graft PARTITIONED BY (k)")
    spark.sql("INSERT INTO graft.po.d VALUES ('a', 1), ('b', 10), ('c', 20)")
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("INSERT OVERWRITE graft.po.d VALUES ('b', 999), ('d', 7)")
      // b replaced, d created, a and c untouched.
      assert(rows("graft.po.d") ==
        Set(("a", 1L), ("b", 999L), ("c", 20L), ("d", 7L)))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    // Static mode without a partition clause = full replace (truncate).
    spark.sql("INSERT OVERWRITE graft.po.d VALUES ('z', 1)")
    assert(rows("graft.po.d") == Set(("z", 1L)))
    spark.sql("DROP TABLE graft.po.d")
    spark.sql("DROP TABLE IF EXISTS graft.po.t")
  }
}
