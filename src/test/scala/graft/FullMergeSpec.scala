package graft

import org.scalatest.funsuite.AnyFunSuite

/** The Spark-4 FULL MERGE surface over catalog tables — including
  * `WHEN NOT MATCHED BY SOURCE` (the clause that makes MERGE a
  * complete replace-by-key primitive: rows the source no longer
  * carries can be deleted or flagged in the same statement). These
  * plan through the same group-based ReplaceData rewrite as
  * UPDATE/MERGE; the suite pins that the clause actually executes
  * (it post-dates the classic MERGE shape and was untested).
  */
class FullMergeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def kv(t: String): Seq[(Long, String)] =
    spark.sql(s"SELECT k, v FROM $t ORDER BY k").as[(Long, String)].collect().toSeq

  test("MERGE with NOT MATCHED BY SOURCE DELETE makes the target mirror the source") {
    spark.sql("DROP TABLE IF EXISTS graft.fm.t")
    spark.sql("CREATE TABLE graft.fm.t (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.fm.t VALUES (1, 'a1'), (2, 'a2'), (3, 'a3')")
    Seq((2L, "b2"), (4L, "b4")).toDF("k", "v").createOrReplaceTempView("fm_src")
    spark.sql(
      """MERGE INTO graft.fm.t t USING fm_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(kv("graft.fm.t") == Seq(2L -> "b2", 4L -> "b4"),
      "full merge: matched update, unmatched insert, source-absent delete")
    spark.sql("DROP TABLE graft.fm.t")
  }

  test("NOT MATCHED BY SOURCE UPDATE flags source-absent rows in place") {
    spark.sql("DROP TABLE IF EXISTS graft.fm.u")
    spark.sql("CREATE TABLE graft.fm.u (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.fm.u VALUES (1, 'live'), (2, 'live')")
    Seq(Tuple1(1L)).toDF("k").createOrReplaceTempView("fm_keep")
    spark.sql(
      """MERGE INTO graft.fm.u t USING fm_keep s ON t.k = s.k
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'orphaned'""".stripMargin)
    assert(kv("graft.fm.u") == Seq(1L -> "live", 2L -> "orphaned"))
    spark.sql("DROP TABLE graft.fm.u")
  }
}
