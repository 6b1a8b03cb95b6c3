package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SessionConf.withConfs` restores or unsets every key it set, and
  * `registerCatalog` is idempotent.
  */
class SessionConfSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Retain = "spark.sql.streaming.minBatchesToRetain"
  private val Parts = "spark.sql.shuffle.partitions"

  private def isSet(k: String): Boolean = spark.conf.getAll.contains(k)

  test("an explicitly set key gets its value back") {
    assert(spark.conf.get(Parts) == "4")
    SessionConf.withConfs(spark)(Parts -> "7") {
      assert(spark.conf.get(Parts) == "7")
    }
    assert(spark.conf.get(Parts) == "4")
  }

  test("an unset key with a Spark default ends unset, not set to the default") {
    spark.conf.unset(Retain)
    // The trap: getOption reports the default for a key nobody set.
    assert(spark.conf.getOption(Retain).isDefined && !isSet(Retain))
    SessionConf.withConfs(spark)(Retain -> "2") {
      assert(spark.conf.get(Retain) == "2")
    }
    assert(!isSet(Retain), s"$Retain left set to ${spark.conf.get(Retain)}")
  }

  test("prior values come back when the body throws") {
    spark.conf.unset(Retain)
    intercept[IllegalStateException] {
      SessionConf.withConfs(spark)(Parts -> "9", Retain -> "3") {
        throw new IllegalStateException("boom")
      }
    }
    assert(spark.conf.get(Parts) == "4")
    assert(!isSet(Retain))
  }

  test("nested withConfs on the same key unwinds level by level") {
    spark.conf.unset(Retain)
    SessionConf.withConfs(spark)(Retain -> "5") {
      SessionConf.withConfs(spark)(Retain -> "6", Parts -> "8") {
        assert(spark.conf.get(Retain) == "6" && spark.conf.get(Parts) == "8")
      }
      assert(spark.conf.get(Retain) == "5" && spark.conf.get(Parts) == "4")
    }
    assert(!isSet(Retain))
  }

  test("registerCatalog twice leaves exactly one catalog entry") {
    val s = spark.newSession()
    s.conf.unset(SessionConf.CatalogKey)
    SessionConf.registerCatalog(s)
    val once = s.conf.getAll
    SessionConf.registerCatalog(s)
    assert(s.conf.getAll == once)
    assert(once.filter(_._1.startsWith("spark.sql.catalog.graft")) ==
      Map(SessionConf.CatalogKey -> classOf[graft.sources.GraftCatalog].getName))
  }
}
