package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract checks on the driver-facing registry plus an sf0.001 smoke
  * run of every registered query (each as its own dynamic test so a
  * failure names the query).
  */
class RegistrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("query names are unique and oracle keys are a subset") {
    val names = SparkEntry.queries.keys.toSeq
    assert(names.distinct.size == names.size)
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql without queries entry: $orphans")
  }

  test("entry (flagship) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // Each row must also leave the session as it found it: same conf map,
  // no stream left running, and no more checksum checkpoint threads than
  // before within 5 s (a stream that keeps its state stores loaded keeps
  // one pool per provider). Cached data is not checked — the persisted
  // stages of SimilarityQueries and PipelineQueries.gramRows are
  // released by the caller's clearCache(), their documented contract.
  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"smoke: $name runs on sf0.001") {
      val before = spark.conf.getAll
      val threadsBefore = StateStoreReleaseSpec.checksumThreads()
      try {
        val df = fn(spark, sfDir)
        assert(df.columns.nonEmpty)
        assert(df.count() >= 0)
        val after = spark.conf.getAll
        val changed = (before.keySet ++ after.keySet).toSeq.sorted
          .filter(k => before.get(k) != after.get(k))
          .map(k => s"$k: ${before.getOrElse(k, "<unset>")} -> ${after.getOrElse(k, "<unset>")}")
        assert(changed.isEmpty, s"$name changed the session conf: ${changed.mkString("; ")}")
        assert(spark.streams.active.isEmpty,
          s"$name left streams running: ${spark.streams.active.map(_.name).mkString(", ")}")
        val threadsAfter = StateStoreReleaseSpec.settledThreads(threadsBefore)
        assert(threadsAfter <= threadsBefore,
          s"$name left state stores loaded: $threadsBefore checksum checkpoint threads " +
            s"before, $threadsAfter 5 s after")
      } finally spark.catalog.clearCache() // see Bench: cache-entry buildup
    }
  }
}
