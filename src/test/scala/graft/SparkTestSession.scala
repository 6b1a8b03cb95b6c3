package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (SURVEY.md §5b) — session
  * startup is ~2 s, so per-suite sessions would dominate test time.
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft_test_warehouse")
      // Engine default, matching Verify/Bench: SPJ reads the layout.
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // Every catalog suite reads `graft.*`; registered once, here.
      .config(SessionConf.CatalogKey, classOf[graft.sources.GraftCatalog].getName)
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions()) // prod extension path, incl. V2 views
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
