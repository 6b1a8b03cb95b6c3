package graft

import org.apache.spark.sql.SparkSession

/** The one way engine code changes a session's conf, so that a query
  * leaves the session as it found it.
  */
object SessionConf {
  val CatalogKey = "spark.sql.catalog.graft"

  /** Run `body` with each `k -> v` set on `spark`'s conf. Afterwards —
    * also when `body` throws — each key is restored to its explicitly
    * set prior value, or UNSET if it had none. (`conf.getOption` cannot
    * record this: for an unset key it reports Spark's default, and
    * writing that back leaves the key set.) Keys unwind in reverse
    * order, so nested calls on the same key restore level by level.
    * A lazy DataFrame returned by `body` plans later, under the
    * restored conf.
    */
  def withConfs[T](spark: SparkSession)(confs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    var saved = List.empty[(String, Option[String])]
    try {
      confs.foreach { case (k, v) =>
        saved = (k -> conf.getAll.get(k)) :: saved // getAll: explicitly set keys only
        conf.set(k, v)
      }
      body
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Register [[graft.sources.GraftCatalog]] as `graft`, unless the key
    * already names it. Session-wide on purpose, not scoped like
    * [[withConfs]]: rows return lazy frames over `graft.*` tables that
    * resolve the catalog when they plan.
    */
  def registerCatalog(spark: SparkSession): Unit = {
    val name = classOf[graft.sources.GraftCatalog].getName
    if (spark.conf.get(CatalogKey, "") != name) spark.conf.set(CatalogKey, name)
  }
}
