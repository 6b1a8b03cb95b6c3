package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Pins the conditionality of `Tables.fanOut` (guide §2.5 input-skew
  * recovery): it must add a round-robin rebalance ONLY when the scan
  * plans fewer partitions than the cluster's parallelism — so that at
  * 100 TB, where a scan has thousands of splits, it is an identity and
  * no shuffle is added. The PlanLint/PipelineSpec wide-column guards
  * whitelist exactly this shape (source-adjacent round-robin); this
  * spec is the proof that the shape is self-limiting.
  */
class FanOutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("fanOut rebalances a single-split scan to defaultParallelism") {
    // On a 1-core runner defaultParallelism == 1 makes fanOut an
    // identity by design — the rebalance assertion is vacuous there.
    assume(spark.sparkContext.defaultParallelism > 1,
      "fanOut is an identity at defaultParallelism == 1")
    val docs = Tables.documents(spark, dir) // one row group → 1 partition
    assert(docs.rdd.getNumPartitions < spark.sparkContext.defaultParallelism)
    val fanned = Tables.fanOut(docs)
    assert(fanned.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    // AQE hides the plan inside AdaptiveSparkPlanExec until execution;
    // disable it for the shape assertion (the PlanLintSpec discipline).
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    val exchanges = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      Tables.fanOut(docs).queryExecution.executedPlan
        .collect { case s: ShuffleExchangeExec => s }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert(exchanges.size == 1)
    assert(exchanges.head.outputPartitioning.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning])
    // Row set is untouched — redistribution only.
    assert(fanned.count() == docs.count())
  }

  test("fanOut is an identity when the input already has enough partitions") {
    // A scan-rooted frame with more splits than defaultParallelism (a
    // repartitioned frame is refused — see the next test).
    val wide = spark.range(0, 1000, 1, spark.sparkContext.defaultParallelism * 2).toDF()
    val fanned = Tables.fanOut(wide)
    // Same DataFrame object: no plan change, hence no added exchange.
    assert(fanned eq wide)
  }

  test("fanOut refuses a frame with an exchange below it") {
    val docs = Tables.documents(spark, dir)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Seq(
        "aggregate" -> docs.groupBy("doc_id").count(),
        "repartition" -> docs.repartition(2),
        "join" -> docs.join(docs.select("doc_id"), "doc_id")).foreach { case (what, df) =>
        val e = intercept[IllegalArgumentException](Tables.fanOut(df))
        assert(e.getMessage.contains("scan-rooted"), what)
      }
      // A row-local projection over the scan still passes.
      Tables.fanOut(docs.select("doc_id").filter("doc_id > 0"))
      org.apache.spark.sql.GraftTestBridge.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    // The refusal happens on the plan, before the partition probe runs
    // any of the exchanges as jobs.
    assert(jobs.get == 0, s"${jobs.get} jobs ran")
  }
}
