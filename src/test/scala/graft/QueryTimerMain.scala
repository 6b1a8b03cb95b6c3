package graft

import org.apache.spark.sql.SparkSession

/** Dev harness (test scope, not shipped): time + explain a subset of
  * registry queries while iterating on plans, with per-rep job, stage
  * and task counts and, for rows that start streams, one line per
  * micro-batch.
  *
  *   sbt 'Test/runMain graft.QueryTimerMain l8_ngram_decontaminate'
  *   sbt 'Test/runMain graft.QueryTimerMain st13_join_window_agg'
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
  * GRAFT_EXPLAIN=1 to dump the formatted plan.
  */
object QueryTimerMain {

  /** Per-query scheduler/task accounting: jobs, stages, tasks, and the
    * SUM of task wall-clock — wall >> taskSum/cores means the time is on
    * the DRIVER (planning, job setup, collect), not the executors.
    */
  private class Acct extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(
        s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
    }
    def reset(): Unit = { jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0) }
  }

  /** Per-micro-batch profile of the streams a row starts: batch id,
    * input rows, the `durationMs` phases (addBatch, getBatch,
    * queryPlanning, walCommit, commitOffsets, ...) and the number of
    * state operators.
    */
  private object BatchLog extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      println(s"[batch]   ${p.name} batch=${p.batchId} rows=${p.numInputRows} " +
        s"durations=${p.durationMs} stateOps=${p.stateOperators.length}")
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions())
    // GRAFT_CONF="k=v;k=v" — extra session confs for A/B experiments.
    sys.env.get("GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k, v)
      }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val acct = new Acct
    spark.sparkContext.addSparkListener(acct)
    spark.streams.addListener(BatchLog)
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val reps = sys.env.getOrElse("GRAFT_REPS", "3").toInt
    // GRAFT_AB="k=v;k=v": interleaved same-session A/B — each rep runs
    // once with the confs applied (A) and once with session defaults
    // (B), so box drift and JIT warm-up hit both arms equally.
    val abConf: Seq[(String, String)] = sys.env.get("GRAFT_AB").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (sys.env.get("GRAFT_EXPLAIN").contains("1"))
        fn(spark, sfDir).explain("formatted")
      def cleanup(): Unit = {
        spark.catalog.clearCache()
        spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      }
      // untimed warm-up (fixture build + JIT), mirroring Bench
      try { fn(spark, sfDir).count(); () } catch { case _: Throwable => () }
      cleanup()
      def timed(): (Double, String) = {
        acct.reset()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val e = (System.nanoTime() - t0) / 1e9
        org.apache.spark.sql.GraftTestBridge.drainListenerBus(spark.sparkContext)
        val detail = f"jobs=${acct.jobs.get}%3d stages=${acct.stages.get}%3d " +
          f"tasks=${acct.tasks.get}%4d taskSum=${acct.taskMs.get / 1000.0}%7.2fs"
        cleanup()
        (e, detail)
      }
      if (abConf.nonEmpty) {
        val saved = abConf.map { case (k, _) => k -> spark.conf.getOption(k) }
        val (as, bs) = (1 to reps).map { _ =>
          abConf.foreach { case (k, v) => spark.conf.set(k, v) }
          val a = timed()._1
          saved.foreach {
            case (k, Some(v)) => spark.conf.set(k, v)
            case (k, None) => spark.conf.unset(k)
          }
          val b = timed()._1
          (a, b)
        }.unzip
        println(f"[timer] $name%-32s A(min=${as.min}%.3f med=${as.sorted.apply(reps / 2)}%.3f) " +
          f"B(min=${bs.min}%.3f med=${bs.sorted.apply(reps / 2)}%.3f)  " +
          f"allA=${as.map(t => f"$t%.3f").mkString(",")} allB=${bs.map(t => f"$t%.3f").mkString(",")}")
      } else {
        val times = (1 to reps).map(_ => timed())
        val med = times.map(_._1).sorted.apply(reps / 2)
        println(f"[timer] $name%-32s median=$med%.3f  all=${times.map(t => f"${t._1}%.3f").mkString(",")}")
        times.foreach { case (e, d) => println(f"[timer]   rep=$e%.3fs $d") }
      }
    }
    spark.stop()
  }
}
