package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** Concurrent-writer gauntlet: N threads fire interleaved INSERT /
  * UPDATE / DELETE statements at one catalog table through one shared
  * SparkSession, retrying on optimistic-concurrency refusals. Each
  * thread mutates ONLY its own key (`tid`), so a per-thread model of
  * "what my acknowledged statements did" is exact regardless of the
  * interleaving — the end-state invariant is that the table equals the
  * union of the per-thread models:
  *  - a LOST update/insert (a commit erased by a concurrent
  *    truncate-swap) leaves the table BEHIND a model;
  *  - a DOUBLE-applied retry (an op that failed visibly but committed
  *    invisibly) puts the table AHEAD of a model;
  *  - a torn commit shows up as a row count neither side predicted.
  * On top of the state check: history versions are strictly
  * increasing and dense (every commit published exactly one snapshot),
  * and the net v0→final CDC diff rebuilds the same state — the change
  * feed must stay consistent under contention too.
  */
/** Forked-JVM harness shared by the cross-process gauntlet tests: one
  * definition of the JDK-17 module flags, the child spawn, the
  * await-with-kill discipline (assert clues evaluate EAGERLY — any
  * destroy() lives in a plain if, never inside a clue), and the
  * cleanup sweep — so the gauntlets cannot drift apart on JVM flags.
  */
private object ForkedDrivers {
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
  private val javaBin = java.nio.file.Paths.get(
    System.getProperty("java.home"), "bin", "java").toString

  def spawn(root: java.nio.file.Path, mode: String, extra: String*): Process =
    new ProcessBuilder((Seq(javaBin, "-Xmx2g", "-cp",
      System.getProperty("java.class.path")) ++ addOpens ++
      Seq("-Dspark.ui.enabled=false", "-Dgraft.debug.commits=1",
        "graft.TwoDriverMain", mode, root.toString) ++ extra): _*)
      .redirectOutput(ProcessBuilder.Redirect.DISCARD)
      .redirectError(root.resolve(s"child-$mode-${extra.headOption.map(
        _.split('/').last).getOrElse("x")}.log").toFile)
      .start()

  /** Wait for `p`; on timeout kill it AND `others` (a peer blocked on a
    * marker file the timed-out child never wrote would otherwise hang
    * its own await). Throws the ScalaTest assertion on failure.
    */
  def await(root: java.nio.file.Path, p: Process, what: String,
      timeoutS: Long = 600, others: Seq[Process] = Nil): Unit = {
    val finished = p.waitFor(timeoutS, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) { p.destroyForcibly(); others.foreach(_.destroyForcibly()) }
    org.scalatest.Assertions.assert(finished,
      s"$what did not finish within ${timeoutS}s — see $root/child-*.log")
    org.scalatest.Assertions.assert(p.exitValue() == 0,
      s"$what exited ${p.exitValue()} — see $root/child-*.log")
  }

  def rm(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p)) {
      val s = java.nio.file.Files.list(p)
      try s.iterator().forEachRemaining(rm) finally s.close()
    }
    java.nio.file.Files.deleteIfExists(p): Unit
  }
}

class ConcurrencyGauntletSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val T = "graft.conc.t"

  test("concurrent writers serialize: no lost updates, no double applies") {
    spark.sql(s"DROP TABLE IF EXISTS $T PURGE")
    spark.sql(s"CREATE TABLE $T (tid BIGINT, n BIGINT) USING graft" + GauntletEnv.SoakRetention)
    val threads = 6
    val opsPerThread = GauntletEnv.ops(8) // soak-deepenable like the other gauntlets
    val maxRetries = 40
    // Per-thread model: multiset of n-values under this thread's tid.
    val models = Array.fill(threads)(mutable.Map.empty[Long, Int].withDefaultValue(0))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()

    def conflict(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(m =>
        m.contains("row-level rewrite") || m.contains("concurrent")) ||
        conflict(t.getCause))

    /** Run `stmt`, retrying optimistic refusals; true iff it was
      * acknowledged (so the model applies it), false if retries ran
      * out (the op provably did NOT commit — refusal is pre-publish).
      */
    val conflictsSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    def acked(stmt: String): Boolean = {
      var attempt = 0
      while (true) {
        try { spark.sql(stmt); return true }
        catch {
          case t: Throwable if conflict(t) && attempt < maxRetries =>
            conflictsSeen.incrementAndGet()
            attempt += 1
            Thread.sleep(1L + attempt)
          case t: Throwable if conflict(t) => return false
        }
      }
      false
    }

    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    (0 until threads).foreach { tid =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try {
            val rnd = new scala.util.Random(1000L + tid)
            val model = models(tid)
            for (_ <- 1 to opsPerThread) rnd.nextInt(4) match {
              case 0 | 1 => // INSERT a small batch of (tid, n) rows
                val ns = Seq.fill(1 + rnd.nextInt(3))(rnd.nextInt(5).toLong)
                if (acked(s"INSERT INTO $T VALUES ${
                    ns.map(n => s"($tid, $n)").mkString(", ")}"))
                  ns.foreach(n => model(n) += 1)
              case 2 => // UPDATE all own rows (CoW rewrite under contention)
                if (model.nonEmpty && acked(s"UPDATE $T SET n = n + 10 WHERE tid = $tid")) {
                  val bumped = model.toSeq
                  model.clear()
                  bumped.foreach { case (n, c) => model(n + 10) += c }
                }
              case 3 => // DELETE one own value-class
                if (model.nonEmpty) {
                  val n = model.keys.toSeq(rnd.nextInt(model.size))
                  if (acked(s"DELETE FROM $T WHERE tid = $tid AND n = $n"))
                    model.remove(n)
                }
            }
          } catch { case t: Throwable => failures.add(t) }
      })
    }
    pool.shutdown()
    // Wait scales with soak depth (each op is a full Spark statement,
    // serialized by contention); a stuck pool is KILLED before the
    // assert so leaked threads cannot keep mutating the table under
    // the next test.
    val waitS = math.max(300L, opsPerThread.toLong * threads * 2)
    val finished = pool.awaitTermination(waitS, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) pool.shutdownNow()
    assert(finished, s"gauntlet threads did not finish within ${waitS}s")
    assert(failures.isEmpty, s"unexpected failure: ${failures.peek()}")
    info(s"optimistic conflicts retried: ${conflictsSeen.get()}")

    // Table == union of the per-thread models.
    val got = mutable.Map.empty[(Long, Long), Int].withDefaultValue(0)
    spark.sql(s"SELECT tid, n FROM $T").collect()
      .foreach(r => got((r.getLong(0), r.getLong(1))) += 1)
    val want = mutable.Map.empty[(Long, Long), Int].withDefaultValue(0)
    models.zipWithIndex.foreach { case (m, tid) =>
      m.foreach { case (n, c) => want((tid.toLong, n)) += c }
    }
    assert(got.toMap == want.toMap,
      s"table diverged from the union of acknowledged ops:\n got=$got\nwant=$want")

    // History is dense and strictly increasing — every commit
    // published exactly one snapshot, none vanished, none doubled.
    val versions = spark.sql(s"SELECT version FROM $T.history ORDER BY version")
      .collect().map(_.getLong(0))
    assert(versions.zip(versions.tail).forall { case (a, b) => b == a + 1 },
      s"history not dense: ${versions.mkString(",")}")

    // The net CDC diff v0 -> final rebuilds the same state.
    val replica = mutable.Map.empty[(Long, Long), Int].withDefaultValue(0)
    spark.read.format("graft-changes")
      .option("table", "conc.t").option("changesFrom", "0")
      .load().collect().foreach { r =>
        val key = (r.getLong(0), r.getLong(1))
        r.getString(2) match {
          case "insert" | "update_postimage" => replica(key) += 1
          case _ =>
            replica(key) -= 1
            if (replica(key) == 0) replica.remove(key)
        }
      }
    assert(replica.toMap == want.toMap,
      "net CDC diff diverged from the acknowledged end state under contention")
    spark.sql(s"DROP TABLE $T PURGE")
  }

  test("TWO DRIVER PROCESSES against one warehouse dir lose no update (ledger CAS)") {
    // Real cross-process OCC: forked JVMs (separate GraftCatalog
    // companion state, separate in-memory metastores) share only the
    // warehouse directory. Disjoint appends from both drivers must BOTH
    // land (CAS retry-merge); row-level rewrites refuse when the other
    // driver's commit interleaves (version-token check after the
    // staleness refresh) and succeed on retry. A final FOURTH process
    // with a fresh metastore verifies: what it reads is exactly what
    // the numbered ledger documents say, so a lost update cannot hide
    // in anyone's in-memory state.
    val root = java.nio.file.Files.createTempDirectory("graft_two_driver_")
    def run(mode: String, extra: String*): Process =
      ForkedDrivers.spawn(root, mode, extra: _*)
    def await(p: Process, what: String): Unit =
      ForkedDrivers.await(root, p, what)
    await(run("setup"), "setup driver")
    val ops = GauntletEnv.ops(25).toString
    val m0 = root.resolve("model0.txt").toString
    val m1 = root.resolve("model1.txt").toString
    val w0 = run("write", m0, "0", ops)
    val w1 = run("write", m1, "1", ops)
    // A THIRD process writes through the STREAMING path (one epoch per
    // micro-batch via installEpoch) racing both batch writers: epoch
    // commits must retry-merge lost CASes, not kill the query, and
    // land exactly once.
    val ms = root.resolve("models.txt").toString
    val ws = run("swrite", ms, "8", "3")
    await(w0, "writer driver 0")
    await(w1, "writer driver 1")
    await(ws, "streaming writer driver")
    val dump = root.resolve("final.txt").toString
    await(run("verify", dump), "verify driver")

    def model(path: String, tid: Long): Map[(Long, Long), Long] =
      java.nio.file.Files.readString(java.nio.file.Paths.get(path))
        .linesIterator.filter(_.nonEmpty).map { l =>
          val Array(n, c) = l.split(','); (tid, n.toLong) -> c.toLong
        }.toMap
    val want = model(m0, 0L) ++ model(m1, 1L) ++ model(ms, 9L)
    val lines = java.nio.file.Files.readString(java.nio.file.Paths.get(dump))
      .linesIterator.toSeq
    val got = lines.filter(l => l.nonEmpty && !l.startsWith("versions:")).map { l =>
      val Array(tid, n, c) = l.split(','); (tid.toLong, n.toLong) -> c.toLong
    }.toMap
    assert(got == want,
      s"cross-process end state diverged from the union of acknowledged ops:\n" +
        s" got=$got\nwant=$want")
    // History versions strictly increase and are DENSE across both
    // writers: every CAS-won commit published exactly one snapshot —
    // a duplicated or skipped version means two processes minted the
    // same number or one's commit vanished.
    val versions = lines.find(_.startsWith("versions:")).get
      .stripPrefix("versions:").split(',').filter(_.nonEmpty).map(_.toLong)
    assert(versions.nonEmpty && versions.zip(versions.tail).forall {
      case (a, b) => b == a + 1
    }, s"cross-process history not dense: ${versions.mkString(",")}")
    info(s"cross-process gauntlet: ${versions.length} commits, final rows=${got.values.sum}")
    ForkedDrivers.rm(root)
  }

  test("THREE DRIVER PROCESSES: randomized mixed-op soak (rewrites, DDL, compact, clone, GC)") {
    // The N-driver OCC soak: three forked writer JVMs run a seeded
    // random mix of appends, row-level rewrites, property DDL,
    // side-table CREATE/DROP, compaction, vacuum and clone-scan-drop
    // against ONE warehouse with a SHORT (12 s) retention window — so
    // publish-time retention GC and vacuum actually fire mid-run while
    // peers hold clones and scan them. 12 s (not lower) because the
    // retention window IS the documented reader-coherence contract:
    // it must exceed the GC listing debounce (3 s) plus any
    // plan-to-execute gap; a 2 s window reproducibly FNF'd a peer's
    // in-flight rewrite scan, which is out-of-envelope, not a bug.
    // Asserted:
    //  - end state = union of the three acknowledged models (no lost
    //    update, no double apply) — exercises delta/checkpoint ledger
    //    interleaving across writers (3 × ops commits ⇒ several
    //    checkpoint rewrites);
    //  - history versions strictly increase (monotonic sequences;
    //    density is NOT asserted — vacuum legitimately expires
    //    mid-run snapshots);
    //  - no process ever observed a missing file (a clone scan hitting
    //    a GC'd segment exits the child nonzero and fails the await).
    val root = java.nio.file.Files.createTempDirectory("graft_n_driver_soak_")
    ForkedDrivers.await(root,
      ForkedDrivers.spawn(root, "setup", "12"), "setup driver (12s retention)")
    val ops = GauntletEnv.ops(18).toString
    val writers = (0 until 3).map { tid =>
      val m = root.resolve(s"soak_model$tid.txt").toString
      tid -> ForkedDrivers.spawn(root, "soak", m, tid.toString, ops, (4200 + tid).toString)
    }
    writers.foreach { case (tid, p) =>
      ForkedDrivers.await(root, p, s"soak writer $tid",
        timeoutS = 900, others = writers.map(_._2).filterNot(_ eq p))
    }
    val dump = root.resolve("soak_final.txt").toString
    ForkedDrivers.await(root, ForkedDrivers.spawn(root, "verify", dump), "verify driver")
    def model(tid: Long): Map[(Long, Long), Long] =
      java.nio.file.Files.readString(root.resolve(s"soak_model$tid.txt"))
        .linesIterator.filter(_.nonEmpty).map { l =>
          val Array(n, c) = l.split(','); (tid, n.toLong) -> c.toLong
        }.toMap
    val want = model(0L) ++ model(1L) ++ model(2L)
    val lines = java.nio.file.Files.readString(java.nio.file.Paths.get(dump))
      .linesIterator.toSeq
    val got = lines.filter(l => l.nonEmpty && !l.startsWith("versions:")).map { l =>
      val Array(tid, n, c) = l.split(','); (tid.toLong, n.toLong) -> c.toLong
    }.toMap
    assert(got == want,
      s"soak end state diverged from the union of acknowledged ops:\n" +
        s" got=$got\nwant=$want")
    val versions = lines.find(_.startsWith("versions:")).get
      .stripPrefix("versions:").split(',').filter(_.nonEmpty).map(_.toLong)
    assert(versions.nonEmpty && versions.zip(versions.tail).forall {
      case (a, b) => b > a
    }, s"soak history not strictly increasing: ${versions.mkString(",")}")
    info(s"n-driver soak: ${versions.length} retained snapshots, " +
      s"final rows=${got.values.sum}")
    ForkedDrivers.rm(root)
  }

  test("CDC stream in one process tails commits made by ANOTHER process") {
    // The multi-pipeline CDC topology: driver A (feed) commits batches
    // while driver B (tail) — whose metastore loaded before most of
    // those commits existed — streams the change feed continuously.
    // The feed waits for the tail's started-marker, so commits land
    // while the stream is live: they are only visible through the
    // ledger staleness refresh in the stream's frontier. Without it
    // the tail idles forever (the test times out and fails loudly).
    val root = java.nio.file.Files.createTempDirectory("graft_cdc_tail_")
    val batches = 6
    val rowsPer = 4
    val dump = root.resolve("replica.txt").toString
    val tail = ForkedDrivers.spawn(root, "tail", dump, (batches * rowsPer).toString)
    val feed = ForkedDrivers.spawn(root, "feed", batches.toString, rowsPer.toString)
    ForkedDrivers.await(root, feed, "feed driver", 300, others = Seq(tail))
    ForkedDrivers.await(root, tail, "tail driver", 300, others = Seq(feed))
    val got = java.nio.file.Files.readString(java.nio.file.Paths.get(dump))
      .linesIterator.filter(_.nonEmpty).map { l =>
        val Array(b, j, c) = l.split(','); ((b.toLong, j.toLong), c.toLong)
      }.toMap
    val want = (for (b <- 0 until batches; j <- 0 until rowsPer)
      yield ((b.toLong, j.toLong), 1L)).toMap
    assert(got == want, s"cross-process CDC replica diverged:\n got=$got\nwant=$want")
    ForkedDrivers.rm(root)
  }

  test("DROP + recreate in one process is never shadowed by a STALE process") {
    // The sequence-monotonicity property of the tombstone protocol:
    // driver A loads the table (pinning a pre-drop ledger sequence in
    // its metastore), driver B DROPs and RECREATEs it, then A inserts.
    // A's commit must land on the NEW incarnation — with sequences
    // resetting at recreate, A's stale CAS would win ABOVE the new
    // documents and resurrect the dropped rows (and erase B's).
    val root = java.nio.file.Files.createTempDirectory("graft_reincarnate_")
    ForkedDrivers.await(root, ForkedDrivers.spawn(root, "setup"), "setup driver")
    // Seed the pre-drop row the holder pins.
    val seed = ForkedDrivers.spawn(root, "reseed")
    ForkedDrivers.await(root, seed, "seed driver")
    val dump = root.resolve("after.txt").toString
    val hold = ForkedDrivers.spawn(root, "hold", dump)
    val re = ForkedDrivers.spawn(root, "reincarnate")
    ForkedDrivers.await(root, re, "reincarnate driver", 300, others = Seq(hold))
    ForkedDrivers.await(root, hold, "hold driver", 300, others = Seq(re))
    val got = java.nio.file.Files.readString(java.nio.file.Paths.get(dump))
      .linesIterator.filter(_.nonEmpty).toSeq.sorted
    assert(got == Seq("5,555,1", "9,999,1"),
      s"stale driver shadowed the reincarnated table: $got " +
        "(a 1,111 row means the dropped incarnation was resurrected)")
    ForkedDrivers.rm(root)
  }

  test("concurrent writers against a MoR upsert surface keep key uniqueness") {
    // Each thread upserts ITS OWN key repeatedly (merge-on-read
    // equality deletes) racing the others' commits: the per-key
    // LAST-acknowledged value must win, and the key must appear
    // exactly once — a mis-sequenced eq delete (stale seq) would
    // either duplicate the key or resurrect an old value.
    spark.sql(s"DROP TABLE IF EXISTS $T PURGE")
    spark.sql(s"CREATE TABLE $T (tid BIGINT, n BIGINT) USING graft" + GauntletEnv.SoakRetention)
    val threads = 6
    val rounds = GauntletEnv.ops(6)
    val lastAcked = new java.util.concurrent.atomic.AtomicLongArray(threads)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    (0 until threads).foreach { tid =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try {
            import spark.implicits._
            for (round <- 1 to rounds) {
              val v = tid * 100L + round
              Seq((tid.toLong, v)).toDF("tid", "n")
                .writeTo(T).option("graft.upsert.keys", "tid").append()
              lastAcked.set(tid, v) // upsert commits serialize under the lock
            }
          } catch { case t: Throwable => failures.add(t) }
      })
    }
    pool.shutdown()
    val waitS = math.max(300L, rounds.toLong * threads * 2)
    val finished = pool.awaitTermination(waitS, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) pool.shutdownNow()
    assert(finished, s"upsert threads did not finish within ${waitS}s")
    assert(failures.isEmpty, s"unexpected failure: ${failures.peek()}")
    val rows = spark.sql(s"SELECT tid, n FROM $T ORDER BY tid").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.length == threads,
      s"each key must appear exactly once, got ${rows.toSeq}")
    rows.foreach { case (tid, n) =>
      assert(n == lastAcked.get(tid.toInt),
        s"key $tid holds $n, last acknowledged was ${lastAcked.get(tid.toInt)}")
    }
    spark.sql(s"DROP TABLE $T PURGE")
  }
}
