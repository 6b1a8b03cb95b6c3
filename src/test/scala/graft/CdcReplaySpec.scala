package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** Model-based replay check on the change feed: random commit
  * sequences drawn from the full mutation surface (plain INSERT, dv /
  * metadata DELETE, merge-on-read UPSERT, CoW UPDATE, RESTORE,
  * compaction, RENAME COLUMN), with a replica maintained ONLY by
  * applying each commit's CDC batch. Invariant: after EVERY commit,
  * replica == `VERSION AS OF` that commit — so any diff that drops a
  * transition (a restore the planner can't see, a double-emitted row,
  * a mispaired update) diverges the replica at the exact commit that
  * broke, with the seed and op log in the failure message. The single
  * net diff v0→final applied to an empty replica must also rebuild
  * the final state (multi-commit composition). Fixed seeds: the runs
  * are deterministic regressions, not flaky fuzzing.
  */
class CdcReplaySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val T = "graft.cdcrp.t"

  /** Multiset of (k, v) rows. */
  private type Rows = mutable.Map[(Long, Long), Int]
  private def emptyRows: Rows = mutable.Map.empty.withDefaultValue(0)

  private def tableRows(versionClause: String): Map[(Long, Long), Int] = {
    val m = emptyRows
    // Column POSITIONS, not names: a rename mid-sequence changes the
    // header, never the values.
    spark.sql(s"SELECT * FROM $T $versionClause").collect().foreach { r =>
      m((r.getLong(0), r.getLong(1))) += 1
    }
    m.toMap
  }

  private def applyDiff(replica: Rows, fromV: Long, toV: Long): Unit =
    spark.read.format("graft-changes")
      .option("table", "cdcrp.t")
      .option("changesFrom", fromV.toString).option("changesTo", toV.toString)
      .load().collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      // Resolved BY NAME, not position: a span between two different
      // migrations' transient layouts legitimately carries extra
      // all-NULL data columns, and the feed may grow trailing metadata
      // columns later — positional decoding would misread either.
      r.getString(r.fieldIndex("_change_type")) match {
        case "insert" | "update_postimage" => replica(key) += 1
        case "delete" | "update_preimage" =>
          assert(replica(key) > 0,
            s"feed deleted a row the replica does not hold: $key in ($fromV,$toV]")
          replica(key) -= 1
          if (replica(key) == 0) replica.remove(key)
        case other => fail(
          s"unknown change type '$other' in row $r (schema ${r.schema.simpleString}) " +
            s"in ($fromV,$toV]")
      }
    }

  private def currentVersion: Long =
    spark.sql(s"SELECT max(version) FROM $T.history").collect().head.getLong(0)

  /** Final-state invariants shared by both gauntlets, run after the
    * op sequence against the replica the feed built:
    *  - row-lineage ids stay UNIQUE across live rows, whatever mix of
    *    rewrites/restores/compactions the sequence dealt;
    *  - point predicates (the zone-map + Bloom pruning path) agree
    *    with the replica — a false-negative prune would silently drop
    *    a segment's rows here;
    *  - one AvailableNow STREAM from v0 replays per-commit batches
    *    (dataChange=false commits silent) into the same final state —
    *    the offsets/admission layer over the shared diff machinery.
    */
  private def checkFinalInvariants(replica: Rows, rnd: scala.util.Random, seed: Long): Unit = {
    val kcol = spark.table(T).columns(0)
    val Array(n, distinctIds) = spark.sql(
      s"SELECT count(*), count(DISTINCT _row_id) FROM $T")
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    assert(n == distinctIds, s"duplicate _row_id among live rows (seed=$seed)")
    (1 to 3).foreach { _ =>
      val k = rnd.nextInt(30).toLong
      val got = spark.sql(s"SELECT count(*) FROM $T WHERE $kcol = $k")
        .collect().head.getLong(0)
      val want = replica.collect { case ((kk, _), c) if kk == k => c }.sum.toLong
      assert(got == want, s"point predicate $kcol=$k pruned wrong: $got != $want (seed=$seed)")
    }
    val streamed = emptyRows
    spark.readStream.format("graft-changes")
      .option("table", "cdcrp.t").option("changesFrom", "0").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        streamed.synchronized {
          df.collect().foreach { r =>
            val key = (r.getLong(0), r.getLong(1))
            r.getString(r.fieldIndex("_change_type")) match {
              case "insert" | "update_postimage" => streamed(key) += 1
              case _ =>
                streamed(key) -= 1
                if (streamed(key) == 0) streamed.remove(key)
            }
          }
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    assert(streamed.toMap == replica.toMap,
      s"streamed per-commit replay diverged from the batch replica (seed=$seed)")
  }

  /** RANGE composition: for random retained spans (a, b], the batch
    * diff must transform `VERSION AS OF a` into `VERSION AS OF b`.
    * Multi-commit spans cross restores, dv flips, and eq-delete
    * removals mid-range — exactly where the paired-update guards must
    * degrade instead of pairing wrong positions (the per-commit replay
    * above never sees those compositions).
    */
  private def checkRangeComposition(
      rnd: scala.util.Random, seed: Long, log: Seq[String]): Unit = {
    val retained = spark.sql(s"SELECT version FROM $T.history")
      .collect().map(_.getLong(0)).sorted
    (1 to 6).foreach { _ =>
      val a = retained(rnd.nextInt(retained.length))
      val b = retained(rnd.nextInt(retained.length))
      if (a < b) {
        val sa = spark.sql(s"SELECT * FROM $T VERSION AS OF $a").schema
        val sb = spark.sql(s"SELECT * FROM $T VERSION AS OF $b").schema
        val compatible = sa.length == sb.length &&
          sa.fields.zip(sb.fields).forall { case (x, y) => x.dataType == y.dataType }
        if (compatible) {
          try {
            val r = emptyRows
            tableRows(s"VERSION AS OF $a").foreach { case (key, c) => r(key) = c }
            applyDiff(r, a, b)
            assert(r.toMap == tableRows(s"VERSION AS OF $b"),
              s"range diff ($a,$b] does not transform state($a) into state($b) " +
                s"(seed=$seed)\nops:\n${log.mkString("\n")}")
          } catch { case e: Throwable =>
            val dump = retained.map(v =>
              s"v$v: ${spark.sql(s"SELECT * FROM $T VERSION AS OF $v").schema.simpleString}")
              .mkString("\n")
            fail(s"range ($a,$b] (seed=$seed): $e\nversions:\n$dump\nops:\n${log.mkString("\n")}")
          }
        } else {
          // EPOCH BOUNDARY mid-span (a migration op left a different
          // layout at one bound): the engine's contract is refuse
          // LOUDLY — or read EMPTY when the whole span is
          // dataChange=false — never cross-epoch garbage.
          try {
            val n = spark.read.format("graft-changes")
              .option("table", "cdcrp.t")
              .option("changesFrom", a.toString).option("changesTo", b.toString)
              .load().count()
            assert(n == 0,
              s"cross-epoch span ($a,$b] must refuse or read empty, got $n rows " +
                s"(seed=$seed)\nops:\n${log.mkString("\n")}")
          } catch { case e: Exception =>
            assert(e.getMessage != null && e.getMessage.contains("schema changed"),
              s"cross-epoch span ($a,$b] failed for the WRONG reason (seed=$seed): $e")
          }
        }
      }
    }
  }

  private def runSequence(seed: Long, ops: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    spark.sql(s"DROP TABLE IF EXISTS $T PURGE")
    spark.sql(s"CREATE TABLE $T (k BIGINT, v BIGINT) USING graft" + GauntletEnv.SoakRetention)
    val replica = emptyRows
    var lastV = currentVersion // v0 (create)
    val log = mutable.ArrayBuffer[String]()
    // The key column's LIVE name: a rename changes it and a RESTORE to
    // a pre-rename version changes it BACK — read it, never track it.
    def kcol: String = spark.table(T).columns(0)

    def keysIn: Seq[Long] =
      spark.sql(s"SELECT * FROM $T").collect().map(_.getLong(0)).toSeq

    var nextTmp = 0
    for (i <- 1 to ops) {
      val op = rnd.nextInt(11)
      val desc = op match {
        case 0 | 1 | 2 => // plain INSERT of a small random batch
          val rows = Seq.fill(1 + rnd.nextInt(4))(
            s"(${rnd.nextInt(30)}, ${rnd.nextInt(5)})").mkString(", ")
          spark.sql(s"INSERT INTO $T VALUES $rows")
          s"insert $rows"
        case 3 | 4 => // DELETE (dv or metadata path, planner's choice)
          val ks = rnd.shuffle(keysIn).take(1 + rnd.nextInt(3))
          if (ks.isEmpty) { spark.sql(s"INSERT INTO $T VALUES (0, 0)"); "insert (0,0)" }
          else {
            val kc = kcol
            spark.sql(s"DELETE FROM $T WHERE $kc IN (${ks.mkString(",")})")
            s"delete $kc in ${ks.mkString(",")}"
          }
        case 5 => // merge-on-read upsert (distinct keys required)
          import spark.implicits._
          val batch = rnd.shuffle((0L until 30L).toList).take(1 + rnd.nextInt(3))
            .map(k => (k, rnd.nextInt(5).toLong))
          val kc = kcol
          batch.toDF(kc, "v").writeTo(T).option("graft.upsert.keys", kc).append()
          s"upsert $batch"
        case 6 => // CoW UPDATE (unpartitioned: may pair as updates)
          val m = 2 + rnd.nextInt(3)
          spark.sql(s"UPDATE $T SET v = v + 1 WHERE $kcol % $m = ${rnd.nextInt(m)}")
          s"update v+1 where k%$m"
        case 7 => // RESTORE to a random earlier retained version —
          // excluding mid-migration versions (the transient 3-column
          // schema between a migrate op's ADD and DROP): restoring one
          // would fork the model's 2-column insert arity.
          val vs = spark.sql(s"SELECT version FROM $T.history")
            .collect().map(_.getLong(0))
            .filter(v =>
              spark.sql(s"SELECT * FROM $T VERSION AS OF $v").schema.length == 2)
          val target = vs(rnd.nextInt(vs.length))
          spark.sql(s"CALL graft.system.restore('cdcrp', 't', '$target')")
          s"restore to v$target"
        case 8 => // compaction: dataChange=false, feed must stay silent
          spark.sql("CALL graft.system.compact('cdcrp', 't')")
          "compact"
        case 9 => // rename: pure metadata; eq-delete keys must follow
          val from = kcol
          val to = if (from == "k") "key" else "k"
          spark.sql(s"ALTER TABLE $T RENAME COLUMN $from TO $to")
          s"rename $from->$to"
        case 10 => // MIGRATION pair: ADD + DROP a temp column — two
          // dataChange=false 1:1 re-projections over whatever dv /
          // eq-delete / lineage state the sequence built up. The feed
          // must stay SILENT for both (the per-op diff below spans
          // exactly this all-false range), masking must survive the
          // rewrite, and the transient schema must vanish again.
          val tmp = s"tmp$nextTmp"; nextTmp += 1
          spark.sql(s"ALTER TABLE $T ADD COLUMNS ($tmp DOUBLE)")
          spark.sql(s"ALTER TABLE $T DROP COLUMN $tmp")
          s"migrate (add+drop $tmp)"
      }
      log += s"v$i: $desc"
      val curV = currentVersion
      assert(curV > lastV, s"op '$desc' published no snapshot (seed=$seed)")
      applyDiff(replica, lastV, curV)
      val expect = tableRows(s"VERSION AS OF $curV")
      assert(replica.toMap == expect,
        s"replica diverged at v$curV (seed=$seed)\nops:\n${log.mkString("\n")}")
      lastV = curV
    }
    // Composition: ONE net diff v0 -> final rebuilds the final state.
    val net = emptyRows
    applyDiff(net, 0L, lastV)
    assert(net.toMap == tableRows(""),
      s"net v0->v$lastV diff does not rebuild the final state (seed=$seed)")
    checkRangeComposition(rnd, seed, log.toSeq)
    checkFinalInvariants(replica, rnd, seed)
    spark.sql(s"DROP TABLE $T PURGE")
  }

  for (seed <- GauntletEnv.seeds(Seq(7L, 13L, 42L))) {
    test(s"random commit sequence replays exactly through the CDC feed (seed=$seed)") {
      runSequence(seed, ops = GauntletEnv.ops(16))
    }
  }

  /** Partitioned-table gauntlet: identity partitioning routes every
    * mutation through the KEYED layout — per-group rewrites, dynamic
    * INSERT OVERWRITE, and the paired-update DEGRADE path (partitioned
    * rewrites record no provenance, so UPDATEs must surface as
    * net-correct delete+insert). Same replica invariant.
    */
  private def runPartitioned(seed: Long, ops: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    spark.sql(s"DROP TABLE IF EXISTS $T PURGE")
    spark.sql(
      s"CREATE TABLE $T (k BIGINT, v BIGINT) USING graft PARTITIONED BY (k)" + GauntletEnv.SoakRetention)
    val replica = emptyRows
    var lastV = currentVersion
    val log = mutable.ArrayBuffer[String]()
    def keysIn: Seq[Long] =
      spark.sql(s"SELECT * FROM $T").collect().map(_.getLong(0)).toSeq
    for (i <- 1 to ops) {
      val desc = rnd.nextInt(8) match {
        case 0 | 1 | 2 =>
          val rows = Seq.fill(1 + rnd.nextInt(4))(
            s"(${rnd.nextInt(6)}, ${rnd.nextInt(5)})").mkString(", ")
          spark.sql(s"INSERT INTO $T VALUES $rows")
          s"insert $rows"
        case 3 =>
          val ks = rnd.shuffle(keysIn).take(1 + rnd.nextInt(2))
          if (ks.isEmpty) { spark.sql(s"INSERT INTO $T VALUES (0, 0)"); "insert (0,0)" }
          else {
            spark.sql(s"DELETE FROM $T WHERE k IN (${ks.mkString(",")})")
            s"delete k in ${ks.mkString(",")}"
          }
        case 4 => // partitioned CoW UPDATE: provenance-free, degrades
          val m = 2 + rnd.nextInt(2)
          spark.sql(s"UPDATE $T SET v = v + 1 WHERE k % $m = ${rnd.nextInt(m)}")
          s"update v+1 where k%$m"
        case 5 => // dynamic partition overwrite: replaces written keys only
          val rows = Seq.fill(1 + rnd.nextInt(2))(
            s"(${rnd.nextInt(6)}, ${rnd.nextInt(5)})").mkString(", ")
          spark.sql(s"INSERT OVERWRITE $T VALUES $rows")
          s"overwrite $rows"
        case 6 =>
          val vs = spark.sql(s"SELECT version FROM $T.history")
            .collect().map(_.getLong(0))
          val target = vs(rnd.nextInt(vs.length))
          spark.sql(s"CALL graft.system.restore('cdcrp', 't', '$target')")
          s"restore to v$target"
        case 7 =>
          spark.sql("CALL graft.system.compact('cdcrp', 't')")
          "compact"
      }
      log += s"v$i: $desc"
      val curV = currentVersion
      assert(curV > lastV, s"op '$desc' published no snapshot (seed=$seed)")
      applyDiff(replica, lastV, curV)
      val expect = tableRows(s"VERSION AS OF $curV")
      assert(replica.toMap == expect,
        s"replica diverged at v$curV (seed=$seed, partitioned)\nops:\n${log.mkString("\n")}")
      lastV = curV
    }
    val net = emptyRows
    applyDiff(net, 0L, lastV)
    assert(net.toMap == tableRows(""),
      s"net v0->v$lastV diff does not rebuild the final state (seed=$seed, partitioned)")
    checkRangeComposition(rnd, seed, log.toSeq)
    checkFinalInvariants(replica, rnd, seed)
    spark.sql(s"DROP TABLE $T PURGE")
  }

  for (seed <- GauntletEnv.seeds(Seq(2L, 9L, 21L))) {
    test(s"partitioned random sequence replays exactly through the CDC feed (seed=$seed)") {
      runPartitioned(seed, ops = GauntletEnv.ops(16))
    }
  }

  /** Write-audit-publish gauntlet: random mutations land on a BRANCH
    * while main provably serves the base state untouched; publish
    * replays the branch's commit chain onto main (fast-forward, not a
    * squash), and afterwards (a) main equals the branch's final state
    * row for row, and (b) main's OWN change feed from the cut version
    * replays to that same state — per-commit CDC provenance survives
    * the publish.
    */
  private def runBranchPublish(seed: Long, ops: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    spark.sql(s"DROP TABLE IF EXISTS $T PURGE")
    spark.sql("DROP TABLE IF EXISTS graft.cdcrp.`t@audit` PURGE")
    spark.sql(s"CREATE TABLE $T (k BIGINT, v BIGINT) USING graft" + GauntletEnv.SoakRetention)
    spark.sql(s"INSERT INTO $T VALUES (1, 1), (2, 1), (3, 1)") // base v1
    val cutV = currentVersion
    val baseState = tableRows("")
    spark.sql("CALL graft.system.create_branch('cdcrp', 't', 'audit', '')")
    val B = "graft.cdcrp.`t@audit`"
    def keysIn: Seq[Long] =
      spark.sql(s"SELECT * FROM $B").collect().map(_.getLong(0)).toSeq
    val log = mutable.ArrayBuffer[String]()
    for (_ <- 1 to ops) {
      val desc = rnd.nextInt(7) match {
        case 0 | 1 | 2 =>
          val rows = Seq.fill(1 + rnd.nextInt(3))(
            s"(${rnd.nextInt(20)}, ${rnd.nextInt(5)})").mkString(", ")
          spark.sql(s"INSERT INTO $B VALUES $rows")
          s"insert $rows"
        case 3 =>
          val ks = rnd.shuffle(keysIn).take(1 + rnd.nextInt(2))
          if (ks.isEmpty) { spark.sql(s"INSERT INTO $B VALUES (0, 0)"); "insert (0,0)" }
          else {
            spark.sql(s"DELETE FROM $B WHERE k IN (${ks.mkString(",")})")
            s"delete k in ${ks.mkString(",")}"
          }
        case 4 =>
          import spark.implicits._
          val batch = rnd.shuffle((0L until 20L).toList).take(1 + rnd.nextInt(2))
            .map(k => (k, rnd.nextInt(5).toLong))
          batch.toDF("k", "v").writeTo(B).option("graft.upsert.keys", "k").append()
          s"upsert $batch"
        case 5 =>
          val m = 2 + rnd.nextInt(2)
          spark.sql(s"UPDATE $B SET v = v + 1 WHERE k % $m = ${rnd.nextInt(m)}")
          s"update v+1 where k%$m"
        case 6 =>
          spark.sql("CALL graft.system.compact('cdcrp', 't@audit')")
          "compact"
      }
      log += desc
      // Isolation: main's state never moves while the branch churns.
      assert(tableRows("") == baseState,
        s"main drifted during branch work (seed=$seed)\nops:\n${log.mkString("\n")}")
    }
    // Guarantee OUTSTANDING equality deletes at the publish (the X13
    // merge-on-read shape): one upsert commit lands last, with no
    // compaction after it — publish must shift the eq-deletes' seqs
    // into main's version domain, or they would either stop masking
    // their pre-images or start eating post-publish appends.
    locally {
      import spark.implicits._
      Seq((7L, 99L), (4L, 98L)).toDF("k", "v")
        .writeTo(B).option("graft.upsert.keys", "k").append()
      log += "final upsert (7,99),(4,98) [eq-deletes outstanding at publish]"
    }
    val branchFinal = {
      val m = emptyRows
      spark.sql(s"SELECT * FROM $B").collect().foreach { r =>
        m((r.getLong(0), r.getLong(1))) += 1
      }
      m.toMap
    }
    spark.sql("CALL graft.system.publish_branch('cdcrp', 't', 'audit')")
    assert(tableRows("") == branchFinal,
      s"publish did not fast-forward main to the branch state (seed=$seed)\n" +
        s"ops:\n${log.mkString("\n")}")
    // Main's own feed from the cut replays the published chain exactly.
    val replica = emptyRows
    baseState.foreach { case (key, c) => replica(key) = c }
    applyDiff(replica, cutV, currentVersion)
    assert(replica.toMap == branchFinal,
      s"main's CDC from the cut does not replay the published chain (seed=$seed)\n" +
        s"ops:\n${log.mkString("\n")}")
    // Per-commit provenance on the PUBLISHED chain: every replayed
    // version's diff transforms its predecessor's state exactly (not
    // just the net) — a seq-shift slip on an eq-delete or a mispaired
    // CoW rewrite diverges at the exact replayed commit.
    locally {
      val retained = spark.sql(s"SELECT version FROM $T.history")
        .collect().map(_.getLong(0)).filter(_ > cutV).sorted
      val state = emptyRows
      baseState.foreach { case (key, c) => state(key) = c }
      var prev = cutV
      retained.foreach { v =>
        applyDiff(state, prev, v)
        assert(state.toMap == tableRows(s"VERSION AS OF $v"),
          s"published chain diverged at replayed v$v (seed=$seed)\n" +
            s"ops:\n${log.mkString("\n")}")
        prev = v
      }
    }
    // The published parent's CDC STREAM nets exactly: an AvailableNow
    // stream from the cut (the downstream-consumer-catches-up shape)
    // rebuilds the branch-final state on top of the base.
    val streamed = emptyRows
    baseState.foreach { case (key, c) => streamed(key) = c }
    spark.readStream.format("graft-changes")
      .option("table", "cdcrp.t").option("changesFrom", cutV.toString).load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        streamed.synchronized {
          df.collect().foreach { r =>
            val key = (r.getLong(0), r.getLong(1))
            r.getString(r.fieldIndex("_change_type")) match {
              case "insert" | "update_postimage" => streamed(key) += 1
              case _ =>
                streamed(key) -= 1
                if (streamed(key) == 0) streamed.remove(key)
            }
          }
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    assert(streamed.toMap == branchFinal,
      s"main's CDC STREAM from the cut does not net to the published state " +
        s"(seed=$seed)\nops:\n${log.mkString("\n")}")
    spark.sql(s"DROP TABLE $T PURGE")
  }

  for (seed <- GauntletEnv.seeds(Seq(5L, 17L))) {
    test(s"branch-publish random sequence fast-forwards and replays exactly (seed=$seed)") {
      runBranchPublish(seed, ops = GauntletEnv.ops(12))
    }
  }
}
