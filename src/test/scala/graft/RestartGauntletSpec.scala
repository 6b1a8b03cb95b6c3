package graft

import scala.collection.mutable

import org.apache.spark.sql.connector.catalog.Identifier
import org.scalatest.funsuite.AnyFunSuite

/** Durable-catalog restart gauntlet: random commit sequences on a
  * LEDGER-backed table with simulated JVM restarts interleaved at
  * random points (in-memory state dropped; every later statement
  * reloads from the persisted ledger). The CDC replica invariant of
  * `CdcReplaySpec` must hold ACROSS restarts: per-commit diffs keep
  * replaying exactly, version lines continue (never restart at v0),
  * and time travel reaches pre-restart eras — so a ledger round-trip
  * that loses dv bits, eq deletes, rewrite provenance, lineage runs,
  * or retained history diverges the replica at the exact commit that
  * broke, with the seed and op log in the failure message.
  */
class RestartGauntletSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.pgraft",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.pgraft.root",
      java.nio.file.Files.createTempDirectory("graft_restart_gauntlet_").toString)
    s
  }

  private val T = "pgraft.rsg.t"
  private val ident = Identifier.of(Array("rsg"), "t")

  private type Rows = mutable.Map[(Long, Long), Int]
  private def emptyRows: Rows = mutable.Map.empty.withDefaultValue(0)

  private def tableRows(versionClause: String): Map[(Long, Long), Int] = {
    val m = emptyRows
    spark.sql(s"SELECT * FROM $T $versionClause").collect().foreach { r =>
      m((r.getLong(0), r.getLong(1))) += 1
    }
    m.toMap
  }

  private def applyDiff(replica: Rows, fromV: Long, toV: Long): Unit =
    spark.read.format("graft-changes")
      .option("table", "rsg.t")
      .option("changesFrom", fromV.toString).option("changesTo", toV.toString)
      .load().collect().foreach { r =>
        val key = (r.getLong(0), r.getLong(1))
        r.getString(2) match {
          case "insert" | "update_postimage" => replica(key) += 1
          case "delete" | "update_preimage" =>
            assert(replica(key) > 0,
              s"feed deleted a row the replica does not hold: $key in ($fromV,$toV]")
            replica(key) -= 1
            if (replica(key) == 0) replica.remove(key)
          case other => fail(s"unknown change type '$other'")
        }
      }

  private def currentVersion: Long =
    spark.sql(s"SELECT max(version) FROM $T.history").collect().head.getLong(0)

  private def runSeq(seed: Long, ops: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    spark.sql(s"DROP TABLE IF EXISTS $T PURGE")
    spark.sql(s"CREATE TABLE $T (k BIGINT, v BIGINT) USING graft" + GauntletEnv.SoakRetention)
    val replica = emptyRows
    var lastV = currentVersion
    var restarts = 0
    val log = mutable.ArrayBuffer[String]()
    def keysIn: Seq[Long] =
      spark.sql(s"SELECT * FROM $T").collect().map(_.getLong(0)).toSeq

    for (_ <- 1 to ops) {
      val desc = rnd.nextInt(10) match {
        case 0 | 1 | 2 =>
          val rows = Seq.fill(1 + rnd.nextInt(4))(
            s"(${rnd.nextInt(25)}, ${rnd.nextInt(5)})").mkString(", ")
          spark.sql(s"INSERT INTO $T VALUES $rows")
          s"insert $rows"
        case 3 =>
          val ks = rnd.shuffle(keysIn).take(1 + rnd.nextInt(3))
          if (ks.isEmpty) { spark.sql(s"INSERT INTO $T VALUES (0, 0)"); "insert (0,0)" }
          else {
            spark.sql(s"DELETE FROM $T WHERE k IN (${ks.mkString(",")})")
            s"delete k in ${ks.mkString(",")}"
          }
        case 4 =>
          import spark.implicits._
          val batch = rnd.shuffle((0L until 25L).toList).take(1 + rnd.nextInt(3))
            .map(k => (k, rnd.nextInt(5).toLong))
          batch.toDF("k", "v").writeTo(T).option("graft.upsert.keys", "k").append()
          s"upsert $batch"
        case 5 =>
          val m = 2 + rnd.nextInt(3)
          spark.sql(s"UPDATE $T SET v = v + 1 WHERE k % $m = ${rnd.nextInt(m)}")
          s"update v+1 where k%$m"
        case 6 =>
          val vs = spark.sql(s"SELECT version FROM $T.history")
            .collect().map(_.getLong(0))
          val target = vs(rnd.nextInt(vs.length))
          spark.sql(s"CALL graft.system.restore('rsg', 't', '$target')")
          s"restore to v$target"
        case 7 =>
          spark.sql("CALL graft.system.compact('rsg', 't')")
          "compact"
        case 8 | 9 => // SIMULATED RESTART: drop in-memory state, reload
          graft.sources.GraftCatalog.resetInMemoryStateForTest(ident)
          restarts += 1
          // The reload is lazy — the assertions below drive it. The
          // version line must CONTINUE (a restart-at-v0 would re-mint
          // row ids and orphan the replica's offsets).
          assert(currentVersion == lastV,
            s"restart moved the version: ${currentVersion} != $lastV (seed=$seed)")
          assert(tableRows("") == replica.toMap,
            s"reload diverged from pre-restart state (seed=$seed)\nops:\n${log.mkString("\n")}")
          "restart"
      }
      log += desc
      if (desc != "restart") {
        val curV = currentVersion
        assert(curV > lastV, s"op '$desc' published no snapshot (seed=$seed)")
        applyDiff(replica, lastV, curV)
        assert(replica.toMap == tableRows(s"VERSION AS OF $curV"),
          s"replica diverged at v$curV (seed=$seed)\nops:\n${log.mkString("\n")}")
        lastV = curV
      }
    }
    // At least the final stretch must have exercised a reload; if the
    // random draw produced none, force one end-to-end check.
    if (restarts == 0) {
      graft.sources.GraftCatalog.resetInMemoryStateForTest(ident)
      assert(tableRows("") == replica.toMap, s"final reload diverged (seed=$seed)")
    }
    // Net composition ACROSS restarts.
    val net = emptyRows
    applyDiff(net, 0L, lastV)
    assert(net.toMap == tableRows(""),
      s"net v0->v$lastV diff does not rebuild the final state (seed=$seed)")
    spark.sql(s"DROP TABLE $T PURGE")
  }

  for (seed <- GauntletEnv.seeds(Seq(4L, 19L, 33L))) {
    test(s"durable random sequence survives restarts and replays exactly (seed=$seed)") {
      runSeq(seed, ops = GauntletEnv.ops(14))
    }
  }
}
