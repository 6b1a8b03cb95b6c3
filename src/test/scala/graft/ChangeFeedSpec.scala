package graft

import org.scalatest.funsuite.AnyFunSuite

/** Batch change-data-feed reads (`option("changesFrom", …)`): net
  * row-level diff between two retained snapshots, served segment-
  * structurally (GraftChangeScan). The load-bearing claims: appends
  * surface as 'insert', dv deletes surface row-accurately as 'delete'
  * WITHOUT touching unchanged segments, tags resolve as range bounds,
  * and a schema change across the range fails loudly.
  */
class ChangeFeedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def changes(from: String, to: Option[String] = None) = {
    val r = spark.read.format("graft-changes")
      .option("table", "cdc.t").option("changesFrom", from)
    to.fold(r)(t => r.option("changesTo", t)).load()
  }

  test("append + dv delete between versions surface as net insert/delete rows") {
    spark.sql("DROP TABLE IF EXISTS graft.cdc.t")
    spark.sql("CREATE TABLE graft.cdc.t (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.cdc.t SELECT id, concat('a', id) FROM range(0, 10)") // v1
    spark.sql("INSERT INTO graft.cdc.t SELECT id, concat('b', id) FROM range(10, 20)") // v2
    spark.sql("DELETE FROM graft.cdc.t WHERE k IN (3, 12)") // v3: dv on both segments
    // v1 -> v3: inserts = the v2 batch minus its deleted row; deletes =
    // the v1 rows the dv covered. Unchanged rows never appear.
    val got = changes("1").select("_change_type", "k")
      .as[(String, Long)].collect().toSet
    val expect =
      (10L until 20L).filter(_ != 12L).map(("insert", _)).toSet + (("delete", 3L))
    assert(got == expect)
    // v2 -> v3 is ONLY the dv deltas — both rows, nothing else.
    assert(changes("2").select("_change_type", "k").as[(String, Long)]
      .collect().toSet == Set(("delete", 3L), ("delete", 12L)))
    // Explicit changesTo caps the range: v1 -> v2 sees just the append.
    assert(changes("1", Some("2")).select("_change_type", "k")
      .as[(String, Long)].collect().toSet == (10L until 20L).map(("insert", _)).toSet)
    // Same-version diff is empty.
    assert(changes("3", Some("3")).count() == 0)
  }

  test("tags resolve as change-feed bounds") {
    spark.sql("ALTER TABLE graft.cdc.t SET TBLPROPERTIES ('graft.tag.base'='2')")
    assert(changes("base").select("_change_type", "k").as[(String, Long)]
      .collect().toSet == Set(("delete", 3L), ("delete", 12L)))
  }

  test("update surfaces as paired update_preimage/update_postimage rows") {
    // Copy-on-write UPDATE records rewrite provenance (new segment →
    // the segment it rewrote); the feed reads the pair in lockstep and
    // emits pre/post images for EXACTLY the rows whose bytes changed —
    // the Delta CDF update shape. Rows the rewrite copied unchanged
    // (the other 8 live rows of the touched segment) emit NOTHING.
    spark.sql("UPDATE graft.cdc.t SET v = 'upd' WHERE k = 15") // v4
    val got = changes("3").select("_change_type", "k", "v")
      .as[(String, Long, String)].collect().toSet
    assert(got == Set(
      ("update_preimage", 15L, "b15"),
      ("update_postimage", 15L, "upd")),
      s"expected exactly the changed row's pre/post pair, got $got")
  }

  test("chained rewrites compose across a multi-commit diff; partitioned updates fall back") {
    // Two successive UPDATEs rewrite the same segment twice (S → S' →
    // S''). A batch diff spanning both commits must compose the
    // provenance chain and pair the ENDPOINTS: preimage = original
    // values, postimage = final values, one pair per net-changed row.
    spark.sql("DROP TABLE IF EXISTS graft.cdc.ch")
    spark.sql("CREATE TABLE graft.cdc.ch (k BIGINT, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.cdc.ch SELECT id, id * 10 FROM range(0, 8)") // v1
    spark.sql("UPDATE graft.cdc.ch SET v = v + 1 WHERE k = 2") // v2
    spark.sql("UPDATE graft.cdc.ch SET v = v + 1 WHERE k = 5") // v3
    val got = spark.read.format("graft-changes")
      .option("table", "cdc.ch").option("changesFrom", "1").load()
      .select("_change_type", "k", "v").as[(String, Long, Long)].collect().toSet
    assert(got == Set(
      ("update_preimage", 2L, 20L), ("update_postimage", 2L, 21L),
      ("update_preimage", 5L, 50L), ("update_postimage", 5L, 51L)),
      s"endpoint pairs for the two net-changed rows only, got $got")
    spark.sql("DROP TABLE graft.cdc.ch")

    // Partitioned tables: the rewrite scan groups segments per key, so
    // no per-segment correspondence is provable — provenance is not
    // recorded and the UPDATE degrades to delete+insert (net-correct).
    spark.sql("DROP TABLE IF EXISTS graft.cdc.pu")
    spark.sql(
      "CREATE TABLE graft.cdc.pu (k BIGINT, p STRING) USING graft PARTITIONED BY (p)")
    spark.sql("INSERT INTO graft.cdc.pu VALUES (1, 'a'), (2, 'a'), (3, 'b')") // v1
    spark.sql("UPDATE graft.cdc.pu SET k = k + 10 WHERE p = 'a'") // v2
    val pg = spark.read.format("graft-changes")
      .option("table", "cdc.pu").option("changesFrom", "1").load()
      .select("_change_type", "k").as[(String, Long)].collect().toSet
    assert(pg == Set(
      ("delete", 1L), ("delete", 2L), ("insert", 11L), ("insert", 12L)),
      s"partitioned rewrite falls back to delete+insert, got $pg")
    spark.sql("DROP TABLE graft.cdc.pu")
  }

  test("key-changing paired updates: preimage keys without a postimage are replica deletes") {
    // An unpartitioned UPDATE that rewrites the MERGE KEY still pairs
    // (cardinality preserved): the feed emits preimage(k=1)/
    // postimage(k=11). The CDC-apply rule (st16's recipe) must treat a
    // preimage key no postimage re-asserts as a DELETE — otherwise the
    // replica keeps the stale old-key row forever.
    spark.sql("DROP TABLE IF EXISTS graft.cdc.kc")
    spark.sql("CREATE TABLE graft.cdc.kc (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.cdc.kc VALUES (1, 'a'), (2, 'b')") // v1
    spark.sql("UPDATE graft.cdc.kc SET k = k + 10 WHERE k = 1") // v2: key-changing
    val batch = spark.read.format("graft-changes")
      .option("table", "cdc.kc").option("changesFrom", "1").load()
    val got = batch.select("_change_type", "k").as[(String, Long)].collect().toSet
    assert(got == Set(("update_preimage", 1L), ("update_postimage", 11L)),
      s"key-changing unpartitioned update must pair, got $got")
    // The apply rule, as data: upserts = insert+postimage; deletes =
    // (delete+preimage) minus upserted keys.
    import org.apache.spark.sql.functions.col
    val ups = batch.filter(col("_change_type").isin("insert", "update_postimage"))
      .select("k")
    val dels = batch.filter(col("_change_type").isin("delete", "update_preimage"))
      .select("k").except(ups)
    assert(ups.as[Long].collect().toSet == Set(11L))
    assert(dels.as[Long].collect().toSet == Set(1L),
      "the orphaned preimage key must become a replica delete")
    spark.sql("DROP TABLE graft.cdc.kc")
  }

  test("compaction commits emit no CDC rows (dataChange=false), batch and stream") {
    spark.sql("DROP TABLE IF EXISTS graft.cdc.cp")
    spark.sql("CREATE TABLE graft.cdc.cp (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.cdc.cp VALUES (1)") // v1
    spark.sql("INSERT INTO graft.cdc.cp VALUES (2)") // v2
    spark.sql("CALL graft.system.compact('cdc', 'cp')").collect() // v3: no-op commit
    def feed(from: String, to: String) =
      spark.read.format("graft-changes").option("table", "cdc.cp")
        .option("changesFrom", from).option("changesTo", to).load()
    // The compact-only range is empty however the files moved…
    assert(feed("2", "3").count() == 0,
      "a compaction changed no logical row — its diff must be empty")
    // …and a range SPANNING it still nets the real changes exactly.
    assert(feed("0", "3").select("k").as[Long].collect().toSet == Set(1L, 2L))
    // Streaming: the commit-per-batch replay delivers v1, v2 as
    // inserts and v3 as an EMPTY batch — same totals, no churn.
    import org.apache.spark.sql.streaming.Trigger
    val got = scala.collection.mutable.Set[(String, Long)]()
    spark.readStream.format("graft-changes")
      .option("table", "cdc.cp").option("changesFrom", "0").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized {
          got ++= df.select("_change_type", "k").as[(String, Long)].collect()
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(got.toSet == Set(("insert", 1L), ("insert", 2L)),
      s"stream must deliver the inserts and skip the compaction, got $got")
    spark.sql("DROP TABLE graft.cdc.cp")
  }

  test("RESTORE that undoes a paired update emits REVERSE update pairs") {
    // v2 rewrote S into S' (paired UPDATE); restoring to v1 replaces
    // S' with S again — the undo commit records the inverse provenance
    // (S → S'), so the feed emits the reversal as its own pre/post
    // pair for exactly the changed row, not a delete+insert of both
    // files. And the v1→v3 endpoint diff stays empty: state-wise,
    // nothing changed.
    spark.sql("DROP TABLE IF EXISTS graft.cdc.rr")
    spark.sql("CREATE TABLE graft.cdc.rr (k BIGINT, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.cdc.rr SELECT id, id * 10 FROM range(0, 6)") // v1
    spark.sql("UPDATE graft.cdc.rr SET v = 99 WHERE k = 2") // v2: paired rewrite
    spark.sql("CALL graft.system.restore('cdc', 'rr', '1')").collect() // v3: the undo
    def ch(from: String, to: String): Set[(String, Long, Long)] =
      spark.read.format("graft-changes")
        .option("table", "cdc.rr")
        .option("changesFrom", from).option("changesTo", to).load()
        .select("_change_type", "k", "v").as[(String, Long, Long)].collect().toSet
    assert(ch("2", "3") == Set(
      ("update_preimage", 2L, 99L), ("update_postimage", 2L, 20L)),
      s"the restore commit must pair as a reverse update, got ${ch("2", "3")}")
    assert(ch("1", "3").isEmpty, "v1 -> v3 is a state no-op")
    spark.sql("DROP TABLE graft.cdc.rr")
  }

  test("a small change feed reports exact stats and auto-broadcasts into a consuming join") {
    // The canonical consumer is `MERGE INTO target USING changes`: the
    // planner must see the diff's REAL size (rows emitted, not table
    // size) — without reported stats a V2 relation defaults to huge and
    // never broadcasts.
    spark.sql("DROP TABLE IF EXISTS graft.cdc.s")
    spark.sql("CREATE TABLE graft.cdc.s (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.cdc.s SELECT id, concat('x', id) FROM range(0, 1000)") // v1
    spark.sql("INSERT INTO graft.cdc.s VALUES (2000, 'new')") // v2
    val feed = spark.read.format("graft-changes")
      .option("table", "cdc.s").option("changesFrom", "1").load()
    val joined = spark.table("graft.cdc.s").join(feed.select("k", "_change_type"), "k")
    val phys = joined.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"),
      s"1-row change feed should broadcast into the join, got:\n$phys")
    assert(joined.count() == 1)
    spark.sql("DROP TABLE graft.cdc.s")
  }

  test("streaming change feed replays commits as CDC rows and resumes from checkpoint") {
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("DROP TABLE IF EXISTS graft.cdc.f")
    spark.sql("CREATE TABLE graft.cdc.f (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.cdc.f VALUES (1, 'a'), (2, 'b')") // v1
    spark.sql("DELETE FROM graft.cdc.f WHERE k = 1") // v2: dv delete
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_ckpt").toString
    val got = scala.collection.mutable.Set[(String, Long)]()
    // foreachBatch, not the memory sink: only checkpoint-recoverable
    // sinks can prove the restart-resume behavior.
    def runStream(): Unit =
      spark.readStream.format("graft-changes")
        .option("table", "cdc.f").option("changesFrom", "0").load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          got.synchronized {
            got ++= df.select("_change_type", "k").as[(String, Long)].collect()
          }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    runStream()
    // v1's inserts and v2's dv delete, as DATA — the plain catalog
    // stream would have refused the delete commit.
    assert(got.toSet == Set(("insert", 1L), ("insert", 2L), ("delete", 1L)))
    // New commits while the stream is down replay from the checkpoint:
    // ONLY the new changes arrive (offsets persisted).
    spark.sql("INSERT INTO graft.cdc.f VALUES (3, 'c')") // v3
    got.clear()
    runStream()
    assert(got.toSet == Set(("insert", 3L)))
    spark.sql("DROP TABLE graft.cdc.f")
  }

  test("RESTORE resurrections surface as inserts (dv shrink), batch and stream") {
    // RESTORE re-publishes an older snapshot's smaller dv on the SAME
    // segment path — rows come back to life. A feed that only watched
    // dv growth emitted an empty diff for the restore commit and a CDC
    // replica diverged permanently (found by review, fixed, pinned
    // here).
    spark.sql("DROP TABLE IF EXISTS graft.cdc.r")
    spark.sql("CREATE TABLE graft.cdc.r (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.cdc.r VALUES (1), (2), (3)") // v1
    spark.sql("DELETE FROM graft.cdc.r WHERE k = 2") // v2: dv
    spark.sql("CALL graft.system.restore('cdc', 'r', '1')") // v3: dv shrinks back
    // Batch: the v2→v3 diff is exactly the resurrected row.
    val got = spark.read.format("graft-changes")
      .option("table", "cdc.r").option("changesFrom", "2").option("changesTo", "3")
      .load().select("_change_type", "k").as[(String, Long)].collect().toSet
    assert(got == Set(("insert", 2L)), s"restore must surface the resurrection, got $got")
    // Stream: the per-commit replay sees delete(2) then insert(2).
    import org.apache.spark.sql.streaming.Trigger
    val seen = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    spark.readStream.format("graft-changes")
      .option("table", "cdc.r").option("changesFrom", "1").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        seen.synchronized {
          seen ++= df.select("_change_type", "k").as[(String, Long)].collect()
            .map { case (t, k) => (id, t, k) }
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(seen.map { case (_, t, k) => (t, k) }.toSet ==
      Set(("delete", 2L), ("insert", 2L)))
    // The delete arrives in an earlier batch than the resurrection —
    // per-commit ordering a replica can apply naively.
    val delB = seen.collectFirst { case (b, "delete", 2L) => b }.get
    val insB = seen.collectFirst { case (b, "insert", 2L) => b }.get
    assert(delB < insB)
    spark.sql("DROP TABLE graft.cdc.r")
  }

  test("RESTORE across an upsert resurrects eq-deleted rows in the feed") {
    // A merge-on-read upsert registers an equality delete; RESTORE to
    // the pre-upsert version REMOVES it, bringing the shadowed rows
    // back to life on segments present at both endpoints. A diff that
    // only watched newly-ADDED eq deletes (a seq range over
    // to.eqDeletes) planned nothing for the removal and a replica
    // diverged (found by review, pinned here).
    spark.sql("DROP TABLE IF EXISTS graft.cdc.eqr")
    spark.sql("CREATE TABLE graft.cdc.eqr (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.cdc.eqr VALUES (1, 'a1'), (2, 'a2')") // v1
    Seq(2L -> "b2").toDF("k", "v").writeTo("graft.cdc.eqr")
      .option("graft.upsert.keys", "k").append() // v2: appends + eq delete on k=2
    spark.sql("CALL graft.system.restore('cdc', 'eqr', '1')") // v3: eq delete gone
    val got = spark.read.format("graft-changes")
      .option("table", "cdc.eqr").option("changesFrom", "2").option("changesTo", "3")
      .load().select("_change_type", "k", "v")
      .as[(String, Long, String)].collect().toSet
    assert(got == Set(("delete", 2L, "b2"), ("insert", 2L, "a2")),
      s"restore must delete the upserted row AND resurrect the shadowed one, got $got")
    // Sanity: the full round-trip v1 -> v3 nets to nothing.
    assert(spark.read.format("graft-changes")
      .option("table", "cdc.eqr").option("changesFrom", "1").option("changesTo", "3")
      .load().count() == 0)
    // Streamed per-commit, a naive replica applies the same truth.
    import org.apache.spark.sql.streaming.Trigger
    val seen = scala.collection.mutable.Set[(String, Long, String)]()
    spark.readStream.format("graft-changes")
      .option("table", "cdc.eqr").option("changesFrom", "0").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized {
          seen ++= df.select("_change_type", "k", "v")
            .as[(String, Long, String)].collect()
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(seen.toSet == Set(
      ("insert", 1L, "a1"), ("insert", 2L, "a2"), // v1
      ("delete", 2L, "a2"), ("insert", 2L, "b2"), // v2 upsert
      ("delete", 2L, "b2"), ("insert", 2L, "a2"))) // v3 restore
    spark.sql("DROP TABLE graft.cdc.eqr")
  }

  test("outstanding eq deletes survive RENAME COLUMN across a feed range") {
    // Eq-delete key columns are NAMES, re-paired to the new name only
    // on the LIVE entry — history snapshots keep the old name with the
    // old schema. Each endpoint's deletes must compile against ITS OWN
    // schema epoch; compiling `from`'s old-name keys against `to`'s
    // renamed schema threw fieldIndex (or mis-bound after name reuse).
    spark.sql("DROP TABLE IF EXISTS graft.cdc.rn")
    spark.sql("CREATE TABLE graft.cdc.rn (a BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.cdc.rn VALUES (1, 'a1'), (2, 'a2')") // v1
    Seq(2L -> "b2").toDF("a", "v").writeTo("graft.cdc.rn")
      .option("graft.upsert.keys", "a").append() // v2: eq delete keyed on 'a'
    spark.sql("ALTER TABLE graft.cdc.rn RENAME COLUMN a TO b") // v3
    // Rename-only range: empty diff, not a plan-time crash.
    assert(spark.read.format("graft-changes")
      .option("table", "cdc.rn").option("changesFrom", "2").option("changesTo", "3")
      .load().count() == 0)
    // Range crossing the rename: the upsert's changes under the NEW name.
    val got = spark.read.format("graft-changes")
      .option("table", "cdc.rn").option("changesFrom", "1").load()
      .select("_change_type", "b", "v").as[(String, Long, String)].collect().toSet
    assert(got == Set(("delete", 2L, "a2"), ("insert", 2L, "b2")), s"got $got")
    spark.sql("DROP TABLE graft.cdc.rn")
  }

  test("Trigger.Once drains the full backlog as one net batch") {
    // Trigger.Once runs exactly one micro-batch by contract; honoring
    // the per-commit pace there would consume ONE commit and terminate
    // with the rest silently unprocessed. An explicit allAvailable
    // limit with no prepared target drains to current as a net diff.
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("DROP TABLE IF EXISTS graft.cdc.o")
    spark.sql("CREATE TABLE graft.cdc.o (k BIGINT) USING graft")
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO graft.cdc.o VALUES ($i)")) // v1..v3
    spark.sql("DELETE FROM graft.cdc.o WHERE k = 2") // v4
    val batches = scala.collection.mutable.ArrayBuffer[Set[(String, Long)]]()
    spark.readStream.format("graft-changes")
      .option("table", "cdc.o").option("changesFrom", "0").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.synchronized {
          batches += df.select("_change_type", "k").as[(String, Long)].collect().toSet
        }
        ()
      }
      .trigger(Trigger.Once()).start().awaitTermination()
    assert(batches.toList == List(Set(("insert", 1L), ("insert", 3L))),
      s"one net batch covering v0->v4 (k=2's insert+delete nets out), got $batches")
    spark.sql("DROP TABLE graft.cdc.o")
  }

  test("streaming load() does not resolve changesFrom eagerly; changesTo bounds the stream") {
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("DROP TABLE IF EXISTS graft.cdc.b")
    spark.sql("CREATE TABLE graft.cdc.b (k BIGINT) USING graft")
    (1 to 4).foreach(i => spark.sql(s"INSERT INTO graft.cdc.b VALUES ($i)")) // v1..v4
    // A future (never-committed) start version must not fail at load()
    // or start() — the stream simply has nothing to deliver yet. This
    // is the observable half of lazy resolution: the batch path throws
    // for the same option, the streaming path must not.
    intercept[Exception](spark.read.format("graft-changes")
      .option("table", "cdc.b").option("changesFrom", "999").load().collect())
    val futureRows = scala.collection.mutable.ArrayBuffer[Long]()
    spark.readStream.format("graft-changes")
      .option("table", "cdc.b").option("changesFrom", "999").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        futureRows.synchronized { futureRows ++= df.select("k").as[Long].collect() }
        ()
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(futureRows.isEmpty)
    // changesTo caps the stream: only commits (1, 3] arrive.
    val bounded = scala.collection.mutable.ArrayBuffer[Long]()
    spark.readStream.format("graft-changes")
      .option("table", "cdc.b").option("changesFrom", "1").option("changesTo", "3")
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        bounded.synchronized { bounded ++= df.select("k").as[Long].collect() }
        ()
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(bounded.sorted == Seq(2L, 3L), s"expected commits (1,3], got $bounded")
    spark.sql("DROP TABLE graft.cdc.b")
  }

  test("timestamp bounds resolve to the latest snapshot at or before them") {
    spark.sql("DROP TABLE IF EXISTS graft.cdc.ts")
    spark.sql("CREATE TABLE graft.cdc.ts (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.cdc.ts VALUES (1)") // v1
    Thread.sleep(30)
    val betweenV1andV2 = java.time.Instant.now().toString
    Thread.sleep(30)
    spark.sql("INSERT INTO graft.cdc.ts VALUES (2)") // v2
    spark.sql("INSERT INTO graft.cdc.ts VALUES (3)") // v3
    // changesFrom as a timestamp between v1 and v2 = "everything since
    // that moment": exactly the v2 and v3 appends.
    val got = spark.read.format("graft-changes")
      .option("table", "cdc.ts").option("changesFrom", betweenV1andV2)
      .load().select("_change_type", "k").as[(String, Long)].collect().toSet
    assert(got == Set(("insert", 2L), ("insert", 3L)), s"got $got")
    // Offset-carrying ISO form works too (same instant, +02:00 notation).
    val offsetForm = java.time.OffsetDateTime
      .ofInstant(java.time.Instant.parse(betweenV1andV2), java.time.ZoneOffset.ofHours(2))
      .toString
    assert(spark.read.format("graft-changes")
      .option("table", "cdc.ts").option("changesFrom", offsetForm)
      .load().count() == 2)
    // A pre-history timestamp fails loudly rather than guessing —
    // bare-date form exercised at the same time.
    intercept[Exception](spark.read.format("graft-changes")
      .option("table", "cdc.ts").option("changesFrom", "1970-01-01")
      .load().collect())
    spark.sql("DROP TABLE graft.cdc.ts")
  }

  test("ALTER migrations are dataChange=false: migration-only range diffs EMPTY; mixed range still refuses") {
    // An ADD COLUMN re-projects every segment but changes no logical
    // row — the Delta/Iceberg layout-only semantics. The feed must
    // treat it like compaction: a range covering ONLY the migration
    // reads as zero rows (even though the bounds' schemas differ —
    // nothing decodes), while a range mixing the migration with real
    // data commits still refuses loudly (those rows would need
    // cross-epoch decoding).
    spark.sql("DROP TABLE IF EXISTS graft.cdc.mig")
    spark.sql("CREATE TABLE graft.cdc.mig (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.cdc.mig VALUES (1, 'a'), (2, 'b')") // v1
    spark.sql("ALTER TABLE graft.cdc.mig ADD COLUMN extra BIGINT")   // v2 (migration)
    assert(spark.sql("SELECT data_change FROM graft.cdc.mig.history WHERE version = 2")
      .collect().head.getBoolean(0) == false,
      "the migration commit must be dataChange=false")
    assert(spark.read.format("graft-changes")
      .option("table", "cdc.mig").option("changesFrom", "1").option("changesTo", "2")
      .load().count() == 0, "migration-only range diffs empty")
    spark.sql("INSERT INTO graft.cdc.mig VALUES (3, 'c', 30)") // v3 (new epoch data)
    val e = intercept[Exception](spark.read.format("graft-changes")
      .option("table", "cdc.mig").option("changesFrom", "0").load().collect())
    assert(e.getMessage.contains("schema changed"), e.getMessage)
    // The new epoch works from the migration version on.
    assert(spark.read.format("graft-changes")
      .option("table", "cdc.mig").option("changesFrom", "2").load()
      .select("_change_type", "k", "extra").as[(String, Long, Long)].collect().toSet ==
      Set(("insert", 3L, 30L)))
    spark.sql("DROP TABLE graft.cdc.mig")
  }

  test("CDC STREAM restart on the SAME checkpoint resumes past a migration") {
    spark.sql("DROP TABLE IF EXISTS graft.cdc.rs")
    spark.sql("CREATE TABLE graft.cdc.rs (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.cdc.rs VALUES (1, 'a')") // v1
    val ck = java.nio.file.Files.createTempDirectory("cdc-rs-ck-").toString
    // foreachBatch, not the memory sink: only the former supports
    // checkpoint RECOVERY, which is the thing under test.
    val seen = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft-changes")
        .option("table", "cdc.rs").option("changesFrom", "0").load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized { df.collect().foreach(r => seen += r.toSeq) }; ()
        }
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    assert(seen.length == 1, s"pre-migration drain: $seen")
    spark.sql("ALTER TABLE graft.cdc.rs ADD COLUMN extra BIGINT") // v2 (silent)
    spark.sql("INSERT INTO graft.cdc.rs VALUES (2, 'b', 20)")     // v3
    // Fresh query, same checkpoint, evolved schema: the migration
    // plans an empty batch and the v3 insert arrives — never wedged.
    seen.clear()
    drain()
    assert(seen.toList == List(Seq(2L, "b", 20L, "insert")), s"got $seen")
    spark.sql("DROP TABLE graft.cdc.rs")
  }

  test("schema change across the range fails loudly, within an epoch works") {
    spark.sql("ALTER TABLE graft.cdc.t ADD COLUMN extra BIGINT") // v5
    val e = intercept[Exception](changes("1").collect())
    assert(e.getMessage != null && e.getMessage.contains("schema changed"),
      s"got: ${e.getMessage}")
    // Within the new schema epoch the feed works again.
    spark.sql("INSERT INTO graft.cdc.t VALUES (100, 'c', 7)") // v6
    assert(changes("5").select("_change_type", "k", "extra")
      .as[(String, Long, Long)].collect().toSet == Set(("insert", 100L, 7L)))
    // A bounded range pinned INSIDE the pre-evolution epoch reads with
    // the OLD schema — advertising the current (wider) schema while
    // decoding old-layout rows would read past the field region.
    val pre = changes("1", Some("2"))
    assert(!pre.columns.contains("extra"),
      s"pre-evolution range must advertise the old schema, got ${pre.columns.toSeq}")
    assert(pre.select("_change_type", "k").as[(String, Long)].collect().toSet ==
      (10L until 20L).map(("insert", _)).toSet)
    spark.sql("DROP TABLE graft.cdc.t")
  }

  test("pairing degrades when an in-range RESTORE removed an eq delete on the source") {
    // v2→v4 where v3 RESTORE removed the upsert's eq delete and v4
    // CoW-rewrote the segment: the k=2 row is eq-DEAD at `from` and
    // live (byte-identical) at `to`, so the lockstep pair could never
    // emit its resurrection insert — the guard must degrade to the
    // delete+insert form (found by review, pinned here).
    spark.sql("DROP TABLE IF EXISTS graft.cdc.pr")
    spark.sql("CREATE TABLE graft.cdc.pr (k BIGINT, v STRING) USING graft")
    // ONE 5-row segment (numSlices=1) — per-row segments would route
    // the resurrection through the eq-delta path and never reach the
    // pairing guard under test.
    spark.sql("INSERT INTO graft.cdc.pr " +
      "SELECT id, concat('a', id) FROM range(1, 6, 1, 1)") // v1: k=1..5
    Seq(2L -> "b2").toDF("k", "v").writeTo("graft.cdc.pr")
      .option("graft.upsert.keys", "k").append() // v2: eq delete on k=2
    spark.sql("CALL graft.system.restore('cdc', 'pr', '1')") // v3: eq delete gone
    spark.sql("UPDATE graft.cdc.pr SET v = 'c5' WHERE k = 5") // v4: CoW rewrite
    val got = spark.read.format("graft-changes")
      .option("table", "cdc.pr").option("changesFrom", "2").option("changesTo", "4")
      .load().select("_change_type", "k", "v")
      .as[(String, Long, String)].collect().toSet
    // Degraded form: delete+insert churn on the rewritten segment (the
    // documented honest cap) — but the k=2 resurrection IS there (its
    // bytes never changed, so a lockstep pair would emit NOTHING for
    // it) and no update pairs appear. Deletes exclude k=2 (eq-dead at
    // `from`); inserts carry all five post-rewrite rows.
    assert(got == Set(
      ("delete", 2L, "b2"), // the upsert batch, removed by the restore
      ("delete", 1L, "a1"), ("delete", 3L, "a3"),
      ("delete", 4L, "a4"), ("delete", 5L, "a5"),
      ("insert", 1L, "a1"), ("insert", 2L, "a2"), ("insert", 3L, "a3"),
      ("insert", 4L, "a4"), ("insert", 5L, "c5")), s"got $got")
    spark.sql("DROP TABLE graft.cdc.pr")
  }

  test("a GC'd eq delete provably disjoint from the source keeps the update pairing") {
    // v2's upsert key (k=10) never lived in the 5-row segment; v3's
    // CoW rewrite retires every pre-upsert segment, so publish GC's
    // the eq delete — it vanishes between the endpoints exactly like a
    // RESTORE would. Zone-map/Bloom disjointness proves it could not
    // have killed any source row, so the feed must still emit the
    // exact update pair, not the full delete+insert churn.
    spark.sql("DROP TABLE IF EXISTS graft.cdc.gcp")
    spark.sql("CREATE TABLE graft.cdc.gcp (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.cdc.gcp " +
      "SELECT id, concat('a', id) FROM range(1, 6, 1, 1)") // v1: one segment k=1..5
    Seq(10L -> "b10").toDF("k", "v").writeTo("graft.cdc.gcp")
      .option("graft.upsert.keys", "k").append() // v2: eq delete on k=10
    spark.sql("UPDATE graft.cdc.gcp SET v = 'c5' WHERE k = 5") // v3: rewrite + eq GC
    val got = spark.read.format("graft-changes")
      .option("table", "cdc.gcp").option("changesFrom", "2").option("changesTo", "3")
      .load().select("_change_type", "k", "v")
      .as[(String, Long, String)].collect().toSet
    assert(got == Set(
      ("update_preimage", 5L, "a5"), ("update_postimage", 5L, "c5")),
      s"disjoint GC'd eq delete must not degrade the pairing, got $got")
    spark.sql("DROP TABLE graft.cdc.gcp")
  }

  test("pairing degrades when the source's dv shifted in-range (equal-size, different rows)") {
    // delete k=3 → RESTORE → delete k=5 → CoW UPDATE k=0: the from-dv
    // {3} and the dv the rewrite applied {5} have EQUAL cardinality, so
    // the cardinality check alone would pair and the lockstep reader
    // would pair WRONG logical rows from ordinal 3 on (fabricated
    // updates, missing insert k=3 / delete k=5). The dv-stability
    // guard must degrade (found by review, pinned here).
    spark.sql("DROP TABLE IF EXISTS graft.cdc.dvs")
    spark.sql("CREATE TABLE graft.cdc.dvs (k BIGINT, v STRING) USING graft")
    // ONE 6-row segment (numSlices=1): the position shift under test
    // needs several rows sharing a segment.
    spark.sql(
      "INSERT INTO graft.cdc.dvs SELECT id, concat('a', id) FROM range(0, 6, 1, 1)") // v1
    spark.sql("DELETE FROM graft.cdc.dvs WHERE k = 3") // v2: dv {3}
    spark.sql("CALL graft.system.restore('cdc', 'dvs', '1')") // v3: dv {}
    spark.sql("DELETE FROM graft.cdc.dvs WHERE k = 5") // v4: dv {5}
    spark.sql("UPDATE graft.cdc.dvs SET v = 'c0' WHERE k = 0") // v5: CoW rewrite
    val got = spark.read.format("graft-changes")
      .option("table", "cdc.dvs").option("changesFrom", "2").option("changesTo", "5")
      .load().select("_change_type", "k", "v")
      .as[(String, Long, String)].collect().toSet
    // Degraded delete+insert: deletes = live-at-from rows {0,1,2,4,5},
    // inserts = live-at-to rows {0(updated),1,2,3,4}. The k=3
    // resurrection and the k=5 delete both surface; no row pairs wrong.
    val expect =
      Set(0L, 1L, 2L, 4L, 5L).map(k => ("delete", k, s"a$k")) +
        (("insert", 0L, "c0")) ++ Set(1L, 2L, 3L, 4L).map(k => ("insert", k, s"a$k"))
    assert(got == expect, s"got $got")
    spark.sql("DROP TABLE graft.cdc.dvs")
  }

  test("checkpointed stream restarts after its timestamp changesFrom aged out of retention") {
    // The bound string maps to a version through RETAINED snapshots;
    // eager re-resolution at restart killed a stream whose checkpoint
    // is all that matters once pre-timestamp snapshots expired (found
    // by review, pinned here). Cap retention at 2 snapshots to force
    // the expiry.
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("DROP TABLE IF EXISTS graft.cdc.tsr")
    spark.sql("CREATE TABLE graft.cdc.tsr (k BIGINT) USING graft " +
      "TBLPROPERTIES ('graft.retention.snapshots'='2')")
    spark.sql("INSERT INTO graft.cdc.tsr VALUES (1)") // v1
    Thread.sleep(30)
    val betweenV1andV2 = java.time.Instant.now().toString
    Thread.sleep(30)
    spark.sql("INSERT INTO graft.cdc.tsr VALUES (2)") // v2
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_tsr").toString
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    def runStream(): Unit =
      spark.readStream.format("graft-changes")
        .option("table", "cdc.tsr").option("changesFrom", betweenV1andV2).load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          got.synchronized { got ++= df.select("k").as[Long].collect() }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    runStream() // resolves the timestamp to v1 (still retained), drains v2
    assert(got.sorted == Seq(2L), s"got $got")
    // v3 expires v1 under the cap — the timestamp now maps to NOTHING.
    spark.sql("INSERT INTO graft.cdc.tsr VALUES (3)") // v3; retained: v2, v3
    intercept[Exception](spark.read.format("graft-changes")
      .option("table", "cdc.tsr").option("changesFrom", betweenV1andV2)
      .load().collect()) // the batch path correctly refuses now
    got.clear()
    runStream() // the checkpointed stream must come up and drain v3
    assert(got.sorted == Seq(3L), s"restart must deliver v3 only, got $got")
    spark.sql("DROP TABLE graft.cdc.tsr")
  }

  test("drained bounded stream restarts and idles after its timestamp changesTo expired") {
    // The end bound IS consulted every batch; once its at-or-before
    // snapshots expire, the mapping degrades to 'below the oldest
    // retained snapshot' — a drained bounded stream restarts and
    // idles instead of dying. A MALFORMED bound must still fail.
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("DROP TABLE IF EXISTS graft.cdc.tse")
    spark.sql("CREATE TABLE graft.cdc.tse (k BIGINT) USING graft " +
      "TBLPROPERTIES ('graft.retention.snapshots'='2')")
    spark.sql("INSERT INTO graft.cdc.tse VALUES (1)") // v1
    Thread.sleep(30)
    val cap = java.time.Instant.now().toString // bound: at-or-before = v1
    Thread.sleep(30)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_tse").toString
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    def runStream(to: String): Unit =
      spark.readStream.format("graft-changes")
        .option("table", "cdc.tse").option("changesFrom", "0")
        .option("changesTo", to).load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          got.synchronized { got ++= df.select("k").as[Long].collect() }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    runStream(cap) // drains (0, v1]
    assert(got.sorted == Seq(1L), s"got $got")
    // THREE commits: retained = {v3, v4} — both the bound's snapshots
    // AND the first post-bound version expire, so the degraded
    // frontier (oldest-1 = 2) sits ABOVE the checkpoint (1). An
    // advance would crash in snapshotOrFail on a stream that already
    // drained its bound; it must pin at the offset and idle.
    spark.sql("INSERT INTO graft.cdc.tse VALUES (2)") // v2
    spark.sql("INSERT INTO graft.cdc.tse VALUES (3)") // v3
    spark.sql("INSERT INTO graft.cdc.tse VALUES (4)") // v4; retained: v3, v4
    got.clear()
    runStream(cap) // v1..v2 expired: the bound maps to nothing — idle, not die
    assert(got.isEmpty, s"expired changesTo must idle the drained stream, got $got")
    // A typo'd bound still fails loudly — and for the RIGHT reason
    // (unresolvable bound), not some unrelated crash.
    val e = intercept[Exception] { runStream("not-a-bound") }
    def msgs(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("not-a-bound")),
      s"expected the malformed bound in the error, got: ${msgs(e)}")
    spark.sql("DROP TABLE graft.cdc.tse")
  }
}
