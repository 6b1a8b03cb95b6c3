package graft

import org.scalatest.funsuite.AnyFunSuite

/** V2 ViewCatalog (persistent late-binding SQL views) and ANSI table
  * constraints (ENFORCED CHECK, write-side enforcement by Spark's own
  * planning) on the graft catalog.
  */
class ViewConstraintSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("CREATE/SELECT/SHOW/DROP view lifecycle through SQL; rename/alter via API") {
    spark.sql("DROP TABLE IF EXISTS graft.vw.base")
    spark.sql("DROP VIEW IF EXISTS graft.vw.v1")
    spark.sql("DROP VIEW IF EXISTS graft.vw.v2")
    spark.sql("CREATE TABLE graft.vw.base (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.vw.base VALUES (1,'a'), (2,'b'), (3,'c')")
    spark.sql("CREATE VIEW graft.vw.v1 AS SELECT k, upper(v) AS vu FROM graft.vw.base WHERE k >= 2")
    assert(spark.sql("SELECT k, vu FROM graft.vw.v1 ORDER BY k")
      .as[(Long, String)].collect().toSeq == Seq((2L, "B"), (3L, "C")))
    // LATE BINDING: new base rows are visible without recreating the view
    spark.sql("INSERT INTO graft.vw.base VALUES (4,'d')")
    assert(spark.sql("SELECT count(*) FROM graft.vw.v1").as[Long].head() == 3L)
    // views compose: a view over a view, and joins against base tables
    spark.sql("CREATE VIEW graft.vw.v2 AS SELECT count(*) AS n FROM graft.vw.v1 WHERE k > 2")
    assert(spark.sql("SELECT n FROM graft.vw.v2").as[Long].head() == 2L)
    assert(spark.sql("SHOW VIEWS IN graft.vw").select("viewName")
      .as[String].collect().toSeq == Seq("v1", "v2"))
    // rename + property alter through the ViewCatalog API
    import org.apache.spark.sql.connector.catalog.{Identifier, ViewChange}
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.ViewCatalog]
    cat.alterView(Identifier.of(Array("vw"), "v2"),
      ViewChange.setProperty("note", "demo"))
    assert(cat.loadView(Identifier.of(Array("vw"), "v2")).properties().get("note") == "demo")
    cat.renameView(Identifier.of(Array("vw"), "v2"), Identifier.of(Array("vw"), "v3"))
    assert(spark.sql("SELECT n FROM graft.vw.v3").as[Long].head() == 2L)
    assert(spark.sql("DROP VIEW graft.vw.v3").collect().isEmpty)
    intercept[Exception] { spark.sql("SELECT * FROM graft.vw.v3").collect() }
    // CREATE OR REPLACE + duplicate-create error + IF NOT EXISTS no-op
    spark.sql("CREATE OR REPLACE VIEW graft.vw.v1 AS SELECT max(k) AS mk FROM graft.vw.base")
    assert(spark.sql("SELECT mk FROM graft.vw.v1").as[Long].head() == 4L)
    intercept[Exception] {
      spark.sql("CREATE VIEW graft.vw.v1 AS SELECT 1 AS one")
    }
    spark.sql("CREATE VIEW IF NOT EXISTS graft.vw.v1 AS SELECT 1 AS one") // no-op
    assert(spark.sql("SELECT mk FROM graft.vw.v1").as[Long].head() == 4L)
    spark.sql("DROP VIEW graft.vw.v1")
  }

  test("column DEFAULTs: CREATE-time, INSERT keyword, and ALTER ADD COLUMN backfill") {
    spark.sql("DROP TABLE IF EXISTS graft.df.t1")
    spark.sql(
      "CREATE TABLE graft.df.t1 (k BIGINT, v STRING DEFAULT 'unset', n DOUBLE DEFAULT 2.5) USING graft")
    spark.sql("INSERT INTO graft.df.t1 (k) VALUES (1)")
    spark.sql("INSERT INTO graft.df.t1 VALUES (2, 'set', 9.0)")
    spark.sql("INSERT INTO graft.df.t1 (k, v) VALUES (3, DEFAULT)")
    assert(spark.sql("SELECT k, v, n FROM graft.df.t1 ORDER BY k")
      .as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "unset", 2.5), (2L, "set", 9.0), (3L, "unset", 2.5)))
    // ALTER-added column: existing rows backfill with the evaluated
    // default (ANSI EXISTS_DEFAULT), future inserts fill CURRENT_DEFAULT.
    spark.sql("ALTER TABLE graft.df.t1 ADD COLUMN extra STRING DEFAULT 'later'")
    spark.sql("INSERT INTO graft.df.t1 (k) VALUES (4)")
    assert(spark.sql("SELECT k, extra FROM graft.df.t1 ORDER BY k")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "later"), (2L, "later"), (3L, "later"), (4L, "later")))
    // a default-less ALTER-added column still backfills null
    spark.sql("ALTER TABLE graft.df.t1 ADD COLUMN free STRING")
    assert(spark.sql("SELECT count(*) FROM graft.df.t1 WHERE free IS NULL")
      .as[Long].head() == 4L)
  }

  test("ENFORCED CHECK constraints reject violating writes; DROP CONSTRAINT lifts them") {
    spark.sql("DROP TABLE IF EXISTS graft.cn.t1")
    spark.sql(
      "CREATE TABLE graft.cn.t1 (k BIGINT, v DOUBLE, CONSTRAINT k_pos CHECK (k > 0)) USING graft")
    spark.sql("INSERT INTO graft.cn.t1 VALUES (1, 0.5), (2, 1.5)")
    val e = intercept[Exception] {
      spark.sql("INSERT INTO graft.cn.t1 VALUES (-1, 9.9)")
    }
    assert(e.getMessage.contains("CHECK_CONSTRAINT_VIOLATION"), e.getMessage)
    assert(spark.sql("SELECT count(*) FROM graft.cn.t1").as[Long].head() == 2L,
      "the violating job must not commit")
    // ALTER TABLE ADD CONSTRAINT is metadata-only and immediately enforced
    spark.sql("ALTER TABLE graft.cn.t1 ADD CONSTRAINT v_small CHECK (v < 10.0)")
    val e2 = intercept[Exception] {
      spark.sql("INSERT INTO graft.cn.t1 VALUES (5, 11.0)")
    }
    assert(e2.getMessage.contains("CHECK_CONSTRAINT_VIOLATION"))
    spark.sql("ALTER TABLE graft.cn.t1 DROP CONSTRAINT v_small")
    spark.sql("INSERT INTO graft.cn.t1 VALUES (5, 11.0)") // now fine
    assert(spark.sql("SELECT count(*) FROM graft.cn.t1").as[Long].head() == 3L)
    // informational (NOT ENFORCED) PK is accepted; an ENFORCED one is not
    spark.sql("ALTER TABLE graft.cn.t1 ADD CONSTRAINT pk PRIMARY KEY (k) NOT ENFORCED")
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.cn.t1 ADD CONSTRAINT u UNIQUE (v) ENFORCED")
    }
    // adding a CHECK that existing data violates is rejected by Spark's
    // validation scan BEFORE it reaches the catalog
    val e3 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.cn.t1 ADD CONSTRAINT v_tiny CHECK (v < 1.0)")
    }
    assert(e3.getMessage.contains("NEW_CHECK_CONSTRAINT_VIOLATION"), e3.getMessage)
  }

  test("verify_constraints: clean table reports ok; planted violations are counted per kind") {
    spark.sql("DROP TABLE IF EXISTS graft.cn.vt PURGE")
    spark.sql("DROP TABLE IF EXISTS graft.cn.vref PURGE")
    spark.sql("CREATE TABLE graft.cn.vref (r BIGINT) USING graft")
    spark.sql("INSERT INTO graft.cn.vref VALUES (1), (2), (3)")
    spark.sql(
      """CREATE TABLE graft.cn.vt
        |  (k BIGINT, r BIGINT, v DOUBLE,
        |   CONSTRAINT vt_pk PRIMARY KEY (k) NOT ENFORCED,
        |   CONSTRAINT vt_uq UNIQUE (v) NOT ENFORCED,
        |   CONSTRAINT vt_fk FOREIGN KEY (r) REFERENCES graft.cn.vref (r) NOT ENFORCED,
        |   CONSTRAINT vt_ck CHECK (v < 100.0))
        |USING graft""".stripMargin)
    spark.sql("INSERT INTO graft.cn.vt VALUES (1, 1, 0.5), (2, 2, 1.5), (3, NULL, NULL)")
    def report(): Map[String, (String, Long, Boolean)] =
      spark.sql("CALL graft.system.verify_constraints('cn', 'vt')")
        .collect()
        .map(x => x.getString(0) -> ((x.getString(1), x.getLong(2), x.getBoolean(3))))
        .toMap
    val clean = report()
    assert(clean.size == 4 && clean.values.forall(c => c._2 == 0L && c._3),
      s"clean table must report every constraint ok: $clean")
    // UNIQUE ignores NULL keys (row 3's NULL v is not a violation) —
    // already proven by `clean`. Now plant one violation per kind:
    // k=1 duplicated (PK), v=0.5 duplicated (UNIQUE), r=9 dangling (FK).
    spark.sql("INSERT INTO graft.cn.vt VALUES (1, 9, 0.5)")
    // (A NULL PK key cannot be planted through writes — declaring
    // PRIMARY KEY makes the column non-nullable and Spark asserts it
    // at insert; the procedure's NULL-key accounting stays as defense
    // for out-of-band data.)
    val bad = report()
    assert(bad("vt_pk") == (("PRIMARY KEY", 2L, false)),
      s"k=1 appears twice: $bad")
    assert(bad("vt_uq") == (("UNIQUE", 2L, false)), s"two rows share v=0.5: $bad")
    assert(bad("vt_fk") == (("FOREIGN KEY", 1L, false)), s"one dangling r=9: $bad")
    assert(bad("vt_ck") == (("CHECK", 0L, true)),
      s"CHECK is write-enforced; still clean: $bad")
    spark.sql("DROP TABLE graft.cn.vt PURGE")
    spark.sql("DROP TABLE graft.cn.vref PURGE")
  }

  test("verify_constraints folds every non-FK constraint into one Spark job") {
    spark.sql("DROP TABLE IF EXISTS graft.cn.fold PURGE")
    spark.sql("DROP TABLE IF EXISTS graft.cn.foldref PURGE")
    spark.sql("CREATE TABLE graft.cn.foldref (r BIGINT) USING graft")
    spark.sql("INSERT INTO graft.cn.foldref VALUES (1), (2)")
    // Five non-FK constraints + one FK: unfolded, the non-FK set alone
    // cost 7 jobs (a groupBy per UNIQUE/PK, a null-key count per PK, a
    // count per CHECK); folded it is ONE job, plus one per FK anti
    // join, plus at most one driver-side materialization of the
    // procedure's LocalScan result.
    spark.sql(
      """CREATE TABLE graft.cn.fold
        |  (k BIGINT, r BIGINT, v DOUBLE, s STRING,
        |   CONSTRAINT f_pk PRIMARY KEY (k) NOT ENFORCED,
        |   CONSTRAINT f_uq1 UNIQUE (v) NOT ENFORCED,
        |   CONSTRAINT f_uq2 UNIQUE (s) NOT ENFORCED,
        |   CONSTRAINT f_ck1 CHECK (v < 100.0),
        |   CONSTRAINT f_ck2 CHECK (k >= 0),
        |   CONSTRAINT f_fk FOREIGN KEY (r) REFERENCES graft.cn.foldref (r)
        |     NOT ENFORCED)
        |USING graft""".stripMargin)
    spark.sql(
      "INSERT INTO graft.cn.fold VALUES (1, 1, 0.5, 'a'), (2, 9, 0.5, 'b'), (2, 2, 1.5, 'a')")
    // Count ACTIONS (query executions), not Spark jobs: AQE legitimately
    // splits one action into a job per query stage, so job counts don't
    // measure what the fold changed. Folded = exactly 3 actions: the
    // one non-FK pass, the FK anti join, and the CALL's own result
    // materialization. Unfolded was 9 (groupBy per UNIQUE/PK + null-key
    // count per PK + count per CHECK = 7, + FK + result).
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        actions.incrementAndGet(); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    // Listener events post asynchronously: drain the bus before
    // registering, so no late event of an earlier query counts as an
    // action of the CALL, and again after it, so all of its own have
    // been delivered before the count is read.
    org.apache.spark.sql.GraftTestBridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val rep = spark.sql("CALL graft.system.verify_constraints('cn', 'fold')")
        .collect().map(x => x.getString(0) -> x.getLong(2)).toMap
      org.apache.spark.sql.GraftTestBridge.drainListenerBus(spark.sparkContext)
      assert(rep == Map("f_pk" -> 2L, "f_uq1" -> 2L, "f_uq2" -> 2L,
        "f_ck1" -> 0L, "f_ck2" -> 0L, "f_fk" -> 1L), s"wrong counts: $rep")
      assert(actions.get() <= 3,
        s"expected <= 3 actions (folded non-FK + FK anti join + result), got ${actions.get()}")
    } finally spark.listenerManager.unregister(listener)
    spark.sql("DROP TABLE graft.cn.fold PURGE")
    spark.sql("DROP TABLE graft.cn.foldref PURGE")
  }

  test("verify_constraints folds all FKs against one parent into one anti join") {
    spark.sql("DROP TABLE IF EXISTS graft.cn.mfk PURGE")
    spark.sql("DROP TABLE IF EXISTS graft.cn.mref PURGE")
    spark.sql("CREATE TABLE graft.cn.mref (a BIGINT, b STRING) USING graft")
    spark.sql("INSERT INTO graft.cn.mref VALUES (1, 'x'), (2, 'y')")
    // THREE FKs against the SAME parent (two single-column on different
    // columns, one composite): folded = one parent scan + one anti
    // join for all three, so the CALL costs exactly 3 actions (non-FK
    // fold absent here → folded pass skipped; FK group + result + ...).
    spark.sql(
      """CREATE TABLE graft.cn.mfk
        |  (r1 BIGINT, r2 STRING, ca BIGINT, cb STRING,
        |   CONSTRAINT m_fk1 FOREIGN KEY (r1) REFERENCES graft.cn.mref (a)
        |     NOT ENFORCED,
        |   CONSTRAINT m_fk2 FOREIGN KEY (r2) REFERENCES graft.cn.mref (b)
        |     NOT ENFORCED,
        |   CONSTRAINT m_fkc FOREIGN KEY (ca, cb) REFERENCES graft.cn.mref (a, b)
        |     NOT ENFORCED)
        |USING graft""".stripMargin)
    // Row 1: all keys resolve. Row 2: r1 dangles (9), composite dangles
    // ((2,'x') is no parent row). Row 3: NULLs pass per SQL.
    spark.sql(
      """INSERT INTO graft.cn.mfk VALUES
        |  (1, 'y', 2, 'y'), (9, 'x', 2, 'x'), (NULL, NULL, NULL, 'z')""".stripMargin)
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        actions.incrementAndGet(); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // The execution-listener bus is ASYNC: an onSuccess for the
      // INSERT above (or any earlier action) can arrive AFTER
      // registration and masquerade as CALL work on a loaded box.
      // Settle first and count from a baseline, not from zero.
      def settle(): Int = {
        var prev = -1
        var settles = 0
        while (settles < 2) {
          Thread.sleep(100)
          if (actions.get() == prev) settles += 1 else { settles = 0; prev = actions.get() }
        }
        actions.get()
      }
      val base = settle()
      val rep = spark.sql("CALL graft.system.verify_constraints('cn', 'mfk')")
        .collect().map(x => x.getString(0) -> x.getLong(2)).toMap
      val total = settle()
      assert(rep == Map("m_fk1" -> 1L, "m_fk2" -> 0L, "m_fkc" -> 1L),
        s"wrong counts: $rep")
      // 2 actions: the shared FK anti join + the CALL result
      // materialization (no non-FK constraints → no folded pass).
      assert(total - base <= 2,
        s"expected <= 2 actions (one shared FK probe + result), got ${total - base}")
    } finally spark.listenerManager.unregister(listener)
    spark.sql("DROP TABLE graft.cn.mfk PURGE")
    spark.sql("DROP TABLE graft.cn.mref PURGE")
  }

  test("verify_constraints: COMPOSITE-key FK and UNIQUE verify column-by-column") {
    spark.sql("DROP TABLE IF EXISTS graft.cn.ct PURGE")
    spark.sql("DROP TABLE IF EXISTS graft.cn.cref PURGE")
    spark.sql("CREATE TABLE graft.cn.cref (a BIGINT, b STRING) USING graft")
    spark.sql("INSERT INTO graft.cn.cref VALUES (1, 'x'), (1, 'y'), (2, 'x')")
    spark.sql(
      """CREATE TABLE graft.cn.ct
        |  (a BIGINT, b STRING, v BIGINT,
        |   CONSTRAINT ct_uq UNIQUE (a, b) NOT ENFORCED,
        |   CONSTRAINT ct_fk FOREIGN KEY (a, b) REFERENCES graft.cn.cref (a, b)
        |     NOT ENFORCED)
        |USING graft""".stripMargin)
    // (2,'y') matches NEITHER ref row although a=2 and b='y' each exist
    // separately — a column-wise (not tuple-wise) FK probe would pass it.
    spark.sql(
      "INSERT INTO graft.cn.ct VALUES (1, 'x', 1), (1, 'y', 2), (2, 'y', 3), (1, NULL, 4)")
    def report(): Map[String, (Long, Boolean)] =
      spark.sql("CALL graft.system.verify_constraints('cn', 'ct')")
        .collect().map(x => x.getString(0) -> ((x.getLong(2), x.getBoolean(3)))).toMap
    val r1 = report()
    assert(r1("ct_fk") == ((1L, false)),
      s"exactly the (2,'y') TUPLE dangles (NULL-key row skipped): $r1")
    assert(r1("ct_uq") == ((0L, true)),
      s"all non-null (a,b) tuples distinct; NULL-key row ignored: $r1")
    // A duplicated TUPLE violates composite UNIQUE even though each
    // column value repeats elsewhere legitimately.
    spark.sql("INSERT INTO graft.cn.ct VALUES (1, 'x', 5)")
    val r2 = report()
    assert(r2("ct_uq") == ((2L, false)), s"two rows share the (1,'x') tuple: $r2")
    spark.sql("DROP TABLE graft.cn.ct PURGE")
    spark.sql("DROP TABLE graft.cn.cref PURGE")
  }

  test("view cycle (A->B->A) fails with an explicit recursive-view error") {
    spark.sql("DROP VIEW IF EXISTS graft.cyc.a")
    spark.sql("DROP VIEW IF EXISTS graft.cyc.b")
    spark.sql("DROP TABLE IF EXISTS graft.cyc.base")
    spark.sql("CREATE TABLE graft.cyc.base (n INT) USING graft")
    spark.sql("INSERT INTO graft.cyc.base VALUES (1)")
    // Definition-time analysis forbids creating a cycle directly, so
    // build it via REPLACE: b -> base, a -> b, then b -> a.
    spark.sql("CREATE VIEW graft.cyc.b AS SELECT n FROM graft.cyc.base")
    spark.sql("CREATE VIEW graft.cyc.a AS SELECT n FROM graft.cyc.b")
    spark.sql("CREATE OR REPLACE VIEW graft.cyc.b AS SELECT n FROM graft.cyc.a")
    val e = intercept[Exception] { spark.sql("SELECT n FROM graft.cyc.a").collect() }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + chain(t.getCause)
    assert(chain(e).contains("recursive view reference"),
      s"cycle must fail explicitly, not via analyzer max-iterations: ${chain(e)}")
    spark.sql("DROP VIEW graft.cyc.b")
    spark.sql("DROP VIEW graft.cyc.a")
    spark.sql("DROP TABLE graft.cyc.base")
  }

  test("views-only namespace is listed and DROP NAMESPACE CASCADE clears it") {
    spark.sql("DROP VIEW IF EXISTS graft.vonly.v")
    spark.sql("DROP TABLE IF EXISTS graft.vonly_t.base")
    spark.sql("CREATE TABLE graft.vonly_t.base (n INT) USING graft")
    spark.sql("CREATE VIEW graft.vonly.v AS SELECT n FROM graft.vonly_t.base")
    // The views-only namespace shows up in SHOW NAMESPACES...
    assert(spark.sql("SHOW NAMESPACES IN graft").select("namespace")
      .as[String].collect().contains("vonly"))
    // ...a non-cascade drop refuses (it is not empty)...
    intercept[Exception] { spark.sql("DROP NAMESPACE graft.vonly") }
    // ...and CASCADE drops the views with it (returns true => namespace gone).
    spark.sql("DROP NAMESPACE graft.vonly CASCADE")
    assert(!spark.sql("SHOW NAMESPACES IN graft").select("namespace")
      .as[String].collect().contains("vonly"))
    intercept[Exception] { spark.sql("SELECT * FROM graft.vonly.v").collect() }
    spark.sql("DROP TABLE graft.vonly_t.base")
  }

  test("staged create (CTAS commit path) carries CHECK constraints into the table") {
    // Spark's parser forbids constraint clauses in CTAS SQL, but the
    // DSv2 staging API carries them via TableInfo — the path a
    // programmatic writer (or a future parser) takes. The staged commit
    // must store them exactly like the non-staged createTable path.
    import org.apache.spark.sql.connector.catalog.{Column, Identifier, StagingTableCatalog, TableInfo}
    import org.apache.spark.sql.connector.catalog.constraints.Constraint
    spark.sql("DROP TABLE IF EXISTS graft.cn.staged")
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[StagingTableCatalog]
    val ident = Identifier.of(Array("cn"), "staged")
    val info = new TableInfo.Builder()
      .withColumns(Array(Column.create("x", org.apache.spark.sql.types.IntegerType)))
      .withProperties(java.util.Collections.emptyMap[String, String]())
      .withPartitions(Array.empty)
      .withConstraints(Array[Constraint](
        Constraint.check("pos").predicateSql("x > 0").enforced(true).build()))
      .build()
    val stagedTable = cat.stageCreate(ident, info)
    stagedTable.commitStagedChanges() // empty CTAS: metastore swap only
    // The constraint survived the staged commit: a violating INSERT fails.
    val e = intercept[Exception] {
      spark.sql("INSERT INTO graft.cn.staged VALUES (-1)")
    }
    assert(e.getMessage.contains("CHECK_CONSTRAINT_VIOLATION"), e.getMessage)
    spark.sql("INSERT INTO graft.cn.staged VALUES (5)")
    assert(spark.sql("SELECT x FROM graft.cn.staged").as[Int].head() == 5)
    spark.sql("DROP TABLE graft.cn.staged")
  }
}
