package graft

import org.scalatest.funsuite.AnyFunSuite

/** Adversarial model-based gauntlet for the TRANSPARENT MV REWRITE
  * (`plans/MvRewrite`) — the CdcReplaySpec doctrine applied to the
  * serve matrix: seeded random BASE MUTATIONS (append / upsert-epoch /
  * DELETE / refresh) crossed with random QUERY SHAPES (exact grain /
  * rollup / global / filtered / avg-derivation / grouping sets /
  * min-max), every read compared REWRITE-ON vs REWRITE-OFF. The
  * rewrite has ~12 serve shapes × staleness states; point tests pin
  * each shape once — this pins their INTERLEAVINGS (e.g. an upsert
  * landing on a never-refreshed MV whose source also took a DELETE,
  * then a refresh, then more appends).
  *
  * The gauntlet asserts two things per seed:
  *  - every read's rewrite-on answer equals its rewrite-off answer
  *    (value-exact via collected-row comparison);
  *  - the rewrite actually FIRED a healthy number of times (a gauntlet
  *    whose every query declined to the base would vacuously pass).
  *
  * A join-MV section runs the same doctrine over a fact ⋈ dim star,
  * whose op mix includes BOTH-SIDES-APPEND — the two-moved-sides
  * inclusion–exclusion path — and fact upsert epochs (join
  * retraction).
  */
class MvGauntletSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.relation.identifier.map(_.name).getOrElse("")
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.identifier.map(_.name).getOrElse("")
    }

  /** rewrite-off vs rewrite-on; returns true when the MV served. */
  private def compare(q: String, mv: String, ctx: String): Boolean = {
    spark.conf.set("spark.graft.mvRewrite.enabled", "false")
    val direct =
      try spark.sql(q).collect().toSeq.map(_.toString).sorted
      finally spark.conf.set("spark.graft.mvRewrite.enabled", "true")
    val on = spark.sql(q)
    val hit = scans(on).contains(mv)
    assert(on.collect().toSeq.map(_.toString).sorted == direct,
      s"[$ctx] rewrite diverged for [$q] (mv-served=$hit)")
    hit
  }

  test("single-source MV serve matrix: randomized mutation sequences read exact (4 seeds × 40 ops)") {
    val queries = Seq(
      "SELECT g, s, count(*) AS c, sum(v) AS sv, count(v) AS cv FROM graft.mvg.base GROUP BY g, s",
      "SELECT g, count(*) AS c, sum(v) AS sv FROM graft.mvg.base GROUP BY g",
      "SELECT count(*) AS c, sum(v) AS sv FROM graft.mvg.base",
      "SELECT g, sum(v) AS sv FROM graft.mvg.base WHERE s = 'x' GROUP BY g",
      "SELECT sum(v) AS sv FROM graft.mvg.base WHERE g = 'a'",
      "SELECT g, avg(v) AS av FROM graft.mvg.base GROUP BY g",
      "SELECT g, s, avg(v) AS av, count(*) AS c FROM graft.mvg.base GROUP BY g, s",
      """SELECT g, s, count(*) AS c, sum(v) AS sv, avg(v) AS av FROM graft.mvg.base
        |GROUP BY GROUPING SETS ((g, s), (g), ())""".stripMargin,
      "SELECT g, min(v) AS lo, max(v) AS hi FROM graft.mvg.base GROUP BY g")
    for (seed <- Seq(11, 23, 37, 41)) {
      val rnd = new scala.util.Random(seed)
      val gs = Seq("a", "b", "c", "d")
      val ss = Seq("x", "y")
      spark.sql("DROP TABLE IF EXISTS graft.mvg.base")
      spark.sql("DROP TABLE IF EXISTS graft.mvg.agg")
      spark.sql(
        "CREATE TABLE graft.mvg.base (k BIGINT, g STRING, s STRING, v BIGINT) USING graft")
      var keys = Vector.empty[Long]
      var nextKey = 0L
      def freshRows(n: Int): Seq[(Long, String, String, java.lang.Long)] =
        (1 to n).map { _ =>
          nextKey += 1; keys :+= nextKey
          (nextKey, gs(rnd.nextInt(gs.length)), ss(rnd.nextInt(ss.length)),
            // occasional NULL v: count(v) != count(*), avg skips it
            if (rnd.nextInt(6) == 0) null
            else java.lang.Long.valueOf(rnd.nextInt(100).toLong))
        }
      def insert(rows: Seq[(Long, String, String, java.lang.Long)]): Unit =
        rows.toDF("k", "g", "s", "v").writeTo("graft.mvg.base").append()
      insert(freshRows(8))
      spark.sql(
        """CALL graft.system.create_mv('mvg', 'agg', 'mvg.base', 'g,s',
          |  'count(*) AS cnt, sum(v) AS sv, count(v) AS cv,
          |   min(v) AS mnv, max(v) AS mxv')""".stripMargin).collect()
      var hits = 0
      var reads = 0
      for (op <- 1 to 40) {
        rnd.nextInt(10) match {
          case 0 | 1 | 2 => insert(freshRows(1 + rnd.nextInt(3))) // append
          case 3 | 4 | 5 => // upsert epoch: move 1-2 existing keys, maybe add one
            val moved = rnd.shuffle(keys).take(1 + rnd.nextInt(2)).map { k =>
              (k, gs(rnd.nextInt(gs.length)), ss(rnd.nextInt(ss.length)),
                java.lang.Long.valueOf(rnd.nextInt(100).toLong))
            }
            val added = if (rnd.nextBoolean()) freshRows(1) else Nil
            (moved ++ added).toDF("k", "g", "s", "v")
              .writeTo("graft.mvg.base").option("graft.upsert.keys", "k").append()
          case 6 => // DELETE: breaks the append-only chain → declines until refresh
            val victim = keys(rnd.nextInt(keys.length))
            keys = keys.filterNot(_ == victim)
            spark.sql(s"DELETE FROM graft.mvg.base WHERE k = $victim")
          case _ => // refresh: serving resumes fresh
            spark.sql("CALL graft.system.refresh_mv('mvg', 'agg')").collect()
        }
        // Two random query shapes per op, rewrite-on vs rewrite-off.
        (1 to 2).foreach { _ =>
          val q = queries(rnd.nextInt(queries.length))
          if (compare(q, "agg", s"seed=$seed op=$op")) hits += 1
          reads += 1
        }
      }
      assert(hits >= reads / 4,
        s"seed=$seed: only $hits/$reads reads were MV-served — the gauntlet is not " +
          "exercising the rewrite (fixture drifted or serve shapes regressed)")
      spark.sql("DROP TABLE graft.mvg.agg")
      spark.sql("DROP TABLE graft.mvg.base")
    }
  }

  test("join-MV serve matrix: randomized star mutations read exact (3 seeds × 30 ops)") {
    val queries = Seq(
      """SELECT seg, count(*) AS c, sum(amt) AS s
        |FROM graft.mvgj.fact JOIN graft.mvgj.dim ON ck = dk GROUP BY seg""".stripMargin,
      """SELECT count(*) AS c, sum(amt) AS s
        |FROM graft.mvgj.fact JOIN graft.mvgj.dim ON ck = dk""".stripMargin,
      """SELECT seg, sum(amt) AS s
        |FROM graft.mvgj.fact JOIN graft.mvgj.dim ON ck = dk
        |WHERE seg <> 'zz' GROUP BY seg""".stripMargin,
      """SELECT seg, avg(amt) AS a
        |FROM graft.mvgj.fact JOIN graft.mvgj.dim ON ck = dk GROUP BY seg""".stripMargin)
    for (seed <- Seq(7, 19, 31)) {
      val rnd = new scala.util.Random(seed)
      val segs = Seq("p", "q", "r")
      spark.sql("DROP TABLE IF EXISTS graft.mvgj.fact")
      spark.sql("DROP TABLE IF EXISTS graft.mvgj.dim")
      spark.sql("DROP TABLE IF EXISTS graft.mvgj.agg")
      spark.sql("CREATE TABLE graft.mvgj.fact (id BIGINT, ck BIGINT, amt BIGINT) USING graft")
      spark.sql("CREATE TABLE graft.mvgj.dim (dk BIGINT, seg STRING) USING graft")
      var dimKeys = Vector(1L, 2L, 3L)
      var factIds = Vector.empty[Long]
      var nextFact = 0L
      var nextDim = 3L
      def factRows(n: Int): Seq[(Long, Long, Long)] = (1 to n).map { _ =>
        nextFact += 1; factIds :+= nextFact
        // ~1 in 4 fact rows references a dim key that does not exist
        // YET — a later dim append must pick it up through the
        // second delta branch (the two-moved / dim-late shape).
        val ck = if (rnd.nextInt(4) == 0) nextDim + 1 + rnd.nextInt(2)
          else dimKeys(rnd.nextInt(dimKeys.length))
        (nextFact, ck, rnd.nextInt(50).toLong)
      }
      spark.sql("INSERT INTO graft.mvgj.dim VALUES (1, 'p'), (2, 'q'), (3, 'r')")
      factRows(6).toDF("id", "ck", "amt").writeTo("graft.mvgj.fact").append()
      spark.sql(
        """CALL graft.system.create_mv('mvgj', 'agg',
          |  'mvgj.fact JOIN mvgj.dim ON ck = dk', 'seg',
          |  'count(*) AS cnt, sum(amt) AS total, count(amt) AS camt')""".stripMargin)
        .collect()
      var hits = 0
      var reads = 0
      for (op <- 1 to 30) {
        rnd.nextInt(10) match {
          case 0 | 1 | 2 =>
            factRows(1 + rnd.nextInt(2)).toDF("id", "ck", "amt")
              .writeTo("graft.mvgj.fact").append()
          case 3 | 4 => // dim append: late members (may adopt dangling facts)
            val rows = (1 to (1 + rnd.nextInt(2))).map { _ =>
              nextDim += 1; dimKeys :+= nextDim
              (nextDim, segs(rnd.nextInt(segs.length)))
            }
            rows.toDF("dk", "seg").writeTo("graft.mvgj.dim").append()
          case 5 | 6 => // BOTH sides move before any read — two-moved path
            factRows(1).toDF("id", "ck", "amt").writeTo("graft.mvgj.fact").append()
            nextDim += 1; dimKeys :+= nextDim
            Seq((nextDim, segs(rnd.nextInt(segs.length)))).toDF("dk", "seg")
              .writeTo("graft.mvgj.dim").append()
          case 7 => // fact upsert epoch (join retraction when single-moved)
            if (factIds.nonEmpty) {
              val id = factIds(rnd.nextInt(factIds.length))
              Seq((id, dimKeys(rnd.nextInt(dimKeys.length)), rnd.nextInt(50).toLong))
                .toDF("id", "ck", "amt")
                .writeTo("graft.mvgj.fact").option("graft.upsert.keys", "id").append()
            }
          case _ =>
            spark.sql("CALL graft.system.refresh_mv('mvgj', 'agg')").collect()
        }
        (1 to 2).foreach { _ =>
          val q = queries(rnd.nextInt(queries.length))
          if (compare(q, "agg", s"join seed=$seed op=$op")) hits += 1
          reads += 1
        }
      }
      assert(hits >= reads / 4,
        s"join seed=$seed: only $hits/$reads reads were MV-served")
      spark.sql("DROP TABLE graft.mvgj.agg")
      spark.sql("DROP TABLE graft.mvgj.dim")
      spark.sql("DROP TABLE graft.mvgj.fact")
    }
  }
}
