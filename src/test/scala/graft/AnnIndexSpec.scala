package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Materialized IVF index lifecycle (`CALL graft.system.build_ann_index`
  * / `refresh_ann`): posting table partitioned by list_id, incremental
  * maintenance from the change feed (appends assigned to the SAVED
  * centroids — no retrain, corpus never rescanned), delete/update
  * upkeep, the drift metric, and the recall floor on a corpus grown
  * past its trained index.
  */
class AnnIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // Deterministic near-axis unit vector: axis direction + small jitter.
  private def vec(axis: Int, j: Int, dim: Int = 8): Seq[Float] =
    (0 until dim).map(i =>
      if (i == axis) 1f else if (i == (axis + 1 + j % 3) % dim) 0.05f * ((j % 5) + 1) else 0f)

  private def sqlArr(v: Seq[Float]): String =
    s"array(${v.map(x => s"CAST($x AS FLOAT)").mkString(", ")})"

  test("build + partition-pruned serve; refresh assigns only the append; deletes ride; idle no-op") {
    spark.sql("DROP TABLE IF EXISTS graft.annix.src PURGE")
    spark.sql("DROP TABLE IF EXISTS graft.annix.idx PURGE")
    spark.sql("DROP TABLE IF EXISTS graft.annix.idx_cb PURGE")
    spark.sql(
      "CREATE TABLE graft.annix.src (vec_id BIGINT, label INT, embedding ARRAY<FLOAT>) USING graft")
    // 4 clusters x 10 vectors on axes 0..3.
    val rows = (for (a <- 0 until 4; j <- 0 until 10)
      yield s"(${a * 10 + j + 1}, $a, ${sqlArr(vec(a, j))})").mkString(", ")
    spark.sql(s"INSERT INTO graft.annix.src VALUES $rows")
    val built = spark.sql(
      "CALL graft.system.build_ann_index('annix.src', 'annix', 'idx', 4, 3)").head()
    assert(built.getLong(1) == 40L && built.getLong(2) == 4L, s"build: $built")
    assert(built.getDouble(3) > 0.9, s"tight clusters => high base_sim, got $built")
    // The posting table is PARTITIONED by list_id (the probe-prune key),
    // and a probe's literal list filter prunes whole partitions from
    // the PLAN — the property that makes a query scan ~nprobe/k of the
    // corpus instead of all of it.
    assert(spark.sql("SELECT count(distinct list_id) FROM graft.annix.idx")
      .as[Long].head() == 4L)
    val fullScan = spark.table("graft.annix.idx").rdd.getNumPartitions
    val lid = spark.sql("SELECT list_id FROM graft.annix.idx WHERE vec_id = 1")
      .as[Long].head()
    val probed = spark.table("graft.annix.idx")
      .filter(col("list_id") === lid).rdd.getNumPartitions
    assert(probed < fullScan && probed >= 1,
      s"probe filter must prune to the probed list's splits ($probed of $fullScan)")
    // Serve: nearest to a clean axis-2 query is an axis-2 cluster member.
    val q2 = Seq(Tuple1(vec(2, 0))).toDF("qe")
    val top = graft.queries.SimilarityQueries
      .ivfIndexedTopK(spark, "graft.annix.idx", q2, nprobe = 1, limit = 10)
      .collect()
    assert(top.forall(_.getInt(1) == 2), s"nprobe=1 must serve only list-2 members: ${top.toSeq}")
    // Idle refresh: true no-op.
    val idle = spark.sql("CALL graft.system.refresh_ann('annix', 'idx')").head()
    assert(idle.getLong(1) == 0L && idle.getLong(2) == 0L && idle.getDouble(3) == 1.0 &&
      !idle.getBoolean(4), s"idle refresh: $idle")
    // APPEND two axis-1 vectors; refresh assigns ONLY them (no retrain).
    spark.sql(s"INSERT INTO graft.annix.src VALUES (101, 1, ${sqlArr(vec(1, 7))}), " +
      s"(102, 1, ${sqlArr(vec(1, 8))})")
    val r1 = spark.sql("CALL graft.system.refresh_ann('annix', 'idx')").head()
    assert(r1.getLong(1) == 2L && r1.getLong(2) == 0L, s"append refresh: $r1")
    assert(!r1.getBoolean(4), s"same-distribution batch must not recommend retrain: $r1")
    assert(spark.sql("SELECT count(*) FROM graft.annix.idx").as[Long].head() == 42L)
    assert(spark.sql("SELECT list_id FROM graft.annix.idx WHERE vec_id = 101")
      .as[Long].head() ==
      spark.sql("SELECT list_id FROM graft.annix.idx WHERE vec_id = 11").as[Long].head(),
      "appended axis-1 vector joins the axis-1 list of the SAVED codebook")
    // DELETE from the source; refresh removes it from the index.
    spark.sql("DELETE FROM graft.annix.src WHERE vec_id = 101")
    val r2 = spark.sql("CALL graft.system.refresh_ann('annix', 'idx')").head()
    assert(r2.getLong(2) == 1L && r2.getLong(1) == 0L, s"delete refresh: $r2")
    assert(spark.sql("SELECT count(*) FROM graft.annix.idx WHERE vec_id = 101")
      .as[Long].head() == 0L)
    // UPDATE moves a vector between clusters; refresh re-lists it.
    spark.sql(s"UPDATE graft.annix.src SET embedding = ${sqlArr(vec(3, 1))}, label = 3 " +
      "WHERE vec_id = 102")
    val r3 = spark.sql("CALL graft.system.refresh_ann('annix', 'idx')").head()
    assert(r3.getLong(1) == 1L && r3.getLong(2) == 1L, s"update refresh: $r3")
    assert(spark.sql("SELECT list_id FROM graft.annix.idx WHERE vec_id = 102")
      .as[Long].head() ==
      spark.sql("SELECT list_id FROM graft.annix.idx WHERE vec_id = 31").as[Long].head(),
      "updated vector re-assigned to its NEW cluster's list")
    spark.sql("DROP TABLE graft.annix.idx PURGE")
    spark.sql("DROP TABLE graft.annix.idx_cb PURGE")
    spark.sql("DROP TABLE graft.annix.src PURGE")
  }

  test("drift: an off-distribution batch raises drift_ratio and recommends retrain") {
    spark.sql("DROP TABLE IF EXISTS graft.annix.dsrc PURGE")
    spark.sql("DROP TABLE IF EXISTS graft.annix.didx PURGE")
    spark.sql("DROP TABLE IF EXISTS graft.annix.didx_cb PURGE")
    spark.sql(
      "CREATE TABLE graft.annix.dsrc (vec_id BIGINT, label INT, embedding ARRAY<FLOAT>) USING graft")
    val rows = (for (a <- 0 until 2; j <- 0 until 8)
      yield s"(${a * 8 + j + 1}, $a, ${sqlArr(vec(a, j))})").mkString(", ")
    spark.sql(s"INSERT INTO graft.annix.dsrc VALUES $rows")
    spark.sql("CALL graft.system.build_ann_index('annix.dsrc', 'annix', 'didx', 2, 3)")
    // The new batch lives on axes the codebook has never seen
    // (near-orthogonal to both centroids) => mean assignment sim
    // collapses => drift_ratio >> RetrainThreshold.
    val far = (0 until 4).map(j => s"(${200 + j}, 9, ${sqlArr(vec(6, j))})").mkString(", ")
    spark.sql(s"INSERT INTO graft.annix.dsrc VALUES $far")
    val r = spark.sql("CALL graft.system.refresh_ann('annix', 'didx')").head()
    assert(r.getLong(1) == 4L, s"drift refresh: $r")
    assert(r.getDouble(3) > 1.25 && r.getBoolean(4),
      s"orthogonal batch must recommend retrain: $r")
    spark.sql("DROP TABLE graft.annix.didx PURGE")
    spark.sql("DROP TABLE graft.annix.didx_cb PURGE")
    spark.sql("DROP TABLE graft.annix.dsrc PURGE")
  }

  test("k=0 auto-sizes lists to ceil(sqrt(n)) and the probe scans a sqrt-fraction") {
    spark.sql("DROP TABLE IF EXISTS graft.annix.asrc PURGE")
    spark.sql("DROP TABLE IF EXISTS graft.annix.aidx PURGE")
    spark.sql("DROP TABLE IF EXISTS graft.annix.aidx_cb PURGE")
    spark.sql(
      "CREATE TABLE graft.annix.asrc (vec_id BIGINT, label INT, embedding ARRAY<FLOAT>) USING graft")
    // 400 pseudo-random unit-ish vectors (hash-mixed dims, no planted
    // clusters) so k-means lists come out roughly balanced.
    spark.sql(
      """INSERT INTO graft.annix.asrc
        |SELECT id AS vec_id, CAST(id % 8 AS INT) AS label,
        |  transform(sequence(0, 7), i ->
        |    CAST(pmod(hash(id * 31 + i), 997) / 997.0 - 0.5 AS FLOAT)) AS embedding
        |FROM range(1, 401)""".stripMargin)
    val built = spark.sql(
      "CALL graft.system.build_ann_index('annix.asrc', 'annix', 'aidx', 0, 2)").head()
    // ceil(sqrt(400)) = 20 lists — the fixed-k=16 probe read a constant
    // quarter of the corpus regardless of n; auto-k keeps the probed
    // fraction shrinking as the corpus grows (nprobe/sqrt(n)).
    assert(built.getLong(2) == 20L, s"auto k: $built")
    assert(spark.sql("SELECT count(distinct list_id) FROM graft.annix.aidx")
      .as[Long].head() <= 20L)
    // The nprobe=4 probe touches only its 4 lists' rows: on balanced
    // lists ~4/20 of the corpus; 2x slack for k-means imbalance.
    val probeLists = spark.sql(
      """SELECT list_id FROM (
        |  SELECT list_id, count(*) AS c FROM graft.annix.aidx
        |  GROUP BY list_id ORDER BY c DESC LIMIT 4)""".stripMargin)
      .as[Long].collect()
    val probedRows = spark.table("graft.annix.aidx")
      .filter(col("list_id").isin(probeLists.toIndexedSeq: _*)).count()
    assert(probedRows <= 400L * 4 / 20 * 2,
      s"even the 4 LARGEST lists hold $probedRows rows — probe fraction is not O(nprobe/k)")
    spark.sql("DROP TABLE graft.annix.aidx PURGE")
    spark.sql("DROP TABLE graft.annix.aidx_cb PURGE")
    spark.sql("DROP TABLE graft.annix.asrc PURGE")
  }

  test("drift-triggered retrain END-TO-END: foreign batch degrades recall, retrain restores it") {
    // The full lifecycle the drift metric exists for: (1) an index
    // trained on 4 axis clusters serves exactly; (2) a FOREIGN cluster
    // (axis 6, never seen at train time) is ingested — refresh_ann
    // assigns it to ill-fitting old lists, reports drift_ratio >
    // RetrainThreshold and recommends retrain; (3) the pre-retrain
    // index MEASURABLY degrades (the foreign members spread across old
    // lists by their 0.1 side-components, so an nprobe=1 foreign query
    // sees only the ~quarter that landed in its probed list); (4)
    // build_ann_index again (the atomic swap the recommendation names)
    // gives the foreign cluster its own centroid and restores
    // recall@10 = 1.0. Geometry is deterministic — every assignment is
    // decided by a 0.1 dot, never a tie.
    spark.sql("DROP TABLE IF EXISTS graft.annix.dr_src PURGE")
    spark.sql("DROP TABLE IF EXISTS graft.annix.dr_idx PURGE")
    spark.sql("DROP TABLE IF EXISTS graft.annix.dr_idx_cb PURGE")
    spark.sql(
      "CREATE TABLE graft.annix.dr_src (vec_id BIGINT, label INT, embedding ARRAY<FLOAT>) USING graft")
    // Old corpus: ids 101..140 INTERLEAVED (101..104 span axes 0..3,
    // so the k-lowest-id seeding starts one centroid per cluster).
    val oldRows = (for (j <- 0 until 10; a <- 0 until 4)
      yield s"(${100 + j * 4 + a + 1}, $a, ${sqlArr(vec(a, j))})").mkString(", ")
    spark.sql(s"INSERT INTO graft.annix.dr_src VALUES $oldRows")
    val built = spark.sql(
      "CALL graft.system.build_ann_index('annix.dr_src', 'annix', 'dr_idx', 4, 3)").head()
    assert(built.getLong(2) == 4L, s"build: $built")
    // Foreign cluster: e6 + 0.1·e_{j%4} under LOW ids 1..20 (free: ids
    // are caller-chosen), so the RETRAIN's lowest-id seeds start inside
    // the new mass.
    def foreignVec(j: Int): Seq[Float] =
      (0 until 8).map(i => if (i == 6) 1f else if (i == j % 4) 0.1f else 0f)
    val farRows = (0 until 20)
      .map(j => s"(${j + 1}, 9, ${sqlArr(foreignVec(j))})").mkString(", ")
    spark.sql(s"INSERT INTO graft.annix.dr_src VALUES $farRows")
    val r = spark.sql("CALL graft.system.refresh_ann('annix', 'dr_idx')").head()
    assert(r.getLong(1) == 20L, s"foreign refresh: $r")
    assert(r.getDouble(3) > 1.25 && r.getBoolean(4),
      s"foreign batch must recommend retrain: $r")
    // Foreign query: e6 + 0.1·e0 — its exact top-10 is all foreign.
    val qv = (0 until 8).map(i => if (i == 6) 1f else if (i == 0) 0.1f else 0f)
    val q = Seq(Tuple1(qv)).toDF("qe")
    val exact = spark.table("graft.annix.dr_src")
      .select(col("vec_id"),
        graft.functions.CosineSim(spark, col("embedding"),
          typedLit(qv.toArray)).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSet
    assert(exact.forall(_ <= 20L), s"exact top-10 must be foreign: $exact")
    def served(): Set[Long] = graft.queries.SimilarityQueries
      .ivfIndexedTopK(spark, "graft.annix.dr_idx", q, nprobe = 1, limit = 10)
      .select("vec_id").as[Long].collect().toSet
    // PRE-retrain: the probed (axis-0) list holds only the 5 foreign
    // members whose side-component is e0 — recall measurably degraded.
    val pre = (served() & exact).size
    assert(pre <= 6, s"pre-retrain recall should be degraded, got $pre/10")
    // RETRAIN (k=5: the four axes + the foreign cluster) — atomic swap.
    val rebuilt = spark.sql(
      "CALL graft.system.build_ann_index('annix.dr_src', 'annix', 'dr_idx', 5, 5)").head()
    assert(rebuilt.getLong(2) == 5L, s"retrain: $rebuilt")
    val post = (served() & exact).size
    assert(post == 10, s"post-retrain recall must be restored, got $post/10 (pre $pre/10)")
    // The retrained codebook fits the grown corpus: no drift pending.
    val r2 = spark.sql("CALL graft.system.refresh_ann('annix', 'dr_idx')").head()
    assert(!r2.getBoolean(4), s"retrained index must not re-recommend: $r2")
    spark.sql("DROP TABLE graft.annix.dr_idx PURGE")
    spark.sql("DROP TABLE graft.annix.dr_idx_cb PURGE")
    spark.sql("DROP TABLE graft.annix.dr_src PURGE")
  }

  test("recall floor holds on a corpus GROWN past its trained index (sf0.01)") {
    val dir = "/root/testdata/sf0.01"
    spark.sql("DROP TABLE IF EXISTS graft.annix.grow PURGE")
    spark.sql("DROP TABLE IF EXISTS graft.annix.gidx PURGE")
    spark.sql("DROP TABLE IF EXISTS graft.annix.gidx_cb PURGE")
    val e = graft.Tables.embeddings(spark, dir)
    // The query (vec_id 0) stays in the TRAINED base — the k-lowest-id
    // seeding anchors a centroid near it, the same structure the
    // SimilaritySpec natural-recall floor (ivfTopK trains on the full
    // corpus) relies on. The held-out third is pure growth.
    e.filter(col("vec_id") % 3 =!= 1).createOrReplaceTempView("annix_grow_base")
    spark.sql(
      """CREATE TABLE graft.annix.grow USING graft AS
        |SELECT vec_id, label, embedding FROM annix_grow_base""".stripMargin)
    spark.sql("CALL graft.system.build_ann_index('annix.grow', 'annix', 'gidx', 16, 3)")
    // Grow by the held-out third (same distribution), index it with the
    // OLD centroids — the no-retrain path a daily ingest would take.
    e.filter(col("vec_id") % 3 === 1).createOrReplaceTempView("annix_grow_new")
    spark.sql("INSERT INTO graft.annix.grow SELECT vec_id, label, embedding FROM annix_grow_new")
    val r = spark.sql("CALL graft.system.refresh_ann('annix', 'gidx')").head()
    assert(r.getLong(1) > 0, s"grow refresh: $r")
    assert(!r.getBoolean(4), s"same-distribution growth must not demand retrain: $r")
    // Recall@10 of the indexed serve vs brute force over the FULL
    // grown corpus — the SimilaritySpec floor, held WITHOUT retrain.
    val exact = graft.queries.SimilarityQueries.l3CosineTopK.fn(spark, dir)
      .select("vec_id").as[Long].collect().toSet
    val q = spark.table("graft.annix.grow").filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    val got = graft.queries.SimilarityQueries
      .ivfIndexedTopK(spark, "graft.annix.gidx", q)
      .select("vec_id").as[Long].collect().toSet
    info(s"grown-corpus indexed recall@10 = ${(exact & got).size}/10")
    assert((exact & got).size >= 8, s"recall ${(exact & got).size}/10")
    spark.sql("DROP TABLE graft.annix.gidx PURGE")
    spark.sql("DROP TABLE graft.annix.gidx_cb PURGE")
    spark.sql("DROP TABLE graft.annix.grow PURGE")
  }

  test("PQ-coded index: codes stored at build, upkept by refresh, served by code-only ADC") {
    Seq("psrc", "pidx", "pidx_cb", "pidx_pq")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft.annix.$t PURGE"))
    spark.sql(
      "CREATE TABLE graft.annix.psrc (vec_id BIGINT, label INT, embedding ARRAY<FLOAT>) USING graft")
    val rows = (for (a <- 0 until 4; j <- 0 until 10)
      yield s"(${a * 10 + j + 1}, $a, ${sqlArr(vec(a, j))})").mkString(", ")
    spark.sql(s"INSERT INTO graft.annix.psrc VALUES $rows")
    val built = spark.sql(
      "CALL graft.system.build_ann_index('annix.psrc', 'annix', 'pidx', 4, 3, 2, 4)").head()
    assert(built.getLong(1) == 40L && built.getLong(2) == 4L, s"pq build: $built")
    // Codes live ON the posting rows (m = 2 columns, never NULL), the
    // sub-books persist as <idx>_pq, and the table advertises pq props.
    assert(spark.table("graft.annix.pidx").columns.toSet
      .intersect(Set("code_0", "code_1")) == Set("code_0", "code_1"))
    assert(spark.sql(
      "SELECT count(*) FROM graft.annix.pidx WHERE code_0 IS NULL OR code_1 IS NULL")
      .as[Long].head() == 0L)
    assert(spark.sql("SELECT count(distinct s) FROM graft.annix.pidx_pq").as[Long].head() == 2L)
    val props = spark.sql("SHOW TBLPROPERTIES graft.annix.pidx")
      .as[(String, String)].collect().toMap
    assert(props.get("graft.ann.pq_m").contains("2") &&
      props.get("graft.ann.pq_sub").contains("4"), s"pq props: $props")
    // Serve: code-only ADC + exact re-rank (the require()s inside
    // ivfPqIndexedTopK assert the no-embedding candidate scan and the
    // exact partition pruning on every call).
    val q2 = Seq(Tuple1(vec(2, 0))).toDF("qe")
    val top = graft.queries.SimilarityQueries
      .ivfPqIndexedTopK(spark, "graft.annix.pidx", q2, nprobe = 1, rerank = 16, limit = 10)
      .collect()
    assert(top.nonEmpty && top.forall(_.getInt(1) == 2),
      s"nprobe=1 PQ serve must return only list-2 members: ${top.toSeq}")
    // Refresh UPKEEPS codes: append a vector IDENTICAL to vec_id 11 —
    // after refresh its stored codes must EQUAL vec 11's build-time
    // codes (build and refresh share one encoder + persisted books).
    spark.sql(s"INSERT INTO graft.annix.psrc VALUES (201, 1, ${sqlArr(vec(1, 0))})")
    val r1 = spark.sql("CALL graft.system.refresh_ann('annix', 'pidx')").head()
    assert(r1.getLong(1) == 1L && r1.getLong(2) == 0L, s"pq append refresh: $r1")
    val codesOf = (id: Long) => spark.sql(
      s"SELECT list_id, code_0, code_1 FROM graft.annix.pidx WHERE vec_id = $id")
      .as[(Long, Long, Long)].head()
    assert(codesOf(201L) == codesOf(11L),
      "refresh-encoded twin must carry the build-encoded row's exact (list, codes)")
    // UPDATE re-encodes: move 201 to the axis-3 cluster.
    spark.sql(s"UPDATE graft.annix.psrc SET embedding = ${sqlArr(vec(3, 0))}, label = 3 " +
      "WHERE vec_id = 201")
    val r2 = spark.sql("CALL graft.system.refresh_ann('annix', 'pidx')").head()
    assert(r2.getLong(1) == 1L && r2.getLong(2) == 1L, s"pq update refresh: $r2")
    assert(codesOf(201L) == codesOf(31L),
      "updated vector must re-list AND re-code to its new cluster twin")
    // pq_m must divide the dim; a bad m refuses loudly.
    val e = intercept[Exception](spark.sql(
      "CALL graft.system.build_ann_index('annix.psrc', 'annix', 'pbad', 4, 1, 3, 4)")
      .collect())
    assert(e.getMessage.contains("must divide"), e.getMessage)
    Seq("pidx", "pidx_cb", "pidx_pq", "psrc")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft.annix.$t PURGE"))
  }
}
