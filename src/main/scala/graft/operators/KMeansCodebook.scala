package graft.operators

import graft.SessionConf
import graft.functions.CosineSim
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed spherical k-means (Lloyd's) trainer for IVF codebooks —
  * the upgrade from a sampled codebook (k lowest-id vectors) to TRAINED
  * centroids, which is what makes an IVF recall number meaningful at
  * scale.
  *
  * Every step is shaped for 100 TB:
  *
  *  - **Assignment** is the shuffle-free broadcast-codebook pattern
  *    shared with `SimilarityQueries.l3AnnIvf`: the whole bounded
  *    codebook rides ONE broadcast row; each vector picks its centroid
  *    with a per-row `aggregate()` argmax. The embedding column never
  *    crosses an exchange.
  *  - **Update** computes per-list element-wise means via
  *    `posexplode` → `groupBy(list, dim)`: partial aggregation
  *    (map-side combine) reduces each task's contribution to k×dim
  *    (list, dim, sum, count) scalars BEFORE the exchange — the shuffle
  *    carries bounded per-dimension partials, never vectors.
  *  - **Iteration state** stays a one-row codebook DataFrame,
  *    `localCheckpoint`-ed per round to truncate lineage (the
  *    ConnectedComponents pattern); nothing is collected to the driver.
  *  - A list that loses every member keeps its previous centroid, so k
  *    stays fixed (no degenerate shrinking codebook).
  *
  * Spherical variant: assignment by cosine (the serving metric of the
  * ANN queries), update by arithmetic mean — `CosineSim` normalizes at
  * use, so the mean need not be re-normalized.
  */
object KMeansCodebook {

  /** Per-row nearest-centroid id for `vec` against a bounded
    * `array<struct<cid, cvec>>` codebook column — a projection, not a
    * join/shuffle. NULL-sim centroids (zero-norm input) never win;
    * a row with no comparable centroid gets cid = -1.
    */
  def bestCentroid(spark: SparkSession, vec: Column, cents: Column): Column =
    aggregate(
      cents,
      struct(lit(Double.NegativeInfinity).as("csim"), lit(-1L).as("cid")),
      (acc, c) => {
        val s = CosineSim(spark, vec, c.getField("cvec"))
        when(s > acc.getField("csim"),
          struct(s.as("csim"), c.getField("cid").as("cid")))
          .otherwise(acc)
      }).getField("cid")

  /** Run `body` (the training loop — its per-round localCheckpoints
    * execute eagerly inside this window) with AQE off and a small fixed
    * shuffle width, both restored after. Why this is right at ANY
    * scale, not a local-mode twiddle (the u6 recursion discipline):
    * every shuffle inside training REDUCES to a bounded domain — the
    * update aggregations key on (list, dim) / (subspace, list, dim),
    * ≤ k·dim / m·ks·sub rows — so a handful of reduce partitions covers
    * them at 100 TB exactly as here, while AQE's per-stage query jobs
    * and re-optimization added 2–3 driver round-trips per Lloyd round
    * for plans whose shape never changes (the map side — the corpus
    * scan — is not affected by either conf). Codebook floats are
    * unchanged: assignment is per-row, and the update's partial-merge
    * structure is set by the INPUT partitioning (untouched), not the
    * reduce width.
    *
    * The confs are set on the CALLER's session (`e` is bound to it), so
    * for the length of training every other query on that session runs
    * with AQE off and the narrow shuffle too: training is NOT safe to
    * run concurrently with other work on the same session.
    */
  private def withTrainingConfs[T](spark: SparkSession)(body: => T): T =
    SessionConf.withConfs(spark)(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" ->
        spark.conf.get("spark.graft.annTrain.shufflePartitions", "4"))(body)

  /** Train a k-centroid codebook over `e(idCol, vecCol)`. Returns a
    * ONE-ROW DataFrame `cents: array<struct<cid: bigint, cvec:
    * array<float>>>`, cid-sorted for deterministic array order (ties in
    * the argmax then break identically run-to-run). Seeds are the k
    * lowest-id vectors — deterministic, and exactly the previous sampled
    * codebook, so iters = 0 reproduces the old behavior.
    */
  def train(
      e: DataFrame,
      k: Int,
      iters: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = withTrainingConfs(e.sparkSession) {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0; got k=$k iters=$iters")
    val spark = e.sparkSession
    val seeds = e.orderBy(col(idCol)).limit(k)
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cvec"))
    var codebook = seeds
      .agg(array_sort(collect_list(struct(col("cid"), col("cvec")))).as("cents"))
      .localCheckpoint()

    for (_ <- 1 to iters) {
      val assigned = e.crossJoin(broadcast(codebook))
        .select(col(vecCol).as("vec"),
          bestCentroid(spark, col(vecCol), col("cents")).as("list_id"))
      val dimMeans = assigned
        .select(col("list_id"), posexplode(col("vec")).as(Seq("pos", "v")))
        .groupBy(col("list_id"), col("pos"))
        .agg(avg(col("v")).as("m"))
      val newCents = dimMeans.groupBy(col("list_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m").cast("float")).as("newvec"))
      val prev = codebook.select(explode(col("cents")).as("c"))
        .select(col("c.cid").as("cid"), col("c.cvec").as("cvec"))
      codebook = prev
        .join(newCents, prev("cid") === newCents("list_id"), "left")
        .select(col("cid"), coalesce(col("newvec"), col("cvec")).as("cvec"))
        .agg(array_sort(collect_list(struct(col("cid"), col("cvec")))).as("cents"))
        .localCheckpoint()
    }
    codebook
  }

  /** Per-row MIPS-PQ code for one subspace: id of the sub-centroid
    * with the largest INNER PRODUCT against `vec` (argmax fold over a
    * bounded broadcast sub-codebook column `book: array<struct<cid,
    * cvec>>`) — max-inner-product rather than L2-nearest because it
    * makes planted-copy recall PROVABLE (a copy's per-subspace code
    * attains each subspace's maximum possible ADC contribution). The
    * SAME encoder must run at build, refresh and (implicitly, through
    * the stored codes) serve time, or codes and ADC tables diverge.
    */
  def mipsCode(vec: Column, book: Column): Column =
    aggregate(book,
      struct(lit(Double.NegativeInfinity).as("cdot"), lit(-1L).as("cid")),
      (acc, c) => {
        val d = graft.functions.VectorOps.dot(vec, c.getField("cvec"))
        when(d > acc.getField("cdot"),
          struct(d.as("cdot"), c.getField("cid").as("cid"))).otherwise(acc)
      }).getField("cid")

  /** Reassemble the one-row subspace-indexed `pq` form from a persisted
    * (s, cid, cvec) codebook table — the exact inverse of how
    * `build_ann_index` / `train_ann_pq` persist `trainSubspaces`
    * output, with the same cid sort so argmax tie-breaks can never
    * diverge between build, refresh and serve.
    */
  def packSubspaces(books: DataFrame): DataFrame =
    books.groupBy(col("s"))
      .agg(array_sort(collect_list(struct(col("cid"), col("cvec")))).as("book"))
      .agg(transform(array_sort(collect_list(struct(col("s"), col("book")))),
        x => x.getField("book")).as("pq"))

  /** Train ALL `m` product-quantization sub-codebooks in ONE pass over
    * the data (for `ivfPqTopK`): instead of m separate `train` runs —
    * m full scans plus m update shuffles per round — every vector
    * explodes once into (subspace, sub-vector) points and a single
    * Lloyd's round assigns and re-means all subspaces together, keyed
    * by (subspace, list, dim). Same per-subspace math as `train`
    * (spherical assignment, arithmetic-mean update, ks-lowest-id
    * seeds, orphan centroids retained), but the data-pass count no
    * longer scales with m — the property that matters when the scan is
    * 100 TB.
    *
    * Returns a ONE-ROW DataFrame `pq: array<array<struct<cid, cvec>>>`
    * indexed by subspace (element_at(pq, s + 1) is subspace s's
    * cid-sorted codebook).
    */
  def trainSubspaces(
      e: DataFrame, m: Int, sub: Int, ks: Int, iters: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = withTrainingConfs(e.sparkSession) {
    require(m > 0 && sub > 0 && ks > 0 && iters >= 0,
      s"need m, sub, ks > 0 and iters >= 0; got m=$m sub=$sub ks=$ks iters=$iters")
    val spark = e.sparkSession
    def subPoints(df: DataFrame, id: Column): DataFrame =
      df.select(id.as("pid"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          i => slice(col(vecCol), i * sub + 1, lit(sub)))).as(Seq("s", "svec")))
    // (s, book) rows → one-row subspace-indexed array of codebooks.
    def pack(cents: DataFrame): DataFrame =
      cents.groupBy(col("s"))
        .agg(array_sort(collect_list(struct(col("cid"), col("cvec")))).as("book"))
        .agg(transform(array_sort(collect_list(struct(col("s"), col("book")))),
          x => x.getField("book")).as("pq"))
        .localCheckpoint()

    var pq = pack(
      subPoints(e.orderBy(col(idCol)).limit(ks), col(idCol).cast("long"))
        .select(col("s"), col("pid").as("cid"), col("svec").as("cvec")))
    val pts = subPoints(e, col(idCol).cast("long"))

    for (_ <- 1 to iters) {
      val assigned = pts.crossJoin(broadcast(pq))
        .select(col("s"), col("svec"),
          bestCentroid(spark, col("svec"), element_at(col("pq"), col("s") + 1))
            .as("list_id"))
      val dimMeans = assigned
        .select(col("s"), col("list_id"), posexplode(col("svec")).as(Seq("pos", "v")))
        .groupBy(col("s"), col("list_id"), col("pos"))
        .agg(avg(col("v")).as("mv"))
      val newCents = dimMeans.groupBy(col("s"), col("list_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mv")))),
          x => x.getField("mv").cast("float")).as("newvec"))
      val prev = pq.select(posexplode(col("pq")).as(Seq("s", "book")))
        .select(col("s"), explode(col("book")).as("c"))
        .select(col("s"), col("c.cid").as("cid"), col("c.cvec").as("cvec"))
      pq = pack(prev
        .join(newCents,
          prev("s") === newCents("s") && prev("cid") === newCents("list_id"), "left")
        .select(prev("s").as("s"), col("cid"),
          coalesce(col("newvec"), col("cvec")).as("cvec")))
    }
    pq
  }
}
