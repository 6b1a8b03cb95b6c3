package graft.operators

import graft.functions.CosineSim
import java.math.BigDecimal
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spherical k-means (Lloyd's) trainer for IVF and PQ codebooks — the
  * upgrade from a sampled codebook (k lowest-id vectors) to TRAINED
  * centroids, which is what makes an IVF recall number meaningful at
  * scale. `train` (one codebook over whole vectors) is the m = 1 case of
  * `trainSubspaces` (m sub-codebooks over sub-vectors); both run the one
  * private loop `lloyd`.
  *
  * Each round is ONE map-only Spark job, no exchange:
  *
  *  - **Assignment**: the driver-held codebook rides the plan as a
  *    literal column; each point picks its centroid with `bestCentroid`
  *    (the serving argmax and tie-break). The embedding column never
  *    crosses an exchange.
  *  - **Partials**: each task folds its rows, in row order, into
  *    per-(subspace, centroid) `double` sums and counts — the same
  *    partial Spark's `avg` builds — and converts them once to exact
  *    `BigDecimal`s (a NaN or infinite component fails training).
  *    `RDD.reduce` merges the partials; exact addition makes the result
  *    independent of the order tasks finish in.
  *  - **Update** runs on the driver: centroid = (sum / count).toFloat.
  *    A centroid that lost every member keeps its previous vector, so k
  *    stays fixed (no degenerate shrinking codebook).
  *
  * Bounds, independent of corpus size: the driver holds the codebook
  * (k·dim floats, m·ks·sub for PQ) and one running partial of
  * m·ks·(sub + 1) values; each task holds the codebook and its own
  * partial. Seeds are the k lowest-id vectors, collected once. Training
  * sets no session conf, so it is safe beside other work on the session.
  *
  * Spherical variant: assignment by cosine (the serving metric of the
  * ANN queries), update by arithmetic mean — `CosineSim` normalizes at
  * use, so the mean need not be re-normalized.
  */
object KMeansCodebook {

  /** Type of the one-row `cents` column: a cid-sorted codebook. */
  private val Cents = ArrayType(StructType(Seq(
    StructField("cid", LongType), StructField("cvec", ArrayType(FloatType)))))

  /** Per-row nearest-centroid id for `vec` against a bounded
    * `array<struct<cid, cvec>>` codebook column — a projection, not a
    * join/shuffle. NULL-sim centroids (zero-norm input) never win;
    * a row with no comparable centroid gets a NULL cid, a value no
    * centroid's cid can take.
    */
  def bestCentroid(spark: SparkSession, vec: Column, cents: Column): Column =
    aggregate(
      cents,
      struct(lit(Double.NegativeInfinity).as("csim"), lit(null).cast(LongType).as("cid")),
      (acc, c) => {
        val s = CosineSim(spark, vec, c.getField("cvec"))
        when(s > acc.getField("csim"),
          struct(s.as("csim"), c.getField("cid").as("cid")))
          .otherwise(acc)
      }).getField("cid")

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
      vecCol: String = "embedding"): DataFrame = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0; got k=$k iters=$iters")
    val books = lloyd(e, 1, k, iters, idCol, array(col(vecCol)))
    oneRow(e.sparkSession, "cents", Cents, books.headOption.getOrElse(Nil))
  }

  /** Per-row MIPS-PQ code for one subspace: id of the sub-centroid
    * with the largest INNER PRODUCT against `vec` (argmax fold over a
    * bounded broadcast sub-codebook column `book: array<struct<cid,
    * cvec>>`) — max-inner-product rather than L2-nearest because it
    * makes planted-copy recall PROVABLE (a copy's per-subspace code
    * attains each subspace's maximum possible ADC contribution). The
    * SAME encoder must run at build, refresh and (implicitly, through
    * the stored codes) serve time, or codes and ADC tables diverge. A
    * row with no comparable sub-centroid gets a NULL code.
    */
  def mipsCode(vec: Column, book: Column): Column =
    aggregate(book,
      struct(lit(Double.NegativeInfinity).as("cdot"), lit(null).cast(LongType).as("cid")),
      (acc, c) => {
        val d = graft.functions.VectorOps.dot(vec, c.getField("cvec"))
        when(d > acc.getField("cdot"),
          struct(d.as("cdot"), c.getField("cid").as("cid"))).otherwise(acc)
      }).getField("cid")

  /** Reassemble the one-row `cents` form from a persisted (cid, cvec)
    * codebook table — the inverse of how `train_ann` / `build_ann_index`
    * persist `train` output, with the same cid sort so argmax
    * tie-breaks can never diverge between build, refresh and serve.
    */
  def packCents(rows: DataFrame): DataFrame =
    rows.agg(array_sort(collect_list(struct(col("cid"), col("cvec")))).as("cents"))

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
    * the data per round (for `ivfPqTopK`): every vector is cut into m
    * sub-vectors and a single Lloyd's round assigns and re-means all
    * subspaces together. Same per-subspace math as `train` (spherical
    * assignment, arithmetic-mean update, ks-lowest-id seeds, orphan
    * centroids retained), but the data-pass count does not scale with
    * m — the property that matters when the scan is 100 TB.
    *
    * Returns a ONE-ROW DataFrame `pq: array<array<struct<cid, cvec>>>`
    * indexed by subspace (element_at(pq, s + 1) is subspace s's
    * cid-sorted codebook).
    */
  def trainSubspaces(
      e: DataFrame, m: Int, sub: Int, ks: Int, iters: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(m > 0 && sub > 0 && ks > 0 && iters >= 0,
      s"need m, sub, ks > 0 and iters >= 0; got m=$m sub=$sub ks=$ks iters=$iters")
    val books = lloyd(e, m, ks, iters, idCol,
      transform(sequence(lit(0), lit(m - 1)), i => slice(col(vecCol), i * sub + 1, lit(sub))))
    oneRow(e.sparkSession, "pq", ArrayType(Cents), books)
  }

  /** A centroid: (cid, vector). */
  private type Cent = (Long, Seq[Float])

  /** Member sums (exact) and counts per flat slot s·n + j (subspace s,
    * centroid j): one task's, or the merge of several.
    */
  private final case class Partial(sums: Array[Array[BigDecimal]], counts: Array[Long]) {
    def +(o: Partial): Partial = Partial(
      sums.zip(o.sums).map { case (a, b) => a.zip(b).map { case (x, y) => x.add(y) } },
      counts.zip(o.counts).map { case (x, y) => x + y })
  }

  /** The one Lloyd's loop: `subVecs` cuts a row's vector into its m
    * sub-vectors; returns the m cid-sorted books (none on empty input,
    * the shape of an aggregate over nothing).
    */
  private def lloyd(
      e: DataFrame, m: Int, ks: Int, iters: Int, idCol: String,
      subVecs: Column): Seq[Seq[Cent]] = {
    val seeds = e.orderBy(col(idCol)).limit(ks)
      .select(col(idCol).cast("long"), subVecs).collect().toSeq
    val n = seeds.length
    var books: Seq[Seq[Cent]] = if (n == 0) Nil else (0 until m).map(s =>
      seeds.map(r => (r.getLong(0),
        Option(r.getSeq[scala.collection.Seq[Float]](1)(s)).map(_.toSeq).orNull)).sortBy(_._1))
    val pts = e.select(posexplode(subVecs).as(Seq("s", "svec")))
    for (_ <- 1 to (if (n == 0) 0 else iters)) {
      // One slot per cid (duplicate ids share one mean), sized to its
      // centroid. A row with no comparable centroid (NULL cid) is
      // skipped; any other row has its centroid's length, because the
      // cosine of vectors of unequal length is NULL.
      val slotOf = books.map(_.map(_._1).zipWithIndex.toMap)
      val dims = books.flatMap(_.map(c => Option(c._2).fold(0)(_.size))).toArray
      val book = element_at(typedLit(books).cast(ArrayType(Cents)), col("s") + 1)
      val partial = pts
        .select(col("s"), bestCentroid(e.sparkSession, col("svec"), book), col("svec"))
        .queryExecution.toRdd.mapPartitions { rows =>
          val sums = dims.map(new Array[Double](_))
          val counts = new Array[Long](m * n)
          rows.foreach { r =>
            val s = r.getInt(0)
            if (!r.isNullAt(1)) slotOf(s).get(r.getLong(1)).foreach { j =>
              val (v, acc) = (r.getArray(2), sums(s * n + j))
              acc.indices.foreach(d => acc(d) += v.getFloat(d))
              counts(s * n + j) += 1
            }
          }
          Iterator(Partial(sums.map(_.map(new BigDecimal(_))), counts))
        }.reduce(_ + _)
      books = books.zipWithIndex.map { case (b, s) =>
        b.map { case c @ (cid, _) =>
          val slot = s * n + slotOf(s)(cid)
          val cnt = partial.counts(slot)
          if (cnt == 0) c
          else (cid, partial.sums(slot).map(x => (x.doubleValue / cnt).toFloat).toSeq)
        }
      }
    }
    books
  }

  /** The one-row DataFrame `name: dt` holding `value`, a local relation:
    * reading or broadcasting it runs no job.
    */
  private def oneRow[T: scala.reflect.runtime.universe.TypeTag](
      spark: SparkSession, name: String, dt: DataType, value: T): DataFrame =
    spark.createDataFrame(Seq(Tuple1(value))).select(col("_1").cast(dt).as(name))
}
