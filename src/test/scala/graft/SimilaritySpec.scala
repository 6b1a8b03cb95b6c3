package graft

import graft.functions.VectorOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property-style checks for the custom similarity kernels (SURVEY.md
  * §5b item 3). Everything here is deterministic (seeded hashes, fixed
  * fixtures), so tolerance assertions cannot flake.
  */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("cosine: identical → 1, orthogonal → 0, opposite → -1") {
    val df = Seq(
      ("same", Seq(1f, 2f, 3f), Seq(1f, 2f, 3f)),
      ("orth", Seq(1f, 0f, 0f), Seq(0f, 1f, 0f)),
      ("opp", Seq(1f, 0f, 0f), Seq(-1f, 0f, 0f))
    ).toDF("k", "a", "b")
    val got = df.select($"k", round(VectorOps.cosine($"a", $"b"), 6).as("c"))
      .as[(String, Double)].collect().toMap
    assert(got("same") == 1.0 && got("orth") == 0.0 && got("opp") == -1.0)
  }

  test("dot accumulates in double (no float overflow at 1e20 magnitudes)") {
    val df = Seq((Seq(1e19f, 1e19f), Seq(10f, 10f))).toDF("a", "b")
    val d = df.select(VectorOps.dot($"a", $"b").as("d")).as[Double].head()
    assert(math.abs(d - 2e20) / 2e20 < 1e-6)
  }

  test("MinHash signature agreement tracks exact Jaccard (±0.2 at 32 perms)") {
    // Crafted docs: identical / ~2-in-3 shingle overlap / disjoint.
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val twoThirds = ((1 to 40).map(i => s"tok$i") ++ (1 to 20).map(i => s"alt$i")).mkString(" ")
    val disjoint = (1 to 60).map(i => s"other$i").mkString(" ")
    val docs = Seq((0L, base), (1L, base), (2L, twoThirds), (3L, disjoint))
      .toDF("doc_id", "text")

    def shingleSet(text: String): Set[String] =
      text.split(" ").sliding(3).map(_.mkString(" ")).toSet
    def jac(a: String, b: String): Double = {
      val (sa, sb) = (shingleSet(a), shingleSet(b))
      sa.intersect(sb).size.toDouble / sa.union(sb).size
    }

    val NumPerm = 32
    val toks = docs.select($"doc_id", split($"text", " ").as("t")).persist()
    val sh = toks.select($"doc_id",
      array_distinct(transform(
        sequence(lit(1), greatest(size($"t") - 2, lit(0))),
        i => xxhash64(element_at($"t", i), element_at($"t", i + 1), element_at($"t", i + 2))))
        .as("sh")).persist()
    val sig = transform(sequence(lit(0), lit(NumPerm - 1)),
      i => array_min(transform($"sh", h => xxhash64(h, i))))
    val sigs = sh.select($"doc_id", sig.as("sig")).as[(Long, Seq[Long])].collect().toMap

    def est(i: Long, j: Long): Double =
      sigs(i).zip(sigs(j)).count { case (a, b) => a == b }.toDouble / NumPerm

    assert(est(0L, 1L) == 1.0)
    assert(math.abs(est(0L, 2L) - jac(base, twoThirds)) <= 0.2)
    assert(est(0L, 3L) <= 0.1) // disjoint docs share (almost) no mins
  }

  test("LSH ANN: planted identical vector is always a candidate") {
    val q = Seq.tabulate(64)(i => math.sin(i + 1).toFloat)
    val noise = (1 to 50).map(k => (k.toLong, Seq.tabulate(64)(i => math.cos(i * k + 2).toFloat)))
    val planted = Seq((0L, q), (99L, q))
    val e = (planted ++ noise).toDF("vec_id", "embedding")
    val tables = 4; val bits = 8
    val bucketed = e.select($"vec_id",
      explode(array((0 until tables).map { t =>
        struct(lit(t).as("tbl"),
          VectorOps.lshBucket($"embedding", bits, seed = 1000L + t).as("bkt"))
      }: _*)).as("tb"))
      .select($"vec_id", $"tb.tbl".as("tbl"), $"tb.bkt".as("bkt"))
    val qb = bucketed.filter($"vec_id" === 0L)
      .select($"tbl", $"bkt")
    val cand = bucketed.filter($"vec_id" =!= 0L)
      .join(qb, Seq("tbl", "bkt"))
      .select($"vec_id").distinct().as[Long].collect().toSet
    // An identical vector has identical projections in every table.
    assert(cand.contains(99L))
  }

  test("SRP self-join near-dup: planted pairs exact, natural near-dups recalled") {
    import graft.queries.SimilarityQueries.srpNearDupPairs
    val rnd = new scala.util.Random(42)
    def gauss() = Seq.fill(64)(rnd.nextGaussian().toFloat)
    // 40 planted near-pairs: base vector k and a copy perturbed to
    // cosine ≥ ~0.97 (perturbation norm 0.25 × base norm ⇒ cos ≈
    // 1/sqrt(1+0.0625) ≈ 0.970), plus 400 unrelated noise vectors.
    val bases = (0 until 40).map(k => (k.toLong, gauss()))
    val twins = bases.map { case (k, v) =>
      val d = gauss()
      val vn = math.sqrt(v.map(x => x * x.toDouble).sum)
      val dn = math.sqrt(d.map(x => x * x.toDouble).sum)
      val s = 0.25 * vn / dn
      (k + 1000L, v.zip(d).map { case (x, y) => (x + s * y).toFloat })
    }
    val noise = (0 until 400).map(k => (k + 5000L, gauss()))
    val df = (bases ++ twins ++ noise).toDF("vec_id", "embedding")
    val pairs = srpNearDupPairs(spark, df, threshold = 0.9)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    // Precision: nothing but (k, k+1000) twins clears 0.9 — unrelated
    // 64-dim Gaussians sit near cosine 0.
    assert(pairs.forall { case (i, j) => j == i + 1000L },
      s"non-twin pair above threshold: ${pairs.filterNot { case (i, j) => j == i + 1000L }}")
    // Recall on NATURAL (perturbed, not bit-identical) near-dups: each
    // twin pair collides in ≥1 of 8 tables w.p. ~0.92 at cos 0.97;
    // seeds are fixed so the measured count is deterministic.
    assert(pairs.size >= 28, s"twin recall too low: ${pairs.size}/40")
  }

  test("L9 prefix probe equals brute-force exact Jaccard on randomized corpora") {
    // Differential law for the prefix-filter candidate rule: on random
    // token-set corpora (including planted near-dup mutations at and
    // around the 0.8 threshold), the probe's output must equal the
    // brute-force cross-side jac ≥ 0.8 join EXACTLY — every pair, no
    // extras. Randomized with fixed seeds so a prefix-length
    // off-by-one or order inconsistency reproduces deterministically.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, count, explode, expr, lit, row_number, size}
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      // Vocabulary small enough that docs share tokens by chance.
      def randSet(): Array[Long] =
        Array.fill(3 + rnd.nextInt(30))(rnd.nextInt(400).toLong).distinct
      val corpusDocs = (1 to 120).map(j => (j.toLong, randSet()))
      // Batch: random docs + mutated copies of corpus docs (drop up to
      // ~20% of tokens → jaccard straddles the threshold).
      val batchDocs = (1 to 60).map(i => (1000L + i, randSet())) ++
        corpusDocs.take(40).map { case (j, sh) =>
          val drop = rnd.nextInt(1 + sh.length / 5)
          (2000L + j, rnd.shuffle(sh.toSeq).drop(drop).toArray)
        }.filter(_._2.length >= 1)
      def jac(a: Array[Long], b: Array[Long]): Double = {
        val inter = a.toSet.intersect(b.toSet).size
        inter.toDouble / (a.length + b.length - inter)
      }
      val expect = (for {
        (i, a) <- batchDocs; (j, b) <- corpusDocs
        if jac(a, b) >= 0.8
      } yield (i, j)).toSet
      val corpus = corpusDocs.toDF("j", "sh_j")
        .select(col("j"), size(col("sh_j")).as("szj"), col("sh_j"))
      val post = corpus.select(col("j"), col("szj"), explode(col("sh_j")).as("g"))
      val dfG = post.groupBy(col("g")).agg(count(lit(1)).as("df"))
      val idx = post.join(dfG, Seq("g"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("j")).orderBy(col("df"), col("g"))))
        .filter(col("rn") <= col("szj") - expr("(szj * 4 + 4) div 5") + 1)
        .select(col("g"), col("j"))
      val got = graft.queries.SimilarityQueries
        .l9ProbeIndex(idx, dfG, corpus, batchDocs.toDF("i", "sh_i"))
        .select($"i", $"j").as[(Long, Long)].collect().toSet
      assert(got == expect,
        s"seed $seed: missing ${expect -- got}, extra ${got -- expect} " +
          s"(expected ${expect.size} pairs)")
      assert(expect.nonEmpty, s"seed $seed fixture produced no qualifying pairs")
    }
  }

  test("L9 incremental append: ingested docs rank under the STORED order, probe stays exact") {
    // The ingest-side maintenance the 100 TB story names: build the
    // prefix index once, append a NEW corpus doc via l9AppendDocs
    // (ranked under the persisted nd_df — no rebuild, df untouched),
    // and the probe must surface its qualifying pair exactly. The
    // appended doc deliberately contains tokens ABSENT from the stored
    // df (rank 0 — the same rule the probe side applies), pinning
    // order consistency between append and probe.
    import graft.queries.SimilarityQueries
    val dir = "/root/testdata/sf0.001"
    try {
      SimilarityQueries.ensureL9Index(spark, dir)
      val dfBefore = spark.table("graft.demo.nd_df").count()
      // The new corpus doc = an ODD (batch-side) doc's exact shingle
      // set under a fresh even-side id → jaccard 1.0 with that batch
      // doc, regardless of which tokens its prefix picks.
      val donor = SimilarityQueries
        .shingleHashesOf(Tables.documents(spark, dir))
        .filter($"doc_id" % 2 === 1).filter(size($"sh") >= 10)
        .orderBy($"doc_id").limit(1)
        .select($"doc_id", $"sh").as[(Long, Array[Long])].head()
      SimilarityQueries.l9AppendDocs(spark,
        Seq((900000L, donor._2)).toDF("doc_id", "sh"))
      assert(spark.table("graft.demo.nd_df").count() == dfBefore,
        "append must not touch the canonical df order")
      val got = SimilarityQueries.l9ProbeIndex(
        spark.table("graft.demo.nd_idx").select($"g", $"doc_id".as("j")),
        spark.table("graft.demo.nd_df"),
        spark.table("graft.demo.nd_sz")
          .select($"doc_id".as("j"), $"sz".as("szj"), $"sh".as("sh_j")),
        Seq((donor._1, donor._2)).toDF("i", "sh_i"))
        .select($"i", $"j", $"jaccard").as[(Long, Long, Double)].collect().toSet
      assert(got.contains((donor._1, 900000L, 1.0)),
        s"incrementally appended doc not found by the probe: $got")
    } finally {
      // The append mutated the memoized fixture tables: force the next
      // l9 invocation (same JVM) to rebuild a clean index.
      SimilarityQueries.l9IdxReady.set(null)
      spark.catalog.clearCache()
    }
  }

  test("SRP multi-probe self-join: recall >= 0.95 at cosine 0.9 vs the exact O(n²) slice") {
    // Natural NEAR-THRESHOLD pairs (the regime the planted-identical
    // oracle can't exercise): 60 base vectors each perturbed to cosine
    // ≈ 0.9 — exactly where 8×16-bit exact-bucket collision probability
    // alone is ~0.5 — plus noise. The lowest-|margin| multi-probe on
    // the probe side (SrpBucketProbes) must recover ≥ 95% of the pairs
    // the exact O(n²) slice puts at ≥ 0.9. Seeds fixed → deterministic.
    import graft.queries.SimilarityQueries.srpNearDupPairs
    val rnd = new scala.util.Random(11)
    def gauss() = Seq.fill(64)(rnd.nextGaussian().toFloat)
    val bases = (0 until 60).map(k => (k.toLong, gauss()))
    val twins = bases.map { case (k, v) =>
      val d = gauss()
      val vn = math.sqrt(v.map(x => x * x.toDouble).sum)
      val dn = math.sqrt(d.map(x => x * x.toDouble).sum)
      // cos ≈ 1/sqrt(1+r²) = 0.90 at r ≈ 0.4843.
      val s = 0.4843 * vn / dn
      (k + 1000L, v.zip(d).map { case (x, y) => (x + s * y).toFloat })
    }
    val noise = (0 until 300).map(k => (k + 5000L, gauss()))
    val all = bases ++ twins ++ noise
    val df = all.toDF("vec_id", "embedding")
    // Exact ≥ 0.9 pairs, closed form on the driver (n = 420 — bounded).
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x * x.toDouble).sum)
      dot / (na * nb)
    }
    val exact = (for {
      x <- all; y <- all
      if x._1 < y._1 && cos(x._2, y._2) >= 0.9
    } yield (x._1, y._1)).toSet
    // The perturbation puts pairs AT the threshold: some land just
    // under 0.9 — the exact slice is the ground truth either way.
    assert(exact.size >= 20, s"fixture too weak: only ${exact.size} exact pairs")
    val got = srpNearDupPairs(spark, df, threshold = 0.9)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    // Precision is structural: candidates are exact-reranked, so
    // nothing below 0.9 can surface.
    assert(got.subsetOf(exact), s"sub-threshold pair leaked: ${got -- exact}")
    val recall = got.size.toDouble / exact.size
    assert(recall >= 0.95,
      f"near-threshold recall $recall%.3f (${got.size}/${exact.size}) < 0.95")
  }

  test("SRP self-join candidate mass stays a vanishing, non-growing fraction of all-pairs") {
    // The self-join analogue of the SimHash chunk-pair scale property:
    // candidate mass is Σ bucket-occupancy² per (table, bucket), so the
    // fraction of all-pairs must be TINY and must not grow with n —
    // growth means buckets are saturating (narrow-key degeneration
    // toward all-pairs). Expected for random 64-dim Gaussians at
    // 8 tables × 16 bits: ~8 × 0.5^16 ≈ 1.2e-4.
    import graft.queries.SimilarityQueries.srpNearDupPairs
    def vecsOf(n: Int) = {
      val rnd = new scala.util.Random(7)
      (1 to n).map(k => (k.toLong, Seq.fill(64)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding")
    }
    def fractionAt(n: Int): Double = {
      val cand = srpNearDupPairs(spark, vecsOf(n), threshold = -1.0).count()
      cand.toDouble / (n.toLong * (n - 1) / 2).toDouble
    }
    val fSmall = fractionAt(3000)
    val fBig = fractionAt(6000)
    assert(fBig < 0.005, f"candidate fraction $fBig%.5f — bucket keys too narrow")
    assert(fBig < fSmall * 2 + 1e-4,
      f"candidate fraction grew with n: $fSmall%.6f -> $fBig%.6f")
  }

  test("cache lifecycle: harness convention releases every builder persist") {
    // The file-level contract in SimilarityQueries: builders persist
    // stages the returned plan reads, and the CALLER releases them via
    // clearCache() after the terminal action (what Bench/Verify do).
    // Pin both halves: the builders DO register cache entries (so this
    // test fails if someone silently drops the persists the plans rely
    // on) and clearCache() leaves the CacheManager EMPTY (so nothing
    // leaks into later queries' plan lookup).
    val dir = "/root/testdata/sf0.001"
    val cm = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    assert(cm.isEmpty, "pre-existing cache entries — fixture bug")
    graft.queries.SimilarityQueries.l2MinHashLsh.fn(spark, dir).count()
    graft.queries.SimilarityQueries.l3AnnIvf.fn(spark, dir).count()
    assert(!cm.isEmpty, "builders no longer persist — reuse contract broken")
    spark.catalog.clearCache()
    assert(cm.isEmpty, "clearCache left cache entries behind")
  }

  test("exact top-k cosine on fixtures ranks by angle") {
    val q = Seq(1f, 0f)
    val e = Seq(
      (1L, Seq(1f, 0f)),     // cos 1.0
      (2L, Seq(1f, 1f)),     // cos ~.707
      (3L, Seq(0f, 1f)),     // cos 0
      (4L, Seq(-1f, 0f))     // cos -1
    ).toDF("vec_id", "embedding")
    val got = e.withColumn("q", typedlit(q))
      .select($"vec_id", VectorOps.cosine($"embedding", $"q").as("sim"))
      .orderBy($"sim".desc).limit(3)
      .select($"vec_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L, 3L))
  }

  test("native CosineSim expression matches the HOF composition bit-for-bit") {
    val e = (1 to 200).map { k =>
      (k.toLong,
        Seq.tabulate(64)(i => (math.sin(i * k + 1) * 10).toFloat),
        Seq.tabulate(64)(i => (math.cos(i + k) * 5).toFloat))
    }.toDF("id", "a", "b")
    val cmp = e.select(
      graft.functions.CosineSim(spark, $"a", $"b").as("native"),
      VectorOps.cosine($"a", $"b").as("hof"))
    assert(cmp.filter($"native" =!= $"hof").count() == 0)
  }

  test("CosineSim is null-safe and type-checked") {
    val df = Seq(
      (Some(Seq(1f, 0f)), Some(Seq(1f, 0f))),
      (None, Some(Seq(1f, 0f)))
    ).toDF("a", "b")
    val out = df.select(graft.functions.CosineSim(spark, $"a", $"b").as("c"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out.toSeq == Seq(Some(1.0), None))
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq((1, 2)).toDF("a", "b")
        .select(graft.functions.CosineSim(spark, $"a", $"b")).collect()
    }
  }

  test("IVF ANN recall vs brute force is >= 8/10 on sf0.01") {
    // Raw approximate recall on the NATURAL corpus (no planted copies):
    // the registry query wraps this same ivfTopK in the planted fixture
    // for its closed-form oracle, so the machinery under test is shared.
    val dir = "/root/testdata/sf0.01"
    val exact = graft.queries.SimilarityQueries.l3CosineTopK.fn(spark, dir)
      .select("vec_id").as[Long].collect().toSet
    val e = graft.Tables.embeddings(spark, dir).persist()
    val ivf = graft.queries.SimilarityQueries.ivfTopK(spark, e, e)
      .select("vec_id").as[Long].collect().toSet
    e.unpersist()
    assert((exact & ivf).size >= 8, s"recall ${(exact & ivf).size}/10")
  }

  test("SRP-LSH ANN recall vs brute force is >= 6/10 on sf0.01") {
    // Natural-corpus recall for the third ANN index (IVF and IVF-PQ have
    // the same check below/above). SRP with 4 tables x 8 bits is the
    // coarsest of the three indexes, so its floor is lower — the planted
    // fixture proves exactness on bucket-identical vectors; this proves
    // the bucketing still surfaces most TRUE neighbors when nothing is
    // planted. The measured value is logged so a recall drift shows in
    // test output before it crosses the floor.
    val dir = "/root/testdata/sf0.01"
    val exact = graft.queries.SimilarityQueries.l3CosineTopK.fn(spark, dir)
      .select("vec_id").as[Long].collect().toSet
    val lsh = graft.queries.SimilarityQueries
      .srpAnnTopK(spark, graft.Tables.embeddings(spark, dir))
      .select("vec_id").as[Long].collect().toSet
    info(s"SRP-LSH recall@10 = ${(exact & lsh).size}/10")
    assert((exact & lsh).size >= 6, s"recall ${(exact & lsh).size}/10")
  }

  test("planted ANN fixtures: all three indexes return exactly the 10 lowest planted copies") {
    // The provable-recall contract behind the l3_ann_* oracles: a
    // bit-identical copy of the query vector shares its bucket in every
    // SRP table, its IVF list, and (MIPS-PQ encoding) the globally
    // maximal ADC score, so the top-10 is the 10 lowest planted ids at
    // sim 1.0 — deterministically, in all three indexes.
    val dir = "/root/testdata/sf0.001"
    val expect = (0 until 10).map(i => (1000000L + i, -1, 1.0))
    for (q <- Seq(graft.queries.SimilarityQueries.l3AnnLsh,
                  graft.queries.SimilarityQueries.l3AnnIvf,
                  graft.queries.SimilarityQueries.l3AnnIvfPq)) {
      val got = q.fn(spark, dir)
        .as[(Long, Int, Double)].collect().toSeq
      assert(got == expect, s"${q.name}: $got")
    }
  }

  test("IVF-PQ ANN recall vs brute force is >= 7/10 on sf0.01") {
    // Raw approximate recall on the NATURAL corpus: ADC ranking over
    // 4x16-centroid MIPS-PQ codes with exact re-rank of the top-64.
    // Catches ADC/encoder regressions the planted oracle cannot (the
    // planted copies dominate any correct-or-broken ADC ordering).
    val dir = "/root/testdata/sf0.01"
    val exact = graft.queries.SimilarityQueries.l3CosineTopK.fn(spark, dir)
      .select("vec_id").as[Long].collect().toSet
    val e = graft.Tables.embeddings(spark, dir).persist()
    val pq = graft.queries.SimilarityQueries.ivfPqTopK(spark, e, e)
      .select("vec_id").as[Long].collect().toSet
    e.unpersist()
    assert((exact & pq).size >= 7, s"recall ${(exact & pq).size}/10")
  }

  test("native SrpBucket matches the HOF lshBucket construction bit-for-bit") {
    val e = (1 to 100).map(k =>
      (k.toLong, Seq.tabulate(64)(i => (math.sin(i * k + 3) * 4).toFloat)))
      .toDF("vec_id", "embedding")
    val cmp = e.select(
      graft.functions.SrpBucket(spark, $"embedding", 8, 1003L).as("native"),
      VectorOps.lshBucket($"embedding", 8, 1003L).as("hof"))
    assert(cmp.filter($"native" =!= $"hof").count() == 0)
  }

  test("shingle/bigram guards: 0/1/2-token docs yield empty sets, not crashes") {
    // sequence(1, 0) in Spark is the DESCENDING [1, 0], so the unguarded
    // transform crashed with "SQL array indices start at 1" on short docs.
    val docs = Seq((0L, ""), (1L, "one"), (2L, "one two"), (3L, "one two three"))
      .toDF("doc_id", "text")
    val sh = graft.queries.SimilarityQueries.shingleHashesOf(docs)
      .select($"doc_id", size($"sh").as("n")).as[(Long, Int)].collect().toMap
    assert(sh == Map(0L -> 0, 1L -> 0, 2L -> 0, 3L -> 1))
    val bg = docs.select($"doc_id",
        size(graft.queries.SimilarityQueries.bigramsOf($"text")).as("n"))
      .as[(Long, Int)].collect().toMap
    assert(bg == Map(0L -> 0, 1L -> 0, 2L -> 1, 3L -> 2))
  }

  test("minhash near-dup pipeline tolerates short docs end-to-end") {
    val docs = Seq(
      (0L, ""), (1L, "x"), (2L, "x y"),
      (3L, "a b c d e f"), (4L, "a b c d e f")).toDF("doc_id", "text")
    val sh = graft.queries.SimilarityQueries.shingleHashesOf(docs)
    val pairs = graft.queries.SimilarityQueries.minhashPairsOf(sh, 0.5)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    assert(pairs == Set((3L, 4L))) // short docs never pair, identical docs do
  }

  test("CosineSim: zero-norm vector and length mismatch yield NULL, never NaN") {
    val df = Seq(
      ("zero", Seq(0f, 0f, 0f), Seq(1f, 2f, 3f)),
      ("mismatch", Seq(1f, 2f), Seq(1f, 2f, 3f)),
      ("ok", Seq(1f, 0f, 0f), Seq(1f, 0f, 0f))
    ).toDF("k", "a", "b")
    val got = df.select($"k", graft.functions.CosineSim(spark, $"a", $"b").as("c"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got("zero").isEmpty, "zero-norm must be NULL (NaN would top desc sorts)")
    assert(got("mismatch").isEmpty, "length mismatch must be NULL, not truncated")
    assert(got("ok").contains(1.0))
    // interpreted eval path (constant folding calls eval, not codegen)
    val evalRow = spark.range(1).select(
      graft.functions.CosineSim(spark, typedlit(Seq(0f, 0f)), typedlit(Seq(1f, 2f))).as("c"))
      .collect().head
    assert(evalRow.isNullAt(0))
    // NULL sims sort BELOW real ones under desc (NaN sorted above)
    val ranked = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 0f)))
      .toDF("id", "v")
      .select($"id", graft.functions.CosineSim(spark, $"v", typedlit(Seq(1f, 0f))).as("s"))
      .orderBy($"s".desc_nulls_last).select($"id").as[Long].collect().toSeq
    assert(ranked == Seq(1L, 2L))
  }

  test("native MinHash32 matches the SQL transform/array_min fold exactly") {
    // xxhash64(h, i) chains from seed 42: hashInt(i, hashLong(h, 42)).
    // The native expression must be byte-identical to the interpreted
    // fold it replaced in minhashPairs.
    val df = (1 to 80).map { k =>
      (k.toLong, (1 to (k % 37 + 3)).map(i => (i * 2654435761L * k) ^ (k << 9)).toSeq)
    }.toDF("id", "sh")
    val cmp = df.select(
      graft.functions.MinHash32(spark, $"sh").as("native"),
      expr("transform(sequence(0, 31), i -> array_min(transform(sh, h -> xxhash64(h, i))))")
        .as("sqlfold"))
    assert(cmp.filter($"native" =!= $"sqlfold").count() == 0)
    // empty input → NULL (callers filter size(sh) > 0 first)
    val empty = Seq((1L, Seq.empty[Long])).toDF("id", "sh")
      .select(graft.functions.MinHash32(spark, $"sh").as("m")).collect().head
    assert(empty.isNullAt(0))
  }

  test("KMeansCodebook recovers planted clusters (trained > sampled quantizer)") {
    // Three tight clusters around orthogonal axes, deliberately ordered
    // so the k lowest ids all land in cluster 0 — a sampled codebook
    // would put every seed in one cluster; training must separate them.
    val rnd = new scala.util.Random(7)
    def jitter(base: Array[Float]): Seq[Float] =
      base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.05f).toSeq
    val axes = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val rows = (0 until 60).map { i =>
      val cluster = if (i < 3) 0 else i % 3 // ids 0,1,2 (the seeds) all cluster 0
      (i.toLong, jitter(axes(cluster)), cluster)
    }
    val df = rows.toDF("vec_id", "embedding", "cluster")
    val codebook = graft.operators.KMeansCodebook.train(df, k = 3, iters = 3)
    val assigned = df.crossJoin(broadcast(codebook))
      .select($"cluster",
        graft.operators.KMeansCodebook
          .bestCentroid(spark, $"embedding", $"cents").as("list_id"))
      .collect()
    // Every planted cluster maps to exactly one list, and distinct
    // clusters map to distinct lists — the codebook separated them.
    val byCluster = assigned.groupBy(_.getInt(0)).map { case (c, rs) =>
      c -> rs.map(_.getLong(1)).distinct
    }
    assert(byCluster.values.forall(_.size == 1),
      s"cluster split across lists: $byCluster")
    assert(byCluster.values.flatten.toSet.size == 3,
      s"clusters collapsed into one list: $byCluster")
  }

  /** The planted-cluster fixture above as (vec_id, embedding) rows: 60
    * jittered points around three axes, ids 0–2 all in cluster 0.
    */
  private def plantedClusters(): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(7)
    val axes = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    (0 until 60).map { i =>
      val cluster = if (i < 3) 0 else i % 3
      (i.toLong, axes(cluster).map(v => v + (rnd.nextFloat() - 0.5f) * 0.05f).toSeq)
    }
  }

  /** A codebook as (cid, float bits) pairs, so equality is exact. */
  private def bits(book: Seq[Row]): Seq[(Long, Seq[Int])] =
    book.map(r => (r.getLong(0), r.getSeq[Float](1).map(java.lang.Float.floatToRawIntBits)))
  private def cents(cb: DataFrame): Seq[(Long, Seq[Int])] = bits(cb.head().getSeq[Row](0))
  private def pq(pqRow: DataFrame): Seq[Seq[(Long, Seq[Int])]] =
    pqRow.head().getSeq[scala.collection.Seq[Row]](0).map(b => bits(b.toSeq))

  test("KMeansCodebook.train equals a plain-Scala Lloyd reference exactly") {
    val pts = plantedClusters()
    // CosineSim's arithmetic; the first strictly larger cid wins.
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val (x, y) = (a.map(_.toDouble), b.map(_.toDouble))
      def dot(p: Seq[Double], q: Seq[Double]) = p.zip(q).foldLeft(0.0) { case (z, (u, v)) => z + u * v }
      dot(x, y) / (math.sqrt(dot(x, x)) * math.sqrt(dot(y, y)))
    }
    var ref = pts.take(3)
    for (_ <- 1 to 3) {
      val cur = ref
      def best(v: Seq[Float]): Long = cur.maxBy { case (_, c) => cos(v, c) }._1
      ref = cur.map { case (cid, c) =>
        val members = pts.filter { case (_, v) => best(v) == cid }.map(_._2)
        if (members.isEmpty) (cid, c)
        else {
          val sums = members.foldLeft(Seq.fill(c.size)(0.0)) { (acc, v) =>
            acc.zip(v).map { case (z, f) => z + f }
          }
          (cid, sums.map(x => (x / members.size).toFloat))
        }
      }
    }
    val df = pts.toDF("vec_id", "embedding").coalesce(1)
    val got = cents(graft.operators.KMeansCodebook.train(df, k = 3, iters = 3))
    assert(got == ref.map { case (cid, c) => (cid, c.map(java.lang.Float.floatToRawIntBits)) })
  }

  test("KMeansCodebook: a vector with no comparable centroid gets a NULL cid, never cid -1's") {
    import graft.operators.KMeansCodebook.{bestCentroid, train}
    // Seeds are the two lowest ids, -1 and 5. Vector 7 (zero norm) and
    // vector 9 (wrong length) compare with no centroid.
    val df = Seq(
      (-1L, Seq(1f, 0f)), (5L, Seq(0f, 1f)), (7L, Seq(0f, 0f)),
      (8L, Seq(1f, 0.1f)), (9L, Seq(0f))).toDF("vec_id", "embedding")
    val cb = train(df, 2, 1)
    val c = cb.head().getSeq[Row](0).map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    // Centroid -1 is the mean of -1 and 8 only.
    assert(c(-1L).head == 1.0f, s"centroid -1 absorbed a vector it does not own: ${c(-1L)}")
    val lists = df.crossJoin(cb)
      .select(col("vec_id"), bestCentroid(spark, col("embedding"), col("cents")).as("list_id"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(lists == Map(-1L -> Some(-1L), 5L -> Some(5L), 7L -> None, 8L -> Some(-1L), 9L -> None))
  }

  test("KMeansCodebook training is deterministic over several partitions") {
    import graft.operators.KMeansCodebook.{train, trainSubspaces}
    val df = plantedClusters().toDF("vec_id", "embedding").repartition(3)
    assert(cents(train(df, k = 3, iters = 3)) == cents(train(df, k = 3, iters = 3)))
    assert(pq(trainSubspaces(df, m = 2, sub = 2, ks = 3, iters = 2)) ==
      pq(trainSubspaces(df, m = 2, sub = 2, ks = 3, iters = 2)))
  }

  test("KMeansCodebook: iters = 0 returns the seeds, empty input one empty codebook") {
    import graft.operators.KMeansCodebook.{train, trainSubspaces}
    val pts = plantedClusters()
    val df = pts.toDF("vec_id", "embedding")
    val seeds = pts.take(3).map { case (cid, v) => (cid, v.map(java.lang.Float.floatToRawIntBits)) }
    assert(cents(train(df, k = 3, iters = 0)) == seeds)
    assert(pq(trainSubspaces(df, m = 2, sub = 2, ks = 3, iters = 0)) ==
      Seq(seeds.map { case (c, v) => (c, v.take(2)) }, seeds.map { case (c, v) => (c, v.drop(2)) }))
    val empty = train(df.limit(0), k = 3, iters = 2).collect()
    assert(empty.length == 1 && empty.head.getSeq[Row](0).isEmpty)
  }

  test("KMeansCodebook runs one map-only job per Lloyd round") {
    import graft.operators.KMeansCodebook.{train, trainSubspaces}
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val group = "kmeans-job-count"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val ourStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          j.stageIds.foreach(ourStages.add)
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (ourStages.contains(s.stageInfo.stageId)) stages.incrementAndGet()
    }
    // (jobs, completed stages) that `body` runs: one stage per job is
    // its result stage, any other is a shuffle-map stage.
    def counted(body: => Unit): (Int, Int) = {
      jobs.set(0); stages.set(0)
      sc.setJobGroup(group, "k-means job count")
      try body finally sc.clearJobGroup()
      org.apache.spark.sql.GraftTestBridge.drainListenerBus(sc)
      (jobs.get, stages.get)
    }
    val e = spark.range(0, 400).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)), i => sin(col("id") * (i + 1)).cast("float"))
        .as("embedding"))
    sc.addSparkListener(listener)
    try {
      assert(counted(train(e, k = 4, iters = 3).collect()) == ((4, 4)))
      assert(counted(trainSubspaces(e, m = 2, sub = 4, ks = 4, iters = 2).collect()) == ((3, 3)))
    } finally sc.removeSparkListener(listener)
  }

  test("MinHash32/SimHash64 match their SQL folds on adversarial inputs") {
    // Extremes the structured-fixture tests don't reach: Long.MinValue/
    // MaxValue elements (sign-sensitive hash mixing), 0/-1, singletons,
    // long arrays, duplicate elements — native and interpreted paths
    // must agree bit-for-bit on all of them.
    val rnd = new scala.util.Random(91)
    val cases: Seq[Seq[Long]] =
      Seq(
        Seq(Long.MinValue), Seq(Long.MaxValue), Seq(0L), Seq(-1L),
        Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 1L),
        Seq.fill(50)(42L) // all-duplicate
      ) ++ (1 to 40).map(i => Seq.fill(rnd.nextInt(200) + 1)(rnd.nextLong()))
    val df = cases.zipWithIndex.map { case (sh, i) => (i.toLong, sh) }.toDF("id", "sh")
    val cmp = df.select(
      graft.functions.MinHash32(spark, $"sh").as("mh_native"),
      expr("transform(sequence(0, 31), i -> array_min(transform(sh, h -> xxhash64(h, i))))")
        .as("mh_fold"),
      graft.functions.SimHash64(spark, $"sh").as("sh_native"),
      expr("""aggregate(sequence(0, 63), 0L, (acc, b) -> acc |
             |  IF(aggregate(sh, 0, (a2, h) ->
             |       a2 + IF((shiftright(h, b) & 1) = 1, 1, -1)) > 0,
             |     shiftleft(1L, b), 0L))""".stripMargin).as("sh_fold"))
    assert(cmp.filter($"mh_native" =!= $"mh_fold").count() == 0)
    assert(cmp.filter($"sh_native" =!= $"sh_fold").count() == 0)
  }

  test("MinHash32/SimHash64 tolerate null elements (containsNull=true input)") {
    // getLong on a null slot reads garbage; the contract instead mirrors
    // xxhash64's null handling for MinHash32 (a skipped child leaves the
    // chain at seed 42) and treats a null shingle as absent for
    // SimHash64 — both checked against the equivalent SQL fold over the
    // SAME nullable array.
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (array(cast(null as bigint))),
        |  (array(cast(null as bigint), 7L, null, -3L)),
        |  (array(1L, null, null, 1L, 2L)) AS t(sh)""".stripMargin)
    val cmp = df.select(
      graft.functions.MinHash32(spark, $"sh").as("mh_native"),
      expr("transform(sequence(0, 31), i -> array_min(transform(sh, h -> xxhash64(h, i))))")
        .as("mh_fold"),
      graft.functions.SimHash64(spark, $"sh").as("sh_native"),
      expr("""aggregate(sequence(0, 63), 0L, (acc, b) -> acc |
             |  IF(aggregate(filter(sh, h -> h is not null), 0, (a2, h) ->
             |       a2 + IF((shiftright(h, b) & 1) = 1, 1, -1)) > 0,
             |     shiftleft(1L, b), 0L))""".stripMargin).as("sh_fold"))
    assert(cmp.filter($"mh_native" =!= $"mh_fold").count() == 0)
    assert(cmp.filter($"sh_native" =!= $"sh_fold").count() == 0)
  }

  test("l3_ann_ivf plan never shuffles the embedding column") {
    // The scale contract: assignment is a broadcast-singleton nested
    // loop + per-row argmax, so no ShuffleExchange carries the (wide)
    // embedding column. AQE off so the pre-execution plan is concrete.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = graft.queries.SimilarityQueries.l3AnnIvf.fn(spark, "/root/testdata/sf0.001")
      val shuffles = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      val offenders = shuffles.filter(_.output.exists(a =>
        a.name == "embedding" || a.name == "qe" || a.name == "cents"))
      assert(offenders.isEmpty,
        s"embedding column crosses a shuffle:\n${offenders.mkString("\n")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("L9 prefix-filtered probe: stopword-heavy, rare, and mixed pairs all surface") {
    // The prefix lemma's three regimes on one synthetic corpus: 100
    // docs sharing the SAME 10 shingles (maximal-df "stopword" tokens
    // — the regime the old df-cap needed a fallback for), one
    // rare-token doc, and a mixed doc. The index is built with the
    // SAME (df, g)-ordered prefix formula ensureL9Index persists, so
    // this also pins build↔probe order consistency.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, count, explode, expr, lit, row_number, size}
    val hotSet = (1L to 10L).toArray
    val corpusDocs: Seq[(Long, Array[Long])] =
      (1L to 100L).map(j => (j, hotSet)) ++ Seq(
        (200L, Array(1001L, 1002L, 1003L, 1004L, 1005L)),
        (300L, Array(1L, 2L, 2001L, 2002L, 2003L)))
    val corpus = corpusDocs.toDF("j", "sh_j")
      .select(col("j"), size(col("sh_j")).as("szj"), col("sh_j"))
    val post = corpus.select(col("j"), col("szj"), explode(col("sh_j")).as("g"))
    val dfG = post.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val idx = post.join(dfG, Seq("g"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("j")).orderBy(col("df"), col("g"))))
      .filter(col("rn") <= col("szj") - expr("(szj * 4 + 4) div 5") + 1)
      .select(col("g"), col("j"))
    // Prefix postings are ~20% of full postings: 3 of 10 for the hot
    // docs, 2 of 5 for docs 200/300.
    assert(idx.count() == 100L * 3 + 2 + 2, s"prefix posting count ${idx.count()}")
    val batch = Seq(
      (9001L, hotSet),                                      // all-stopword probe
      (9002L, Array(1001L, 1002L, 1003L, 1004L, 9999L)),    // rare probe, jac 4/6
      (9003L, Array(1L, 2L, 2001L, 2002L, 2003L, 9998L))    // mixed probe, jac 5/6
    ).toDF("i", "sh_i")
    val got = graft.queries.SimilarityQueries
      .l9ProbeIndex(idx, dfG, corpus, batch)
      .select($"i", $"j", $"jaccard").as[(Long, Long, Double)].collect().toSet
    // jac(9001, hot_j) = 1.0 for every j: the shared tokens are ALL
    // maximal-df, and the prefix join must still surface every pair
    // (the lemma needs no rarity, only order consistency).
    val wantHot = (1L to 100L).map(j => (9001L, j, 1.0)).toSet
    assert(got.filter(_._1 == 9001L) == wantHot,
      s"stopword-only pair dropped by prefix filter: ${got.count(_._1 == 9001L)}/100 found")
    // jac(9002, 200) = 4/6 < 0.8 — candidate generated but verify-rejected.
    assert(!got.exists(_._1 == 9002L), s"sub-threshold pair leaked: $got")
    // jac(9003, 300) = 5/(6 + 5 − 5) = 5/6 — prefixes {9998, 2001} and
    // {2001, 2002} meet at 2001; exact verify off the stored arrays.
    assert(got.filter(_._1 == 9003L) == Set((9003L, 300L, 0.8333)),
      s"mixed pair mis-verified: ${got.filter(_._1 == 9003L)}")
  }

  test("SimHash chunk-pair LSH finds a planted hamming-5 pair 4-chunk banding missed") {
    // Bits 0,1 hit 8-bit chunk 0; bits 16, 32, 48 hit chunks 2, 4, 6 —
    // chunks 1,3,5,7 stay untouched, so banding on unordered chunk
    // PAIRS (guarantee: hamming ≤ chunks−2 = 6 leaves two untouched
    // chunks, hence an untouched pair) must surface the pair. In the
    // 4-chunk (16-bit) layout every chunk is touched, so no banding of
    // those chunks — single or paired — can see it: documents why the
    // query bands 8 chunks, not 4.
    val a = 0L
    val b = (1L << 0) | (1L << 1) | (1L << 16) | (1L << 32) | (1L << 48)
    assert(java.lang.Long.bitCount(a ^ b) == 5)
    val sigs = Seq((1L, a), (2L, b)).toDF("doc_id", "sig")
    val pairs = graft.queries.SimilarityQueries.simhashCandidatePairs(sigs, chunks = 8)
      .select($"i", $"j", $"hamming").as[(Long, Long, Int)].collect().toSet
    assert(pairs == Set((1L, 2L, 5)))
    val coarse = graft.queries.SimilarityQueries.simhashCandidatePairs(sigs, chunks = 4)
      .count()
    assert(coarse == 0)
  }

  test("SimHash LSH candidate mass stays a vanishing, non-growing fraction of all-pairs") {
    // The round-14 scale audit caught single 8-bit bands approaching
    // all-pairs: 256 key values per band put the expected candidate
    // FRACTION at bands/256 ≈ 3.1% of C(n,2) — 56M pairs at sf0.1 and
    // quadratic-with-a-fat-constant beyond. Chunk-pair banding widens
    // keys to 16 bits (fraction 28/65536 ≈ 0.043%). Any LSH's expected
    // collisions are ~C(n,2)·p on collision-free data — the scale
    // property to pin is that p is TINY and does not grow with n.
    def sigsOf(n: Int) = (1 to n).map { k =>
      // splitmix64-style scramble: decorrelated, reproducible bits.
      var z = k.toLong * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      (k.toLong, z ^ (z >>> 31))
    }.toDF("doc_id", "sig")
    def fractionAt(n: Int): Double = {
      val pairs = graft.queries.SimilarityQueries
        .simhashCandidatePairs(sigsOf(n), chunks = 8).count()
      pairs.toDouble / (n.toLong * (n - 1) / 2).toDouble
    }
    val fSmall = fractionAt(4000)
    val fBig = fractionAt(8000)
    // Both far under the 8-bit layout's 3.1% (≈ 0.043% expected)...
    assert(fBig < 0.005, f"candidate fraction $fBig%.5f near the 8-bit regime")
    // ...and the fraction must not GROW with the corpus — growth would
    // mean the banding degenerates toward all-pairs as n rises (the
    // exact failure mode of narrow keys once buckets saturate).
    assert(fBig < fSmall * 2 + 1e-4,
      f"candidate fraction grew with n: $fSmall%.6f -> $fBig%.6f")
  }

  test("native SimHash64 matches the SQL aggregate fold exactly") {
    val df = (1 to 50).map(k => (k.toLong, (1 to 40).map(i => (i * 2654435761L * k) ^ (k << 7)).toSeq))
      .toDF("id", "sh")
    val cmp = df.select(
      graft.functions.SimHash64(spark, $"sh").as("native"),
      expr("""aggregate(sequence(0, 63), 0L, (acc, b) -> acc |
             |  IF(aggregate(sh, 0, (a2, h) ->
             |       a2 + IF((shiftright(h, b) & 1) = 1, 1, -1)) > 0,
             |     shiftleft(1L, b), 0L))""".stripMargin).as("sqlfold"))
    assert(cmp.filter($"native" =!= $"sqlfold").count() == 0)
  }
}
