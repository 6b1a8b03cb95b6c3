package graft.queries

import graft.{Q, SessionConf, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis / LLM-data-pipeline operators over `documents`
  * (SURVEY.md §2b L1, L5, L6): exact dedup, TF-IDF, language-ID
  * heuristic, quality scoring, token counting, document fingerprinting,
  * multimodal (binary) column plumbing.
  *
  * All tokenization is a single-space `split` — identical in Spark and
  * DuckDB — and every scoring formula is deterministic, so these are all
  * full differential-oracle rows.
  */
object TextQueries {

  private def toks: Column = split(col("text"), " ")

  private def markerCount(words: String*): Column =
    size(filter(toks, t => t.isin(words.map(_.asInstanceOf[Any]): _*)))

  private def duckMarkerCount(words: Seq[String]): String =
    s"len(list_filter(string_split(text,' '), x -> x IN (${words.map(w => s"'$w'").mkString(", ")})))"

  /** L1: exact dedup — content hash (sha256) as the dedup key, then
    * `dropDuplicates`. At 100 TB: one shuffle on the 32-byte hash, never
    * on the document body.
    */
  val l1ExactDedup: Q = Q(
    "l1_exact_dedup",
    """SELECT lang, count(DISTINCT text) AS n_unique_docs
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .withColumn("h", sha2(col("text"), 256))
      .dropDuplicates("lang", "h")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_unique_docs"))
      .orderBy(col("lang"))
  }

  /** L5: TF-IDF — tokenize → per-(doc,term) TF → per-term DF → score.
    * The corpus size N joins in as a broadcast singleton; per-term score
    * is idf·Σtf (exact integer sum, then one float multiply — no
    * float-summation-order hazard).
    */
  val l5Tfidf: Q = Q(
    "l5_tfidf_top_terms",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
      |df AS (SELECT term, count(*) AS n_docs_with, CAST(sum(tf) AS BIGINT) AS total_tf FROM tf GROUP BY term),
      |n AS (SELECT count(*) AS n_total FROM documents)
      |SELECT term, n_docs_with, total_tf,
      |  round(ln(n_total * 1.0 / n_docs_with) * total_tf, 4) AS tfidf
      |FROM df, n
      |ORDER BY tfidf DESC, term
      |LIMIT 20""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    // fanOut measured 0.41 → 0.47 s here (the tokenize map side is too
    // cheap to pay for the added narrow shuffle) — deliberately NOT
    // applied; see OPTIMIZATION_r20.md.
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("n_docs_with"), sum(col("tf")).as("total_tf"))
    val n = docs.agg(count(lit(1)).as("n_total"))
    df.crossJoin(broadcast(n))
      .select(
        col("term"), col("n_docs_with"), col("total_tf"),
        round(log(col("n_total").cast("double") / col("n_docs_with")) * col("total_tf"), 4)
          .as("tfidf"))
      .orderBy(col("tfidf").desc, col("term"))
      .limit(20)
  }

  /** L5: language-ID via marker-token counts (n-gram heuristic) — a pure
    * deterministic classifier compared against the labeled `lang` column
    * as a confusion matrix.
    */
  val l5LangId: Q = Q(
    "l5_langid_confusion",
    s"""SELECT lang, lang_guess, count(*) AS n
       |FROM (SELECT lang,
       |        CASE
       |          WHEN ${duckMarkerCount(Seq("the", "of", "and"))} >= ${duckMarkerCount(Seq("el", "la", "los"))}
       |           AND ${duckMarkerCount(Seq("the", "of", "and"))} >= ${duckMarkerCount(Seq("le", "les", "des"))}
       |           AND ${duckMarkerCount(Seq("the", "of", "and"))} > 0 THEN 'en'
       |          WHEN ${duckMarkerCount(Seq("el", "la", "los"))} >= ${duckMarkerCount(Seq("le", "les", "des"))}
       |           AND ${duckMarkerCount(Seq("el", "la", "los"))} > 0 THEN 'es'
       |          WHEN ${duckMarkerCount(Seq("le", "les", "des"))} > 0 THEN 'fr'
       |          ELSE 'unk' END AS lang_guess
       |      FROM documents) t
       |GROUP BY lang, lang_guess
       |ORDER BY lang, lang_guess""".stripMargin) { (spark, dir) =>
    val en = markerCount("the", "of", "and")
    val es = markerCount("el", "la", "los")
    val fr = markerCount("le", "les", "des")
    val guess = when(en >= es && en >= fr && en > 0, "en")
      .when(es >= fr && es > 0, "es")
      .when(fr > 0, "fr")
      .otherwise("unk")
    Tables.documents(spark, dir)
      .select(col("lang"), guess.as("lang_guess"))
      .groupBy(col("lang"), col("lang_guess"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("lang_guess"))
  }

  /** L5: quality scoring — token count, vocabulary diversity, stopword
    * ratio, composed into a deterministic [0,1] score, aggregated per lang.
    */
  val l5Quality: Q = Q(
    "l5_quality_score",
    s"""SELECT lang, count(*) AS n_docs,
       |  round(avg(n_tok), 4) AS avg_tokens,
       |  round(avg(diversity), 4) AS avg_diversity,
       |  round(avg(stop_ratio), 4) AS avg_stop_ratio,
       |  round(avg(0.5 * diversity + 0.5 * (1 - stop_ratio)), 4) AS avg_quality
       |FROM (SELECT lang,
       |        len(string_split(text, ' ')) AS n_tok,
       |        len(list_distinct(string_split(text, ' '))) * 1.0 / len(string_split(text, ' ')) AS diversity,
       |        ${duckMarkerCount(Seq("the", "a", "of"))} * 1.0 / len(string_split(text, ' ')) AS stop_ratio
       |      FROM documents) t
       |GROUP BY lang
       |ORDER BY lang""".stripMargin) { (spark, dir) =>
    val nTok = size(toks)
    val diversity = size(array_distinct(toks)).cast("double") / nTok
    val stopRatio = markerCount("the", "a", "of").cast("double") / nTok
    Tables.documents(spark, dir)
      .select(
        col("lang"), nTok.cast("long").as("n_tok"),
        diversity.as("diversity"), stopRatio.as("stop_ratio"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("n_tok")), 4).as("avg_tokens"),
        round(avg(col("diversity")), 4).as("avg_diversity"),
        round(avg(col("stop_ratio")), 4).as("avg_stop_ratio"),
        round(avg(lit(0.5) * col("diversity") + lit(0.5) * (lit(1) - col("stop_ratio"))), 4)
          .as("avg_quality"))
      .orderBy(col("lang"))
  }

  /** L5: token counting — histogram over 10-token buckets. */
  val l5TokenHist: Q = Q(
    "l5_token_histogram",
    """SELECT CAST(floor(len(string_split(text, ' ')) / 10) * 10 AS BIGINT) AS tok_bucket,
      |  count(*) AS n_docs
      |FROM documents
      |GROUP BY 1
      |ORDER BY tok_bucket""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .groupBy((floor(size(toks) / 10) * 10).cast("long").as("tok_bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("tok_bucket"))
  }

  /** L5/L2 precursor: document fingerprint — md5 of the sorted distinct
    * token bag (order/multiplicity-normalized content key). Distinct
    * fingerprints < distinct texts ⇒ permuted near-dups exist.
    */
  val l5Fingerprint: Q = Q(
    "l5_fingerprint",
    """SELECT source, count(*) AS n_docs,
      |  count(DISTINCT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))) AS n_fingerprints
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (spark, dir) =>
    val fp = md5(array_join(sort_array(array_distinct(toks)), " "))
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(fp).as("n_fingerprints"))
      .orderBy(col("source"))
  }

  /** L6: multimodal column plumbing — the document body carried as an
    * opaque binary payload in a typed struct (content: binary,
    * mime: string), with byte-level metadata extracted downstream. The
    * decode step for real image/audio payloads plugs in at the
    * `payload.content` access (see graft.multimodal.Multimodal).
    */
  val l6MultimodalMeta: Q = Q(
    "l6_multimodal_meta",
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
      |  CAST(max(octet_length(encode(text))) AS INT) AS max_bytes
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(
        col("doc_id"), col("source"),
        struct(
          encode(col("text"), "UTF-8").as("content"),
          lit("text/plain").as("mime")).as("payload"))
      .select(col("source"), octet_length(col("payload.content")).as("n_bytes"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bytes")).cast("long").as("total_bytes"),
        max(col("n_bytes")).as("max_bytes"))
      .orderBy(col("source"))
  }

  /** L7: the END-TO-END training-corpus cleaning pipeline — the
    * composition the individual L rows exist for, as ONE oracle-checked
    * query: exact dedup (distinct content per lang) → quality scoring
    * (diversity + stopword ratio) → keep-filter (length ≥ 5 tokens,
    * quality > 0.5) → per-lang corpus stats. Every stage is the same
    * scale-shape as its standalone row: the dedup shuffles 32-byte
    * hashes, scoring is a projection, the final aggregate moves
    * |langs|×|partitions| partial rows.
    */
  val l7CleanPipeline: Q = Q(
    "l7_corpus_clean_pipeline",
    s"""WITH d AS (SELECT DISTINCT lang, text FROM documents),
       |q AS (SELECT lang,
       |        len(string_split(text, ' ')) AS n_tok,
       |        len(list_distinct(string_split(text, ' '))) * 1.0 / len(string_split(text, ' ')) AS diversity,
       |        ${duckMarkerCount(Seq("the", "a", "of"))} * 1.0 / len(string_split(text, ' ')) AS stop_ratio
       |      FROM d)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       |  round(avg(0.5 * diversity + 0.5 * (1 - stop_ratio)), 4) AS avg_quality
       |FROM q
       |WHERE n_tok >= 5 AND 0.5 * diversity + 0.5 * (1 - stop_ratio) > 0.5
       |GROUP BY lang
       |ORDER BY lang""".stripMargin) { (spark, dir) =>
    val nTok = size(toks)
    val diversity = size(array_distinct(toks)).cast("double") / nTok
    val stopRatio = markerCount("the", "a", "of").cast("double") / nTok
    val quality = lit(0.5) * diversity + lit(0.5) * (lit(1) - stopRatio)
    Tables.documents(spark, dir)
      .withColumn("h", sha2(col("text"), 256))
      .dropDuplicates("lang", "h")
      .select(col("lang"), nTok.cast("long").as("n_tok"), quality.as("quality"))
      .filter(col("n_tok") >= 5 && col("quality") > 0.5)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        round(avg(col("quality")), 4).as("avg_quality"))
      .orderBy(col("lang"))
  }

  /** L9: INCREMENTAL exact dedup against persisted corpus state — the
    * shape a 100 TB ingest actually runs: the corpus is represented by
    * a catalog table of content hashes (32 bytes/doc, not the
    * documents), the incoming batch anti-joins that index, and the
    * survivors' hashes APPEND to it — one metadata-scale state table
    * instead of rescanning the corpus per crawl. Re-crawled documents
    * (the fixture replays half the corpus into the batch) die at the
    * index probe. The result reads the post-append index COUNT from
    * the table itself, so the state mutation — not just the anti-join —
    * is under oracle: DuckDB recomputes every cardinality as text-set
    * algebra over raw documents.
    */
  val l9IncrementalDedup: Q = Q(
    "l9_incremental_dedup",
    """WITH corpus AS (SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 0),
      |batch AS (SELECT text FROM documents WHERE doc_id % 2 = 1
      |          UNION ALL SELECT text FROM documents WHERE doc_id % 4 = 0),
      |newd AS (SELECT DISTINCT text FROM batch
      |         WHERE text NOT IN (SELECT text FROM corpus))
      |SELECT 'batch_rows' AS k, count(*) AS v FROM batch
      |UNION ALL SELECT 'corpus_after',
      |  (SELECT count(*) FROM corpus) + (SELECT count(*) FROM newd)
      |UNION ALL SELECT 'corpus_before', count(*) FROM corpus
      |UNION ALL SELECT 'new_docs', count(*) FROM newd
      |ORDER BY k""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    SessionConf.registerCatalog(spark)
    val docs = Tables.documents(spark, dir)
    spark.sql("DROP TABLE IF EXISTS graft.demo.dedup_idx PURGE")
    spark.sql("CREATE TABLE graft.demo.dedup_idx (h STRING) USING graft")
    docs.filter(col("doc_id") % 2 === 0)
      .select(sha2(col("text"), 256).as("h")).distinct()
      .writeTo("graft.demo.dedup_idx").append()
    val corpusBefore = spark.table("graft.demo.dedup_idx").count()
    val batch = docs.filter(col("doc_id") % 2 === 1).select(col("text"))
      .unionAll(docs.filter(col("doc_id") % 4 === 0).select(col("text")))
    val batchRows = batch.count()
    // In-batch dedup + index anti-probe: only genuinely new content
    // survives; the probe ships 32-byte hashes, never document bodies.
    val newHashes = batch.select(sha2(col("text"), 256).as("h")).distinct()
      .join(spark.table("graft.demo.dedup_idx"), Seq("h"), "left_anti")
    newHashes.writeTo("graft.demo.dedup_idx").append()
    val corpusAfter = spark.table("graft.demo.dedup_idx").count()
    Seq(
      ("batch_rows", batchRows),
      ("corpus_after", corpusAfter),
      ("corpus_before", corpusBefore),
      ("new_docs", corpusAfter - corpusBefore)).toDF("k", "v").orderBy(col("k"))
  }

  val all: Seq[Q] = Seq(
    l1ExactDedup, l5Tfidf, l5LangId, l5Quality, l5TokenHist,
    l5Fingerprint, l6MultimodalMeta, l7CleanPipeline, l9IncrementalDedup)
}
