package graft

import org.apache.spark.sql.{SparkSession, DataFrame => SDF, functions => F}
import graft.TestTables.t

/** Wave-8 driver queries (round 4): the training-corpus curation layer —
  * Gopher-style repetition signals, benchmark decontamination, stratified /
  * capped sampling, token-budget sequence packing, corpus TF-IDF, and int8
  * embedding quantization. Every score is built from exactly-rounded IEEE
  * arithmetic (divisions, sqrt, floor — no transcendentals), so the DuckDB
  * oracle reproduces the values bit-for-bit.
  */
object Queries8 {

  /** Gopher repetition signals on documents: duplicate-word fraction plus
    * corpus-exploded 2-gram top/duplicate char coverage
    * ([[graft.ml.QualityFilters.repetitionSignals]]). */
  private def qGopherRep(s: SparkSession, dir: String): SDF = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    graft.ml.QualityFilters.repetitionSignals(docs, "text", "doc_id", n = 2)
      .withColumn("dup_word_frac",
        graft.ml.QualityFilters.duplicateWordFraction(F.col("text")))
      .select(F.col("doc_id"), F.col("dup_word_frac"),
        F.col("top_ngram_char_fraction").as("top2_frac"),
        F.col("dup_ngram_char_fraction").as("dup2_frac"))
      .orderBy("doc_id")
  }

  /** Benchmark contamination: docs with doc_id % 17 == 0 act as the held-out
    * benchmark; every other doc is scored by distinct word-3-gram overlap
    * ([[graft.ml.Contamination.ngramOverlap]]). */
  private def qContamination(s: SparkSession, dir: String): SDF = {
    val docs = t(s, dir, "documents")
    val bench = docs.filter(F.col("doc_id") % 17 === 0)
    val train = docs.filter(F.col("doc_id") % 17 =!= 0)
    graft.ml.Contamination.ngramOverlap(train, bench, "text", "doc_id", n = 3)
      .orderBy("doc_id")
  }

  /** Exact stratified sample: first ceil(20%) of each language by doc_id
    * ([[graft.ml.Sampling.stratifiedExact]]). */
  private def qSampleBy(s: SparkSession, dir: String): SDF =
    graft.ml.Sampling.stratifiedExact(
        t(s, dir, "documents").select("doc_id", "lang"),
        "lang", 0.2, "doc_id")
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** Linear token packing at a 512-token budget
    * ([[graft.ml.Packing.linearPack]]): global window cumsum → bin id and
    * in-bin offset per document. */
  private def qPackBins(s: SparkSession, dir: String): SDF = {
    val docs = t(s, dir, "documents").select(F.col("doc_id"),
      graft.ml.TextAnalysis.tokenCount(F.col("text")).cast("long").as("ntok"))
    graft.ml.Packing.linearPack(docs, "ntok", "doc_id", budget = 512L)
      .select("doc_id", "ntok", "bin", "bin_offset")
      .orderBy("doc_id")
  }

  /** Top TF-IDF term per document ([[graft.ml.TextAnalysis.topTfidfTerm]]),
    * linear idf so the score is engine-exact. */
  private def qTfidf(s: SparkSession, dir: String): SDF =
    graft.ml.TextAnalysis.topTfidfTerm(
        t(s, dir, "documents").select("doc_id", "text"), "text", "doc_id")
      .orderBy("doc_id")

  /** Int8 embedding quantization ([[graft.ml.Similarity.quantizeInt8]]):
    * per-vector scale, integer norm of the codes, and the quantized cosine
    * against the next vector ([[graft.ml.Similarity.cosineQuantized]] —
    * scales cancel, integer dot products). */
  private def qEmbedQuant(s: SparkSession, dir: String): SDF = {
    val e = t(s, dir, "embeddings").select(F.col("vec_id"),
      graft.ml.Similarity.quantizeInt8(F.col("embedding")).as("q"))
    val nxt = e.select((F.col("vec_id") - 1).as("vec_id"), F.col("q").as("qn"))
    e.join(nxt, Seq("vec_id"))
      .select(F.col("vec_id"),
        F.col("q.scale").as("scale"),
        F.aggregate(F.col("q.codes"), F.lit(0L),
          (acc, c) => acc + (c * c).cast("long")).as("qnorm2"),
        graft.ml.Similarity.cosineQuantized(F.col("q"), F.col("qn")).as("cos_next"))
      .orderBy("vec_id")
  }

  /** Per-language corpus report ([[graft.ml.TextAnalysis.corpusReport]]). */
  private def qCorpusReport(s: SparkSession, dir: String): SDF =
    graft.ml.TextAnalysis.corpusReport(t(s, dir, "documents"), "text", "lang")
      .orderBy("lang")

  /** One-call MinHash near-dedup ([[graft.ml.Dedup.nearDedupMinhash]]) on a
    * corpus with synthetic near-dups: every doc with doc_id % 10 == 1 also
    * appears with one word changed (id + 100000). The pipeline must drop the
    * injected copies (cluster to the smaller original id) and keep everything
    * else; the oracle recomputes the expected survivor set directly. */
  private def qDedupPipeline(s: SparkSession, dir: String): SDF = {
    // doc_id < 300 slice keeps the oracle's exact all-pairs rebuild cheap;
    // measured: every true pair in the slice has jaccard >= 0.84 (injected
    // copies) or >= 0.96 (natural dups), nothing in (0.5, 0.84) — so LSH
    // recall at threshold 0.6 is deterministic-complete and the SQL oracle
    // can recompute the exact survivor set
    val docs = t(s, dir, "documents").select("doc_id", "text")
      .filter(F.col("doc_id") < 300)
    val copies = docs.filter(F.col("doc_id") % 10 === 1)
      .select((F.col("doc_id") + 100000).as("doc_id"),
        F.regexp_replace(F.col("text"), "^\\S+", "changed").as("text"))
    val corpus = docs.unionAll(copies)
    graft.ml.Dedup.nearDedupMinhash(corpus, "text", "doc_id", threshold = 0.6)
      .select("doc_id").orderBy("doc_id")
  }

  /** Exact-substring duplicate spans (chunk-hash formulation of Lee et al.
    * 2022): injected prefix-modified copies guarantee cross-document window
    * hits beyond the corpus's natural dups. The chunk table (xxhash64-
    * dependent) is staged so the DuckDB oracle re-derives the duplicated
    * spans from identical rows — the LSH staging pattern. */
  private def qDupSpans(s: SparkSession, dir: String): SDF = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
      .filter(F.col("doc_id") < 500)
    val copies = docs.filter(F.col("doc_id") % 7 === 2)
      .select((F.col("doc_id") + 200000).as("doc_id"),
        F.regexp_replace(F.col("text"), "^\\S+", "prefixed").as("text"))
    val chunks = QueryStage.stage(
      graft.ml.Dedup.spanChunks(docs.unionAll(copies), "text", "doc_id",
        windowTokens = 30, anchorStride = 10), dir, "span_chunks")
    graft.ml.Dedup.duplicateSpansFromChunks(chunks, "doc_id")
      .orderBy("doc_id", "start_token")
  }

  def queries: Map[String, (SparkSession, String) => SDF] = Map(
    "q_dup_spans" -> (qDupSpans _),
    "q_gopher_rep" -> (qGopherRep _),
    "q_contamination" -> (qContamination _),
    "q_sample_by" -> (qSampleBy _),
    "q_pack_bins" -> (qPackBins _),
    "q_tfidf" -> (qTfidf _),
    "q_embed_quant" -> (qEmbedQuant _),
    "q_corpus_report" -> (qCorpusReport _),
    "q_dedup_pipeline" -> (qDedupPipeline _),
  )

  def oracleSql: Map[String, String] = Map(
    "q_dup_spans" ->
      """WITH c AS (SELECT * FROM '/tmp/graft_stage/sf0.01/span_chunks/*.parquet'),
        |d AS (SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs,
        |             count(*) AS n_occurrences
        |      FROM c GROUP BY 1 HAVING count(DISTINCT doc_id) > 1)
        |SELECT c.doc_id, c.start_token, c.chunk_hash, d.n_docs, d.n_occurrences
        |FROM c JOIN d USING (chunk_hash)
        |ORDER BY c.doc_id, c.start_token""".stripMargin,
    "q_gopher_rep" ->
      """WITH w AS (
        |  SELECT doc_id, length(text) AS chars,
        |    regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents
        |), e AS (
        |  SELECT doc_id, chars,
        |    unnest(list_transform(range(0, greatest(len(ws) - 1, 0)),
        |      i -> ws[i + 1] || ' ' || ws[i + 2])) AS gram
        |  FROM w
        |), c AS (
        |  SELECT doc_id, chars, gram, count(*) AS cnt FROM e GROUP BY ALL
        |), r AS (
        |  SELECT doc_id, chars, gram, cnt,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rk
        |  FROM c
        |), agg AS (
        |  SELECT doc_id,
        |    max(CASE WHEN rk = 1 THEN cnt * length(gram) END) AS topchars,
        |    sum(CASE WHEN cnt > 1 THEN cnt * length(gram) ELSE 0 END) AS dupchars,
        |    any_value(chars) AS chars
        |  FROM r GROUP BY doc_id
        |)
        |SELECT w.doc_id,
        |  CASE WHEN len(ws) = 0 THEN 0.0
        |       ELSE 1.0 - len(list_distinct(ws)) / CAST(len(ws) AS DOUBLE) END AS dup_word_frac,
        |  coalesce(CAST(topchars AS DOUBLE) / CAST(greatest(agg.chars, 1) AS DOUBLE), 0.0) AS top2_frac,
        |  coalesce(CAST(dupchars AS DOUBLE) / CAST(greatest(agg.chars, 1) AS DOUBLE), 0.0) AS dup2_frac
        |FROM w LEFT JOIN agg ON w.doc_id = agg.doc_id
        |ORDER BY w.doc_id""".stripMargin,
    "q_contamination" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(0, greatest(len(ws) - 2, 0)),
        |      i -> ws[i + 1] || ' ' || ws[i + 2] || ' ' || ws[i + 3]))) AS gram
        |  FROM w
        |), train AS (
        |  SELECT * FROM g WHERE doc_id % 17 <> 0
        |), bench AS (
        |  SELECT doc_id AS bid, gram FROM g WHERE doc_id % 17 = 0
        |), hits AS (
        |  SELECT t.doc_id, count(DISTINCT t.gram) AS n_overlap,
        |    count(DISTINCT b.bid) AS n_bench_docs
        |  FROM train t JOIN bench b ON t.gram = b.gram GROUP BY 1
        |), tot AS (
        |  SELECT doc_id, count(*) AS n_grams FROM train GROUP BY 1
        |)
        |SELECT tot.doc_id, n_grams,
        |  CAST(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap,
        |  CAST(coalesce(n_bench_docs, 0) AS BIGINT) AS n_bench_docs,
        |  CAST(coalesce(n_overlap, 0) AS DOUBLE) / CAST(n_grams AS DOUBLE) AS overlap_ratio
        |FROM tot LEFT JOIN hits ON tot.doc_id = hits.doc_id
        |ORDER BY tot.doc_id""".stripMargin,
    "q_sample_by" ->
      """WITH r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents
        |)
        |SELECT doc_id, lang FROM r WHERE rn <= ceil(n * 0.2)
        |ORDER BY doc_id""".stripMargin,
    "q_pack_bins" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS ntok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, ntok,
        |    coalesce(sum(ntok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM t
        |)
        |SELECT doc_id, ntok,
        |  CAST(floor(off / 512) AS BIGINT) AS bin,
        |  CAST(off % 512 AS BIGINT) AS bin_offset
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS cnt FROM tok
        |  WHERE term <> '' GROUP BY ALL
        |), dl AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(lower(trim(text)), '\s+')) AS ntok
        |  FROM documents
        |), dfq AS (
        |  SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1
        |), n AS (SELECT count(*) AS nn FROM documents
        |), s AS (
        |  SELECT tf.doc_id, tf.term,
        |    (CAST(cnt AS DOUBLE) / CAST(ntok AS DOUBLE))
        |      * (CAST(nn AS DOUBLE) / CAST(doc_freq AS DOUBLE)) AS score
        |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
        |  JOIN dfq ON tf.term = dfq.term CROSS JOIN n
        |), r AS (
        |  SELECT doc_id, term, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term DESC) AS rk
        |  FROM s
        |)
        |SELECT doc_id, term AS top_term, score AS top_tfidf
        |FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    "q_corpus_report" ->
      """WITH t AS (
        |  SELECT lang, length(text) AS chars,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS ntok
        |  FROM documents
        |)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |  CAST(sum(chars) AS BIGINT) AS n_chars,
        |  CAST(sum(ntok) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_tokens,
        |  CAST(min(chars) AS INTEGER) AS min_chars,
        |  CAST(max(chars) AS INTEGER) AS max_chars
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    // exact rebuild of the near-dedup pipeline on the slice: all-pairs
    // jaccard edges at the threshold, transitive closure via recursive CTE,
    // survivor = smallest id of each component
    "q_dedup_pipeline" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 300
        |  UNION ALL
        |  SELECT doc_id + 100000, regexp_replace(text, '^\S+', 'changed')
        |  FROM documents WHERE doc_id < 300 AND doc_id % 10 = 1
        |), n AS (
        |  SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM corpus
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(0, greatest(length(t) - 5, 0) + 1),
        |    i -> substr(t, CAST(i + 1 AS INT), 5))) AS s
        |  FROM n
        |), e AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.s, b.s))
        |        >= 0.6 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
        |), es AS (
        |  SELECT x, y FROM e UNION SELECT y, x FROM e
        |), r(src, dst) AS (
        |  SELECT doc_id, doc_id FROM corpus
        |  UNION
        |  SELECT r.src, es.y FROM r JOIN es ON es.x = r.dst
        |)
        |SELECT src AS doc_id FROM r GROUP BY src HAVING min(dst) = src
        |ORDER BY doc_id""".stripMargin,
    "q_embed_quant" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    CASE WHEN m = 0.0 THEN 1.0 ELSE 127.0 / m END AS scale,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE)
        |        * (CASE WHEN m = 0.0 THEN 1.0 ELSE 127.0 / m END) + 0.5) AS BIGINT)) AS codes
        |  FROM (
        |    SELECT vec_id, embedding,
        |      list_aggregate(list_transform(embedding,
        |        x -> abs(CAST(x AS DOUBLE))), 'max') AS m
        |    FROM embeddings
        |  )
        |)
        |SELECT a.vec_id, a.scale,
        |  CAST(list_sum(list_transform(a.codes, c -> c * c)) AS BIGINT) AS qnorm2,
        |  CAST(list_sum(list_transform(range(1, len(a.codes) + 1),
        |      i -> a.codes[i] * b.codes[i])) AS DOUBLE)
        |    / (sqrt(CAST(list_sum(list_transform(a.codes, c -> c * c)) AS DOUBLE))
        |       * sqrt(CAST(list_sum(list_transform(b.codes, c -> c * c)) AS DOUBLE))) AS cos_next
        |FROM q a JOIN q b ON b.vec_id = a.vec_id + 1
        |ORDER BY a.vec_id""".stripMargin,
  )
}
