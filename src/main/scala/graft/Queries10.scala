package graft

import org.apache.spark.sql.{SparkSession, DataFrame => SDF, functions => F}
import graft.TestTables.t

/** Wave-10 driver queries (round 9): oracle-checked IO ROUND TRIPS. The
  * CSV/NDJSON writers and readers were spec-only; here a table is written
  * through graft's own writer and re-read through graft's own reader, while
  * the DuckDB oracle parses the SAME staged files with its independent
  * CSV/JSON parser — both directions of the text-format surface are now
  * value-checked end to end (header handling, date parsing, numeric
  * inference, string escaping), not just round-tripped within one engine.
  * Staging goes through [[QueryStage]]: the oracle
  * SQL hardcodes the sf0.01 stage path the driver's Verify writes. */
object Queries10 {

  /** CSV round trip on `orders`: graft writeCsv → graft read_csv
    * (try_parse_dates exercises date inference; totals exercise double
    * inference) → aggregate. The oracle re-parses the staged part files
    * with DuckDB's own CSV reader. */
  private def qCsvRoundtrip(s: SparkSession, dir: String): SDF = {
    implicit val sp: SparkSession = s
    val path = QueryStage.stagePath(
      t(s, dir, "orders").select("o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority"),
      dir, "orders_csv", "csv")
    Polars.readCsv(path, tryParseDates = true).toSpark
      .groupBy("o_orderpriority")
      .agg(F.count(F.lit(1)).as("n"),
        F.min("o_orderdate").as("first_d"),
        graft.DecimalDiscipline.decSumCol(F.col("o_totalprice"), 2).as("total"))
      .orderBy("o_orderpriority")
  }

  /** NDJSON round trip on `documents` (multi-line text with quotes and
    * newlines must survive JSON escaping): graft writeNdjson → graft
    * read_ndjson → aggregate; oracle re-parses with DuckDB read_json. */
  private def qNdjsonRoundtrip(s: SparkSession, dir: String): SDF = {
    implicit val sp: SparkSession = s
    val path = QueryStage.stagePath(
      t(s, dir, "documents").select("doc_id", "lang", "text"),
      dir, "documents_json", "json")
    Polars.readNdjson(path).toSpark
      .groupBy("lang")
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.octet_length(F.col("text"))).as("bytes"),
        F.min("doc_id").as("first_id"))
      .orderBy("lang")
  }

  /** Overlapping token-window chunking ([[graft.ml.TextAnalysis.chunkDocuments]])
    * — 32-token chunks, 8-token overlap (multi-chunk at the corpus's ~54-token
    * median). The oracle rebuilds every chunk with DuckDB list slicing, so
    * boundary arithmetic AND chunk text are value-checked exactly. */
  private def qChunkDocs(s: SparkSession, dir: String): SDF =
    graft.ml.TextAnalysis.chunkDocuments(
      t(s, dir, "documents").select("doc_id", "text"),
      "text", "doc_id", chunkTokens = 32, overlapTokens = 8)
      .orderBy("doc_id", "chunk_idx")

  /** Streaming LSH near-dedup ([[graft.streaming.Streaming.nearDedupStream]])
    * over two arrival waves in ascending-id order (wave mtimes pinned so the
    * file source's batch order is deterministic). With arrival order = id
    * order, first-wins streaming semantics equal the batch rule "dropped iff
    * some smaller-id document shares an LSH band" — which the oracle
    * re-derives exactly from the staged band table. */
  private def qStreamingNearDedup(s: SparkSession, dir: String): SDF = {
    implicit val sp: SparkSession = s
    val docs = t(s, dir, "documents").select("doc_id", "text")
      .filter(F.col("doc_id") < 300)
    val copies = docs.filter(F.col("doc_id") % 10 === 1)
      .select((F.col("doc_id") + 100000).as("doc_id"),
        F.regexp_replace(F.col("text"), "^\\S+", "changed").as("text"))
    val corpus = docs.unionAll(copies)
    QueryStage.stagePath(
      graft.ml.Dedup.bandedSignatures(corpus, "text", "doc_id"), dir, "stream_bands", "parquet")
    // the whole workspace — wave inputs, checkpoint, band registry, output —
    // lives under one fresh stream root, so every call runs the full
    // two-wave drain
    val root = QueryStage.streamRoot("sneardedup")
    val inDir = root.toPath.resolve("in")
    java.nio.file.Files.createDirectories(inDir)
    def wave(n: Int, df: SDF): Unit = {
      val stagePath = root.toPath.resolve(s"w$n").toString
      df.coalesce(1).write.mode("overwrite").parquet(stagePath)
      val part = new java.io.File(stagePath).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dest = inDir.resolve(f"wave$n%04d.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      dest.toFile.setLastModified(1700000000000L + n * 60000L)
    }
    wave(1, corpus.filter(F.col("doc_id") < 150))
    wave(2, corpus.filter(F.col("doc_id") >= 150))
    val out = new java.io.File(root, "out").getAbsolutePath
    // narrow drain: each micro-batch is ~150 docs — per-batch band/collision
    // plans at the session's 32 shuffle partitions are pure task-scheduling
    // overhead (no state store here; the registry is a table)
    graft.streaming.Streaming.tunedDrain(4) {
      graft.streaming.Streaming.nearDedupStream(
        inDir.toString, corpus.schema, "text", "doc_id", out,
        new java.io.File(root, "reg").getAbsolutePath,
        new java.io.File(root, "cp").getAbsolutePath)
    }
    graft.io.Scan.parquet(s, out).select("doc_id").orderBy("doc_id")
  }

  /** Corpus bigram LM scoring ([[graft.ml.TextAnalysis.bigramLogProb]]):
    * the model tables (unigram/bigram counts, vocabulary size) come from
    * the same corpus being scored; the oracle rebuilds the identical model
    * in SQL. Rounded to 6 — log/avg ulp drift between engines. */
  private def qLmScore(s: SparkSession, dir: String): SDF =
    graft.ml.TextAnalysis.bigramLogProb(
      t(s, dir, "documents").select("doc_id", "text"), "text", "doc_id")
      .select(F.col("doc_id"), F.round(F.col("lm_score"), 6).as("lm_score"))
      .orderBy("doc_id")

  /** Temperature-scaled data mixing ([[graft.ml.Sampling.temperatureSample]],
    * alpha = 0.5): the per-doc hash ranks are staged so the oracle re-derives
    * the sqrt-weighted targets AND the exact kept set (rank-based selection —
    * counts exact, no threshold approximation). */
  private def qTemperatureSample(s: SparkSession, dir: String): SDF = {
    val staged = QueryStage.stage(
      t(s, dir, "documents").select(F.col("doc_id"), F.col("lang"),
        F.xxhash64(F.lit(42L), F.col("doc_id")).as("hv")), dir, "temp_sample")
    graft.ml.Sampling.temperatureSample(
      staged.select("doc_id", "lang"), "lang", "doc_id", targetRows = 300)
      .select("doc_id", "lang") // pin oracle column order (join reordered it)
      .orderBy("doc_id")
  }

  def queries: Map[String, (SparkSession, String) => SDF] = Map(
    "q_csv_roundtrip" -> (qCsvRoundtrip _),
    "q_ndjson_roundtrip" -> (qNdjsonRoundtrip _),
    "q_chunk_docs" -> (qChunkDocs _),
    "q_streaming_neardedup" -> (qStreamingNearDedup _),
    "q_lm_score" -> (qLmScore _),
    "q_temperature_sample" -> (qTemperatureSample _))

  def oracleSql: Map[String, String] = Map(
    "q_csv_roundtrip" ->
      """SELECT o_orderpriority, count(*) AS n, min(o_orderdate) AS first_d,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM read_csv('/tmp/graft_stage/sf0.01/orders_csv/*.csv', header=true)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_ndjson_roundtrip" ->
      """SELECT lang, count(*) AS n, sum(strlen(text))::BIGINT AS bytes,
        |min(doc_id) AS first_id
        |FROM read_json('/tmp/graft_stage/sf0.01/documents_json/*.json',
        |  format='newline_delimited')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_chunk_docs" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS tk
        |  FROM documents WHERE length(trim(text)) > 0),
        |sized AS (SELECT doc_id, tk, len(tk) AS n FROM toks),
        |idx AS (
        |  SELECT doc_id, tk, n,
        |    unnest(range(CASE WHEN n <= 32 THEN 1
        |      ELSE 1 + CAST(ceil((n - 32) / 24.0) AS BIGINT) END)) AS chunk_idx
        |  FROM sized)
        |SELECT doc_id, chunk_idx, chunk_idx * 24 AS start_token,
        |  least(32, n - chunk_idx * 24)::BIGINT AS n_tokens,
        |  array_to_string(tk[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ') AS chunk_text
        |FROM idx ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_streaming_neardedup" ->
      """WITH b AS (SELECT * FROM '/tmp/graft_stage/sf0.01/stream_bands/*.parquet')
        |SELECT DISTINCT a.doc_id FROM b a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM b x JOIN b y
        |    ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
        |  WHERE x.doc_id = a.doc_id AND y.doc_id < a.doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS tk
        |  FROM documents),
        |uni AS (SELECT w, count(*)::DOUBLE AS ca
        |  FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY 1),
        |voc AS (SELECT count(*)::DOUBLE AS v FROM uni),
        |dbg AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS bg, tk[i] AS w
        |  FROM toks, unnest(range(1, len(tk))) AS t(i)),
        |bic AS (SELECT bg, count(*)::DOUBLE AS cab FROM dbg GROUP BY 1),
        |sc AS (SELECT doc_id, avg(ln((cab + 1.0) / (ca + v))) AS s
        |  FROM dbg JOIN bic USING (bg) JOIN uni USING (w) CROSS JOIN voc
        |  GROUP BY doc_id)
        |SELECT d.doc_id, round(sc.s, 6) AS lm_score
        |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q_temperature_sample" ->
      """WITH st AS (SELECT * FROM '/tmp/graft_stage/sf0.01/temp_sample/*.parquet'),
        |cnt AS (SELECT lang, count(*) AS n, sqrt(count(*)::DOUBLE) AS wt
        |  FROM st GROUP BY 1),
        |tgt AS (SELECT lang, n,
        |  least(n, CAST(round(300.0 * wt / (SELECT sum(wt) FROM cnt), 0) AS BIGINT)) AS t
        |  FROM cnt),
        |ranked AS (SELECT st.doc_id, st.lang,
        |  row_number() OVER (PARTITION BY st.lang ORDER BY st.hv, st.doc_id) AS rn
        |  FROM st)
        |SELECT r.doc_id, r.lang FROM ranked r JOIN tgt USING (lang)
        |WHERE r.rn <= tgt.t ORDER BY r.doc_id""".stripMargin)
}
