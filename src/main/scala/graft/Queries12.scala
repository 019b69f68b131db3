package graft

import org.apache.spark.sql.{SparkSession, DataFrame => SDF, functions => F}
import graft.ml.Retrieval
import graft.TestTables.t

/** Wave-12 driver queries (round 9 tail): sparse retrieval — BM25 scoring
  * of a query set against the document corpus via the inverted-probe shape
  * ([[graft.ml.Retrieval]]). The one transcendental (ln in idf) is rounded
  * to 6 dp before ranking AND in the output, per the exact-hash oracle
  * discipline. */
object Queries12 {

  /** The four fixed retrieval queries drawn from the corpus vocabulary —
    * shared by every BM25-family gate query. */
  private def retrievalQueries(s: SparkSession): SDF = {
    import s.implicits._
    Seq(
      (0, "hash join table"), (1, "window agg spark"),
      (2, "slow filter query"), (3, "merge sort fast"))
      .toDF("query_id", "qtext")
  }

  /** Unigram BM25 scores for [[retrievalQueries]], STAGED per call:
    * q_bm25 and q_hard_negatives both rank from these rows. Both oracles
    * recompute BM25 from the raw documents in DuckDB. */
  private def stagedBm25Scores(s: SparkSession, dir: String): SDF =
    QueryStage.stage(
      Retrieval.bm25Scores(t(s, dir, "documents"), "text", "doc_id",
        retrievalQueries(s), "query_id", "qtext"), dir, "bm25_scores_uni")

  /** BM25 top-10 per query over `documents` for four fixed queries drawn
    * from the corpus vocabulary. Rank key = round(score, 6) desc, doc_id
    * asc — reproducible across engines; output score rounded the same. */
  private def qBm25(s: SparkSession, dir: String): SDF = {
    val scores = stagedBm25Scores(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(F.col("query_id"))
      .orderBy(F.round(F.col("score"), 6).desc, F.col("doc_id"))
    scores.withColumn("rank", F.row_number().over(w))
      .filter(F.col("rank") <= 10)
      .select(F.col("query_id"), F.col("doc_id"),
        F.round(F.col("score"), 6).as("score"), F.col("matched"),
        F.col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** Damped PageRank ([[graft.ml.Graph.pageRank]], 3 iterations, d=0.85)
    * over a deterministic directed graph derived from events (user_id →
    * event_id % 150 — the destination space only partly overlaps the user
    * space, so the dangling-mass path is exercised). The oracle unrolls the
    * same three power iterations in chained CTEs; the damping constants are
    * spelled `1.0 - CAST(0.85 AS DOUBLE)` on both sides so the literals are
    * bit-identical, and the output rounds to 6 dp per the transcendental/
    * sum-order discipline. */
  private def qPagerank(s: SparkSession, dir: String): SDF = {
    val e = t(s, dir, "events")
      .select(F.col("user_id").as("src"), (F.col("event_id") % 150).as("dst"))
    graft.ml.Graph.pageRank(e, "src", "dst", iterations = 3, damping = 0.85)
      .select(F.col("node"), F.round(F.col("rank"), 6).as("rank"))
      .orderBy("node")
  }

  /** BPE vocabulary induction ([[graft.ml.Bpe.learnMerges]], 4 merges) over
    * the documents corpus. All-integer counting with lexicographic pair
    * tiebreak — the oracle unrolls the same four iterations (pair-count →
    * argmax → greedy replace) and must reproduce every chosen merge AND its
    * exact corpus pair count. */
  private def qBpeMerges(s: SparkSession, dir: String): SDF = {
    val docs = t(s, dir, "documents")
    graft.ml.Bpe.learnMerges(docs, "text", numMerges = 4)._1
      .orderBy("rank")
  }

  /** Unicode-canonical text normalization ([[graft.ml.TextAnalysis
    * .normalizeText]] over the native codegen [[graft.ext.UnicodeNorm]]).
    * The corpus is ASCII, so the query first INJECTS decomposed accents
    * (every 'a' becomes 'a' + U+0301 combining acute) — NFC must compose
    * them back to 'á' — then lowercases and collapses whitespace; the
    * oracle re-runs the identical composition through DuckDB's own
    * nfc_normalize and compares char counts + md5 digests byte-for-byte. */
  private def qNormalizeText(s: SparkSession, dir: String): SDF = {
    val docs = t(s, dir, "documents")
    val accented = F.call_function("replace",
      F.col("text"), F.lit("a"), F.lit("a\u0301"))
    val norm = graft.ml.TextAnalysis.normalizeText(accented, form = "NFC")
    docs.select(F.col("doc_id"),
        F.length(norm).cast("long").as("n_chars_norm"),
        F.md5(norm).as("digest"))
      .orderBy("doc_id")
  }

  /** Within-document paragraph dedup ([[graft.ml.Dedup.dedupParagraphsCol]]
    * — zero-shuffle higher-order-function column). The corpus has no
    * paragraph breaks, so the query synthesizes a duplicated layout
    * (text ++ text ++ first-60-chars) per document; dedup must keep exactly
    * the first occurrence of each paragraph, verified by paragraph counts
    * and an md5 digest against DuckDB's list_filter/list_position mirror. */
  private def qDedupParas(s: SparkSession, dir: String): SDF = {
    val docs = t(s, dir, "documents")
    val sep = "\n\n"
    // F.concat (not concat_ws): null text must propagate to a null synth
    // row exactly like the oracle's `||`, never collapse to ""
    val synth = F.concat(F.col("text"), F.lit(sep), F.col("text"), F.lit(sep),
      F.substring(F.col("text"), 1, 60), F.lit(sep), F.col("text"))
    val deduped = graft.ml.Dedup.dedupParagraphsCol(synth, sep)
    docs.select(F.col("doc_id"),
        F.size(F.split(synth, "\n\n")).cast("long").as("paras_in"),
        F.size(F.split(deduped, "\n\n")).cast("long").as("paras_out"),
        F.md5(deduped).as("digest"))
      .orderBy("doc_id")
  }

  /** BPE ENCODE at corpus scale: learn 4 merges, STAGE the merge table,
    * re-encode the word-frequency table with [[graft.ml.Bpe.encode]] (the
    * rank-ordered replace chain), and report the corpus compression — token
    * counts per word and the corpus total. The oracle reads the staged
    * merges and applies the identical four replace steps (scalar
    * subqueries per rank), so the encode path itself is hash-checked, not
    * just the learning loop. All-integer output. */
  private def qBpeEncode(s: SparkSession, dir: String): SDF = {
    val docs = t(s, dir, "documents")
    val (mergesDf, _) = graft.ml.Bpe.learnMerges(docs, "text", numMerges = 4)
    val ms = QueryStage.stage(mergesDf, dir, "bpe_merges").orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val words = graft.ml.Bpe.wordFreqs(docs, "text")
    val enc = graft.ml.Bpe.encode(words, "word", ms)
      .select(F.col("word"), F.col("freq"),
        F.size(F.split(F.col("sym"), " ")).cast("long").as("n_tokens"))
    val top = enc.orderBy(F.col("freq").desc, F.col("word")).limit(15)
    val total = enc.agg(
      F.lit("__TOTAL__").as("word"),
      F.sum(F.col("freq")).as("freq"),
      F.sum(F.col("freq") * F.col("n_tokens")).as("n_tokens"))
    top.unionAll(total).orderBy(F.col("word"))
  }

  /** Hard-negative mining ([[graft.ml.Retrieval.hardNegatives]]): top-5
    * BM25 candidates per query after removing a deterministic positive
    * label set (doc_id ≡ 3·query_id mod 200). Same rounding/tiebreak
    * discipline as q_bm25; the oracle adds the NOT EXISTS anti-join before
    * re-ranking. */
  private def qHardNegatives(s: SparkSession, dir: String): SDF = {
    val docs = t(s, dir, "documents")
    val queries = retrievalQueries(s)
    val positives = docs.select(F.col("doc_id"))
      .crossJoin(queries.select(F.col("query_id")))
      .filter(F.col("doc_id") % 200 === F.col("query_id") * 3)
    // Rank from the SAME staged score rows q_bm25 ranks from — the scoring
    // pipeline is not re-run; this query's own work is the positive
    // anti-join plus the per-query top-k window.
    val scores = stagedBm25Scores(s, dir)
      .join(positives.select(F.col("query_id"), F.col("doc_id")),
        Seq("query_id", "doc_id"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(F.col("query_id"))
      .orderBy(F.round(F.col("score"), 6).desc, F.col("doc_id"))
    scores.withColumn("rank", F.row_number().over(w))
      .filter(F.col("rank") <= 5)
      .select(F.col("query_id"), F.col("doc_id"),
        F.round(F.col("score"), 6).as("score"), F.col("matched"),
        F.col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  def queries: Map[String, (SparkSession, String) => SDF] = Map(
    "q_bm25" -> (qBm25 _),
    "q_pagerank" -> (qPagerank _),
    "q_bpe_merges" -> (qBpeMerges _),
    "q_normalize_text" -> (qNormalizeText _),
    "q_dedup_paras" -> (qDedupParas _),
    "q_bpe_encode" -> (qBpeEncode _),
    "q_hard_negatives" -> (qHardNegatives _),
  )

  def oracleSql: Map[String, String] = Map(
    "q_bm25" ->
      """WITH q(query_id, qtext) AS (VALUES
        |    (0, 'hash join table'), (1, 'window agg spark'),
        |    (2, 'slow filter query'), (3, 'merge sort fast')),
        |qt AS (
        |  SELECT DISTINCT query_id,
        |    unnest(regexp_split_to_array(lower(trim(qtext)), '\s+')) AS term
        |  FROM q),
        |tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok
        |  WHERE term <> '' AND term IN (SELECT term FROM qt)
        |  GROUP BY ALL),
        |dfq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1),
        |dl AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> x <> '')) AS DOUBLE) AS dl
        |  FROM documents),
        |st AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    avg(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> x <> ''))) AS avgdl
        |  FROM documents),
        |s AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    sum(ln(1 + (n - doc_freq + 0.5) / (doc_freq + 0.5))
        |        * (CAST(tf AS DOUBLE) * 2.2)
        |        / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score,
        |    count(*) AS matched
        |  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (term)
        |  CROSS JOIN st JOIN qt USING (term)
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT query_id, doc_id, score, matched,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(score, 6) DESC, doc_id) AS rank
        |  FROM s)
        |SELECT query_id, doc_id, round(score, 6) AS score, matched, rank
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "q_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT user_id AS src, event_id % 150 AS dst
        |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
        |nodes AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |deg AS (SELECT src AS node, CAST(count(*) AS DOUBLE) AS deg
        |        FROM e GROUP BY 1),
        |b AS (SELECT n.node, d.deg FROM nodes n LEFT JOIN deg d USING (node)),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |r0 AS (SELECT node, deg, 1.0 / (SELECT n FROM nn) AS rank FROM b),
        |c1 AS (SELECT e.dst AS node, sum(r.rank / r.deg) AS inm
        |       FROM e JOIN r0 r ON e.src = r.node GROUP BY 1),
        |d1 AS (SELECT coalesce(sum(CASE WHEN deg IS NULL THEN rank END), 0.0) AS dm FROM r0),
        |r1 AS (SELECT b.node, b.deg,
        |    ((1.0 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn))
        |      + CAST(0.85 AS DOUBLE) * (coalesce(c1.inm, 0.0)
        |        + (SELECT dm FROM d1) / (SELECT n FROM nn)) AS rank
        |  FROM b LEFT JOIN c1 USING (node)),
        |c2 AS (SELECT e.dst AS node, sum(r.rank / r.deg) AS inm
        |       FROM e JOIN r1 r ON e.src = r.node GROUP BY 1),
        |d2 AS (SELECT coalesce(sum(CASE WHEN deg IS NULL THEN rank END), 0.0) AS dm FROM r1),
        |r2 AS (SELECT b.node, b.deg,
        |    ((1.0 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn))
        |      + CAST(0.85 AS DOUBLE) * (coalesce(c2.inm, 0.0)
        |        + (SELECT dm FROM d2) / (SELECT n FROM nn)) AS rank
        |  FROM b LEFT JOIN c2 USING (node)),
        |c3 AS (SELECT e.dst AS node, sum(r.rank / r.deg) AS inm
        |       FROM e JOIN r2 r ON e.src = r.node GROUP BY 1),
        |d3 AS (SELECT coalesce(sum(CASE WHEN deg IS NULL THEN rank END), 0.0) AS dm FROM r2),
        |r3 AS (SELECT b.node, b.deg,
        |    ((1.0 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn))
        |      + CAST(0.85 AS DOUBLE) * (coalesce(c3.inm, 0.0)
        |        + (SELECT dm FROM d3) / (SELECT n FROM nn)) AS rank
        |  FROM b LEFT JOIN c3 USING (node))
        |SELECT node, round(rank, 6) AS rank FROM r3 ORDER BY node""".stripMargin,
    "q_bpe_merges" ->
      """WITH wf AS (
        |  SELECT word, count(*) AS freq FROM (
        |    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
        |    FROM documents)
        |  WHERE word <> '' GROUP BY 1),
        |w0 AS (
        |  SELECT array_to_string(
        |    list_transform(range(1, length(word) + 1), j -> word[j]) || ['</w>'],
        |    ' ') AS sym, freq
        |  FROM wf),
        |p1 AS (
        |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(list_transform(range(1, len(l)), j -> l[j] || ' ' || l[j+1])) AS pair, freq
        |    FROM (SELECT str_split(sym, ' ') AS l, freq FROM w0))
        |  GROUP BY 1),
        |m1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
        |w1 AS (SELECT trim(replace(
        |    replace(' ' || replace(sym, ' ', '  ') || ' ',
        |            ' ' || replace((SELECT pair FROM m1), ' ', '  ') || ' ',
        |            ' ' || replace((SELECT pair FROM m1), ' ', '') || ' '),
        |    '  ', ' ')) AS sym, freq FROM w0),
        |p2 AS (
        |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(list_transform(range(1, len(l)), j -> l[j] || ' ' || l[j+1])) AS pair, freq
        |    FROM (SELECT str_split(sym, ' ') AS l, freq FROM w1))
        |  GROUP BY 1),
        |m2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
        |w2 AS (SELECT trim(replace(
        |    replace(' ' || replace(sym, ' ', '  ') || ' ',
        |            ' ' || replace((SELECT pair FROM m2), ' ', '  ') || ' ',
        |            ' ' || replace((SELECT pair FROM m2), ' ', '') || ' '),
        |    '  ', ' ')) AS sym, freq FROM w1),
        |p3 AS (
        |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(list_transform(range(1, len(l)), j -> l[j] || ' ' || l[j+1])) AS pair, freq
        |    FROM (SELECT str_split(sym, ' ') AS l, freq FROM w2))
        |  GROUP BY 1),
        |m3 AS (SELECT pair, cnt FROM p3 ORDER BY cnt DESC, pair LIMIT 1),
        |w3 AS (SELECT trim(replace(
        |    replace(' ' || replace(sym, ' ', '  ') || ' ',
        |            ' ' || replace((SELECT pair FROM m3), ' ', '  ') || ' ',
        |            ' ' || replace((SELECT pair FROM m3), ' ', '') || ' '),
        |    '  ', ' ')) AS sym, freq FROM w2),
        |p4 AS (
        |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(list_transform(range(1, len(l)), j -> l[j] || ' ' || l[j+1])) AS pair, freq
        |    FROM (SELECT str_split(sym, ' ') AS l, freq FROM w3))
        |  GROUP BY 1),
        |m4 AS (SELECT pair, cnt FROM p4 ORDER BY cnt DESC, pair LIMIT 1)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS rank, split_part(pair, ' ', 1) AS lhs,
        |         split_part(pair, ' ', 2) AS rhs, cnt AS pair_count FROM m1
        |  UNION ALL SELECT 2, split_part(pair, ' ', 1), split_part(pair, ' ', 2), cnt FROM m2
        |  UNION ALL SELECT 3, split_part(pair, ' ', 1), split_part(pair, ' ', 2), cnt FROM m3
        |  UNION ALL SELECT 4, split_part(pair, ' ', 1), split_part(pair, ' ', 2), cnt FROM m4)
        |ORDER BY rank""".stripMargin,
    "q_normalize_text" ->
      """SELECT doc_id, length(n) AS n_chars_norm, md5(n) AS digest FROM (
        |  SELECT doc_id,
        |    trim(regexp_replace(
        |      lower(nfc_normalize(replace(text, 'a', 'a' || chr(769)))),
        |      '\s+', ' ', 'g')) AS n
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q_dedup_paras" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    str_split(text || chr(10) || chr(10) || text || chr(10) || chr(10)
        |      || substr(text, 1, 60) || chr(10) || chr(10) || text,
        |      chr(10) || chr(10)) AS l
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, len(l) AS paras_in,
        |    list_filter(l, (x, i) -> list_position(l, x) = i) AS kept
        |  FROM d)
        |SELECT doc_id, paras_in, CAST(len(kept) AS BIGINT) AS paras_out,
        |  md5(array_to_string(kept, chr(10) || chr(10))) AS digest
        |FROM k ORDER BY doc_id""".stripMargin,
    "q_bpe_encode" ->
      """WITH m AS (SELECT * FROM '/tmp/graft_stage/sf0.01/bpe_merges/*.parquet'),
        |wf AS (
        |  SELECT word, count(*) AS freq FROM (
        |    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
        |    FROM documents)
        |  WHERE word <> '' GROUP BY 1),
        |w0 AS (
        |  SELECT word, freq, array_to_string(
        |    list_transform(range(1, length(word) + 1), j -> word[j]) || ['</w>'],
        |    ' ') AS sym
        |  FROM wf),
        |enc AS (
        |  SELECT word, freq, sym FROM w0),
        |e1 AS (SELECT word, freq, trim(replace(
        |  replace(' ' || replace(sym, ' ', '  ') || ' ',
        |    ' ' || (SELECT lhs FROM m WHERE rank=1) || '  ' || (SELECT rhs FROM m WHERE rank=1) || ' ',
        |    ' ' || (SELECT lhs FROM m WHERE rank=1) || (SELECT rhs FROM m WHERE rank=1) || ' '),
        |  '  ', ' ')) AS sym FROM enc),
        |e2 AS (SELECT word, freq, trim(replace(
        |  replace(' ' || replace(sym, ' ', '  ') || ' ',
        |    ' ' || (SELECT lhs FROM m WHERE rank=2) || '  ' || (SELECT rhs FROM m WHERE rank=2) || ' ',
        |    ' ' || (SELECT lhs FROM m WHERE rank=2) || (SELECT rhs FROM m WHERE rank=2) || ' '),
        |  '  ', ' ')) AS sym FROM e1),
        |e3 AS (SELECT word, freq, trim(replace(
        |  replace(' ' || replace(sym, ' ', '  ') || ' ',
        |    ' ' || (SELECT lhs FROM m WHERE rank=3) || '  ' || (SELECT rhs FROM m WHERE rank=3) || ' ',
        |    ' ' || (SELECT lhs FROM m WHERE rank=3) || (SELECT rhs FROM m WHERE rank=3) || ' '),
        |  '  ', ' ')) AS sym FROM e2),
        |e4 AS (SELECT word, freq, trim(replace(
        |  replace(' ' || replace(sym, ' ', '  ') || ' ',
        |    ' ' || (SELECT lhs FROM m WHERE rank=4) || '  ' || (SELECT rhs FROM m WHERE rank=4) || ' ',
        |    ' ' || (SELECT lhs FROM m WHERE rank=4) || (SELECT rhs FROM m WHERE rank=4) || ' '),
        |  '  ', ' ')) AS sym FROM e3),
        |f AS (SELECT word, freq, CAST(len(str_split(sym, ' ')) AS BIGINT) AS n_tokens FROM e4),
        |top AS (SELECT word, freq, n_tokens FROM f ORDER BY freq DESC, word LIMIT 15),
        |tot AS (SELECT '__TOTAL__' AS word, sum(freq) AS freq,
        |        CAST(sum(freq * n_tokens) AS BIGINT) AS n_tokens FROM f)
        |SELECT word, CAST(freq AS BIGINT) AS freq, n_tokens
        |FROM (SELECT * FROM top UNION ALL SELECT * FROM tot)
        |ORDER BY word""".stripMargin,
    "q_hard_negatives" ->
      """WITH q(query_id, qtext) AS (VALUES
        |    (0, 'hash join table'), (1, 'window agg spark'),
        |    (2, 'slow filter query'), (3, 'merge sort fast')),
        |qt AS (
        |  SELECT DISTINCT query_id,
        |    unnest(regexp_split_to_array(lower(trim(qtext)), '\s+')) AS term
        |  FROM q),
        |tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok
        |  WHERE term <> '' AND term IN (SELECT term FROM qt)
        |  GROUP BY ALL),
        |dfq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1),
        |dl AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> x <> '')) AS DOUBLE) AS dl
        |  FROM documents),
        |st AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    avg(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> x <> ''))) AS avgdl
        |  FROM documents),
        |s AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    sum(ln(1 + (n - doc_freq + 0.5) / (doc_freq + 0.5))
        |        * (CAST(tf AS DOUBLE) * 2.2)
        |        / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score,
        |    count(*) AS matched
        |  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (term)
        |  CROSS JOIN st JOIN qt USING (term)
        |  GROUP BY 1, 2),
        |neg AS (
        |  SELECT * FROM s WHERE NOT (doc_id % 200 = query_id * 3)),
        |r AS (
        |  SELECT query_id, doc_id, score, matched,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(score, 6) DESC, doc_id) AS rank
        |  FROM neg)
        |SELECT query_id, doc_id, round(score, 6) AS score, matched, rank
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
  )
}
