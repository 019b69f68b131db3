package graft.ml

import org.apache.spark.sql.{Column, DataFrame, functions => F}

/** BM25 retrieval over a document corpus (beyond-reference; the classic
  * sparse-retrieval half of a training-data / RAG pipeline).
  *
  * Scale shape: the query set is tiny and the corpus is huge, so retrieval
  * is an INVERTED PROBE — broadcast the distinct query-term set, filter the
  * exploded corpus token stream against it BEFORE any aggregation (the
  * filter rides into the same stage as the scan + explode, so no
  * vocabulary-sized tf table is ever built), then one hash aggregation on
  * (doc, term), a broadcast join of the per-term document frequencies
  * (≤ #query-terms rows) and the 1-row corpus stats, and a per-query top-k
  * window. Two shuffles total ((doc,term) agg + final top-k), both keyed on
  * data that survives a 100× corpus — nothing driver-sized, nothing
  * vocabulary-sized.
  */
object Retrieval {

  import TextAnalysis.tokens

  /** Adjacent-token n-grams as space-joined strings ("new york"), empty
    * tokens dropped first; texts shorter than n yield an empty list. n = 1
    * is the plain token stream. Used for phrase-aware BM25: bigram terms
    * score exact adjacency matches, which unigram bag-of-words cannot. */
  def ngramTerms(text: Column, n: Int): Column = {
    require(n >= 1, s"ngramTerms: n must be >= 1, got $n")
    val t = F.filter(tokens(text), x => x =!= "")
    if (n == 1) t
    else {
      // n−1 zips of progressively shifted copies: every child array
      // evaluates ONCE per row. The first spelling indexed `t` from inside
      // a transform lambda, which re-runs the tokenization per ELEMENT —
      // O(len²) per document, measured 4× the whole bigram query's cost.
      // zip_with null-pads the shorter side (concat_ws then drops the
      // null), so the trailing partial entries are cut by the final slice.
      val len = F.size(t)
      val full = (1 until n).foldLeft(t) { (acc, k) =>
        F.zip_with(acc, F.slice(t, F.lit(k + 1), F.greatest(len - k, F.lit(0))),
          (x, y) => F.concat_ws(" ", x, y))
      }
      F.when(len < n, F.array().cast("array<string>"))
        .otherwise(F.slice(full, F.lit(1), len - (n - 1)))
    }
  }

  /** [[ngramTerms]] restricted to n-grams whose FIRST token is in
    * `firstTokens` — the probe prefilter (optimization-guide §3.2 shape:
    * drop definitely-non-matching rows before they are built/shuffled).
    * When the n-gram stream feeds an equi-join against a known tiny term
    * set, masking at the first token skips the string construction AND the
    * explode volume for every non-candidate position. Exact by
    * construction: every n-gram whose first token is in the set survives
    * unchanged, so the downstream join sees identical rows — false
    * positives (candidate first token, non-matching tail) are dropped by
    * the join exactly as before. */
  def ngramCandidates(text: Column, n: Int, firstTokens: Seq[String]): Column = {
    require(n >= 2, s"ngramCandidates: n must be >= 2, got $n")
    val t = F.filter(tokens(text), x => x =!= "")
    val len = F.size(t)
    val first = F.zip_with(t, F.slice(t, F.lit(2), F.greatest(len - 1, F.lit(0))),
      (x, y) => F.when(x.isin(firstTokens: _*), F.concat_ws(" ", x, y)))
    // later zips must propagate the null mask (concat_ws would DROP a null
    // head and fabricate a shorter gram)
    val full = (2 until n).foldLeft(first) { (acc, k) =>
      F.zip_with(acc, F.slice(t, F.lit(k + 1), F.greatest(len - k, F.lit(0))),
        (x, y) => F.when(x.isNotNull, F.concat_ws(" ", x, y)))
    }
    F.filter(
      F.when(len < n, F.array().cast("array<string>"))
        .otherwise(F.slice(full, F.lit(1), len - (n - 1))),
      g => g.isNotNull)
  }

  /** Materialized positional inverted index: one posting row per (term,
    * doc) with term frequency and the sorted 0-based token positions — the
    * write-once index artifact that complements the query-time inverted
    * PROBE ([[bm25Scores]] filters the token stream by query terms instead
    * of materializing this). Scale shape: one posexplode + hash aggregation
    * shuffled on (term, doc); persist partitioned/bucketed BY TERM so a
    * query's postings are one partition-pruned read. Phrase queries verify
    * adjacency against `positions` without re-tokenizing documents. */
  def invertedIndex(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(F.col(idCol),
        F.posexplode(F.filter(tokens(F.col(textCol)), x => x =!= ""))
          .as(Seq("pos", "term")))
      .groupBy(F.col("term"), F.col(idCol))
      .agg(F.count(F.lit(1)).as("tf"),
        F.sort_array(F.collect_list(F.col("pos"))).as("positions"))

  /** Exact phrase search over a positional [[invertedIndex]]: returns one
    * row per (doc, start) where the phrase's tokens occupy consecutive
    * positions. The standard positional-postings adjacency walk — each
    * phrase term's postings are offset-shifted by its phrase position and a
    * start position surviving ALL terms is a match — touching only the
    * phrase's posting rows (index partitioned by term → partition-pruned
    * reads), never re-tokenizing documents. Duplicate phrase terms are
    * handled by counting DISTINCT phrase offsets per candidate start. */
  def phraseSearch(index: DataFrame, idCol: String, phrase: String): DataFrame = {
    val terms = phrase.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
    require(terms.nonEmpty, "phraseSearch: empty phrase")
    val shifted = terms.zipWithIndex.map { case (t, i) =>
      index.filter(F.col("term") === t)
        .select(F.col(idCol), F.explode(F.col("positions")).as("p"))
        .select(F.col(idCol), (F.col("p") - i).as("start"), F.lit(i).as("__off__"))
    }.reduce(_ unionAll _)
    shifted.groupBy(F.col(idCol), F.col("start"))
      .agg(F.countDistinct(F.col("__off__")).as("__hits__"))
      .filter(F.col("__hits__") === terms.length && F.col("start") >= 0)
      .select(F.col(idCol), F.col("start"))
  }

  /** Keyword-in-context snippets: each phrase occurrence from
    * [[phraseSearch]] re-joined with `context` tokens either side — the
    * human-inspection view for retrieval debugging and span-level audits.
    * One probe over the (staged) index + one join back to the documents;
    * the snippet slice is array arithmetic over the same tokenization the
    * index was built from, so offsets can never drift from the text. */
  def phraseSnippets(docs: DataFrame, textCol: String, idCol: String,
                     phrase: String, context: Int = 5,
                     index: Option[DataFrame] = None): DataFrame = {
    require(context >= 0, "phraseSnippets: context must be >= 0")
    val idx = index.getOrElse(invertedIndex(docs, textCol, idCol))
    val hits = phraseSearch(idx, idCol, phrase)
    val tl = phrase.toLowerCase.trim.split("\\s+").count(_.nonEmpty)
    val toks = docs.select(F.col(idCol),
      F.filter(tokens(F.col(textCol)), x => x =!= "").as("__ws__"))
    // 1-based slice: window begins max(start+1-context, 1) and runs to
    // start+tl+context (slice clamps at the array end)
    val sb = F.greatest(F.col("start") + 1 - context, F.lit(1))
    hits.join(toks, Seq(idCol))
      .select(F.col(idCol), F.col("start"),
        F.array_join(F.slice(F.col("__ws__"), sb,
          F.col("start") + (tl + context) + 1 - sb), " ").as("snippet"))
  }

  /** Per-(query, doc) BM25 scores for every document that shares at least
    * one term with the query. Okapi BM25 with the Lucene non-negative idf:
    * idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)); term weight
    * idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)). Query term
    * multiplicity is ignored (distinct query terms), the standard bag-of-
    * words form. `matched` counts the query terms present in the doc.
    *
    * ln is the one transcendental in the pipeline — scores are reproducible
    * across engines only to ~1 ulp; gate queries should round before
    * hashing (the rank itself is stable under a 6-dp round with an id
    * tiebreak).
    */
  def bm25Scores(docs: DataFrame, textCol: String, idCol: String,
                 queries: DataFrame, queryIdCol: String, queryTextCol: String,
                 k1: Double = 1.2, b: Double = 0.75, n: Int = 1): DataFrame = {
    val qterms = queries.select(F.col(queryIdCol),
        F.explode(ngramTerms(F.col(queryTextCol), n)).as("term"))
      .distinct()
    // inverted probe: corpus terms filtered to query terms pre-aggregation.
    // For phrase terms (n >= 2) the filter is additionally pushed INTO the
    // n-gram construction ([[ngramCandidates]]): only positions whose first
    // token can start a query phrase build a gram at all — the query set is
    // tiny by contract, so the distinct first tokens are a bounded driver
    // list (falls back to the full stream if a caller passes a big one)
    val corpusGrams =
      if (n >= 2) {
        // the collect itself is bounded, not just the mask decision: first
        // tokens are extracted and deduplicated IN SPARK and the fetch is
        // capped at 65 rows, so a large queries frame can never materialize
        // its full exploded gram stream on the driver (the cap used to be
        // checked only after collecting everything). 65 distinct rows back
        // means the 64-token budget is exceeded → full-stream fallback,
        // exactly the old decision. Tokenization stays Spark's own split so
        // the mask can never miss a gram the join would have matched;
        // sorted so the IN-list literal is deterministic across
        // partitionings.
        val firsts = queries
          .select(F.explode(ngramTerms(F.col(queryTextCol), n)).as("term"))
          .select(F.substring_index(F.col("term"), " ", 1).as("t"))
          .distinct().limit(65)
          .collect().iterator.map(_.getString(0)).toSeq.sorted
        if (firsts.nonEmpty && firsts.size <= 64)
          ngramCandidates(F.col(textCol), n, firsts)
        else ngramTerms(F.col(textCol), n)
      } else ngramTerms(F.col(textCol), n)
    val tok = docs.select(F.col(idCol),
        F.explode(corpusGrams).as("term"))
      .join(F.broadcast(qterms.select("term").distinct()), Seq("term"))
    val tf = tok.groupBy(F.col(idCol), F.col("term"))
      .agg(F.count(F.lit(1)).as("tf"))
    // df over the full corpus is exact on the filtered stream: every doc
    // containing a query term survives the probe join
    val dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).as("doc_freq"))
    // empty tokens are dropped first, so empty docs carry length 0 in dl
    // and avgdl, not 1; for n > 1 the document length is the n-gram count
    // — computed ARITHMETICALLY (tokens − (n−1), floored at 0) rather than
    // materializing the n-gram strings a second and third time for
    // dl/avgdl (measured ~2.5× of the bigram query's cost)
    val baseToks = F.size(F.filter(tokens(F.col(textCol)), t => t =!= ""))
    val nTok =
      if (n == 1) baseToks else F.greatest(baseToks - (n - 1), F.lit(0))
    val docLen = docs.select(F.col(idCol), nTok.cast("double").as("__dl__"))
    val stats = docs.agg(
      F.count(F.lit(1)).cast("double").as("__n__"),
      F.avg(nTok).as("__avgdl__"))
    val idf = F.log(F.lit(1.0) +
      (F.col("__n__") - F.col("doc_freq") + F.lit(0.5)) / (F.col("doc_freq") + F.lit(0.5)))
    val w = idf * (F.col("tf").cast("double") * F.lit(k1 + 1.0)) /
      (F.col("tf").cast("double") +
        F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("__dl__") / F.col("__avgdl__")))
    tf.join(docLen, Seq(idCol))
      .join(F.broadcast(dfreq), Seq("term"))
      .crossJoin(F.broadcast(stats))
      .join(F.broadcast(qterms), Seq("term"))
      .groupBy(F.col(queryIdCol), F.col(idCol))
      .agg(F.sum(w).as("score"), F.count(F.lit(1)).as("matched"))
  }

  /** Hard-negative mining for retrieval/embedding training: the top-k
    * highest-BM25 documents per query that are NOT labeled positives —
    * lexically confusable non-answers, the standard contrastive-training
    * negative set. Same scale shape as [[bm25Scores]] plus one anti-join
    * on (query, doc) and the per-query top-k window. */
  def hardNegatives(docs: DataFrame, textCol: String, idCol: String,
                    queries: DataFrame, queryIdCol: String, queryTextCol: String,
                    positives: DataFrame, k: Int = 10,
                    k1: Double = 1.2, b: Double = 0.75,
                    roundDp: Int = 6, n: Int = 1): DataFrame = {
    val scores = bm25Scores(docs, textCol, idCol, queries, queryIdCol, queryTextCol, k1, b, n)
      .join(positives.select(F.col(queryIdCol), F.col(idCol)),
        Seq(queryIdCol, idCol), "left_anti")
    val rankKey = if (roundDp >= 0) F.round(F.col("score"), roundDp) else F.col("score")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(F.col(queryIdCol)).orderBy(rankKey.desc, F.col(idCol))
    scores.withColumn("rank", F.row_number().over(w))
      .filter(F.col("rank") <= k)
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009): fuse N per-query
    * rankings into one list by score = Σ 1/(kConst + rank). The standard
    * hybrid-retrieval combiner (lexical + phrase, or sparse + dense) — rank
    * positions only, so mismatched score scales never need calibration,
    * and with integer ranks the arithmetic is engine-exact (no rounding:
    * each contribution is one IEEE division, and for two lists the single
    * addition is order-independent). `n_lists` counts the rankings that
    * retrieved the doc. Scale shape: one union + hash aggregation on
    * (query, doc) + the per-query top-k window — nothing rank-list-sized
    * on the driver. */
  def rrfFuse(rankings: Seq[DataFrame], queryIdCol: String, idCol: String,
              rankCol: String = "rank", kConst: Int = 60,
              k: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: need at least one ranking")
    val contrib = rankings.map(_.select(F.col(queryIdCol), F.col(idCol),
        (F.lit(1.0) / (F.lit(kConst.toDouble) + F.col(rankCol).cast("double")))
          .as("__c__")))
      .reduce(_ unionAll _)
    val scores = contrib.groupBy(F.col(queryIdCol), F.col(idCol))
      .agg(F.sum(F.col("__c__")).as("rrf_score"),
        F.count(F.lit(1)).as("n_lists"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(F.col(queryIdCol))
      .orderBy(F.col("rrf_score").desc, F.col(idCol))
    scores.withColumn("rank", F.row_number().over(w))
      .filter(F.col("rank") <= k)
  }

  /** Top-k documents per query by BM25. Ranking rounds the score to
    * `roundDp` decimals first (ties then broken by ascending doc id) so the
    * selected set is reproducible across engines despite the ln ulp; pass
    * roundDp < 0 to rank on the raw double. The returned `score` is raw. */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
               queries: DataFrame, queryIdCol: String, queryTextCol: String,
               k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
               roundDp: Int = 6, n: Int = 1): DataFrame = {
    val scores = bm25Scores(docs, textCol, idCol, queries, queryIdCol, queryTextCol, k1, b, n)
    val rankKey = if (roundDp >= 0) F.round(F.col("score"), roundDp) else F.col("score")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(F.col(queryIdCol)).orderBy(rankKey.desc, F.col(idCol))
    scores.withColumn("rank", F.row_number().over(w))
      .filter(F.col("rank") <= k)
  }
}
