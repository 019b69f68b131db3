package graft

import org.apache.spark.sql.{SparkSession, DataFrame => SDF, functions => F}
import graft.Polars.col
import graft.api.LazyFrame
import graft.ml.Similarity

/** Wave-13 driver queries (round 10): the last SURVEY §2 reference-surface
  * cell (rolling_corr / rolling_cov, reference ext/polars/src/lib.rs:575-576)
  * plus round-10 beyond-reference additions. */
object Queries13 {

  private def lf(s: SparkSession, dir: String, name: String): LazyFrame =
    LazyFrame(s.read.parquet(s"$dir/$name.parquet"))

  /** rolling_corr + rolling_cov over a 10-row trailing window in
    * (l_orderkey, l_linenumber) order. min_periods = window size, so the
    * first 9 rows are null in both engines. Rounded — corr to 6, cov to 4
    * (cov carries the price scale, ~1e4, and the E[xy]−E[x]E[y] spelling
    * loses ~2 digits to cancellation vs DuckDB's co-moment update). */
  private def qRollingCorr(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .sortBy(Seq(col("l_orderkey"), col("l_linenumber")))
      .select(col("l_orderkey"), col("l_linenumber"),
        Polars.rollingCorr(col("l_quantity"), col("l_extendedprice"),
          windowSize = 10, minPeriods = 10).alias("rc"),
        Polars.rollingCov(col("l_quantity"), col("l_extendedprice"),
          windowSize = 10, minPeriods = 10).alias("rcov"))
      .collect().toSpark
      .select(F.col("l_orderkey"), F.col("l_linenumber"),
        F.round(F.col("rc"), 6).as("rc"), F.round(F.col("rcov"), 4).as("rcov"))
      .orderBy("l_orderkey", "l_linenumber")

  private def t(s: SparkSession, dir: String, name: String): SDF =
    s.read.parquet(s"$dir/$name.parquet")

  /** Cross-document LONGEST-MATCH spans ([[graft.ml.Dedup.crossDocSpans]]):
    * maximal consecutive shared-window runs between document pairs — the
    * suffix-array-style substring-dedup extension of q_dup_spans. Injected
    * prefix-modified copies guarantee long runs; the stride-1 chunk table
    * is staged so the oracle re-derives pairs, diagonals and islands from
    * identical rows. */
  private def qCrossSpans(s: SparkSession, dir: String): SDF = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
      .filter(F.col("doc_id") < 500)
    val copies = docs.filter(F.col("doc_id") % 7 === 2)
      .select((F.col("doc_id") + 200000).as("doc_id"),
        F.regexp_replace(F.col("text"), "^\\S+", "prefixed").as("text"))
    val chunks = QueryStage.stage(
      graft.ml.Dedup.spanChunks(docs.unionAll(copies), "text", "doc_id",
        windowTokens = 20, anchorStride = 1), dir, "span_chunks1")
    graft.ml.Dedup.crossDocSpans(chunks, "doc_id", windowTokens = 20,
        minMatchTokens = 25, maxDocsPerHash = 64)
      .orderBy("id_a", "id_b", "start_a", "start_b")
  }

  /** Phrase-aware BM25 ([[graft.ml.Retrieval.bm25TopK]] with n = 2): the
    * same inverted-probe shape over adjacent-token BIGRAMS — exact
    * adjacency matches that unigram bag-of-words cannot express. Same
    * 6-dp round + id tiebreak discipline as q_bm25. */
  private def qBm25Bigram(s: SparkSession, dir: String): SDF = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val queries = Seq(
      (0, "hash value table"), (1, "window table key"),
      (2, "fast key scan"), (3, "query big table"))
      .toDF("query_id", "qtext")
    graft.ml.Retrieval.bm25TopK(docs, "text", "doc_id",
        queries, "query_id", "qtext", k = 10, n = 2)
      .select(F.col("query_id"), F.col("doc_id"),
        F.round(F.col("score"), 6).as("score"), F.col("matched"),
        F.col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** Two-stage ANN ([[graft.ml.Similarity.ivfPqReRank]]): PQ-ADC coarse
    * shortlist within the probed IVF cells, exact-cosine re-rank of the
    * survivors — the production recall/precision split exercising the
    * bucketed layout end to end. Model state and stage names are shared
    * with q_ivf_topk / q_pq_topk (Queries6): the constructions are
    * deterministic, so re-staging writes identical rows. */
  private def qIvfRerank(s: SparkSession, dir: String): SDF = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val cells = QueryStage.stage(
      Similarity.ivfAssign(emb, "embedding", nCells = 8)
        .select(F.col("vec_id"), F.col("cell_id"),
          F.col("embedding").cast("array<double>").as("embedding")), dir, "ivf_cells")
    val query =
      cells.filter(F.col("vec_id") === 1)
        .select("embedding").collect()(0).getSeq[Double](0)
    val centroids = Similarity.sampleCentroids(emb, "embedding", 8)
    val probeCells = Similarity.nearestCells(centroids.toSeq, query, 3)
    QueryStage.stagePath(probeCells.toDF("cell_id"), dir, "ivf_probes", "parquet")
    val codebooks = Similarity.pqTrain(emb, "embedding", m = 8, k = 16)
    val codes = QueryStage.stage(
      Similarity.pqEncode(emb, "embedding", "vec_id", codebooks), dir, "pq_codes")
    val qPq =
      emb.filter(F.col("vec_id") === 1)
        .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble).toSeq
    val lut = Similarity.pqLut(qPq, codebooks)
    val lutRows = for (j <- lut.indices; c <- lut(j).indices) yield (j + 1, c, lut(j)(c))
    QueryStage.stagePath(lutRows.toDF("j", "code", "sq"), dir, "pq_lut", "parquet")
    Similarity.ivfPqReRank(cells, codes, "vec_id", "embedding",
        probeCells, query, lut, shortlist = 50, k = 10)
      .select(F.col("vec_id"), F.round(F.col("cosine"), 6).as("cosine"),
        F.round(F.col("adc"), 6).as("adc"))
      .orderBy(F.col("cosine").desc, F.col("vec_id"))
  }

  /** Reciprocal-rank fusion ([[graft.ml.Retrieval.rrfFuse]]) of the unigram
    * and bigram BM25 rankings (top-20 each) — the hybrid-retrieval combiner.
    * The two subsystem rankings are STAGED inputs: in a hybrid-retrieval
    * deployment the fusion consumes rankings the retrieval stages already
    * produced, and each BM25 shape is independently value-gated by
    * q_bm25 / q_bm25_bigram. The oracle re-derives the fusion from the
    * identical staged rows, so this gate checks the RRF math end to end.
    * Integer ranks make the fused score engine-exact: one division per
    * list, one order-independent two-term addition — NO rounding anywhere
    * in this query's output. */
  private def qRrfFusion(s: SparkSession, dir: String): SDF = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val queries = Seq(
      (0, "hash join table"), (1, "window agg spark"),
      (2, "slow filter query"), (3, "merge sort fast"))
      .toDF("query_id", "qtext")
    val uni = QueryStage.stage(
      graft.ml.Retrieval.bm25TopK(docs, "text", "doc_id",
          queries, "query_id", "qtext", k = 20)
        .select(F.col("query_id"), F.col("doc_id"), F.col("rank")), dir, "rrf_uni")
    val bi = QueryStage.stage(
      graft.ml.Retrieval.bm25TopK(docs, "text", "doc_id",
          queries, "query_id", "qtext", k = 20, n = 2)
        .select(F.col("query_id"), F.col("doc_id"), F.col("rank")), dir, "rrf_bi")
    graft.ml.Retrieval.rrfFuse(Seq(uni, bi), "query_id", "doc_id", k = 10)
      .select(F.col("query_id"), F.col("doc_id"), F.col("rrf_score"),
        F.col("n_lists"), F.col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** Quality-keyed cluster dedup ([[graft.ml.Dedup.dedupByClustersKeepBest]]):
    * the q_dedup_cluster chain clusters, keeping the LONGEST document per
    * cluster (token count, ties smallest id) instead of the smallest id —
    * the keep-the-best-copy curation policy. All-integer oracle. */
  private def qDedupBest(s: SparkSession, dir: String): SDF = {
    val d = t(s, dir, "documents").select("doc_id", "lang", "text")
    val e = d.alias("x").join(d.alias("y"),
        F.col("x.doc_id") + 1 === F.col("y.doc_id") && F.col("x.lang") === F.col("y.lang"))
      .select(F.col("x.doc_id").as("id_a"), F.col("y.doc_id").as("id_b"))
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val kept =
      try graft.ml.Dedup.dedupByClustersKeepBest(d, "doc_id", e,
        graft.ml.TextAnalysis.tokenCount(F.col("text")))
      finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    kept.select(F.col("doc_id"), F.col("lang"),
        graft.ml.TextAnalysis.tokenCount(F.col("text")).cast("long").as("ntok"))
      .orderBy("doc_id")
  }

  /** Span REMOVAL ([[graft.ml.Dedup.removeCrossDocSpansFromChunks]]): the
    * q_cross_spans corpus with every cross-document duplicated run erased
    * from the higher-id copy — verified by md5 of the cleaned (normalized)
    * text plus before/removed token counts. Shares the staged stride-1
    * chunk table with q_cross_spans; the oracle re-derives spans, covered
    * positions and the surviving token sequence from identical rows. */
  private def qSpanRemoval(s: SparkSession, dir: String): SDF = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
      .filter(F.col("doc_id") < 500)
    val copies = docs.filter(F.col("doc_id") % 7 === 2)
      .select((F.col("doc_id") + 200000).as("doc_id"),
        F.regexp_replace(F.col("text"), "^\\S+", "prefixed").as("text"))
    val corpus = docs.unionAll(copies)
    val chunks = QueryStage.stage(
      graft.ml.Dedup.spanChunks(corpus, "text", "doc_id",
        windowTokens = 20, anchorStride = 1), dir, "span_chunks1")
    graft.ml.Dedup.removeCrossDocSpansFromChunks(corpus, chunks, "text", "doc_id",
        windowTokens = 20, minMatchTokens = 25, maxDocsPerHash = 64)
      .select(F.col("doc_id"), F.md5(F.col("text_clean")).as("digest"),
        F.col("n_tokens"), F.col("n_removed"))
      .orderBy("doc_id")
  }

  /** Exact corpus heavy-hitters ([[graft.ml.TextAnalysis.topTerms]]):
    * top-100 terms by frequency, ties broken by term. One explode + hash
    * aggregate + TakeOrderedAndProject — the baseline the count-min
    * [[graft.ml.TextAnalysis.termSketch]] approximates at 100 TB. */
  private def qTopTerms(s: SparkSession, dir: String): SDF =
    graft.ml.TextAnalysis.topTerms(
      t(s, dir, "documents").select("text"), "text", k = 100)
      .orderBy(F.col("n").desc, F.col("term"))

  /** Deterministic 80/10/10 split ([[graft.ml.Sampling.hashSplit]]): the
    * per-document assignment is a pure md5-prefix compare, so the oracle
    * recomputes every row's split with no staged state and no
    * engine-specific hash. */
  private def qHashSplit(s: SparkSession, dir: String): SDF =
    graft.ml.Sampling.hashSplit(
      t(s, dir, "documents").select("doc_id"), "doc_id")
      .orderBy("doc_id")

  /** Positional inverted index ([[graft.ml.Retrieval.invertedIndex]]) over
    * the first 300 documents: every posting row (term, doc, tf, positions)
    * value-checked exactly — the oracle rebuilds the postings from the same
    * tokenization with list arithmetic. */
  private def qInvertedIndex(s: SparkSession, dir: String): SDF =
    graft.ml.Retrieval.invertedIndex(
      t(s, dir, "documents").filter(F.col("doc_id") < 300)
        .select("doc_id", "text"),
      "text", "doc_id")
      // gate discipline: explode the position list (q_agg_lists precedent) —
      // each (term, doc, tf, ordinal, position) row hashes exactly, with no
      // engine-divergent list-element arrow annotation in the compare
      .select(F.col("term"), F.col("doc_id"), F.col("tf"),
        F.posexplode(F.col("positions")).as(Seq("i", "p")))
      .select(F.col("term"), F.col("doc_id"), F.col("tf"),
        (F.col("i") + 1).cast("long").as("i"), F.col("p"))
      .orderBy("term", "doc_id", "i")

  /** Exact phrase search ([[graft.ml.Retrieval.phraseSearch]]): every
    * (doc, start) occurrence of the corpus's most frequent bigram, walked
    * over a STAGED positional index (the artifact q_inverted_index gates the
    * construction of). The phrase itself is derived from the corpus (top
    * bigram, count-desc/bigram-asc tiebreak) so the gate is non-empty at
    * any SF, and the oracle re-derives phrase AND occurrences from the
    * same tokenization. */
  /** Shared by q_phrase_search / q_phrase_snippets: the doc_id < 300 slice,
    * its most frequent bigram, and the staged positional index. ONE
    * definition: both oracles read the one "inv_index" stage, so two
    * drifting copies would overwrite each other's index. */
  private def phraseFixture(s: SparkSession, dir: String): (SDF, String, SDF) = {
    val docs = t(s, dir, "documents").filter(F.col("doc_id") < 300)
      .select("doc_id", "text")
    val top = docs.select(F.explode(
        graft.ml.Retrieval.ngramTerms(F.col("text"), 2)).as("bg"))
      .groupBy("bg").agg(F.count(F.lit(1)).as("n"))
      .orderBy(F.col("n").desc, F.col("bg")).limit(1)
      .collect()(0).getString(0)
    val idx = QueryStage.stage(
      graft.ml.Retrieval.invertedIndex(docs, "text", "doc_id"), dir, "inv_index")
    (docs, top, idx)
  }

  private def qPhraseSearch(s: SparkSession, dir: String): SDF = {
    val (_, top, idx) = phraseFixture(s, dir)
    graft.ml.Retrieval.phraseSearch(idx, "doc_id", top)
      .withColumn("phrase", F.lit(top))
      .orderBy("doc_id", "start")
  }

  /** drop_nulls vs drop_nans over a column carrying BOTH (value with nulls
    * injected every 7th id and NaNs every 11th): polars treats NaN as a
    * float VALUE — drop_nulls keeps NaN rows, drop_nans keeps null rows
    * (SURVEY §1.2; Spark's na.drop would conflate them, which is why
    * FrameOps spells both as explicit filters). One summary row per op
    * hashes the row count and the surviving null/NaN tallies. */
  private def qDropNullNan(s: SparkSession, dir: String): SDF = {
    val base = graft.api.DataFrame(
      t(s, dir, "events").select(F.col("event_id"), F.col("value")))
      .withColumns("v" -> Polars.when(Polars.col("event_id") % 7 === 0)
        .`then`(Polars.lit(null))
        .when(Polars.col("event_id") % 11 === 0)
        .`then`(Polars.lit(Double.NaN))
        .otherwise(Polars.col("value")))
    def summarize(tag: String, d: graft.api.DataFrame): SDF =
      d.toSpark.agg(
        F.lit(tag).as("op"),
        F.count(F.lit(1)).as("n"),
        F.count(F.col("v")).as("n_set"),
        F.sum(F.when(F.isnan(F.col("v")), 1L).otherwise(0L)).as("n_nan"))
    summarize("drop_nans", base.dropNans(Seq("v")))
      .unionAll(summarize("drop_nulls", base.dropNulls(Seq("v"))))
      .orderBy("op")
  }

  /** Streaming per-key quota ([[graft.streaming.Streaming.capPerKeyStream]]):
    * at most 5 events per user in event_id order, custom
    * flatMapGroupsWithState state (one long per key). Single input file →
    * one deterministic batch, so the kept set is exactly the first 5 per
    * user by event_id — which is the oracle's row_number predicate. Fresh
    * stream root per call, like the other streaming gates. */
  private def qStreamingCap(s: SparkSession, dir: String): SDF = {
    implicit val sp: SparkSession = s
    val schema = t(s, dir, "events").schema
    val root = QueryStage.streamRoot("scap")
    val in = graft.streaming.Streaming.linkedInput(root, dir, "events")
    val stream = graft.streaming.Streaming.scanParquetStream(in, schema)
      .transform(TestTables.normalizeEventsTs)
      .select("user_id", "event_id")
    val capped = graft.streaming.Streaming.capPerKeyStream(
      stream, "user_id", "event_id", cap = 5)
    graft.streaming.Streaming.tunedDrain(4) {
      // cap is closure-captured inside flatMapGroupsWithState — invisible to
      // the plan hash, so it rides in the salt: changing it re-drains
      graft.streaming.Streaming.drainToParquet(capped, root, mode = "append",
          salt = "cap=5")
        .orderBy("user_id", "event_id")
    }
  }

  /** Hive-partitioned layout + partition-pruned scan: documents written
    * once partitioned by lang (key=value directories), then a
    * lang-filtered aggregate whose scan carries the filter as a
    * PartitionFilter — only the matching directory is listed or read
    * (PlanSpec pins the plan shape; this gate pins the VALUES, including
    * the partition value's directory round-trip). The write-once layout
    * that makes per-language sweeps at 100 TB touch 1/Nth of the corpus. */
  private def qPartitionPrune(s: SparkSession, dir: String): SDF = {
    val path = QueryStage.stagePath(
      t(s, dir, "documents").select("doc_id", "lang", "text"),
      dir, "docs_by_lang", "parquet", partitionCols = Seq("lang"))
    s.read.parquet(path)
      .filter(F.col("lang") === "de")
      .groupBy("lang")
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.length(F.col("text")).cast("long")).as("chars"))
      .orderBy("lang")
  }

  /** Per-node triangle counts ([[graft.ml.Graph.triangleCount]]) over a
    * deterministic triangle-rich graph derived from customer keys (chain,
    * skip and doubling edges; the doubling edges arrive REVERSED so the
    * symmetrize/orient path is exercised). All-integer oracle: the same
    * orient → wedge → close derivation in SQL. */
  private def qTriangles(s: SparkSession, dir: String): SDF = {
    val c = t(s, dir, "customer").select(F.col("c_custkey").as("n"))
      .filter(F.col("n") <= 300)
    val edges = c.filter(F.col("n") < 300)
      .select(F.col("n").as("src"), (F.col("n") + 1).as("dst"))
      .unionAll(c.filter(F.col("n") < 299)
        .select(F.col("n").as("src"), (F.col("n") + 2).as("dst")))
      .unionAll(c.filter(F.col("n") * 2 <= 300)
        .select((F.col("n") * 2).as("src"), F.col("n").as("dst")))
    graft.ml.Graph.triangleCount(edges, "src", "dst").orderBy("node")
  }

  /** Windowed co-occurrence PMI ([[graft.ml.TextAnalysis.cooccurrencePmi]],
    * window 2, min pair count 5) over the first 400 documents — the
    * collocation-mining statistic. The oracle rebuilds pairs with list
    * slicing and mirrors the ln ratio operation for operation (6-dp round
    * before hashing, the transcendental discipline). */
  private def qPmi(s: SparkSession, dir: String): SDF =
    graft.ml.TextAnalysis.cooccurrencePmi(
      t(s, dir, "documents").filter(F.col("doc_id") < 400).select("text"),
      "text", window = 2, minCount = 5)
      .select(F.col("w1"), F.col("w2"), F.col("n_pair"),
        F.round(F.col("pmi"), 6).as("pmi"))
      .orderBy("w1", "w2")

  /** One-call batch curation ([[graft.ml.Pipeline.curateCorpus]]): the full
    * quality → exact-dedup → near-dedup → decontaminate chain over the
    * q_dedup_pipeline corpus (doc_id < 300 + injected near-copies, whose
    * measured Jaccard margin makes LSH recall deterministic-complete), with
    * an injected benchmark (docs ≡ 3 mod 97) for the contamination stage.
    * The gate hashes the per-stage audit counts; the oracle re-derives all
    * four stages in SQL — Gopher predicate, md5 keep-first, all-pairs
    * Jaccard + recursive closure, distinct-3-gram overlap ratio. */
  private def qCurateAudit(s: SparkSession, dir: String): SDF = {
    val docs0 = t(s, dir, "documents").select("doc_id", "text")
      .filter(F.col("doc_id") < 300)
    val copies = docs0.filter(F.col("doc_id") % 10 === 1)
      .select((F.col("doc_id") + 100000).as("doc_id"),
        F.regexp_replace(F.col("text"), "^\\S+", "changed").as("text"))
    // verbatim copies give the exact-dedup stage real drops (the %10
    // near-copies only exercise the LSH stage)
    val exactCopies = docs0.filter(F.col("doc_id") % 13 === 5)
      .select((F.col("doc_id") + 500000).as("doc_id"), F.col("text"))
    val corpus = docs0.unionAll(copies).unionAll(exactCopies)
    val bench = docs0.filter(F.col("doc_id") % 97 === 3)
    val res = graft.ml.Pipeline.curateCorpus(corpus, "text", "doc_id",
      benchmark = Some(bench), minWords = 20, nearDupThreshold = 0.6)
    graft.ml.Pipeline.auditFrame(s, res.audit).orderBy("stage_idx")
  }

  /** Edit-distance verification ([[graft.ml.Dedup.editSimilarity]]): raw
    * Levenshtein + normalized similarity between each doc ≡ 1 mod 10 and
    * its id-successor — a deterministic candidate-pair shape (never
    * all-pairs) spanning the similarity range. Both engines implement
    * classic unit-cost Levenshtein, so `lev` is exact; the similarity
    * mirrors the division and rounds to 6. */
  private def qEditVerify(s: SparkSession, dir: String): SDF = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
      .filter(F.col("doc_id") < 300)
    val norm = docs.select(F.col("doc_id"),
      graft.ml.Dedup.normalizeText(F.col("text")).as("t"))
    val pairs = norm.filter(F.col("doc_id") % 10 === 1).alias("a")
      .join(norm.alias("b"), F.col("b.doc_id") === F.col("a.doc_id") + 1)
      .select(F.col("a.doc_id").as("doc_id"),
        F.col("a.t").as("ta"), F.col("b.t").as("tb"))
    pairs.select(F.col("doc_id"),
        F.levenshtein(F.col("ta"), F.col("tb")).as("lev"),
        F.round(graft.ml.Dedup.editSimilarity(F.col("ta"), F.col("tb")), 6).as("sim"))
      .orderBy("doc_id")
  }

  /** KWIC snippets ([[graft.ml.Retrieval.phraseSnippets]]) for the corpus's
    * top bigram over the staged index — every occurrence's ±5-token window
    * string-checked exactly (the slice arithmetic and the hit offsets both
    * verified in one value). */
  private def qPhraseSnippets(s: SparkSession, dir: String): SDF = {
    val (docs, top, idx) = phraseFixture(s, dir)
    graft.ml.Retrieval.phraseSnippets(docs, "text", "doc_id", top,
        context = 5, index = Some(idx))
      .orderBy("doc_id", "start")
  }

  /** LSH tuning report ([[graft.ml.Dedup.lshQuality]]): band-candidate
    * precision and recall vs all-pairs exact Jaccard at 0.6 on a bounded
    * sample with injected near-copies. Bands are staged (deterministic
    * construction — restaging writes identical rows) so the oracle derives
    * the identical candidate set, and truth/hit counts and both ratios are
    * re-computed exactly in SQL. */
  private def qLshQuality(s: SparkSession, dir: String): SDF = {
    val docs0 = t(s, dir, "documents").select("doc_id", "text")
      .filter(F.col("doc_id") < 200)
    val copies = docs0.filter(F.col("doc_id") % 10 === 1)
      .select((F.col("doc_id") + 100000).as("doc_id"),
        F.regexp_replace(F.col("text"), "^\\S+", "changed").as("text"))
    val corpus = docs0.unionAll(copies)
    // the STAGED bands feed both the operator and the oracle: one
    // signature computation, and candidate parity by construction
    val staged = QueryStage.stage(
      graft.ml.Dedup.bandedSignatures(corpus, "text", "doc_id"), dir, "lshq_bands")
    graft.ml.Dedup.lshQuality(corpus, "text", "doc_id", threshold = 0.6,
      bandRows = Some(staged))
  }

  /** PCA projection ([[graft.ml.Pca]]): fit 4 components on the embeddings
    * corpus (one-pass partition-local covariance, driver Jacobi eigen), STAGE
    * the model (component weights + mean), and project every vector. The
    * oracle recomputes each projection from the staged matrix — dim-join,
    * (x - mean)·weight, 6-dp round per the sum-order discipline — so the
    * transform math is hash-checked end to end while the fit itself is
    * property-pinned in PcaSpec (orthonormality, variance ordering,
    * reconstruction). */
  private def qPcaProject(s: SparkSession, dir: String): SDF = {
    val emb = t(s, dir, "embeddings")
    val model = graft.ml.Pca.fit(emb, "embedding", k = 4)
    val (comps, means, vars) = graft.ml.Pca.modelFrames(s, model)
    QueryStage.stagePath(comps, dir, "pca_comps", "parquet")
    QueryStage.stagePath(means, dir, "pca_mean", "parquet")
    QueryStage.stagePath(vars, dir, "pca_var", "parquet")
    graft.ml.Pca.transform(emb, "embedding", model, "pca")
      .select(F.col("vec_id"), F.posexplode(F.col("pca")).as(Seq("component", "proj")))
      .select(F.col("vec_id"), F.col("component").cast("int").as("component"),
        F.round(F.col("proj"), 6).as("proj"))
      .orderBy("vec_id", "component")
  }

  def queries: Map[String, (SparkSession, String) => SDF] = Map(
    "q_lsh_quality" -> (qLshQuality _),
    "q_phrase_snippets" -> (qPhraseSnippets _),
    "q_edit_verify" -> (qEditVerify _),
    "q_curate_audit" -> (qCurateAudit _),
    "q_triangles" -> (qTriangles _),
    "q_pmi" -> (qPmi _),
    "q_partition_prune" -> (qPartitionPrune _),
    "q_streaming_cap" -> (qStreamingCap _),
    "q_phrase_search" -> (qPhraseSearch _),
    "q_hash_split" -> (qHashSplit _),
    "q_inverted_index" -> (qInvertedIndex _),
    "q_top_terms" -> (qTopTerms _),
    "q_rolling_corr" -> (qRollingCorr _),
    "q_cross_spans" -> (qCrossSpans _),
    "q_bm25_bigram" -> (qBm25Bigram _),
    "q_ivf_rerank" -> (qIvfRerank _),
    "q_pca_project" -> (qPcaProject _),
    "q_drop_null_nan" -> (qDropNullNan _),
    "q_rrf_fusion" -> (qRrfFusion _),
    "q_dedup_best" -> (qDedupBest _),
    "q_span_removal" -> (qSpanRemoval _))

  def oracleSql: Map[String, String] = Map(
    "q_drop_null_nan" ->
      """WITH b AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 7 = 0 THEN NULL
        |         WHEN event_id % 11 = 0 THEN CAST('NaN' AS DOUBLE)
        |         ELSE value END AS v
        |  FROM events
        |)
        |SELECT * FROM (
        |  SELECT 'drop_nans' AS op, count(*) AS n, count(v) AS n_set,
        |    CAST(coalesce(sum(CASE WHEN isnan(v) THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_nan
        |  FROM b WHERE v IS NULL OR NOT isnan(v)
        |  UNION ALL
        |  SELECT 'drop_nulls' AS op, count(*) AS n, count(v) AS n_set,
        |    CAST(coalesce(sum(CASE WHEN isnan(v) THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_nan
        |  FROM b WHERE v IS NOT NULL
        |) ORDER BY op""".stripMargin,
    "q_pca_project" ->
      """WITH comp AS (
        |  SELECT component, dim, weight
        |  FROM read_parquet('/tmp/graft_stage/sf0.01/pca_comps/*.parquet')
        |), mu AS (
        |  SELECT dim, mean FROM read_parquet('/tmp/graft_stage/sf0.01/pca_mean/*.parquet')
        |), e AS (
        |  SELECT vec_id,
        |    unnest(range(0, len(embedding))) AS dim,
        |    unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
        |  FROM embeddings
        |)
        |SELECT e.vec_id, CAST(comp.component AS INT) AS component,
        |  round(sum((e.x - mu.mean) * comp.weight), 6) AS proj
        |FROM e JOIN mu USING (dim) JOIN comp USING (dim)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_lsh_quality" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 200
        |  UNION ALL
        |  SELECT doc_id + 100000, regexp_replace(text, '^\S+', 'changed')
        |  FROM documents WHERE doc_id < 200 AND doc_id % 10 = 1
        |), n AS (
        |  SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t
        |  FROM corpus
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(0, greatest(length(t) - 5, 0) + 1),
        |    i -> substr(t, CAST(i + 1 AS INT), 5))) AS s
        |  FROM n
        |), truth AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / (len(a.s) + len(b.s)
        |           - CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)) >= 0.6
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM '/tmp/graft_stage/sf0.01/lshq_bands/*.parquet' a
        |  JOIN '/tmp/graft_stage/sf0.01/lshq_bands/*.parquet' b
        |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
        |   AND a.doc_id < b.doc_id
        |), hit AS (
        |  SELECT * FROM truth t
        |  WHERE EXISTS (SELECT 1 FROM cand c
        |                WHERE c.id_a = t.id_a AND c.id_b = t.id_b)
        |)
        |SELECT
        |  (SELECT count(*) FROM truth) AS n_true,
        |  (SELECT count(*) FROM cand) AS n_candidates,
        |  (SELECT count(*) FROM hit) AS n_hit,
        |  CASE WHEN (SELECT count(*) FROM cand) > 0 THEN
        |    CAST((SELECT count(*) FROM hit) AS DOUBLE)
        |      / CAST((SELECT count(*) FROM cand) AS DOUBLE) END AS precision,
        |  CASE WHEN (SELECT count(*) FROM truth) > 0 THEN
        |    CAST((SELECT count(*) FROM hit) AS DOUBLE)
        |      / CAST((SELECT count(*) FROM truth) AS DOUBLE) END AS recall""".stripMargin,
    "q_phrase_snippets" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS ws
        |  FROM documents WHERE doc_id < 300),
        |bgs AS (
        |  SELECT unnest(list_transform(range(0, greatest(len(ws) - 1, 0)),
        |    i -> ws[i + 1] || ' ' || ws[i + 2])) AS bg
        |  FROM d),
        |top1 AS (SELECT bg, count(*) AS n FROM bgs
        |         GROUP BY 1 ORDER BY n DESC, bg LIMIT 1),
        |w AS (SELECT string_split(bg, ' ')[1] AS w1,
        |             string_split(bg, ' ')[2] AS w2 FROM top1),
        |p0 AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(ws) + 1),
        |      i -> {'pos': CAST(i - 1 AS INTEGER), 'term': ws[i]})) AS s
        |  FROM d),
        |p AS (SELECT doc_id, s.pos AS pos, s.term AS term FROM p0),
        |hits AS (
        |  SELECT p1.doc_id, p1.pos AS start
        |  FROM p p1 JOIN p p2 ON p1.doc_id = p2.doc_id
        |    AND p2.pos = p1.pos + 1, w
        |  WHERE p1.term = w.w1 AND p2.term = w.w2)
        |SELECT hits.doc_id, start,
        |  array_to_string(list_slice(ws,
        |    greatest(start + 1 - 5, 1), start + 7), ' ') AS snippet
        |FROM hits JOIN d ON d.doc_id = hits.doc_id
        |ORDER BY hits.doc_id, start""".stripMargin,
    "q_edit_verify" ->
      """WITH n AS (
        |  SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t
        |  FROM documents WHERE doc_id < 300)
        |SELECT a.doc_id AS doc_id,
        |  CAST(levenshtein(a.t, b.t) AS INTEGER) AS lev,
        |  round(1.0 - CAST(levenshtein(a.t, b.t) AS DOUBLE)
        |    / greatest(greatest(length(a.t), length(b.t)), 1), 6) AS sim
        |FROM n a JOIN n b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id % 10 = 1
        |ORDER BY a.doc_id""".stripMargin,
    "q_curate_audit" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 300
        |  UNION ALL
        |  SELECT doc_id + 100000, regexp_replace(text, '^\S+', 'changed')
        |  FROM documents WHERE doc_id < 300 AND doc_id % 10 = 1
        |  UNION ALL
        |  SELECT doc_id + 500000, text
        |  FROM documents WHERE doc_id < 300 AND doc_id % 13 = 5
        |), feat AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nw,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS ws
        |  FROM corpus
        |), q AS (
        |  SELECT doc_id, text FROM feat
        |  WHERE nw BETWEEN 20 AND 100000
        |    AND (CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |         / greatest(nw, 1)) BETWEEN 3 AND 10
        |    AND (CAST(len(regexp_extract_all(text, '[#\.]{3,}|…')) AS DOUBLE)
        |         / greatest(nw, 1)) <= 0.1
        |    AND (CASE WHEN nw = 0 THEN 0.0
        |              ELSE 1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / nw
        |         END) <= 0.63
        |), e AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM q)
        |  WHERE rn = 1
        |), nn AS (
        |  SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM e
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(0, greatest(length(t) - 5, 0) + 1),
        |    i -> substr(t, CAST(i + 1 AS INT), 5))) AS s
        |  FROM nn
        |), pe AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / (len(a.s) + len(b.s)
        |           - CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)) >= 0.6
        |), es AS (SELECT x, y FROM pe UNION SELECT y, x FROM pe
        |), r(src, dst) AS (
        |  SELECT doc_id, doc_id FROM e
        |  UNION
        |  SELECT r.src, es.y FROM r JOIN es ON es.x = r.dst
        |), nd AS (
        |  SELECT src AS doc_id FROM r GROUP BY src HAVING min(dst) = src
        |), ndd AS (SELECT e.doc_id, e.text FROM e JOIN nd USING (doc_id)
        |), bench AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id < 300 AND doc_id % 97 = 3
        |), tw AS (
        |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS ws FROM ndd
        |), tg AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(0, greatest(len(ws) - 2, 0)),
        |      i -> ws[i + 1] || ' ' || ws[i + 2] || ' ' || ws[i + 3])) AS gram
        |  FROM tw
        |), bw AS (
        |  SELECT CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS ws FROM bench
        |), bg AS (
        |  SELECT DISTINCT unnest(list_transform(range(0, greatest(len(ws) - 2, 0)),
        |    i -> ws[i + 1] || ' ' || ws[i + 2] || ' ' || ws[i + 3])) AS gram
        |  FROM bw
        |), ov AS (
        |  SELECT tg.doc_id,
        |    count(*) AS n_grams,
        |    count(CASE WHEN bg.gram IS NOT NULL THEN 1 END) AS n_overlap
        |  FROM tg LEFT JOIN bg ON bg.gram = tg.gram
        |  GROUP BY 1
        |), flagged AS (
        |  SELECT doc_id FROM ov
        |  WHERE CAST(n_overlap AS DOUBLE) / CAST(n_grams AS DOUBLE) >= 0.5
        |), fin AS (
        |  SELECT ndd.doc_id FROM ndd LEFT JOIN flagged
        |    ON flagged.doc_id = ndd.doc_id
        |  WHERE flagged.doc_id IS NULL
        |)
        |SELECT stage_idx, stage, rows_in, rows_out FROM (
        |  SELECT 1 AS stage_idx, 'quality' AS stage,
        |    (SELECT count(*) FROM corpus) AS rows_in,
        |    (SELECT count(*) FROM q) AS rows_out
        |  UNION ALL SELECT 2, 'exact_dedup',
        |    (SELECT count(*) FROM q), (SELECT count(*) FROM e)
        |  UNION ALL SELECT 3, 'near_dedup',
        |    (SELECT count(*) FROM e), (SELECT count(*) FROM ndd)
        |  UNION ALL SELECT 4, 'decontaminate',
        |    (SELECT count(*) FROM ndd), (SELECT count(*) FROM fin)
        |) ORDER BY stage_idx""".stripMargin,
    "q_triangles" ->
      """WITH c AS (SELECT c_custkey AS n FROM customer WHERE c_custkey <= 300),
        |e0 AS (
        |  SELECT n AS src, n + 1 AS dst FROM c WHERE n < 300
        |  UNION ALL SELECT n, n + 2 FROM c WHERE n < 299
        |  UNION ALL SELECT 2 * n, n FROM c WHERE 2 * n <= 300),
        |o AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |      FROM e0 WHERE src <> dst),
        |w AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
        |      FROM o e1 JOIN o e2 ON e1.b = e2.a),
        |t AS (SELECT w.a, w.b, w.c FROM w
        |      WHERE EXISTS (SELECT 1 FROM o WHERE o.a = w.a AND o.b = w.c))
        |SELECT node, count(*) AS triangles FROM (
        |  SELECT unnest([a, b, c]) AS node FROM t)
        |GROUP BY node ORDER BY node""".stripMargin,
    "q_pmi" ->
      """WITH d AS (
        |  SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |    x -> x <> '') AS ws
        |  FROM documents WHERE doc_id < 400),
        |pr0 AS (
        |  SELECT unnest(flatten(list_transform(range(1, len(ws) + 1), i ->
        |    list_transform(list_slice(ws, i + 1, i + 2), w2 ->
        |      {'w1': least(ws[i], w2), 'w2': greatest(ws[i], w2)})))) AS p
        |  FROM d),
        |pr AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM pr0),
        |pc AS (SELECT w1, w2, count(*) AS n_pair FROM pr GROUP BY 1, 2),
        |tok AS (SELECT unnest(ws) AS w FROM d),
        |uc AS (SELECT w, count(*) AS cw FROM tok GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM tok) AS t,
        |               (SELECT CAST(count(*) AS DOUBLE) FROM pr) AS p)
        |SELECT w1, w2, n_pair,
        |  round(ln((n_pair / p) / ((ua.cw / t) * (ub.cw / t))), 6) AS pmi
        |FROM pc JOIN uc ua ON ua.w = pc.w1 JOIN uc ub ON ub.w = pc.w2, tot
        |WHERE n_pair >= 5 ORDER BY w1, w2""".stripMargin,
    "q_partition_prune" ->
      """SELECT lang, count(*) AS n,
        |  CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS chars
        |FROM documents WHERE lang = 'de' GROUP BY lang ORDER BY lang""".stripMargin,
    "q_streaming_cap" ->
      """SELECT user_id, event_id FROM (
        |  SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |  FROM events)
        |WHERE rn <= 5 ORDER BY user_id, event_id""".stripMargin,
    "q_phrase_search" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS ws
        |  FROM documents WHERE doc_id < 300),
        |bgs AS (
        |  SELECT unnest(list_transform(range(0, greatest(len(ws) - 1, 0)),
        |    i -> ws[i + 1] || ' ' || ws[i + 2])) AS bg
        |  FROM d),
        |top1 AS (SELECT bg, count(*) AS n FROM bgs
        |         GROUP BY 1 ORDER BY n DESC, bg LIMIT 1),
        |w AS (SELECT string_split(bg, ' ')[1] AS w1,
        |             string_split(bg, ' ')[2] AS w2, bg FROM top1),
        |p0 AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(ws) + 1),
        |      i -> {'pos': CAST(i - 1 AS INTEGER), 'term': ws[i]})) AS s
        |  FROM d),
        |p AS (SELECT doc_id, s.pos AS pos, s.term AS term FROM p0)
        |SELECT p1.doc_id, p1.pos AS start, w.bg AS phrase
        |FROM p p1 JOIN p p2 ON p1.doc_id = p2.doc_id
        |  AND p2.pos = p1.pos + 1, w
        |WHERE p1.term = w.w1 AND p2.term = w.w2
        |ORDER BY p1.doc_id, start""".stripMargin,
    "q_hash_split" ->
      """SELECT doc_id,
        |  CASE WHEN substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
        |         THEN 'train'
        |       WHEN substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_inverted_index" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS ws
        |  FROM documents WHERE doc_id < 300),
        |p AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(ws) + 1),
        |      i -> {'pos': CAST(i - 1 AS INTEGER), 'term': ws[i]})) AS s
        |  FROM d)
        |SELECT s.term AS term, doc_id,
        |  count(*) OVER (PARTITION BY s.term, doc_id) AS tf,
        |  CAST(row_number() OVER (PARTITION BY s.term, doc_id
        |    ORDER BY s.pos) AS BIGINT) AS i,
        |  s.pos AS p
        |FROM p ORDER BY term, doc_id, i""".stripMargin,
    "q_top_terms" ->
      """SELECT term, count(*) AS n FROM (
        |  SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'),
        |    x -> x <> '')) AS term
        |  FROM documents)
        |GROUP BY term ORDER BY n DESC, term LIMIT 100""".stripMargin,
    "q_rolling_corr" ->
      """SELECT l_orderkey, l_linenumber,
        |CASE WHEN count(*) OVER w >= 10
        |  THEN round(corr(l_quantity, l_extendedprice) OVER w, 6) END AS rc,
        |CASE WHEN count(*) OVER w >= 10
        |  THEN round(covar_samp(l_quantity, l_extendedprice) OVER w, 4) END AS rcov
        |FROM lineitem WINDOW w AS (ORDER BY l_orderkey, l_linenumber
        |  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_cross_spans" ->
      """WITH c AS (SELECT * FROM '/tmp/graft_stage/sf0.01/span_chunks1/*.parquet'),
        |f AS (SELECT chunk_hash FROM c GROUP BY 1
        |      HAVING count(DISTINCT doc_id) > 1 AND count(DISTINCT doc_id) <= 64),
        |m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |             a.start_token AS sa, b.start_token AS sb
        |      FROM c a JOIN f USING (chunk_hash)
        |      JOIN c b ON a.chunk_hash = b.chunk_hash AND a.doc_id < b.doc_id),
        |i AS (SELECT id_a, id_b, sa, sb, sa - sb AS diag,
        |        sa - row_number() OVER (
        |          PARTITION BY id_a, id_b, sa - sb ORDER BY sa) AS isl
        |      FROM m)
        |SELECT id_a, id_b, min(sa) AS start_a, min(sb) AS start_b,
        |  count(*) AS n_windows,
        |  count(*) - 1 + 20 AS match_tokens
        |FROM i GROUP BY id_a, id_b, diag, isl
        |HAVING count(*) - 1 + 20 >= 25
        |ORDER BY id_a, id_b, start_a, start_b""".stripMargin,
    "q_bm25_bigram" ->
      """WITH q(query_id, qtext) AS (VALUES
        |    (0, 'hash value table'), (1, 'window table key'),
        |    (2, 'fast key scan'), (3, 'query big table')),
        |qg AS (
        |  SELECT query_id,
        |    list_filter(regexp_split_to_array(lower(trim(qtext)), '\s+'),
        |      x -> x <> '') AS ws
        |  FROM q),
        |qt AS (
        |  SELECT DISTINCT query_id,
        |    unnest(list_transform(range(0, greatest(len(ws) - 1, 0)),
        |      i -> ws[i + 1] || ' ' || ws[i + 2])) AS term
        |  FROM qg),
        |dg AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS ws
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, greatest(len(ws) - 1, 0)),
        |      i -> ws[i + 1] || ' ' || ws[i + 2])) AS term
        |  FROM dg),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok
        |  WHERE term IN (SELECT term FROM qt)
        |  GROUP BY ALL),
        |dfq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1),
        |dl AS (
        |  SELECT doc_id, CAST(greatest(len(ws) - 1, 0) AS DOUBLE) AS dl FROM dg),
        |st AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    avg(greatest(len(ws) - 1, 0)) AS avgdl
        |  FROM dg),
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
    "q_ivf_rerank" ->
      """WITH cells AS (SELECT * FROM '/tmp/graft_stage/sf0.01/ivf_cells/*.parquet'),
        |probes AS (SELECT cell_id FROM '/tmp/graft_stage/sf0.01/ivf_probes/*.parquet'),
        |c AS (SELECT * FROM '/tmp/graft_stage/sf0.01/pq_codes/*.parquet'),
        |l AS (SELECT * FROM '/tmp/graft_stage/sf0.01/pq_lut/*.parquet'),
        |q AS (SELECT embedding AS qe FROM cells WHERE vec_id = 1),
        |adc AS (
        |  SELECT c.vec_id, sqrt(sum(l.sq)) AS adc
        |  FROM c JOIN cells s ON s.vec_id = c.vec_id
        |  JOIN probes p ON p.cell_id = s.cell_id
        |  CROSS JOIN range(1, 9) t(j)
        |  JOIN l ON l.j = t.j AND l.code = c.codes[t.j]
        |  GROUP BY 1),
        |short AS (SELECT vec_id, adc FROM adc
        |          ORDER BY round(adc, 6), vec_id LIMIT 50)
        |SELECT s.vec_id,
        |  round(list_dot_product(s.embedding, q.qe) /
        |    (sqrt(list_dot_product(s.embedding, s.embedding)) *
        |     sqrt(list_dot_product(q.qe, q.qe))), 6) AS cosine,
        |  round(sh.adc, 6) AS adc
        |FROM short sh JOIN cells s ON s.vec_id = sh.vec_id, q
        |ORDER BY cosine DESC, s.vec_id LIMIT 10""".stripMargin,
    "q_rrf_fusion" ->
      """WITH r1 AS (SELECT query_id, doc_id, rank
        |           FROM '/tmp/graft_stage/sf0.01/rrf_uni/*.parquet'),
        |r2 AS (SELECT query_id, doc_id, rank
        |       FROM '/tmp/graft_stage/sf0.01/rrf_bi/*.parquet'),
        |c AS (
        |  SELECT query_id, doc_id,
        |    CAST(1.0 AS DOUBLE) / (60 + rank) AS c FROM r1
        |  UNION ALL
        |  SELECT query_id, doc_id, CAST(1.0 AS DOUBLE) / (60 + rank) FROM r2),
        |f AS (
        |  SELECT query_id, doc_id, sum(c) AS rrf_score, count(*) AS n_lists
        |  FROM c GROUP BY 1, 2),
        |r AS (
        |  SELECT query_id, doc_id, rrf_score, n_lists,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY rrf_score DESC, doc_id) AS rank
        |  FROM f)
        |SELECT query_id, doc_id, rrf_score, n_lists, rank
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "q_dedup_best" ->
      """WITH flagged AS (
        |  SELECT doc_id, lang, text,
        |    CASE WHEN lag(lang) OVER (ORDER BY doc_id) = lang
        |          AND lag(doc_id) OVER (ORDER BY doc_id) = doc_id - 1
        |         THEN 0 ELSE 1 END AS chg
        |  FROM documents),
        |runs AS (
        |  SELECT doc_id, lang, text, sum(chg) OVER (ORDER BY doc_id) AS run_id
        |  FROM flagged),
        |nt AS (
        |  SELECT doc_id, lang, run_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ntok
        |  FROM runs),
        |sel AS (
        |  SELECT doc_id, lang, ntok, row_number() OVER (PARTITION BY run_id
        |    ORDER BY ntok DESC, doc_id) AS rk
        |  FROM nt)
        |SELECT doc_id, lang, CAST(ntok AS BIGINT) AS ntok
        |FROM sel WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    "q_span_removal" ->
      """WITH c AS (SELECT * FROM '/tmp/graft_stage/sf0.01/span_chunks1/*.parquet'),
        |f AS (SELECT chunk_hash FROM c GROUP BY 1
        |      HAVING count(DISTINCT doc_id) > 1 AND count(DISTINCT doc_id) <= 64),
        |m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |             a.start_token AS sa, b.start_token AS sb
        |      FROM c a JOIN f USING (chunk_hash)
        |      JOIN c b ON a.chunk_hash = b.chunk_hash AND a.doc_id < b.doc_id),
        |i AS (SELECT id_a, id_b, sa, sb, sa - sb AS diag,
        |        sa - row_number() OVER (
        |          PARTITION BY id_a, id_b, sa - sb ORDER BY sa) AS isl
        |      FROM m),
        |sp AS (SELECT id_b, min(sb) AS start_b, count(*) AS nw
        |       FROM i GROUP BY id_a, id_b, diag, isl
        |       HAVING count(*) - 1 + 20 >= 25),
        |cov AS (SELECT DISTINCT id_b AS doc_id,
        |          unnest(range(start_b, start_b + nw - 1 + 20)) AS pos
        |        FROM sp),
        |corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 500
        |  UNION ALL
        |  SELECT doc_id + 200000, regexp_replace(text, '^\S+', 'prefixed')
        |  FROM documents WHERE doc_id < 500 AND doc_id % 7 = 2),
        |tk AS (SELECT doc_id,
        |         string_split(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws
        |       FROM corpus),
        |pos AS (SELECT doc_id, unnest(ws) AS tok,
        |          unnest(range(0, len(ws))) AS pos
        |        FROM tk),
        |kept AS (SELECT p.doc_id, p.pos, p.tok FROM pos p
        |         WHERE NOT EXISTS (SELECT 1 FROM cov
        |           WHERE cov.doc_id = p.doc_id AND cov.pos = p.pos)),
        |agg AS (SELECT doc_id,
        |          coalesce(string_agg(tok, ' ' ORDER BY pos), '') AS clean,
        |          count(*) AS n_kept
        |        FROM kept GROUP BY 1)
        |SELECT t.doc_id, md5(coalesce(a.clean, '')) AS digest,
        |  CAST(len(t.ws) AS BIGINT) AS n_tokens,
        |  CAST(len(t.ws) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
        |FROM tk t LEFT JOIN agg a USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin)
}
