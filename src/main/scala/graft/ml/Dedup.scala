package graft.ml

import org.apache.spark.sql.{Column, DataFrame, functions => F}

/** Large-scale training-data deduplication operators (beyond-reference; the
  * reference's closest surface is `unique` — lib/polars/data_frame.rb:4093).
  *
  * All variants are pure DataFrame/HOF compositions: no UDFs, fully
  * codegen-able, shuffle only on the bucketing keys — the shape that survives
  * a 1000-executor 100 TB run.
  */
object Dedup {

  /** Exact dedup by content hash — one hash-shuffle on the digest. */
  def exact(df: DataFrame, textCol: String, keep: String = "first",
            idCol: String = "doc_id"): DataFrame = {
    require(Set("first", "any")(keep),
      s"Dedup.exact: keep must be first|any, got '$keep'")
    val h = F.md5(F.col(textCol))
    keep match {
      case "any" => df.withColumn("__h__", h).dropDuplicates("__h__").drop("__h__")
      case "first" =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(F.col("__h__")).orderBy(F.col(idCol))
        df.withColumn("__h__", h)
          .withColumn("__rn__", F.row_number().over(w))
          .filter(F.col("__rn__") === 1).drop("__h__", "__rn__")
    }
  }

  /** Groups of exact duplicates (diagnostic view): digest → member count. */
  def exactGroups(df: DataFrame, textCol: String): DataFrame =
    df.groupBy(F.md5(F.col(textCol)).as("digest"))
      .agg(F.count(F.lit(1)).as("n_dups"), F.min(F.col("doc_id")).as("first_doc"))

  /** Character k-shingle set of a normalized document.
    *
    * NOTE (scale): higher-order-function lambdas are *interpreted* in Spark,
    * and any non-trivial expression referenced inside the lambda re-evaluates
    * per element. This column form is fine for one-off expressions on small
    * data (jaccard verification of candidate pairs); the bulk pipelines below
    * use an explode→codegen formulation instead. */
  /** Whitespace-collapse + lowercase — the shared shingle normalization. */
  def normalizeText(text: Column): Column =
    F.lower(F.regexp_replace(text, "\\s+", " "))

  /** Character k-shingles over an ALREADY-normalized text column. Pass a
    * bound attribute in hot paths: expressions captured inside the transform
    * lambda re-evaluate per element (see QualityFilters.wordNgramsFromWords),
    * so handing `normalizeText(...)` directly re-runs the regex per shingle. */
  def shinglesFromNormalized(t: Column, k: Int = 5): Column =
    F.array_distinct(F.transform(
      F.sequence(F.lit(0), F.greatest(F.length(t) - k, F.lit(0))),
      i => t.substr(i + 1, F.lit(k))))

  def shingles(text: Column, k: Int = 5): Column =
    shinglesFromNormalized(normalizeText(text), k)

  /** Normalized edit similarity 1 − lev(a,b)/max(|a|,|b|) — the character-
    * level second-stage verifier for near-dup candidates (shingle Jaccard is
    * order-insensitive; edit distance catches reorderings Jaccard forgives).
    * O(|a|·|b|) per pair: run it on CANDIDATE pairs only, never all-pairs.
    * Identical-empty pairs score 1.0 (guarded denominator). */
  def editSimilarity(a: Column, b: Column): Column =
    F.lit(1.0) - F.levenshtein(a, b).cast("double") /
      F.greatest(F.greatest(F.length(a), F.length(b)), F.lit(1)).cast("double")

  /** One row per (id, shingle) — normalization computed once per document,
    * shingle substrings once per position, everything codegen'd (no HOFs).
    * Duplicate shingles are NOT deduped: min() over a multiset equals min()
    * over its set, so MinHash is unaffected and we skip a whole shuffle. */
  private def explodedShingles(df: DataFrame, textCol: String, idCol: String,
                               k: Int): DataFrame =
    df.select(F.col(idCol),
        F.lower(F.regexp_replace(F.col(textCol), "\\s+", " ")).as("__norm__"))
      .withColumn("__pos__", F.explode(F.sequence(F.lit(0),
        F.greatest(F.length(F.col("__norm__")) - k, F.lit(0)))))
      .select(F.col(idCol),
        F.col("__norm__").substr(F.col("__pos__") + 1, F.lit(k)).as("shingle"))

  /** MinHash signatures as one aggregation: shuffle carries only
    * (id, numHashes mins) thanks to map-side partial min — the formulation
    * that survives 100 TB corpora. Returns (idCol, h0..h{n-1}). */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
                        numHashes: Int = 64, shingleK: Int = 5): DataFrame = {
    val mins = (0 until numHashes).map(s =>
      F.min(F.xxhash64(F.lit(s), F.col("shingle"))).as(s"h$s"))
    explodedShingles(df, textCol, idCol, shingleK)
      .groupBy(F.col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** Whole MinHash signature as ONE native codegen expression
    * ([[graft.ext.MinHashSig]]): no explode, no aggregation — two hashes per
    * shingle plus register-resident double hashing. Preferred over
    * [[minhashSignatures]] in bulk pipelines. */
  def minhashSignature(text: Column, numHashes: Int = 64, shingleK: Int = 5): Column = {
    import org.apache.spark.sql.GraftInternalOps
    GraftInternalOps.column(graft.ext.MinHashSig(
      GraftInternalOps.expression(text),
      GraftInternalOps.expression(F.lit(shingleK)),
      GraftInternalOps.expression(F.lit(numHashes))))
  }

  /** Banded MinHash signature rows (id, band_idx, band_hash) — the LSH bucket
    * keys behind [[minhashCandidates]], exposed so callers can materialize
    * them (e.g. for oracle verification of the bucket-join logic). */
  def bandedSignatures(df: DataFrame, textCol: String, idCol: String,
                       numHashes: Int = 64, bands: Int = 16, shingleK: Int = 5): DataFrame = {
    require(bands >= 1 && numHashes % bands == 0,
      s"bandedSignatures: bands must divide numHashes (got bands=$bands, " +
        s"numHashes=$numHashes) — rowsPerBand = 0 would hash every band to a " +
        "constant and degenerate the LSH join to all-pairs")
    val rowsPerBand = numHashes / bands
    val sig = df.select(F.col(idCol),
      minhashSignature(F.col(textCol), numHashes, shingleK).as("__sig__"))
    sig.select(
      F.col(idCol),
      F.explode(F.array((0 until bands).map { b =>
        F.struct(F.lit(b).as("band_idx"),
          F.xxhash64(F.slice(F.col("__sig__"), b * rowsPerBand + 1, rowsPerBand)).as("band_hash"))
      }: _*)).as("band"))
      .select(F.col(idCol), F.col("band.band_idx"), F.col("band.band_hash"))
  }

  /** Candidate pairs from banded signature rows: self-join on
    * (band_idx, band_hash) — a hash shuffle over bucket keys; no quadratic
    * blow-up outside buckets. Returns (id_a, id_b, n_shared_bands), id_a < id_b.
    *
    * The join is pinned to sort-merge, the plan Spark picks once the bands
    * outgrow the broadcast threshold. Left to itself at small sizes Spark
    * broadcasts the two-key build side as a hash relation whose first
    * memory page (16 MB at a 3 GB heap) does not shrink to its few
    * thousand rows, and that page stays in the block store until a full GC
    * lets the ContextCleaner drop the broadcast. */
  def minhashCandidatesFromBands(banded: DataFrame, idCol: String): DataFrame = {
    val a = banded.as("a")
    val b = banded.hint("merge").as("b")
    a.join(b, F.col("a.band_idx") === F.col("b.band_idx") &&
        F.col("a.band_hash") === F.col("b.band_hash") &&
        F.col(s"a.$idCol") < F.col(s"b.$idCol"))
      .groupBy(F.col(s"a.$idCol").as("id_a"), F.col(s"b.$idCol").as("id_b"))
      .agg(F.count(F.lit(1)).as("n_shared_bands"))
  }

  /** MinHash-LSH candidate pairs: shingle → minhash → band → bucket-join.
    * `bands * rowsPerBand = numHashes`. */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        numHashes: Int = 64, bands: Int = 16, shingleK: Int = 5): DataFrame = {
    // persist: the self-join would otherwise recompute the whole
    // shingle→hash→min pipeline for BOTH sides; banded rows are tiny
    // (id + 2 longs) so this is cheap at any corpus size. Lifecycle: the
    // cache stays until Spark's ContextCleaner collects it (storage is
    // LRU-evictable); per-shard pipelines that loop these builders should
    // checkpoint/unpersist between shards
    val banded = bandedSignatures(df, textCol, idCol, numHashes, bands, shingleK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    minhashCandidatesFromBands(banded, idCol)
  }

  /** LSH candidate quality against exact-Jaccard ground truth on the SAME
    * corpus — the tuning tool for (numHashes, bands) before a production
    * sweep. Ground truth is the all-pairs exact shingle Jaccard at
    * `threshold`: O(n²) by definition, so run this on a bounded SAMPLE —
    * the sampling is the point, not a limitation. Returns one summary row
    * (n_true, n_candidates, n_hit, precision, recall): precision = fraction
    * of candidates that verify at the threshold (what the exact-verify
    * stage will discard), recall = fraction of true pairs the bands
    * surfaced (what the pipeline silently loses — the number that must stay
    * ≈1.0). Ratios are null when their denominator is zero. */
  def lshQuality(df: DataFrame, textCol: String, idCol: String,
                 threshold: Double, numHashes: Int = 64, bands: Int = 16,
                 shingleK: Int = 5,
                 bandRows: Option[DataFrame] = None): DataFrame = {
    // per-call registry, released before returning: a tuning SWEEP calls
    // this once per (numHashes, bands) config and must not accumulate
    // session-lifetime caches (the pageRank discipline). The 1-row summary
    // is checkpointed so the release cannot trigger recompute.
    val reg = new graft.kernel.BoundedRegistry(4)
    val banded = reg.persistBounded(bandRows.getOrElse(
      bandedSignatures(df, textCol, idCol, numHashes, bands, shingleK)))
    val cand = reg.persistBounded(
      minhashCandidatesFromBands(banded, idCol).select("id_a", "id_b"))
    // shingle ONCE per document (the interpreted HOF transform must never
    // run per PAIR), and spread the sample so the non-equi pair join isn't
    // one task grinding |sample|²/2 intersects single-threaded
    val sh = reg.persistBounded(
      df.select(F.col(idCol), normalizeText(F.col(textCol)).as("__t__"))
        .select(F.col(idCol),
          shinglesFromNormalized(F.col("__t__"), shingleK).as("__s__"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism))
    val sim = {
      val inter = F.size(F.array_intersect(F.col("a.__s__"), F.col("b.__s__")))
        .cast("double")
      inter / (F.size(F.col("a.__s__")) + F.size(F.col("b.__s__")) - inter)
    }
    val truth = reg.persistBounded(sh.as("a")
      .join(sh.as("b"), F.col(s"a.$idCol") < F.col(s"b.$idCol"))
      .filter(sim >= threshold)
      .select(F.col(s"a.$idCol").as("id_a"), F.col(s"b.$idCol").as("id_b")))
    val hit = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
    val summary = truth.agg(F.count(F.lit(1)).as("n_true"))
      .crossJoin(cand.agg(F.count(F.lit(1)).as("n_candidates")))
      .crossJoin(hit.agg(F.count(F.lit(1)).as("n_hit")))
      .select(F.col("n_true"), F.col("n_candidates"), F.col("n_hit"),
        F.when(F.col("n_candidates") > 0,
          F.col("n_hit").cast("double") / F.col("n_candidates").cast("double"))
          .as("precision"),
        F.when(F.col("n_true") > 0,
          F.col("n_hit").cast("double") / F.col("n_true").cast("double"))
          .as("recall"))
      .localCheckpoint(true)
    reg.releaseAll()
    summary
  }

  /** Exact n-gram Jaccard similarity for candidate verification. */
  def jaccard(textA: Column, textB: Column, k: Int): Column = {
    val sa = shingles(textA, k); val sb = shingles(textB, k)
    val inter = F.size(F.array_intersect(sa, sb)).cast("double")
    inter / (F.size(sa) + F.size(sb) - inter)
  }
  /** Legacy signature (frame argument unused — jaccard is a pure column). */
  def jaccard(df: DataFrame, textA: Column, textB: Column, k: Int = 5): Column =
    jaccard(textA, textB, k)

  /** 64-bit SimHash over whitespace tokens — per-bit aggregate HOFs build the
    * 64 signed counters (Catalyst CSE shares the token hashing), then sign
    * bits are packed into one long. */
  def simhash(text: Column): Column = {
    val tokens = F.split(F.lower(F.trim(text)), "\\s+")
    val hashes = F.transform(tokens, t => F.xxhash64(t))
    (0 until 64).map { i =>
      val counter = F.aggregate(hashes, F.lit(0L),
        (acc, h) => acc + F.when(F.shiftright(h, i).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      F.when(counter > 0, F.lit(1L << i)).otherwise(F.lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Hamming distance between two simhash fingerprints. */
  def hammingDistance(a: Column, b: Column): Column = F.bit_count(a.bitwiseXOR(b))

  /** SimHash signatures via explode→codegen'd per-bit sums (same scale shape
    * as [[minhashSignatures]]: shuffle carries (id, 64 longs)). */
  def simhashSignatures(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val hashed = df
      .select(F.col(idCol),
        F.explode(F.split(F.lower(F.trim(F.col(textCol))), "\\s+")).as("__tok__"))
      .select(F.col(idCol), F.xxhash64(F.col("__tok__")).as("__h__"))
    val bitSums = (0 until 64).map(i =>
      F.sum(F.when(F.shiftright(F.col("__h__"), i).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"b$i"))
    hashed.groupBy(F.col(idCol)).agg(bitSums.head, bitSums.tail: _*)
      .select(F.col(idCol),
        (0 until 64).map(i =>
          F.when(F.col(s"b$i") > 0, F.lit(1L << i)).otherwise(F.lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("sig"))
  }

  /** SimHash near-dup candidate pairs: block on rotated 16-bit chunks so any
    * pair within hamming distance <= 3 shares at least one of 4 chunk keys. */
  def simhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        maxHamming: Int = 3): DataFrame =
    simhashCandidatesFromSigs(simhashSignatures(df, textCol, idCol), idCol, maxHamming)

  /** Chunk-blocked pair search over materialized (id, sig) simhash rows —
    * the join stage of [[simhashCandidates]], exposed for restaging. */
  /** SimHash LSH candidates via equal-bit-slice blocking. RECALL CONTRACT
    * (pigeonhole): a pair within hamming h is GUARANTEED to share a block
    * only when h <= chunks - 1; beyond that the join is a recall-bounded
    * heuristic (differing bits may touch every slice) — raise `chunks` for
    * a guarantee, at the cost of smaller (= more collision-prone) block
    * keys. The final hamming filter keeps precision exact either way. */
  def simhashCandidatesFromSigs(withSig: DataFrame, idCol: String,
                                maxHamming: Int, chunkCount: Int = 4): DataFrame = {
    require(chunkCount >= 1 && chunkCount <= 64 && 64 % chunkCount == 0,
      s"simhashCandidates: chunkCount must divide 64, got $chunkCount")
    val bits = 64 / chunkCount
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    val chunks = withSig.select(F.col(idCol), F.col("sig"),
      F.explode(F.array((0 until chunkCount).map { c =>
        F.struct(F.lit(c).as("chunk_idx"),
          F.shiftright(F.col("sig"), c * bits).bitwiseAND(mask).as("chunk_val"))
      }: _*)).as("ch"))
      .select(F.col(idCol), F.col("sig"), F.col("ch.chunk_idx"), F.col("ch.chunk_val"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = chunks.as("a"); val b = chunks.as("b")
    a.join(b, F.col("a.chunk_idx") === F.col("b.chunk_idx") &&
        F.col("a.chunk_val") === F.col("b.chunk_val") &&
        F.col(s"a.$idCol") < F.col(s"b.$idCol"))
      .select(F.col(s"a.$idCol").as("id_a"), F.col(s"b.$idCol").as("id_b"),
        hammingDistance(F.col("a.sig"), F.col("b.sig")).as("hamming"))
      .filter(F.col("hamming") <= maxHamming)
      .distinct()
  }

  /** Embedding cosine near-duplicate pairs via LSH (random hyperplane signs).
    * planes: seeded pseudo-random via hash of (seed, dim) — deterministic,
    * no driver-side state to broadcast. */
  /** Hyperplane sign bucket for one vector (the LSH key of
    * [[embeddingCandidates]]). */
  def hyperplaneBucket(v: Column, nPlanes: Int): Column =
    F.aggregate(
      F.array((0 until nPlanes).map { p =>
        val dot = F.aggregate(
          F.zip_with(v, F.sequence(F.lit(0), F.size(v) - 1),
            (x, i) => x * (F.pmod(F.xxhash64(F.lit(p), i), F.lit(2000)).cast("double") / 1000.0 - 1.0)),
          F.lit(0.0), (acc, x) => acc + x)
        F.when(dot > 0, F.shiftleft(F.lit(1L), p)).otherwise(F.lit(0L))
      }: _*),
      F.lit(0L), (acc, x) => acc.bitwiseOR(x))

  /** Same-bucket pair join over materialized (id, vec, bucket) rows — the
    * join stage of [[embeddingCandidates]], exposed for restaging. */
  def embeddingCandidatesFromBuckets(sig: DataFrame, vecCol: String,
                                     idCol: String): DataFrame = {
    val a = sig.as("a"); val b = sig.as("b")
    a.join(b, F.col("a.bucket") === F.col("b.bucket") && F.col(s"a.$idCol") < F.col(s"b.$idCol"))
      .select(F.col(s"a.$idCol").as("id_a"), F.col(s"b.$idCol").as("id_b"),
        Similarity.cosine(F.col(s"a.$vecCol"), F.col(s"b.$vecCol")).as("cosine"))
  }

  def embeddingCandidates(df: DataFrame, vecCol: String, idCol: String,
                          nPlanes: Int = 16): DataFrame = {
    val sig = df.select(F.col(idCol), F.col(vecCol),
        hyperplaneBucket(F.col(vecCol), nPlanes).as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    embeddingCandidatesFromBuckets(sig, vecCol, idCol)
  }

  /** Corpus-level exact line dedup (the C4-style cleaning step): each
    * distinct line survives only at its FIRST occurrence in (id, position)
    * order; later repeats — boilerplate, navigation, license headers — are
    * dropped from every other document. Shape: posexplode → one hash-shuffle
    * window over the line → ordered reassembly. The window key is the line
    * itself, so pathological corpora (billions of empty lines) should
    * pre-filter or salt; ids must be orderable for "first" to be defined. */
  def dedupLines(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val lines = df.select(F.col(idCol),
      F.posexplode(F.split(F.col(textCol), "\n")).as(Seq("__li__", "__ln__")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__ln__").orderBy(F.col(idCol), F.col("__li__"))
    val kept = lines.withColumn("__rn__", F.row_number().over(w))
      .filter(F.col("__rn__") === 1)
    kept.groupBy(idCol).agg(
      F.array_join(
        F.transform(
          F.array_sort(F.collect_list(F.struct(F.col("__li__"), F.col("__ln__")))),
          s => s.getField("__ln__")),
        "\n").as(textCol))
  }

  /** WITHIN-document paragraph dedup (drop repeated paragraphs, keep the
    * first occurrence — the standard intra-page boilerplate cleanup). Pure
    * higher-order-function column: split → keep index i iff the paragraph's
    * FIRST position is i → rejoin. Zero shuffle, zero UDF — per-document
    * cleaning is embarrassingly parallel and stays inside whole-stage
    * codegen at any corpus size. */
  def dedupParagraphsCol(text: Column, sep: String = "\n\n"): Column = {
    val paras = F.split(text, java.util.regex.Pattern.quote(sep))
    F.array_join(
      F.filter(paras, (p, i) => F.array_position(paras, p) === (i + 1).cast("long")),
      sep)
  }

  /** Frame form of [[dedupParagraphsCol]]. */
  def dedupParagraphs(df: DataFrame, textCol: String,
                      sep: String = "\n\n"): DataFrame =
    df.withColumn(textCol, dedupParagraphsCol(F.col(textCol), sep))

  /** Edge cap for the driver union-find fast path in
    * [[connectedComponents]] — 4M (long,long) pairs = 64 MB. */
  val LocalEdgeCap: Long = 1L << 22

  /** Connected components over an undirected edge list — the step that turns
    * near-dup candidate PAIRS (minhash/simhash/embedding buckets) into dedup
    * CLUSTERS so one canonical document per cluster survives.
    *
    * Min-label propagation with pointer jumping (comp ← comp(comp)) each
    * round, so convergence is O(log diameter) shuffle rounds, not O(diameter)
    * — the difference between 4 rounds and 10⁴ on chain-shaped clusters.
    * Every round is two hash joins on the node id; `localCheckpoint` truncates
    * the lineage so round N's plan doesn't replay rounds 1..N-1. Returns
    * (node, component) with component = min node id in the component; only
    * nodes that appear in an edge are returned (isolated docs are their own
    * cluster by definition — coalesce after the join-back).
    */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
                          maxIter: Int = 50): DataFrame = {
    val raw0 = edges.select(F.col(src).cast("long").as("a"), F.col(dst).cast("long").as("b"))
      .where(F.col("a") =!= F.col("b") && F.col("a").isNotNull && F.col("b").isNotNull)
    // The edge lineage (often an expensive LSH-verify join) feeds two
    // actions below (count, then collect or symmetrize): cache it through
    // PrepCache so the lineage executes once — and an identical edge plan
    // re-entering (repeated pipeline invocations in one session) reuses the
    // materialization instead of replaying the joins.
    val raw = graft.kernel.PrepCache.persistBounded(raw0)
    // Bounded-graph fast path: up to `LocalEdgeCap` RAW edges collect to a
    // driver union-find (path-halving) — two cache-backed jobs + O(E α(E))
    // local work instead of a symmetrize-distinct shuffle plus ~4 stages per
    // propagation round. Union-find needs neither symmetrization nor dedup
    // (union is direction-free and idempotent), so the raw list is enough;
    // raw count >= distinct symmetrized count / 2, so the cap still bounds
    // driver memory explicitly (64 MB of (long, long) pairs at the default).
    // Real 100 TB near-dup graphs exceed it and take the distributed rounds
    // below — the same broadcast-when-small / shuffle-when-big discipline as
    // a join. Labels stay min-id per component, identical to the rounds.
    val edgeCount = raw.count()
    if (edgeCount <= LocalEdgeCap) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrDefault(x, x)
        while (p != x) { // path halving
          val gp = parent.getOrDefault(p, p)
          parent.put(x, gp); x = gp; p = parent.getOrDefault(x, x)
        }
        x
      }
      // one pass: union edges and collect the node universe from BOTH
      // endpoint columns (raw edges are unsymmetrized). collect(), not
      // toLocalIterator(): the iterator schedules ONE JOB PER PARTITION
      // (~32 jobs of pure scheduling overhead on a bounded graph), while the
      // edge cap already bounds the collected array to <=64 MB
      val nodeSet = new java.util.HashSet[Long]()
      val it = raw.collect().iterator
      while (it.hasNext) {
        val r = it.next()
        val (a, b) = (r.getLong(0), r.getLong(1))
        nodeSet.add(a); nodeSet.add(b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      // every union roots at the smaller id, so a node's root IS its
      // component's min id
      val spark = edges.sparkSession
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](nodeSet.size)
      nodeSet.forEach(n => rows.add(org.apache.spark.sql.Row(n, find(n))))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("comp", org.apache.spark.sql.types.LongType, nullable = false)))
      return spark.createDataFrame(rows, schema)
    }
    // Distributed path: symmetrize + dedup so min-propagation sees every
    // neighbor from both sides; persisted because every round re-reads it.
    val sym0 = raw
    val sym = sym0.union(sym0.select(F.col("b").as("a"), F.col("a").as("b")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // seed with round-1 propagation (min over self+neighbors) straight off
    // the edge list — one groupBy instead of a join against identity labels
    var labels = sym.groupBy("a")
      .agg(F.least(F.col("a"), F.min(F.col("b"))).as("comp"))
      .select(F.col("a").as("node"), F.col("comp"))
      .localCheckpoint(true)
    var iter = 0
    // per-node labels only ever decrease, so Σcomp is a strictly-decreasing
    // progress measure: fixpoint iff the sum is unchanged — one scalar
    // aggregate per round instead of a change-count join
    var prevSum = Option.empty[java.math.BigDecimal] // decimal sum: exact and overflow-free at any node-id scale
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = sym
        .join(labels.select(F.col("node").as("b"), F.col("comp").as("bcomp")), "b")
        .groupBy("a").agg(F.min("bcomp").as("nmin")) // map-side partial min
      val propagated = labels
        .join(nbrMin.withColumnRenamed("a", "node"), Seq("node"), "left")
        .select(F.col("node"), F.least(F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))).as("comp"))
      val jumped = propagated
        .join(propagated.select(F.col("node").as("comp"), F.col("comp").as("cc")),
          Seq("comp"), "left")
        .select(F.col("node"), F.coalesce(F.col("cc"), F.col("comp")).as("comp"))
        .localCheckpoint(true)
      val sum = jumped.agg(F.sum(F.col("comp").cast("decimal(38,0)")))
        .collect()(0).getDecimal(0)
      converged = prevSum.exists(_.compareTo(sum) == 0)
      prevSum = Some(sum)
      labels = jumped
      iter += 1
    }
    sym.unpersist()
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents: not converged after $maxIter rounds — labels are " +
          "an upper bound on components; raise maxIter for adversarial graphs")
    labels
  }

  /** One-call MinHash near-dedup pipeline: LSH candidates → exact-Jaccard
    * verification at `threshold` → connected components → keep each
    * cluster's smallest id. The standard production shape (candidates are a
    * tiny fraction of all pairs; only they pay the exact-Jaccard join). */
  def nearDedupMinhash(df: DataFrame, textCol: String, idCol: String,
                       threshold: Double = 0.7, numHashes: Int = 64,
                       bands: Int = 16, shingleK: Int = 5): DataFrame = {
    val cand = minhashCandidates(df, textCol, idCol, numHashes, bands, shingleK)
    // pre-normalize once per doc so the shingle lambda binds an attribute
    val txt = df.select(F.col(idCol), normalizeText(F.col(textCol)).as("__norm__"))
    val verified = cand
      .join(txt.select(F.col(idCol).as("id_a"), F.col("__norm__").as("__ta__")), Seq("id_a"))
      .join(txt.select(F.col(idCol).as("id_b"), F.col("__norm__").as("__tb__")), Seq("id_b"))
      .filter({
        val sa = shinglesFromNormalized(F.col("__ta__"), shingleK)
        val sb = shinglesFromNormalized(F.col("__tb__"), shingleK)
        val inter = F.size(F.array_intersect(sa, sb)).cast("double")
        inter / (F.size(sa) + F.size(sb) - inter) >= threshold
      })
      .select("id_a", "id_b")
    dedupByClusters(df, idCol, verified)
  }

  /** Incremental near-dedup against a persistent bucket registry — the
    * BATCH twin of [[graft.streaming.Streaming.nearDedupStream]] for
    * scheduled corpus sweeps: `newDocs` whose banded MinHash signature
    * collides with an EARLIER sweep's registry bands or with a smaller-id
    * document in this sweep are dropped; all new documents' bands are
    * registered so later sweeps dedup transitively. Returns the kept rows.
    *
    * The registry is a parquet table of (band_idx, band_hash) partitioned
    * by sweep: each sweep OVERWRITES its own `sweep=<sweepId>/` directory
    * and the collision check reads only OTHER sweeps' directories (plus any
    * flat files a [[graft.streaming.Streaming.nearDedupStream]] sharing the
    * path has appended). That makes a sweep IDEMPOTENT: re-running after a
    * failure replaces the partial registration instead of colliding with
    * it, and the returned frame's lineage can never see this sweep's own
    * bands on re-execution. `sweepId` must be stable across retries of the
    * same logical sweep (a date, a batch id) and unique across sweeps.
    *
    * Scale shape: one semi-join (shuffled on (band_idx, band_hash) like
    * every LSH step) + one partition-local write per sweep; a Bloom filter
    * over band hashes pre-filters when the registry outgrows comfortable
    * join sizes. */
  def incrementalNearDedup(newDocs: DataFrame, textCol: String, idCol: String,
                           registryPath: String, sweepId: String,
                           numHashes: Int = 64, bands: Int = 16,
                           shingleK: Int = 5): DataFrame = {
    require(sweepId.nonEmpty && !sweepId.contains("/"),
      s"incrementalNearDedup: sweepId must be a non-empty path segment, got '$sweepId'")
    val spark = newDocs.sparkSession
    val banded = graft.kernel.PrepCache.persistBounded(
      bandedSignatures(newDocs, textCol, idCol, numHashes, bands, shingleK))
    val regPath = new org.apache.hadoop.fs.Path(registryPath)
    val fs = regPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // SNAPSHOT the listing of other sweeps' registrations: directories from
    // previous sweeps plus flat .parquet files (a streaming registry sharing
    // the path). This sweep's own directory is excluded BY NAME, so neither
    // the write below nor a rerun's partial leftovers can leak into the
    // returned frame's lineage.
    val regFiles =
      if (fs.exists(regPath))
        fs.listStatus(regPath).filter { st =>
          val n = st.getPath.getName
          (st.isDirectory && n.startsWith("sweep=") && n != s"sweep=$sweepId") ||
            (st.isFile && n.endsWith(".parquet"))
        }.map(_.getPath.toString).toSeq
      else Seq.empty
    val crossDup =
      if (regFiles.nonEmpty)
        banded.join(
          // every registration holds bands this code wrote: read with their schema
          spark.read.schema(banded.select("band_idx", "band_hash").schema).parquet(regFiles: _*),
          Seq("band_idx", "band_hash"), "left_semi").select(idCol)
      else newDocs.select(idCol).limit(0)
    val owners = banded.groupBy("band_idx", "band_hash")
      .agg(F.min(F.col(idCol)).as("__owner__"))
    val intraDup = banded.join(owners, Seq("band_idx", "band_hash"))
      .where(F.col(idCol) =!= F.col("__owner__")).select(idCol)
    val dupIds = crossDup.unionAll(intraDup).distinct()
    val kept = newDocs.join(dupIds, Seq(idCol), "left_anti")
    banded.select("band_idx", "band_hash").write.mode("overwrite")
      .parquet(s"$registryPath/sweep=$sweepId")
    kept
  }

  /** Cluster-dedup: keep the min-id document of each near-dup component,
    * where components come from [[connectedComponents]] over candidate
    * `pairs` (id_a, id_b). Documents in no pair survive untouched. */
  def dedupByClusters(df: DataFrame, idCol: String, pairs: DataFrame,
                      pairA: String = "id_a", pairB: String = "id_b"): DataFrame = {
    // connectedComponents works on long node ids — a string id would cast to
    // null and silently drop every pair, which is wrong data, not an error
    require(Seq(org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
        .contains(df.schema(idCol).dataType),
      s"dedupByClusters: $idCol must be an integral id column, " +
        s"got ${df.schema(idCol).dataType.simpleString} (hash string ids to longs first)")
    val comp = connectedComponents(pairs, pairA, pairB)
      .select(F.col("node").as(idCol), F.col("comp"))
    df.join(comp, Seq(idCol), "left")
      .where(F.col("comp").isNull || F.col("comp") === F.col(idCol))
      .drop("comp")
  }

  /** Cluster dedup keeping the BEST row per near-dup cluster instead of the
    * smallest id: the curation policy that keeps the highest-quality copy
    * (longest, best classifier score, most recent crawl) when duplicates
    * differ in quality. `quality` is any numeric column expression on `df`;
    * ties keep the smallest id, so the survivor set is deterministic.
    * Same scale shape as [[dedupByClusters]] — bounded component state,
    * plus one max_by aggregation keyed on the component. */
  def dedupByClustersKeepBest(df: DataFrame, idCol: String, pairs: DataFrame,
                              quality: Column,
                              pairA: String = "id_a", pairB: String = "id_b"): DataFrame = {
    require(Seq(org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
        .contains(df.schema(idCol).dataType),
      s"dedupByClustersKeepBest: $idCol must be an integral id column, " +
        s"got ${df.schema(idCol).dataType.simpleString} (hash string ids to longs first)")
    val comp = connectedComponents(pairs, pairA, pairB)
      .select(F.col("node").as(idCol), F.col("comp"))
    val withComp = df.withColumn("__q__", quality)
      .join(comp, Seq(idCol), "left")
      // singletons (no pair) are their own cluster
      .withColumn("__comp__", F.coalesce(F.col("comp"), F.col(idCol)))
    // best = max quality, ties -> smallest id: max_by on the orderable pair
    // (quality, -id) needs no second pass and no window over the data
    val best = withComp.groupBy(F.col("__comp__"))
      .agg(F.max_by(F.col(idCol), F.struct(F.col("__q__"), -F.col(idCol)))
        .as("__keep__"))
    withComp.join(best, Seq("__comp__"))
      .where(F.col(idCol) === F.col("__keep__"))
      .drop("__comp__", "comp", "__q__", "__keep__")
  }

  /** One row per (doc, window start): the xxhash64 of each `windowTokens`-
    * token window starting at a CONTENT-DEFINED anchor — a position whose
    * token hash is ≡ 0 (mod `anchorStride`) — the chunk table behind
    * exact-substring duplicate-span detection.
    *
    * Anchors are content-defined (CDC, the rsync/LBFS boundary trick), not
    * position-strided, because stride-aligned windows can NEVER match a
    * duplicated run whose offsets differ by a non-multiple of the stride:
    * window starts sit at absolute positions ≡ 0 (mod stride) in each
    * document separately. Hash anchors travel with the content, so a shared
    * run anchors at the same relative positions in every document that
    * contains it; a duplicated run of length L >= windowTokens misses only
    * if none of its first L - windowTokens + 1 tokens anchors — probability
    * (1 - 1/anchorStride)^(L - windowTokens + 1) under uniform hashing.
    * `anchorStride = 1` anchors every position (exhaustive, exact).
    *
    * Documents shorter than one window emit nothing (doc-level dedup owns
    * those). The token array is materialized once per document and the
    * window hashes are built inside one `transform` over the anchor
    * positions, so the explode carries only (id, start, hash) rows — never
    * the token array; expected per-doc work is O(tokens x window / stride). */
  def spanChunks(df: DataFrame, textCol: String, idCol: String,
                 windowTokens: Int = 50, anchorStride: Int = 25): DataFrame = {
    require(windowTokens >= 1, s"spanChunks: windowTokens must be >= 1, got $windowTokens")
    require(anchorStride >= 1, s"spanChunks: anchorStride must be >= 1, got $anchorStride")
    val toks = F.split(F.trim(normalizeText(F.col(textCol))), " ")
    val d = df.select(F.col(idCol), toks.as("__toks__"), F.size(toks).as("__n__"))
      .withColumn("__th__", F.transform(F.col("__toks__"), t => F.xxhash64(t)))
    // greatest(.., 0) keeps the sequence bounds legal for short docs; the
    // spurious start-0 window those emit fails the start+W <= n filter
    val starts = F.filter(
      F.sequence(F.lit(0), F.greatest(F.col("__n__") - windowTokens, F.lit(0))),
      i => F.pmod(F.element_at(F.col("__th__"), i + 1), F.lit(anchorStride.toLong)) === 0)
    val spans = F.transform(starts, i => F.struct(
      i.as("start_token"),
      F.xxhash64(F.concat_ws(" ",
        F.slice(F.col("__toks__"), i + 1, F.lit(windowTokens)))).as("chunk_hash")))
    d.select(F.col(idCol), F.col("__n__"), F.explode(spans).as("__s__"))
      .filter(F.col("__s__.start_token") + windowTokens <= F.col("__n__"))
      .select(F.col(idCol), F.col("__s__.start_token").as("start_token"),
        F.col("__s__.chunk_hash").as("chunk_hash"))
  }

  /** Exact-substring duplicate spans — the distributed chunk-hash
    * approximation of suffix-array substring dedup ("Deduplicating Training
    * Data Makes Language Models Better", Lee et al. 2022): every window
    * whose hash occurs in more than one document, with its corpus-wide
    * document and occurrence counts. One balanced shuffle on the window
    * hash; candidate verification is exact by construction (identical
    * windows hash identically; xxhash64 collisions are the usual 2^-64). */
  def duplicateSpans(df: DataFrame, textCol: String, idCol: String,
                     windowTokens: Int = 50, anchorStride: Int = 25): DataFrame =
    duplicateSpansFromChunks(
      // the chunk frame is consumed twice (aggregate + join back); persist it
      // or the tokenize/hash/explode pass — the operator's dominant cost —
      // runs over the corpus twice
      graft.kernel.PrepCache.persistBounded(
        spanChunks(df, textCol, idCol, windowTokens, anchorStride)), idCol)

  /** The join-back half of [[duplicateSpans]], exposed separately so staged
    * chunk tables (oracle exactness) can re-enter the pipeline. */
  def duplicateSpansFromChunks(chunks: DataFrame, idCol: String): DataFrame = {
    val dup = chunks.groupBy("chunk_hash")
      .agg(F.countDistinct(F.col(idCol)).as("n_docs"),
        F.count(F.lit(1)).as("n_occurrences"))
      .filter(F.col("n_docs") > 1)
    chunks.join(dup, Seq("chunk_hash"))
      .select(F.col(idCol), F.col("start_token"), F.col("chunk_hash"),
        F.col("n_docs"), F.col("n_occurrences"))
  }

  /** Cross-document LONGEST-MATCH duplicate spans: maximal runs of
    * consecutive shared windows between document pairs — the chunk-hash
    * approximation of suffix-array longest-common-substring extraction
    * (Lee et al. 2022 §4 find the longest duplicated substrings; here each
    * (id_a, id_b) pair reports every maximal shared run at anchor
    * granularity).
    *
    * Scale shape: one shuffle of the chunk table on chunk_hash for the pair
    * join — hot hashes capped by `maxDocsPerHash` first (boilerplate shared
    * by thousands of documents would otherwise explode quadratically; the
    * cap drops only pair EDGES of near-universal spans, which doc-level
    * [[duplicateSpansFromChunks]] already reports) — then one window +
    * aggregate keyed on (id_a, id_b, diagonal). Matches on the same
    * diagonal (start_a − start_b) at consecutive anchor positions form one
    * span: the gaps-and-islands trick — start_a minus its per-diagonal
    * row_number is constant exactly on a consecutive run.
    *
    * `chunks` is a [[spanChunks]] table built with `anchorStride = 1`:
    * spanChunks' anchors are HASH-SAMPLED (irregular) at stride > 1, and
    * run detection needs every position. Returns one row per maximal run:
    * (id_a, id_b, start_a, start_b, n_windows, match_tokens) with
    * match_tokens = n_windows − 1 + windowTokens. */
  def crossDocSpans(chunks: DataFrame, idCol: String, windowTokens: Int,
                    minMatchTokens: Int = 0,
                    maxDocsPerHash: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = chunks.groupBy("chunk_hash")
      .agg(F.countDistinct(F.col(idCol)).as("__nd__"))
      .filter(F.col("__nd__") > 1 && F.col("__nd__") <= maxDocsPerHash)
    val dup = chunks.join(freq.select("chunk_hash"), Seq("chunk_hash"))
    val a = dup.select(F.col("chunk_hash"), F.col(idCol).as("id_a"),
      F.col("start_token").as("start_a"))
    val b = dup.select(F.col("chunk_hash"), F.col(idCol).as("id_b"),
      F.col("start_token").as("start_b"))
    val matches = a.join(b, Seq("chunk_hash")).filter(F.col("id_a") < F.col("id_b"))
    val diag = F.col("start_a") - F.col("start_b")
    val w = Window.partitionBy(F.col("id_a"), F.col("id_b"), diag)
      .orderBy(F.col("start_a"))
    matches
      .withColumn("__isl__", F.col("start_a") - F.row_number().over(w))
      .groupBy(F.col("id_a"), F.col("id_b"), diag.as("__diag__"), F.col("__isl__"))
      .agg(F.min("start_a").as("start_a"), F.min("start_b").as("start_b"),
        F.count(F.lit(1)).as("n_windows"))
      .withColumn("match_tokens", F.col("n_windows") - 1 + windowTokens)
      .filter(F.col("match_tokens") >= minMatchTokens)
      .select("id_a", "id_b", "start_a", "start_b", "n_windows", "match_tokens")
  }

  /** The REMOVAL step behind cross-document span dedup (Lee et al. 2022
    * drop duplicated substrings, not whole documents): for every maximal
    * shared run found by [[crossDocSpans]], the HIGHER-id copy loses the
    * covered tokens — keep-first at span granularity, so boilerplate is
    * erased from later crawls while the first occurrence survives intact.
    * Operates in the normalized token space the chunk table was built from
    * (lowercased, whitespace-collapsed — the returned text is normalized).
    *
    * Returns every input row with `<textCol>_clean`, `n_tokens` (before)
    * and `n_removed`. Scale shape: [[crossDocSpans]]'s shuffles, plus one
    * explode of covered positions (bounded by covered-token volume, never
    * more than corpus tokens), one per-doc set aggregation, and a
    * broadcast-or-shuffle join back to the corpus; the per-token membership
    * probe is an array lookup against that doc's own covered set. */
  def removeCrossDocSpansFromChunks(df: DataFrame, chunks: DataFrame,
                                    textCol: String, idCol: String,
                                    windowTokens: Int, minMatchTokens: Int = 0,
                                    maxDocsPerHash: Int = 64): DataFrame = {
    val spans = crossDocSpans(chunks, idCol, windowTokens, minMatchTokens, maxDocsPerHash)
    val covered = spans.select(F.col("id_b").as(idCol),
        F.explode(F.sequence(F.col("start_b"),
          F.col("start_b") + F.col("match_tokens") - 1)).as("__pos__"))
      // no distinct() here: collect_set already deduplicates, and a
      // pre-distinct would add a second full shuffle of the exploded
      // positions — the largest intermediate of this operator
      .groupBy(F.col(idCol))
      .agg(F.array_sort(F.collect_set(F.col("__pos__"))).as("__cov__"))
    val toks = F.split(F.trim(normalizeText(F.col(textCol))), " ")
    df.withColumn("__toks__", toks)
      .join(covered, Seq(idCol), "left")
      .withColumn("__kept__",
        F.when(F.col("__cov__").isNull, F.col("__toks__"))
          .otherwise(F.filter(F.col("__toks__"),
            (t, i) => !F.array_contains(F.col("__cov__"), i))))
      .withColumn(s"${textCol}_clean", F.array_join(F.col("__kept__"), " "))
      .withColumn("n_tokens", F.size(F.col("__toks__")).cast("long"))
      .withColumn("n_removed",
        (F.size(F.col("__toks__")) - F.size(F.col("__kept__"))).cast("long"))
      .drop("__toks__", "__cov__", "__kept__")
  }

  /** [[removeCrossDocSpansFromChunks]] building its own stride-1 chunk
    * table (persisted — consumed by both the span detection and nothing
    * else, but the detection reads it twice). */
  def removeCrossDocSpans(df: DataFrame, textCol: String, idCol: String,
                          windowTokens: Int = 50, minMatchTokens: Int = 0,
                          maxDocsPerHash: Int = 64): DataFrame =
    removeCrossDocSpansFromChunks(df,
      graft.kernel.PrepCache.persistBounded(
        spanChunks(df, textCol, idCol, windowTokens, anchorStride = 1)),
      textCol, idCol, windowTokens, minMatchTokens, maxDocsPerHash)

  /** Per-document duplicated-span ratio: the fraction of a document's chunk
    * windows that also occur in another document — the curation signal used
    * to drop boilerplate-heavy documents. Documents too short to chunk are
    * absent (no windows, no signal). */
  def spanDupRatio(df: DataFrame, textCol: String, idCol: String,
                   windowTokens: Int = 50, anchorStride: Int = 25): DataFrame = {
    val chunks = graft.kernel.PrepCache.persistBounded(
      spanChunks(df, textCol, idCol, windowTokens, anchorStride))
    val counts = chunks.groupBy("chunk_hash")
      .agg(F.countDistinct(F.col(idCol)).as("__nd__"))
    chunks.join(counts, Seq("chunk_hash"))
      .groupBy(F.col(idCol))
      .agg(F.count(F.lit(1)).as("n_windows"),
        F.avg(F.when(F.col("__nd__") > 1, 1.0).otherwise(0.0)).as("dup_ratio"))
  }
}
