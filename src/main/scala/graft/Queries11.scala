package graft

import org.apache.spark.sql.{SparkSession, DataFrame => SDF, functions => F}
import graft.ml.{Clustering, Sampling, Similarity}

/** Wave-11 driver queries (round 9): distributed clustering + semantic
  * dedup + DSIR data selection — the curation shapes that partition a corpus
  * by meaning rather than by bytes. Model state (k-means centroids) is
  * bounded (k rows, collected as a local array); assignments are STAGED
  * ([[QueryStage]]) so the DuckDB oracle re-derives the per-cluster stats /
  * pair closure / importance weights from the identical rows, turning each
  * into a full hash-checked row rather than rows-only. */
object Queries11 {

  private def t(s: SparkSession, dir: String, name: String): SDF =
    s.read.parquet(s"$dir/$name.parquet")

  private def sqDist(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    Similarity.l2DistanceSq(a, b)

  /** Distributed k-means ([[Clustering.kmeansFit]], k=8) over the 64-dim
    * embeddings. Both the assignment and the centroid table are staged; the
    * OUTPUT is computed relationally from those staged rows (cluster sizes,
    * mean within-cluster distance, and a misassignment audit: rows whose
    * assigned-centroid distance exceeds the min over ALL centroids by more
    * than 1e-9 — zero when the argmin assignment is correct), so the oracle
    * recomputes every figure from identical inputs with its own list math. */
  private def qKmeans(s: SparkSession, dir: String): SDF = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
      .select(F.col("vec_id"), F.col("embedding").cast("array<double>").as("embedding"))
    val cents = Clustering.kmeansFit(emb, "embedding", k = 8)
    val assigned = QueryStage.stage(
      Clustering.kmeansAssign(emb, "embedding", cents), dir, "kmeans_assign")
    val centsDf = QueryStage.stage(
      cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cid", "centroid"), dir, "kmeans_cents")
    val dists = assigned.crossJoin(F.broadcast(centsDf))
      .select(F.col("vec_id"), F.col("cluster_id"), F.col("cid"),
        sqDist(F.col("embedding"), F.col("centroid")).as("d"))
    val perVec = dists.groupBy("vec_id", "cluster_id")
      .agg(F.min("d").as("mind"),
        F.min(F.when(F.col("cid") === F.col("cluster_id"), F.col("d"))).as("adist"))
    perVec.groupBy("cluster_id")
      .agg(F.count(F.lit(1)).as("n"),
        F.round(F.avg("adist"), 6).as("avg_dist"),
        F.sum(F.when(F.col("adist") > F.col("mind") + 1e-9, 1L).otherwise(0L))
          .as("misassigned"))
      .orderBy("cluster_id")
  }

  /** SemDeDup ([[Clustering.semanticDedup]] decomposed through the staging
    * seam): corpus = embeddings ∪ jittered copies of every 10th vector
    * (deterministic non-uniform scaling, cosine ≈ 0.9999975 to the original
    * vs ≤ 0.51 between natural rows — threshold 0.95 splits them cleanly).
    * L2-normalize → k-means(k=8) → stage (vec_id, cluster_id, nv) → within-
    * cluster dot ≥ τ pairs → connected components → min-id survivors. The
    * oracle rebuilds pairs + transitive closure from the staged assignment
    * with a recursive CTE (the q_dedup_pipeline shape). */
  private def qSemanticDedup(s: SparkSession, dir: String): SDF = {
    val emb = t(s, dir, "embeddings")
      .select(F.col("vec_id"), F.col("embedding").cast("array<double>").as("embedding"))
    val jit = emb.where(F.col("vec_id") % 10 === 1)
      .select((F.col("vec_id") + 100000L).as("vec_id"),
        F.zip_with(F.col("embedding"),
          F.sequence(F.lit(0), F.size(F.col("embedding")) - 1),
          (x, i) => x * (F.lit(1.0) + F.lit(0.001) * (i % 2))).as("embedding"))
    val corpus = emb.unionAll(jit)
    val norm = corpus.select(F.col("vec_id"),
      Similarity.l2Normalize(F.col("embedding")).as("nv"))
    val cents = Clustering.kmeansFit(norm, "nv", k = 8)
    val assigned = QueryStage.stage(
      Clustering.kmeansAssign(norm, "nv", cents), dir, "semdedup_assign")
    val pairs = Clustering.semanticPairs(assigned, "nv", "vec_id", threshold = 0.95)
    graft.ml.Dedup.dedupByClusters(assigned.select("vec_id"), "vec_id", pairs)
      .orderBy("vec_id")
  }

  /** DSIR importance log-weights ([[Sampling.dsirLogWeights]]): raw corpus =
    * all documents' hashed-bigram buckets (staged); target = the English
    * subset of the SAME staged buckets — so the oracle re-derives both
    * smoothed distributions and every per-doc weight from identical rows.
    * Rounded to 6 (sum-order ulp drift across engines). */
  private def qDsirWeights(s: SparkSession, dir: String): SDF = {
    val docs = t(s, dir, "documents")
    val rawB = QueryStage.stage(
      Sampling.hashedNgramBuckets(docs.select("doc_id", "text"), "text", "doc_id"), dir, "dsir_buckets")
    val tgtB = rawB.join(
      docs.where(F.col("lang") === "en").select("doc_id"), Seq("doc_id"))
    Sampling.dsirLogWeights(rawB, tgtB, "doc_id")
      .select(F.col("doc_id"), F.round(F.col("dsir_logw"), 6).as("dsir_logw"))
      .orderBy("doc_id")
  }

  /** fastText-shape quality classifier ([[graft.ml.Classifier]]): train
    * logistic weights over the SAME staged hashed-bigram features q_dsir
    * uses, labels = "is English" (separable via language-specific bigrams),
    * then score every document. Weights (+ bias at bucket = -1) are staged
    * so the oracle recomputes every σ(w·x + b) from identical doubles; the
    * TRAINING loop is validated by ClusteringSpec (deterministic zero-init
    * descent) and by the scores themselves being useful (AUC-separable). */
  private def qQualityClassifier(s: SparkSession, dir: String): SDF = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val feats = QueryStage.stage(
      Sampling.hashedNgramBuckets(docs.select("doc_id", "text"), "text", "doc_id"), dir, "dsir_buckets")
    val labels = docs.select(F.col("doc_id"),
      F.when(F.col("lang") === "en", 1).otherwise(0).as("label"))
    val model = graft.ml.Classifier.logisticFit(feats, labels, "doc_id",
      buckets = 4096, epochs = 30, lr = 2.0)
    val wrows = model.weights.toIndexedSeq.zipWithIndex
      .map { case (w, b) => (b, w) } :+ (-1, model.bias)
    val wDf = QueryStage.stage(wrows.toDF("bucket", "w"), dir, "qc_weights")
    val bias = wDf.where(F.col("bucket") === -1).select(F.col("w").as("b"))
    val margins = feats.join(wDf, Seq("bucket"))
      .groupBy("doc_id").agg(F.sum(F.col("cnt") * F.col("w")).as("mg"))
    docs.select("doc_id").join(margins, Seq("doc_id"), "left")
      .crossJoin(F.broadcast(bias))
      .select(F.col("doc_id"),
        F.round(F.lit(1.0) / (F.lit(1.0) +
          F.exp(-(F.coalesce(F.col("mg"), F.lit(0.0)) + F.col("b")))), 6)
          .as("quality_score"))
      .orderBy("doc_id")
  }

  /** CHAINED order-dependent ops under `.over(keys)` (round-9 keyedInput
    * machinery): the whole chain evaluates per key — shift→fill→cum_sum,
    * forward_fill→diff, cum_sum→rank. Null inputs are synthesized
    * (event_type = 'view' → null) so the structural-vs-value null paths hit
    * the gate; the frame is pre-sorted so the implicit row order is
    * (ts, event_id) and the oracle mirrors it with SQL windows. */
  private def qOverChain(s: SparkSession, dir: String): SDF = {
    import graft.Polars._
    import graft.api.LazyFrame
    val ev = t(s, dir, "events").transform(TestTables.normalizeEventsTs)
    LazyFrame(ev)
      .sortBy(Seq(col("ts"), col("event_id")))
      .withColumns(
        "nv" -> Polars.when(col("event_type") === "view").`then`(Polars.lit(null))
          .otherwise(col("value")),
        "sc" -> Polars.when(col("event_type") === "view").`then`(Polars.lit(null))
          .otherwise(col("value"))
          .shift(1).fillNull(0).cumSum().over(col("user_id")),
        "fd" -> Polars.when(col("event_type") === "view").`then`(Polars.lit(null))
          .otherwise(col("value"))
          .forwardFill.diff(1).over(col("user_id")),
        "cr" -> col("value").cumSum().rank("min").over(col("user_id")))
      .select(col("event_id"), col("sc"), col("fd"), col("cr"))
      .sortBy(Seq(col("event_id")))
      .toSpark
  }

  /** Order-dependent exprs INSIDE dynamic windows (the round-9 GroupBy
    * delegation): per-6h-window running sums as lists (exploded to scalar
    * rows with a 1-based position so the gate can hash them), an
    * aggregate-of-scanned scalar, and polars' implicit implode of a bare
    * column. Frame pre-sorted so within-window order is (ts, event_id). */
  private def qGbdScan(s: SparkSession, dir: String): SDF = {
    import graft.Polars._
    import graft.api.LazyFrame
    val ev = t(s, dir, "events").transform(TestTables.normalizeEventsTs)
    LazyFrame(ev)
      .sortBy(Seq(col("ts"), col("event_id")))
      .groupByDynamic("ts", every = "6h")
      .agg(
        col("value").cumSum().alias("cs_list"),
        col("value").shift(1).sum.alias("ss"),
        col("event_id").alias("ids"))
      .explodeWith("pos", "cs_list", "ids")
      .withColumns(
        "pos" -> graft.expr.Expr((F.col("pos") + F.lit(1)).cast("long")),
        "cs" -> col("cs_list"), "eid" -> col("ids"))
      .select(col("ts"), col("pos"), col("eid"), col("cs"), col("ss"))
      .sortBy(Seq(col("ts"), col("pos")))
      .toSpark
  }

  def queries: Map[String, (SparkSession, String) => SDF] = Map(
    "q_kmeans" -> (qKmeans _),
    "q_semantic_dedup" -> (qSemanticDedup _),
    "q_dsir_weights" -> (qDsirWeights _),
    "q_quality_classifier" -> (qQualityClassifier _),
    "q_over_chain" -> (qOverChain _),
    "q_gbd_scan" -> (qGbdScan _))

  def oracleSql: Map[String, String] = Map(
    "q_kmeans" ->
      """WITH a AS (SELECT * FROM '/tmp/graft_stage/sf0.01/kmeans_assign/*.parquet'),
        |c AS (SELECT * FROM '/tmp/graft_stage/sf0.01/kmeans_cents/*.parquet'),
        |d AS (SELECT a.vec_id, a.cluster_id, c.cid,
        |  list_sum(list_transform(range(1, len(a.embedding) + 1),
        |    i -> (a.embedding[i] - c.centroid[i]) * (a.embedding[i] - c.centroid[i]))) AS dist
        |  FROM a CROSS JOIN c),
        |m AS (SELECT vec_id, cluster_id, min(dist) AS mind,
        |  min(CASE WHEN cid = cluster_id THEN dist END) AS adist
        |  FROM d GROUP BY 1, 2)
        |SELECT cluster_id, count(*) AS n, round(avg(adist), 6) AS avg_dist,
        |  CAST(sum(CASE WHEN adist > mind + 1e-9 THEN 1 ELSE 0 END) AS BIGINT) AS misassigned
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_semantic_dedup" ->
      """WITH RECURSIVE a AS (
        |  SELECT * FROM '/tmp/graft_stage/sf0.01/semdedup_assign/*.parquet'
        |), e AS (
        |  SELECT x.vec_id AS p, y.vec_id AS q
        |  FROM a x JOIN a y ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
        |  WHERE list_dot_product(x.nv, y.nv) >= 0.95
        |), es AS (
        |  SELECT p, q FROM e UNION SELECT q, p FROM e
        |), r(src, dst) AS (
        |  SELECT vec_id, vec_id FROM a
        |  UNION
        |  SELECT r.src, es.q FROM r JOIN es ON es.p = r.dst
        |)
        |SELECT src AS vec_id FROM r GROUP BY src HAVING min(dst) = src
        |ORDER BY vec_id""".stripMargin,
    "q_dsir_weights" ->
      """WITH rb AS (SELECT * FROM '/tmp/graft_stage/sf0.01/dsir_buckets/*.parquet'),
        |tb AS (SELECT rb.* FROM rb JOIN documents d USING (doc_id) WHERE d.lang = 'en'),
        |r AS (SELECT bucket, sum(cnt) AS cr FROM rb GROUP BY 1),
        |t AS (SELECT bucket, sum(cnt) AS ct FROM tb GROUP BY 1),
        |j AS (SELECT coalesce(r.bucket, t.bucket) AS bucket,
        |  coalesce(cr, 0) AS cr, coalesce(ct, 0) AS ct
        |  FROM r FULL JOIN t ON r.bucket = t.bucket),
        |tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM j),
        |lr AS (SELECT bucket,
        |  ln((ct + 1.0) / (tt + 4096.0)) - ln((cr + 1.0) / (tr + 4096.0)) AS lr
        |  FROM j CROSS JOIN tot)
        |SELECT doc_id, round(sum(cnt * lr), 6) AS dsir_logw
        |FROM rb JOIN lr USING (bucket)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_quality_classifier" ->
      """WITH rb AS (SELECT * FROM '/tmp/graft_stage/sf0.01/dsir_buckets/*.parquet'),
        |wt AS (SELECT * FROM '/tmp/graft_stage/sf0.01/qc_weights/*.parquet'),
        |b AS (SELECT w AS bias FROM wt WHERE bucket = -1),
        |m AS (SELECT rb.doc_id, sum(rb.cnt * wt.w) AS mg
        |  FROM rb JOIN wt ON rb.bucket = wt.bucket GROUP BY 1)
        |SELECT d.doc_id,
        |  round(1.0 / (1.0 + exp(-(coalesce(m.mg, 0.0) + b.bias))), 6) AS quality_score
        |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id CROSS JOIN b
        |ORDER BY d.doc_id""".stripMargin,
    "q_over_chain" ->
      """SELECT event_id,
        |sum(coalesce(lnv, 0)) OVER wr AS sc,
        |ffv - lag(ffv) OVER w AS fd,
        |CAST(rank() OVER (PARTITION BY user_id ORDER BY cs) AS INTEGER) AS cr
        |FROM (
        |  SELECT event_id, user_id, ts,
        |    lag(nv) OVER w0 AS lnv,
        |    last_value(nv IGNORE NULLS) OVER wr0 AS ffv,
        |    sum(value) OVER wr0 AS cs
        |  FROM (SELECT event_id, user_id, value, ts,
        |          CASE WHEN event_type = 'view' THEN NULL ELSE value END AS nv
        |        FROM events)
        |  WINDOW w0 AS (PARTITION BY user_id ORDER BY ts, event_id),
        |    wr0 AS (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |  wr AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q_gbd_scan" ->
      """WITH e AS (
        |  SELECT CAST(time_bucket(INTERVAL '6 hours', ts, TIMESTAMP '1970-01-01') AS TIMESTAMP) AS w,
        |    event_id, value, ts
        |  FROM events),
        |b AS (SELECT w, event_id, value,
        |  row_number() OVER (PARTITION BY w ORDER BY ts, event_id) AS pos,
        |  sum(value) OVER (PARTITION BY w ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
        |  count(*) OVER (PARTITION BY w) AS n
        |  FROM e)
        |SELECT w AS ts, CAST(pos AS BIGINT) AS pos, event_id AS eid, cs,
        |  max(CASE WHEN pos = n - 1 THEN cs END) OVER (PARTITION BY w) AS ss
        |FROM b ORDER BY ts, pos""".stripMargin)
}
