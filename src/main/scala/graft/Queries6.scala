package graft

import org.apache.spark.sql.{SparkSession, DataFrame => SDF, functions => F}
import org.apache.spark.sql.types.LongType
import graft.api.LazyFrame
import graft.expr.Expr
import graft.Polars._
import graft.ml.{Dedup, Similarity, TextAnalysis}

/** Wave-6 driver queries: frame-level rolling, dt.round, string affixes /
  * multi-needle / split_exact, embedding LSH + IVF paths. */
object Queries6 {

  private def t(s: SparkSession, dir: String, name: String): SDF =
    s.read.parquet(s"$dir/$name.parquet")
  private def lf(s: SparkSession, dir: String, name: String): LazyFrame =
    LazyFrame(t(s, dir, name))
  private def events(s: SparkSession, dir: String): LazyFrame =
    LazyFrame(t(s, dir, "events")
      .transform(TestTables.normalizeEventsTs))

  /** Library rolling() API — trailing 2h window per user. */
  private def qRollingFrame(s: SparkSession, dir: String): SDF =
    events(s, dir)
      .rolling("ts", "2h", by = Seq("user_id"), closed = "both")
      .aggKeep(
        "roll_sum" -> col("value").sum,
        "roll_n" -> Expr(F.count(F.lit(1))))
      .select(col("event_id"), col("roll_sum"), col("roll_n"))
      .sortBy(Seq(col("event_id")))
      .collect().toSpark

  private def qDtRound(s: SparkSession, dir: String): SDF =
    events(s, dir)
      .select(
        col("event_id"),
        col("ts").dt.round("15m").dt.epoch("s").alias("rounded_ep"),
        col("ts").dt.truncate("15m").dt.epoch("s").alias("trunc_ep"),
        col("ts").dt.round("1mo").dt.epoch("s").alias("mo_ep"),
        col("ts").dt.round("1y").dt.epoch("s").alias("yr_ep"))
      .sortBy(Seq(col("event_id")))
      .collect().toSpark

  private def qStrAffix(s: SparkSession, dir: String): SDF =
    lf(s, dir, "part")
      .select(
        col("p_partkey"),
        col("p_brand").str.stripPrefix("Brand#").alias("brand_id"),
        col("p_name").str.stripSuffix("e").alias("name_noe"),
        col("p_type").str.toTitlecase.alias("type_title"))
      .sortBy(Seq(col("p_partkey")))
      .collect().toSpark

  private def qContainsAny(s: SparkSession, dir: String): SDF =
    lf(s, dir, "documents")
      .withColumn("hit", col("text").str.containsAny(Seq("spark", "query", "table")))
      .groupBy("hit")
      .agg(Expr(F.count(F.lit(1))).alias("n"))
      .sortBy(Seq(col("hit")))
      .collect().toSpark

  private def qSplitExact(s: SparkSession, dir: String): SDF =
    lf(s, dir, "nation")
      .withColumn("parts", Polars.concatStr(Seq(col("n_name"), col("n_regionkey")), ":").str.splitExact(":", 1))
      .select(
        col("n_nationkey"),
        col("parts").struct.field("field_0").alias("left_part"),
        col("parts").struct.field("field_1").alias("right_part"))
      .sortBy(Seq(col("n_nationkey")))
      .collect().toSpark

  /** Embedding near-dup candidates via hyperplane LSH — (id, vec, bucket)
    * rows staged as fp64 so the oracle re-derives the same-bucket pairs and
    * cosines from identical data. Ordered by the ROUNDED cosine so ulp-level
    * fp noise cannot reorder the limit boundary between engines. */
  private def qEmbeddingPairs(s: SparkSession, dir: String): SDF = {
    val sig = QueryStage.stage(
      t(s, dir, "embeddings").filter(F.col("vec_id") < 500)
        .select(F.col("vec_id"),
          F.col("embedding").cast("array<double>").as("embedding"),
          Dedup.hyperplaneBucket(F.col("embedding"), nPlanes = 8).as("bucket")), dir, "embedding_buckets")
    Dedup.embeddingCandidatesFromBuckets(sig, "embedding", "vec_id")
      .select(F.col("id_a"), F.col("id_b"), F.round(F.col("cosine"), 6).as("cosine"))
      .orderBy(F.col("cosine").desc, F.col("id_a"), F.col("id_b"))
      .limit(100)
  }

  /** IVF assign + probe search: cell assignments AND the probed cell ids are
    * staged, so the oracle verifies cell membership + cosine + top-k over
    * identical rows (3 of 8 cells probed — the pruning actually prunes). */
  private def qIvfTopK(s: SparkSession, dir: String): SDF = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    // same stages q_ivf_rerank shares
    val staged = QueryStage.stage(
      Similarity.ivfAssign(emb, "embedding", nCells = 8)
        .select(F.col("vec_id"), F.col("cell_id"),
          F.col("embedding").cast("array<double>").as("embedding")), dir, "ivf_cells")
    val query =
      staged.filter(F.col("vec_id") === 1)
        .select("embedding").collect()(0).getSeq[Double](0)
    val centroids = Similarity.sampleCentroids(emb, "embedding", 8)
    val probeCells = Similarity.nearestCells(centroids.toSeq, query, 3)
    val probes = QueryStage.stage(probeCells.toDF("cell_id"), dir, "ivf_probes")
    staged.join(probes, Seq("cell_id"))
      .select(F.col("vec_id"),
        F.round(Similarity.cosine(F.col("embedding"),
          F.array(query.map(F.lit): _*)), 6).as("cosine"))
      .orderBy(F.col("cosine").desc, F.col("vec_id"))
      .limit(5)
  }

  /** Batch sessionization: gaps-and-islands per user with a 2h gap — the
    * batch twin of q_streaming_session, as a library operator. */
  private def qSessionize(s: SparkSession, dir: String): SDF = {
    val sess = graft.ml.Sessionize.assign(
      events(s, dir).toSpark, "ts", Seq("user_id"), gapMicros = 2L * 3600 * 1000000)
    graft.ml.Sessionize.stats(sess, "ts", Seq("user_id"))
      .orderBy("user_id", "session")
  }

  /** Encoding-health curation signals: mojibake / control-byte / non-ASCII
    * ratios per document (exact int-division doubles — engine-identical). */
  private def qEncodingQuality(s: SparkSession, dir: String): SDF =
    t(s, dir, "documents")
      .select(F.col("doc_id"), TextAnalysis.encodingSignals(F.col("text")).as("sig"))
      .select(F.col("doc_id"), F.col("sig.replacement_ratio").as("replacement_ratio"),
        F.col("sig.control_ratio").as("control_ratio"),
        F.col("sig.non_ascii_ratio").as("non_ascii_ratio"))
      .orderBy("doc_id")

  /** PQ (product-quantized) ANN: codebooks trained driver-side (model
    * state), corpus encoded executor-side to 8 sub-codes, search via an ADC
    * lookup table. Codes and the query's LUT are staged so the oracle
    * re-derives the gather-and-sum + top-k from identical rows. */
  private def qPqTopK(s: SparkSession, dir: String): SDF = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val codebooks = Similarity.pqTrain(emb, "embedding", m = 8, k = 16)
    val codes = QueryStage.stage(
      Similarity.pqEncode(emb, "embedding", "vec_id", codebooks), dir, "pq_codes")
    val query =
      emb.filter(F.col("vec_id") === 1)
        .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble).toSeq
    val lut = Similarity.pqLut(query, codebooks)
    val lutRows = for (j <- lut.indices; c <- lut(j).indices) yield (j + 1, c, lut(j)(c))
    // the lut is staged for the ORACLE (which re-derives the gather-and-sum
    // from the rows); the Spark side searches through the literal-LUT fold
    // ([[Similarity.pqAdcDistance]]) — a narrow map + TakeOrderedAndProject,
    // no explode/shuffle (the round-9 explode+join spelling cost ~3× and
    // shuffled an 8× row blowup; both sides still rank on the 6-dp round)
    QueryStage.stagePath(lutRows.toDF("j", "code", "sq"), dir, "pq_lut", "parquet")
    codes.select(F.col("vec_id"),
        F.round(Similarity.pqAdcDistance(F.col("codes"), lut), 6).as("dist"))
      .orderBy(F.col("dist").asc, F.col("vec_id"))
      .limit(10)
  }

  /** Multimodal plumbing against an arithmetic oracle: treat text bytes as an
    * opaque payload, frame-sample every 2nd 256-byte chunk, count frames. */
  private def qMultimodalFrames(s: SparkSession, dir: String): SDF = {
    val docs = t(s, dir, "documents")
      .select(F.col("doc_id"), F.col("text").cast("binary").as("payload"))
    graft.ml.Multimodal.sampleFrames(docs, "payload", everyNth = 2, frameBytes = 256)
      .groupBy("doc_id")
      .agg(F.count(F.lit(1)).as("n_sampled"),
        F.max(F.octet_length(F.col("frame_payload"))).as("max_frame_bytes"))
      .orderBy("doc_id")
  }

  /** group_by with expression keys (reference group_by keys-as-exprs). */
  private def qGroupExprKey(s: SparkSession, dir: String): SDF =
    lf(s, dir, "orders")
      .groupByExprs(
        col("o_orderpriority").str.slice(0, Some(1)).alias("prio_code"),
        (col("o_totalprice") > 200000).alias("is_big"))
      .agg(Expr(F.count(F.lit(1))).alias("n"),
        graft.DecimalDiscipline.decSum(col("o_totalprice"), 2).alias("total"))
      .sortBy(Seq(col("prio_code"), col("is_big")))
      .collect().toSpark

  /** str.json_decode with an explicit schema (from_json), distinct from the
    * json-path extraction in q_str_json. */
  private def qJsonDecode(s: SparkSession, dir: String): SDF =
    events(s, dir)
      .withColumn("j", col("props").str.jsonDecode(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType)))))
      .select(col("event_id"), col("j").struct.field("k").alias("k_decoded"))
      .sortBy(Seq(col("event_id")))
      .collect().toSpark

  /** Watermarked tumbling-window streaming aggregation (the true streaming
    * twin of group_by_dynamic): file-stream the events, 6h windows per
    * event_type with a 1h watermark, drain via AvailableNow into a memory
    * table. Oracle-checked against the equivalent batch time_bucket SQL —
    * streaming partial aggregation must agree with batch. */
  private def qStreamingWindow(s: SparkSession, dir: String): SDF = {
    implicit val sp: SparkSession = s
    val schema = t(s, dir, "events").schema
    val root = QueryStage.streamRoot("swin")
    val in = graft.streaming.Streaming.linkedInput(root, dir, "events")
    val stream = graft.streaming.Streaming.scanParquetStream(in, schema)
      .transform(TestTables.normalizeEventsTs)
    val windowed = graft.streaming.Streaming.windowedAgg(
      stream, "ts", "6 hours", by = Seq("event_type"),
      aggs = Seq(F.count(F.lit(1)).as("n"),
        graft.DecimalDiscipline.decSumCol(F.col("value"), 2).as("sv")))
    // state-store commits cost ~constant per partition per batch; the windowed
    // state here is tiny (types × windows), so run the stream narrow
    graft.streaming.Streaming.tunedDrain(4) {
      graft.streaming.Streaming.drainToParquet(windowed, root)
        .select(F.col("event_type"), F.col("window.start").as("ts"),
          F.col("n"), F.col("sv"))
        .orderBy("event_type", "ts")
    }
  }

  /** str.to_time round trip: format each event's time-of-day then parse it
    * back to nanos-since-midnight (the Time physical type, §1.2). */
  private def qToTime(s: SparkSession, dir: String): SDF =
    events(s, dir)
      .select(col("event_id"),
        col("ts").dt.strftime("%H:%M:%S").str.toTime().alias("tod_ns"))
      .sortBy(Seq(col("event_id")))
      .collect().toSpark

  /** str.splitn: first token + remainder (limit-2 split, nulls when absent). */
  private def qSplitn(s: SparkSession, dir: String): SDF =
    lf(s, dir, "documents")
      .withColumn("parts", col("text").str.splitn(" ", 2))
      .select(
        col("doc_id"),
        col("parts").struct.field("field_0").alias("w0"),
        col("parts").struct.field("field_1").alias("rest"))
      .sortBy(Seq(col("doc_id")))
      .collect().toSpark

  /** Streaming dedup-within-watermark over the events stream: one row per
    * user_id (watermark wider than the data's time span, so no key re-emits).
    * Projects only the key so the kept-row choice (arrival order) cannot leak
    * into the compare; oracle is plain DISTINCT. */
  private def qStreamingDedup(s: SparkSession, dir: String): SDF = {
    implicit val sp: SparkSession = s
    val schema = t(s, dir, "events").schema
    val root = QueryStage.streamRoot("sdedup")
    val in = graft.streaming.Streaming.linkedInput(root, dir, "events")
    val stream = graft.streaming.Streaming.scanParquetStream(in, schema)
      .transform(TestTables.normalizeEventsTs)
    val deduped = graft.streaming.Streaming.dedupWithinWatermark(
      stream, Seq("user_id"), "ts", watermark = "60 days")
    graft.streaming.Streaming.tunedDrain(4) {
      graft.streaming.Streaming.drainToParquet(deduped, root, mode = "append")
        .select(F.col("user_id")).orderBy("user_id")
    }
  }

  /** Structured-Streaming round trip (out-of-core sink_* semantics, §2.9):
    * stream the events parquet → AvailableNow sink → read back → aggregate.
    * Oracle-checked: the streamed copy must be byte-equivalent. */
  private def qStreamingSink(s: SparkSession, dir: String): SDF = {
    implicit val sp: SparkSession = s
    val schema = t(s, dir, "events").schema
    val root = QueryStage.streamRoot("ssink")
    // file stream sources take directories: link the single parquet into one
    val in = graft.streaming.Streaming.linkedInput(root, dir, "events")
    val out = new java.io.File(root, "out").getAbsolutePath
    val stream = graft.streaming.Streaming.scanParquetStream(in, schema)(s)
    graft.streaming.Streaming.tunedDrain(4) {
      graft.streaming.Streaming.sinkParquet(
        stream, out, new java.io.File(root, "cp").getAbsolutePath)
    }
    s.read.parquet(out)
      .groupBy("event_type")
      .agg(F.count(F.lit(1)).as("n"),
        graft.DecimalDiscipline.decSumCol(F.col("value"), 2).as("sv"))
      .orderBy("event_type")
  }

  def queries: Map[String, (SparkSession, String) => SDF] = Map(
    "q_streaming_window" -> (qStreamingWindow _),
    "q_streaming_dedup" -> (qStreamingDedup _),
    "q_to_time" -> (qToTime _),
    "q_splitn" -> (qSplitn _),
    "q_streaming_sink" -> (qStreamingSink _),
    "q_json_decode" -> (qJsonDecode _),
    "q_group_expr_key" -> (qGroupExprKey _),
    "q_multimodal_frames" -> (qMultimodalFrames _),
    "q_rolling_frame" -> (qRollingFrame _),
    "q_dt_round" -> (qDtRound _),
    "q_str_affix" -> (qStrAffix _),
    "q_contains_any" -> (qContainsAny _),
    "q_split_exact" -> (qSplitExact _),
    "q_embedding_pairs" -> (qEmbeddingPairs _),
    "q_ivf_topk" -> (qIvfTopK _),
    "q_pq_topk" -> (qPqTopK _),
    "q_encoding_quality" -> (qEncodingQuality _),
    "q_sessionize" -> (qSessionize _),
  )

  def oracleSql: Map[String, String] = Map(
    "q_streaming_window" ->
      """SELECT event_type, CAST(time_bucket(INTERVAL '6 hours', ts, TIMESTAMP '1970-01-01') AS TIMESTAMP) AS ts,
        |count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_streaming_dedup" ->
      "SELECT DISTINCT user_id FROM events ORDER BY user_id",
    "q_to_time" ->
      """SELECT event_id,
        |CAST((date_part('hour', ts) * 3600 + date_part('minute', ts) * 60
        |  + date_part('second', ts)) AS BIGINT) * 1000000000 AS tod_ns
        |FROM events ORDER BY event_id""".stripMargin,
    "q_splitn" ->
      """SELECT doc_id,
        |CASE WHEN strpos(text, ' ') > 0 THEN substr(text, 1, strpos(text, ' ') - 1)
        |     ELSE text END AS w0,
        |CASE WHEN strpos(text, ' ') > 0 THEN substr(text, strpos(text, ' ') + 1)
        |     ELSE NULL END AS rest
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_streaming_sink" ->
      """SELECT event_type, count(*) AS n,
        |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_json_decode" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k_decoded
        |FROM events ORDER BY event_id""".stripMargin,
    "q_group_expr_key" ->
      """SELECT substr(o_orderpriority, 1, 1) AS prio_code,
        |o_totalprice > 200000 AS is_big, count(*) AS n,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_multimodal_frames" ->
      """SELECT doc_id,
        |CAST(floor((greatest(floor(length(text) / 256), 1) - 1) / 2) + 1 AS BIGINT) AS n_sampled,
        |CAST(least(length(text), 256) AS INT) AS max_frame_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_rolling_frame" ->
      """SELECT event_id, sum(value) OVER w AS roll_sum, count(*) OVER w AS roll_n
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 2 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q_dt_round" ->
      """SELECT event_id,
        |CAST(round(epoch_us(ts) / 900000000.0) * 900 AS BIGINT) AS rounded_ep,
        |CAST(floor(epoch_us(ts) / 900000000.0) * 900 AS BIGINT) AS trunc_ep,
        |CAST(CASE WHEN epoch_us(ts) >= epoch_us(date_trunc('month', ts))
        |    + (epoch_us(date_trunc('month', ts) + INTERVAL 1 MONTH)
        |       - epoch_us(date_trunc('month', ts))) // 2
        |  THEN epoch_us(date_trunc('month', ts) + INTERVAL 1 MONTH) // 1000000
        |  ELSE epoch_us(date_trunc('month', ts)) // 1000000 END AS BIGINT) AS mo_ep,
        |CAST(CASE WHEN epoch_us(ts) >= epoch_us(date_trunc('year', ts))
        |    + (epoch_us(date_trunc('year', ts) + INTERVAL 1 YEAR)
        |       - epoch_us(date_trunc('year', ts))) // 2
        |  THEN epoch_us(date_trunc('year', ts) + INTERVAL 1 YEAR) // 1000000
        |  ELSE epoch_us(date_trunc('year', ts)) // 1000000 END AS BIGINT) AS yr_ep
        |FROM events ORDER BY event_id""".stripMargin,
    "q_str_affix" ->
      """SELECT p_partkey,
        |CASE WHEN starts_with(p_brand, 'Brand#') THEN substr(p_brand, 7) ELSE p_brand END AS brand_id,
        |CASE WHEN ends_with(p_name, 'e') THEN substr(p_name, 1, length(p_name) - 1) ELSE p_name END AS name_noe,
        |list_aggregate(list_transform(string_split(p_type, ' '),
        |  w -> upper(substr(w, 1, 1)) || lower(substr(w, 2))), 'string_agg', ' ') AS type_title
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_contains_any" ->
      """SELECT (contains(text, 'spark') OR contains(text, 'query')
        |OR contains(text, 'table')) AS hit, count(*) AS n
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_split_exact" ->
      """SELECT n_nationkey,
        |string_split(n_name || ':' || n_regionkey, ':')[1] AS left_part,
        |string_split(n_name || ':' || n_regionkey, ':')[2] AS right_part
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    // q_embedding_pairs / q_ivf_topk: bucket/cell signatures staged by the
    // query (QueryStage) — the oracle re-derives bucket-equality pairs /
    // probed-cell top-k + cosine from the staged fp64 rows. Paths assume the
    // driver's sf0.01 verify run.
    "q_embedding_pairs" ->
      """WITH s AS (SELECT * FROM '/tmp/graft_stage/sf0.01/embedding_buckets/*.parquet')
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.embedding, b.embedding) /
        |    (sqrt(list_dot_product(a.embedding, a.embedding)) *
        |     sqrt(list_dot_product(b.embedding, b.embedding))), 6) AS cosine
        |FROM s a JOIN s b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |ORDER BY cosine DESC, id_a, id_b LIMIT 100""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(date_trunc('microseconds', ts)) AS us FROM events
        |), flagged AS (
        |  SELECT user_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 7200000000
        |         THEN 1 ELSE 0 END AS st
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
        |), sess AS (
        |  SELECT user_id, us,
        |    CAST(sum(st) OVER (PARTITION BY user_id ORDER BY us) - 1 AS BIGINT) AS session
        |  FROM flagged
        |)
        |SELECT user_id, session, min(us) AS start_us, max(us) AS end_us,
        |  count(*) AS n_events, max(us) - min(us) AS duration_us
        |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_encoding_quality" ->
      """SELECT doc_id,
        |len(regexp_extract_all(text, '�')) / greatest(length(text), 1) AS replacement_ratio,
        |len(regexp_extract_all(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]')) / greatest(length(text), 1) AS control_ratio,
        |len(regexp_extract_all(text, '[^\x00-\x7F]')) / greatest(length(text), 1) AS non_ascii_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_pq_topk" ->
      """WITH c AS (SELECT * FROM '/tmp/graft_stage/sf0.01/pq_codes/*.parquet'),
        |l AS (SELECT * FROM '/tmp/graft_stage/sf0.01/pq_lut/*.parquet')
        |SELECT vec_id, round(sqrt(d), 6) AS dist FROM (
        |  SELECT c.vec_id, sum(l.sq) AS d
        |  FROM c CROSS JOIN range(1, 9) t(j)
        |  JOIN l ON l.j = t.j AND l.code = c.codes[t.j]
        |  GROUP BY 1)
        |ORDER BY dist, vec_id LIMIT 10""".stripMargin,
    "q_ivf_topk" ->
      """WITH s AS (SELECT * FROM '/tmp/graft_stage/sf0.01/ivf_cells/*.parquet'),
        |probes AS (SELECT cell_id FROM '/tmp/graft_stage/sf0.01/ivf_probes/*.parquet'),
        |q AS (SELECT embedding AS qe FROM s WHERE vec_id = 1)
        |SELECT s.vec_id,
        |  round(list_dot_product(s.embedding, q.qe) /
        |    (sqrt(list_dot_product(s.embedding, s.embedding)) *
        |     sqrt(list_dot_product(q.qe, q.qe))), 6) AS cosine
        |FROM s JOIN probes USING (cell_id), q
        |ORDER BY cosine DESC, s.vec_id LIMIT 5""".stripMargin,
  )
}
