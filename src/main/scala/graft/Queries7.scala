package graft

import org.apache.spark.sql.{Column, SparkSession, DataFrame => SDF, functions => F}
import graft.api.LazyFrame
import graft.Polars._

/** Wave-7 driver queries (round 3): timezone-offset components and the
  * multimodal header parsers exercised end-to-end with full value oracles.
  * The binary parsers are fed declaratively-constructed payloads (PNG is
  * big-endian, WAV little-endian — both built from hex strings per row), so
  * the oracle can recompute the expected fields arithmetically while the
  * Spark side must round-trip them through real byte parsing.
  */
object Queries7 {

  private def t(s: SparkSession, dir: String, name: String): SDF =
    s.read.parquet(s"$dir/$name.parquet")
  private def events(s: SparkSession, dir: String): LazyFrame =
    LazyFrame(t(s, dir, "events")
      .transform(TestTables.normalizeEventsTs))

  // hex builders: Spark's hex() is big-endian; WAV needs little-endian, which
  // is a byte-pair reversal of the padded hex string
  private def be32hex(c: Column): Column = F.lpad(F.hex(c.cast("bigint")), 8, "0")
  private def le32hex(c: Column): Column = {
    val h = be32hex(c)
    F.concat(F.substring(h, 7, 2), F.substring(h, 5, 2), F.substring(h, 3, 2), F.substring(h, 1, 2))
  }
  private def le16hex(c: Column): Column = {
    val h = F.lpad(F.hex(c.cast("bigint")), 4, "0")
    F.concat(F.substring(h, 3, 2), F.substring(h, 1, 2))
  }

  /** dt.base_utc_offset / dt.dst_offset per event instant, for a northern
    * zone (NY: DST inactive in the January data → dst 0) and a southern zone
    * (Sydney: DST active → dst +1h). Exercises [[graft.ext.TzOffset]]'s JVM
    * tz-database rules; the oracle rederives both components from DuckDB's
    * ICU timezone conversion (standard = min of the Jan-15/Jul-15 offsets,
    * which is exact for zones whose DST adds time). */
  private def qTzOffset(s: SparkSession, dir: String): SDF =
    events(s, dir)
      .select(
        col("event_id"),
        col("ts").dt.baseUtcOffset("America/New_York").alias("base_ny"),
        col("ts").dt.dstOffset("America/New_York").alias("dst_ny"),
        col("ts").dt.baseUtcOffset("Australia/Sydney").alias("base_syd"),
        col("ts").dt.dstOffset("Australia/Sydney").alias("dst_syd"))
      .sortBy(Seq(col("event_id")))
      .collect().toSpark

  /** PNG header parse round trip: build a valid IHDR prefix per doc (width/
    * height/color type derived from doc_id), then recover the fields through
    * [[graft.ml.Multimodal.withImageMeta]]'s byte parsing. */
  private def qImageMeta(s: SparkSession, dir: String): SDF = {
    val d = t(s, dir, "documents").select(F.col("doc_id"))
    val w = (F.col("doc_id") % 1920 + 1).cast("int")
    val h = (F.col("doc_id") % 1080 + 1).cast("int")
    // color type cycles gray(1ch) / rgb(3ch) / rgba(4ch)
    val colorHex = F.when(F.col("doc_id") % 3 === 0, "00")
      .when(F.col("doc_id") % 3 === 1, "02")
      .otherwise("06")
    val hexStr = F.concat(
      F.lit("89504E470D0A1A0A" + "0000000D" + "49484452"), // magic + len + IHDR
      be32hex(w), be32hex(h), F.lit("08"), colorHex)
    val withPayload = d.withColumn("payload", F.unhex(hexStr))
    graft.ml.Multimodal.withImageMeta(withPayload, "payload")
      .select(F.col("doc_id"), F.col("meta.format").as("format"),
        F.col("meta.width").as("width"), F.col("meta.height").as("height"),
        F.col("meta.channels").as("channels"))
      .orderBy("doc_id")
  }

  /** REAL codec round trip ([[graft.ml.Multimodal.encodeGrayPng]] →
    * [[graft.ml.Multimodal.decodeImages]]): per doc a small gray image whose
    * pixel FORMULA is declarative — pixel(i) = (doc_id·31 + (i mod w)·7 +
    * (i div w)·13) mod 256 — is encoded to actual PNG bytes and decoded back
    * with `javax.imageio`, and the luma sums must land on what the DuckDB
    * oracle computes arithmetically from the same formula (the q_image_meta
    * pattern, extended from headers to pixels). mean_luma is one exact
    * integer-over-integer division in double on both sides. */
  private def qImageDecode(s: SparkSession, dir: String): SDF = {
    val d = t(s, dir, "documents").select(F.col("doc_id"))
      .filter(F.col("doc_id") < 300)
      .withColumn("w", (F.col("doc_id") % 7 + 2).cast("int"))
      .withColumn("h", (F.col("doc_id") % 5 + 2).cast("int"))
    val withPx = d.withColumn("px", F.transform(
      F.sequence(F.lit(0), F.col("w") * F.col("h") - 1),
      i => (F.col("doc_id") * 31 + (i % F.col("w")) * 7 +
        F.floor(i / F.col("w")) * 13) % 256)) // Column./ is double division; floor recovers i div w exactly (i < 2^53)
    val enc = graft.ml.Multimodal.encodeGrayPng(withPx, "px", "w", "h")
    graft.ml.Multimodal.decodeImages(enc, "payload")
      .select(F.col("doc_id"),
        F.col("decoded.width").as("width"),
        F.col("decoded.height").as("height"),
        F.col("decoded.channels").as("channels"),
        F.col("decoded.luma_sum").as("luma_sum"),
        F.col("decoded.mean_luma").as("mean_luma"),
        F.col("decoded.weighted_sum").as("weighted_sum"))
      .orderBy("doc_id")
  }

  /** WAV header parse round trip: build a canonical 44-byte PCM header per
    * doc (channels/rate/size from doc_id, little-endian), recover the fields
    * through [[graft.ml.Multimodal.withAudioMeta]] — including the duration
    * division and the chunk-id validation at fixed offsets. */
  private def qAudioMeta(s: SparkSession, dir: String): SDF = {
    val d = t(s, dir, "documents").select(F.col("doc_id"))
    val ch = (F.col("doc_id") % 2 + 1).cast("int")            // 1..2
    val rate = ((F.col("doc_id") % 5 + 1) * 8000).cast("int") // 8k..40k
    val dataSize = ((F.col("doc_id") % 997 + 1) * 4).cast("int")
    val byteRate = ch * rate * 2
    val blockAlign = ch * 2
    val hexStr = F.concat(
      F.lit("52494646"), le32hex(dataSize + 36), F.lit("57415645"), // RIFF size WAVE
      F.lit("666D7420" + "10000000" + "0100"),  // 'fmt ' size=16 audio_format=1
      le16hex(ch), le32hex(rate), le32hex(byteRate), le16hex(blockAlign),
      F.lit("1000"),                            // bits_per_sample = 16
      F.lit("64617461"), le32hex(dataSize))     // 'data' size
    val withPayload = d.withColumn("payload", F.unhex(hexStr))
    graft.ml.Multimodal.withAudioMeta(withPayload, "payload")
      .select(F.col("doc_id"), F.col("audio_meta.format").as("format"),
        F.col("audio_meta.channels").as("channels"),
        F.col("audio_meta.sample_rate").as("sample_rate"),
        F.col("audio_meta.bits_per_sample").as("bits_per_sample"),
        F.col("audio_meta.duration_s").as("duration_s"))
      .orderBy("doc_id")
  }

  /** Near-dup clustering end-to-end on a deterministic graph: edges connect
    * consecutive doc_ids sharing a language, so components are the maximal
    * same-lang runs — which a gaps-and-islands SQL oracle can rederive while
    * the Spark side runs the REAL distributed connected-components loop
    * (min-label propagation + pointer jumping) that near-dup dedup uses on
    * minhash candidate pairs at corpus scale. */
  private def qDedupCluster(s: SparkSession, dir: String): SDF = {
    val d = t(s, dir, "documents").select(F.col("doc_id"), F.col("lang"))
    val e = d.alias("x").join(d.alias("y"),
        F.col("x.doc_id") + 1 === F.col("y.doc_id") && F.col("x.lang") === F.col("y.lang"))
      .select(F.col("x.doc_id").as("id_a"), F.col("y.doc_id").as("id_b"))
    // the iterative loop materializes per round — size its shuffles to the
    // (tiny) label table, not the session default, like the streaming queries
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val cc =
      try graft.ml.Dedup.connectedComponents(e, "id_a", "id_b")
      finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    d.join(cc.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(F.col("doc_id"), F.coalesce(F.col("comp"), F.col("doc_id")).as("cluster_id"))
      .orderBy("doc_id")
  }

  /** PII scrub over text carrying synthetic (deterministically-derived)
    * emails/IPs/phones spliced into the real document text: both engines
    * build the identical string, Spark redacts via the library op, the
    * oracle applies the same patterns with DuckDB's RE2 'g' replace. */
  private def qPiiRedact(s: SparkSession, dir: String): SDF = {
    val d = t(s, dir, "documents")
    val dirty = F.concat(
      F.lit("reach "), F.col("source"), F.col("doc_id").cast("string"),
      F.lit("@example.com via 203.0."), (F.col("doc_id") % 256).cast("string"),
      F.lit(".7 or +1202555"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
      F.lit(" now: "), F.col("text"))
    d.select(F.col("doc_id"),
        graft.ml.TextAnalysis.redactPii(dirty).as("clean"),
        graft.ml.TextAnalysis.piiCounts(dirty).getField("emails").as("n_emails"),
        graft.ml.TextAnalysis.piiCounts(dirty).getField("ips").as("n_ips"))
      .orderBy("doc_id")
  }

  /** URL host extraction for per-domain grouping; every 7th doc is a non-URL
    * (null host) to pin the miss path. */
  private def qUrlHost(s: SparkSession, dir: String): SDF = {
    val d = t(s, dir, "documents")
    val url = F.when(F.col("doc_id") % 7 === 0, F.lit("not a url"))
      .otherwise(F.concat(F.lit("https://user@"), F.lower(F.col("source")),
        (F.col("doc_id") % 50).cast("string"), F.lit(".example.org:8443/path?q=1")))
    d.select(F.col("doc_id"), graft.ml.TextAnalysis.urlHost(url).as("host"))
      .groupBy("host").agg(F.count(F.lit(1)).as("n"))
      .orderBy("host")
  }

  /** Z-order curve values over two bounded order keys — the clustering
    * transform behind [[graft.io.Layout.zorderWrite]]'s multi-dimensional
    * data skipping, checked bit-for-bit against the same interleave in SQL. */
  private def qZorder(s: SparkSession, dir: String): SDF = {
    val o = t(s, dir, "orders")
    o.select(F.col("o_orderkey"),
        graft.io.Layout.zValue(
          Seq(F.col("o_orderkey") % 1024, F.col("o_custkey") % 1024), bits = 10).as("z"))
      .orderBy("o_orderkey")
  }

  /** Event-time sessionization through Structured Streaming: per-user
    * sessions with a 2h inactivity gap, drained via AvailableNow. The oracle
    * rederives sessions with gaps-and-islands SQL (new session only when the
    * gap STRICTLY exceeds 2h — session_window's close is inclusive at
    * prev_end, StreamingSpec pins it), on µs-truncated timestamps matching
    * the Spark-side ns→µs conversion. */
  private def qStreamingSession(s: SparkSession, dir: String): SDF = {
    implicit val sp: SparkSession = s
    val schema = t(s, dir, "events").schema
    val root = QueryStage.streamRoot("ssess")
    val in = graft.streaming.Streaming.linkedInput(root, dir, "events")
    val stream = graft.streaming.Streaming.scanParquetStream(in, schema)
      .transform(TestTables.normalizeEventsTs)
    val sessions = graft.streaming.Streaming.sessionWindowAgg(
      stream, "ts", "2 hours", by = Seq("user_id"),
      aggs = Seq(F.count(F.lit(1)).as("n"),
        graft.DecimalDiscipline.decSumCol(F.col("value"), 2).as("sv")))
    graft.streaming.Streaming.tunedDrain(4) {
      graft.streaming.Streaming.drainToParquet(sessions, root)
        .select(F.col("user_id"), F.col("session_window.start").as("session_start"),
          F.col("n"), F.col("sv"))
        .orderBy("user_id", "session_start")
    }
  }

  /** rolling_quantile (linear + lower modes) and rolling_skew over a
    * trailing 5-row window on the event timeline. Oracles: quantile_cont as
    * a window aggregate, sorted-list indexing for the "lower" mode, and
    * DuckDB's sample skewness de-corrected to the biased g1 Spark computes. */
  private def qRollingQuantile(s: SparkSession, dir: String): SDF =
    events(s, dir)
      .sortBy(Seq(col("event_id")))
      .select(col("event_id"),
        col("value").rollingQuantile(0.25, 5, "linear", minPeriods = 1).alias("rq"),
        col("value").rollingQuantile(0.25, 5, "lower", minPeriods = 1).alias("rq_lo"),
        col("value").rollingSkew(5, bias = true, minPeriods = 3).alias("rsk"))
      .sortBy(Seq(col("event_id")))
      .collect().toSpark

  /** Watermarked stream-stream join: clicks joined to the same user's
    * purchases within the preceding hour, both sides unbounded streams with
    * 1h watermarks bounding the join state. Oracle: the equivalent batch
    * range join on µs-truncated timestamps. */
  private def qStreamingJoin(s: SparkSession, dir: String): SDF = {
    implicit val sp: SparkSession = s
    val schema = t(s, dir, "events").schema
    val root = QueryStage.streamRoot("sjoin")
    val in = graft.streaming.Streaming.linkedInput(root, dir, "events")
    def stream() = graft.streaming.Streaming.scanParquetStream(in, schema)
      .transform(TestTables.normalizeEventsTs)
    val clicks = stream().filter(F.col("event_type") === "click")
      .select(F.col("event_id").as("click_id"), F.col("user_id").as("c_user"),
        F.col("ts").as("click_ts"))
    val purchases = stream().filter(F.col("event_type") === "purchase")
      .select(F.col("event_id").as("purchase_id"), F.col("user_id").as("p_user"),
        F.col("ts").as("p_ts"), F.col("value").as("p_value"))
    val joined = graft.streaming.Streaming.streamStreamJoin(
      clicks, "click_ts", purchases, "p_ts",
      F.col("c_user") === F.col("p_user") &&
        F.col("p_ts") >= F.col("click_ts") - F.expr("INTERVAL 1 HOUR") &&
        F.col("p_ts") <= F.col("click_ts"),
      watermark = "1 hour")
    // stream-stream joins keep 4 state stores per shuffle partition and the
    // trailing no-data batch only advances the watermark for state EVICTION —
    // an inner join's emitted rows don't depend on it, so skip it and keep
    // the partition count (= state-store commit count) minimal
    graft.streaming.Streaming.tunedDrain(2) {
      graft.streaming.Streaming.drainToParquet(joined, root, mode = "append")
        .select(F.col("click_id"), F.col("purchase_id"), F.col("p_value"))
        .orderBy("click_id", "purchase_id")
    }
  }

  /** Co-located bucketed join through the driver gate: both sides written
    * hash-bucketed on the join key (the write-once/join-many 100 TB layout),
    * then joined and aggregated with NO exchange on the join key
    * (BucketingSpec pins the plan shape; this query pins the VALUES).
    * Result is materialized before the temp tables are dropped. */
  private def qBucketedJoin(s: SparkSession, dir: String): SDF = {
    val db = s"graft_bjoin_${java.lang.Integer.toHexString(dir.hashCode)}"
    try {
      val loc = java.nio.file.Files.createTempDirectory("graft-bucketed").toString
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
      graft.io.Bucketed.write(t(s, dir, "orders"), s"$db.orders_b",
        Seq("o_custkey"), buckets = 8, sortCols = Seq("o_custkey"))
      graft.io.Bucketed.write(t(s, dir, "customer"), s"$db.customer_b",
        Seq("c_custkey"), buckets = 8, sortCols = Seq("c_custkey"))
      val o = s.table(s"$db.orders_b")
      val c = s.table(s"$db.customer_b")
      // Sum in decimal cents: double accumulation order differs between the
      // bucketed partial-agg tree and the oracle's single pass, so a plain
      // double sum is ulp-unstable under the driver's exact value hash.
      // decimal(18,2) addition is exact and order-independent; the final
      // decimal -> double cast is deterministic in both engines.
      val joined = o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("c_mktsegment")
      val rows = joined.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), joined.schema)
    } finally s.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  /** Salted join through the gate: the skew-scatter machinery (content-hash
    * salt on the large side, salt-exploded small side) must produce exactly
    * the rows of the plain join. */
  private def qSaltedJoin(s: SparkSession, dir: String): SDF = {
    val li = t(s, dir, "lineitem").select(F.col("l_orderkey"), F.col("l_extendedprice"))
    // shuffle_hash pins the join strategy salting exists FOR: a skewed key's
    // rows spread over `salts` shuffle partitions. Left to AQE at toy scale
    // the exploded dim broadcasts, which both defeats the demo (a broadcast
    // join has no shuffle to salt) and costs 2x (600k-row broadcast build).
    val o = t(s, dir, "orders")
      .select(F.col("o_orderkey").as("l_orderkey"), F.col("o_orderpriority"))
      .hint("shuffle_hash")
    graft.kernel.Skew.saltedJoin(li, o, "l_orderkey", salts = 4)
      .groupBy("o_orderpriority")
      .agg(F.count(F.lit(1)).as("n"),
        // Decimal accumulation: shuffle_hash changes double add order vs the
        // oracle plan; exact-sum in DECIMAL(18,2) makes the hash order-free.
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy("o_orderpriority")
  }

  /** align_frames: two aggregates over different key subsets aligned onto
    * the union key universe (nulls where a side is absent). */
  private def qAlignFrames(s: SparkSession, dir: String): SDF = {
    val bySeg = graft.api.DataFrame(t(s, dir, "customer")
      .filter(F.col("c_nationkey") < 15)
      .groupBy("c_nationkey").agg(F.count(F.lit(1)).as("n_cust")))
    val byNation = graft.api.DataFrame(t(s, dir, "supplier")
      .filter(F.col("s_nationkey") >= 5)
      .groupBy(F.col("s_nationkey").as("c_nationkey")).agg(F.count(F.lit(1)).as("n_supp")))
    val Seq(a, b) = Polars.alignFrames(Seq(bySeg, byNation), "c_nationkey")
    a.hstack(graft.api.DataFrame(b.toSpark.select("n_supp")))
      .sortBy(Seq(col("c_nationkey")))
      .toSpark
  }

  /** Exact 5-gram Jaccard between consecutive docs — DuckDB rebuilds the
    * identical shingle sets with a list comprehension, so the similarity
    * (the verification step after LSH candidate generation) is value-checked
    * end to end, not just spec'd. */
  private def qJaccard(s: SparkSession, dir: String): SDF = {
    // shingle sets projected per doc BEFORE the join: normalization and the
    // substring lambda run once per document, not once per pair side
    val d = t(s, dir, "documents")
      .select(F.col("doc_id"), graft.ml.Dedup.normalizeText(F.col("text")).as("__n__"))
      .select(F.col("doc_id"),
        graft.ml.Dedup.shinglesFromNormalized(F.col("__n__"), 5).as("__s__"))
    d.alias("x").join(d.alias("y"), F.col("x.doc_id") + 1 === F.col("y.doc_id"))
      .select(F.col("x.doc_id").as("doc_id"), {
        val inter = F.size(F.array_intersect(F.col("x.__s__"), F.col("y.__s__"))).cast("double")
        (inter / (F.size(F.col("x.__s__")) + F.size(F.col("y.__s__")) - inter)).as("jac")
      })
      .orderBy("doc_id")
  }

  /** Corpus line dedup on synthetic two-line docs (line1 = own text,
    * line2 = next doc's text — so every line occurs twice and the
    * first-occurrence rule does real work): doc i keeps its line2 but for
    * i > 0 loses line1 to doc i-1's line2. Oracle rebuilds the same
    * explode → first-occurrence window → ordered string_agg in SQL. */
  private def qDedupLines(s: SparkSession, dir: String): SDF = {
    val d = t(s, dir, "documents").select(F.col("doc_id"), F.col("text"))
    val twoLine = d.alias("x").join(d.alias("y"),
        F.col("x.doc_id") + 1 === F.col("y.doc_id"), "left")
      .select(F.col("x.doc_id").as("doc_id"),
        F.concat_ws("\n", F.col("x.text"), F.col("y.text")).as("text"))
    graft.ml.Dedup.dedupLines(twoLine, "text", "doc_id")
      .orderBy("doc_id")
  }

  def queries: Map[String, (SparkSession, String) => SDF] = Map(
    "q_tz_offset" -> (qTzOffset _),
    "q_image_meta" -> (qImageMeta _),
    "q_image_decode" -> (qImageDecode _),
    "q_audio_meta" -> (qAudioMeta _),
    "q_dedup_cluster" -> (qDedupCluster _),
    "q_pii_redact" -> (qPiiRedact _),
    "q_url_host" -> (qUrlHost _),
    "q_zorder" -> (qZorder _),
    "q_streaming_session" -> (qStreamingSession _),
    "q_rolling_quantile" -> (qRollingQuantile _),
    "q_streaming_join" -> (qStreamingJoin _),
    "q_bucketed_join" -> (qBucketedJoin _),
    "q_salted_join" -> (qSaltedJoin _),
    "q_align_frames" -> (qAlignFrames _),
    "q_jaccard" -> (qJaccard _),
    "q_dedup_lines" -> (qDedupLines _),
  )

  private val zorderOracle: String = {
    val terms = (for { j <- 0 to 1; i <- 0 until 10 } yield {
      val c = if (j == 0) "(o_orderkey % 1024)" else "(o_custkey % 1024)"
      s"((($c >> $i) & 1) << ${i * 2 + j})"
    }).mkString(" | ")
    s"SELECT o_orderkey, CAST($terms AS BIGINT) AS z FROM orders ORDER BY o_orderkey"
  }

  def oracleSql: Map[String, String] = Map(
    // offsets are whole seconds, so truncate ts first and the ns fraction
    // cancels; standard offset = min(Jan-15, Jul-15) total offsets
    "q_tz_offset" ->
      """WITH t AS (
        |  SELECT event_id, date_trunc('second', ts) AS tss,
        |    make_timestamp(CAST(year(ts) AS BIGINT), 1, 15, 0, 0, 0) AS jan,
        |    make_timestamp(CAST(year(ts) AS BIGINT), 7, 15, 0, 0, 0) AS jul
        |  FROM events
        |), o AS (
        |  SELECT event_id,
        |    epoch(timezone('America/New_York', tss AT TIME ZONE 'UTC')) - epoch(tss) AS tot_ny,
        |    epoch(timezone('America/New_York', jan AT TIME ZONE 'UTC')) - epoch(jan) AS jan_ny,
        |    epoch(timezone('America/New_York', jul AT TIME ZONE 'UTC')) - epoch(jul) AS jul_ny,
        |    epoch(timezone('Australia/Sydney', tss AT TIME ZONE 'UTC')) - epoch(tss) AS tot_syd,
        |    epoch(timezone('Australia/Sydney', jan AT TIME ZONE 'UTC')) - epoch(jan) AS jan_syd,
        |    epoch(timezone('Australia/Sydney', jul AT TIME ZONE 'UTC')) - epoch(jul) AS jul_syd
        |  FROM t
        |)
        |SELECT event_id,
        |  CAST(least(jan_ny, jul_ny) * 1000000 AS BIGINT) AS base_ny,
        |  CAST((tot_ny - least(jan_ny, jul_ny)) * 1000000 AS BIGINT) AS dst_ny,
        |  CAST(least(jan_syd, jul_syd) * 1000000 AS BIGINT) AS base_syd,
        |  CAST((tot_syd - least(jan_syd, jul_syd)) * 1000000 AS BIGINT) AS dst_syd
        |FROM o ORDER BY event_id""".stripMargin,
    "q_image_meta" ->
      """SELECT doc_id, 'png' AS format,
        |  CAST(doc_id % 1920 + 1 AS INTEGER) AS width,
        |  CAST(doc_id % 1080 + 1 AS INTEGER) AS height,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS INTEGER) AS channels
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_image_decode" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 7 + 2 AS INTEGER) AS w,
        |    CAST(doc_id % 5 + 2 AS INTEGER) AS h
        |  FROM documents WHERE doc_id < 300
        |)
        |SELECT doc_id, w AS width, h AS height,
        |  CAST(1 AS INTEGER) AS channels,
        |  CAST(list_sum(list_transform(range(0, w*h),
        |    i -> (doc_id*31 + (i % w)*7 + (i // w)*13) % 256)) AS BIGINT) AS luma_sum,
        |  CAST(list_sum(list_transform(range(0, w*h),
        |    i -> (doc_id*31 + (i % w)*7 + (i // w)*13) % 256)) AS DOUBLE) / (w*h) AS mean_luma,
        |  CAST(list_sum(list_transform(range(0, w*h),
        |    i -> ((doc_id*31 + (i % w)*7 + (i // w)*13) % 256) * (i+1))) AS BIGINT) AS weighted_sum
        |FROM d ORDER BY doc_id""".stripMargin,
    "q_audio_meta" ->
      """SELECT doc_id, 'wav' AS format,
        |  CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
        |  CAST((doc_id % 5 + 1) * 8000 AS INTEGER) AS sample_rate,
        |  CAST(16 AS INTEGER) AS bits_per_sample,
        |  CAST((doc_id % 997 + 1) * 4 AS DOUBLE)
        |    / ((doc_id % 2 + 1) * (doc_id % 5 + 1) * 8000 * 2) AS duration_s
        |FROM documents ORDER BY doc_id""".stripMargin,
    // components of the consecutive-same-lang chain graph = maximal runs:
    // gaps-and-islands rederivation
    "q_dedup_cluster" ->
      """WITH flagged AS (
        |  SELECT doc_id,
        |    CASE WHEN lag(lang) OVER (ORDER BY doc_id) = lang
        |          AND lag(doc_id) OVER (ORDER BY doc_id) = doc_id - 1
        |         THEN 0 ELSE 1 END AS chg
        |  FROM documents
        |), runs AS (
        |  SELECT doc_id, sum(chg) OVER (ORDER BY doc_id) AS run_id FROM flagged
        |)
        |SELECT doc_id, min(doc_id) OVER (PARTITION BY run_id) AS cluster_id
        |FROM runs ORDER BY doc_id""".stripMargin,
    // same synthetic dirty string, same patterns, RE2 'g' replace; email →
    // IPv4 → phone order must match TextAnalysis.redactPii
    "q_pii_redact" ->
      """WITH dirty AS (
        |  SELECT doc_id,
        |    'reach ' || source || CAST(doc_id AS VARCHAR)
        |      || '@example.com via 203.0.' || CAST(doc_id % 256 AS VARCHAR)
        |      || '.7 or +1202555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || ' now: ' || text AS s
        |  FROM documents
        |)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g'),
        |    '\+?[0-9][0-9()\-. ]{7,}[0-9]', '[PHONE]', 'g') AS clean,
        |  CAST(len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(s, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS INTEGER) AS n_ips
        |FROM dirty ORDER BY doc_id""".stripMargin,
    "q_url_host" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN 'not a url'
        |         ELSE 'https://user@' || lower(source) || CAST(doc_id % 50 AS VARCHAR)
        |              || '.example.org:8443/path?q=1' END AS url
        |  FROM documents
        |), h AS (
        |  SELECT doc_id,
        |    nullif(regexp_extract(lower(url),
        |      '^[a-z][a-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1), '') AS host
        |  FROM u
        |)
        |SELECT host, count(*) AS n FROM h GROUP BY host ORDER BY host""".stripMargin,
    "q_zorder" -> zorderOracle,
    "q_streaming_session" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS tsu, value FROM events
        |), flagged AS (
        |  SELECT user_id, tsu, value,
        |    CASE WHEN lag(tsu) OVER w IS NULL
        |          OR tsu - lag(tsu) OVER w > INTERVAL 2 HOUR THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu)
        |), runs AS (
        |  SELECT user_id, tsu, value,
        |    sum(chg) OVER (PARTITION BY user_id ORDER BY tsu) AS sess
        |  FROM flagged
        |)
        |SELECT user_id, min(tsu) AS session_start, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |FROM runs GROUP BY user_id, sess
        |ORDER BY user_id, session_start""".stripMargin,
    "q_rolling_quantile" ->
      """SELECT event_id,
        |  quantile_cont(value, 0.25) OVER w AS rq,
        |  list_sort(list(value) OVER w)
        |    [CAST(floor(0.25 * (count(*) OVER w - 1)) AS INT) + 1] AS rq_lo,
        |  CASE WHEN count(*) OVER w >= 3 THEN
        |    skewness(value) OVER w * (count(*) OVER w - 2)
        |      / sqrt(count(*) OVER w * (count(*) OVER w - 1.0))
        |  END AS rsk
        |FROM events
        |WINDOW w AS (ORDER BY event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q_streaming_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    date_trunc('microseconds', ts) AS tsu, value
        |  FROM events
        |)
        |SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  p.value AS p_value
        |FROM e c JOIN e p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.tsu BETWEEN c.tsu - INTERVAL 1 HOUR AND c.tsu
        |ORDER BY click_id, purchase_id""".stripMargin,
    "q_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_salted_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_align_frames" ->
      """WITH keys AS (
        |  SELECT c_nationkey FROM customer WHERE c_nationkey < 15
        |  UNION SELECT s_nationkey FROM supplier WHERE s_nationkey >= 5
        |), cust AS (
        |  SELECT c_nationkey, count(*) AS n_cust FROM customer
        |  WHERE c_nationkey < 15 GROUP BY 1
        |), supp AS (
        |  SELECT s_nationkey AS c_nationkey, count(*) AS n_supp FROM supplier
        |  WHERE s_nationkey >= 5 GROUP BY 1
        |)
        |SELECT k.c_nationkey, cust.n_cust, supp.n_supp
        |FROM keys k LEFT JOIN cust USING (c_nationkey)
        |LEFT JOIN supp USING (c_nationkey)
        |ORDER BY k.c_nationkey""".stripMargin,
    "q_jaccard" ->
      """WITH n AS (
        |  SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(0, greatest(length(t) - 5, 0) + 1),
        |      i -> substr(t, CAST(i + 1 AS INT), 5))) AS s
        |  FROM n
        |)
        |SELECT a.doc_id,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        |ORDER BY a.doc_id""".stripMargin,
    "q_dedup_lines" ->
      """WITH two AS (
        |  SELECT x.doc_id,
        |    CASE WHEN y.text IS NULL THEN x.text
        |         ELSE x.text || chr(10) || y.text END AS text
        |  FROM documents x LEFT JOIN documents y ON y.doc_id = x.doc_id + 1
        |), l AS (
        |  SELECT doc_id, unnest(string_split(text, chr(10))) AS ln,
        |         generate_subscripts(string_split(text, chr(10)), 1) - 1 AS li
        |  FROM two
        |), kept AS (
        |  SELECT doc_id, li, ln,
        |    row_number() OVER (PARTITION BY ln ORDER BY doc_id, li) AS rn
        |  FROM l
        |)
        |SELECT doc_id, string_agg(ln, chr(10) ORDER BY li) AS text
        |FROM kept WHERE rn = 1
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
  )
}
