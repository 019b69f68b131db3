package graft

import org.apache.spark.sql.{SparkSession, DataFrame => SDF, functions => F}
import org.apache.spark.sql.expressions.Window
import graft.api.{DataFrame, LazyFrame, SQLContext}
import graft.expr.Expr
import graft.Polars._
import graft.kernel.AsofJoin
import graft.ml.{Dedup, Similarity, TextAnalysis}
import graft.DecimalDiscipline.{decSum, decMean}

/** Wave-2 driver queries: string/temporal namespaces, window extras,
  * time-series ops (asof/upsample/dynamic), and the LLM-pipeline operators. */
object Queries2 {

  private def t(s: SparkSession, dir: String, name: String): SDF =
    s.read.parquet(s"$dir/$name.parquet")
  private def lf(s: SparkSession, dir: String, name: String): LazyFrame =
    LazyFrame(t(s, dir, name))
  private def events(s: SparkSession, dir: String): LazyFrame =
    LazyFrame(t(s, dir, "events")
      .transform(TestTables.normalizeEventsTs))

  // ---- strings (§2.8 .str) ----
  private def qStrOps(s: SparkSession, dir: String): SDF =
    lf(s, dir, "documents")
      .select(
        col("doc_id"),
        col("text").str.slice(0, Some(20)).str.toUppercase.alias("head_u"),
        col("text").str.lenChars.alias("len"),
        col("text").str.stripChars.str.slice(0, Some(5)).alias("head5"),
        col("lang").str.padStart(5, "_").alias("lang_pad"))
      .sortBy(Seq(col("doc_id")))
      .collect().toSpark

  private def qStrContains(s: SparkSession, dir: String): SDF =
    lf(s, dir, "documents")
      .groupBy("lang")
      .agg(
        col("text").str.contains("data", literal = true).cast(org.apache.spark.sql.types.IntegerType)
          .sum.alias("n_data"),
        col("text").str.startsWith("the").cast(org.apache.spark.sql.types.IntegerType)
          .sum.alias("n_the"),
        col("text").str.endsWith("row").cast(org.apache.spark.sql.types.IntegerType)
          .sum.alias("n_row"))
      .sortBy(Seq(col("lang")))
      .collect().toSpark

  private def qStrSplit(s: SparkSession, dir: String): SDF =
    lf(s, dir, "documents")
      .select(
        col("doc_id"),
        col("text").str.split(" ").list.len.alias("n_tokens"),
        col("text").str.split(" ").list.first.alias("first_tok"),
        col("text").str.split(" ").list.last.alias("last_tok"))
      .sortBy(Seq(col("doc_id")))
      .collect().toSpark

  private def qStrJson(s: SparkSession, dir: String): SDF =
    events(s, dir)
      .select(
        col("event_id"),
        col("props").str.jsonPathMatch("$.k").cast(org.apache.spark.sql.types.LongType).alias("k_val"))
      .sortBy(Seq(col("event_id")))
      .collect().toSpark

  private def qStrExtract(s: SparkSession, dir: String): SDF =
    lf(s, dir, "part")
      .select(
        col("p_partkey"),
        col("p_name").str.extract("([a-z]+)", 1).alias("first_word"),
        col("p_brand").str.extract("([0-9]+)", 1).alias("brand_num"),
        col("p_name").str.countMatches("a").alias("n_a"))
      .sortBy(Seq(col("p_partkey")))
      .collect().toSpark

  private def qConcatStr(s: SparkSession, dir: String): SDF =
    lf(s, dir, "documents")
      .select(
        col("doc_id"),
        Polars.concatStr(Seq(col("lang"), col("source")), "-").alias("lang_src"),
        Polars.format("doc {} from {}", col("doc_id"), col("source")).alias("fmt"))
      .sortBy(Seq(col("doc_id")))
      .collect().toSpark

  // ---- temporal (§2.8 .dt) ----
  private def qDtParts(s: SparkSession, dir: String): SDF =
    lf(s, dir, "orders")
      .select(
        col("o_orderkey"),
        col("o_orderdate").dt.year.alias("y"),
        col("o_orderdate").dt.month.alias("m"),
        col("o_orderdate").dt.quarter.alias("q"),
        col("o_orderdate").dt.day.alias("d"),
        col("o_orderdate").dt.weekday.alias("iso_dow"),
        col("o_orderdate").dt.ordinalDay.alias("doy"))
      .sortBy(Seq(col("o_orderkey")))
      .collect().toSpark

  private def qDtStrftime(s: SparkSession, dir: String): SDF =
    lf(s, dir, "orders")
      .withColumn("ym", col("o_orderdate").dt.strftime("%Y-%m"))
      .groupBy("ym")
      .agg(Expr(F.count(F.lit(1))).alias("n"), decSum(col("o_totalprice"), 2).alias("total"))
      .sortBy(Seq(col("ym")))
      .collect().toSpark

  private def qDtTrunc(s: SparkSession, dir: String): SDF =
    events(s, dir)
      .withColumn("day", col("ts").dt.truncate("1d"))
      .groupBy("day")
      .agg(Expr(F.count(F.lit(1))).alias("n"), decSum(col("value"), 2).alias("sv"))
      .sortBy(Seq(col("day")))
      .collect().toSpark

  /** group_by_dynamic tumbling 6h windows per event_type. */
  private def qGroupByDynamic(s: SparkSession, dir: String): SDF =
    events(s, dir)
      .groupByDynamic("ts", every = "6h", by = Seq("event_type"))
      .agg(Expr(F.count(F.lit(1))).alias("n"), decSum(col("value"), 2).alias("sv"))
      .drop("_lower_boundary", "_upper_boundary")
      .sortBy(Seq(col("event_type"), col("ts")))
      .collect().toSpark

  private def qRollingTime(s: SparkSession, dir: String): SDF = {
    // trailing 1h range window per user — range frame over µs epoch
    val w = Window.partitionBy("user_id").orderBy(F.unix_micros(F.col("ts")))
      .rangeBetween(-3600L * 1000000, 0)
    events(s, dir)
      .withColumns(
        "roll_1h_sum" -> Expr(F.sum("value").over(w)),
        "roll_1h_n" -> Expr(F.count(F.lit(1)).over(w)),
        "roll_1h_med" -> col("value").rollingQuantileOver(0.5, w, "linear"))
      .select(col("event_id"), col("user_id"), col("roll_1h_sum"), col("roll_1h_n"),
        col("roll_1h_med"))
      .sortBy(Seq(col("event_id")))
      .collect().toSpark
  }

  /** join_asof: for each click, the user's latest purchase value at or before
    * the click (backward as-of by user). */
  private def qJoinAsof(s: SparkSession, dir: String): SDF = {
    val ev = events(s, dir).toSpark
    val clicks = ev.filter(F.col("event_type") === "click")
      .select(F.col("event_id"), F.col("user_id"), F.col("ts"))
    val purchases = ev.filter(F.col("event_type") === "purchase")
      .select(F.col("user_id"), F.col("ts"), F.col("value"))
    AsofJoin.join(clicks, purchases, on = "ts", by = Seq("user_id"))
      .select(F.col("event_id"), F.col("user_id"), F.col("value").as("last_purchase"))
      .orderBy("event_id")
  }

  /** upsample: full user x day grid over the events month, zero-filled. */
  private def qUpsample(s: SparkSession, dir: String): SDF = {
    val ev = events(s, dir)
    // set semantics only (feeds a grid join): the cheap hash-agg spelling,
    // not the new polars default (keep=first + maintain-order sort)
    val users = ev.select(col("user_id")).unique(keep = "any", maintainOrder = false)
    val days = LazyFrame(s.range(1).toDF().select(
      F.explode(F.sequence(
        F.to_timestamp(F.lit("2024-01-01")), F.to_timestamp(F.lit("2024-01-30")),
        F.expr("INTERVAL '1' DAY"))).as("day")))
    val daily = ev.withColumn("day", col("ts").dt.truncate("1d"))
      .groupBy("user_id", "day")
      .agg(decSum(col("value"), 2).alias("sv_raw"))
    users.crossJoin(days)
      .join(daily, Seq("user_id", "day"), how = "left")
      .select(col("user_id"), col("day"),
        Polars.coalesce(col("sv_raw"), lit(0.0)).alias("sv"))
      .sortBy(Seq(col("user_id"), col("day")))
      .collect().toSpark
  }

  // ---- window extras (§2.5/2.6) ----
  private def qRankWindow(s: SparkSession, dir: String): SDF = {
    val w = Window.partitionBy("l_returnflag").orderBy(F.col("l_quantity"), F.col("l_orderkey"), F.col("l_linenumber"))
    lf(s, dir, "lineitem")
      .withColumns(
        "rnk" -> Expr(F.rank().over(w)),
        "drnk" -> Expr(F.dense_rank().over(w)))
      .filter(col("rnk") <= 5)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"), col("rnk"), col("drnk"))
      .sortBy(Seq(col("l_returnflag"), col("rnk"), col("l_orderkey"), col("l_linenumber")))
      .collect().toSpark
  }

  private def qLeadPct(s: SparkSession, dir: String): SDF = {
    val w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    events(s, dir)
      .withColumns(
        "next_value" -> Expr(F.lead("value", 1).over(w)),
        "pct_change" -> Expr((F.col("value") - F.lag("value", 1).over(w)) /
          F.nullif(F.lag("value", 1).over(w), F.lit(0.0))))
      .select(col("event_id"), col("next_value"), col("pct_change"))
      .sortBy(Seq(col("event_id")))
      .collect().toSpark
  }

  private def qNtile(s: SparkSession, dir: String): SDF = {
    // distributed NTILE: ordinal rank of the (price, key) struct + broadcast
    // count — no global-sort single-partition window
    val base = graft.kernel.RowIndex.attach(t(s, dir, "orders"))
    val nt = graft.kernel.Scan.withNtile(base,
      F.struct(F.col("o_totalprice"), F.col("o_orderkey")), "nt", 4)
    LazyFrame(nt.drop(graft.kernel.RowIndex.name, graft.kernel.Scan.BUCKET))
      .groupBy("nt")
      .agg(Expr(F.count(F.lit(1))).alias("n"), col("o_totalprice").max.alias("max_price"))
      .sortBy(Seq(col("nt")))
      .collect().toSpark
  }

  private def qFirstLastWindow(s: SparkSession, dir: String): SDF = {
    val w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    events(s, dir)
      .withColumns(
        "first_type" -> Expr(F.first("event_type").over(w)),
        "last_value" -> Expr(F.last("value").over(w)))
      .select(col("event_id"), col("first_type"), col("last_value"))
      .sortBy(Seq(col("event_id")))
      .collect().toSpark
  }

  // ---- aggregation extras (§2.4) ----
  private def qMode(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(col("l_linenumber").mode.alias("mode_ln"))
      .sortBy(Seq(col("l_returnflag")))
      .collect().toSpark

  private def qSkewKurt(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .select(
        col("l_quantity").skew().alias("skew_qty"),
        col("l_quantity").kurtosis().alias("kurt_qty"))
      .collect().toSpark

  private def qProduct(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .filter(col("l_orderkey") <= 1000)
      .groupBy("l_orderkey")
      .agg((lit(1.0) + col("l_tax")).product.alias("tax_product"))
      .sortBy(Seq(col("l_orderkey")))
      .collect().toSpark

  private def qEntropy(s: SparkSession, dir: String): SDF = {
    val counts = events(s, dir).groupBy("event_type")
      .agg(Expr(F.count(F.lit(1))).alias("n"))
    counts
      .withColumn("p", col("n").cast(org.apache.spark.sql.types.DoubleType) /
        col("n").sum.over(Window.partitionBy()))
      .select((-(col("p") * col("p").log).sum).alias("entropy"))
      .collect().toSpark
  }

  private def qNUniqueMulti(s: SparkSession, dir: String): SDF =
    lf(s, dir, "orders")
      .select(
        col("o_custkey").nUnique.alias("n_cust"),
        col("o_orderpriority").nUnique.alias("n_prio"),
        col("o_orderstatus").nUnique.alias("n_status"))
      .collect().toSpark

  private def qNullCount(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .withColumn("d", Polars.when(col("l_discount") === 0.0).then(lit(null)).otherwise(col("l_discount")))
      .select(
        col("d").nullCount.alias("n_null"),
        col("d").count.alias("n_notnull"),
        col("d").isNull.cast(org.apache.spark.sql.types.IntegerType).sum.alias("n_null2"))
      .collect().toSpark

  // ---- sort/slice extras (§2.6) ----
  private def qSlice(s: SparkSession, dir: String): SDF =
    lf(s, dir, "orders")
      .sortBy(Seq(col("o_orderkey")))
      .slice(100, 50)
      .select(col("o_orderkey"), col("o_totalprice"))
      .collect().toSpark

  private def qGatherEvery(s: SparkSession, dir: String): SDF =
    lf(s, dir, "orders")
      .sortBy(Seq(col("o_orderkey")))
      .gatherEvery(100)
      .select(col("o_orderkey"))
      .collect().toSpark

  private def qWithRowIndex(s: SparkSession, dir: String): SDF =
    lf(s, dir, "orders")
      .sortBy(Seq(col("o_orderkey")))
      .withRowIndex("idx")
      .filter(col("idx") < 20)
      .select(col("idx"), col("o_orderkey"))
      .collect().toSpark

  private def qReverse(s: SparkSession, dir: String): SDF =
    lf(s, dir, "orders")
      .sortBy(Seq(col("o_orderkey")))
      .reverse
      .head(5)
      .select(col("o_orderkey"))
      .collect().toSpark

  private def qStruct(s: SparkSession, dir: String): SDF =
    lf(s, dir, "orders")
      .withColumn("s", Polars.struct(col("o_orderkey").alias("k"), col("o_totalprice").alias("p")))
      .select(
        col("s").struct.field("k").alias("o_orderkey"),
        (col("s").struct.field("p") * 2).alias("double_price"))
      .sortBy(Seq(col("o_orderkey")))
      .collect().toSpark

  private def qSql(s: SparkSession, dir: String): SDF = {
    val ctx = new SQLContext(s)
    ctx.register("lineitem", lf(s, dir, "lineitem"))
    ctx.register("orders", lf(s, dir, "orders"))
    ctx.execute(
      """SELECT l_returnflag, count(*) AS n,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 200000 GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      .collect().toSpark
  }

  // ---- LLM pipeline ops ----
  private def qDedupExact(s: SparkSession, dir: String): SDF = {
    val docs = t(s, dir, "documents")
    val deduped = Dedup.exact(docs, "text", keep = "first", idCol = "doc_id")
    deduped.agg(
      F.count(F.lit(1)).as("n_after_dedup"),
      F.countDistinct(F.md5(F.col("text"))).as("n_digests"))
  }

  private def qTokenStats(s: SparkSession, dir: String): SDF =
    lf(s, dir, "documents")
      .withColumns(
        "n_tokens" -> col("text").str.split(" ").list.len,
        "n_chars_m" -> col("text").str.lenChars)
      .groupBy("lang")
      .agg(
        col("n_tokens").cast(org.apache.spark.sql.types.DoubleType).mean.alias("avg_tokens"),
        col("n_chars_m").cast(org.apache.spark.sql.types.DoubleType).mean.alias("avg_chars"),
        col("n_tokens").max.alias("max_tokens"))
      .sortBy(Seq(col("lang")))
      .collect().toSpark

  private def qStopwordRatio(s: SparkSession, dir: String): SDF =
    LazyFrame(t(s, dir, "documents")
      .withColumn("sw_ratio", TextAnalysis.stopwordRatio(F.col("text"))))
      .select(col("doc_id"), col("sw_ratio"))
      .sortBy(Seq(col("doc_id")))
      .collect().toSpark

  private def qAnnTopK(s: SparkSession, dir: String): SDF = {
    val emb = t(s, dir, "embeddings")
    val query = emb.filter(F.col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0)
    // round for the exact-hash oracle compare: fp32-vs-fp64 accumulation noise
    Similarity.bruteForceTopK(emb, "embedding", "vec_id", query, k = 10)
      .select(F.col("vec_id"), F.round(F.col("cosine"), 6).as("cosine"))
  }

  /** MinHash-LSH near-dup candidates. The banded signature rows (which depend
    * on xxhash64 bit patterns DuckDB cannot mirror) are STAGED to parquet and
    * the pair join re-derived from the staged rows, so the oracle verifies
    * the bucket-join logic over identical inputs. */
  private def qMinhashPairs(s: SparkSession, dir: String): SDF = {
    val banded = QueryStage.stage(
      Dedup.bandedSignatures(t(s, dir, "documents"), "text", "doc_id",
        numHashes = 32, bands = 8), dir, "minhash_bands")
    Dedup.minhashCandidatesFromBands(banded, "doc_id").orderBy("id_a", "id_b")
  }

  /** SimHash fingerprints + near-dup pairs — signatures staged, chunk-blocked
    * hamming join verified by the oracle over the staged rows. */
  private def qSimhashPairs(s: SparkSession, dir: String): SDF = {
    val sigs = QueryStage.stage(
      Dedup.simhashSignatures(t(s, dir, "documents"), "text", "doc_id"), dir, "simhash_sigs")
    Dedup.simhashCandidatesFromSigs(sigs, "doc_id", maxHamming = 10)
      .orderBy("id_a", "id_b")
  }

  /** Language-ID heuristic distribution (rows-only; heuristic has no oracle).
    * Bulk explode formulation — fully codegen'd, no interpreted HOFs. */
  private def qLangId(s: SparkSession, dir: String): SDF =
    TextAnalysis.languageIdBulk(t(s, dir, "documents"), "doc_id", "text", keep = Seq("lang"))
      .groupBy("lang", "pred").agg(F.count(F.lit(1)).as("n"))
      .orderBy("lang", "pred")

  /** Quality-score distribution (rows-only; composite heuristic). */
  private def qQualityScore(s: SparkSession, dir: String): SDF =
    t(s, dir, "documents")
      .withColumn("q", TextAnalysis.qualityScore(F.col("text")))
      .agg(F.min("q").as("min_q"), F.avg("q").as("avg_q"), F.max("q").as("max_q"),
        F.count(F.lit(1)).as("n"))

  def queries: Map[String, (SparkSession, String) => SDF] = Map(
    "q_str_ops" -> (qStrOps _),
    "q_str_contains" -> (qStrContains _),
    "q_str_split" -> (qStrSplit _),
    "q_str_json" -> (qStrJson _),
    "q_str_extract" -> (qStrExtract _),
    "q_concat_str" -> (qConcatStr _),
    "q_dt_parts" -> (qDtParts _),
    "q_dt_strftime" -> (qDtStrftime _),
    "q_dt_trunc" -> (qDtTrunc _),
    "q_group_by_dynamic" -> (qGroupByDynamic _),
    "q_rolling_time" -> (qRollingTime _),
    "q_join_asof" -> (qJoinAsof _),
    "q_upsample" -> (qUpsample _),
    "q_rank_window" -> (qRankWindow _),
    "q_lead_pct" -> (qLeadPct _),
    "q_ntile" -> (qNtile _),
    "q_first_last_window" -> (qFirstLastWindow _),
    "q_mode" -> (qMode _),
    "q_skew_kurt" -> (qSkewKurt _),
    "q_product" -> (qProduct _),
    "q_entropy" -> (qEntropy _),
    "q_n_unique_multi" -> (qNUniqueMulti _),
    "q_null_count" -> (qNullCount _),
    "q_slice" -> (qSlice _),
    "q_gather_every" -> (qGatherEvery _),
    "q_with_row_index" -> (qWithRowIndex _),
    "q_reverse" -> (qReverse _),
    "q_struct" -> (qStruct _),
    "q_sql" -> (qSql _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_token_stats" -> (qTokenStats _),
    "q_stopword_ratio" -> (qStopwordRatio _),
    "q_ann_topk" -> (qAnnTopK _),
    "q_minhash_pairs" -> (qMinhashPairs _),
    "q_simhash_pairs" -> (qSimhashPairs _),
    "q_lang_id" -> (qLangId _),
    "q_quality_score" -> (qQualityScore _),
  )

  def oracleSql: Map[String, String] = Map(
    "q_str_ops" ->
      """SELECT doc_id, upper(substr(text, 1, 20)) AS head_u,
        |CAST(length(text) AS INT) AS len,
        |substr(trim(text), 1, 5) AS head5,
        |CASE WHEN length(lang) >= 5 THEN lang ELSE lpad(lang, 5, '_') END AS lang_pad
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_str_contains" ->
      """SELECT lang,
        |CAST(sum(CASE WHEN contains(text, 'data') THEN 1 ELSE 0 END) AS BIGINT) AS n_data,
        |CAST(sum(CASE WHEN starts_with(text, 'the') THEN 1 ELSE 0 END) AS BIGINT) AS n_the,
        |CAST(sum(CASE WHEN ends_with(text, 'row') THEN 1 ELSE 0 END) AS BIGINT) AS n_row
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_str_split" ->
      """SELECT doc_id,
        |CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        |string_split(text, ' ')[1] AS first_tok,
        |string_split(text, ' ')[-1] AS last_tok
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_str_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,
    "q_str_extract" ->
      """SELECT p_partkey,
        |nullif(regexp_extract(p_name, '([a-z]+)', 1), '') AS first_word,
        |nullif(regexp_extract(p_brand, '([0-9]+)', 1), '') AS brand_num,
        |CAST(length(p_name) - length(replace(p_name, 'a', '')) AS INT) AS n_a
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_concat_str" ->
      """SELECT doc_id, concat_ws('-', lang, source) AS lang_src,
        |concat('doc ', doc_id, ' from ', source) AS fmt
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_dt_parts" ->
      """SELECT o_orderkey,
        |CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS TINYINT) AS m,
        |CAST(quarter(o_orderdate) AS TINYINT) AS q, CAST(day(o_orderdate) AS TINYINT) AS d,
        |CAST(isodow(o_orderdate) AS TINYINT) AS iso_dow,
        |CAST(dayofyear(o_orderdate) AS SMALLINT) AS doy
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_dt_strftime" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS ym, count(*) AS n,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dt_trunc" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n,
        |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_group_by_dynamic" ->
      """SELECT event_type, CAST(time_bucket(INTERVAL '6 hours', ts, TIMESTAMP '1970-01-01') AS TIMESTAMP) AS ts,
        |count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_rolling_time" ->
      """SELECT event_id, user_id,
        |sum(value) OVER w AS roll_1h_sum,
        |count(*) OVER w AS roll_1h_n,
        |quantile_cont(value, 0.5) OVER w AS roll_1h_med
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q_join_asof" ->
      """SELECT c.event_id, c.user_id, p.value AS last_purchase
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type='click') c
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type='purchase') p
        |ON c.user_id = p.user_id AND p.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin,
    "q_upsample" ->
      """SELECT u.user_id, CAST(g.d AS TIMESTAMP) AS day, coalesce(s.sv, 0.0) AS sv
        |FROM (SELECT DISTINCT user_id FROM events) u
        |CROSS JOIN (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
        |  TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS d) g
        |LEFT JOIN (SELECT user_id, date_trunc('day', ts) AS d2,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |  FROM events GROUP BY 1, 2) s
        |ON s.user_id = u.user_id AND CAST(s.d2 AS TIMESTAMP) = CAST(g.d AS TIMESTAMP)
        |ORDER BY 1, 2""".stripMargin,
    "q_rank_window" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, rnk, drnk FROM (
        |SELECT l_returnflag, l_orderkey, l_linenumber,
        |CAST(rank() OVER w AS INTEGER) AS rnk,
        |CAST(dense_rank() OVER w AS INTEGER) AS drnk
        |FROM lineitem WINDOW w AS (PARTITION BY l_returnflag
        |  ORDER BY l_quantity, l_orderkey, l_linenumber))
        |WHERE rnk <= 5 ORDER BY l_returnflag, rnk, l_orderkey, l_linenumber""".stripMargin,
    "q_lead_pct" ->
      """SELECT event_id,
        |lead(value, 1) OVER w AS next_value,
        |(value - lag(value, 1) OVER w) / nullif(lag(value, 1) OVER w, 0.0) AS pct_change
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,
    "q_ntile" ->
      """SELECT nt, count(*) AS n, max(o_totalprice) AS max_price FROM (
        |SELECT o_totalprice,
        |CAST(ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS nt
        |FROM orders) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_first_last_window" ->
      """SELECT event_id,
        |first_value(event_type) OVER w AS first_type,
        |last_value(value) OVER w AS last_value
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin,
    "q_mode" ->
      """SELECT l_returnflag, mode(l_linenumber) AS mode_ln
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_skew_kurt" ->
      // DuckDB's built-in skewness/kurtosis are the bias-CORRECTED sample
      // statistics; invert the correction to the population (bias=true)
      // values polars reports. Normalized statistics carry no accumulation-
      // order hazard (reorder drift is ~1e-13 relative), unlike raw sums.
      """SELECT
        |skewness(l_quantity) * (count(*) - 2) / sqrt(count(*) * (count(*) - 1.0)) AS skew_qty,
        |(kurtosis(l_quantity) * (count(*) - 2.0) * (count(*) - 3.0) / (count(*) - 1.0) - 6.0)
        |  / (count(*) + 1.0) AS kurt_qty
        |FROM lineitem""".stripMargin,
    "q_product" ->
      """SELECT l_orderkey, product(1.0 + l_tax) AS tax_product
        |FROM lineitem WHERE l_orderkey <= 1000 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_entropy" ->
      """SELECT -sum(p * ln(p)) AS entropy FROM (
        |SELECT CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM events) AS p
        |FROM events GROUP BY event_type)""".stripMargin,
    "q_n_unique_multi" ->
      """SELECT count(DISTINCT o_custkey) AS n_cust,
        |count(DISTINCT o_orderpriority) AS n_prio,
        |count(DISTINCT o_orderstatus) AS n_status FROM orders""".stripMargin,
    "q_null_count" ->
      // count(CASE...) spelling: integer-exact either way, but count() keeps
      // the raw-double-sum lint clean (sum over a CASE containing l_discount
      // textually trips it even though the summand is an integer literal)
      """SELECT count(CASE WHEN nullif(l_discount, 0.0) IS NULL THEN 1 END) AS n_null,
        |count(nullif(l_discount, 0.0)) AS n_notnull,
        |count(CASE WHEN nullif(l_discount, 0.0) IS NULL THEN 1 END) AS n_null2
        |FROM lineitem""".stripMargin,
    "q_slice" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey LIMIT 50 OFFSET 100""".stripMargin,
    "q_gather_every" ->
      """SELECT o_orderkey FROM (
        |SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) - 1 AS rn
        |FROM orders) WHERE rn % 100 = 0 ORDER BY o_orderkey""".stripMargin,
    "q_with_row_index" ->
      """SELECT row_number() OVER (ORDER BY o_orderkey) - 1 AS idx, o_orderkey
        |FROM orders ORDER BY o_orderkey LIMIT 20""".stripMargin,
    "q_reverse" ->
      "SELECT o_orderkey FROM orders ORDER BY o_orderkey DESC LIMIT 5",
    "q_struct" ->
      """SELECT o_orderkey, o_totalprice * 2 AS double_price
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_sql" ->
      """SELECT l_returnflag, count(*) AS n,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 200000 GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_dedup_exact" ->
      """SELECT count(*) AS n_after_dedup, count(*) AS n_digests FROM (
        |SELECT DISTINCT md5(text) FROM documents)""".stripMargin,
    "q_token_stats" ->
      """SELECT lang,
        |avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avg_tokens,
        |avg(CAST(length(text) AS DOUBLE)) AS avg_chars,
        |CAST(max(len(string_split(text, ' '))) AS INT) AS max_tokens
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_stopword_ratio" ->
      """SELECT doc_id,
        |CAST(len(list_filter(string_split(lower(trim(text)), ' '),
        |  t -> t IN ('the','a','and','of','to','in','is','it','you','that'))) AS DOUBLE)
        |/ greatest(len(string_split(lower(trim(text)), ' ')), 1) AS sw_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_ann_topk" ->
      """SELECT vec_id, round(cosine, 6) AS cosine FROM (
        |  SELECT vec_id,
        |  list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) AS cosine
        |  FROM embeddings ORDER BY cosine DESC, vec_id LIMIT 10)
        |ORDER BY cosine DESC, vec_id""".stripMargin,
    // Heuristics ARE SQL-expressible when the oracle mirrors the exact
    // operation order (so both engines produce the same doubles):
    "q_lang_id" ->
      """SELECT lang, pred, count(*) AS n FROM (
        |  SELECT lang,
        |    CASE WHEN greatest(s_en, s_de, s_fr, s_es) < 0.05 THEN 'und'
        |         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |         WHEN s_fr >= s_es THEN 'fr'
        |         ELSE 'es' END AS pred
        |  FROM (
        |    SELECT lang,
        |      CAST(len(list_filter(toks, t -> t IN ('the','a','and','of','to','in','is','it','you','that'))) AS DOUBLE) / greatest(len(toks), 1) AS s_en,
        |      CAST(len(list_filter(toks, t -> t IN ('der','die','das','und','ist','ich','nicht','ein','zu','mit'))) AS DOUBLE) / greatest(len(toks), 1) AS s_de,
        |      CAST(len(list_filter(toks, t -> t IN ('le','la','les','et','est','je','pas','un','une','avec'))) AS DOUBLE) / greatest(len(toks), 1) AS s_fr,
        |      CAST(len(list_filter(toks, t -> t IN ('el','la','los','y','es','yo','no','un','una','con'))) AS DOUBLE) / greatest(len(toks), 1) AS s_es
        |    FROM (SELECT lang, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |          FROM documents)))
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_quality_score" ->
      """SELECT min(q) AS min_q, avg(q) AS avg_q, max(q) AS max_q, count(*) AS n FROM (
        |  SELECT (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        |    + (1.0 - least(CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE)
        |        / greatest(length(text), 1) * 5.0, 1.0))
        |    + least(CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |          t -> t IN ('the','a','and','of','to','in','is','it','you','that'))) AS DOUBLE)
        |        / greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')), 1) * 4.0, 1.0)
        |    + CASE WHEN CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |        / greatest(CASE WHEN length(trim(text)) = 0 THEN 0
        |                        ELSE len(regexp_split_to_array(trim(text), '\s+')) END, 1)
        |        BETWEEN 3.0 AND 9.0 THEN 1.0 ELSE 0.5 END
        |  ) / 4.0 AS q FROM documents)""".stripMargin,
    // q_minhash_pairs / q_simhash_pairs: the signatures depend on xxhash64
    // bit patterns DuckDB cannot reproduce, so the queries STAGE them
    // (QueryStage) and the oracle re-derives the candidate join from the
    // staged rows — band equality for minhash, 16-bit-chunk blocking +
    // hamming for simhash. Paths assume the driver's sf0.01 verify run.
    "q_minhash_pairs" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared_bands
        |FROM '/tmp/graft_stage/sf0.01/minhash_bands/*.parquet' a
        |JOIN '/tmp/graft_stage/sf0.01/minhash_bands/*.parquet' b
        |  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
        | AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_simhash_pairs" ->
      """WITH c AS (
        |  SELECT doc_id, sig, ci, (sig >> (ci * 16)) & 65535 AS cv
        |  FROM '/tmp/graft_stage/sf0.01/simhash_sigs/*.parquet', unnest([0,1,2,3]) AS u(ci))
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
        |FROM c a JOIN c b ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 10
        |ORDER BY 1, 2""".stripMargin,
    // (q_ewm IS oracle-checked — recursive CTE in Queries3.)
  )
}
