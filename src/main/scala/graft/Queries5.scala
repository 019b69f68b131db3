package graft

import org.apache.spark.sql.{SparkSession, DataFrame => SDF, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import graft.api.{DataFrame, LazyFrame}
import graft.expr.Expr
import graft.Polars._
import graft.TestTables.{events, lf, t}

/** Wave-5 driver queries: diagonal concat, dummies, fills, masks, ranges,
  * spearman, encodings, categorical shim, horizontal mean/all/any, durations. */
object Queries5 {

  private def qConcatDiagonal(s: SparkSession, dir: String): SDF = {
    val a = lf(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")).collect()
    val b = lf(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")).collect()
    Polars.concat(Seq(a, b), how = "diagonal")
      .groupByExprs()
      .agg(
        Expr(F.count(F.lit(1))).alias("n_rows"),
        col("o_totalprice").count.alias("n_price"),
        col("o_orderpriority").count.alias("n_prio"))
      .toSpark
  }

  private def qToDummies(s: SparkSession, dir: String): SDF = {
    val dummies = DataFrame(t(s, dir, "customer")).toDummies(Seq("c_mktsegment"))
    dummies.select(
      col("c_mktsegment_AUTOMOBILE").cast(LongType).sum.alias("n_auto"),
      col("c_mktsegment_BUILDING").cast(LongType).sum.alias("n_build"),
      col("c_mktsegment_FURNITURE").cast(LongType).sum.alias("n_furn"),
      col("c_mktsegment_HOUSEHOLD").cast(LongType).sum.alias("n_house"),
      col("c_mktsegment_MACHINERY").cast(LongType).sum.alias("n_mach"))
      .toSpark
  }

  private def qForwardFill(s: SparkSession, dir: String): SDF = {
    val w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, dir)
      .withColumn("pv", Polars.when(col("event_type") === "purchase").then(col("value")).otherwise(lit(null)))
      .withColumn("pv_ffill", Expr(F.last(F.col("pv"), ignoreNulls = true).over(w)))
      .select(col("event_id"), col("pv_ffill"))
      .sortBy(Seq(col("event_id")))
      .collect().toSpark
  }

  private def qIsDuplicated(s: SparkSession, dir: String): SDF =
    lf(s, dir, "orders")
      .withColumns(
        "dup" -> col("o_custkey").isDuplicated,
        "uniq" -> col("o_custkey").isUniqueMask)
      .select(
        col("dup").cast(LongType).sum.alias("n_dup_rows"),
        col("uniq").cast(LongType).sum.alias("n_unique_rows"))
      .collect().toSpark

  private def qIntRange(s: SparkSession, dir: String): SDF =
    LazyFrame(s.range(1).toDF()
      .select(Polars.intRange(0, 100, 3).col.as("r")))
      .explode("r")
      .select(
        col("r").sum.alias("total"),
        Expr(F.count(F.lit(1))).alias("n"),
        col("r").max.alias("mx"))
      .collect().toSpark

  private def qDateRange(s: SparkSession, dir: String): SDF =
    LazyFrame(s.range(1).toDF()
      .select(F.explode(F.sequence(
        F.to_date(F.lit("2024-01-01")), F.to_date(F.lit("2024-03-01")),
        F.expr("INTERVAL '1' WEEK"))).as("d")))
      .select(
        Expr(F.count(F.lit(1))).alias("n_weeks"),
        Expr(F.min(F.col("d"))).alias("first_d"),
        Expr(F.max(F.col("d"))).alias("last_d"))
      .collect().toSpark

  private def qSpearman(s: SparkSession, dir: String): SDF =
    Polars.spearmanCorr(
      lf(s, dir, "lineitem").collect(), "l_quantity", "l_extendedprice")
      .toSpark

  private def qEncodings(s: SparkSession, dir: String): SDF =
    lf(s, dir, "documents")
      .select(
        col("doc_id"),
        Expr(F.md5(F.col("text"))).alias("digest"),
        col("lang").str.encode("base64").alias("lang_b64"),
        col("source").str.encode("hex").str.toLowercase.alias("src_hex"))
      .sortBy(Seq(col("doc_id")))
      .collect().toSpark

  private def qCatCategories(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      // get_categories yields the listing as ROWS (reference cat_expr.rb:16
      // shape) in first-appearance order; the oracle sorts, so sort here too
      .select(col("l_returnflag").cat.getCategories.alias("cats"))
      .sortBy(Seq(col("cats")))
      .collect().toSpark

  private def qHorizontal2(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        Polars.meanHorizontal(col("l_discount"), col("l_tax")).alias("mean_rate"),
        Polars.allHorizontal(col("l_discount") >= 0, col("l_tax") >= 0).alias("all_nonneg"),
        Polars.anyHorizontal(col("l_discount") > 0.09, col("l_tax") > 0.07).alias("any_high"))
      .sortBy(Seq(col("l_orderkey"), col("l_linenumber")))
      .collect().toSpark

  /** Duration accessors over long-µs-ticks durations (SURVEY §1.2 mapping). */
  private def qDtTotal(s: SparkSession, dir: String): SDF =
    events(s, dir)
      .withColumn("since_midnight_us",
        col("ts").dt.epoch("us") - col("ts").dt.truncate("1d").dt.epoch("us"))
      .select(
        col("event_id"),
        col("since_midnight_us").dt.totalMinutes.alias("mins"),
        col("since_midnight_us").dt.totalSeconds.alias("secs"),
        col("since_midnight_us").dt.totalHours.alias("hrs"))
      .sortBy(Seq(col("event_id")))
      .collect().toSpark

  /** Native StrReplaceN expression through the function registry
    * (`SparkEntry.queries` registers graft's extensions for every query). */
  private def qReplaceN(s: SparkSession, dir: String): SDF =
    lf(s, dir, "documents")
      .select(
        col("doc_id"),
        col("text").str.slice(0, Some(40)).str.replaceN("a", "@", 1).alias("one_sub"))
      .sortBy(Seq(col("doc_id")))
      .collect().toSpark

  def queries: Map[String, (SparkSession, String) => SDF] = Map(
    "q_replace_n" -> (qReplaceN _),
    "q_concat_diagonal" -> (qConcatDiagonal _),
    "q_to_dummies" -> (qToDummies _),
    "q_forward_fill" -> (qForwardFill _),
    "q_is_duplicated" -> (qIsDuplicated _),
    "q_int_range" -> (qIntRange _),
    "q_date_range" -> (qDateRange _),
    "q_spearman" -> (qSpearman _),
    "q_encodings" -> (qEncodings _),
    "q_cat_categories" -> (qCatCategories _),
    "q_horizontal2" -> (qHorizontal2 _),
    "q_dt_total" -> (qDtTotal _),
  )

  def oracleSql: Map[String, String] = Map(
    "q_replace_n" ->
      """SELECT doc_id, regexp_replace(substr(text, 1, 40), 'a', '@') AS one_sub
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_concat_diagonal" ->
      """SELECT count(*) AS n_rows, count(o_totalprice) AS n_price,
        |count(o_orderpriority) AS n_prio FROM (
        |SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority FROM orders
        |UNION ALL
        |SELECT o_orderkey, NULL, o_orderpriority FROM orders)""".stripMargin,
    "q_to_dummies" ->
      """SELECT
        |CAST(sum(CASE WHEN c_mktsegment='AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS n_auto,
        |CAST(sum(CASE WHEN c_mktsegment='BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS n_build,
        |CAST(sum(CASE WHEN c_mktsegment='FURNITURE' THEN 1 ELSE 0 END) AS BIGINT) AS n_furn,
        |CAST(sum(CASE WHEN c_mktsegment='HOUSEHOLD' THEN 1 ELSE 0 END) AS BIGINT) AS n_house,
        |CAST(sum(CASE WHEN c_mktsegment='MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS n_mach
        |FROM customer""".stripMargin,
    "q_forward_fill" ->
      """SELECT event_id, last_value(pv IGNORE NULLS) OVER (
        |PARTITION BY user_id ORDER BY ts, event_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv_ffill
        |FROM (SELECT event_id, user_id, ts,
        |  CASE WHEN event_type='purchase' THEN value END AS pv FROM events)
        |ORDER BY event_id""".stripMargin,
    "q_is_duplicated" ->
      """SELECT
        |CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_rows,
        |CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique_rows
        |FROM (SELECT count(*) OVER (PARTITION BY o_custkey) AS c FROM orders)""".stripMargin,
    "q_int_range" ->
      """SELECT CAST(sum(r) AS BIGINT) AS total, count(*) AS n, CAST(max(r) AS BIGINT) AS mx
        |FROM (SELECT unnest(range(0, 100, 3)) AS r)""".stripMargin,
    "q_date_range" ->
      """SELECT count(*) AS n_weeks, CAST(min(d) AS DATE) AS first_d, CAST(max(d) AS DATE) AS last_d
        |FROM (SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-03-01',
        |INTERVAL 1 WEEK)) AS d)""".stripMargin,
    "q_spearman" ->
      """SELECT corr(rq, rp) AS spearman FROM (
        |SELECT CAST(rank() OVER (ORDER BY l_quantity) AS DOUBLE) AS rq,
        |CAST(rank() OVER (ORDER BY l_extendedprice) AS DOUBLE) AS rp
        |FROM lineitem)""".stripMargin,
    "q_encodings" ->
      """SELECT doc_id, md5(text) AS digest,
        |base64(CAST(lang AS BLOB)) AS lang_b64,
        |lower(hex(source)) AS src_hex
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_cat_categories" ->
      "SELECT DISTINCT l_returnflag AS cats FROM lineitem ORDER BY 1",
    "q_horizontal2" ->
      """SELECT l_orderkey, l_linenumber,
        |(l_discount + l_tax) / 2.0 AS mean_rate,
        |l_discount >= 0 AND l_tax >= 0 AS all_nonneg,
        |l_discount > 0.09 OR l_tax > 0.07 AS any_high
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_dt_total" ->
      """SELECT event_id,
        |CAST((epoch_us(ts) - epoch_us(date_trunc('day', ts))) // 60000000 AS BIGINT) AS mins,
        |CAST((epoch_us(ts) - epoch_us(date_trunc('day', ts))) // 1000000 AS BIGINT) AS secs,
        |CAST((epoch_us(ts) - epoch_us(date_trunc('day', ts))) // 3600000000 AS BIGINT) AS hrs
        |FROM events ORDER BY event_id""".stripMargin,
  )
}
