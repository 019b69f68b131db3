package graft

import org.apache.spark.sql.{SparkSession, DataFrame => SDF, functions => F}
import graft.api.LazyFrame
import graft.expr.Expr
import graft.Polars._
import graft.TestTables.{events, lf, t}

/** Wave-9 driver queries (round 8): calendar-duration windows
  * (group_by_dynamic / frame rolling over mo/q/y) and oracle coverage for
  * the previously spec-only surface (describe, transpose, vstack,
  * with_context, partition_by). Calendar queries run on `orders` — the one
  * table whose index column spans years. */
object Queries9 {

  /** Monthly tumbling group_by_dynamic per order priority (calendar `1mo`
    * every — reference lazy_frame.rb:1416-1459 + duration DSL mo/q/y). The
    * upper boundary rides along so the oracle checks the add_months edge. */
  private def qGbdMonthly(s: SparkSession, dir: String): SDF =
    lf(s, dir, "orders")
      .groupByDynamic("o_orderdate", every = "1mo", by = Seq("o_orderpriority"), includeBoundaries = true)
      .agg(Expr(F.count(F.lit(1))).alias("n"),
        graft.DecimalDiscipline.decSum(col("o_totalprice"), 2).alias("sv"))
      .select(col("o_orderpriority"), col("o_orderdate"),
        col("_upper_boundary").alias("ub"), col("n"), col("sv"))
      .sortBy(Seq(col("o_orderpriority"), col("o_orderdate")))
      .collect().toSpark

  /** Sliding calendar windows: every=1mo, period=3mo — each order joins its
    * three covering windows (multi-membership via the month-space explode). */
  private def qGbdSliding(s: SparkSession, dir: String): SDF =
    lf(s, dir, "orders")
      .groupByDynamic("o_orderdate", every = "1mo", period = Some("3mo"))
      .agg(Expr(F.count(F.lit(1))).alias("n"),
        graft.DecimalDiscipline.decSum(col("o_totalprice"), 2).alias("sv"))
      .select(col("o_orderdate"), col("n"), col("sv"))
      .sortBy(Seq(col("o_orderdate")))
      .collect().toSpark

  /** Frame rolling over a calendar month: trailing [t - 1mo, t] per customer
    * bucket — the distributed bucket-join kernel (day-clamped month shift,
    * matched by DuckDB's calendar RANGE frame). */
  private def qRollingMonth(s: SparkSession, dir: String): SDF =
    LazyFrame(t(s, dir, "orders")
        .withColumn("cust_bucket", F.col("o_custkey") % 50))
      .rolling("o_orderdate", "1mo", by = Seq("cust_bucket"), closed = "both")
      .aggKeep("roll_n" -> Expr(F.count(F.lit(1))),
        "roll_sv" -> col("o_totalprice").sum)
      .select(col("o_orderkey"), col("roll_n"),
        Expr(F.round(F.col("roll_sv"), 2)).alias("roll_sv"))
      .sortBy(Seq(col("o_orderkey")))
      .collect().toSpark

  /** describe() — numeric stat rows, values re-parsed to rounded doubles so
    * the string-typed describe surface hash-compares against SQL aggregates. */
  private def qDescribe(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .select(col("l_quantity"), col("l_extendedprice"))
      .collect()
      .describe()
      .select(col("describe"),
        Expr(F.round(F.col("l_quantity"), 2)).alias("l_quantity"),
        Expr(F.round(F.col("l_extendedprice"), 2)).alias("l_extendedprice"))
      .sortBy(Seq(col("describe")))
      .toSpark

  /** vstack — duplicate-preserving vertical concat of region with itself. */
  private def qVstack(s: SparkSession, dir: String): SDF = {
    val r = lf(s, dir, "region")
    r.vstack(r)
      .groupBy("r_regionkey")
      .agg(Expr(F.count(F.lit(1))).alias("n"),
        col("r_name").first.alias("name"))
      .sortBy(Seq(col("r_regionkey")))
      .collect().toSpark
  }

  /** with_context — broadcast a one-row aggregate of another frame into this
    * frame's expression scope (reference lazy_frame.rb with_context). The
    * threshold divides by 30 so the filter keeps ~37% of lineitem: a
    * with_context that computed the wrong scalar changes the counts (the
    * round-9 form compared against the raw order average, which exceeds
    * every line price — a 0-row result that any wrong scalar also gave). */
  private def qWithContext(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .withContext(lf(s, dir, "orders"),
        "avg_price" -> graft.DecimalDiscipline.decMean(col("o_totalprice"), 2))
      .filter(col("l_extendedprice") > col("avg_price") / 30)
      .groupBy("l_returnflag")
      .agg(Expr(F.count(F.lit(1))).alias("n"))
      .sortBy(Seq(col("l_returnflag")))
      .collect().toSpark

  /** partition_by — driver-side key enumeration; the 'R' partition frame. */
  private def qPartitionBy(s: SparkSession, dir: String): SDF = {
    val parts = graft.api.DataFrame(t(s, dir, "lineitem")).partitionBy(Seq("l_returnflag"))
    val r = parts(Seq("R"))
    LazyFrame(r.toSpark)
      .groupBy("l_linestatus")
      .agg(Expr(F.count(F.lit(1))).alias("n"),
        graft.DecimalDiscipline.decSum(col("l_quantity"), 2).alias("sq"))
      .sortBy(Seq(col("l_linestatus")))
      .collect().toSpark
  }

  /** rolling_*_by (reference expr.rb:3964-4970): per-user trailing 30-minute
    * sum/mean via the keyed range-frame form, plus a KEYLESS trailing max
    * exercising the time-bucket phantom-carry kernel
    * ([[graft.kernel.Scan.rollingByApply]]) — polars default closed="right",
    * window (t-30m, t]. */
  private def qRollingBy(s: SparkSession, dir: String): SDF =
    events(s, dir)
      .withColumns(
        "rb_sum" -> col("value").rollingSumBy(col("ts"), "30m").over(col("user_id")),
        "rb_mean" -> col("value").rollingMeanBy(col("ts"), "30m").over(col("user_id")),
        "rb_max" -> col("value").rollingMaxBy(col("ts"), "30m"))
      .select(col("event_id"), col("user_id"), col("rb_sum"), col("rb_mean"),
        col("rb_max"))
      .sortBy(Seq(col("event_id")))
      .collect().toSpark

  /** Series#reshape (reference series.rb): the first 1000 event values
    * reshape to (-1, 4) lists, emitted as scalar (grp, pos, value) rows so
    * the gate can hash them (list cells crash the driver's pandas sorter). */
  private def qReshape(s: SparkSession, dir: String): SDF = {
    val ev = events(s, dir).toSpark
      .orderBy("event_id").limit(1000).select(F.col("value"))
    val rs = graft.api.Series("value", ev).reshape(Seq(-1L, 4L))
    org.apache.spark.sql.GraftInternalOps.zipWithDenseIndex(rs.df, "grp")
      .select(F.col("grp"), F.posexplode(F.col("value")).as(Seq("pos", "value")))
      .select(F.col("grp"), F.col("pos").cast("long").as("pos"), F.col("value"))
      .orderBy("grp", "pos")
  }

  /** group_by_dynamic closed="right": 6-hour tumbling windows whose upper
    * endpoint is inclusive — an on-boundary event rolls back into the
    * previous window ((s, s+6h] membership). Oracle: bucket t-1µs (epoch µs
    * is integral, so the shift exactly converts (s,e] to [s,e)). */
  private def qGbdClosed(s: SparkSession, dir: String): SDF =
    events(s, dir)
      .groupByDynamic("ts", every = "6h", by = Seq("event_type"), closed = "right")
      .agg(Expr(F.count(F.lit(1))).alias("n"),
        graft.DecimalDiscipline.decSum(col("value"), 2).alias("sv"))
      .select(col("event_type"), col("ts"), col("n"), col("sv"))
      .sortBy(Seq(col("event_type"), col("ts")))
      .collect().toSpark

  /** Expr any/all boolean aggregates per group (Kleene-complete forms are
    * spec-pinned; the oracle exercises the default drop_nulls=true). */
  private def qAnyAll(s: SparkSession, dir: String): SDF =
    lf(s, dir, "customer")
      .groupBy("c_mktsegment")
      .agg(
        (col("c_acctbal") < 0.0).any().alias("any_neg"),
        (col("c_acctbal") > -999.0).all().alias("all_above"),
        Expr(F.count(F.lit(1))).alias("n"))
      .sortBy(Seq(col("c_mktsegment")))
      .collect().toSpark

  /** group_by_dynamic over an INTEGER index column with index-count ('Ni')
    * durations (reference lazy_frame.rb:1390-1414): tumbling 500-id buckets
    * of events, labels and boundaries stay integers. */
  private def qGbdInt(s: SparkSession, dir: String): SDF =
    lf(s, dir, "events")
      .groupByDynamic("event_id", every = "500i")
      .agg(Expr(F.count(F.lit(1))).alias("n"),
        graft.DecimalDiscipline.decSum(col("value"), 2).alias("sv"))
      .select(col("event_id"), col("n"), col("sv"))
      .sortBy(Seq(col("event_id")))
      .collect().toSpark

  /** transpose — rows become column_i string columns (executor-side stack). */
  private def qTranspose(s: SparkSession, dir: String): SDF =
    graft.api.DataFrame(
        t(s, dir, "region").orderBy("r_regionkey").select("r_regionkey", "r_name"))
      .transpose(includeHeader = true, headerName = "colname")
      .sortBy(Seq(col("colname")))
      .toSpark

  /** Expr-level CALENDAR rolling_*_by (new this round): per-bucket trailing
    * [t - 1mo, t] sum via the month-space bucket-join kernel
    * ([[graft.kernel.Scan.rollingByCalendar]]). The summed column is cast to
    * decimal so both engines produce the identical exact sum (one final
    * rounding on the double cast); a ~200-way key keeps the O(n x window)
    * join fan-out proportionate. closed="both" mirrors DuckDB's RANGE
    * INTERVAL frame (both endpoints inclusive). */
  private def qRollingByCal(s: SparkSession, dir: String): SDF =
    LazyFrame(t(s, dir, "orders")
        .withColumn("cb", F.col("o_custkey") % 200))
      .withColumns(
        "rs" -> Expr(F.col("o_totalprice").cast("decimal(18,2)"))
          .rollingSumBy(col("o_orderdate"), "1mo", closed = "both")
          .over(col("cb")))
      .select(col("o_orderkey"), Expr(F.col("rs").cast("double")).alias("rs"))
      .sortBy(Seq(col("o_orderkey")))
      .collect().toSpark

  def queries: Map[String, (SparkSession, String) => SDF] = Map(
    "q_rolling_by_cal" -> (qRollingByCal _),
    "q_gbd_monthly" -> (qGbdMonthly _),
    "q_gbd_sliding" -> (qGbdSliding _),
    "q_rolling_month" -> (qRollingMonth _),
    "q_describe" -> (qDescribe _),
    "q_vstack" -> (qVstack _),
    "q_with_context" -> (qWithContext _),
    "q_partition_by" -> (qPartitionBy _),
    "q_transpose" -> (qTranspose _),
    "q_rolling_by" -> (qRollingBy _),
    "q_reshape" -> (qReshape _),
    "q_gbd_closed" -> (qGbdClosed _),
    "q_any_all" -> (qAnyAll _),
    "q_gbd_int" -> (qGbdInt _))

  def oracleSql: Map[String, String] = Map(
    "q_rolling_by_cal" ->
      """SELECT o_orderkey,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS rs
        |FROM orders WINDOW w AS (PARTITION BY o_custkey % 200 ORDER BY o_orderdate
        |  RANGE BETWEEN INTERVAL 1 MONTH PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    "q_gbd_monthly" ->
      """SELECT o_orderpriority,
        |CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS o_orderdate,
        |CAST(date_trunc('month', o_orderdate) + INTERVAL 1 MONTH AS TIMESTAMP) AS ub,
        |count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |FROM orders GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin,
    "q_gbd_sliding" ->
      """SELECT CAST(ws AS TIMESTAMP) AS o_orderdate, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |FROM (SELECT o_totalprice, unnest([
        |    date_trunc('month', o_orderdate),
        |    date_trunc('month', o_orderdate) - INTERVAL 1 MONTH,
        |    date_trunc('month', o_orderdate) - INTERVAL 2 MONTH]) AS ws
        |  FROM orders)
        |GROUP BY ws ORDER BY 1""".stripMargin,
    "q_rolling_month" ->
      """SELECT o_orderkey, count(*) OVER w AS roll_n,
        |round(sum(o_totalprice) OVER w, 2) AS roll_sv
        |FROM orders WINDOW w AS (PARTITION BY o_custkey % 50 ORDER BY o_orderdate
        |  RANGE BETWEEN INTERVAL 1 MONTH PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    "q_describe" ->
      // the reference's 7-row describe (data_frame.rb:1169): count is the
      // HEIGHT, median replaces the quartile rows, header column "describe"
      """SELECT * FROM (
        |SELECT 'count' AS "describe", round(CAST(count(*) AS DOUBLE), 2) AS l_quantity,
        |  round(CAST(count(*) AS DOUBLE), 2) AS l_extendedprice FROM lineitem
        |UNION ALL SELECT 'null_count', round(CAST(count(*) - count(l_quantity) AS DOUBLE), 2),
        |  round(CAST(count(*) - count(l_extendedprice) AS DOUBLE), 2) FROM lineitem
        |UNION ALL SELECT 'mean',
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity), 2),
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice), 2) FROM lineitem
        |UNION ALL SELECT 'std', round(stddev_samp(l_quantity), 2), round(stddev_samp(l_extendedprice), 2) FROM lineitem
        |UNION ALL SELECT 'min', round(CAST(min(l_quantity) AS DOUBLE), 2), round(CAST(min(l_extendedprice) AS DOUBLE), 2) FROM lineitem
        |UNION ALL SELECT 'max', round(CAST(max(l_quantity) AS DOUBLE), 2), round(CAST(max(l_extendedprice) AS DOUBLE), 2) FROM lineitem
        |UNION ALL SELECT 'median', round(quantile_cont(l_quantity, 0.5), 2), round(quantile_cont(l_extendedprice, 0.5), 2) FROM lineitem
        |) ORDER BY "describe"""".stripMargin,
    "q_vstack" ->
      """SELECT r_regionkey, count(*) AS n, min(r_name) AS name
        |FROM (SELECT * FROM region UNION ALL SELECT * FROM region)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_with_context" ->
      """SELECT l_returnflag, count(*) AS n
        |FROM lineitem, (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  / count(o_totalprice) / 30 AS ap FROM orders)
        |WHERE l_extendedprice > ap GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_partition_by" ->
      """SELECT l_linestatus, count(*) AS n,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq
        |FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_gbd_closed" ->
      """SELECT event_type,
        |CAST(time_bucket(INTERVAL '6 hours', ts - INTERVAL 1 MICROSECOND,
        |  TIMESTAMP '1970-01-01') AS TIMESTAMP) AS ts,
        |count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_gbd_int" ->
      """SELECT (event_id // 500) * 500 AS event_id,
        |count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_any_all" ->
      """SELECT c_mktsegment,
        |bool_or(c_acctbal < 0.0) AS any_neg,
        |bool_and(c_acctbal > -999.0) AS all_above,
        |count(*) AS n
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_reshape" ->
      """SELECT (i - 1) // 4 AS grp, (i - 1) % 4 AS pos, value FROM (
        |SELECT value, row_number() OVER (ORDER BY event_id) AS i
        |FROM events ORDER BY event_id LIMIT 1000)
        |ORDER BY 1, 2""".stripMargin,
    "q_rolling_by" ->
      """SELECT event_id, user_id,
        |sum(value) OVER wu AS rb_sum,
        |avg(value) OVER wu AS rb_mean,
        |max(value) OVER wg AS rb_max
        |FROM events
        |WINDOW wu AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 1799999999 PRECEDING AND CURRENT ROW),
        |  wg AS (ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 1799999999 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q_transpose" ->
      """SELECT * FROM (
        |SELECT 'r_regionkey' AS colname,
        |  CAST(max(CASE WHEN r_regionkey = 0 THEN r_regionkey END) AS VARCHAR) AS column_0,
        |  CAST(max(CASE WHEN r_regionkey = 1 THEN r_regionkey END) AS VARCHAR) AS column_1,
        |  CAST(max(CASE WHEN r_regionkey = 2 THEN r_regionkey END) AS VARCHAR) AS column_2,
        |  CAST(max(CASE WHEN r_regionkey = 3 THEN r_regionkey END) AS VARCHAR) AS column_3,
        |  CAST(max(CASE WHEN r_regionkey = 4 THEN r_regionkey END) AS VARCHAR) AS column_4
        |FROM region
        |UNION ALL
        |SELECT 'r_name',
        |  max(CASE WHEN r_regionkey = 0 THEN r_name END),
        |  max(CASE WHEN r_regionkey = 1 THEN r_name END),
        |  max(CASE WHEN r_regionkey = 2 THEN r_name END),
        |  max(CASE WHEN r_regionkey = 3 THEN r_name END),
        |  max(CASE WHEN r_regionkey = 4 THEN r_name END)
        |FROM region
        |) ORDER BY colname""".stripMargin)
}
