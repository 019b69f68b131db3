package graft

import org.apache.spark.sql.{SparkSession, DataFrame => SDF, functions => F}
import org.apache.spark.sql.expressions.Window
import graft.api.{DataFrame, LazyFrame, SQLContext}
import graft.expr.Expr
import graft.Polars._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each expressed through the graft library (the polars-ruby-
  * equivalent Spark-native surface) and paired with DuckDB oracle SQL.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): SDF =
    s.read.parquet(s"$dir/$name.parquet")
  private def lf(s: SparkSession, dir: String, name: String): LazyFrame =
    LazyFrame(t(s, dir, name))
  /** events.ts normalization across testdata generations (nanos-as-long vs
    * native timestamp[us]) lives in [[TestTables.normalizeEventsTs]]. */
  private def events(s: SparkSession, dir: String): LazyFrame =
    LazyFrame(t(s, dir, "events")
      .transform(TestTables.normalizeEventsTs))

  import DecimalDiscipline.{decSum, decMean}

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1 shape through the lazy API: scan → filter → group → agg → sort. */
  def entry(spark: SparkSession): SDF = {
    val dir = "/root/testdata/sf0.001"
    lf(spark, dir, "lineitem")
      .filter(col("l_quantity") > 0)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        col("l_quantity").sum.alias("sum_qty"),
        col("l_extendedprice").sum.alias("sum_base_price"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).sum.alias("sum_disc_price"),
        col("l_quantity").mean.alias("avg_qty"),
        Expr(F.count(F.lit(1))).alias("count_order"))
      .sortBy(Seq(col("l_returnflag"), col("l_linestatus")))
      .collect().toSpark
  }

  // ----------------------------------------------------------------------
  // §2.4 aggregations
  // ----------------------------------------------------------------------
  private def q1Agg(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        decSum(col("l_quantity"), 2).alias("sum_qty"),
        decSum(col("l_extendedprice"), 2).alias("sum_base_price"),
        decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).alias("sum_disc_price"),
        decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")), 6).alias("sum_charge"),
        decMean(col("l_quantity"), 2).alias("avg_qty"),
        decMean(col("l_extendedprice"), 2).alias("avg_price"),
        decMean(col("l_discount"), 2).alias("avg_disc"),
        Expr(F.count(F.lit(1))).alias("count_order"))
      .sortBy(Seq(col("l_returnflag"), col("l_linestatus")))
      .collect().toSpark

  private def q6Filter(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .filter(col("l_shipdate") >= Expr(F.to_timestamp(F.lit("1995-01-01")))
        && col("l_discount").isBetween(0.05, 0.07)
        && col("l_quantity") < 24)
      .select(decSum(col("l_extendedprice") * col("l_discount"), 4).alias("revenue"))
      .collect().toSpark

  private def qStats(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        col("l_quantity").min.alias("min_qty"),
        col("l_quantity").max.alias("max_qty"),
        col("l_quantity").std().alias("std_qty"),
        col("l_quantity").variance().alias("var_qty"),
        col("l_extendedprice").median.alias("med_price"),
        col("l_quantity").quantile(0.9, "linear").alias("p90_qty"),
        col("l_partkey").nUnique.alias("n_parts"))
      .sortBy(Seq(col("l_returnflag")))
      .collect().toSpark

  private def qCorrCov(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .select(
        Polars.corr(col("l_quantity"), col("l_extendedprice")).alias("corr_qty_price"),
        Polars.cov(col("l_quantity"), col("l_extendedprice")).alias("cov_qty_price"))
      .collect().toSpark

  private def qValueCounts(s: SparkSession, dir: String): SDF =
    lf(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(Expr(F.count(F.lit(1))).alias("count"))
      .sortBy(Seq(col("o_orderpriority")))
      .collect().toSpark

  private def qAggFilter(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .groupBy("l_linestatus")
      .agg(
        decSum(col("l_quantity").filter(col("l_returnflag") === "A"), 2).alias("qty_a"),
        decSum(col("l_quantity").filter(col("l_returnflag") === "R"), 2).alias("qty_r"),
        decMean(col("l_extendedprice").filter(col("l_discount") > 0.05), 2).alias("avg_price_disc"))
      .sortBy(Seq(col("l_linestatus")))
      .collect().toSpark

  private def qHorizontal(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        Polars.maxHorizontal(col("l_discount"), col("l_tax")).alias("max_rate"),
        Polars.minHorizontal(col("l_discount"), col("l_tax")).alias("min_rate"),
        Polars.sumHorizontal(col("l_discount"), col("l_tax")).alias("sum_rate"))
      .sortBy(Seq(col("l_orderkey"), col("l_linenumber")))
      .collect().toSpark

  // ----------------------------------------------------------------------
  // §2.2 projections / predicates / conditionals
  // ----------------------------------------------------------------------
  private def qWithColumns(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .withColumns(
        "net_price" -> (col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
        "qty_sq" -> col("l_quantity").pow(2.0),
        "is_big" -> (col("l_quantity") >= 30))
      .select(col("l_orderkey"), col("l_linenumber"), col("net_price"), col("qty_sq"), col("is_big"))
      .sortBy(Seq(col("l_orderkey"), col("l_linenumber")))
      .collect().toSpark

  private def qWhenThen(s: SparkSession, dir: String): SDF =
    lf(s, dir, "orders")
      .withColumn("bucket",
        Polars.when(col("o_totalprice") < 100000).then("low")
          .when(col("o_totalprice") < 300000).then("mid")
          .otherwise("high"))
      .groupBy("bucket")
      .agg(Expr(F.count(F.lit(1))).alias("n"), decSum(col("o_totalprice"), 2).alias("total"))
      .sortBy(Seq(col("bucket")))
      .collect().toSpark

  private def qCast(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast(org.apache.spark.sql.types.IntegerType).alias("qty_int"),
        // decimal cast exercised, then stringified: decimal→pandas repr differs
        // between engines and breaks the driver's exact value hash
        col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .cast(org.apache.spark.sql.types.StringType).alias("price_dec"),
        col("l_linenumber").cast(org.apache.spark.sql.types.StringType).alias("ln_str"))
      .sortBy(Seq(col("l_orderkey"), col("l_linenumber")))
      .collect().toSpark

  private def qMath(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").sqrt.alias("sqrt_price"),
        col("l_extendedprice").log.alias("ln_price"),
        col("l_extendedprice").log10.alias("log10_price"),
        col("l_quantity").clip(5.0, 40.0).alias("clipped"),
        (col("l_discount") - lit(0.04)).sign.alias("disc_sign"),
        col("l_extendedprice").round(1).alias("price_r1"))
      .sortBy(Seq(col("l_orderkey"), col("l_linenumber")))
      .collect().toSpark

  // ----------------------------------------------------------------------
  // §2.3 joins
  // ----------------------------------------------------------------------
  private def qJoinAgg(s: SparkSession, dir: String): SDF = {
    // dim chain nation→region is tiny: broadcast both (SURVEY §2.3 hash-vs-broadcast)
    val orders = lf(s, dir, "orders")
    val customer = lf(s, dir, "customer")
    val nation = LazyFrame(F.broadcast(t(s, dir, "nation")))
    orders
      .joinOn(customer, Seq("o_custkey"), Seq("c_custkey"))
      .joinOn(nation, Seq("c_nationkey"), Seq("n_nationkey"))
      .groupBy("n_name")
      .agg(Expr(F.count(F.lit(1))).alias("n_orders"), decSum(col("o_totalprice"), 2).alias("total"))
      .sortBy(Seq(col("n_name")))
      .collect().toSpark
  }

  private def qJoinLeft(s: SparkSession, dir: String): SDF =
    lf(s, dir, "customer")
      .joinOn(lf(s, dir, "orders"), Seq("c_custkey"), Seq("o_custkey"), how = "left")
      .groupBy("c_custkey")
      .agg(
        Expr(F.count(F.col("o_orderkey"))).alias("n_orders"),
        decSum(col("o_totalprice"), 2).fillNull(Expr(F.lit(0.0))).alias("total"))
      .sortBy(Seq(col("c_custkey")))
      .collect().toSpark

  private def qJoinSemi(s: SparkSession, dir: String): SDF =
    lf(s, dir, "customer")
      .joinOn(lf(s, dir, "orders").filter(col("o_totalprice") > 400000),
        Seq("c_custkey"), Seq("o_custkey"), how = "semi")
      .select(col("c_custkey"), col("c_name"))
      .sortBy(Seq(col("c_custkey")))
      .collect().toSpark

  // anti join against the HIGH-VALUE orders only: every customer has some
  // order in the test data, so the round-9 unfiltered form returned 0 rows —
  // a gate a wrong anti-join also passed. Filtered, ~200 of 1500 customers
  // survive (real misses AND real hits on both sides).
  private def qJoinAnti(s: SparkSession, dir: String): SDF =
    lf(s, dir, "customer")
      .joinOn(lf(s, dir, "orders").filter(col("o_totalprice") > 400000),
        Seq("c_custkey"), Seq("o_custkey"), how = "anti")
      .select(col("c_custkey"), col("c_mktsegment"))
      .sortBy(Seq(col("c_custkey")))
      .collect().toSpark

  private def qJoinFull(s: SparkSession, dir: String): SDF = {
    val bySeg = lf(s, dir, "customer").groupBy("c_mktsegment")
      .agg(Expr(F.count(F.lit(1))).alias("n_cust"))
    val byStatus = lf(s, dir, "orders")
      .joinOn(lf(s, dir, "customer"), Seq("o_custkey"), Seq("c_custkey"))
      .groupBy("c_mktsegment").agg(decSum(col("o_totalprice"), 2).alias("seg_total"))
    // polars full join keeps both key columns (left + suffixed right);
    // the oracle's USING form coalesces, so coalesce explicitly
    bySeg.join(byStatus, Seq("c_mktsegment"), how = "full")
      .select(Polars.coalesce(col("c_mktsegment"), col("c_mktsegment_right"))
        .alias("c_mktsegment"), col("n_cust"), col("seg_total"))
      .sortBy(Seq(col("c_mktsegment")))
      .collect().toSpark
  }

  private def qCrossJoin(s: SparkSession, dir: String): SDF =
    lf(s, dir, "region").crossJoin(lf(s, dir, "nation"))
      .select(col("r_name"), col("n_name"))
      .sortBy(Seq(col("r_name"), col("n_name")))
      .collect().toSpark

  // ----------------------------------------------------------------------
  // §2.5 windows
  // ----------------------------------------------------------------------
  private def qWindowRank(s: SparkSession, dir: String): SDF =
    lf(s, dir, "orders")
      .withColumn("rn", Expr(F.row_number().over(
        Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc, F.col("o_orderkey")))))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .sortBy(Seq(col("o_custkey")))
      .collect().toSpark

  private def qWindowAgg(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .withColumns(
        "order_total" -> col("l_extendedprice").sum.over(col("l_orderkey")),
        "share" -> (col("l_extendedprice") / col("l_extendedprice").sum.over(col("l_orderkey"))))
      .select(col("l_orderkey"), col("l_linenumber"), col("order_total"), col("share"))
      .sortBy(Seq(col("l_orderkey"), col("l_linenumber")))
      .collect().toSpark

  private def qCumSum(s: SparkSession, dir: String): SDF = {
    val w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, dir)
      .withColumn("cum_value", col("value").sum.over(w))
      .select(col("event_id"), col("user_id"), col("cum_value"))
      .sortBy(Seq(col("event_id")))
      .collect().toSpark
  }

  private def qShiftDiff(s: SparkSession, dir: String): SDF = {
    val w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    events(s, dir)
      .withColumns(
        "prev_value" -> Expr(F.lag("value", 1).over(w)),
        "diff_value" -> Expr(F.col("value") - F.lag("value", 1).over(w)))
      .select(col("event_id"), col("user_id"), col("prev_value"), col("diff_value"))
      .sortBy(Seq(col("event_id")))
      .collect().toSpark
  }

  private def qRolling(s: SparkSession, dir: String): SDF = {
    val w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id")).rowsBetween(-2, 0)
    events(s, dir)
      .withColumns(
        "roll_sum" -> Expr(F.sum("value").over(w)),
        "roll_avg" -> Expr(F.avg("value").over(w)),
        "roll_max" -> Expr(F.max("value").over(w)))
      .select(col("event_id"), col("user_id"), col("roll_sum"), col("roll_avg"), col("roll_max"))
      .sortBy(Seq(col("event_id")))
      .collect().toSpark
  }

  // ----------------------------------------------------------------------
  // §2.6 sort / limit / top-k / unique
  // ----------------------------------------------------------------------
  private def qTopK(s: SparkSession, dir: String): SDF =
    lf(s, dir, "orders")
      .sortBy(Seq(col("o_totalprice"), col("o_orderkey")), Seq(true, false))
      .limit(10)
      .select(col("o_orderkey"), col("o_totalprice"))
      .collect().toSpark

  private def qSortMulti(s: SparkSession, dir: String): SDF =
    lf(s, dir, "customer")
      .sortBy(Seq(col("c_mktsegment"), col("c_acctbal")), Seq(false, true))
      .limit(50)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .collect().toSpark

  private def qUnique(s: SparkSession, dir: String): SDF =
    lf(s, dir, "customer")
      .select(col("c_mktsegment"), col("c_nationkey"))
      .unique()
      .sortBy(Seq(col("c_mktsegment"), col("c_nationkey")))
      .collect().toSpark

  // ----------------------------------------------------------------------
  // §2.7 set ops / reshape
  // ----------------------------------------------------------------------
  private def qConcat(s: SparkSession, dir: String): SDF = {
    val lo = lf(s, dir, "lineitem").filter(col("l_quantity") < 10).collect()
    val hi = lf(s, dir, "lineitem").filter(col("l_quantity") >= 40).collect()
    Polars.concat(Seq(lo, hi))
      .groupBy("l_returnflag")
      .agg(Expr(F.count(F.lit(1))).alias("n"), decSum(col("l_quantity"), 2).alias("qty"))
      .sortBy(Seq(col("l_returnflag")))
      .toSpark
  }

  private def qPivot(s: SparkSession, dir: String): SDF =
    // decimal discipline: pivot-sum over the DECIMAL-cast value column, then
    // present the pivoted sums as DOUBLE (see decSum)
    DataFrame(t(s, dir, "lineitem")
        .withColumn("l_quantity", F.col("l_quantity").cast("decimal(18,2)")))
      .pivotValues("l_returnflag", Seq("A", "N", "R"), Seq("l_linestatus"), "l_quantity", "sum")
      .sortBy(Seq(col("l_linestatus")))
      .toSpark
      .select(F.col("l_linestatus"),
        F.col("A").cast("double").as("A"),
        F.col("N").cast("double").as("N"),
        F.col("R").cast("double").as("R"))

  private def qUnpivot(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_discount"), col("l_tax"))
      .unpivot(Seq("l_quantity", "l_discount", "l_tax"), Seq("l_orderkey", "l_linenumber"))
      .groupBy("variable")
      .agg(decSum(col("value"), 2).alias("total"), Expr(F.count(F.lit(1))).alias("n"))
      .sortBy(Seq(col("variable")))
      .collect().toSpark

  private def qExplode(s: SparkSession, dir: String): SDF =
    lf(s, dir, "embeddings")
      .filter(col("vec_id") < 100)
      .explode("embedding")
      .groupBy("vec_id")
      .agg(
        Expr(F.count(F.lit(1))).alias("n_dims"),
        col("embedding").cast(org.apache.spark.sql.types.DoubleType).sum.alias("vec_sum"))
      .sortBy(Seq(col("vec_id")))
      .collect().toSpark

  // ----------------------------------------------------------------------
  // queries map (driver contract)
  // ----------------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => SDF] = disjointUnion(Seq(coreQueries,
    Queries2.queries, Queries3.queries, Queries4.queries, Queries5.queries, Queries6.queries,
    Queries7.queries, Queries8.queries, Queries9.queries, Queries10.queries, Queries11.queries,
    Queries12.queries, Queries13.queries, Queries14.queries, Queries15.queries, Queries16.queries))

  /** Union of the per-file maps. A name defined in two maps is a bug, not an
    * override: `++` would let the later map win silently. */
  private[graft] def disjointUnion[V](maps: Seq[Map[String, V]]): Map[String, V] =
    maps.foldLeft(Map.empty[String, V]) { (acc, m) =>
      val dup = acc.keySet.intersect(m.keySet)
      require(dup.isEmpty, s"duplicate query names: ${dup.toSeq.sorted.mkString(", ")}")
      acc ++ m
    }

  private def coreQueries: Map[String, (SparkSession, String) => SDF] = Map(
    "q1_agg" -> (q1Agg _),
    "q6_filter" -> (q6Filter _),
    "q_stats" -> (qStats _),
    "q_corr_cov" -> (qCorrCov _),
    "q_value_counts" -> (qValueCounts _),
    "q_agg_filter" -> (qAggFilter _),
    "q_horizontal" -> (qHorizontal _),
    "q_with_columns" -> (qWithColumns _),
    "q_when_then" -> (qWhenThen _),
    "q_cast" -> (qCast _),
    "q_math" -> (qMath _),
    "q_join_agg" -> (qJoinAgg _),
    "q_join_left" -> (qJoinLeft _),
    "q_join_semi" -> (qJoinSemi _),
    "q_join_anti" -> (qJoinAnti _),
    "q_join_full" -> (qJoinFull _),
    "q_cross_join" -> (qCrossJoin _),
    "q_window_rank" -> (qWindowRank _),
    "q_window_agg" -> (qWindowAgg _),
    "q_cum_sum" -> (qCumSum _),
    "q_shift_diff" -> (qShiftDiff _),
    "q_rolling" -> (qRolling _),
    "q_top_k" -> (qTopK _),
    "q_sort_multi" -> (qSortMulti _),
    "q_unique" -> (qUnique _),
    "q_concat" -> (qConcat _),
    "q_pivot" -> (qPivot _),
    "q_unpivot" -> (qUnpivot _),
    "q_explode" -> (qExplode _),
  )

  def oracleSql: Map[String, String] = disjointUnion(Seq(coreOracleSql,
    Queries2.oracleSql, Queries3.oracleSql, Queries4.oracleSql, Queries5.oracleSql,
    Queries6.oracleSql, Queries7.oracleSql, Queries8.oracleSql, Queries9.oracleSql,
    Queries10.oracleSql, Queries11.oracleSql, Queries12.oracleSql, Queries13.oracleSql,
    Queries14.oracleSql, Queries15.oracleSql, Queries16.oracleSql))

  private def coreOracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |CAST(sum(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice) AS avg_price,
        |CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(l_discount) AS avg_disc,
        |count(*) AS count_order
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q6_filter" ->
      """SELECT CAST(sum(CAST(l_extendedprice*l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q_stats" ->
      """SELECT l_returnflag, min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |stddev_samp(l_quantity) AS std_qty, var_samp(l_quantity) AS var_qty,
        |median(l_extendedprice) AS med_price,
        |quantile_cont(l_quantity, 0.9) AS p90_qty,
        |count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_corr_cov" ->
      """SELECT corr(l_quantity, l_extendedprice) AS corr_qty_price,
        |covar_samp(l_quantity, l_extendedprice) AS cov_qty_price FROM lineitem""".stripMargin,
    "q_value_counts" ->
      "SELECT o_orderpriority, count(*) AS count FROM orders GROUP BY 1 ORDER BY 1",
    "q_agg_filter" ->
      """SELECT l_linestatus,
        |CAST(sum(CAST(CASE WHEN l_returnflag='A' THEN l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS qty_a,
        |CAST(sum(CAST(CASE WHEN l_returnflag='R' THEN l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS qty_r,
        |CAST(sum(CAST(CASE WHEN l_discount>0.05 THEN l_extendedprice END AS DECIMAL(18,2))) AS DOUBLE)
        |  / count(CASE WHEN l_discount>0.05 THEN l_extendedprice END) AS avg_price_disc
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_horizontal" ->
      """SELECT l_orderkey, l_linenumber,
        |greatest(l_discount, l_tax) AS max_rate,
        |least(l_discount, l_tax) AS min_rate,
        |l_discount + l_tax AS sum_rate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_with_columns" ->
      """SELECT l_orderkey, l_linenumber,
        |l_extendedprice*(1-l_discount) AS net_price,
        |l_quantity*l_quantity AS qty_sq,
        |l_quantity >= 30 AS is_big
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_when_then" ->
      """SELECT CASE WHEN o_totalprice < 100000 THEN 'low'
        |WHEN o_totalprice < 300000 THEN 'mid' ELSE 'high' END AS bucket,
        |count(*) AS n,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_cast" ->
      """SELECT l_orderkey, l_linenumber,
        |CAST(l_quantity AS INTEGER) AS qty_int,
        |CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS price_dec,
        |CAST(l_linenumber AS VARCHAR) AS ln_str
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_math" ->
      """SELECT l_orderkey, l_linenumber,
        |sqrt(l_extendedprice) AS sqrt_price, ln(l_extendedprice) AS ln_price,
        |log10(l_extendedprice) AS log10_price,
        |least(greatest(l_quantity, 5.0), 40.0) AS clipped,
        |CAST(sign(l_discount - 0.04) AS BIGINT) AS disc_sign,
        |round(l_extendedprice, 1) AS price_r1
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_join_agg" ->
      """SELECT n_name, count(*) AS n_orders,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey=c_custkey
        |JOIN nation ON c_nationkey=n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total
        |FROM customer LEFT JOIN orders ON c_custkey=o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey=c_custkey AND o_totalprice > 400000)
        |ORDER BY 1""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey=c_custkey AND o_totalprice > 400000)
        |ORDER BY 1""".stripMargin,
    "q_join_full" ->
      """SELECT c_mktsegment, n_cust, seg_total FROM
        |(SELECT c_mktsegment, count(*) AS n_cust FROM customer GROUP BY 1) a
        |FULL OUTER JOIN
        |(SELECT c_mktsegment, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS seg_total
        | FROM orders JOIN customer ON o_custkey=c_custkey GROUP BY 1) b
        |USING (c_mktsegment) ORDER BY 1""".stripMargin,
    "q_cross_join" ->
      "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY 1, 2",
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |SELECT o_custkey, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q_window_agg" ->
      """SELECT l_orderkey, l_linenumber,
        |sum(l_extendedprice) OVER (PARTITION BY l_orderkey) AS order_total,
        |l_extendedprice / sum(l_extendedprice) OVER (PARTITION BY l_orderkey) AS share
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_cum_sum" ->
      """SELECT event_id, user_id,
        |sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_value
        |FROM events ORDER BY event_id""".stripMargin,
    "q_shift_diff" ->
      """SELECT event_id, user_id,
        |lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
        |value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS diff_value
        |FROM events ORDER BY event_id""".stripMargin,
    "q_rolling" ->
      """SELECT event_id, user_id,
        |sum(value) OVER w AS roll_sum, avg(value) OVER w AS roll_avg, max(value) OVER w AS roll_max
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) ORDER BY event_id""".stripMargin,
    "q_top_k" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "q_sort_multi" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |ORDER BY c_mktsegment ASC, c_acctbal DESC LIMIT 50""".stripMargin,
    "q_unique" ->
      "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer ORDER BY 1, 2",
    "q_concat" ->
      """SELECT l_returnflag, count(*) AS n,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty FROM (
        |SELECT * FROM lineitem WHERE l_quantity < 10
        |UNION ALL SELECT * FROM lineitem WHERE l_quantity >= 40)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_pivot" ->
      """SELECT l_linestatus,
        |CAST(sum(CAST(CASE WHEN l_returnflag='A' THEN l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS "A",
        |CAST(sum(CAST(CASE WHEN l_returnflag='N' THEN l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS "N",
        |CAST(sum(CAST(CASE WHEN l_returnflag='R' THEN l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS "R"
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_unpivot" ->
      """SELECT variable,
        |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total, count(*) AS n FROM (
        |SELECT 'l_quantity' AS variable, l_quantity AS value FROM lineitem
        |UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        |UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_explode" ->
      """SELECT vec_id, count(*) AS n_dims,
        |sum(CAST(e AS DOUBLE)) AS vec_sum
        |FROM (SELECT vec_id, unnest(embedding) AS e FROM embeddings WHERE vec_id < 100)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
