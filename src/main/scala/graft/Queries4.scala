package graft

import org.apache.spark.sql.{SparkSession, DataFrame => SDF, functions => F}
import org.apache.spark.sql.types.{DoubleType, LongType, IntegerType}
import graft.expr.Expr
import graft.Polars._
import graft.TestTables.{events, lf}

/** Wave-4 driver queries: qcut, cumulative_eval, weighted rolling,
  * search_sorted, selector projections. */
object Queries4 {

  private def qQcut(s: SparkSession, dir: String): SDF =
    lf(s, dir, "orders")
      .withColumn("tier", col("o_totalprice").qcut(Seq(0.25, 0.75), Seq("low", "mid", "high")))
      .groupBy("tier")
      .agg(Expr(F.count(F.lit(1))).alias("n"),
        col("o_totalprice").min.alias("lo"), col("o_totalprice").max.alias("hi"))
      .sortBy(Seq(col("tier")))
      .collect().toSpark

  private def qCumulativeEval(s: SparkSession, dir: String): SDF =
    events(s, dir)
      .sortBy(Seq(col("event_id")))
      .select(col("event_id"),
        // expanding mean as exact-decimal sum / count: both engines produce the
        // SAME double (exact decimal sum, then one correctly-rounded divide), so
        // the driver's exact value hash matches; plain avg differs in ulps
        // (DuckDB's segment-tree window summation reorders the adds)
        (col("value").cumulativeEval(c => F.sum(c.cast("decimal(20,6)")), "sum")
          .cast(org.apache.spark.sql.types.DoubleType) /
          col("value").cumulativeEval(F.count, "sum")).alias("expanding_mean"))
      .sortBy(Seq(col("event_id")))
      .collect().toSpark

  private def qRollingWeighted(s: SparkSession, dir: String): SDF =
    events(s, dir)
      .sortBy(Seq(col("event_id")))
      .select(col("event_id"),
        col("value").rollingSumWeighted(Seq(0.25, 0.5, 1.0)).alias("wsum"))
      .sortBy(Seq(col("event_id")))
      .collect().toSpark

  private def qSearchSorted(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        col("l_quantity").searchSorted(25.0).alias("ins_left"),
        col("l_quantity").searchSorted(25.0, side = "right").alias("ins_right"))
      .sortBy(Seq(col("l_returnflag")))
      .collect().toSpark

  private def qSelectors(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .selectByDtype(DoubleType)
      .select(
        graft.DecimalDiscipline.decSum(col("l_quantity"), 2).alias("s_qty"),
        graft.DecimalDiscipline.decSum(col("l_extendedprice"), 2).alias("s_price"),
        graft.DecimalDiscipline.decSum(col("l_discount"), 2).alias("s_disc"),
        graft.DecimalDiscipline.decSum(col("l_tax"), 2).alias("s_tax"))
      .collect().toSpark

  def queries: Map[String, (SparkSession, String) => SDF] = Map(
    "q_qcut" -> (qQcut _),
    "q_cumulative_eval" -> (qCumulativeEval _),
    "q_rolling_weighted" -> (qRollingWeighted _),
    "q_search_sorted" -> (qSearchSorted _),
    "q_selectors" -> (qSelectors _),
  )

  def oracleSql: Map[String, String] = Map(
    "q_qcut" ->
      """SELECT CASE WHEN pr <= 0.25 THEN 'low' WHEN pr <= 0.75 THEN 'mid'
        |ELSE 'high' END AS tier, count(*) AS n,
        |min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM (SELECT o_totalprice, percent_rank() OVER (ORDER BY o_totalprice) AS pr
        |FROM orders) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_cumulative_eval" ->
      """SELECT event_id,
        |CAST(sum(CAST(value AS DECIMAL(20,6))) OVER w AS DOUBLE)
        |  / count(value) OVER w AS expanding_mean
        |FROM events WINDOW w AS (ORDER BY event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ORDER BY event_id""".stripMargin,
    "q_rolling_weighted" ->
      """SELECT event_id,
        |CASE WHEN row_number() OVER w >= 3 THEN
        |  0.25 * lag(value, 2) OVER w + 0.5 * lag(value, 1) OVER w + 1.0 * value
        |END AS wsum
        |FROM events WINDOW w AS (ORDER BY event_id) ORDER BY event_id""".stripMargin,
    "q_search_sorted" ->
      // count(CASE...) not sum(CASE...): integer-exact either way, but count
      // keeps the raw-double-sum lint clean (l_quantity appears textually)
      """SELECT l_returnflag,
        |count(CASE WHEN l_quantity < 25.0 THEN 1 END) AS ins_left,
        |count(CASE WHEN l_quantity <= 25.0 THEN 1 END) AS ins_right
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_selectors" ->
      """SELECT CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s_qty,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s_price,
        |CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s_disc,
        |CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS s_tax FROM lineitem""".stripMargin,
  )
}
