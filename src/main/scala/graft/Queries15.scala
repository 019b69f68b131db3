package graft

import org.apache.spark.sql.{SparkSession, DataFrame => SDF, functions => F}
import graft.Polars.col
import graft.expr.Expr
import graft.TestTables.lf

/** Wave-15 driver queries (round 13): oracle gates for this round's
  * semantics alignments — quantile interpolation modes (half rounds away
  * from zero, element modes return f64), full joins keeping both key
  * columns under the suffix, and the within-list rank kernel. */
object Queries15 {

  /** All five quantile interpolation modes per group (reference
    * expr.rb:2473). q=0.37 lands h strictly between integers for most
    * group sizes; the nearest/lower/higher/midpoint picks are EXACT element
    * (or half-sum) doubles on both engines, and linear rounds to 6 dp per
    * the float-arithmetic discipline. */
  private def qQuantileModes(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        col("l_quantity").quantile(0.37, "lower").alias("q_lower"),
        col("l_quantity").quantile(0.37, "higher").alias("q_higher"),
        col("l_quantity").quantile(0.37, "midpoint").alias("q_midpoint"),
        col("l_quantity").quantile(0.37, "nearest").alias("q_nearest"),
        col("l_quantity").quantile(0.37, "linear").round(6).alias("q_linear"))
      .sortBy(Seq(col("l_returnflag")))
      .collect().toSpark

  /** polars full join keeps BOTH key columns (left + `_right`-suffixed
    * right, reference data_frame_test.rb test_join_outer) — the right
    * aggregate filters to a rare predicate so some segments appear on one
    * side only and the null-keyed rows exercise both columns. */
  private def qFullJoinKeys(s: SparkSession, dir: String): SDF = {
    val all = lf(s, dir, "customer").groupBy("c_mktsegment")
      .agg(Expr(F.count(F.lit(1))).alias("n_all"))
    val neg = lf(s, dir, "customer")
      .filter(col("c_acctbal") < -900.0)
      .groupBy("c_mktsegment")
      .agg(Expr(F.count(F.lit(1))).alias("n_neg"))
    all.join(neg, Seq("c_mktsegment"), how = "full")
      .sortBy(Seq(col("c_mktsegment"), col("c_mktsegment_right")), nullsLast = true)
      .collect().toSpark
  }

  /** Within-list average rank ([[graft.expr.ListNS.rank]], the reference's
    * list.eval(element.rank)): token lengths of each document's first 8
    * whitespace tokens, ranked inside the list, exploded with 0-based
    * positions. The oracle recomputes the identical average-rank formula
    * (rank() - 1 + (peers + 1)/2) over the unnested tokens. */
  private def qListRank(s: SparkSession, dir: String): SDF =
    lf(s, dir, "documents")
      .filter(col("doc_id") < 3000)
      .select(col("doc_id"),
        Expr(F.transform(F.slice(F.split(F.col("text"), " ", -1), 1, 8),
          t => F.length(t).cast("long"))).alias("lens"))
      .select(col("doc_id"), col("lens").list.rank().alias("rnk"))
      .collect().toSpark
      .select(F.col("doc_id"), F.posexplode(F.col("rnk")).as(Seq("pos", "r")))
      .orderBy("doc_id", "pos")

  def queries: Map[String, (SparkSession, String) => SDF] = Map(
    "q_quantile_modes" -> (qQuantileModes _),
    "q_full_join_keys" -> (qFullJoinKeys _),
    "q_list_rank" -> (qListRank _))

  def oracleSql: Map[String, String] = Map(
    "q_quantile_modes" ->
      """WITH s AS (
        |  SELECT l_returnflag, list_sort(list(l_quantity)) AS v, count(*) AS n
        |  FROM lineitem GROUP BY 1),
        |-- h in DOUBLE, not DuckDB's exact DECIMAL: graft computes h = q*(n-1)
        |-- in f64 (as polars does), and when h lands on an integer or exact
        |-- half the floor/>=0.5 picks would otherwise be engine-dependent
        |h AS (SELECT l_returnflag, v, CAST(0.37 AS DOUBLE)*(n-1) AS h FROM s)
        |SELECT l_returnflag,
        |  CAST(v[CAST(floor(h) AS BIGINT) + 1] AS DOUBLE) AS q_lower,
        |  CAST(v[CAST(ceil(h) AS BIGINT) + 1] AS DOUBLE) AS q_higher,
        |  CAST((v[CAST(floor(h) AS BIGINT) + 1] + v[CAST(ceil(h) AS BIGINT) + 1]) / 2.0 AS DOUBLE) AS q_midpoint,
        |  CAST(CASE WHEN h - floor(h) >= 0.5 THEN v[CAST(ceil(h) AS BIGINT) + 1]
        |            ELSE v[CAST(floor(h) AS BIGINT) + 1] END AS DOUBLE) AS q_nearest,
        |  round(v[CAST(floor(h) AS BIGINT) + 1]
        |    + (v[CAST(ceil(h) AS BIGINT) + 1] - v[CAST(floor(h) AS BIGINT) + 1]) * (h - floor(h)), 6) AS q_linear
        |FROM h ORDER BY 1""".stripMargin,
    "q_full_join_keys" ->
      """SELECT a.c_mktsegment AS c_mktsegment, a.n_all,
        |       b.c_mktsegment AS c_mktsegment_right, b.n_neg
        |FROM (SELECT c_mktsegment, count(*) AS n_all FROM customer GROUP BY 1) a
        |FULL JOIN (SELECT c_mktsegment, count(*) AS n_neg FROM customer
        |           WHERE c_acctbal < -900 GROUP BY 1) b
        |ON a.c_mktsegment = b.c_mktsegment
        |ORDER BY 1 NULLS LAST, 3""".stripMargin,
    "q_list_rank" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         unnest(list_transform(toks, x -> CAST(length(x) AS BIGINT))) AS L,
        |         unnest(range(0, len(toks))) AS pos
        |  FROM (SELECT doc_id, list_slice(string_split(text, ' '), 1, 8) AS toks
        |        FROM documents WHERE doc_id < 3000))
        |SELECT doc_id, pos,
        |  rank() OVER (PARTITION BY doc_id ORDER BY L) - 1
        |    + (count(*) OVER (PARTITION BY doc_id, L) + 1) / 2.0 AS r
        |FROM t ORDER BY doc_id, pos""".stripMargin)
}
