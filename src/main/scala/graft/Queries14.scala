package graft

import org.apache.spark.sql.{SparkSession, DataFrame => SDF, functions => F}
import graft.Polars.col
import graft.DecimalDiscipline.decSum
import graft.TestTables.lf

/** Wave-14 driver queries (round 12): oracle gates for the semantics this
  * round aligned with the reference — grapheme-cluster string reverse,
  * the polars sum identity over empty slices, and the dtype-preserving
  * product aggregate. */
object Queries14 {

  /** Grapheme-cluster reverse ([[graft.ext.GraphemeReverse]], reference
    * string_expr.rb:1253): a decomposed-ñ suffix is appended to real corpus
    * text so the gate exercises combining marks, not just ASCII — DuckDB's
    * `reverse` is grapheme-aware too, so the oracle matches exactly. */
  private def qStrReverse(s: SparkSession, dir: String): SDF =
    lf(s, dir, "documents")
      .filter(col("doc_id") < 2000)
      .select(col("doc_id"),
        Polars.concatStr(Seq(col("text").str.slice(0, Some(20)),
            Polars.lit("man\u0303ana")))
          .str.reverse.alias("rev"))
      .sortBy(Seq(col("doc_id")))
      .collect().toSpark

  /** polars sum identity (expr.rb:2713): a filter no row satisfies leaves
    * every group's slice empty — the sum is 0, not null (count stays the
    * cross-check). Decimal-disciplined per OracleLint. */
  private def qEmptyGroupSum(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .groupBy("l_linestatus")
      .agg(
        decSum(col("l_quantity").filter(col("l_quantity") < 0), 2).alias("neg_qty"),
        decSum(col("l_quantity").filter(col("l_returnflag") === "A"), 2).alias("qty_a"),
        col("l_quantity").count.alias("n"))
      .sortBy(Seq(col("l_linestatus")))
      .collect().toSpark

  /** Dtype-preserving product ([[graft.ext.GraftProduct]]): product of an
    * INT column stays integer (i64) — l_linenumber is 1..7 per order, so
    * the per-order product is ≤ 7! = 5040, exact in both engines. */
  private def qProductInt(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .filter(col("l_orderkey") <= 2000)
      .groupBy("l_orderkey")
      .agg(col("l_linenumber").product.alias("ln_prod"))
      .sortBy(Seq(col("l_orderkey")))
      .collect().toSpark

  def queries: Map[String, (SparkSession, String) => SDF] = Map(
    "q_str_reverse" -> (qStrReverse _),
    "q_empty_group_sum" -> (qEmptyGroupSum _),
    "q_product_int" -> (qProductInt _))

  def oracleSql: Map[String, String] = Map(
    "q_str_reverse" ->
      """SELECT doc_id, reverse(substr(text, 1, 20) || 'man' || chr(771) || 'ana') AS rev
        |FROM documents WHERE doc_id < 2000 ORDER BY doc_id""".stripMargin,
    "q_empty_group_sum" ->
      """SELECT l_linestatus,
        |CAST(COALESCE(sum(CAST(CASE WHEN l_quantity < 0 THEN l_quantity END AS DECIMAL(18,2))), 0) AS DOUBLE) AS neg_qty,
        |CAST(COALESCE(sum(CAST(CASE WHEN l_returnflag = 'A' THEN l_quantity END AS DECIMAL(18,2))), 0) AS DOUBLE) AS qty_a,
        |count(l_quantity) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_product_int" ->
      """SELECT l_orderkey, CAST(product(l_linenumber) AS BIGINT) AS ln_prod
        |FROM lineitem WHERE l_orderkey <= 2000 GROUP BY 1 ORDER BY 1""".stripMargin)
}
