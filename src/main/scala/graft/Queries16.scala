package graft

import org.apache.spark.sql.{SparkSession, DataFrame => SDF, functions => F}
import graft.Polars.col
import graft.expr.Expr
import graft.TestTables.lf

/** Wave-16 driver queries (round 15): oracle gates for the vertical
  * permutation ops (expr.sort / reverse re-zipped by position — the
  * [[graft.kernel.Scan.zipOrdered]] kernel), the polars scalar-broadcast
  * rule for mixed aggregate/elementwise projections, and null-counting
  * n_unique. */
object Queries16 {

  /** Independent column sort + reverse zipped back by position (polars
    * expr.sort/reverse select semantics): the base order is pinned by an
    * explicit frame sort so both engines agree on positions. */
  private def qVerticalSort(s: SparkSession, dir: String): SDF =
    lf(s, dir, "supplier")
      .sortBy(Seq(col("s_suppkey")))
      .select(
        col("s_suppkey"),
        col("s_acctbal").sort().alias("bal_sorted"),
        col("s_acctbal").reverse.alias("bal_rev"))
      .sortBy(Seq(col("s_suppkey")))
      .collect().toSpark

  /** Mixed scalar/elementwise projection: the aggregates compute once and
    * broadcast against the full-length columns (one agg pass + broadcast
    * cross join — polars guide contexts semantics). */
  private def qScalarBroadcast(s: SparkSession, dir: String): SDF = {
    // decimal exact-sum discipline (q_bucketed_join precedent): a raw
    // double sum is addition-order-dependent and hash-compares flakily
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    def totalBal = col("s_acctbal").cast(DecimalType(18, 2)).sum.cast(DoubleType)
    lf(s, dir, "supplier")
      .select(
        col("s_suppkey"),
        col("s_acctbal"),
        totalBal.alias("total_bal"),
        (col("s_acctbal") / totalBal).round(12).alias("bal_share"))
      .sortBy(Seq(col("s_suppkey")))
      .collect().toSpark
  }

  /** Keyed reverse: per-group mirror permutation through the composite
    * (keys, position) join — never a per-row group buffer. */
  private def qReverseOver(s: SparkSession, dir: String): SDF =
    // (l_orderkey, l_linenumber) is NOT unique in this testdata (≈12k dup
    // pairs) — the base sort must be TOTAL up to indistinguishable rows or
    // the tie order (and so the mirror pairing) is engine-dependent; with
    // l_quantity in the key, tied rows are identical in every output
    // column, so the output SET is engine-stable
    lf(s, dir, "lineitem")
      .sortBy(Seq(col("l_orderkey"), col("l_linenumber"), col("l_quantity")))
      .withColumn("rq", col("l_quantity").reverse.over(col("l_orderkey")))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("rq"))
      .sortBy(Seq(col("l_orderkey"), col("l_linenumber"), col("l_quantity")))
      .collect().toSpark

  /** n_unique counts null as a distinct value (polars semantics); nulls are
    * derived in-query since the TPC-H-ish columns are dense. */
  private def qNUniqueNull(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .withColumn("flag",
        Polars.when(col("l_discount") < 0.05).`then`(Expr.lit(null))
          .otherwise(col("l_returnflag")))
      .select(
        col("flag").nUnique.alias("n_with_null"),
        col("l_returnflag").nUnique.alias("n_dense"))
      .collect().toSpark

  def queries: Map[String, (SparkSession, String) => SDF] = Map(
    "q_vertical_sort" -> (qVerticalSort _),
    "q_scalar_broadcast" -> (qScalarBroadcast _),
    "q_reverse_over" -> (qReverseOver _),
    "q_n_unique_null" -> (qNUniqueNull _))

  def oracleSql: Map[String, String] = Map(
    "q_vertical_sort" ->
      """WITH base AS (
        |  SELECT s_suppkey, row_number() OVER (ORDER BY s_suppkey) rn FROM supplier),
        |sorted AS (
        |  SELECT s_acctbal AS bal_sorted,
        |         row_number() OVER (ORDER BY s_acctbal NULLS FIRST, s_suppkey) rn
        |  FROM supplier),
        |rev AS (
        |  SELECT s_acctbal AS bal_rev,
        |         row_number() OVER (ORDER BY s_suppkey DESC) rn FROM supplier)
        |SELECT b.s_suppkey, s.bal_sorted, r.bal_rev
        |FROM base b JOIN sorted s USING (rn) JOIN rev r USING (rn)
        |ORDER BY b.s_suppkey""".stripMargin,
    "q_scalar_broadcast" ->
      """WITH t AS (SELECT CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total
        |           FROM supplier)
        |SELECT s_suppkey, s_acctbal, t.total AS total_bal,
        |round(s_acctbal / t.total, 12) AS bal_share
        |FROM supplier, t ORDER BY s_suppkey""".stripMargin,
    "q_reverse_over" ->
      """WITH b AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity,
        |         row_number() OVER (PARTITION BY l_orderkey
        |                            ORDER BY l_linenumber, l_quantity) rn,
        |         count(*) OVER (PARTITION BY l_orderkey) cnt
        |  FROM lineitem)
        |SELECT a.l_orderkey, a.l_linenumber, a.l_quantity, m.l_quantity AS rq
        |FROM b a JOIN b m
        |  ON a.l_orderkey = m.l_orderkey AND m.rn = a.cnt - a.rn + 1
        |ORDER BY a.l_orderkey, a.l_linenumber, a.l_quantity""".stripMargin,
    "q_n_unique_null" ->
      """SELECT
        |count(DISTINCT flag) + (CASE WHEN count(*) > count(flag) THEN 1 ELSE 0 END) AS n_with_null,
        |count(DISTINCT l_returnflag) AS n_dense
        |FROM (SELECT CASE WHEN l_discount < 0.05 THEN NULL ELSE l_returnflag END AS flag,
        |             l_returnflag
        |      FROM lineitem)""".stripMargin)
}
