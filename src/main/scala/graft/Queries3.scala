package graft

import org.apache.spark.sql.{SparkSession, DataFrame => SDF, functions => F}
import org.apache.spark.sql.expressions.Window
import graft.expr.Expr
import graft.Polars._
import graft.kernel.{Ewm, Interpolate}
import graft.TestTables.{events, lf}

/** Wave-3 driver queries: ewm/interpolate kernels, rle/peaks, temporal
  * arithmetic, list ops, replace/cut/fold/is_in, merge_sorted/hstack. */
object Queries3 {

  /** EWM mean per user over event time (rows-only: no SQL ewm equivalent;
    * semantics pinned by Kernel2Spec against pandas-identical values). */
  private def qEwm(s: SparkSession, dir: String): SDF = {
    val ev = events(s, dir).toSpark.select(F.col("event_id"), F.col("user_id"), F.col("ts"), F.col("value"))
    Ewm.ewm(ev, "value", "ts", by = Seq("user_id"), alpha = 0.3, adjust = true,
      outputs = Seq("mean", "std"))
      .select(F.col("event_id"), F.col("user_id"),
        F.col("value_ewm_mean"), F.col("value_ewm_std"))
      .orderBy("event_id")
  }

  /** Linear interpolation of sparse purchase values along each user's
    * timeline. */
  private def qInterpolate(s: SparkSession, dir: String): SDF = {
    val ev = events(s, dir).toSpark
      .withColumn("pv", F.when(F.col("event_type") === "purchase", F.col("value")))
      .select(F.col("event_id"), F.col("user_id"), F.col("ts"), F.col("pv"))
    Interpolate.interpolate(ev, "pv", "ts", by = Seq("user_id"), outputCol = Some("pv_interp"))
      .select(F.col("event_id"), F.col("user_id"), F.col("pv_interp"))
      .orderBy("event_id")
  }

  /** rle_id over the value-change runs of l_returnflag in key order. */
  private def qRleId(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .sortBy(Seq(col("l_orderkey"), col("l_linenumber")))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_returnflag").rleId.alias("run_id"))
      .filter(col("l_orderkey") <= 200)
      .sortBy(Seq(col("l_orderkey"), col("l_linenumber")))
      .collect().toSpark

  /** peak detection on event values in event_id order. */
  private def qPeaks(s: SparkSession, dir: String): SDF =
    events(s, dir)
      .sortBy(Seq(col("event_id")))
      .select(col("event_id"), col("value").peakMax.alias("is_peak"))
      .sortBy(Seq(col("event_id")))
      .collect().toSpark

  private def qDtOffset(s: SparkSession, dir: String): SDF =
    lf(s, dir, "orders")
      .select(
        col("o_orderkey"),
        col("o_orderdate").dt.offsetBy("1mo2d").alias("shifted"),
        col("o_orderdate").dt.monthStart.alias("m_start"),
        col("o_orderdate").dt.monthEnd.alias("m_end"))
      .sortBy(Seq(col("o_orderkey")))
      .collect().toSpark

  private def qEpoch(s: SparkSession, dir: String): SDF =
    lf(s, dir, "orders")
      .select(
        col("o_orderkey"),
        col("o_orderdate").dt.epoch("s").alias("ep_s"),
        col("o_orderdate").dt.epoch("ms").alias("ep_ms"),
        col("o_orderdate").dt.epoch("d").alias("ep_d"))
      .sortBy(Seq(col("o_orderkey")))
      .collect().toSpark

  private def qListOps2(s: SparkSession, dir: String): SDF =
    lf(s, dir, "embeddings")
      .select(
        col("vec_id"),
        col("embedding").list.get(0).cast(org.apache.spark.sql.types.DoubleType).alias("e0"),
        // cast to f64 BEFORE the sum: element-typed sum (f32) accumulates in
        // float, which the double-summing DuckDB oracle cannot reproduce
        col("embedding").list.slice(0, 3)
          .cast(org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
          .list.sum.alias("head3_sum"),
        col("embedding").list.max.cast(org.apache.spark.sql.types.DoubleType).alias("emax"),
        (col("embedding").list.argMax + 1).alias("argmax_1based"),
        col("embedding").list.contains(0.5f).alias("has_half"))
      .sortBy(Seq(col("vec_id")))
      .collect().toSpark

  private def qReplaceValues(s: SparkSession, dir: String): SDF =
    lf(s, dir, "orders")
      .withColumn("status_label",
        col("o_orderstatus").replaceValues(Map("O" -> "open", "F" -> "filled", "P" -> "pending")))
      .groupBy("status_label")
      .agg(Expr(F.count(F.lit(1))).alias("n"))
      .sortBy(Seq(col("status_label")))
      .collect().toSpark

  private def qCut(s: SparkSession, dir: String): SDF =
    lf(s, dir, "orders")
      .withColumn("bucket",
        col("o_totalprice").cut(Seq(100000.0, 300000.0), Some(Seq("small", "medium", "large"))))
      .groupBy("bucket")
      .agg(Expr(F.count(F.lit(1))).alias("n"),
        graft.DecimalDiscipline.decMean(col("o_totalprice"), 2).alias("avg_price"))
      .sortBy(Seq(col("bucket")))
      .collect().toSpark

  private def qFold(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        Polars.fold(lit(0.0), (acc, e) => acc + e,
          Seq(col("l_quantity"), col("l_discount"), col("l_tax"))).alias("folded"))
      .sortBy(Seq(col("l_orderkey"), col("l_linenumber")))
      .collect().toSpark

  // the test nation table names are NATION_0..24 — the round-9 TPC-H-style
  // set ('FRANCE', …) matched nothing, so the gate passed on 0 rows. This
  // set hits 3 of 25 plus one genuine miss.
  private def qIsIn(s: SparkSession, dir: String): SDF =
    lf(s, dir, "nation")
      .filter(col("n_name").isIn(Seq("NATION_1", "NATION_5", "NATION_19", "NO_SUCH")))
      .select(col("n_nationkey"), col("n_name"))
      .sortBy(Seq(col("n_nationkey")))
      .collect().toSpark

  private def qMergeSorted(s: SparkSession, dir: String): SDF = {
    val even = lf(s, dir, "orders").filter(col("o_orderkey") % 2 === 0)
      .sortBy(Seq(col("o_orderkey")))
    val odd = lf(s, dir, "orders").filter(col("o_orderkey") % 2 === 1)
      .sortBy(Seq(col("o_orderkey")))
    even.mergeSorted(odd, "o_orderkey")
      .select(col("o_orderkey"), col("o_totalprice"))
      .collect().toSpark
  }

  private def qHstack(s: SparkSession, dir: String): SDF = {
    val base = lf(s, dir, "orders").sortBy(Seq(col("o_orderkey"))).collect()
    val left = base.select(col("o_orderkey"))
    val right = base.select(col("o_totalprice"), col("o_orderstatus"))
    left.hstack(right)
      .sortBy(Seq(col("o_orderkey")))
      .toSpark
  }

  private def qRepeatBy(s: SparkSession, dir: String): SDF =
    lf(s, dir, "lineitem")
      .select(col("l_returnflag").repeatBy(col("l_linenumber")).alias("rep"))
      .explode("rep")
      .groupBy("rep")
      .agg(Expr(F.count(F.lit(1))).alias("n"))
      .sortBy(Seq(col("rep")))
      .collect().toSpark

  /** Keyed forms of the order-dependent ops — polars' `cum_sum.over(k)` /
    * `shift(1).over(k)` / `rank.over(k)` / `forward_fill.over(k)` spellings,
    * re-spelled as per-key windows over the hidden row order (one shuffle on
    * the keys, no scan kernel). The frame is pre-sorted so the implicit row
    * order is (ts, event_id) and the oracle can mirror it. */
  private def qOverScan(s: SparkSession, dir: String): SDF =
    events(s, dir)
      .sortBy(Seq(col("ts"), col("event_id")))
      .withColumns(
        "cs" -> col("value").cumSum().over(col("user_id")),
        "prev" -> col("value").shift(1).over(col("user_id")),
        "rnk" -> col("value").rank("min").over(col("user_id")),
        "ff" -> col("value").filter(col("event_type") === "click")
          .forwardFill.over(col("user_id")))
      .select(col("event_id"), col("cs"), col("prev"), col("rnk"), col("ff"))
      .sortBy(Seq(col("event_id")))
      .toSpark

  /** polars group_by().agg with order-dependent exprs: evaluated per group
    * in row order and returned as LISTS (reference group_by.rb agg docs) —
    * backed by the keyed-form machinery + ordered collect. The per-group
    * lists are then exploded back to scalar rows with a 1-based position so
    * the output is hashable by value-level comparators (LIST cells are not). */
  private def qAggLists(s: SparkSession, dir: String): SDF =
    events(s, dir)
      .sortBy(Seq(col("ts"), col("event_id")))
      .groupBy("user_id")
      .agg(
        col("value").cumSum().alias("cs_list"),
        col("value").shift(1).alias("pv_list"),
        Expr(F.sum(F.col("value"))).alias("sv"))
      .explodeWith("pos", "cs_list", "pv_list")
      .withColumns(
        "pos" -> Expr((F.col("pos") + F.lit(1)).cast("long")),
        "cs" -> col("cs_list"), "pv" -> col("pv_list"))
      .select(col("user_id"), col("pos"), col("cs"), col("pv"), col("sv"))
      .sortBy(Seq(col("user_id"), col("pos")))
      .toSpark

  def queries: Map[String, (SparkSession, String) => SDF] = Map(
    "q_agg_lists" -> (qAggLists _),
    "q_over_scan" -> (qOverScan _),
    "q_ewm" -> (qEwm _),
    "q_interpolate" -> (qInterpolate _),
    "q_rle_id" -> (qRleId _),
    "q_peaks" -> (qPeaks _),
    "q_dt_offset" -> (qDtOffset _),
    "q_epoch" -> (qEpoch _),
    "q_list_ops2" -> (qListOps2 _),
    "q_replace_values" -> (qReplaceValues _),
    "q_cut" -> (qCut _),
    "q_fold" -> (qFold _),
    "q_is_in" -> (qIsIn _),
    "q_merge_sorted" -> (qMergeSorted _),
    "q_hstack" -> (qHstack _),
    "q_repeat_by" -> (qRepeatBy _),
  )

  def oracleSql: Map[String, String] = Map(
    "q_agg_lists" ->
      """SELECT user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
        |  sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
        |  lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv,
        |  sum(value) OVER (PARTITION BY user_id) AS sv
        |FROM events ORDER BY user_id, pos""".stripMargin,
    "q_over_scan" ->
      """SELECT event_id,
        |sum(value) OVER wr AS cs,
        |lag(value, 1) OVER w AS prev,
        |CAST(rank() OVER (PARTITION BY user_id ORDER BY value) AS INTEGER) AS rnk,
        |last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
        |  OVER wr AS ff
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |  wr AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q_interpolate" ->
      """SELECT event_id, user_id,
        |CASE WHEN pv IS NOT NULL THEN CAST(pv AS DOUBLE)
        |     WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
        |       prev_v + (next_v - prev_v) * (o - prev_o) / (next_o - prev_o)
        |END AS pv_interp
        |FROM (
        |  SELECT event_id, user_id, pv, o,
        |    last_value(pv IGNORE NULLS) OVER wp AS prev_v,
        |    first_value(pv IGNORE NULLS) OVER wn AS next_v,
        |    last_value(CASE WHEN pv IS NOT NULL THEN o END IGNORE NULLS) OVER wp AS prev_o,
        |    first_value(CASE WHEN pv IS NOT NULL THEN o END IGNORE NULLS) OVER wn AS next_o
        |  FROM (SELECT event_id, user_id,
        |          CASE WHEN event_type = 'purchase' THEN value END AS pv,
        |          CAST(epoch_us(ts) AS DOUBLE) / 1000000 AS o
        |        FROM events)
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY o
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wn AS (PARTITION BY user_id ORDER BY o
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |ORDER BY event_id""".stripMargin,
    "q_rle_id" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag,
        |CAST(sum(chg) OVER (ORDER BY l_orderkey, l_linenumber
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
        |FROM (
        |  SELECT l_orderkey, l_linenumber, l_returnflag,
        |    CASE WHEN lag(l_returnflag) OVER (ORDER BY l_orderkey, l_linenumber) IS NULL THEN 0
        |         WHEN lag(l_returnflag) OVER (ORDER BY l_orderkey, l_linenumber) <> l_returnflag THEN 1
        |         ELSE 0 END AS chg
        |  FROM lineitem)
        |WHERE l_orderkey <= 200
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_peaks" ->
      """SELECT event_id,
        |value > coalesce(lag(value) OVER w, -1e308) AND
        |value > coalesce(lead(value) OVER w, -1e308) AS is_peak
        |FROM events WINDOW w AS (ORDER BY event_id) ORDER BY event_id""".stripMargin,
    "q_dt_offset" ->
      """SELECT o_orderkey,
        |o_orderdate + INTERVAL 1 MONTH + INTERVAL 2 DAY AS shifted,
        |CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m_start,
        |CAST(last_day(o_orderdate) AS TIMESTAMP) AS m_end
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_epoch" ->
      """SELECT o_orderkey,
        |CAST(epoch(o_orderdate) AS BIGINT) AS ep_s,
        |epoch_ms(o_orderdate) AS ep_ms,
        |CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS ep_d
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_list_ops2" ->
      """SELECT vec_id,
        |CAST(embedding[1] AS DOUBLE) AS e0,
        |CAST(list_sum(list_transform(embedding[1:3], x -> CAST(x AS DOUBLE))) AS DOUBLE) AS head3_sum,
        |CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS emax,
        |CAST(list_position(embedding, list_aggregate(embedding, 'max')) AS BIGINT) AS argmax_1based,
        |list_contains(embedding, 0.5) AS has_half
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_replace_values" ->
      """SELECT CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'filled'
        |WHEN 'P' THEN 'pending' ELSE o_orderstatus END AS status_label,
        |count(*) AS n FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_cut" ->
      """SELECT CASE WHEN o_totalprice <= 100000 THEN 'small'
        |WHEN o_totalprice <= 300000 THEN 'medium' ELSE 'large' END AS bucket,
        |count(*) AS n,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(o_totalprice) AS avg_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_fold" ->
      """SELECT l_orderkey, l_linenumber,
        |l_quantity + l_discount + l_tax AS folded
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_is_in" ->
      """SELECT n_nationkey, n_name FROM nation
        |WHERE n_name IN ('NATION_1', 'NATION_5', 'NATION_19', 'NO_SUCH')
        |ORDER BY n_nationkey""".stripMargin,
    "q_merge_sorted" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey",
    "q_hstack" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    "q_repeat_by" ->
      """SELECT l_returnflag AS rep, CAST(sum(l_linenumber) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // q_ewm oracle: SQL has no ewm aggregate, but the adjusted-EWM state
    // (Σw, Σw·x, Σw·x², Σw²) is a linear recursion — a recursive CTE walks
    // each user's timeline computing exactly the registers Ewm.ewm keeps
    // (mean = wx/wsum; unbiased var = (wx2/wsum − mean²)/(1 − w2sum/wsum²)).
    "q_ewm" ->
      """WITH RECURSIVE ev AS (
        |  SELECT event_id, user_id, CAST(value AS DOUBLE) AS x,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
        |  FROM events
        |), rec AS (
        |  SELECT user_id, rn, event_id, x,
        |         CAST(1 AS DOUBLE) AS wsum, x AS wx, x*x AS wx2,
        |         CAST(1 AS DOUBLE) AS w2sum
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, e.event_id, e.x,
        |         0.7*r.wsum + 1, 0.7*r.wx + e.x, 0.7*r.wx2 + e.x*e.x,
        |         0.49*r.w2sum + 1
        |  FROM rec r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1
        |)
        |SELECT event_id, user_id, wx/wsum AS value_ewm_mean,
        |  CASE WHEN rn > 1 AND (1 - w2sum/(wsum*wsum)) > 0 THEN
        |    sqrt(greatest(wx2/wsum - (wx/wsum)*(wx/wsum), 0)
        |         / (1 - w2sum/(wsum*wsum)))
        |  END AS value_ewm_std
        |FROM rec ORDER BY event_id""".stripMargin,
  )
}
