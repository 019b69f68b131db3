package graft

import org.apache.spark.sql.{Column, SparkSession, functions => F, DataFrame => SDF}
import org.apache.spark.sql.types.DataType
import graft.expr.Expr
import graft.api.{DataFrame, LazyFrame}

/** Top-level function surface — the Spark-native counterpart of the reference's
  * `Polars.x` module functions (reference: lib/polars/functions/ dir).
  */
object Polars {

  // ---- expression constructors (reference: functions/col.rb:6, lit.rb:6) ----
  def col(name: String): Expr = {
    if (name == "*") all
    else if (name.startsWith("^") && name.endsWith("$")) Expr(F.col(name)) // regex — expanded frame-side
    else Expr(F.col(name))
  }
  def cols(names: String*): Seq[Expr] = names.map(col)
  def lit(v: Any): Expr = Expr.lit(v)
  def all: Expr = Expr(F.col("*"))
  def element: Expr = Expr(F.col("__element__")) // used inside list.eval lambdas
  def nth(i: Int): Expr = Expr(F.col(s"__nth_${i}__")) // frame-side resolution

  // ---- when/then/otherwise (reference: functions/whenthen.rb:91) ----
  // every stage threads requiresIndex + preps, so scanned ops (shift/cum/
  // fill/rank) compose through branches and predicates
  private[graft] def mkExpr(c: Column, es: Seq[Expr]): Expr =
    Expr(c, es.exists(_.requiresIndex),
      es.foldLeft(Seq.empty[graft.expr.Prep])((a, e) => Expr.mergePreps(a, e.preps)))
  /** Elementwise multi-operand constructor: `build` is retained so the
    * result also carries a per-key form when any operand is an
    * order-dependent op — elementwise composition commutes with `.over(k)`
    * (same rule as Expr.map/zip). */
  private[graft] def mkExprK(es: Seq[Expr])(build: Seq[Column] => Column): Expr = {
    val base = mkExpr(build(es.map(_.col)), es)
    val propagatable =
      es.exists(_.keyed.isDefined) && es.forall(e => e.keyed.isDefined || e.preps.isEmpty)
    if (!propagatable) base
    else base.copy(keyed = Some(graft.expr.KeyedForm { keys =>
      val sides = es.map(e => e.keyed.map(_.mk(keys)).getOrElse(Expr(e.col, e.requiresIndex)))
      Expr(build(sides.map(_.col)), sides.exists(_.requiresIndex),
        sides.foldLeft(Seq.empty[graft.expr.Prep])((a, s) => Expr.mergePreps(a, s.preps)))
    }))
  }
  /** (cond, value) pairs accumulate as Exprs and assemble at the end, so the
    * whole conditional re-spells per key when a branch is a scanned op. */
  private def buildWhen(pairs: Seq[(Expr, Expr)], otherwise: Option[Expr]): Expr = {
    val es = pairs.flatMap(p => Seq(p._1, p._2)) ++ otherwise.toSeq
    val built = mkExprK(es) { cols =>
      val it = cols.iterator
      val chain = pairs.map(_ => (it.next(), it.next()))
      val base = chain.tail.foldLeft(F.when(chain.head._1, chain.head._2)) {
        case (acc, (c, v)) => acc.when(c, v)
      }
      otherwise.fold(base)(_ => base.otherwise(it.next()))
    }
    // polars output naming (expr.rb when/then docs): the first then-branch's
    // name, or "literal" when it is a literal — a later .alias still wins
    built.alias(pairs.head._2.meta.outputName.getOrElse("literal"))
  }
  final class When(cond: Expr) {
    def then(v: Expr): WhenThen = new WhenThen(Seq(cond -> v))
    def then(v: Any): WhenThen = then(Expr.lit(v))
  }
  final class WhenThen(pairs: Seq[(Expr, Expr)]) {
    def when(cond: Expr): WhenThenWhen = new WhenThenWhen(pairs, cond)
    def otherwise(v: Expr): Expr = buildWhen(pairs, Some(v))
    def otherwise(v: Any): Expr = otherwise(Expr.lit(v))
    def toExpr: Expr = buildWhen(pairs, None)
  }
  final class WhenThenWhen(pairs: Seq[(Expr, Expr)], cond: Expr) {
    def then(v: Expr): WhenThen = new WhenThen(pairs :+ (cond -> v))
    def then(v: Any): WhenThen = then(Expr.lit(v))
  }
  def when(cond: Expr): When = new When(cond)

  // ---- horizontal aggs (reference: functions/aggregation/horizontal.rb:34-235) ----
  // ---- vertical module aggregates (reference functions/aggregation/
  // vertical.rb:135,190,245 min/max/sum(*names) and functions/lazy.rb
  // count/mean/median/n_unique/approx_n_unique/first/last(*columns),
  // functions/len.rb) — thin shims over the Expr aggregates so the module
  // spellings share their semantics (all-null sum 0, NaN-skipping extrema) ----
  def min(name: String): Expr = col(name).min
  def min(names: Seq[String]): Seq[Expr] = names.map(col(_).min)
  def max(name: String): Expr = col(name).max
  def max(names: Seq[String]): Seq[Expr] = names.map(col(_).max)
  def sum(name: String): Expr = col(name).sum
  def sum(names: Seq[String]): Seq[Expr] = names.map(col(_).sum)
  def mean(name: String): Expr = col(name).mean
  def median(name: String): Expr = col(name).median
  def nUnique(name: String): Expr = col(name).nUnique
  def nUnique(names: Seq[String]): Seq[Expr] = names.map(col(_).nUnique)
  def approxNUnique(name: String): Expr = col(name).approxNUnique
  def approxNUnique(names: Seq[String]): Seq[Expr] = names.map(col(_).approxNUnique)
  def first(name: String): Expr = col(name).first
  def last(name: String): Expr = col(name).last
  def count(name: String): Expr = col(name).count
  def count(names: Seq[String]): Seq[Expr] = names.map(col(_).count)
  def implode(name: String): Expr = col(name).implode
  def implode(names: Seq[String]): Seq[Expr] = names.map(col(_).implode)
  /** Polars.len — row count incl. nulls, named "len" (functions/len.rb). */
  def len: Expr = Expr(F.count(F.lit(1))).alias("len")

  def sumHorizontal(exprs: Expr*): Expr =
    mkExprK(exprs)(_.map(c => F.coalesce(c, F.lit(0))).reduce(_ + _))
  def minHorizontal(exprs: Expr*): Expr = mkExprK(exprs)(cs => F.least(cs: _*))
  def maxHorizontal(exprs: Expr*): Expr = mkExprK(exprs)(cs => F.greatest(cs: _*))
  def meanHorizontal(exprs: Expr*): Expr = mkExprK(exprs) { vals =>
    val s = vals.map(c => F.coalesce(c, F.lit(0.0))).reduce(_ + _)
    val n = vals.map(c => F.when(c.isNotNull, 1).otherwise(0)).reduce(_ + _)
    s / n
  }
  def allHorizontal(exprs: Expr*): Expr = mkExprK(exprs)(_.reduce(_ && _))
  def anyHorizontal(exprs: Expr*): Expr = mkExprK(exprs)(_.reduce(_ || _))
  /** cum_sum_horizontal (reference horizontal.rb:235): struct of running
    * row-wise sums, one field per input in order. */
  def cumSumHorizontal(cols: (String, Expr)*): Expr = {
    val running = cols.scanLeft(Option.empty[Column]) { case (acc, (_, e)) =>
      Some(acc.fold(e.col)(_ + e.col))
    }.flatten
    mkExpr(F.struct(cols.map(_._1).zip(running).map { case (n, c) => c.as(n) }: _*),
      cols.map(_._2))
  }

  // ---- fold / reduce (reference: functions/lazy.rb:745,778 — plan-time fold,
  //      no runtime UDF) ----
  def fold(acc: Expr, f: (Expr, Expr) => Expr, exprs: Seq[Expr]): Expr =
    exprs.foldLeft(acc)(f)
  def reduce(f: (Expr, Expr) => Expr, exprs: Seq[Expr]): Expr = exprs.reduce(f)
  def cumFold(acc: Expr, f: (Expr, Expr) => Expr, exprs: Seq[Expr]): Seq[Expr] =
    exprs.scanLeft(acc)(f).tail

  // ---- string/struct constructors (reference: functions/as_datatype.rb) ----
  def concatStr(exprs: Seq[Expr], separator: String = "",
                ignoreNulls: Boolean = false): Expr =
    mkExprK(exprs) { cs =>
      // polars propagates null by default (ignore_nulls: false) — a null in
      // ANY part nulls the row; concat_ws alone would silently skip it
      if (ignoreNulls) F.concat_ws(separator, cs: _*)
      else F.when(cs.map(_.isNull).reduce(_ || _), F.lit(null))
        .otherwise(F.concat_ws(separator, cs: _*))
    }
  def format(fmt: String, exprs: Expr*): Expr = {
    val parts = fmt.split("\\{\\}", -1)
    mkExprK(exprs) { cs =>
      val cols = parts.zipAll(cs, "", F.lit("")).flatMap { case (s, c) => Seq(F.lit(s), c) }
      F.concat(cols.toIndexedSeq: _*)
    }
  }
  def struct(exprs: Expr*): Expr = mkExprK(exprs)(cs => F.struct(cs: _*))
  /** concat_list: scalars wrap to one-element lists, lists concatenate
    * (type-directed — see [[graft.ext.ConcatList]]). */
  def concatList(exprs: Expr*): Expr = mkExprK(exprs) { cs =>
    org.apache.spark.sql.GraftInternalOps.column(graft.ext.ConcatList(
      cs.map(org.apache.spark.sql.GraftInternalOps.expression)))
  }

  // ---- stats (reference: functions/lazy.rb:679-872) ----
  def corr(a: Expr, b: Expr): Expr = mkExpr(F.corr(a.col, b.col), Seq(a, b))
  /** Spearman = Pearson over ranks; min-method (SQL `rank()`) ranks computed
    * by the distributed rank kernel (per-value counts + prefix sums +
    * join-back, [[graft.kernel.Scan.withRank]]) — no global-sort window. */
  def spearmanCorr(df: DataFrame, a: String, b: String, as: String = "spearman"): DataFrame = {
    val d1 = graft.kernel.Scan.withRank(df.toSpark, F.col(a), "__ra__", "min")
    val d2 = graft.kernel.Scan.withRank(d1, F.col(b), "__rb__", "min")
    DataFrame(d2.agg(
      F.corr(F.col("__ra__").cast("double"), F.col("__rb__").cast("double")).as(as)))
  }
  def cov(a: Expr, b: Expr, ddof: Int = 1): Expr =
    mkExpr(if (ddof == 1) F.covar_samp(a.col, b.col) else F.covar_pop(a.col, b.col), Seq(a, b))
  /** One kernel pass for a two-column rolling formula: (a, b) pack into a
    * struct so the distributed rolling machinery runs ONCE, and every
    * window aggregate inside `build` shares the same frame — Spark plans
    * them as a single Window operator. (The first spelling composed six
    * independent rolling scans; at sf0.1 that cost ~40× the single pass.) */
  private def pairRolling(a: Expr, b: Expr, n: Int)(
      build: (Column, Column, org.apache.spark.sql.expressions.WindowSpec) => Column): Expr =
    struct(a.alias("x"), b.alias("y")).rollingScanned(n)((v, w) =>
      build(v.getField("x"), v.getField("y"), w))

  private def covTerm(x: Column, y: Column, w: org.apache.spark.sql.expressions.WindowSpec,
                      mp: Int, ddof: Int): Column = {
    def gate(c: Column, agg: Column) = F.when(F.count(c).over(w) >= mp, agg)
    val mxy = gate(x * y, F.avg(x * y).over(w))
    val mx = gate(x, F.avg(x).over(w))
    val my = gate(y, F.avg(y).over(w))
    // pair count: rows where BOTH are non-null ((x+y) nulls if either does)
    val cnt = F.sum((x + y).isNotNull.cast("double")).over(w)
    (mxy - mx * my) * (cnt / (cnt - F.lit(ddof.toDouble)))
  }

  /** Rolling covariance over a trailing `windowSize`-row window (reference
    * ext/polars/src/lib.rs:576 → functions/lazy.rs:39-57). Same composition
    * as upstream polars — (E[xy] − E[x]E[y]) · n/(n − ddof) from
    * independent rolling means (each skipping its own nulls) plus a pair
    * count — so null handling matches the reference; evaluated in one
    * kernel pass (all terms share one window frame). `minPeriods <= 0`
    * means window size, like the Expr rolling family. n = ddof windows
    * yield ±Inf/NaN exactly as polars' float math does. */
  def rollingCov(a: Expr, b: Expr, windowSize: Int, minPeriods: Int = 1,
                 ddof: Int = 1): Expr = {
    val mp = if (minPeriods <= 0) windowSize else minPeriods
    pairRolling(a, b, windowSize)((x, y, w) => covTerm(x, y, w, mp, ddof))
  }
  /** Rolling Pearson correlation (reference ext/polars/src/lib.rs:575 →
    * functions/lazy.rs:20-37): rolling_cov scaled by the rolling sample
    * stds. `ddof` enters only the covariance numerator (the denominator
    * vars are sample vars), mirroring upstream polars' composition — with
    * the default ddof=1 this is classic Pearson over each window. */
  def rollingCorr(a: Expr, b: Expr, windowSize: Int, minPeriods: Int = 1,
                  ddof: Int = 1): Expr = {
    val mp = if (minPeriods <= 0) windowSize else minPeriods
    pairRolling(a, b, windowSize) { (x, y, w) =>
      def gate(c: Column, agg: Column) = F.when(F.count(c).over(w) >= mp, agg)
      val num = covTerm(x, y, w, mp, ddof)
      val den = F.sqrt(gate(x, F.var_samp(x).over(w)) *
        gate(y, F.var_samp(y).over(w)))
      num / den
    }
  }
  def arctan2(y: Expr, x: Expr): Expr = mkExpr(F.atan2(y.col, x.col), Seq(y, x))
  /** arctan2 in degrees (reference functions/lazy.rb arctan2d). */
  def arctan2d(y: Expr, x: Expr): Expr = mkExpr(F.degrees(F.atan2(y.col, x.col)), Seq(y, x))
  /** Row-index-per-group agg (reference functions/lazy.rb groups — module
    * spelling of Expr#agg_groups). */
  def groups(name: String): Expr = col(name).aggGroups
  /** Module-level sample variance (reference functions/lazy.rb var; named
    * `variance` because `var` is a Scala keyword). */
  def variance(e: Expr, ddof: Int = 1): Expr = e.variance(ddof)

  // ---- global shims (reference functions/random.rb, string_cache.rb) ----
  /** Default seed consumed by seeded ops' parameter defaults (reference
    * set_random_seed; our RNG surface is always explicitly seeded, so this
    * just moves the default). */
  @volatile private var _defaultSeed: Long = 42L
  def setRandomSeed(seed: Long): Unit = _defaultSeed = seed
  def defaultRandomSeed: Long = _defaultSeed
  /** Global string cache is meaningless on Spark (no global dictionary —
    * SURVEY §1.2): kept as explicit no-ops for call-site compatibility. */
  def enableStringCache(): Unit = ()
  def disableStringCache(): Unit = ()
  def usingStringCache[T](f: => T): T = f
  /** from_hash (reference convert.rb): hash-of-columns constructor alias. */
  def fromHash(columns: Map[String, Seq[Any]])(implicit spark: SparkSession): api.DataFrame =
    dataFrame(columns.toSeq: _*)
  /** Named aliases (reference functions.rb pearson_corr/spearman_rank_corr). */
  def pearsonCorr(a: Expr, b: Expr): Expr = corr(a, b)
  def spearmanRankCorr(df: DataFrame, a: String, b: String, as: String = "spearman"): DataFrame =
    spearmanCorr(df, a, b, as)

  // ---- ranges (reference: functions/range/*.rb) ----
  // empty ranges (start == end) are valid and empty in polars — sequence()
  // rejects inverted bounds, so guard before building
  def intRange(start: Int, end: Int, step: Int = 1): Expr =
    // i64 elements: polars int_range's default dtype is Int64
    // (functions/range/int_range.rb:30)
    if (step > 0 && start >= end || step < 0 && start <= end)
      Expr(F.array().cast("array<bigint>"))
    else Expr(F.sequence(F.lit(start.toLong),
      F.lit((end - math.signum(step)).toLong), F.lit(step.toLong)))
  def intRanges(start: Expr, end: Expr): Expr =
    // always-valid sequence then a length slice — keeps the element type
    // native (a when/otherwise empty-array branch would force a coercion)
    mkExpr(F.slice(
      F.sequence(start.col, F.greatest(end.col - 1, start.col), F.lit(1)),
      F.lit(1), F.greatest(end.col - start.col, F.lit(0))), Seq(start, end))
  def dateRange(start: Expr, end: Expr, interval: String = "1d"): Expr = {
    val d = graft.kernel.DurationDsl.parse(interval)
    mkExpr(F.sequence(start.col, end.col, d.intervalCol), Seq(start, end))
  }
  /** Plural/datetime/time range variants (reference functions/range):
    * dateRanges is dateRange applied per row (already columnar);
    * datetimeRange keeps the timestamp component; timeRange produces
    * nanos-since-midnight longs (the Time physical carrier, §1.2). */
  def dateRanges(start: Expr, end: Expr, interval: String = "1d"): Expr =
    dateRange(start, end, interval)
  def datetimeRange(start: Expr, end: Expr, interval: String = "1h"): Expr =
    dateRange(start.cast(org.apache.spark.sql.types.TimestampType),
      end.cast(org.apache.spark.sql.types.TimestampType), interval)
  def datetimeRanges(start: Expr, end: Expr, interval: String = "1h"): Expr =
    datetimeRange(start, end, interval)
  /** `eager: true` range form (functions/range doc blocks — the reference
    * returns `select(result).to_series`): evaluate a range expression on a
    * unit frame and explode its elements into a Series. */
  def rangeSeries(e: Expr, name: String)(
      implicit spark: org.apache.spark.sql.SparkSession): graft.api.Series =
    graft.api.Series(name,
      spark.range(1).select(F.explode(e.col).as(name)))

  def timeRange(start: Long, end: Long, interval: String = "1h"): Expr = {
    val stepNs = graft.kernel.DurationDsl.parse(interval).totalNanos
    Expr(F.sequence(F.lit(start), F.lit(end), F.lit(stepNs)))
  }
  def timeRanges(start: Expr, end: Expr, interval: String = "1h"): Expr = {
    val stepNs = graft.kernel.DurationDsl.parse(interval).totalNanos
    mkExpr(F.sequence(start.col, end.col, F.lit(stepNs)), Seq(start, end))
  }
  def duration(weeks: Long = 0, days: Long = 0, hours: Long = 0, minutes: Long = 0,
               seconds: Long = 0, milliseconds: Long = 0, microseconds: Long = 0): Expr =
    Expr(F.lit(((weeks * 7 + days) * 86400L + hours * 3600L + minutes * 60L + seconds) * 1000000L
      + milliseconds * 1000L + microseconds)) // long-µs-ticks Duration repr (SURVEY §1.2)

  /** Column-valued duration ctor (reference functions/as_datatype.rb:35
    * duration(weeks: "add") — every part may be a per-row expression).
    * Result is the µs-ticks duration repr; add to a datetime with
    * `dt.addDuration`. Null parts propagate (polars: a null component
    * nulls the duration). */
  def durationExpr(weeks: Expr = Expr.lit(0L), days: Expr = Expr.lit(0L),
                   hours: Expr = Expr.lit(0L), minutes: Expr = Expr.lit(0L),
                   seconds: Expr = Expr.lit(0L), milliseconds: Expr = Expr.lit(0L),
                   microseconds: Expr = Expr.lit(0L)): Expr =
    mkExprK(Seq(weeks, days, hours, minutes, seconds, milliseconds, microseconds)) { cs =>
      val Seq(w, d, h, m, s, ms, us) = cs.map(_.cast("long"))
      ((w * 7 + d) * 86400L + h * 3600L + m * 60L + s) * 1000000L + ms * 1000L + us
    }

  def coalesce(exprs: Expr*): Expr = mkExprK(exprs)(cs => F.coalesce(cs: _*))
  def repeatExpr(v: Any, n: Int): Expr = Expr(F.array_repeat(F.lit(v), n))
  def sqlExpr(sql: String): Expr = Expr(F.expr(sql))

  /** from_epoch (reference functions/lazy.rb:900): integer epoch ticks →
    * timestamp at the given unit; "d" yields a date. ns uses integer div so
    * no double rounding at 1e18-scale ticks. */
  def fromEpoch(e: Expr, timeUnit: String = "s"): Expr = mkExpr(timeUnit match {
    case "s"  => F.timestamp_seconds(e.col)
    case "ms" => F.timestamp_millis(e.col)
    case "us" => F.timestamp_micros(e.col)
    case "ns" => F.timestamp_micros(F.call_function("div", e.col, F.lit(1000L)))
    case "d"  => F.date_add(F.lit(java.sql.Date.valueOf("1970-01-01")), e.col.cast("int"))
    case other => throw new IllegalArgumentException(s"from_epoch time_unit: $other")
  }, Seq(e))

  /** Eager constructors (reference functions/repeat.rb ones/zeros/repeat). */
  // dtype: polars ones/zeros/repeat accept a target dtype (functions/
  // repeat.rb goldens render ones(3, dtype: Int8) as 'ones' [i8]); the
  // default stays f64 for ones/zeros (reference default Float64) and the
  // literal's natural type for repeat
  def ones(n: Long, dtype: org.apache.spark.sql.types.DataType =
             org.apache.spark.sql.types.DoubleType)
          (implicit spark: SparkSession): api.Series =
    api.Series("ones", spark.range(n).select(F.lit(1).cast(dtype).as("ones")))
  def zeros(n: Long, dtype: org.apache.spark.sql.types.DataType =
              org.apache.spark.sql.types.DoubleType)
           (implicit spark: SparkSession): api.Series =
    api.Series("zeros", spark.range(n).select(F.lit(0).cast(dtype).as("zeros")))
  def repeatSeries(v: Any, n: Long, name: String = "repeat",
                   dtype: Option[org.apache.spark.sql.types.DataType] = None)
                  (implicit spark: SparkSession): api.Series =
    api.Series(name, spark.range(n).select(
      dtype.fold(F.lit(v))(d => F.lit(v).cast(d)).as(name)))

  /** arg_where / arg_sort_by (reference functions/lazy.rb): row indices
    * where the predicate holds / that would sort by the keys. */
  def argWhere(df: api.DataFrame, cond: Expr): api.Series = {
    val IDX = graft.kernel.RowIndex.name
    api.Series("arg_where", graft.kernel.RowIndex.attachDense(df.toSpark)
      .filter(cond.col).select(F.col(IDX).as("arg_where")).orderBy("arg_where"))
  }
  def argSortBy(df: api.DataFrame, by: Seq[Expr],
                descending: Seq[Boolean] = Nil): api.Series = {
    val IDX = graft.kernel.RowIndex.name
    val keys = by.zipWithIndex.map { case (e, i) =>
      if (descending.lift(i).getOrElse(false)) e.col.desc else e.col.asc
    }
    api.Series("arg_sort_by", graft.kernel.RowIndex.attachDense(df.toSpark)
      .orderBy(keys: _*).select(F.col(IDX).as("arg_sort_by")))
  }
  /** get_dummies (reference functions.rb) — alias of DataFrame#to_dummies. */
  def getDummies(df: api.DataFrame, cols: Seq[String] = Nil): api.DataFrame =
    df.toDummies(if (cols.isEmpty) df.columns else cols)

  // ---- frame constructors / IO (reference: lib/polars/io/*.rb) ----
  def readParquet(path: String)(implicit spark: SparkSession): DataFrame =
    DataFrame(io.Scan.parquet(spark, path))
  def scanParquet(path: String)(implicit spark: SparkSession): LazyFrame =
    LazyFrame(io.Scan.parquet(spark, path))
  /** read_csv with the reference's common options (lib/polars/io/csv.rb):
    * skip_rows/null_values/dtypes/quote_char/comment_prefix/encoding/eol_char/
    * n_rows/new_columns/ignore_errors, mapped onto the Spark CSV reader.
    * `skipRows` has no Spark option — those leading lines are dropped via a
    * text pre-read (dense index filter), then parsed as CSV. */
  def readCsv(path: String, sep: String = ",", hasHeader: Boolean = true,
              inferSchema: Boolean = true, tryParseDates: Boolean = false,
              skipRows: Int = 0, nullValues: Seq[String] = Nil,
              dtypes: Option[org.apache.spark.sql.types.StructType] = None,
              quoteChar: String = "\"", commentPrefix: Option[String] = None,
              encoding: String = "UTF-8", eolChar: String = "\n",
              nRows: Option[Int] = None, newColumns: Seq[String] = Nil,
              ignoreErrors: Boolean = false)
             (implicit spark: SparkSession): DataFrame =
    DataFrame(readCsvSpark(path, sep, hasHeader, inferSchema, skipRows, nullValues,
      dtypes, quoteChar, commentPrefix, encoding, eolChar, nRows, newColumns, ignoreErrors,
      tryParseDates))
  /** scan_csv with full read_csv option parity (reference io/csv.rb:scan_csv
    * takes the same surface). The plan stays lazy; only multi-marker
    * null_values type inference runs an eager stats pass, mirroring the
    * reference's eager schema inference on scan. */
  def scanCsv(path: String, sep: String = ",", hasHeader: Boolean = true,
              inferSchema: Boolean = true, tryParseDates: Boolean = false,
              skipRows: Int = 0,
              nullValues: Seq[String] = Nil,
              dtypes: Option[org.apache.spark.sql.types.StructType] = None,
              quoteChar: String = "\"", commentPrefix: Option[String] = None,
              encoding: String = "UTF-8", eolChar: String = "\n",
              nRows: Option[Int] = None, newColumns: Seq[String] = Nil,
              ignoreErrors: Boolean = false)(implicit spark: SparkSession): LazyFrame =
    LazyFrame(readCsvSpark(path, sep, hasHeader, inferSchema, skipRows, nullValues,
      dtypes, quoteChar, commentPrefix, encoding, eolChar, nRows, newColumns, ignoreErrors,
      tryParseDates))
  private def csvReader(spark: SparkSession, sep: String, header: Boolean, infer: Boolean) =
    spark.read.option("sep", sep).option("header", header).option("inferSchema", infer)
  private def readCsvSpark(path: String, sep: String, header: Boolean, infer: Boolean,
                           skipRows: Int, nullValues: Seq[String],
                           dtypes: Option[org.apache.spark.sql.types.StructType],
                           quoteChar: String, commentPrefix: Option[String],
                           encoding: String, eolChar: String, nRows: Option[Int],
                           newColumns: Seq[String], ignoreErrors: Boolean,
                           tryParseDates: Boolean = false)
                          (implicit spark: SparkSession): SDF = {
    // reference parity: date-like strings stay strings unless
    // try_parse_dates is set. preferDate gates date inference; timestamp
    // inference has no switch, so when dates are NOT wanted (and no explicit
    // dtypes drive parsing) an unmatchable timestampFormat makes temporal
    // candidates fall back to StringType.
    var r = spark.read.option("sep", sep).option("header", header)
      .option("quote", quoteChar).option("encoding", encoding)
      .option("preferDate", tryParseDates)
      .option("lineSep", eolChar)
    r = r.option("mode", if (ignoreErrors) "PERMISSIVE" else "FAILFAST")
    if (!tryParseDates && dtypes.isEmpty) {
      r = r.option("timestampFormat", "'graft-no-temporal-inference'")
        .option("timestampNTZFormat", "'graft-no-temporal-inference'")
    }
    commentPrefix.foreach(c => r = r.option("comment", c))
    // The Spark CSV reader has a single nullValue option; the reference's
    // null_values accepts a list where EVERY listed string becomes null. For
    // >1 values: parse all columns as string, replace any listed marker with
    // null, then cast to the requested dtypes (or re-derive the types the
    // single-marker path would have inferred on the cleaned data).
    val multiNull = nullValues.size > 1
    nullValues.headOption.foreach(v => r = r.option("nullValue", v))
    r = dtypes match {
      case Some(schema) if !multiNull => r.schema(schema)
      case Some(_) => r.option("inferSchema", false) // all-string; cast after cleaning
      case None => r.option("inferSchema", infer && !multiNull)
    }
    val parsed =
      if (skipRows <= 0) r.csv(path)
      else {
        import spark.implicits._
        val lines = spark.read.option("lineSep", eolChar).textFile(path)
        val kept = graft.kernel.RowIndex.drop(
          graft.kernel.RowIndex.attachDense(lines.toDF("value"))
            .filter(F.col(graft.kernel.RowIndex.name) >= skipRows))
        r.csv(kept.as[String])
      }
    val limited = nRows.map(parsed.limit).getOrElse(parsed)
    val named = if (newColumns.nonEmpty) limited.toDF(newColumns: _*) else limited
    if (!multiNull) named
    else {
      val cleaned = named.select(named.columns.map { c =>
        F.when(F.col(c).isin(nullValues: _*), F.lit(null)).otherwise(F.col(c)).as(c)
      }: _*)
      dtypes match {
        case Some(schema) =>
          val cast = if (ignoreErrors) "try_cast" else "cast"
          cleaned.select(schema.fields.map(f =>
            F.expr(s"$cast(${quoteId(f.name)} as ${f.dataType.sql})").as(f.name)): _*)
        case None => if (infer) inferCleanedTypes(cleaned) else cleaned
      }
    }
  }
  private def quoteId(c: String) = "`" + c.replace("`", "``") + "`"
  /** Re-derives column types on an all-string frame after multi-marker null
    * replacement: one aggregate of try_cast success counts, then the
    * narrowest type every non-null value casts to — int/long/double/boolean/
    * date/timestamp, the same ladder the Spark CSV reader's inference walks
    * (date needs the strict yyyy-MM-dd shape since timestamps also cast). */
  private def inferCleanedTypes(df: SDF): SDF = {
    import org.apache.spark.sql.types._
    val cols = df.columns
    val candidates: Seq[(String, DataType, Option[String])] = Seq(
      ("int", IntegerType, None),
      ("bigint", LongType, None),
      ("double", DoubleType, None),
      ("boolean", BooleanType, None),
      ("date", DateType, Some("^\\d{4}-\\d{2}-\\d{2}$")),
      ("timestamp", TimestampType, None))
    val aggs = cols.flatMap { c =>
      F.count(F.col(c)).as(s"n:$c") +:
        candidates.map { case (sqlT, _, pattern) =>
          val castOk = F.expr(s"try_cast(${quoteId(c)} as $sqlT)").isNotNull
          val ok = pattern.fold(castOk)(p => castOk && F.col(c).rlike(p))
          F.count(F.when(ok, 1)).as(s"$sqlT:$c")
        }
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    df.select(cols.map { c =>
      val nonNull = row.getAs[Long](s"n:$c")
      val picked = candidates.collectFirst {
        case (sqlT, dt, _) if nonNull > 0 && row.getAs[Long](s"$sqlT:$c") == nonNull => dt
      }
      picked match {
        case Some(dt) => F.col(c).cast(dt).as(c)
        case None => F.col(c)
      }
    }: _*)
  }
  def readJson(path: String, multiLine: Boolean = true)(implicit spark: SparkSession): DataFrame =
    DataFrame(spark.read.option("multiLine", multiLine).json(path))
  def readNdjson(path: String)(implicit spark: SparkSession): DataFrame =
    DataFrame(spark.read.json(path))
  def scanNdjson(path: String)(implicit spark: SparkSession): LazyFrame =
    LazyFrame(spark.read.json(path))
  def readAvro(path: String)(implicit spark: SparkSession): DataFrame =
    try DataFrame(spark.read.format("avro").load(path))
    catch { case _: org.apache.spark.sql.AnalysisException =>
      // no spark-avro datasource jar: driver-side container-file reader
      DataFrame(io.AvroIo.read(path))
    }
  def readParquetSchema(path: String)(implicit spark: SparkSession): org.apache.spark.sql.types.StructType =
    io.Scan.parquet(spark, path).schema
  /** Arrow IPC facade (reference Polars.read_ipc / scan_ipc family —
    * io/ipc.rb); implementation in [[io.ArrowIpc]]. */
  def readIpc(path: String)(implicit spark: SparkSession): DataFrame =
    DataFrame(io.ArrowIpc.read(path))
  def scanIpc(path: String)(implicit spark: SparkSession): LazyFrame =
    LazyFrame(io.ArrowIpc.read(path))
  def readIpcStream(path: String)(implicit spark: SparkSession): DataFrame =
    DataFrame(io.ArrowIpc.readStream(path))
  def readIpcSchema(path: String)(implicit spark: SparkSession): org.apache.spark.sql.types.StructType =
    io.ArrowIpc.readSchema(path)
  def readDatabase(url: String, table: String, props: java.util.Properties = new java.util.Properties)
                  (implicit spark: SparkSession): DataFrame =
    DataFrame(spark.read.jdbc(url, table, props))

  def fromRows(rows: Seq[Seq[Any]], schema: org.apache.spark.sql.types.StructType)
              (implicit spark: SparkSession): DataFrame = {
    val rdd = spark.sparkContext.parallelize(rows.map(org.apache.spark.sql.Row.fromSeq))
    DataFrame(spark.createDataFrame(rdd, schema))
  }

  /** Column-oriented constructor — the reference's primary `DataFrame.new`
    * form (hash of name → values, reference data_frame.rb:21). Dtypes
    * inferred from the first non-null value per column. */
  def dataFrame(columns: (String, Seq[Any])*)(implicit spark: SparkSession): DataFrame = {
    require(columns.nonEmpty)
    val n = columns.head._2.size
    require(columns.forall(_._2.size == n), "all columns must have equal length")
    import org.apache.spark.sql.types._
    val schema = StructType(columns.map { case (name, vals) =>
      val dt: DataType = vals.collectFirst {
        case _: Int => IntegerType
        case _: Long => LongType
        case _: Double => DoubleType
        case _: Float => FloatType
        case _: String => StringType
        case _: Boolean => BooleanType
        case _: java.sql.Date => DateType
        case _: java.sql.Timestamp => TimestampType
      }.getOrElse(StringType)
      StructField(name, dt)
    })
    val rows = (0 until n).map(i => org.apache.spark.sql.Row.fromSeq(columns.map(_._2(i))))
    DataFrame(spark.createDataFrame(spark.sparkContext.parallelize(rows), schema))
  }

  /** Run several lazy queries concurrently (reference: functions/lazy.rb:1016
    * collect_all) — Spark jobs share the session's scheduler pools. */
  def collectAll(frames: Seq[LazyFrame]): Seq[DataFrame] = {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    // persist + count: collect_all is EAGER in polars — a bare count would
    // force the computation once and then recompute on first use
    val fs = frames.map(f => Future {
      val d = f.collect()
      d.toSpark.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      d.toSpark.count(); d
    })
    Await.result(Future.sequence(fs), Duration.Inf)
  }

  /** align_frames: same key universe (full-outer union of `on` values) in the
    * same sorted order for every frame (reference: functions/eager.rb:144). */
  def alignFrames(frames: Seq[DataFrame], on: String): Seq[DataFrame] = {
    // persist the key superset like the reference does (eager.rb:156-165
    // caches the alignment frame): every aligned frame's left join reads one
    // materialization instead of re-running the N-way union + distinct
    val keys = graft.kernel.PrepCache.persistBounded(
      frames.map(_.toSpark.select(on)).reduce(_ unionAll _).distinct())
    frames.map { f =>
      DataFrame(keys.join(f.toSpark, Seq(on), "left").orderBy(on))
    }
  }

  // ---- concat (reference: functions/eager.rb:35-143) ----
  def concat(frames: Seq[DataFrame], how: String = "vertical"): DataFrame = {
    require(frames.nonEmpty)
    how match {
      case "vertical" => frames.reduce((a, b) => DataFrame(a.toSpark.unionAll(b.toSpark)))
      case "vertical_relaxed" | "diagonal" | "diagonal_relaxed" =>
        frames.reduce((a, b) => DataFrame(a.toSpark.unionByName(b.toSpark, allowMissingColumns = true)))
      case "horizontal" =>
        // positional zip by row index; FULL join so unequal heights
        // null-pad the shorter frames (reference eager.rb: "fills with
        // nulls if the lengths don't match")
        frames.map(f => graft.kernel.RowIndex.attachDense(f.toSpark)).reduce { (a, b) =>
          a.join(b, Seq(graft.kernel.RowIndex.name), "full")
        } match { case j => DataFrame(graft.kernel.RowIndex.drop(j)) }
      case other => throw new IllegalArgumentException(
        "concat: how must be one of vertical|vertical_relaxed|diagonal|" +
          s"diagonal_relaxed|horizontal, got '$other'")
    }
  }
}
