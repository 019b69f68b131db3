package graft.expr

import org.apache.spark.sql.{Column, functions => F}
import org.apache.spark.sql.types.DataType
import graft.kernel.{DurationDsl, Strftime}
import scala.jdk.CollectionConverters._

/** String namespace — reference: lib/polars/string_expr.rb (native
  * ext/polars/src/expr/string.rs:1-367). All ops stay inside
  * `org.apache.spark.sql.functions` so whole-stage codegen applies.
  */
final class StrNS(e: Expr) {
  private def m(f: Column => Column): Expr = e.mapElementwise(f)

  def toUppercase: Expr = m(F.upper)
  def toLowercase: Expr = m(F.lower)
  def toTitlecase: Expr = m(F.initcap)
  def lenChars: Expr = m(c => F.length(c).cast("long")) // u32 → i64 (§1.2)
  def lenBytes: Expr = m(c => F.octet_length(c).cast("long")) // u32 → i64 (§1.2)
  def stripChars: Expr = m(F.trim)
  def stripChars(chars: String): Expr = m(c => F.trim(c, chars))
  def stripCharsStart: Expr = m(F.ltrim)
  def stripCharsStart(chars: String): Expr = m(c => F.ltrim(c, chars))
  def stripCharsEnd: Expr = m(F.rtrim)
  def stripCharsEnd(chars: String): Expr = m(c => F.rtrim(c, chars))
  def stripPrefix(p: String): Expr =
    m(c => F.when(c.startsWith(p), c.substr(F.lit(p.length + 1), F.length(c))).otherwise(c))
  def stripSuffix(s: String): Expr =
    m(c => F.when(c.endsWith(s), c.substr(F.lit(1), F.length(c) - s.length)).otherwise(c))
  // polars pads NEVER truncate (string_expr.rb:584-593: "hippopotamus"
  // padded to 8 stays whole) — Spark's lpad/rpad cut to the target length,
  // so longer inputs pass through unchanged
  def padStart(n: Int, fill: String = " "): Expr =
    m(c => F.when(F.length(c) >= n, c).otherwise(F.lpad(c, n, fill)))
  def padEnd(n: Int, fill: String = " "): Expr =
    m(c => F.when(F.length(c) >= n, c).otherwise(F.rpad(c, n, fill)))
  /** zfill is SIGN-AWARE (string_expr.rb:652: "-1".zfill(4) = "-001"):
    * a leading +/- stays in front of the inserted zeros. */
  def zfill(n: Int): Expr = m { c =>
    val signed = c.startsWith("-") || c.startsWith("+")
    F.when(F.length(c) >= n, c)
      .when(signed, F.concat(F.substring(c, 1, 1),
        F.lpad(F.substring(c, 2, Int.MaxValue), math.max(n - 1, 0), "0")))
      .otherwise(F.lpad(c, n, "0"))
  }
  def contains(pat: String, literal: Boolean = false): Expr =
    m(c => if (literal) c.contains(pat) else c.rlike(pat))
  def containsExpr(pat: Expr): Expr = Expr(e.col.contains(pat.col),
    e.requiresIndex || pat.requiresIndex, Expr.mergePreps(e.preps, pat.preps))
  def startsWith(p: String): Expr = m(_.startsWith(p))
  def endsWith(s: String): Expr = m(_.endsWith(s))
  def extract(pat: String, group: Int = 1): Expr =
    m(c => F.when(F.regexp_extract(c, pat, group) === "", F.lit(null)).otherwise(F.regexp_extract(c, pat, group)))
  // polars extract_all returns the FULL match per occurrence (group 0);
  // group 1 would crash on group-less patterns and return a fragment on
  // grouped ones
  def extractAll(pat: String): Expr = m(c => F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
  /** All capture groups of the first match as a struct (reference
    * string_expr.rb:1032 extract_groups). */
  def extractGroups(pat: String, names: Seq[String]): Expr = m { c =>
    F.struct(names.zipWithIndex.map { case (n, i) =>
      F.when(F.regexp_extract(c, pat, i + 1) === "", F.lit(null))
        .otherwise(F.regexp_extract(c, pat, i + 1)).as(n)
    }: _*)
  }
  def countMatches(pat: String): Expr = m(c => F.regexp_count(c, F.lit(pat)))
  def countMatch(pat: String): Expr = countMatches(pat) // deprecated reference alias
  def replace(pat: String, repl: String): Expr = { // first occurrence only (polars default n=1)
    // \A anchors the single possible match at the string start; lazy (?s).*?
    // spans up to the EARLIEST pat occurrence (DOTALL so newlines don't break
    // the scan). The injected prefix group shifts every user group number by
    // one, so numbered backreferences in the pattern and $N references in the
    // replacement (polars supports both) are re-pointed at N+1.
    val shiftedPat = "\\\\(\\d)".r.replaceAllIn(pat, mm =>
      java.util.regex.Matcher.quoteReplacement("\\" + (mm.group(1).toInt + 1)))
    // replacement: backslashes are literal, a lone $ is literal, $N is a
    // capture reference (regex-crate semantics) re-pointed at N+1
    val lit = repl.replace("\\", "\\\\")
    val dollarSafe = "\\$(?!\\d)".r.replaceAllIn(lit, _ =>
      java.util.regex.Matcher.quoteReplacement("\\$"))
    val shiftedRepl = "\\$(\\d)".r.replaceAllIn(dollarSafe, mm =>
      java.util.regex.Matcher.quoteReplacement("$" + (mm.group(1).toInt + 1)))
    m(c => F.regexp_replace(c, "(?s)\\A(.*?)(?:" + shiftedPat + ")", "$1" + shiftedRepl))
  }
  /** Replace first n occurrences via the native [[graft.ext.StrReplaceN]]
    * expression (requires `GraftExtensions.register(spark)`, which every
    * `SparkEntry.queries` call runs, or the `spark.sql.extensions` config). */
  def replaceN(pat: String, repl: String, n: Int): Expr =
    m(c => F.call_function("graft_replace_n", c, F.lit(pat), F.lit(repl), F.lit(n)))
  def replaceAll(pat: String, repl: String): Expr = m(c => F.regexp_replace(c, pat, repl))
  def replaceAllLiteral(pat: String, repl: String): Expr =
    m(c => F.replace(c, F.lit(pat), F.lit(repl)))
  /** Grapheme-cluster reverse (combining marks stay on their base — see
    * [[graft.ext.GraphemeReverse]]; Spark's reverse flips code points). */
  def reverse: Expr = m(c => org.apache.spark.sql.GraftInternalOps.column(
    graft.ext.GraphemeReverse(org.apache.spark.sql.GraftInternalOps.expression(c))))
  def slice(offset: Int, length: Option[Int] = None): Expr = m { c =>
    val start = if (offset >= 0) F.lit(offset + 1) else F.greatest(F.length(c) + offset + 1, F.lit(1))
    c.substr(start, length.map(F.lit).getOrElse(F.length(c)))
  }
  def head(n: Int): Expr = slice(0, Some(n))
  def tail(n: Int): Expr = m(c => c.substr(F.greatest(F.length(c) - n + 1, F.lit(1)), F.length(c)))
  def split(by: String): Expr = m(c => F.split(c, java.util.regex.Pattern.quote(by)))
  /** split(inclusive: true) keeps the delimiter attached to the preceding
    * token (reference string_expr.rb:1089) — a lookbehind split. */
  def split(by: String, inclusive: Boolean): Expr =
    if (!inclusive) split(by)
    else m(c => F.split(c, "(?<=" + java.util.regex.Pattern.quote(by) + ")"))
  def splitRegex(pat: String): Expr = m(c => F.split(c, pat))
  def splitExact(by: String, n: Int): Expr = m { c =>
    // try_element_at: shorter strings pad missing fields with null
    // (string_expr.rb:1131 golden: "c" split on "_" is {"c",null})
    val parts = F.split(c, java.util.regex.Pattern.quote(by), n + 1)
    F.struct((0 to n).map(i => F.try_element_at(parts, F.lit(i + 1)).as(s"field_$i")): _*)
  }
  /** splitn: at most n fields, last field keeps the remainder (reference
    * string_expr.rb:1168); missing parts are null. */
  def splitn(by: String, n: Int): Expr = m { c =>
    val parts = F.split(c, java.util.regex.Pattern.quote(by), n)
    F.struct((0 until n).map(i => F.try_element_at(parts, F.lit(i + 1)).as(s"field_$i")): _*)
  }
  /** Concatenate the column's values in ROW order (reference str.join is
    * order-preserving; bare collect_list order is shuffle-dependent): the
    * hidden row index totalizes the sort. */
  def join(sep: String = ""): Expr = Expr(
    F.array_join(F.transform(
      F.array_sort(F.collect_list(F.struct(
        F.col(graft.kernel.RowIndex.name).as("i"), e.col.as("x")))),
      s => s.getField("x")), sep),
    requiresIndex = true, e.preps)
  def concat(sep: String = ""): Expr = join(sep)
  /** ignore_nulls: false propagates — ANY null element nulls the whole
    * joined value (string_name_space.rb:252 golden: join("-") over
    * [1, nil, 2] is "1-2", ignore_nulls: false is null). */
  def join(sep: String, ignoreNulls: Boolean): Expr =
    if (ignoreNulls) join(sep)
    else {
      val j = join(sep)
      Expr(F.when(F.count(F.lit(1)) === F.count(e.col), j.col),
        j.requiresIndex, j.preps)
    }
  // deprecated reference aliases (string_name_space.rb lstrip/rstrip/
  // ljust/rjust/n_chars/parse_int): ljust pads on the RIGHT (left-justify)
  def lstrip: Expr = stripCharsStart
  def lstrip(chars: String): Expr = stripCharsStart(chars)
  def rstrip: Expr = stripCharsEnd
  def rstrip(chars: String): Expr = stripCharsEnd(chars)
  def ljust(n: Int, fill: String = " "): Expr = padEnd(n, fill)
  def rjust(n: Int, fill: String = " "): Expr = padStart(n, fill)
  def nChars: Expr = lenChars
  def nBytes: Expr = lenBytes
  /** parse_int(radix) — polars' radix default is 2. */
  def parseInt(radix: Int = 2): Expr = toInteger(radix)
  def toInteger(base: Int = 10): Expr =
    m(c => if (base == 10) c.cast("long") else F.conv(c, base, 10).cast("long"))
  /** strict: false nulls unparseable values instead of erroring (Spark's
    * `conv` would silently coerce garbage to 0, so the digits are validated
    * with a base-derived character class first — string_expr.rb:1332 golden:
    * "invalid" in base 2 parses to null, not 0). */
  def toInteger(base: Int, strict: Boolean): Expr =
    if (strict) toInteger(base)
    else {
      val cls =
        if (base <= 10) s"[0-${base - 1}]"
        else s"[0-9a-${('a' + base - 11).toChar}A-${('A' + base - 11).toChar}]"
      m(c => F.when(c.rlike(s"^[+-]?$cls+$$"),
        if (base == 10) c.cast("long") else F.conv(c, base, 10).cast("long")))
    }
  def toDecimal(precision: Int = 38, scale: Int = 10): Expr = m(_.cast(s"decimal($precision,$scale)"))
  def jsonDecode(dtype: DataType): Expr = m(c => F.from_json(c, dtype))
  def jsonPathMatch(path: String): Expr = m(c => F.get_json_object(c, path))
  def decode(encoding: String): Expr = m(c => encoding match {
    case "hex"    => F.unhex(c)
    case "base64" => F.unbase64(c)
  })
  def encode(encoding: String): Expr = m(c => encoding match {
    case "hex"    => F.hex(c)
    case "base64" => F.base64(c)
  })
  def toDate(format: String = "%Y-%m-%d"): Expr = m(c => F.to_date(c, Strftime.toJava(format)))
  /** Parse a time-of-day string to the Time physical type (nanos since
    * midnight, SURVEY §1.2 — Spark has no time dtype). Parsing lands on
    * 1970-01-01 in the UTC session, so epoch µs IS time-of-day µs. */
  def toTime(format: String = "%H:%M:%S"): Expr =
    m(c => F.unix_micros(F.to_timestamp(c, Strftime.toJava(format))) * 1000L)
  def toDatetime(format: String = "%Y-%m-%d %H:%M:%S"): Expr =
    m(c => F.to_timestamp(c, Strftime.toJava(format)))
  def strptime(dtype: DataType, format: String): Expr = m { c =>
    dtype match {
      case org.apache.spark.sql.types.DateType => F.to_date(c, Strftime.toJava(format))
      case _                                   => F.to_timestamp(c, Strftime.toJava(format))
    }
  }
  /** Aho-Corasick multi-needle contains (reference string_expr.rb:1406) —
    * composed as an OR chain; Catalyst folds to codegen'd contains calls. */
  def containsAny(patterns: Seq[String]): Expr =
    m(c => patterns.map(p => c.contains(p)).reduce(_ || _))
  /** Simultaneous multi-needle replace (reference string_expr.rb:1457
    * golden: swapping "me"/"you" must not chain — a replacement's output is
    * never rescanned). Two-phase spelling: needles → private-use
    * placeholders first, then placeholders → replacements; equivalent to
    * the aho-corasick single pass for non-overlapping needles. */
  def replaceMany(mapping: Map[String, String]): Expr = m { c =>
    val items = mapping.toSeq
    val tagged = items.zipWithIndex.foldLeft(c) { case (acc, ((k, _), i)) =>
      F.replace(acc, F.lit(k), F.lit("\u0000" + i + "\u0001"))
    }
    items.zipWithIndex.foldLeft(tagged) { case (acc, ((_, v), i)) =>
      F.replace(acc, F.lit("\u0000" + i + "\u0001"), F.lit(v))
    }
  }
  def replaceMany(patterns: Seq[String], replacements: Seq[String]): Expr = {
    require(patterns.length == replacements.length,
      "replace_many: patterns and replacements must have equal length")
    replaceMany(patterns.zip(replacements).toMap)
  }
  def normalize(): Expr = m(c => F.lower(F.trim(c)))
}

/** Temporal namespace — reference: lib/polars/date_time_expr.rb (native
  * ext/polars/src/expr/datetime.rs). */
final class DtNS(e: Expr) {
  private def m(f: Column => Column): Expr = e.mapElementwise(f)

  // polars dtype parity for calendar parts (reference date_time_expr.rb
  // docstrings): year/iso_year i32; quarter/month/week/weekday/day/hour/
  // minute/second i8; ordinal_day i16 — Spark's part functions all return
  // i32, so the narrow casts are applied here once
  def year: Expr = m(F.year)
  def isoYear: Expr = m(Strftime.isoYear) // Thursday-of-week trick; 'YYYY' pattern throws on Spark 4
  def quarter: Expr = m(c => F.quarter(c).cast("tinyint"))
  def month: Expr = m(c => F.month(c).cast("tinyint"))
  def week: Expr = m(c => F.weekofyear(c).cast("tinyint"))
  /** ISO weekday 1=Mon..7=Sun (Spark dayofweek is 1=Sun..7=Sat). */
  def weekday: Expr = m(c => (((F.dayofweek(c) + 5) % 7) + 1).cast("tinyint"))
  def day: Expr = m(c => F.dayofmonth(c).cast("tinyint"))
  def ordinalDay: Expr = m(c => F.dayofyear(c).cast("smallint"))
  def hour: Expr = m(c => F.hour(c).cast("tinyint"))
  def minute: Expr = m(c => F.minute(c).cast("tinyint"))
  def second: Expr = m(c => F.second(c).cast("tinyint"))
  /** fractional: true includes the sub-second component as f64
    * (date_time_name_space.rb:446 golden: 500ms steps → 0.0, 0.5, 1.0…). */
  def second(fractional: Boolean): Expr =
    if (!fractional) second
    else m(c => F.second(c).cast("double") +
      F.date_format(c, "SSSSSS").cast("double") / 1e6)
  def millisecond: Expr = m(c => (F.date_format(c, "SSS")).cast("int"))
  def microsecond: Expr = m(c => (F.date_format(c, "SSSSSS")).cast("int"))
  def nanosecond: Expr = m(c => (F.date_format(c, "SSSSSS")).cast("int") * 1000)
  def date: Expr = m(F.to_date)
  /** Time-of-day as nanos-since-midnight — the SURVEY §1.2 physical mapping
    * for polars' `Time` dtype (Spark has no time type). */
  def time: Expr = m { c0 =>
    val c = c0.cast("timestamp")
    (F.unix_micros(c) - F.unix_micros(F.date_trunc("day", c))) * 1000L
  }
  def isLeapYear: Expr = m(c => (F.year(c) % 4 === 0 && F.year(c) % 100 =!= 0) || F.year(c) % 400 === 0)
  def strftime(fmt: String): Expr = m(c => Strftime.format(c, fmt))
  def toString(fmt: String): Expr = strftime(fmt)
  /** Truncate to any duration-DSL bucket (reference date_time_expr.rb:107). */
  def truncate(every: String): Expr = m { c =>
    val d = DurationDsl.parse(every)
    if (d.isCalendar) {
      truncCalendar(c, d.months)
    } else {
      val us = d.totalMicros
      val a = weekAnchor(d)
      F.timestamp_micros(
        (F.floor((F.unix_micros(c) - a) / us.toDouble) * us).cast("long") + a)
    }
  }
  /** Pure-week durations anchor buckets on MONDAY (polars truncate("1w")
    * starts weeks on Monday; the raw epoch is a Thursday) — the Monday
    * before the epoch is 1969-12-29 = epoch - 3 days. Other fixed durations
    * keep the epoch anchor. */
  private def weekAnchor(d: graft.kernel.Duration): Long =
    if (d.weeks > 0 && d.days == 0 && d.nanos == 0) -259200000000L else 0L
  /** Round to the nearest duration-DSL bucket boundary (reference
    * date_time_expr.rb:107-216 — accepts calendar units mo/q/y). Polars
    * semantics: the first half of each bucket maps to its start, the second
    * half (midpoint inclusive) to its end. Calendar buckets have varying
    * physical length, so the midpoint is computed per bucket from the
    * truncated start and its `add_months` successor. */
  def round(every: String): Expr = m { c =>
    val d = DurationDsl.parse(every)
    if (d.isCalendar) {
      require(d.isPureCalendar,
        "dt.round: mixed calendar+fixed durations (e.g. 1mo2d) are not supported")
      val lower = truncCalendar(c, d.months)
      val upper = F.add_months(lower, d.months.toInt).cast("timestamp")
      val lo = F.unix_micros(lower); val hi = F.unix_micros(upper)
      val mid = lo + ((hi - lo) / 2L).cast("long") // month lengths are even in µs — exact
      F.when(F.unix_micros(c.cast("timestamp")) >= mid, upper).otherwise(lower)
    } else {
      val us = d.totalMicros
      val a = weekAnchor(d)
      // floor((t + w/2) / w): the midpoint maps to the bucket END for
      // negative epochs too (F.round is HALF_UP away from zero, which sent
      // pre-1970 midpoints to the bucket start)
      F.timestamp_micros(
        (F.floor((F.unix_micros(c) - a + us / 2) / us.toDouble) * us).cast("long") + a)
    }
  }
  /** Calendar truncate to an n-month stride (shared by truncate/round). */
  private def truncCalendar(c: Column, months: Long): Column =
    if (months == 12) F.date_trunc("year", c)
    else if (months == 3) F.date_trunc("quarter", c)
    else if (months == 1) F.date_trunc("month", c)
    else {
      val monthsSinceEpoch = (F.year(c) - 1970) * 12 + F.month(c) - 1
      val bucket = F.floor(monthsSinceEpoch / months.toDouble) * months
      // floor-division + pmod, NOT cast-int + %: pre-1970 buckets are
      // negative, where int cast truncates toward zero and % keeps the
      // sign — make_date would see month 0/-1 and return null
      F.to_timestamp(F.make_date(
        (F.lit(1970) + F.floor(bucket / 12)).cast("int"),
        F.pmod(bucket, F.lit(12L)).cast("int") + 1, F.lit(1)))
    }
  def epoch(unit: String = "us"): Expr = m { c0 =>
    val c = c0.cast("timestamp") // NTZ parquet timestamps: identity under UTC session tz
    unit match {
      case "s"  => F.unix_timestamp(c)
      case "ms" => F.unix_millis(c)
      case "us" => F.unix_micros(c)
      case "ns" => F.unix_micros(c) * 1000
      case "d"  => F.datediff(F.to_date(c), F.lit("1970-01-01"))
    }
  }
  def timestamp(unit: String = "us"): Expr = epoch(unit)
  /** datetime + duration (µs ticks — the polars `col + duration(...)`
    * spelling; graft durations are i64 µs per SURVEY §1.2, and Spark has no
    * timestamp+bigint `+`, so the add is an explicit dt method). */
  def addDuration(dur: Expr): Expr = {
    val base = e.mapElementwise(c => F.unix_micros(c.cast("timestamp")))
    Expr(F.timestamp_micros(base.col + dur.col),
      base.requiresIndex || dur.requiresIndex,
      Expr.mergePreps(base.preps, dur.preps))
  }
  def offsetBy(by: String): Expr = m { c =>
    val d = DurationDsl.parse(by)
    // interval arithmetic, NOT add_months: add_months returns a DATE and
    // silently drops a timestamp's time-of-day; `ts + INTERVAL n MONTH`
    // month-shifts with day clamping while preserving the time component
    // (and a DATE input + month-only interval stays a DATE)
    val withMonths =
      if (d.months != 0) c + F.expr(s"INTERVAL '${d.months}' MONTH") else c
    val us = Duration0(d)
    if (us != 0) F.timestamp_micros(F.unix_micros(withMonths.cast("timestamp")) + us) else withMonths
  }
  private def Duration0(d: graft.kernel.Duration): Long =
    ((d.weeks * 7 + d.days) * 86400L * 1000000L) + d.nanos / 1000
  /** month_start/month_end roll the DATE while PRESERVING the time of day
    * (date_time_name_space.rb:1196/1218 goldens: 2000-01-02 02:00 rolls to
    * 2000-01-01 02:00 / 2000-01-31 02:00) — a bare date_trunc/last_day
    * would snap to midnight. */
  def monthStart: Expr = m { c0 =>
    val c = c0.cast("timestamp")
    val tod = F.unix_micros(c) - F.unix_micros(F.date_trunc("day", c))
    F.timestamp_micros(F.unix_micros(F.date_trunc("month", c)) + tod)
  }
  def monthEnd: Expr = m { c0 =>
    val c = c0.cast("timestamp")
    val tod = F.unix_micros(c) - F.unix_micros(F.date_trunc("day", c))
    F.timestamp_micros(F.unix_micros(F.to_timestamp(F.last_day(c))) + tod)
  }
  /** combine(date, time): accepts BOTH time carriers — the repo's Time
    * physical type (long nanos-since-midnight, what dt.time/str.toTime
    * produce; SURVEY §1.2) and a pre-formatted "HH:mm:ss" string. A string
    * casts to null under cast(long), which routes it to the concat path. */
  def combine(time: Column): Expr = m { c =>
    val nanos = time.try_cast("long") // ANSI-safe: a "HH:mm:ss" string yields null, not an error
    val dayStart = F.unix_micros(F.to_timestamp(F.date_format(c, "yyyy-MM-dd")))
    F.when(nanos.isNotNull,
        F.timestamp_micros(dayStart + (nanos / 1000L).cast("long")))
      .otherwise(F.to_timestamp(F.concat_ws(" ", F.date_format(c, "yyyy-MM-dd"), time)))
  }
  def convertTimeZone(tz: String): Expr = m(c => F.from_utc_timestamp(c, tz))
  def replaceTimeZone(tz: String): Expr = m(c => F.to_utc_timestamp(c, tz))
  def tzLocalize(tz: String): Expr = replaceTimeZone(tz) // deprecated alias
  /** Datetime view of the underlying representation (reference
    * date_time_expr.rb:584 dt.datetime) — a cast on the µs-timestamp carrier. */
  def datetime: Expr = m(_.cast("timestamp"))
  /** Standard (non-DST) UTC offset of `tz` at each instant, as Duration µs
    * (reference date_time_expr.rb:1367 — zone comes from the dtype there;
    * naive-UTC physical storage here, so the zone is an argument). Exact JVM
    * tz-database rules via the native [[graft.ext.TzOffset]] expression. */
  def baseUtcOffset(tz: String): Expr = tzOffset(tz, dst = false)
  /** Daylight-savings component at each instant, as Duration µs (reference
    * date_time_expr.rb:1393). */
  def dstOffset(tz: String): Expr = tzOffset(tz, dst = true)
  private def tzOffset(tz: String, dst: Boolean): Expr = m { c =>
    import org.apache.spark.sql.GraftInternalOps
    GraftInternalOps.column(graft.ext.TzOffset(
      GraftInternalOps.expression(F.unix_micros(c.cast("timestamp"))),
      GraftInternalOps.expression(F.lit(tz)),
      GraftInternalOps.expression(F.lit(dst))))
  }
  /** Rescale duration ticks between time units (reference
    * date_time_expr.rb:838-875 with_time_unit/cast_time_unit on the
    * long-ticks Duration representation). */
  def castTimeUnit(from: String, to: String): Expr = {
    def scale(u: String): Long = u match {
      case "ns" => 1L; case "us" => 1000L; case "ms" => 1000000L; case "s" => 1000000000L
    }
    val (f, t) = (scale(from), scale(to))
    m(c => if (f >= t) c * (f / t) else (c / (t / f)).cast("long"))
  }
  /** Reinterpret duration ticks in another unit WITHOUT rescaling the tick
    * count (reference with_time_unit: metadata-only change — 5 µs-ticks
    * become 5 ms-ticks). The µs canonical carrier makes that a value change
    * here: ticks × (new unit / µs). */
  def withTimeUnit(to: String): Expr = m(c => to match {
    case "ns" => (c / 1000L).cast("long")
    case "us" => c
    case "ms" => c * 1000L
    case other => throw new IllegalArgumentException(s"with_time_unit: $other")
  })

  // Duration accessors over long-ticks (µs) duration representation
  def totalDays: Expr = m(c => (c / 86400000000L).cast("long"))
  def totalHours: Expr = m(c => (c / 3600000000L).cast("long"))
  def totalMinutes: Expr = m(c => (c / 60000000L).cast("long"))
  def totalSeconds: Expr = m(c => (c / 1000000L).cast("long"))
  def totalMilliseconds: Expr = m(c => (c / 1000L).cast("long"))
  def totalMicroseconds: Expr = m(c => c.cast("long"))
  def totalNanoseconds: Expr = m(c => (c * 1000L).cast("long"))
}

/** List namespace — reference: lib/polars/list_expr.rb (native expr/list.rs).
  * Maps to Spark ArrayType higher-order functions (codegen'd, no UDFs). */
final class ListNS(e: Expr) {
  private def m(f: Column => Column): Expr = e.mapElementwise(f)

  // polars list.all/any IGNORE null elements ([null] is all=true, any=false
  // — reference list_expr.rb:16/43 goldens), unlike Spark's Kleene
  // forall/exists which return null for [null]
  def all: Expr = m(c => F.forall(F.filter(c, _.isNotNull), x => x))
  def any: Expr = m(c => F.exists(F.filter(c, _.isNotNull), x => x))
  def len: Expr = m(F.size)
  def lengths: Expr = len
  def dropNulls: Expr = m(c => F.filter(c, _.isNotNull))
  /** Element-type-preserving sum (polars: sum of list[i64] is i64). The
    * zero literal is conjured IN the element's type by appending int 0 to
    * the array (coerced) and taking the last element — a lit(0.0) init
    * would silently promote every integer list to f64. */
  def sum: Expr = m(c => F.aggregate(F.filter(c, _.isNotNull),
    F.element_at(F.array_append(c, F.lit(0)), -1), (acc, x) => acc + x))
  def max: Expr = m(F.array_max)
  def min: Expr = m(F.array_min)
  def mean: Expr = m { c =>
    val nn = F.filter(c, _.isNotNull)
    F.when(F.size(nn) > 0, F.aggregate(nn, F.lit(0.0), (a, x) => a + x) / F.size(nn))
  }
  def sort(descending: Boolean = false): Expr =
    m(c => if (descending) F.reverse(F.array_sort(c)) else F.array_sort(c))
  def reverse: Expr = m(F.reverse)
  def unique: Expr = m(F.array_distinct)
  def nUnique: Expr = m(c => F.size(F.array_distinct(c)))
  def concat(o: Expr): Expr = Expr(F.concat(e.col, o.col),
    e.requiresIndex || o.requiresIndex, Expr.mergePreps(e.preps, o.preps))
  // try_element_at: out-of-bounds is null (polars null_on_oob semantics) —
  // plain element_at THROWS under Spark 4's ANSI default
  def get(i: Int): Expr = m(c => F.try_element_at(c, F.lit(if (i >= 0) i + 1 else i)))
  def first: Expr = get(0)
  def last: Expr = get(-1)
  /** polars list.gather: out-of-bounds RAISES by default (element_at under
    * Spark 4 ANSI matches), null_on_oob: true yields nulls instead
    * (list_expr.rb:416 golden). */
  def gather(indices: Seq[Int], nullOnOob: Boolean = false): Expr =
    m(c => F.array(indices.map { i =>
      val pos = F.lit(if (i >= 0) i + 1 else i)
      if (nullOnOob) F.try_element_at(c, pos) else F.element_at(c, pos)
    }: _*))
  def contains(v: Any): Expr = m(c => F.array_contains(c, v))
  def join(sep: String): Expr = m(c => F.array_join(c, sep))
  def argMin: Expr = m(c => F.array_position(c, F.array_min(c)).cast("long") - 1)
  def argMax: Expr = m(c => F.array_position(c, F.array_max(c)).cast("long") - 1)
  def diff(n: Int = 1): Expr = m { c =>
    F.transform(c, (x, i) => F.when(i >= n, x - F.element_at(c, i - n + 1)))
  }
  def shift(n: Int = 1): Expr = m { c =>
    F.transform(c, (_, i) => F.when(i >= n, F.element_at(c, i - n + 1)))
  }
  // polars slices with python-window semantics: the window is
  // [size+offset, size+offset+length) ∩ [0, size) — a negative offset that
  // underflows the front clamps the start AND shrinks the taken length by
  // the underflow ([1,2].slice(-5, 2) = [], [1,2,3,4].slice(-6, 3) = [1])
  def slice(offset: Int, length: Int): Expr = m { c =>
    if (offset >= 0) F.slice(c, offset + 1, length)
    else {
      val under = F.greatest(F.lit(-offset) - F.size(c), F.lit(0))
      val start0 = F.greatest(F.size(c) + offset, F.lit(0))
      F.slice(c, start0 + 1, F.greatest(F.lit(length) - under, F.lit(0)))
    }
  }
  def head(n: Int): Expr = slice(0, n)
  /** tail of a list shorter than n is the WHOLE list (polars) — a fixed
    * -n start would fall outside Spark's bounds and return empty; tail(0)
    * is the empty list (Spark rejects a 0 start, so spell it as length 0). */
  def tail(n: Int): Expr =
    if (n <= 0) m(c => F.slice(c, 1, 0))
    else m { c =>
      val start = F.greatest(F.lit(-n), -F.size(c))
      F.when(F.size(c) === 0, c).otherwise(F.slice(c, start, F.lit(n)))
    }
  def countMatches(v: Any): Expr = m(c => F.size(F.filter(c, x => x === F.lit(v))))
  def toStruct(fields: Int): Expr =
    // try_element_at: a list shorter than `fields` pads with null (polars
    // list.to_struct golden); element_at THROWS out-of-bounds in Spark 4
    m(c => F.struct((0 until fields).map(i => F.try_element_at(c, F.lit(i + 1)).as(s"field_$i")): _*))
  /** list.eval with Polars.element — Spark `transform` HOF (reference list_expr.rb:787). */
  def eval(f: Expr => Expr): Expr = m(c => F.transform(c, x => f(Expr(x)).col))
  /** Within-list rank (the reference spells it `list.eval(Polars.element
    * .rank)`, list_expr.rb:772 golden; graft's eval is elementwise, so the
    * order-dependent rank is its own HOF). O(n²) comparisons per list —
    * lists are CELLS, not partitions, so this stays inside whole-stage
    * codegen with no shuffle. Nulls rank null and are not counted
    * (comparisons against null are null, so the filters drop them). */
  def rank(method: String = "average"): Expr = m { c =>
    def less(x: Column) = F.size(F.filter(c, y => y < x))
    def eq(x: Column) = F.size(F.filter(c, y => y === x))
    val ranked: Column = method match {
      case "average" => F.transform(c, x => (less(x) + (eq(x) + 1) / F.lit(2.0)))
      case "min"     => F.transform(c, x => (less(x) + 1).cast("long"))
      case "max"     => F.transform(c, x => (less(x) + eq(x)).cast("long"))
      case "dense"   => F.transform(c, x =>
        (F.size(F.array_distinct(F.filter(c, y => y < x))) + 1).cast("long"))
      case "ordinal" => F.transform(c, (x, i) =>
        (less(x) + F.size(F.filter(c, (y, j) => y === x && j < i)) + 1).cast("long"))
      case other => throw new IllegalArgumentException(
        s"list.rank: method must be average|min|max|dense|ordinal, got '$other'")
    }
    // a null element's comparisons contributed nothing above; null its rank
    F.zip_with(c, ranked, (x, r) => F.when(x.isNotNull, r))
  }
  def evalFilter(f: Expr => Expr): Expr = m(c => F.filter(c, x => f(Expr(x)).col))
  /** Exact floor(fraction * len) elements without replacement (polars
    * list.sample semantics — a per-element Bernoulli filter would return a
    * binomially distributed count). F.shuffle has no seed parameter, so the
    * permutation is engine-random; the COUNT is exact. */
  def sample(fraction: Double, seed: Long = 42): Expr =
    m(c => F.slice(F.shuffle(c), F.lit(1),
      F.floor(F.size(c) * fraction).cast("int")))
  def explode: Expr = m(F.explode)
}

/** Binary namespace — reference: lib/polars/binary_expr.rb:18-67. */
final class BinNS(e: Expr) {
  private def m(f: Column => Column): Expr = e.mapElementwise(f)
  def contains(sub: Array[Byte]): Expr = m(c => F.contains(c, F.lit(sub)))
  def startsWith(p: Array[Byte]): Expr = m(c => F.startswith(c, F.lit(p)))
  def endsWith(s: Array[Byte]): Expr = m(c => F.endswith(c, F.lit(s)))
  def encode(enc: String): Expr = m(c => enc match {
    case "hex" => F.lower(F.hex(c)); case "base64" => F.base64(c)
  })
  def decode(enc: String): Expr = m(c => enc match {
    case "hex" => F.unhex(c); case "base64" => F.unbase64(c)
  })
  def size: Expr = m(F.octet_length)
}

/** Categorical shim — physically StringType (SURVEY §1.2); the string cache is
  * a no-op on Spark. reference: lib/polars/cat_expr.rb:32. */
final class CatNS(e: Expr) {
  /** Category listing in FIRST-APPEARANCE order (cat_expr.rb:16 golden:
    * [foo, bar, foo, foo, ham] → foo/bar/ham as ROWS — polars assigns ids
    * in encounter order). `collect_set` has arbitrary cross-partition
    * order, so the listing aggregates through [[graft.ext.FirstSeen]]
    * (value → min row index, state bounded by the category domain) and
    * explodes; the grouped form yields the per-group listing as a list. */
  def getCategories: Expr = {
    val G = org.apache.spark.sql.GraftInternalOps
    def agg(c: Column): Column = G.column(graft.ext.FirstSeen(
      G.expression(c),
      G.expression(F.col(graft.kernel.RowIndex.name))).toAggregateExpression())
    Expr(F.explode(agg(e.col)), requiresIndex = true, e.preps, None,
      Some(GroupAggForm(KeyedForm(_ => Expr(e.col, requiresIndex = true, e.preps)),
        agg, orderSensitive = true)))
  }
  /** Physical code = 0-based dense rank of the value — the distributed rank
    * kernel, not a global-sort window; nulls stay null. */
  def toPhysical: Expr = e.rank("dense") - 1
  /** Spark strings carry no global dictionary, so every "categorical" is
    * local by construction (reference cat_name_space.rb is_local/to_local —
    * they concern the global string cache, a no-op here per SURVEY §1.2). */
  def isLocal: Boolean = true
  def toLocal: Expr = e
}

/** Enum shim (reference: data_types.rb:303-348): StringType physically, with
  * membership validated at evaluation — invalid values error (strict) or
  * null out (non-strict). */
object EnumShim {
  def asEnum(e: Expr, categories: Seq[String], strict: Boolean = true): Expr = {
    val c = e.col
    val checked =
      if (strict)
        F.when(c.isNull || c.isin(categories: _*), c)
          .otherwise(F.raise_error(F.concat(F.lit("value not in enum categories: "), c)))
      else F.when(c.isin(categories: _*), c)
    Expr(checked, e.requiresIndex, e.preps)
  }
}

/** Struct namespace — reference: lib/polars/struct_expr.rb:15-94. */
final class StructNS(e: Expr) {
  private def m(f: Column => Column): Expr = e.mapElementwise(f)
  // polars names the output after the FIELD (struct_expr.rb:32 golden:
  // select(col("my_struct").struct.field("str")) → column "str")
  def field(name: String): Expr = m(_.getField(name)).alias(name)
  def apply(name: String): Expr = field(name)
  def jsonEncode: Expr = m(F.to_json)
  def withField(name: String, value: Expr): Expr =
    Expr(e.col.withField(name, value.col),
      e.requiresIndex || value.requiresIndex, Expr.mergePreps(e.preps, value.preps))
  def renameFields(names: Seq[String]): Expr = Expr(e.col, e.requiresIndex, e.preps) // resolved frame-side via cast
  /** Field names of the struct (reference struct_name_space.rb fields) —
    * schema metadata surfaced as an array expression; constant-folded when
    * the struct's type is known at plan time. */
  // ignoreNullFields=false: to_json otherwise OMITS null-valued fields,
  // making the field list vary per row's null pattern
  def fields: Expr = m(c =>
    F.json_object_keys(F.to_json(c, Map("ignoreNullFields" -> "false").asJava)))
}

/** Name namespace — reference: lib/polars/name_expr.rb:51-194. Spark Columns
  * don't expose their resolved name pre-analysis, so prefix/suffix are applied
  * frame-side where the schema is known; here we cover the explicit cases. */
final class NameNS(e: Expr) {
  /** polars name.keep RESTORES the root column name, discarding any alias
    * (expr.rb:389 golden: (col("a")*9).alias("c").keep_name overwrites
    * column "a") — a no-op would keep the alias. */
  def keep: Expr = e.meta.rootNames.headOption.fold(e)(e.alias)
  def map(f: String => String): Expr = e.mapAlias(f)
}

/** Expression introspection (reference meta_expr.rb:66-212) — implemented
  * over the Catalyst tree behind our Expr (SURVEY §7: we control the AST).
  * Name semantics mirror polars: `outputName` is the materialization name
  * (top alias, else the first/leftmost column leaf); `rootNames` are every
  * referenced column. */
final class MetaNS(e: Expr) {
  import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, Literal}
  import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedAlias, UnresolvedStar}
  private def expr: Expression = org.apache.spark.sql.GraftInternalOps.catalystExpression(e.col)

  private def leafNames(ex: Expression): Seq[String] = ex match {
    case a: UnresolvedAttribute => Seq(a.name)
    case a: Attribute => Seq(a.name)
    // polars names ternaries after the VALUE branch, not the predicate:
    // col("foo").filter(col("bar") == 13) outputs "foo" and roots
    // ["foo", "bar"] (meta_expr.rb:104,142 goldens) — graft spells filter
    // as when(pred, value), so branch values lead, predicates trail.
    // Internal scan/prep helper leaves (__graft_*) sort LAST within the
    // reorder: a kernel spelling (cum_sum, rank) references its helper in
    // the value slot, where value-first ordering would otherwise surface
    // the helper as the default name — but they must stay in the list
    // (an aggregate-of-scanned's global col is helper-only, and the frame
    // layer relies on that name surviving to defer naming to the keyed
    // form, see GroupBy.agg's output-name fallback)
    case cw: org.apache.spark.sql.catalyst.expressions.CaseWhen =>
      val vs = (cw.branches.map(_._2) ++ cw.elseValue.toSeq ++ cw.branches.map(_._1))
        .flatMap(leafNames).distinct
      val (helpers, real) = vs.partition(_.startsWith("__graft_"))
      real ++ helpers
    case other => other.children.flatMap(leafNames)
  }

  /** The name this expression materializes under (alias wins, else first
    * column leaf); None for pure literals. */
  def outputName: Option[String] = expr match {
    case a: Alias => Some(a.name)
    case ex => leafNames(ex).headOption
  }
  /** All column names referenced, in first-appearance order, deduplicated. */
  def rootNames: Seq[String] = leafNames(expr).distinct
  /** A basic (non-regex, unaliased) column (reference meta_expr.rb:74:
    * `col("^col.*\d+$")` is NOT a column — it is a regex projection). */
  def isColumn: Boolean = expr match {
    case a: UnresolvedAttribute => !isRegexName(a.name)
    case _: Attribute => true
    case _ => false
  }
  def isLiteral: Boolean = expr.isInstanceOf[Literal]
  private def isRegexName(n: String): Boolean =
    n.startsWith("^") && n.endsWith("$")
  def hasMultipleOutputs: Boolean = expr match {
    case _: UnresolvedStar => true
    case a: UnresolvedAttribute => a.name == "*"
    case _ => false
  }
  /** Regex projections keep their nature under aliases (reference
    * meta_expr.rb:92: `col("^.*$").alias("bar")` is still a regex
    * projection) — strip renames before probing. */
  def isRegexProjection: Boolean = {
    def strip(ex: Expression): Expression = ex match {
      case a: Alias => strip(a.child)
      case a: UnresolvedAlias => strip(a.child)
      case other => other
    }
    strip(expr) match {
      case a: UnresolvedAttribute => isRegexName(a.name)
      case _ => false
    }
  }
  /** Strip top-level aliases (reference meta_expr.rb:170 undo_aliases). */
  def undoAliases: Expr = {
    def strip(ex: Expression): Expression = ex match {
      case a: Alias => strip(a.child)
      case a: UnresolvedAlias => strip(a.child)
      case other => other
    }
    Expr(org.apache.spark.sql.GraftInternalOps.column(strip(expr)), e.requiresIndex, e.preps)
  }
  /** The root's direct sub-expressions (reference meta_expr.rb:134 pop). */
  def pop: Seq[Expr] =
    expr.children.map(c => Expr(org.apache.spark.sql.GraftInternalOps.column(c), e.requiresIndex))
  /** Structural equality of the underlying trees (reference meta_expr.rb:38
    * eq/ne; named treeEq here because AnyRef.eq is final in Scala).
    * Catalyst Alias nodes carry a fresh ExprId per construction, so two
    * separately-built `col("foo").alias("bar")` trees are != — normalize
    * every alias id to 0 before comparing (polars meta_eq is structural). */
  def treeEq(other: Expr): Boolean = {
    val zero = org.apache.spark.sql.catalyst.expressions.ExprId(0)
    def norm(ex: Expression): Expression = ex.transformUp {
      case a: Alias => Alias(a.child, a.name)(exprId = zero)
    }
    norm(expr) ==
      norm(org.apache.spark.sql.GraftInternalOps.catalystExpression(other.col))
  }
  def treeNe(other: Expr): Boolean = !treeEq(other)
  /** Render the expression tree (reference meta_expr.rb:212 tree_format). */
  def treeFormat: String = expr.treeString
}
