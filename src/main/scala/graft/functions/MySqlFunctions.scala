package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MySQL/MariaDB-compatible scalar functions that Spark lacks, built
  * compositionally from built-in Catalyst expressions so every one of
  * them stays inside whole-stage codegen (no UDFs, no interpreted
  * fallback anywhere on this path).
  *
  * The reference implements these in `utils/funcexp/` (196 registry
  * entries, 134 func_*.cpp files): PERIOD_ADD/PERIOD_DIFF
  * (`func_period_add.cpp`), TO_DAYS/FROM_DAYS (`func_to_days.cpp`,
  * `func_from_days.cpp`), SEC_TO_TIME/TIME_TO_SEC
  * (`func_sec_to_time.cpp`, `func_time_to_sec.cpp`), MAKEDATE
  * (`func_makedate.cpp`), TRUNCATE (`func_truncate.cpp`), DATE_FORMAT
  * pattern language (`utils/dataconvert/dataconvert.cpp`), QUOTE
  * (`func_quote.cpp`), INSERT (`func_insert.cpp`), and MySQL's
  * lenient string→number CAST (`func_cast.cpp`).
  */
object MySqlFunctions {

  // ---- period arithmetic (YYYYMM packed ints) ----

  /** Months since year 0 for a YYYYMM period. */
  private def periodToMonths(p: Column): Column =
    (p.cast(LongType) / 100).cast(LongType) * 12 + (p.cast(LongType) % 100) - 1

  private def monthsToPeriod(m: Column): Column =
    (m / 12).cast(LongType) * 100 + (m % 12) + 1

  /** MySQL PERIOD_ADD(p, n): add n months to period YYYYMM. */
  def periodAdd(p: Column, n: Column): Column =
    monthsToPeriod(periodToMonths(p) + n.cast(LongType))

  /** MySQL PERIOD_DIFF(p1, p2): months between two YYYYMM periods. */
  def periodDiff(p1: Column, p2: Column): Column =
    periodToMonths(p1) - periodToMonths(p2)

  // ---- day-number arithmetic ----

  /** TO_DAYS('1970-01-01') in MySQL's day-zero reckoning. */
  private val EpochDays = 719528L

  /** MySQL TO_DAYS(date): days since year 0. */
  def toDays(d: Column): Column =
    datediff(d, to_date(lit("1970-01-01"))).cast(LongType) + EpochDays

  /** MySQL FROM_DAYS(n): date from a day number since year 0. */
  def fromDays(n: Column): Column =
    date_add(to_date(lit("1970-01-01")), (n.cast(LongType) - EpochDays).cast(IntegerType))

  // ---- TIME-ish values (no native TIME type; HH:MM:SS strings) ----

  /** MySQL TIME range bound: 838:59:59 in seconds. SEC_TO_TIME and
    * TIME arithmetic SATURATE here (ref `dataconvert.h` TIME limits,
    * `func_sec_to_time.cpp`) rather than wrapping or erroring. */
  val MaxTimeSec = 3020399L

  /** MySQL SEC_TO_TIME(seconds) as an HH:MM:SS string, saturating at
    * ±838:59:59 like the reference. */
  def secToTime(s: Column): Column = {
    val sec = least(greatest(s.cast(LongType), lit(-MaxTimeSec)), lit(MaxTimeSec))
    val sign = when(sec < 0, lit("-")).otherwise(lit(""))
    val a = abs(sec)
    concat(sign, format_string("%02d:%02d:%02d",
      (a / 3600).cast(LongType), ((a % 3600) / 60).cast(LongType), a % 60))
  }

  /** MySQL TIME_TO_SEC('HH:MM:SS'). */
  def timeToSec(t: Column): Column = {
    val neg = t.startsWith("-")
    val u = when(neg, t.substr(lit(2), length(t))).otherwise(t)
    val parts = split(u, ":")
    val sec = parts.getItem(0).cast(LongType) * 3600 +
      parts.getItem(1).cast(LongType) * 60 + parts.getItem(2).cast(LongType)
    when(neg, -sec).otherwise(sec)
  }

  /** MySQL MAKEDATE(year, dayofyear); NULL for dayofyear < 1. */
  def makedate(year: Column, doy: Column): Column =
    when(doy >= 1,
      date_add(make_date(year, lit(1), lit(1)), (doy - 1).cast(IntegerType)))

  /** MySQL ADDTIME('HH:MM:SS','HH:MM:SS') — hours carry past 24, like
    * MySQL TIME arithmetic (ref func_add_time.cpp). */
  def addTime(t: Column, delta: Column): Column =
    secToTime(timeToSec(t) + timeToSec(delta))

  /** MySQL SUBTIME('HH:MM:SS','HH:MM:SS') — ADDTIME with the sign
    * flipped; negative results render with a leading '-' like MySQL
    * TIME values (ref func_add_time.cpp, sign path). */
  def subTime(t: Column, delta: Column): Column =
    secToTime(timeToSec(t) - timeToSec(delta))

  /** MySQL TIME_FORMAT(t, pattern) for the TIME-relevant specifiers
    * %H %k %i %s %S %T (ref func_time_format.cpp; date specifiers in
    * a TIME_FORMAT pattern render zeros in MySQL — unsupported here,
    * throw at plan time instead of diverging silently). */
  def timeFormat(t: Column, mysqlPattern: String): Column = {
    val sec = timeToSec(t)
    val hours = (sec / 3600).cast(LongType)
    val mins = ((sec % 3600) / 60).cast(LongType)
    val secs = sec % 60
    def two(c: Column): Column = lpad(c.cast(StringType), 2, "0")
    val segs = scala.collection.mutable.ArrayBuffer.empty[Column]
    val lit0 = new StringBuilder
    def flush(): Unit = if (lit0.nonEmpty) { segs += lit(lit0.toString); lit0.clear() }
    var i = 0
    while (i < mysqlPattern.length) {
      val c = mysqlPattern.charAt(i)
      if (c == '%' && i + 1 < mysqlPattern.length) {
        flush()
        mysqlPattern.charAt(i + 1) match {
          case 'H' => segs += two(hours)
          case 'k' => segs += hours.cast(StringType)
          case 'i' => segs += two(mins)
          case 's' | 'S' => segs += two(secs)
          case 'T' => segs += concat(two(hours), lit(":"), two(mins), lit(":"), two(secs))
          case '%' => lit0.append('%')
          case other => throw new IllegalArgumentException(
            s"unsupported TIME_FORMAT specifier %$other")
        }
        i += 2
      } else { lit0.append(c); i += 1 }
    }
    flush()
    concat(segs.toSeq: _*)
  }

  /** MySQL CONVERT_TZ(ts, from, to): reinterpret a naive timestamp in
    * `from`, return the naive wall-clock in `to`
    * (ref func_convert_tz.cpp). */
  def convertTz(ts: Column, from: String, to: String): Column =
    convert_timezone(lit(from), lit(to), ts.cast(TimestampNTZType))

  /** MySQL GET_FORMAT(type, standard) → the format-string literal
    * table (ref func_get_format.cpp). */
  def getFormatPattern(dtype: String, standard: String): String =
    (dtype.toUpperCase, standard.toUpperCase) match {
      case ("DATE", "USA") => "%m.%d.%Y"
      case ("DATE", "JIS") | ("DATE", "ISO") => "%Y-%m-%d"
      case ("DATE", "EUR") => "%d.%m.%Y"
      case ("DATE", "INTERNAL") => "%Y%m%d"
      case ("TIME", "USA") => "%h:%i:%s %p"
      case ("TIME", "JIS") | ("TIME", "ISO") => "%H:%i:%s"
      case ("TIME", "EUR") => "%H.%i.%s"
      case ("TIME", "INTERNAL") => "%H%i%s"
      case ("DATETIME", "USA") | ("DATETIME", "EUR") => "%Y-%m-%d %H.%i.%s"
      case ("DATETIME", "JIS") | ("DATETIME", "ISO") => "%Y-%m-%d %H:%i:%s"
      case ("DATETIME", "INTERNAL") => "%Y%m%d%H%i%s"
      case other => throw new IllegalArgumentException(s"GET_FORMAT$other")
    }
  def getFormat(dtype: String, standard: String): Column =
    lit(getFormatPattern(dtype, standard))

  // ---- numeric ----

  /** MySQL TRUNCATE(x, d): truncate toward zero at d decimal places
    * (Spark's round() rounds; its date trunc() is unrelated). */
  def truncateNum(x: Column, d: Int): Column = {
    val f = math.pow(10, d)
    (x * f).cast(LongType) / lit(f)
  }

  /** MySQL domain-lenient math: out-of-domain input yields NULL (and a
    * warning in MySQL), never an error — `SELECT LN(0)` returns NULL
    * (`utils/funcexp/func_math.cpp` mirrors server behavior). Spark
    * under ANSI (and DuckDB) raise instead, so the compat layer guards
    * the domain explicitly; the oracle spells the same CASE. */
  def lnMySql(x: Column): Column = when(x > 0, log(x))
  def log10MySql(x: Column): Column = when(x > 0, log10(x))
  def log2MySql(x: Column): Column = when(x > 0, log2(x))
  /** MySQL LOG(b, x): NULL when b ≤ 0, b = 1, or x ≤ 0. */
  def logBaseMySql(b: Column, x: Column): Column =
    when(b > 0 && b =!= 1 && x > 0, log(x) / log(b))
  def sqrtMySql(x: Column): Column = when(x >= 0, sqrt(x))
  def asinMySql(x: Column): Column = when(abs(x) <= 1, asin(x))
  def acosMySql(x: Column): Column = when(abs(x) <= 1, acos(x))

  // ---- MySQL string functions missing from Spark ----

  /** MySQL QUOTE(str): single-quoted, with ', \ escaped; NULL → the
    * 4-char string NULL. */
  def quote(s: Column): Column =
    when(s.isNull, lit("NULL")).otherwise(
      concat(lit("'"),
        regexp_replace(regexp_replace(s, "\\\\", "\\\\\\\\"), "'", "\\\\'"),
        lit("'")))

  /** MySQL INSERT(str, pos, len, newstr): replace len chars at pos
    * (1-based); out-of-range pos returns str unchanged. */
  def insertStr(s: Column, pos: Column, len: Column, newstr: Column): Column =
    when(pos < 1 || pos > length(s), s).otherwise(
      concat(s.substr(lit(1), pos - 1), newstr,
        when(len < 0, lit("")).otherwise(s.substr(pos + len, length(s)))))

  // ---- MySQL lenient casts ----

  /** MySQL CAST(str AS SIGNED): parse the leading integer prefix,
    * 0 when there is none (Spark's cast returns NULL). */
  def castSigned(s: Column): Column =
    coalesce(nullif(regexp_extract(s, "^\\s*[+-]?[0-9]+", 0), lit("")).cast(LongType), lit(0L))

  /** MySQL CAST(number AS SIGNED): rounds half away from zero
    * (Spark's cast truncates). */
  def castSignedRound(x: Column): Column =
    when(x >= 0, floor(x + 0.5)).otherwise(ceil(x - 0.5)).cast(LongType)

  // ---- DATE_FORMAT / STR_TO_DATE pattern translation ----

  /** MySQL date-format specifiers → Java DateTimeFormatter patterns.
    * Literal text is single-quote-escaped per Java rules. Week-mode
    * specifiers (%U %u %V %v %X %x) are handled upstream by
    * `dateFormat`'s segmenter (no DateTimeFormatter equivalent);
    * anything else unknown throws at plan time rather than silently
    * diverging. */
  def translateDatePattern(mysql: String): String = {
    val sb = new StringBuilder
    var literal = new StringBuilder
    def flush(): Unit = if (literal.nonEmpty) {
      val text = literal.toString
      if (text.exists(c => c.isLetter || c == '\'')) {
        sb.append('\'').append(text.replace("'", "''")).append('\'')
      } else sb.append(text)
      literal = new StringBuilder
    }
    var i = 0
    while (i < mysql.length) {
      val c = mysql.charAt(i)
      if (c == '%' && i + 1 < mysql.length) {
        val spec = mysql.charAt(i + 1)
        val mapped = spec match {
          case 'Y' => "yyyy"; case 'y' => "yy"
          case 'm' => "MM"; case 'c' => "M"
          case 'd' => "dd"; case 'e' => "d"
          case 'H' => "HH"; case 'k' => "H"
          case 'h' | 'I' => "hh"; case 'l' => "h"
          case 'i' => "mm"
          case 's' | 'S' => "ss"
          case 'f' => "SSSSSS"
          case 'p' => "a"
          case 'M' => "MMMM"; case 'b' => "MMM"
          case 'a' => "EEE"; case 'W' => "EEEE"
          case 'j' => "DDD"
          case 'T' => "HH:mm:ss"
          case 'r' => "hh:mm:ss a"
          case '%' => null // literal percent
          case other =>
            throw new IllegalArgumentException(
              s"unsupported MySQL date-format specifier %$other in '$mysql'")
        }
        if (mapped == null) literal.append('%')
        else { flush(); sb.append(mapped) }
        i += 2
      } else { literal.append(c); i += 1 }
    }
    flush()
    sb.toString
  }

  // ---- MySQL week modes (sql/time.cc calc_week; ref
  // utils/dataconvert/dataconvert.cpp week-specifier handling).
  // Mode 0: Sunday-first, range 0-53, week 1 starts at the year's
  //         first Sunday (earlier days are week 0).
  // Mode 1: Monday-first, range 0-53, week 1 is the first week with
  //         4+ days in the year.
  // Mode 2: mode 0 but range 1-53 — leading days take the PREVIOUS
  //         year's last week number (pairs with %X week-year).
  // Mode 3: ISO 8601 (Monday-first, 4+ days, 1-53; pairs with %x).

  /** Day-of-year offset (0-based) of the year's first Sunday. */
  private def firstSundayOffset(jan1: Column): Column =
    (lit(7) - (dayofweek(jan1) - 1)) % 7

  /** Mode-0 week number for a date with day-of-year `doy0` (0-based)
    * in the year starting at `jan1`. */
  private def sundayWeek(doy0: Column, jan1: Column): Column = {
    val off = firstSundayOffset(jan1)
    when(doy0 < off, lit(0)).otherwise(floor((doy0 - off) / 7).cast(IntegerType) + 1)
  }

  /** MySQL WEEK(d, mode) for modes 0-3. */
  def weekMySql(d: Column, mode: Int): Column = mode match {
    case 0 => sundayWeek(dayofyear(d) - 1, trunc(d, "year"))
    case 2 =>
      val w = weekMySql(d, 0)
      // leading days inherit the final week number of the previous year
      val prevDec31 = date_sub(trunc(d, "year"), 1)
      when(w === 0, sundayWeek(dayofyear(prevDec31) - 1, trunc(prevDec31, "year")))
        .otherwise(w)
    case 1 =>
      val jan1 = trunc(d, "year")
      val dowMon = (dayofweek(jan1) + 5) % 7 // Monday = 0
      val weekIndex = floor((dayofyear(d) - 1 + dowMon) / 7).cast(IntegerType)
      weekIndex + when(dowMon <= 3, 1).otherwise(0)
    case 3 => weekofyear(d)
    case other => throw new IllegalArgumentException(s"week mode $other not supported")
  }

  /** ISO week-year (%x): the year of the Thursday of d's ISO week. */
  def isoWeekYear(d: Column): Column = {
    val isoDow = (dayofweek(d) + 5) % 7 + 1 // Monday = 1
    year(date_add(d, (lit(4) - isoDow).cast(IntegerType)))
  }

  /** Mode-2 week-year (%X): calendar year, except leading days that
    * inherit the previous year's week number. */
  def sundayWeekYear(d: Column): Column =
    when(weekMySql(d, 0) === 0, year(d) - 1).otherwise(year(d))

  /** MySQL DATE_FORMAT(ts, '%Y-%m-%d ...') with MySQL specifiers.
    * Week-mode specifiers (%U %u %V %v %X %x) have no Java
    * DateTimeFormatter equivalent, so the pattern is segmented: plain
    * runs go through one date_format each, week specifiers evaluate as
    * native column arithmetic, and the pieces concat back in order —
    * the whole expression stays codegen'd. */
  def dateFormat(ts: Column, mysqlPattern: String): Column = {
    val weekSpecs = "UuVvXx".toSet
    // split into Left(plain-run) / Right(week-specifier) segments
    val segs = scala.collection.mutable.ArrayBuffer.empty[Either[String, Char]]
    val cur = new StringBuilder
    var i = 0
    while (i < mysqlPattern.length) {
      val c = mysqlPattern.charAt(i)
      if (c == '%' && i + 1 < mysqlPattern.length && weekSpecs(mysqlPattern.charAt(i + 1))) {
        if (cur.nonEmpty) { segs += Left(cur.toString); cur.clear() }
        segs += Right(mysqlPattern.charAt(i + 1))
        i += 2
      } else if (c == '%' && i + 1 < mysqlPattern.length) {
        cur.append(c).append(mysqlPattern.charAt(i + 1)); i += 2
      } else { cur.append(c); i += 1 }
    }
    if (cur.nonEmpty) segs += Left(cur.toString)
    if (segs.forall(_.isLeft)) date_format(ts, translateDatePattern(mysqlPattern))
    else concat(segs.toSeq.map {
      case Left(plain) => date_format(ts, translateDatePattern(plain))
      case Right('U') => lpad(weekMySql(ts, 0).cast(StringType), 2, "0")
      case Right('u') => lpad(weekMySql(ts, 1).cast(StringType), 2, "0")
      case Right('V') => lpad(weekMySql(ts, 2).cast(StringType), 2, "0")
      case Right('v') => lpad(weekMySql(ts, 3).cast(StringType), 2, "0")
      case Right('X') => lpad(sundayWeekYear(ts).cast(StringType), 4, "0")
      case Right('x') => lpad(isoWeekYear(ts).cast(StringType), 4, "0")
      case Right(other) => throw new IllegalArgumentException(s"unreachable: %$other")
    }: _*)
  }

  /** MySQL STR_TO_DATE(str, pattern) → timestamp. MySQL semantics:
    * an illegal value yields NULL (never an error) — so zero dates
    * ('0000-00-00') and out-of-calendar dates map to NULL here rather
    * than throwing the ANSI parse error, the engine's documented
    * stand-in for the reference's zero-date sentinel
    * (`dataconvert.cpp`; divergence table in docs/COMPAT.md). */
  def strToDate(s: Column, mysqlPattern: String): Column =
    try_to_timestamp(s, lit(translateDatePattern(mysqlPattern)))

  // ---- Oracle-mode variants (sql_mode=ORACLE; ref
  // func_concat_oracle.cpp, func_ltrim_oracle.cpp,
  // func_replace_oracle.cpp, func_decode_oracle.cpp — the behavioral
  // difference is NULL/empty-string handling) ----

  /** Oracle CONCAT: NULL operands behave as '' (MySQL CONCAT returns
    * NULL if ANY operand is NULL). */
  def concatOracle(cols: Column*): Column =
    concat(cols.map(c => coalesce(c, lit(""))): _*)

  /** Oracle REPLACE: empty/NULL search string returns the original
    * (MySQL replaces nothing but returns NULL on NULL args). */
  def replaceOracle(s: Column, search: Column, repl: Column): Column =
    when(search.isNull || length(search) === 0, s)
      .otherwise(regexp_replace(s,
        // literal replace: quote regex metachars
        regexp_replace(search, "([\\\\.\\[\\]{}()*+?^$|])", "\\\\$1"),
        coalesce(repl, lit(""))))

  /** Oracle TRIM family: trimming to nothing yields NULL (Oracle has
    * no empty string — '' IS NULL). */
  def trimOracle(s: Column): Column = nullif(trim(s), lit(""))
  def ltrimOracle(s: Column): Column = nullif(ltrim(s), lit(""))
  def rtrimOracle(s: Column): Column = nullif(rtrim(s), lit(""))

  /** Oracle DECODE(expr, k1, v1, k2, v2, ..., [default]): CASE with
    * NULL-safe key comparison (DECODE treats NULL = NULL as a match,
    * unlike CASE). Pairs are (key, value); odd trailing arg = default. */
  def decodeOracle(expr: Column, pairsAndDefault: Column*): Column = {
    val (pairs, default) =
      if (pairsAndDefault.length % 2 == 0) (pairsAndDefault, lit(null))
      else (pairsAndDefault.dropRight(1), pairsAndDefault.last)
    pairs.grouped(2).foldRight(default) { case (Seq(k, v), elseCol) =>
      when(expr <=> k, v).otherwise(elseCol)
    }
  }

  /** MySQL YEARWEEK(date) in the default mode-0 reckoning is messy;
    * this is the ISO variant (mode 3): year*100 + ISO week. */
  def yearweekIso(d: Column): Column = {
    // ISO year differs from calendar year at year boundaries; derive it
    // from the Thursday of the ISO week the date falls in. Spark's
    // dayofweek is Sunday=1; ISO is Monday=1.
    val isoDow = (dayofweek(d) + 5) % 7 + 1
    val thursday = date_add(d, (lit(4) - isoDow).cast(IntegerType))
    year(thursday) * 100 + weekofyear(d)
  }
}
