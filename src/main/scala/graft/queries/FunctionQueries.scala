package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.MySqlFunctions._

/** The scalar-function surface, oracle-tested family by family — the
  * analog of the reference's funcexp registry (196 entries,
  * `utils/funcexp/funcexp.cpp`, 134 func_*.cpp files, ~32k LoC).
  *
  * Each family is one [[Battery]] cell table over a key-ordered slice
  * of one table. Spark side: built-in SQL functions (the codegen'd
  * registry surface) plus the MySQL-compat builders from
  * `graft.functions.MySqlFunctions` for functions Spark lacks
  * (PERIOD_ADD/DIFF, TO_DAYS/FROM_DAYS, SEC_TO_TIME, TRUNCATE,
  * DATE_FORMAT pattern translation, lenient casts). DuckDB side: the
  * same semantics spelled in DuckDB's dialect, next to each cell.
  *
  * Cross-engine determinism rules learned the hard way:
  *  - transcendentals (exp/ln/trig) are libm-dependent → wrap in
  *    ROUND(x, 6); ties cannot occur at ulp distances.
  *  - ROUND(double, n) itself DIVERGES between engines (DuckDB rounds
  *    the printed representation, Spark rounds the BigDecimal) → only
  *    round decimals, or round as noise-trimming after a
  *    transcendental.
  *  - DuckDB CAST(double AS BIGINT) rounds, Spark truncates → spell
  *    trunc()/floor() explicitly.
  *  - integer widths: DuckDB SUM/length/instr widen differently →
  *    CAST both sides to the same type.
  */
object FunctionQueries {
  import Q._
  import Battery.{Cell, Scope, build}

  /** Rows of `table` whose `key` is below `n`, ordered by the key. */
  private def below(table: String, key: String, n: Int = 500): Scope =
    Scope(table, Seq(Cell(key, col(key), key)), Some((col(key) < n, s"$key < $n")),
      byKeys = true)

  /** MySQL TIME text of a signed seconds count: [-]HH:MM:SS. */
  private def oTime(x: String): String =
    s"CASE WHEN ($x) < 0 THEN '-' ELSE '' END || printf('%02d:%02d:%02d', " +
      s"abs($x) // 3600, (abs($x) % 3600) // 60, abs($x) % 60)"

  private lazy val gen: Map[String, (QFn, String)] = Map(
    // ---- string family (ref utils/funcexp/func_concat.cpp, func_substr.cpp, ...) ----
    "q_fn_string" -> build(below("part", "p_partkey"), Seq(
      Cell("c_concat", expr("concat(p_name, '|', p_brand)"), "p_name || '|' || p_brand"),
      Cell("c_cws", expr("concat_ws('-', p_brand, p_type)"), "concat_ws('-', p_brand, p_type)"),
      Cell("c_upper", expr("upper(p_name)"), "upper(p_name)"),
      Cell("c_lower", expr("lower(p_brand)"), "lower(p_brand)"),
      Cell("c_len", expr("cast(length(p_name) AS INT)"), "CAST(length(p_name) AS INT)"),
      Cell("c_substr", expr("substr(p_name, 2, 5)"), "substring(p_name, 2, 5)"),
      Cell("c_lpad", expr("lpad(p_brand, 12, '*')"), "lpad(p_brand, 12, '*')"),
      Cell("c_rpad", expr("rpad(p_brand, 12, '#')"), "rpad(p_brand, 12, '#')"),
      Cell("c_trim", expr("trim(concat('  ', p_type, ' '))"), "trim('  ' || p_type || ' ')"),
      Cell("c_ltrim", expr("ltrim(concat('  ', p_type))"), "ltrim('  ' || p_type)"),
      Cell("c_rtrim", expr("rtrim(concat(p_type, '  '))"), "rtrim(p_type || '  ')"),
      Cell("c_repl", expr("replace(p_name, ' ', '_')"), "replace(p_name, ' ', '_')"),
      Cell("c_rev", expr("reverse(p_type)"), "reverse(p_type)"),
      Cell("c_left", expr("left(p_name, 4)"), "left(p_name, 4)"),
      Cell("c_right", expr("right(p_name, 3)"), "right(p_name, 3)"),
      Cell("c_rept", expr("repeat(p_brand, 2)"), "repeat(p_brand, 2)"),
      Cell("c_instr", expr("cast(instr(p_name, 'a') AS BIGINT)"),
        "CAST(instr(p_name, 'a') AS BIGINT)"),
      Cell("c_ascii", expr("cast(ascii(p_type) AS INT)"), "CAST(ascii(p_type) AS INT)"),
      Cell("c_chr", expr("chr(65 + cast(p_partkey % 26 AS INT))"),
        "chr(65 + CAST(p_partkey % 26 AS INT))"),
      Cell("c_md5", expr("md5(p_name)"), "md5(p_name)"),
      Cell("c_sha", expr("sha2(p_name, 256)"), "sha256(p_name)"),
      Cell("c_hex", expr("hex(p_partkey)"), "hex(p_partkey)"))),

    // ---- TO_BASE64/FROM_BASE64 (MariaDB registry; MySQL chunks the
    // output with newlines every 76 chars — inputs here stay under 57
    // bytes so the RFC form both engines and MySQL agree on is what's
    // pinned) + binary padding edges via constructed byte strings ----
    "q_fn_base64" -> {
      val nm = substring(col("p_name"), 1, 40)
      // 1/2/3-byte tails exercise all '=' padding forms
      val tail = col("p_name").substr(lit(1), (col("p_partkey") % 3 + 1).cast("int"))
      build(below("part", "p_partkey"), Seq(
        Cell("b64", base64(nm.cast("binary")), "to_base64(encode(substring(p_name, 1, 40)))"),
        Cell("b64_pad", base64(tail.cast("binary")),
          "to_base64(encode(substring(p_name, 1, CAST(p_partkey % 3 + 1 AS INT))))"),
        Cell("rt", decode(unbase64(base64(nm.cast("binary"))), "UTF-8"),
          "CAST(from_base64(to_base64(encode(substring(p_name, 1, 40)))) AS VARCHAR)"),
        Cell("b64_bin", base64(unhex(lpad(hex(col("p_partkey") * 2654435761L), 16, "0"))),
          "to_base64(unhex(lpad(to_hex(p_partkey * 2654435761), 16, '0')))")))
    },

    // ---- string family 2: MySQL-specific (func_substring_index.cpp,
    // func_elt.cpp, func_find_in_set.cpp, func_quote.cpp, func_insert.cpp) ----
    "q_fn_string2" -> build(below("part", "p_partkey"), Seq(
      Cell("c_si1", expr("substring_index(p_name, ' ', 1)"), "split_part(p_name, ' ', 1)"),
      Cell("c_si2", expr("substring_index(p_name, ' ', -1)"), "split_part(p_name, ' ', -1)"),
      Cell("c_elt", expr("elt(1 + cast(p_partkey % 3 AS INT), 'alpha', 'beta', 'gamma')"),
        "(['alpha','beta','gamma'])[1 + CAST(p_partkey % 3 AS INT)]"),
      Cell("c_fis", expr("cast(find_in_set(p_type, 'SMALL,MEDIUM,LARGE,PROMO') AS INT)"),
        "CAST(COALESCE(list_position(string_split('SMALL,MEDIUM,LARGE,PROMO', ','), p_type), 0)" +
          " AS INT)"),
      Cell("c_space", expr("concat(space(3), p_type)"), "repeat(' ', 3) || p_type"),
      Cell("c_quote", graft.functions.MySqlFunctions.quote(col("p_name")),
        """'''' || replace(replace(p_name, '\', '\\'), '''', '\''') || ''''"""),
      Cell("c_ins", insertStr(col("p_name"), lit(2), lit(3), lit("XY")),
        """CASE WHEN 2 < 1 OR 2 > length(p_name) THEN p_name
          |       ELSE left(p_name, 1) || 'XY' || substring(p_name, 5) END""".stripMargin),
      Cell("c_castsig", castSigned(concat(lit("  12"), col("p_type"))),
        oCastSigned("'  12' || p_type")))),

    // Unicode NFC normalization (UnicodeNormalize expression) — the
    // canonical first pass of multilingual corpus cleaning. Input is
    // document text salted with DECOMPOSED sequences (e + U+0301
    // combining acute; A + U+030A combining ring) so the normalizer
    // has real work; oracle = DuckDB nfc_normalize (an independent
    // UAX #15 implementation) + unicode-aware lower.
    "q_fn_unicode" -> {
      val nfc = call_function("unicode_normalize", col("mixed"))
      build(Scope("documents", Seq(Cell("doc_id", col("doc_id"), "doc_id")), lets = Seq(
        Cell("mixed", concat(lit("Cafe\u0301 A\u030A "), substring(col("text"), 1, 40)),
          "'Cafe' || chr(769) || ' A' || chr(778) || ' ' || substr(text, 1, 40)")),
        byKeys = true), Seq(
        Cell("nfc_text", nfc, "nfc_normalize(mixed)"),
        Cell("len_raw", length(col("mixed")), "CAST(length(mixed) AS INT)"),
        Cell("len_nfc", length(nfc), "CAST(length(nfc_normalize(mixed)) AS INT)"),
        Cell("lower_acc", lower(lit("CAFE\u0301")), "lower('CAFE' || chr(769))")))
    },

    // URL dissection (parse_url family) — the provenance pass of a
    // web-corpus pipeline (host/registrable-domain/path/query-param
    // feed dedup keys, domain mixtures, and blocklists). Testdata
    // carries no URLs, so canonical ones are synthesized from columns;
    // the oracle recomputes each part from the SAME columns — ground
    // truth by construction, so the hash match pins parse_url's
    // component semantics.
    "q_fn_url" -> build(Scope("documents", Seq(Cell("doc_id", col("doc_id"), "doc_id")),
      lets = Seq(Cell("url", concat(lit("https://"), col("source"), lit(".example.com/docs/"),
          col("doc_id"), lit("?ref="), col("lang"), lit("&v=2#sec")),
        "'https://' || source || '.example.com/docs/' || doc_id || '?ref=' || lang || '&v=2#sec'")),
      byKeys = true), Seq(
      Cell("url", col("url"), "url"),
      Cell("host", expr("parse_url(url, 'HOST')"), "source || '.example.com'"),
      Cell("path", expr("parse_url(url, 'PATH')"), "'/docs/' || doc_id"),
      Cell("query", expr("parse_url(url, 'QUERY')"), "'ref=' || lang || '&v=2'"),
      Cell("ref", expr("parse_url(url, 'QUERY', 'ref')"), "lang"),
      Cell("frag", expr("parse_url(url, 'REF')"), "'sec'"),
      Cell("proto", expr("parse_url(url, 'PROTOCOL')"), "'https'"),
      Cell("domain", expr("substring_index(parse_url(url, 'HOST'), '.', -2)"),
        "'example.com'"))),

    // ---- math family (func_abs.cpp ... func_truncate.cpp) ----
    "q_fn_math" -> build(below("orders", "o_orderkey"), Seq(
      Cell("m_abs", expr("abs(o_totalprice - 150000.0)"), "abs(o_totalprice - 150000.0)"),
      Cell("m_ceil", expr("cast(ceil(o_totalprice) AS BIGINT)"),
        "CAST(ceil(o_totalprice) AS BIGINT)"),
      Cell("m_floor", expr("cast(floor(o_totalprice) AS BIGINT)"),
        "CAST(floor(o_totalprice) AS BIGINT)"),
      Cell("m_mod", expr("o_orderkey % 7"), "o_orderkey % 7"),
      Cell("m_pow", expr("cast(power(2, o_orderkey % 10) AS DOUBLE)"),
        "CAST(pow(2, o_orderkey % 10) AS DOUBLE)"),
      Cell("m_exp", expr("round(exp(o_totalprice / 100000.0), 6)"),
        "round(exp(o_totalprice / 100000.0), 6)"),
      Cell("m_ln", expr("round(ln(o_totalprice), 6)"), "round(ln(o_totalprice), 6)"),
      Cell("m_log10", expr("round(log10(o_totalprice), 6)"), "round(log10(o_totalprice), 6)"),
      Cell("m_log2", expr("round(log2(o_totalprice), 6)"), "round(log2(o_totalprice), 6)"),
      Cell("m_sqrt", expr("round(sqrt(o_totalprice), 6)"), "round(sqrt(o_totalprice), 6)"),
      Cell("m_sign", expr("cast(sign(o_totalprice - 150000.0) AS INT)"),
        "CAST(sign(o_totalprice - 150000.0) AS INT)"),
      Cell("m_sin", expr("round(sin(o_orderkey % 10), 6)"), "round(sin(o_orderkey % 10), 6)"),
      Cell("m_cos", expr("round(cos(o_orderkey % 10), 6)"), "round(cos(o_orderkey % 10), 6)"),
      Cell("m_atan2", expr("round(atan2(o_totalprice, 1000.0), 6)"),
        "round(atan2(o_totalprice, 1000.0), 6)"),
      Cell("m_tan", expr("round(tan(o_orderkey % 10), 6)"), "round(tan(o_orderkey % 10), 6)"),
      Cell("m_atan", expr("round(atan(o_orderkey % 10), 6)"), "round(atan(o_orderkey % 10), 6)"),
      Cell("m_cot", expr("round(cot(1 + o_orderkey % 7), 6)"), "round(cot(1 + o_orderkey % 7), 6)"),
      Cell("m_deg", expr("round(degrees(1.0), 6)"), "round(degrees(1.0), 6)"),
      Cell("m_rad", expr("round(radians(180.0), 6)"), "round(radians(180.0), 6)"),
      Cell("m_pi", expr("round(pi(), 6)"), "round(pi(), 6)"),
      Cell("m_trunc1", truncateNum(col("o_totalprice"), 1),
        "CAST(trunc(o_totalprice * 10) AS BIGINT) / 10.0"))),

    // ---- date/time family, Spark-builtin part (func_year.cpp ...) ----
    "q_fn_date" -> build(below("orders", "o_orderkey"), Seq(
      Cell("d_year", expr("cast(year(o_orderdate) AS INT)"), "CAST(year(o_orderdate) AS INT)"),
      Cell("d_quarter", expr("cast(quarter(o_orderdate) AS INT)"),
        "CAST(quarter(o_orderdate) AS INT)"),
      Cell("d_month", expr("cast(month(o_orderdate) AS INT)"), "CAST(month(o_orderdate) AS INT)"),
      Cell("d_day", expr("cast(day(o_orderdate) AS INT)"), "CAST(day(o_orderdate) AS INT)"),
      // Spark dayofweek is 1=Sunday, DuckDB's 0=Sunday (COMPAT #2)
      Cell("d_dow", expr("cast(dayofweek(o_orderdate) AS INT)"),
        "CAST(dayofweek(o_orderdate) + 1 AS INT)"),
      Cell("d_doy", expr("cast(dayofyear(o_orderdate) AS INT)"),
        "CAST(dayofyear(o_orderdate) AS INT)"),
      Cell("d_week", expr("cast(weekofyear(o_orderdate) AS INT)"),
        "CAST(weekofyear(o_orderdate) AS INT)"),
      Cell("d_lastday", expr("last_day(cast(o_orderdate AS DATE))"),
        "last_day(CAST(o_orderdate AS DATE))"),
      Cell("d_add3m", expr("o_orderdate + INTERVAL 3 MONTH"), "o_orderdate + INTERVAL 3 MONTH"),
      Cell("d_sub45d", expr("o_orderdate - INTERVAL 45 DAY"), "o_orderdate - INTERVAL 45 DAY"),
      Cell("d_diff", expr("cast(datediff(cast(o_orderdate AS DATE), DATE '1995-01-01') AS INT)"),
        "CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT)"),
      Cell("d_trunc", expr("cast(date_trunc('month', o_orderdate) AS DATE)"),
        "CAST(date_trunc('month', o_orderdate) AS DATE)"),
      Cell("d_epoch", expr("unix_timestamp(o_orderdate)"), "CAST(epoch(o_orderdate) AS BIGINT)"),
      // cast to NTZ: the oracle's TIMESTAMP is naive, and the session
      // runs UTC, so LTZ→NTZ is value-preserving here
      Cell("d_frommillis",
        expr("cast(timestamp_millis(unix_timestamp(o_orderdate) * 1000 + 500) AS TIMESTAMP_NTZ)"),
        "epoch_ms(CAST(epoch(o_orderdate) AS BIGINT) * 1000 + 500)"),
      Cell("d_date", expr("cast(o_orderdate AS DATE)"), "CAST(o_orderdate AS DATE)"))),

    // ---- date/time family, MySQL-compat customs (func_date_format.cpp,
    // func_period_add.cpp, func_to_days.cpp, func_sec_to_time.cpp,
    // func_makedate.cpp; pattern language utils/dataconvert/) ----
    "q_fn_date2" -> {
      val od = col("o_orderdate")
      val ok = col("o_orderkey")
      val pm = "(1996 * 12 + 11 - 1 + o_orderkey % 5)"
      val p2 = "(199611 + o_orderkey % 5)"
      build(below("orders", "o_orderkey"), Seq(
        Cell("d_fmt1", dateFormat(od, "%Y-%m-%d"), "strftime(o_orderdate, '%Y-%m-%d')"),
        Cell("d_fmt2", dateFormat(od, "%d/%m/%Y %H:%i:%s"),
          "strftime(o_orderdate, '%d/%m/%Y %H:%M:%S')"),
        Cell("d_fmt3", dateFormat(od, "%W %M %e, %Y"), "strftime(o_orderdate, '%A %B %-d, %Y')"),
        Cell("d_parse", strToDate(dateFormat(od, "%Y-%m-%d"), "%Y-%m-%d").cast("timestamp_ntz"),
          "CAST(strptime(strftime(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d') AS TIMESTAMP)"),
        Cell("d_padd", periodAdd(lit(199611), ok % 5),
          s"($pm // 12) * 100 + ($pm % 12) + 1"),
        Cell("d_pdiff", periodDiff(lit(199703), lit(199611) + ok % 5),
          s"(1997 * 12 + 3 - 1) - ($p2 // 100 * 12 + $p2 % 100 - 1)"),
        Cell("d_todays", toDays(od),
          "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 719528"),
        Cell("d_fromdays", fromDays(lit(730000L) + ok % 100),
          "DATE '1970-01-01' + CAST(730000 + o_orderkey % 100 - 719528 AS INT)"),
        Cell("d_sectime", secToTime(ok % 90000), oTime("o_orderkey % 90000")),
        Cell("d_roundtrip", timeToSec(secToTime(ok % 90000)), "o_orderkey % 90000"),
        Cell("d_makedate", makedate(lit(1996) + (ok % 3).cast("int"),
            lit(1) + (ok % 365).cast("int")),
          "make_date(CAST(1996 + o_orderkey % 3 AS INT), 1, 1) + CAST(o_orderkey % 365 AS INT)"),
        Cell("d_yearweek", yearweekIso(od).cast("bigint"),
          "isoyear(CAST(o_orderdate AS DATE)) * 100 + weekofyear(o_orderdate)")))
    },

    // ---- MySQL week modes 0-3 + week-year specifiers
    // (sql/time.cc calc_week; ref utils/dataconvert/dataconvert.cpp).
    // The oracle re-derives every mode from DuckDB's OWN calendar
    // primitives (dayofweek Sunday=0, isoyear), so this cross-checks
    // the formulas, not just their transcription. ----
    "q_fn_week" -> {
      val od = col("o_orderdate")
      val d = "CAST(o_orderdate AS DATE)"
      val jan1 = s"date_trunc('year', $d)"
      val doy0 = s"(dayofyear($d) - 1)"
      // first Sunday's and Monday-based offsets of this and last year
      val offs = s"((7 - dayofweek($jan1)) % 7)"
      val dowmon = s"((dayofweek($jan1) + 6) % 7)"
      val pdoy0 = s"(dayofyear($jan1 - 1) - 1)"
      val poffs = s"((7 - dayofweek(date_trunc('year', $jan1 - 1))) % 7)"
      val m0 = s"(CASE WHEN $doy0 < $offs THEN 0 ELSE ($doy0 - $offs) // 7 + 1 END)"
      val m1 = s"(($doy0 + $dowmon) // 7 + CASE WHEN $dowmon <= 3 THEN 1 ELSE 0 END)"
      val m2 = s"""(CASE WHEN $doy0 < $offs
                  |  THEN (CASE WHEN $pdoy0 < $poffs THEN 0 ELSE ($pdoy0 - $poffs) // 7 + 1 END)
                  |  ELSE ($doy0 - $offs) // 7 + 1 END)""".stripMargin
      val m3 = s"weekofyear($d)"
      val xyear = s"(CASE WHEN $doy0 < $offs THEN year($d) - 1 ELSE year($d) END)"
      val iso = s"isoyear($d)"
      def pad2(e: String) = s"lpad(CAST($e AS VARCHAR), 2, '0')"
      build(below("orders", "o_orderkey"), Seq(
        Cell("w_fmt", dateFormat(od, "%x-W%v-%U%u%V %X"),
          s"CAST($iso AS VARCHAR) || '-W' || ${pad2(m3)} || '-' || ${pad2(m0)} || " +
            s"${pad2(m1)} || ${pad2(m2)} || ' ' || CAST($xyear AS VARCHAR)"),
        Cell("w_mode0", weekMySql(od, 0).cast("int"), s"CAST($m0 AS INT)"),
        Cell("w_mode1", weekMySql(od, 1).cast("int"), s"CAST($m1 AS INT)"),
        Cell("w_mode2", weekMySql(od, 2).cast("int"), s"CAST($m2 AS INT)"),
        Cell("w_mode3", weekMySql(od, 3).cast("int"), s"CAST($m3 AS INT)"),
        Cell("w_xyear", sundayWeekYear(od).cast("int"), s"CAST($xyear AS INT)"),
        Cell("w_isoyear", isoWeekYear(od).cast("int"), s"CAST($iso AS INT)")))
    },

    // ---- sql_mode=ORACLE variants (func_concat_oracle.cpp,
    // func_replace_oracle.cpp, func_ltrim_oracle.cpp,
    // func_decode_oracle.cpp — NULL/empty-string divergences) ----
    "q_fn_oracle" -> {
      val seg = nullif(col("c_mktsegment"), lit("BUILDING"))
      val oSeg = "nullif(c_mktsegment, 'BUILDING')"
      val tenth = col("c_custkey") % 10 === 0
      build(below("customer", "c_custkey"), Seq(
        Cell("o_concat", concatOracle(seg, lit("-"), col("c_name")),
          s"concat($oSeg, '-', c_name)"),
        Cell("o_repl", replaceOracle(col("c_name"), lit("Customer"), lit("Cust")),
          "replace(c_name, 'Customer', 'Cust')"),
        Cell("o_repl_null", replaceOracle(col("c_name"), lit(null).cast("string"), lit("Z")),
          "c_name"),
        Cell("o_trim", trimOracle(when(tenth, lit("   "))
            .otherwise(concat(lit("  "), col("c_mktsegment"), lit(" ")))),
          "nullif(trim(CASE WHEN c_custkey % 10 = 0 THEN '   ' " +
            "ELSE '  ' || c_mktsegment || ' ' END), '')"),
        Cell("o_ltrim", ltrimOracle(concat(lit("  "), col("c_mktsegment"))),
          "nullif(ltrim('  ' || c_mktsegment), '')"),
        Cell("o_rtrim", rtrimOracle(when(tenth, lit("  "))
            .otherwise(concat(col("c_mktsegment"), lit("  ")))),
          "nullif(rtrim(CASE WHEN c_custkey % 10 = 0 THEN '  ' ELSE c_mktsegment || '  ' END), '')"),
        Cell("o_decode", decodeOracle(seg, lit(null).cast("string"), lit("was-building"),
            lit("MACHINERY"), lit("mach"), lit("other")),
          s"""CASE WHEN $oSeg IS NOT DISTINCT FROM NULL THEN 'was-building'
             |     WHEN $oSeg IS NOT DISTINCT FROM 'MACHINERY' THEN 'mach'
             |     ELSE 'other' END""".stripMargin)))
    },

    // ---- control flow / null handling (func_case.cpp, func_if.cpp,
    // func_ifnull.cpp, func_coalesce.cpp, func_greatest.cpp, ...) ----
    "q_fn_ctrl" -> {
      val coal = "coalesce(nullif(o_orderpriority, '5-LOW'), nullif(o_orderstatus, 'O'), " +
        "'both-null')"
      val cased = "CASE WHEN o_totalprice > 200000 THEN 'high' " +
        "WHEN o_totalprice > 100000 THEN 'mid' ELSE 'low' END"
      build(below("orders", "o_orderkey"), Seq(
        Cell("c_case", expr(cased), cased),
        Cell("c_if", expr("if(o_orderstatus = 'F', 'done', 'open')"),
          "if(o_orderstatus = 'F', 'done', 'open')"),
        Cell("c_ifnull", expr("ifnull(nullif(o_orderstatus, 'P'), 'PENDING')"),
          "ifnull(nullif(o_orderstatus, 'P'), 'PENDING')"),
        Cell("c_coalesce", expr(coal), coal),
        Cell("c_greatest", expr("greatest(o_totalprice, 150000.0)"),
          "greatest(o_totalprice, 150000.0)"),
        Cell("c_least", expr("least(o_totalprice, 150000.0)"), "least(o_totalprice, 150000.0)"),
        Cell("c_isnull", expr("cast(nullif(o_orderstatus, 'P') IS NULL AS INT)"),
          "CAST(nullif(o_orderstatus, 'P') IS NULL AS INT)"),
        Cell("c_nullif", expr("nullif(o_orderstatus, 'F')"), "nullif(o_orderstatus, 'F')")))
    },

    // ---- regexp family (func_regexp.cpp; PCRE in the reference,
    // Java regex here, RE2 in DuckDB — patterns kept in the common
    // subset) ----
    "q_fn_regexp" -> build(below("customer", "c_custkey"), Seq(
      Cell("r_match", expr("cast(c_name rlike '^Customer#[0-9]+$' AS INT)"),
        "CAST(regexp_matches(c_name, '^Customer#[0-9]+$') AS INT)"),
      Cell("r_extract", expr("regexp_extract(c_name, '([0-9]+)', 1)"),
        "regexp_extract(c_name, '([0-9]+)', 1)"),
      Cell("r_replace", expr("regexp_replace(c_name, '[0-9]', '#')"),
        "regexp_replace(c_name, '[0-9]', '#', 'g')"),
      Cell("r_count", expr("cast(regexp_count(c_name, '0') AS INT)"),
        "CAST(len(regexp_extract_all(c_name, '0')) AS INT)"),
      Cell("r_word", expr("regexp_extract(c_mktsegment, '^([A-Z]+)', 1)"),
        "regexp_extract(c_mktsegment, '^([A-Z]+)', 1)"))),

    // ---- registry tail: regexp_instr/regexp_substr, SUBTIME,
    // octet_length, IS [NOT] TRUE (func_regexp.cpp instr/substr
    // entries, func_add_time.cpp sign path, funcexp.cpp
    // istrue/isnottrue; MySQL ENCODE/DECODE obfuscation crypto is
    // deliberately NOT cloned — deprecated upstream, keystream is
    // implementation-defined) ----
    "q_fn_regexp2" -> build(below("customer", "c_custkey").copy(lets = Seq(
      Cell("sec", col("c_custkey") % 86400, "c_custkey % 86400"))), Seq(
      // re-derived from DuckDB primitives: strpos of the matched text —
      // equal to the match position on this corpus (digits in c_name
      // occur only at the match site)
      Cell("r2_instr", expr("cast(regexp_instr(c_name, '[0-9]+') AS INT)"),
        "CAST(strpos(c_name, regexp_extract(c_name, '[0-9]+')) AS INT)"),
      Cell("r2_substr", expr("regexp_substr(c_name, '[0-9]+')"),
        "regexp_extract(c_name, '[0-9]+')"),
      Cell("r2_octets", expr("cast(octet_length(concat(c_mktsegment, 'é')) AS INT)"),
        "CAST(strlen(c_mktsegment || 'é') AS INT)"),
      Cell("r2_istrue", expr("cast((c_custkey > 250) IS TRUE AS INT)"),
        "CAST(c_custkey > 250 AS INT)"),
      Cell("r2_isnottrue", expr("cast((c_custkey > 250) IS NOT TRUE AS INT)"),
        "CAST(NOT (c_custkey > 250) AS INT)"),
      Cell("r2_subtime", subTime(lit("10:30:00"), secToTime(col("sec"))), oTime("37800 - sec")),
      Cell("r2_subtime_neg", subTime(secToTime(col("c_custkey") % 60), lit("00:00:30")),
        oTime("(c_custkey % 60) - 30")))),

    // ---- bitwise family (func_bitwise.cpp) ----
    "q_fn_bitwise" -> build(below("orders", "o_orderkey"), Seq(
      Cell("b_and", expr("o_orderkey & 255"), "o_orderkey & 255"),
      Cell("b_or", expr("o_orderkey | 4096"), "o_orderkey | 4096"),
      Cell("b_xor", expr("o_orderkey ^ 255"), "xor(o_orderkey, 255)"),
      Cell("b_shl", expr("shiftleft(o_orderkey % 16, 3)"), "(o_orderkey % 16) << 3"),
      Cell("b_shr", expr("shiftright(o_orderkey, 2)"), "o_orderkey >> 2"),
      Cell("b_not", expr("~o_orderkey"), "~o_orderkey"),
      Cell("b_cnt", expr("cast(bit_count(o_orderkey) AS INT)"),
        "CAST(bit_count(o_orderkey) AS INT)"))),

    // ---- cast family, incl. MySQL lenient semantics (func_cast.cpp) ----
    "q_fn_cast" -> build(below("orders", "o_orderkey"), Seq(
      Cell("t_decstr", expr("cast(cast(o_totalprice AS DECIMAL(18,2)) AS STRING)"),
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)"),
      Cell("t_dbl", expr("cast(o_orderkey AS DOUBLE)"), "CAST(o_orderkey AS DOUBLE)"),
      Cell("t_strint", expr("cast('42' AS BIGINT)"), "CAST('42' AS BIGINT)"),
      Cell("t_strdbl", expr("cast('3.9' AS DOUBLE)"), "CAST('3.9' AS DOUBLE)"),
      Cell("t_date", expr("cast(o_orderdate AS DATE)"), "CAST(o_orderdate AS DATE)"),
      Cell("t_datestr", expr("cast(cast(o_orderdate AS DATE) AS STRING)"),
        "CAST(CAST(o_orderdate AS DATE) AS VARCHAR)"),
      Cell("t_boolint", expr("cast(o_totalprice > 100000 AS INT)"),
        "CAST(o_totalprice > 100000 AS INT)"),
      Cell("t_lenient", castSigned(concat(lit("9"), col("o_orderstatus"))),
        oCastSigned("'9' || o_orderstatus")),
      Cell("t_mysqlround", castSignedRound(col("o_totalprice") / 1000),
        """CAST(CASE WHEN o_totalprice / 1000 >= 0 THEN floor(o_totalprice / 1000 + 0.5)
          |            ELSE ceil(o_totalprice / 1000 - 0.5) END AS BIGINT)""".stripMargin))),

    // TIME-range saturation: SEC_TO_TIME and TIME arithmetic clamp at
    // ±838:59:59 (MySQL TIME bound; ref dataconvert.h limits) — the
    // seconds ramp spans ±3.5M so both clamp branches and the
    // in-range path are exercised, and the roundtrip pins that
    // TIME_TO_SEC sees the SATURATED value.
    "q_fn_timesat" -> {
      val sec = col("sec")
      val cs = "(CASE WHEN sec > 3020399 THEN 3020399 " +
        "WHEN sec < -3020399 THEN -3020399 ELSE sec END)"
      val asum = s"(CASE WHEN $cs + 261015 > 3020399 THEN 3020399 ELSE $cs + 261015 END)"
      build(below("orders", "o_orderkey", 2000).copy(lets = Seq(
        Cell("sec", (col("o_orderkey") * 13 % 7000000) - lit(3500000L),
          "(o_orderkey * 13 % 7000000) - 3500000"))), Seq(
        Cell("t_sat", secToTime(sec), oTime(cs)),
        Cell("t_roundtrip", timeToSec(secToTime(sec)), cs),
        Cell("t_addsat", addTime(secToTime(sec), lit("72:30:15")), oTime(asum)),
        Cell("t_max", secToTime(lit(3020399L)), "'838:59:59'"),
        Cell("t_minclamp", secToTime(lit(-3020400L)), "'-838:59:59'")))
    })

  val queries: Map[String, QFn] = gen.map { case (n, (q, _)) => n -> q }
  val oracle: Map[String, String] = gen.map { case (n, (_, o)) => n -> o }
}
