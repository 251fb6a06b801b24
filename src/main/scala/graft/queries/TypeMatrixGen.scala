package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.MySqlFunctions

/** Function × datatype crossings — the autopilot principle of the
  * reference's per-function/datatype suites
  * (`mysql-test/columnstore/autopilot/t/mcs4012_function_*`, which
  * cross every funcexp entry with every column type of
  * `regression_create_datatypetestm.inc`). Every projection battery
  * here is ONE [[Battery]] cell table holding, per cell, the Spark
  * expression and its DuckDB twin; the builder emits both the
  * projection and the oracle SQL, so adding a (function, type) pair is
  * one table row, not two hand-kept texts. The generated batteries
  * (`fnnum`/`fnstr`/`fndt`/`fncond`) build their tables with loops
  * over a menu × a type ladder; the edge batteries list their cells by
  * hand. Aggregate, WHERE, join, HAVING and window-partition contexts
  * (`fngrp`, `fnwhere`, `fnjoin`, `fnhaving`, `fnwinpart`, `agg_v2`)
  * are not projections and keep their own two texts.
  *
  * Scope discipline (learned over r8–r10, spelled in docs/COMPAT.md):
  *  - only functions with PROVEN cross-engine parity enter the menu
  *    (no transcendentals except correctly-rounded sqrt; no
  *    double→string rendering; no locale-dependent names);
  *  - where the engines' defaults differ, each cell spells the
  *    semantics explicitly on both sides; the note sits next to the
  *    cell and the row of the docs/COMPAT.md divergence table names it;
  *  - gate-boundary types follow divergence #34: decimal arithmetic
  *    stays exact inside a battery, but final decimal cells and
  *    extreme-range temporal cells are rendered as strings (a form
  *    bit-identical between the engines for every scale/range used
  *    here, enforced suite-wide by scripts/check_types.py);
  *  - every output carries a total order: `Q.sortAll`, or a unique key.
  *
  * `_v2` names date from a round-9 rename experiment (a refuted
  * gate-side oracle-cache theory); they stay because committed
  * bench artifacts key by query name.
  */
object TypeMatrixGen {
  import Q._
  import Battery.{Cell, Scope, build}

  // left/right have no Scala-functions wrapper; resolved by name
  private def expr_left(s: Column): Column = call_function("left", s, lit(3))
  private def expr_right(s: Column): Column = call_function("right", s, lit(3))

  private def keys: Seq[Cell] = Seq(
    Cell("k1", col("l_orderkey"), "l_orderkey"),
    Cell("k2", col("l_linenumber").cast("int"), "CAST(l_linenumber AS INT)"))

  /** Numeric menu × the signed integer width ladder (TINYINT→BIGINT
    * value ranges), plus exact-decimal and exact-double families.
    * Sign is minted from orderkey parity so negative branches of
    * abs/sign/mod/ceil/floor/bit ops run on half the rows. */
  private def numCells: Seq[Cell] = {
    val sgn = when(col("l_orderkey") % 2 === 0, lit(-1L)).otherwise(lit(1L))
    val oSgn = "(CASE WHEN l_orderkey % 2 = 0 THEN -1 ELSE 1 END)"
    // integer ladder: every value explicitly BIGINT on both sides
    val intTys: Seq[(String, Column, String)] = Seq(
      ("ti", col("l_linenumber").cast("long") * sgn,
        s"CAST(l_linenumber AS BIGINT) * $oSgn"),
      ("si", col("l_quantity").cast("long") * sgn,
        s"CAST(l_quantity AS BIGINT) * $oSgn"),
      ("i", (col("l_partkey") % 100000 - 50000).cast("long"),
        "CAST(l_partkey % 100000 - 50000 AS BIGINT)"),
      ("bi", col("l_orderkey") * sgn,
        s"l_orderkey * $oSgn"))
    // menu: (suffix, spark fn, duck template) — parity notes:
    // mod takes the dividend's sign on both engines (COMPAT #14);
    // sqrt is IEEE correctly-rounded (bit-exact across libm);
    // DuckDB ~ / xor() mirror Spark bitwiseNOT / ^ on BIGINT.
    val intFns: Seq[(String, Column => Column, String => String)] = Seq(
      ("neg", v => (-v).cast("long"), e => s"CAST(-($e) AS BIGINT)"),
      ("abs", v => abs(v).cast("long"), e => s"CAST(abs($e) AS BIGINT)"),
      ("sign", v => signum(v).cast("int"), e => s"CAST(sign($e) AS INT)"),
      ("mod7", v => (v % 7).cast("long"), e => s"CAST(($e) % 7 AS BIGINT)"),
      ("p3t2", v => (v * 2 + 3).cast("long"), e => s"CAST(($e) * 2 + 3 AS BIGINT)"),
      ("gmid", v => greatest(v, lit(5L)).cast("long"),
        e => s"CAST(greatest($e, 5) AS BIGINT)"),
      ("lmid", v => least(v, lit(5L)).cast("long"),
        e => s"CAST(least($e, 5) AS BIGINT)"),
      ("sqra", v => sqrt(abs(v.cast("double"))),
        e => s"sqrt(abs(CAST($e AS DOUBLE)))"),
      ("bnot", v => bitwise_not(v.cast("long")).cast("long"),
        e => s"CAST(~($e) AS BIGINT)"),
      ("xor5", v => v.cast("long").bitwiseXOR(lit(5L)),
        e => s"CAST(xor($e, 5) AS BIGINT)"))
    val intCross = for {
      (tn, sv, dv) <- intTys
      (fn, sf, df) <- intFns
    } yield Cell(s"n_${fn}_$tn", sf(sv), df(dv))

    // exact-decimal family — results rendered STRING (divergence #34)
    val de = (dec(col("l_extendedprice")) * sgn).cast(DecimalType(19, 2))
    val oDe = s"CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * $oSgn AS DECIMAL(19,2))"
    val decCross = Seq(
      Cell("d_neg_de", (-de).cast(DecimalType(19, 2)).cast(StringType),
        s"CAST(CAST(-($oDe) AS DECIMAL(19,2)) AS VARCHAR)"),
      Cell("d_abs_de", abs(de).cast(DecimalType(19, 2)).cast(StringType),
        s"CAST(CAST(abs($oDe) AS DECIMAL(19,2)) AS VARCHAR)"),
      Cell("d_madd_de", (de * 2 + 1).cast(DecimalType(24, 2)).cast(StringType),
        s"CAST(CAST(($oDe) * 2 + 1 AS DECIMAL(24,2)) AS VARCHAR)"),
      Cell("d_ceil_de", ceil(de).cast("long"), s"CAST(ceil($oDe) AS BIGINT)"),
      Cell("d_floor_de", floor(de).cast("long"), s"CAST(floor($oDe) AS BIGINT)"),
      Cell("d_trunc_de", de.cast("long"), s"CAST(trunc($oDe) AS BIGINT)"),
      Cell("d_gz_de", greatest(de, lit(0).cast(DecimalType(19, 2)))
          .cast(DecimalType(19, 2)).cast(StringType),
        s"CAST(CAST(greatest($oDe, CAST(0 AS DECIMAL(19,2))) AS DECIMAL(19,2)) AS VARCHAR)"))

    // exact-double family — only operations whose IEEE result is the
    // same bit pattern on both engines (negate/abs/compare/scale by
    // powers of two/exact fmod/correctly-rounded sqrt); no rendering
    val db = col("l_discount") - lit(0.05)
    val oDb = "(l_discount - 0.05)"
    val dblCross = Seq(
      Cell("f_neg_db", -db, s"-($oDb)"),
      Cell("f_abs_db", abs(db), s"abs($oDb)"),
      Cell("f_sign_db", signum(db).cast("int"), s"CAST(sign($oDb) AS INT)"),
      Cell("f_ceil_db", ceil(db).cast("long"), s"CAST(ceil($oDb) AS BIGINT)"),
      Cell("f_floor_db", floor(db).cast("long"), s"CAST(floor($oDb) AS BIGINT)"),
      Cell("f_x4_db", db * 4, s"($oDb) * 4"),
      // DuckDB's fmod() FLOORS on negative dividends; its `%`/mod()
      // keep the dividend sign like Spark's `%` (probed live) — the
      // operator, not fmod, is the parity form
      Cell("f_fmod_db", db % lit(0.25), s"($oDb) % 0.25"),
      Cell("f_sqra_db", sqrt(abs(db)), s"sqrt(abs($oDb))"))

    intCross ++ decCross ++ dblCross
  }

  /** String menu × string renderings of every type family (the
    * autopilot's implicit-coercion axis: string functions receive
    * CHAR, VARCHAR, numeric and temporal inputs alike). Each type
    * first renders through its proven CAST-to-string form, then the
    * whole menu applies — so the cross checks both the coercion and
    * the function. Double inputs are excluded by design (shortest-
    * repr vs DuckDB formatting, COMPAT/castmx note). */
  private def strCells: Seq[Cell] = {
    val tys: Seq[(String, Column, String)] = Seq(
      ("vc", concat(col("l_returnflag"), col("l_linestatus"),
        col("l_orderkey").cast("string")),
        "l_returnflag || l_linestatus || CAST(l_orderkey AS VARCHAR)"),
      ("ch", col("l_returnflag"), "l_returnflag"),
      ("is", (col("l_partkey") % 100000 - 50000).cast("long").cast("string"),
        "CAST(CAST(l_partkey % 100000 - 50000 AS BIGINT) AS VARCHAR)"),
      ("des", dec(col("l_extendedprice")).cast("string"),
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR)"),
      ("dts", col("l_shipdate").cast(DateType).cast("string"),
        "CAST(CAST(l_shipdate AS DATE) AS VARCHAR)"))
    val fns: Seq[(String, Column => Column, String => String)] = Seq(
      ("len", s => length(s).cast("int"), e => s"CAST(length($e) AS INT)"),
      ("rev", s => reverse(s), e => s"reverse($e)"),
      ("up", s => upper(s), e => s"upper($e)"),
      ("low", s => lower(s), e => s"lower($e)"),
      ("sub", s => substring(s, 1, 4), e => s"substr($e, 1, 4)"),
      ("lpad", s => lpad(s, 10, "0"), e => s"lpad($e, 10, '0')"),
      ("rpad", s => rpad(s, 6, "."), e => s"rpad($e, 6, '.')"),
      ("pos5", s => instr(s, "5").cast("int"), e => s"CAST(strpos($e, '5') AS INT)"),
      ("repl", s => regexp_replace(s, "5", "#"), e => s"replace($e, '5', '#')"),
      ("cws", s => concat_ws("-", s, lit("z")), e => s"concat_ws('-', $e, 'z')"),
      ("md5", s => md5(s), e => s"md5($e)"),
      ("asc", s => ascii(s).cast("int"), e => s"CAST(ascii($e) AS INT)"),
      // trim family runs over a space-padded composition so there is
      // actually whitespace to strip (raw inputs have none)
      ("trmw", s => trim(concat(lit("  "), s, lit(" "))),
        e => s"trim('  ' || $e || ' ')"),
      ("ltrm", s => ltrim(concat(lit("  "), s, lit(" "))),
        e => s"ltrim('  ' || $e || ' ')"),
      ("rtrm", s => rtrim(concat(lit("  "), s, lit(" "))),
        e => s"rtrim('  ' || $e || ' ')"),
      ("rep2", s => repeat(s, 2), e => s"repeat($e, 2)"),
      ("lft3", s => expr_left(s), e => s"left($e, 3)"),
      ("rgt3", s => expr_right(s), e => s"right($e, 3)"),
      ("tr5", s => translate(s, "5E", "#x"), e => s"translate($e, '5E', '#x')"),
      ("spl5", s => split_part(s, lit("5"), lit(1)),
        e => s"split_part($e, '5', 1)"))
    for {
      (tn, sv, dv) <- tys
      (fn, sf, df) <- fns
    } yield Cell(s"s_${fn}_$tn", sf(sv), df(dv))
  }

  /** Temporal menu × temporal representations (DATE column, TIMESTAMP
    * column, ISO-string re-parse, epoch-seconds roundtrip): the
    * extraction/trunc/arith menu applies to each representation, so a
    * divergent coercion path cannot hide behind a green sibling.
    * All values stay in the fixture's sane 1992–1998 range. */
  private def dtCells: Seq[Cell] = {
    val tys: Seq[(String, Column, String)] = Seq(
      ("dt", col("l_shipdate").cast(DateType), "CAST(l_shipdate AS DATE)"),
      ("str", to_date(col("l_shipdate").cast(DateType).cast("string")),
        "CAST(CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS DATE)"),
      ("ep", to_date(timestamp_seconds(
        unix_timestamp(col("l_shipdate").cast(DateType).cast(TimestampType)))),
        "CAST(make_timestamp(CAST(epoch(CAST(CAST(l_shipdate AS DATE) AS TIMESTAMP)) AS BIGINT) * 1000000) AS DATE)"))
    val fns: Seq[(String, Column => Column, String => String)] = Seq(
      ("yr", d => year(d), e => s"CAST(year($e) AS INT)"),
      ("qtr", d => quarter(d), e => s"CAST(quarter($e) AS INT)"),
      ("mon", d => month(d), e => s"CAST(month($e) AS INT)"),
      ("dom", d => dayofmonth(d), e => s"CAST(day($e) AS INT)"),
      ("doy", d => dayofyear(d), e => s"CAST(dayofyear($e) AS INT)"),
      ("idow", d => weekday(d) + 1, e => s"CAST(isodow($e) AS INT)"),
      ("wk", d => weekofyear(d), e => s"CAST(weekofyear($e) AS INT)"),
      ("eom", d => last_day(d), e => s"last_day($e)"),
      ("a45", d => date_add(d, 45), e => s"$e + 45"),
      ("s45", d => date_sub(d, 45), e => s"$e - 45"),
      ("tmon", d => trunc(d, "month"), e => s"CAST(date_trunc('month', $e) AS DATE)"),
      ("tyr", d => trunc(d, "year"), e => s"CAST(date_trunc('year', $e) AS DATE)"),
      ("dd90", d => datediff(d, lit("1990-01-01").cast(DateType)).cast("int"),
        e => s"CAST(date_diff('day', DATE '1990-01-01', $e) AS INT)"))
    val reprCross = for {
      (tn, sv, dv) <- tys
      (fn, sf, df) <- fns
    } yield Cell(s"t_${fn}_$tn", sf(sv), df(dv))
    // timestamp-only extractions on the truncated-second event time
    val ts = date_trunc("second", col("l_shipdate")).cast(TimestampType)
    val oTs = "date_trunc('second', l_shipdate)"
    val tsOnly = Seq(
      Cell("t_hr_ts", hour(ts), s"CAST(hour($oTs) AS INT)"),
      Cell("t_min_ts", minute(ts), s"CAST(minute($oTs) AS INT)"),
      Cell("t_sec_ts", second(ts), s"CAST(second($oTs) AS INT)"),
      Cell("t_tday_ts", date_trunc("day", ts).cast(DateType),
        s"CAST(date_trunc('day', $oTs) AS DATE)"),
      Cell("t_ep_ts", unix_timestamp(ts), s"CAST(epoch($oTs) AS BIGINT)"))
    reprCross ++ tsOnly
  }

  /** Conditional / control-flow menu × every type family, with
    * deterministic NULL injection (the autopilot's CNX_if/ifnull/
    * nullif/coalesce/greatest/least suites crossed with the
    * datatypetestm column ladder). Each family supplies a pair of
    * same-typed operands — `v` NULL where l_linenumber=1, `w` NULL
    * where l_linenumber=2 — plus a constant fallback, so every menu
    * entry exercises null-hit, null-miss and both-null rows.
    * GREATEST/LEAST run WITH the NULL-injected operands: Spark and
    * DuckDB both skip NULLs (COMPAT divergence #30 — it is MySQL that
    * returns NULL), so the skip semantics themselves are gated here.
    * DuckDB promotes GREATEST/LEAST over DECIMAL to DOUBLE (#29) —
    * the oracle casts back to the declared scale before rendering. */
  private def condCells: Seq[Cell] = {
    val ln = col("l_linenumber")
    def inj(n: Int, v: Column): Column = when(ln === n, lit(null)).otherwise(v)
    def oInj(n: Int, e: String): String =
      s"(CASE WHEN l_linenumber = $n THEN NULL ELSE $e END)"
    // (suffix, v, oV, w, oW, fallback, oFallback, renderString)
    val tys: Seq[(String, Column, String, Column, String, Column, String, Boolean)] = Seq(
      ("bi",
        inj(1, col("l_orderkey")), oInj(1, "l_orderkey"),
        inj(2, (col("l_partkey") % 1000).cast("long")),
        oInj(2, "CAST(l_partkey % 1000 AS BIGINT)"),
        lit(-1L), "CAST(-1 AS BIGINT)", false),
      ("vc",
        inj(1, concat(col("l_returnflag"), col("l_orderkey").cast("string"))),
        oInj(1, "l_returnflag || CAST(l_orderkey AS VARCHAR)"),
        inj(2, col("l_linestatus")), oInj(2, "l_linestatus"),
        lit("zz"), "'zz'", false),
      ("dt",
        inj(1, col("l_shipdate").cast(DateType)),
        oInj(1, "CAST(l_shipdate AS DATE)"),
        inj(2, date_add(col("l_shipdate").cast(DateType), 30)),
        oInj(2, "CAST(l_shipdate AS DATE) + 30"),
        lit("1995-06-15").cast(DateType), "DATE '1995-06-15'", false),
      ("des", // exact DECIMAL(18,2) inside; STRING at the boundary (#34)
        inj(1, dec(col("l_extendedprice"))),
        oInj(1, "CAST(l_extendedprice AS DECIMAL(18,2))"),
        inj(2, (dec(col("l_extendedprice")) + 1).cast(DecimalType(18, 2))),
        oInj(2, "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) + 1 AS DECIMAL(18,2))"),
        lit("0.00").cast(DecimalType(18, 2)), "CAST('0.00' AS DECIMAL(18,2))", true),
      ("db", // IEEE ops only — same parquet bits in, same op, same bits out
        inj(1, col("l_discount") - lit(0.05)), oInj(1, "(l_discount - 0.05)"),
        inj(2, col("l_discount") * 2), oInj(2, "(l_discount * 2)"),
        lit(0.5), "0.5", false))
    val fns: Seq[(String, (Column, Column, Column) => Column,
        (String, String, String) => String)] = Seq(
      ("ifgt", (v, w, _) => when(v > w, v).otherwise(w),
        (v, w, _) => s"CASE WHEN $v > $w THEN $v ELSE $w END"),
      ("nvl", (v, _, fb) => coalesce(v, fb),
        (v, _, fb) => s"coalesce($v, $fb)"),
      ("nvl2", (v, w, fb) => when(v.isNotNull, w).otherwise(fb),
        (v, w, fb) => s"CASE WHEN $v IS NOT NULL THEN $w ELSE $fb END"),
      ("nulif", (v, w, _) => nullif(v, w), (v, w, _) => s"nullif($v, $w)"),
      ("coal3", (v, w, fb) => coalesce(v, w, fb),
        (v, w, fb) => s"coalesce($v, $w, $fb)"),
      ("grt", (v, w, _) => greatest(v, w), (v, w, _) => s"greatest($v, $w)"),
      ("lst", (v, w, _) => least(v, w), (v, w, _) => s"least($v, $w)"),
      ("case3", (v, w, fb) => when(v.isNull, fb).when(v > w, v).otherwise(w),
        (v, w, fb) =>
          s"CASE WHEN $v IS NULL THEN $fb WHEN $v > $w THEN $v ELSE $w END"))
    val cross = for {
      (tn, v, oV, w, oW, fb, oFb, asStr) <- tys
      (fn, sf, df) <- fns
    } yield {
      val sCol = sf(v, w, fb)
      val dSql = df(oV, oW, oFb)
      if (asStr) Cell(s"c_${fn}_$tn", sCol.cast(DecimalType(18, 2)).cast(StringType),
        s"CAST(CAST($dSql AS DECIMAL(18,2)) AS VARCHAR)")
      else Cell(s"c_${fn}_$tn", sCol, dSql)
    }
    // IS NULL itself, once per family (result type is INT regardless)
    val isn = tys.map { case (tn, v, oV, _, _, _, _, _) =>
      Cell(s"c_isn_$tn", v.isNull.cast("int"), s"CAST(($oV) IS NULL AS INT)")
    }
    cross ++ isn
  }

  /** Function results as GROUP BY keys — the context axis the
    * projection batteries cannot cover: computed keys flow through
    * partial/final hash aggregation (hashing + equality on the
    * function's result type), the path a 100 TB rollup actually
    * exercises. Key domains are small (≤7×3×7×4×3×4 combinations) so
    * the output is scale-free; aggregates render BIGINT on both
    * sides (COMPAT #6: DuckDB SUM(INT) is HUGEINT). */
  private def grpBattery: (QFn, String) = {
    val sgn = when(col("l_orderkey") % 2 === 0, lit(-1L)).otherwise(lit(1L))
    val oSgn = "(CASE WHEN l_orderkey % 2 = 0 THEN -1 ELSE 1 END)"
    val gks: Seq[(String, Column, String)] = Seq(
      ("g_mod7", col("l_orderkey") % 7, "l_orderkey % 7"),
      ("g_sgnq", signum(col("l_quantity").cast("long") * sgn).cast("int"),
        s"CAST(sign(CAST(l_quantity AS BIGINT) * $oSgn) AS INT)"),
      ("g_yr", year(col("l_shipdate").cast(DateType)),
        "CAST(year(CAST(l_shipdate AS DATE)) AS INT)"),
      ("g_qtr", quarter(col("l_shipdate").cast(DateType)),
        "CAST(quarter(CAST(l_shipdate AS DATE)) AS INT)"),
      ("g_flag", upper(col("l_returnflag")), "upper(l_returnflag)"),
      ("g_dcls", floor(dec(col("l_extendedprice")) / 20000).cast("long"),
        "CAST(floor(CAST(l_extendedprice AS DECIMAL(18,2)) / 20000) AS BIGINT)"))
    val q: QFn = (s, dir) =>
      sortAll(t(s, dir, "lineitem")
        .groupBy(gks.map { case (n, c, _) => c.as(n) }: _*)
        .agg(count(lit(1)).as("cnt"),
          min(col("l_orderkey")).as("min_k"),
          max(col("l_orderkey")).as("max_k"),
          sum(col("l_quantity").cast("long")).as("sum_q")))
    val o = gks.map { case (n, _, d) => s"  $d AS $n" }
      .mkString("SELECT\n", ",\n", """,
  CAST(count(*) AS BIGINT) AS cnt,
  min(l_orderkey) AS min_k,
  max(l_orderkey) AS max_k,
  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_q
FROM lineitem
GROUP BY """ + (1 to gks.size).mkString(", ") + s"\n${Q.oSortAll}")
    (q, o)
  }

  /** Function results under WHERE — the predicate-context axis:
    * every menu entry drives a filter whose population is counted in
    * ONE single-pass aggregate row (sum-of-CASE, no expand), so the
    * battery proves predicate-side evaluation (codegen'd filters over
    * the scan) at a fixed output size. */
  private def whereBattery: (QFn, String) = {
    val de = dec(col("l_extendedprice"))
    val oDe = "CAST(l_extendedprice AS DECIMAL(18,2))"
    val dt = col("l_shipdate").cast(DateType)
    val oDt = "CAST(l_shipdate AS DATE)"
    val vc = concat(col("l_returnflag"), col("l_orderkey").cast("string"))
    val oVc = "l_returnflag || CAST(l_orderkey AS VARCHAR)"
    val preds: Seq[(String, Column, String)] = Seq(
      ("w_mod7", col("l_orderkey") % 7 === 3, "l_orderkey % 7 = 3"),
      ("w_abs", abs(col("l_partkey") - 50000) < 10000,
        "abs(l_partkey - 50000) < 10000"),
      ("w_sqrt", sqrt(col("l_quantity").cast("double")) > 5.0,
        "sqrt(CAST(l_quantity AS DOUBLE)) > 5.0"),
      ("w_great", greatest(col("l_quantity").cast("long"), lit(25L)) === 25L,
        "greatest(CAST(l_quantity AS BIGINT), 25) = 25"),
      ("w_len", length(vc) >= 7, s"length($oVc) >= 7"),
      ("w_sub", substring(vc, 2, 1) === lit("1"), s"substr($oVc, 2, 1) = '1'"),
      ("w_inst", instr(vc, "42") > 0, s"strpos($oVc, '42') > 0"),
      ("w_upper", upper(col("l_linestatus")) === lit("F"),
        "upper(l_linestatus) = 'F'"),
      ("w_rev", reverse(col("l_returnflag")) === col("l_returnflag"),
        "reverse(l_returnflag) = l_returnflag"),
      ("w_yr", year(dt) === 1995, s"year($oDt) = 1995"),
      ("w_mon", month(dt).isin(6, 7, 8), s"month($oDt) IN (6, 7, 8)"),
      ("w_dow", weekday(dt) + 1 <= 5, s"isodow($oDt) <= 5"),
      ("w_eom", last_day(dt) === dt, s"last_day($oDt) = $oDt"),
      ("w_dadd", date_add(dt, 90) > lit("1998-01-01").cast(DateType),
        s"$oDt + 90 > DATE '1998-01-01'"),
      ("w_dceil", ceil(de) > lit(30000), s"ceil($oDe) > 30000"),
      ("w_dmul", (de * 2).cast(DecimalType(24, 2)) > lit(70000),
        s"CAST($oDe * 2 AS DECIMAL(24,2)) > 70000"),
      ("w_coal", coalesce(nullif(col("l_linestatus"), lit("O")), lit("x")) === lit("x"),
        "coalesce(nullif(l_linestatus, 'O'), 'x') = 'x'"),
      ("w_betw", col("l_quantity").cast("long").between(10L, 20L),
        "CAST(l_quantity AS BIGINT) BETWEEN 10 AND 20"))
    val q: QFn = (s, dir) =>
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("n_all"),
        preds.map { case (n, p, _) =>
          sum(when(p, lit(1L)).otherwise(lit(0L))).as(n) }: _*)
    val o = preds.map { case (n, _, d) =>
      s"  CAST(sum(CASE WHEN $d THEN 1 ELSE 0 END) AS BIGINT) AS $n" }
      .mkString("SELECT\n  CAST(count(*) AS BIGINT) AS n_all,\n", ",\n",
        "\nFROM lineitem")
    (q, o)
  }

  /** Function results as ORDER-BY keys — the sort-context axis
    * (autopilot `mcs4012_function_*` crosses functions into every
    * clause position; this is the ORDER BY crossing, r12 verdict next
    * #6). The battery's OUTPUT ORDER *is* the function keys (mixed
    * ASC/DESC, NULLS FIRST pinned on both engines, key-column
    * tiebreak for totality), so the driver's row-order-sensitive hash
    * verifies computed-key ordering directly — no sortAll wrapper.
    * The sort is a distributed range sort, not a window. */
  private def orderBattery: (QFn, String) = {
    val vc = concat(col("l_returnflag"), col("l_orderkey").cast("string"))
    val oVc = "l_returnflag || CAST(l_orderkey AS VARCHAR)"
    val dt = col("l_shipdate").cast(DateType)
    val oDt = "CAST(l_shipdate AS DATE)"
    val oks: Seq[(String, Column, String, Boolean)] = Seq(
      ("o_mod", col("l_orderkey") % 7, "l_orderkey % 7", false),
      ("o_abs", abs(col("l_partkey") - 50000), "abs(l_partkey - 50000)", true),
      ("o_len", length(vc).cast("int"), s"CAST(length($oVc) AS INT)", false),
      ("o_rev", reverse(col("l_returnflag")), "reverse(l_returnflag)", false),
      ("o_yr", year(dt), s"CAST(year($oDt) AS INT)", true),
      ("o_eom", last_day(dt), s"last_day($oDt)", false),
      ("o_dcls", floor(dec(col("l_extendedprice")) / 20000).cast("long"),
        "CAST(floor(CAST(l_extendedprice AS DECIMAL(18,2)) / 20000) AS BIGINT)",
        true))
    val (p, sel) = Battery.project(sampled, oks.map { case (n, c, d, _) => Cell(n, c, d) })
    val sortCols = oks.map { case (n, _, _, desc) =>
      if (desc) col(n).desc_nulls_first else col(n).asc_nulls_first } ++
      Seq(col("k1").asc_nulls_first, col("k2").asc_nulls_first)
    val q: QFn = (s, dir) => p(s, dir).orderBy(sortCols: _*)
    val o = sel + "\nORDER BY " +
      (oks.map { case (n, _, _, desc) =>
        s"$n ${if (desc) "DESC" else "ASC"} NULLS FIRST" } ++
        Seq("k1 NULLS FIRST", "k2 NULLS FIRST")).mkString(", ")
    (q, o)
  }

  /** Function results as JOIN keys — the join-predicate-context axis
    * (the other `mcs4012` crossing not yet covered): a string-minted
    * FK equality to orders (1:N preserved through concat on BOTH
    * sides), an affine integer key to part, and a date-function
    * comparison inside the aggregate. The rollup is value-checked —
    * any divergence in computed-key join semantics shifts ok_sum /
    * pk_sum, not just counts. */
  private def joinBattery: (QFn, String) = {
    val q: QFn = (s, dir) => {
      val o = t(s, dir, "orders").select(
        concat(lit("O"), col("o_orderkey").cast("string")).as("j_ok"),
        col("o_orderkey"),
        year(col("o_orderdate").cast(DateType)).as("o_yr"))
      val p = t(s, dir, "part").select(
        (col("p_partkey") * 3 + 7).as("j_pk"), col("p_partkey"))
      t(s, dir, "lineitem").filter(col("l_orderkey") % 7 === 0)
        .select(col("l_returnflag"),
          concat(lit("O"), col("l_orderkey").cast("string")).as("j_ok"),
          (col("l_partkey") * 3 + 7).as("j_pk"),
          year(col("l_shipdate").cast(DateType)).as("l_yr"))
        .join(o, "j_ok")
        .join(p, "j_pk")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("ok_sum"),
          sum(col("p_partkey")).as("pk_sum"),
          sum(when(col("l_yr") === col("o_yr"), 1L).otherwise(0L)).as("same_yr"))
        .orderBy(col("l_returnflag"))
    }
    val o =
      """SELECT l_returnflag,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS ok_sum,
        |  CAST(sum(p_partkey) AS BIGINT) AS pk_sum,
        |  CAST(sum(CASE WHEN year(CAST(l_shipdate AS DATE)) = year(CAST(o_orderdate AS DATE))
        |                THEN 1 ELSE 0 END) AS BIGINT) AS same_yr
        |FROM lineitem
        |JOIN orders ON 'O' || CAST(l_orderkey AS VARCHAR) = 'O' || CAST(o_orderkey AS VARCHAR)
        |JOIN part ON l_partkey * 3 + 7 = p_partkey * 3 + 7
        |WHERE l_orderkey % 7 = 0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    (q, o)
  }

  /** Function results inside HAVING — the post-aggregation predicate
    * context (autopilot `mcs4012_function_*` crossing, r13 verdict
    * next #6): numeric/string/date/conditional functions applied to
    * AGGREGATES and GROUP KEYS after the groupBy, as group filters.
    * The exact-integer discipline (decimal-sum → BIGINT) keeps every
    * HAVING comparison integer-exact on both engines, so the filter
    * decisions — not just the surviving values — are pinned. The
    * DataFrame form is filter-after-agg, which is precisely the
    * HAVING plan Catalyst produces for SQL. */
  private def havingBattery: (QFn, String) = {
    val q: QFn = (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") % 7 === 0)
        .groupBy(col("l_returnflag"), (col("l_orderkey") % 10).as("gmod"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("long").as("qty"),
          max(col("l_shipdate").cast(DateType)).as("mx"))
        .filter(col("qty") % 7 < 5 &&
          abs(col("n") - 150) > 3 &&
          month(col("mx")) >= 2 &&
          length(concat(col("l_returnflag"), col("gmod").cast("string"))) === 2 &&
          (when(col("n") % 2 === 0, lit(1)).otherwise(lit(0)) + col("gmod")) =!= 3)
        .orderBy(col("l_returnflag"), col("gmod"))
    val o =
      """SELECT l_returnflag, l_orderkey % 10 AS gmod,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT) AS qty,
        |  max(CAST(l_shipdate AS DATE)) AS mx
        |FROM lineitem WHERE l_orderkey % 7 = 0
        |GROUP BY 1, 2
        |HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT) % 7 < 5
        |  AND abs(CAST(count(*) AS BIGINT) - 150) > 3
        |  AND month(max(CAST(l_shipdate AS DATE))) >= 2
        |  AND length(l_returnflag || CAST(l_orderkey % 10 AS VARCHAR)) = 2
        |  AND (CASE WHEN count(*) % 2 = 0 THEN 1 ELSE 0 END) + l_orderkey % 10 <> 3
        |ORDER BY l_returnflag, gmod""".stripMargin
    (q, o)
  }

  /** Function results as window PARTITION keys — the remaining clause
    * position of the `mcs4012` crossing: partition-by expressions are
    * computed (mod, concat, year), so partitioning correctness of the
    * whole window stack rides on function parity. Per-partition
    * aggregates (count, exact-decimal sum) are order-independent;
    * the rank uses dense_rank over (qty DESC, pmod), which is
    * tie-stable — equal keys share a rank — so no row_number
    * nondeterminism enters the gate. Output is totally ordered by
    * sortAll (residual ties are bit-identical rows). */
  private def winPartBattery: (QFn, String) = {
    val pmod = col("l_orderkey") % 10
    val pfs = concat(col("l_returnflag"), col("l_linestatus"))
    val pyr = year(col("l_shipdate").cast(DateType))
    val w1 = Window.partitionBy(pmod, pfs)
    val w2 = Window.partitionBy(pyr)
      .orderBy(dec(col("l_quantity")).desc, pmod.asc)
    val q: QFn = (s, dir) =>
      sortAll(t(s, dir, "lineitem").filter(col("l_orderkey") % 7 === 0)
        .select(col("l_orderkey").as("k1"),
          col("l_linenumber").cast("int").as("k2"),
          pmod.as("pmod"), pfs.as("pfs"), pyr.as("pyr"),
          count(lit(1)).over(w1).as("w_n"),
          d(sum(dec(col("l_quantity"))).over(w1)).as("w_qty"),
          dense_rank().over(w2).as("w_rnk")))
    val o =
      """SELECT l_orderkey AS k1, CAST(l_linenumber AS INT) AS k2,
        |  l_orderkey % 10 AS pmod,
        |  l_returnflag || l_linestatus AS pfs,
        |  CAST(year(CAST(l_shipdate AS DATE)) AS INT) AS pyr,
        |  CAST(count(*) OVER (PARTITION BY l_orderkey % 10, l_returnflag || l_linestatus) AS BIGINT) AS w_n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_orderkey % 10, l_returnflag || l_linestatus) AS DOUBLE) AS w_qty,
        |  CAST(dense_rank() OVER (PARTITION BY year(CAST(l_shipdate AS DATE))
        |    ORDER BY CAST(l_quantity AS DECIMAL(18,2)) DESC, l_orderkey % 10) AS INT) AS w_rnk
        |FROM lineitem WHERE l_orderkey % 7 = 0
        |""".stripMargin + Q.oSortAll
    (q, o)
  }

  /** Every lineitem row, keyed (k1, k2), in sortAll order. (k1, k2)
    * is NOT unique in this testdata and the gate's row hash is order-
    * sensitive (r08: 6 matrices flaked red on tie order with zero cell
    * diffs), hence the total order over every column. */
  private def whole: Scope = Scope("lineitem", keys)

  /** The same rows scoped by a deterministic 1-in-7 systematic sample
    * on the order key (same predicate on both engines): a battery
    * proves per-cell cross-engine parity, so its cost should scale
    * with the size of its menu, not the corpus — unsampled, the
    * 62-wide string battery's single-partition gate sort was the most
    * expensive query in the whole sf0.1 bench (10 s). */
  private def sampled: Scope =
    whole.copy(filter = Some((col("l_orderkey") % 7 === 0, "l_orderkey % 7 = 0")))

  /** Math domain edges: MySQL returns NULL outside a math function's
    * domain (LN(0), SQRT(-1), ASIN(2), LOG(1, x)) where ANSI Spark and
    * DuckDB raise — the lenient wrappers in MySqlFunctions carry the
    * MySQL behavior and the oracle spells the identical CASE guards
    * (COMPAT #9). IEEE specials (inf from pow/exp overflow) pass
    * through both engines unguarded. */
  private def mathEdge: (QFn, String) = {
    import MySqlFunctions._
    val k = col("o_orderkey")
    val (v, w, x9) = (col("v"), col("w"), col("x9"))
    build(Scope("orders", Seq(Cell("k1", k, "o_orderkey")),
      filter = Some((k < 500, "o_orderkey < 500")),
      lets = Seq(
        Cell("v", (k % 7 - 3).cast("double"), "CAST(o_orderkey % 7 - 3 AS DOUBLE)"), // -3..3
        Cell("w", (k % 5).cast("double"), "CAST(o_orderkey % 5 AS DOUBLE)"), // 0..4
        Cell("x9", (k % 9 + 1).cast("double"), "CAST(o_orderkey % 9 + 1 AS DOUBLE)")),
      byKeys = true), Seq(
      Cell("m_ln", round(lnMySql(w), 6), "round(CASE WHEN w > 0 THEN ln(w) END, 6)"),
      Cell("m_log10", round(log10MySql(v), 6), "round(CASE WHEN v > 0 THEN log10(v) END, 6)"),
      Cell("m_log2", round(log2MySql(w), 6), "round(CASE WHEN w > 0 THEN log2(w) END, 6)"),
      Cell("m_logb", round(logBaseMySql(w, x9), 6),
        "round(CASE WHEN w > 0 AND w <> 1 AND x9 > 0 THEN ln(x9) / ln(w) END, 6)"),
      Cell("m_sqrt", round(sqrtMySql(v), 6), "round(CASE WHEN v >= 0 THEN sqrt(v) END, 6)"),
      Cell("m_asin", round(asinMySql(v / 2), 6),
        "round(CASE WHEN abs(v / 2) <= 1 THEN asin(v / 2) END, 6)"),
      Cell("m_acos", round(acosMySql(v / 2), 6),
        "round(CASE WHEN abs(v / 2) <= 1 THEN acos(v / 2) END, 6)"),
      Cell("m_mod_sign", ((k % 11 - 5) % 3).cast("long"),
        "CAST((o_orderkey % 11 - 5) % 3 AS BIGINT)"),
      Cell("m_fmod", round((w + lit(0.5)) % lit(1.5), 6), "round((w + 0.5) % 1.5, 6)"),
      Cell("m_atan2", round(atan2(v, w + 1), 6), "round(atan2(v, w + 1), 6)"),
      // w=0 → exactly 1; any positive w overflows to +inf (e^709 is the
      // double ceiling) — no finite libm value crosses the engines, so
      // float equality is exact
      Cell("m_exp_ovf", exp(w * 800), "exp(w * 800)"),
      Cell("m_pow_inf", pow(w, lit(-1.0)), "power(w, -1.0)")))
  }

  /** Integer width ladder (TINYINT→BIGINT, every operand explicitly
    * widened to BIGINT) plus the decimal and double batteries. */
  private def numV2: (QFn, String) = {
    val ti = col("l_linenumber").cast(ByteType) // 1..7
    val si = col("l_quantity").cast(ShortType) // 1..50
    val i = (col("l_partkey") % 100000).cast(IntegerType)
    val bi = col("l_orderkey")
    val de = col("l_extendedprice").cast(DecimalType(38, 10))
    val db = col("l_discount")
    val oI = "CAST(l_partkey % 100000 AS BIGINT)"
    val oDe = "CAST(l_extendedprice AS DECIMAL(38,10))"
    build(whole, Seq(
      Cell("ti_arith", ti.cast(LongType) * 2 + si.cast(LongType),
        "CAST(l_linenumber AS BIGINT) * 2 + CAST(l_quantity AS BIGINT)"),
      Cell("bi_mod", bi % 97, "l_orderkey % 97"),
      Cell("int_absdiff", abs(i.cast(LongType) - 50000L), s"abs($oI - 50000)"),
      Cell("int_sign", signum(i.cast(LongType) - 50000L).cast(IntegerType),
        s"CAST(sign($oI - 50000) AS INT)"),
      Cell("mix_greatest", greatest(ti.cast(LongType), si.cast(LongType), i.cast(LongType)),
        s"greatest(CAST(l_linenumber AS BIGINT), CAST(l_quantity AS BIGINT), $oI)"),
      Cell("mix_least", least(ti.cast(LongType), si.cast(LongType), i.cast(LongType)),
        s"least(CAST(l_linenumber AS BIGINT), CAST(l_quantity AS BIGINT), $oI)"),
      Cell("bit_expr", shiftleft(ti.cast(IntegerType), 2).cast(LongType)
          .bitwiseOR(si.cast(LongType).bitwiseAND(lit(31L))),
        "CAST(CAST(l_linenumber AS INT) << 2 AS BIGINT) | (CAST(l_quantity AS BIGINT) & 31)"),
      // decimal scales pinned by explicit casts on both sides, final
      // cells rendered as strings (#34); the arithmetic stays exact
      Cell("dec_add", (de + lit(1.5).cast(DecimalType(2, 1))).cast(DecimalType(38, 10))
          .cast(StringType),
        s"CAST(CAST($oDe + CAST(1.5 AS DECIMAL(2,1)) AS DECIMAL(38,10)) AS VARCHAR)"),
      Cell("dec_round", round(de, 2).cast(DecimalType(38, 2)).cast(StringType),
        s"CAST(CAST(round($oDe, 2) AS DECIMAL(38,2)) AS VARCHAR)"),
      Cell("dec_floor_bi", floor(de).cast(LongType), s"CAST(floor($oDe) AS BIGINT)"),
      // decimal→integer CAST: Spark (and MySQL/the reference,
      // `func_cast.cpp`) truncates toward zero, DuckDB ROUNDS — the
      // oracle spells trunc() (COMPAT #1)
      Cell("dec_trunc_bi", de.cast(LongType), s"CAST(trunc($oDe) AS BIGINT)"),
      Cell("dec_truncate1", MySqlFunctions.truncateNum(de.cast(DoubleType), 1),
        """CASE WHEN l_extendedprice >= 0
          |    THEN floor(l_extendedprice * 10) / 10
          |    ELSE ceil(l_extendedprice * 10) / 10 END""".stripMargin),
      // double battery: identical IEEE sequence on both engines
      Cell("dbl_mul_floor", floor(db * 100).cast(LongType),
        "CAST(floor(l_discount * 100) AS BIGINT)"),
      // saturating narrow casts: the reference saturates out-of-range
      // values on ingest (`dataconvert.cpp`), ANSI Spark and DuckDB
      // both throw — the MySQL rule is spelled as clamps (COMPAT #4)
      Cell("sat_tiny", least(greatest(i.cast(LongType) - 50000L, lit(-128L)), lit(127L))
          .cast(IntegerType), s"CAST(least(greatest($oI - 50000, -128), 127) AS INT)"),
      Cell("sat_small", least(greatest(bi % 1000000L, lit(-32768L)), lit(32767L))
          .cast(IntegerType),
        "CAST(least(greatest(l_orderkey % 1000000, -32768), 32767) AS INT)"),
      // lenient string→number over a numeric-prefix string (COMPAT #10)
      Cell("str2num", MySqlFunctions.castSigned(concat(i, lit("x"), col("l_returnflag"))),
        oCastSigned("CAST(l_partkey % 100000 AS INT) || 'x' || l_returnflag")),
      Cell("str2num_none", MySqlFunctions.castSigned(col("l_returnflag")),
        oCastSigned("l_returnflag"))))
  }

  /** Date/timestamp and CHAR/VARCHAR batteries over the same rows. */
  private def dateStr: (QFn, String) = {
    val dt = col("l_shipdate").cast(DateType)
    val ch = col("l_returnflag") // CHAR(1) analog
    val vc = concat(col("l_returnflag"), lit("/"), col("l_linestatus"))
    val oVc = "l_returnflag || '/' || l_linestatus"
    build(whole, Seq(
      Cell("d_year", year(dt), "CAST(year(l_shipdate) AS INT)"),
      Cell("d_quarter", quarter(dt), "CAST(quarter(l_shipdate) AS INT)"),
      Cell("d_month", month(dt), "CAST(month(l_shipdate) AS INT)"),
      Cell("d_day", dayofmonth(dt), "CAST(day(l_shipdate) AS INT)"),
      // day-of-week numbering: Spark `dayofweek` is 1=Sunday, `weekday`
      // 0=Monday; DuckDB `dayofweek` 0=Sunday, `isodow` 1=Monday —
      // weekday+1 ≡ isodow (COMPAT #2)
      Cell("d_isodow", weekday(dt) + 1, "CAST(isodow(l_shipdate) AS INT)"),
      Cell("d_doy", dayofyear(dt), "CAST(dayofyear(l_shipdate) AS INT)"),
      Cell("d_lastday", last_day(dt), "last_day(CAST(l_shipdate AS DATE))"),
      Cell("d_diff", datediff(dt, lit("1995-01-01").cast(DateType)).cast(IntegerType),
        "CAST(date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS INT)"),
      Cell("d_add30", date_add(dt, 30), "CAST(l_shipdate AS DATE) + 30"),
      Cell("d_truncmon", trunc(dt, "month"), "CAST(date_trunc('month', l_shipdate) AS DATE)"),
      // string battery across CHAR / VARCHAR widths
      Cell("s_len", length(vc), s"CAST(length($oVc) AS INT)"),
      Cell("s_upper", upper(vc), s"upper($oVc)"),
      Cell("s_lower", lower(vc), s"lower($oVc)"),
      Cell("s_lpad", lpad(vc, 5, "*"), s"lpad($oVc, 5, '*')"),
      Cell("s_sub", substring(vc, 1, 1), s"substr($oVc, 1, 1)"),
      Cell("s_repl", regexp_replace(vc, "/", "-"), s"replace($oVc, '/', '-')"),
      Cell("s_instr", instr(vc, "/").cast(IntegerType), s"CAST(strpos($oVc, '/') AS INT)"),
      Cell("s_cws", concat_ws("-", ch, vc), s"concat_ws('-', l_returnflag, $oVc)"),
      Cell("s_rev", reverse(vc), s"reverse($oVc)"),
      Cell("s_rep", repeat(ch, 3), "repeat(l_returnflag, 3)"),
      Cell("s_ascii", ascii(ch), "CAST(ascii(l_returnflag) AS INT)"),
      // hex case: Spark `hex` is uppercase, DuckDB `to_hex` lowercase (COMPAT #3)
      Cell("s_hex", hex(col("l_orderkey")), "upper(to_hex(l_orderkey))"),
      Cell("s_mixnum", concat(vc, lit(":"), (col("l_partkey") % 100000).cast(IntegerType)),
        s"$oVc || ':' || CAST(l_partkey % 100000 AS INT)")))
  }

  /** Aggregate × datatype: every aggregate family over every width,
    * grouped — the mcs4007-style aggregate matrix. Not a projection,
    * so it keeps its own two texts. Doubles aggregate through exact
    * DECIMAL (order-independent) per the Q discipline. */
  private def aggV2: (QFn, String) = {
    val q: QFn = (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ti = col("l_linenumber").cast(ByteType)
      val si = col("l_quantity").cast(ShortType)
      val i = (col("l_partkey") % 100000).cast(IntegerType)
      val bi = col("l_orderkey")
      val de = col("l_extendedprice").cast(DecimalType(38, 10))
      val dt = col("l_shipdate").cast(DateType)
      val vc = concat(col("l_returnflag"), lit("/"), col("l_linestatus"))
      // Three distinct aggregates on DIFFERENT columns would plan as a
      // 4-way Expand: every input row quadrupled — wide decimals and
      // strings included — through the partial-aggregate shuffle. At
      // corpus scale that is 4× the scan's bytes through one exchange.
      // Instead: the non-distinct battery aggregates in ONE narrow
      // pass, and each distinct count is its own two-column scan
      // (pruned to flag + value, partial-aggregated by (flag, value) —
      // shuffle bounded by NDV, not row count) broadcast-joined back
      // onto the group-count-sized result.
      val base = li.groupBy(col("l_returnflag").as("flag"))
        .agg(
          count(lit(1)).as("n"),
          // SUM over integer widths: Spark returns BIGINT, DuckDB
          // promotes to DECIMAL(38,0) — the oracle casts back (COMPAT #6)
          sum(ti.cast(LongType)).as("sum_ti"),
          sum(si.cast(LongType)).as("sum_si"),
          sum(i.cast(LongType)).as("sum_i"),
          sum(bi).as("sum_bi"),
          min(ti.cast(IntegerType)).as("min_ti"), max(ti.cast(IntegerType)).as("max_ti"),
          min(bi).as("min_bi"), max(bi).as("max_bi"),
          // decimal: exact sum at pinned scale, string-rendered (#34);
          // a DECIMAL(38,10)→DOUBLE cast can differ in the last ulp
          // between engines, so the average goes through the proven
          // DECIMAL(18,2) exact-sum pattern (COMPAT #7)
          sum(de).cast(DecimalType(38, 10)).cast(StringType).as("sum_de"),
          avgDec(col("l_extendedprice")).as("avg_de"),
          min(de).cast(StringType).as("min_de"),
          max(de).cast(StringType).as("max_de"),
          // double via exact-decimal (order-independent across engines)
          sumDec(col("l_discount")).as("sum_db"),
          // temporal + string min/max
          min(dt).as("min_dt"), max(dt).as("max_dt"),
          min(vc).as("min_vc"), max(vc).as("max_vc"))
      // distinct counts per width: one single-distinct agg each (no
      // Expand), joined on the group key
      def cd(c: Column, as: String) =
        li.groupBy(col("l_returnflag").as("flag"))
          .agg(countDistinct(c).cast(LongType).as(as))
      base
        .join(broadcast(cd(ti, "cd_ti")), Seq("flag"))
        .join(broadcast(cd(i, "cd_i")), Seq("flag"))
        .join(broadcast(cd(vc, "cd_vc")), Seq("flag"))
        .orderBy(col("flag"))
    }
    val o =
      s"""SELECT l_returnflag AS flag,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sum_ti,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_si,
        |  CAST(SUM(CAST(l_partkey % 100000 AS BIGINT)) AS BIGINT) AS sum_i,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_bi,
        |  MIN(CAST(l_linenumber AS INT)) AS min_ti,
        |  MAX(CAST(l_linenumber AS INT)) AS max_ti,
        |  MIN(l_orderkey) AS min_bi, MAX(l_orderkey) AS max_bi,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS DECIMAL(38,10))
        |    AS VARCHAR) AS sum_de,
        |  ${Q.oAvgDec("l_extendedprice")} AS avg_de,
        |  CAST(MIN(CAST(l_extendedprice AS DECIMAL(38,10))) AS VARCHAR) AS min_de,
        |  CAST(MAX(CAST(l_extendedprice AS DECIMAL(38,10))) AS VARCHAR) AS max_de,
        |  ${Q.oSumDec("l_discount")} AS sum_db,
        |  MIN(CAST(l_shipdate AS DATE)) AS min_dt,
        |  MAX(CAST(l_shipdate AS DATE)) AS max_dt,
        |  MIN(l_returnflag || '/' || l_linestatus) AS min_vc,
        |  MAX(l_returnflag || '/' || l_linestatus) AS max_vc,
        |  COUNT(DISTINCT l_linenumber) AS cd_ti,
        |  COUNT(DISTINCT l_partkey % 100000) AS cd_i,
        |  COUNT(DISTINCT l_returnflag || '/' || l_linestatus) AS cd_vc
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY flag""".stripMargin
    (q, o)
  }

  /** Null handling × datatype: COALESCE/NULLIF/null predicates over
    * every width, NULLs minted deterministically where
    * l_linenumber = 1 — the null-semantics slice of the autopilot
    * matrices. */
  private def nullV2: (QFn, String) = {
    val live = col("l_linenumber") =!= 1
    def oLive(e: String) = s"CASE WHEN l_linenumber <> 1 THEN $e END"
    val nti = nullif(col("l_linenumber").cast(IntegerType), lit(1)).cast(ByteType)
    val nbi = when(live, col("l_orderkey"))
    val nde = when(live, col("l_extendedprice").cast(DecimalType(38, 10)))
    val ndt = when(live, col("l_shipdate").cast(DateType))
    val nvc = when(live, col("l_returnflag"))
    build(whole, Seq(
      Cell("co_ti", coalesce(nti.cast(LongType), lit(-1L)),
        "COALESCE(CAST(NULLIF(CAST(l_linenumber AS INT), 1) AS BIGINT), -1)"),
      Cell("co_bi", coalesce(nbi, lit(-1L)), s"COALESCE(${oLive("l_orderkey")}, -1)"),
      Cell("co_de", coalesce(nde, lit(-1).cast(DecimalType(38, 10)))
          .cast(DecimalType(38, 10)).cast(StringType),
        s"""CAST(CAST(COALESCE(${oLive("CAST(l_extendedprice AS DECIMAL(38,10))")},
           |    CAST(-1 AS DECIMAL(38,10))) AS DECIMAL(38,10)) AS VARCHAR)""".stripMargin),
      Cell("co_dt", coalesce(ndt, lit("1970-01-01").cast(DateType)),
        s"COALESCE(${oLive("CAST(l_shipdate AS DATE)")}, DATE '1970-01-01')"),
      Cell("co_vc", coalesce(nvc, lit("<null>")),
        s"COALESCE(${oLive("l_returnflag")}, '<null>')"),
      Cell("isn_bi", nbi.isNull.cast(IntegerType), s"CAST(${oLive("l_orderkey")} IS NULL AS INT)"),
      Cell("isnn_vc", nvc.isNotNull.cast(IntegerType),
        s"CAST(${oLive("l_returnflag")} IS NOT NULL AS INT)"),
      // NULL propagation through arithmetic / concat per width
      Cell("null_arith", nbi + lit(1L), s"${oLive("l_orderkey")} + 1"),
      Cell("null_concat", concat(nvc, lit("!")), s"${oLive("l_returnflag")} || '!'"),
      // null-safe equality vs plain equality under NULL
      Cell("nseq", (nbi <=> lit(null).cast(LongType)).cast(IntegerType),
        s"CAST(${oLive("l_orderkey")} IS NOT DISTINCT FROM CAST(NULL AS BIGINT) AS INT)"),
      Cell("nullif_vc", nullif(col("l_returnflag"), lit("N")), "NULLIF(l_returnflag, 'N')")))
  }

  /** String EDGE battery: empty string, unicode, repeated separators,
    * leading/trailing space, negative/out-of-range positions — the
    * corners the plain string battery never touches. The base string
    * is an adversarial CASE rotation built identically on both sides. */
  private def strEdge: (QFn, String) = {
    val m = col("doc_id") % 5
    val base = col("base")
    build(Scope("documents", Seq(Cell("k", col("doc_id"), "doc_id")), lets = Seq(
      Cell("base", when(m === 0, lit(""))
          .when(m === 1, lit("héllo wörld"))
          .when(m === 2, lit("a  b   c"))
          .when(m === 3, concat(lit(" x "), substring(col("text"), 1, 9), lit(" ")))
          .otherwise(substring(col("text"), 1, 17)),
        """CASE WHEN doc_id % 5 = 0 THEN ''
          |       WHEN doc_id % 5 = 1 THEN 'héllo wörld'
          |       WHEN doc_id % 5 = 2 THEN 'a  b   c'
          |       WHEN doc_id % 5 = 3 THEN ' x ' || substr(text, 1, 9) || ' '
          |       ELSE substr(text, 1, 17) END""".stripMargin))), Seq(
      Cell("base", base, "base"),
      Cell("s_len", length(base).cast(IntegerType), "CAST(length(base) AS INT)"),
      // SUBSTRING(s, -5, 3): negative pos counts from the end, |pos|
      // beyond the length yields '' (MySQL rule; NOT DuckDB's "virtual
      // positions before 1", which yields a prefix) — COMPAT #15
      Cell("s_subneg", substring(base, -5, 3),
        "CASE WHEN length(base) >= 5 THEN substr(base, length(base) - 4, 3) ELSE '' END"),
      Cell("s_trimset", trim(lower(base), "aeiou "), "trim(lower(base), 'aeiou ')"),
      Cell("s_transl", translate(base, "aeo", "430"), "translate(base, 'aeo', '430')"),
      // overlay runs on a length-pinned pad so the cell tests OVERLAY
      // splicing, not each engine's divergent short-input clamping
      Cell("s_overlay", overlay(rpad(base, 8, "."), lit("XX"), lit(3), lit(2)),
        "substr(rpad(base, 8, '.'), 1, 2) || 'XX' || substr(rpad(base, 8, '.'), 5)"),
      Cell("s_tok2", try_element_at(split(base, " "), lit(2)),
        "list_extract(string_split(base, ' '), 2)"),
      Cell("s_posmiss", instr(base, "zzz").cast(IntegerType),
        "CAST(strpos(base, 'zzz') AS INT)"),
      // LOCATE(sub, s, 3): DuckDB has no 3-arg locate — spelled via
      // strpos on the suffix, 0 preserved (COMPAT #16)
      Cell("s_locate3", locate("b", base, 3).cast(IntegerType),
        """CAST(CASE WHEN length(base) < 3 THEN 0
          |    WHEN strpos(substr(base, 3), 'b') = 0 THEN 0
          |    ELSE strpos(substr(base, 3), 'b') + 2 END AS INT)""".stripMargin),
      Cell("s_rpad0", rpad(base, 0, "x"), "rpad(base, 0, 'x')"),
      Cell("s_lpadtr", lpad(base, 4, "*"), "lpad(base, 4, '*')"),
      Cell("s_rep0", repeat(substring(base, 1, 2), 0), "repeat(substr(base, 1, 2), 0)"),
      // CONCAT is NULL-propagating in Spark/MySQL, so the oracle uses
      // `||` — DuckDB's concat() skips NULLs (COMPAT #17)
      Cell("s_nullcat", concat(base, lit(null).cast("string")), "base || NULL"),
      Cell("s_md5", md5(base), "md5(base)"),
      // ascii(''): both return 0; a unicode first char gives the
      // codepoint on both engines
      Cell("s_ascii", ascii(base).cast(IntegerType),
        "CAST(CASE WHEN base = '' THEN 0 ELSE ascii(base) END AS INT)"),
      Cell("s_chr", concat(expr("chr(233)"), lit("A")), "chr(233) || 'A'"),
      // initcap: DuckDB has none — spelled as the per-word upper/lower
      // list transform, empty tokens from repeated separators kept
      // (COMPAT #18)
      Cell("s_initcap", initcap(base),
        """array_to_string(list_transform(string_split(base, ' '),
          |    w -> CASE WHEN length(w) = 0 THEN ''
          |      ELSE upper(w[1]) || lower(w[2:]) END), ' ')""".stripMargin),
      Cell("s_revuni", reverse(base), "reverse(base)")))
  }

  /** Date/time EDGE battery: leap days (century + ordinary), year
    * boundaries, epoch, proleptic year 2, year 9999, month-end
    * clamping, strict-parser rejection — the calendar corners the
    * plain date battery never reaches. The base date rotates through
    * fixed edge dates plus the real shipdate. Every cell that can
    * carry a year-0002/9999 value is rendered as its ISO string
    * (#34); the date ARITHMETIC under test is unchanged. */
  private def dtEdge: (QFn, String) = {
    val m = (col("l_orderkey") * 7 + col("l_linenumber")) % 8
    val m2 = col("l_linenumber") % 4
    val base = col("base")
    val isodow = weekday(base) + 1
    build(sampled.copy(lets = Seq(
      Cell("base", when(m === 0, lit("2000-02-29").cast(DateType))
          .when(m === 1, lit("1999-12-31").cast(DateType))
          .when(m === 2, lit("2024-02-29").cast(DateType))
          .when(m === 3, lit("1970-01-01").cast(DateType))
          // extremes chosen so every derived cell (±13 months, +25h)
          // stays inside [0001-01-01, 9999-12-31] — the compare tooling
          // materializes dates as Python datetime.date, which cannot
          // represent year 0 or year 10000
          .when(m === 4, lit("9999-11-30").cast(DateType))
          .when(m === 5, lit("0002-02-01").cast(DateType))
          .when(m === 6, lit("2021-01-31").cast(DateType))
          .otherwise(col("l_shipdate").cast(DateType)),
        """CASE (l_orderkey * 7 + l_linenumber) % 8
          |    WHEN 0 THEN DATE '2000-02-29' WHEN 1 THEN DATE '1999-12-31'
          |    WHEN 2 THEN DATE '2024-02-29' WHEN 3 THEN DATE '1970-01-01'
          |    WHEN 4 THEN DATE '9999-11-30' WHEN 5 THEN DATE '0002-02-01'
          |    WHEN 6 THEN DATE '2021-01-31'
          |    ELSE CAST(l_shipdate AS DATE) END""".stripMargin),
      // strict-parse inputs: one valid, one calendar-invalid (Feb 30 /
      // month 13), one garbage — both parsers must agree on NULL
      Cell("str1", when(m2 === 0, lit("2023-02-30"))
          .when(m2 === 1, lit("2000-02-29"))
          .when(m2 === 2, lit("not-a-date"))
          .otherwise(lit("2024-12-31")),
        """CASE l_linenumber % 4 WHEN 0 THEN '2023-02-30'
          |    WHEN 1 THEN '2000-02-29' WHEN 2 THEN 'not-a-date'
          |    ELSE '2024-12-31' END""".stripMargin),
      Cell("str2", when(m2 === 0, lit("29/02/2000"))
          .when(m2 === 1, lit("31/02/2001"))
          .when(m2 === 2, lit("07/13/2001"))
          .otherwise(lit("15/06/1995")),
        """CASE l_linenumber % 4 WHEN 0 THEN '29/02/2000'
          |    WHEN 1 THEN '31/02/2001' WHEN 2 THEN '07/13/2001'
          |    ELSE '15/06/1995' END""".stripMargin))), Seq(
      Cell("base", base.cast(StringType), "CAST(base AS VARCHAR)"),
      // month-end clamping: Jan 31 + 1 month → Feb 28/29 (DuckDB's
      // interval math widens to TIMESTAMP, cast back to DATE)
      Cell("d_am1", add_months(base, 1).cast(StringType),
        "CAST(CAST(base + INTERVAL 1 MONTH AS DATE) AS VARCHAR)"),
      Cell("d_amneg", add_months(base, -13).cast(StringType),
        "CAST(CAST(base - INTERVAL 13 MONTH AS DATE) AS VARCHAR)"),
      // strictly-next Monday: DuckDB has no next_day — spelled as
      // base + (8 - isodow) (COMPAT #19)
      Cell("d_nextmon", next_day(base, "Mon").cast(StringType),
        "CAST(base + CAST(8 - isodow(base) AS INT) AS VARCHAR)"),
      Cell("d_week", weekofyear(base), "CAST(weekofyear(base) AS INT)"),
      // ISO year: Spark has no isoyear builtin, so its side computes
      // year(Thursday-of-week); the identity is what the cell verifies
      // (COMPAT #20)
      Cell("d_isoyear", year(date_add(base, lit(4) - isodow)), "CAST(isoyear(base) AS INT)"),
      Cell("d_dd1900", datediff(base, lit("1900-01-01").cast(DateType)).cast(IntegerType),
        "CAST(date_diff('day', DATE '1900-01-01', base) AS INT)"),
      // formatting guarded to the range both engines zero-pad
      Cell("d_fmt", when(year(base).between(1970, 9998), date_format(base, "yyyy/MM/dd")),
        "CASE WHEN year(base) BETWEEN 1970 AND 9998 THEN strftime(base, '%Y/%m/%d') END"),
      // strict parsing: try_to_timestamp and try_strptime both reject
      // calendar-invalid dates → NULL on both sides (COMPAT #21)
      Cell("d_parse1", try_to_timestamp(col("str1"), lit("yyyy-MM-dd")).cast(DateType),
        "CAST(try_strptime(str1, '%Y-%m-%d') AS DATE)"),
      Cell("d_parse2", try_to_timestamp(col("str2"), lit("dd/MM/yyyy")).cast(DateType),
        "CAST(try_strptime(str2, '%d/%m/%Y') AS DATE)"),
      // epoch: both engines are proleptic Gregorian, so year-2 dates
      // agree on epoch seconds
      Cell("d_epoch", unix_timestamp(base.cast(TimestampType)),
        "CAST(epoch(CAST(base AS TIMESTAMP)) AS BIGINT)"),
      // end-of-day roundtrip through epoch seconds
      Cell("d_fromepoch",
        to_date(timestamp_seconds(unix_timestamp(base.cast(TimestampType)) + 86399))
          .cast(StringType),
        """CAST(CAST(make_timestamp((CAST(epoch(CAST(base AS TIMESTAMP)) AS BIGINT)
          |    + 86399) * 1000000) AS DATE) AS VARCHAR)""".stripMargin),
      Cell("d_truncweek", trunc(base, "week").cast(StringType),
        "CAST(CAST(date_trunc('week', base) AS DATE) AS VARCHAR)"),
      Cell("d_lastday", last_day(base).cast(StringType), "CAST(last_day(base) AS VARCHAR)"),
      // 25h1m1s across the day/year boundary (9999-12-31 → 10000)
      Cell("d_tadd", (base.cast(TimestampType) + expr("INTERVAL '90061' SECOND"))
          .cast(TimestampNTZType).cast(StringType),
        "CAST(CAST(base AS TIMESTAMP) + INTERVAL 90061 SECOND AS VARCHAR)")))
  }

  /** Decimal EDGE battery: signed values through every rounding mode
    * (HALF_UP vs banker's), truncation toward zero vs floor, MySQL DIV
    * semantics, modulo sign rules, saturating narrow cast, widening,
    * multiplication at the precision ceiling, and decimal text
    * formatting. Sign minted by parity so half the rows exercise the
    * negative branches. Decimal cells are string-rendered (#34; both
    * engines print full scale with trailing zeros); all rounding and
    * arithmetic runs on the exact decimal `de`. */
  private def decEdge: (QFn, String) = {
    val price = dec(col("l_extendedprice"))
    val de = col("de")
    val sc = col("scents")
    build(whole.copy(lets = Seq(
      Cell("de", when(col("l_orderkey") % 2 === 0, price * lit(-1)).otherwise(price)
          .cast(DecimalType(19, 2)),
        """CAST(CASE WHEN l_orderkey % 2 = 0
          |    THEN -CAST(l_extendedprice AS DECIMAL(18,2))
          |    ELSE CAST(l_extendedprice AS DECIMAL(18,2)) END
          |    AS DECIMAL(19,2))""".stripMargin),
      Cell("qty", col("l_quantity").cast(LongType), "CAST(l_quantity AS BIGINT)"),
      Cell("scents", (de * 100).cast(LongType), "CAST(de * 100 AS BIGINT)"))), Seq(
      Cell("de", de.cast(StringType), "CAST(de AS VARCHAR)"),
      // round(): both engines round decimal halves away from zero
      // (COMPAT #12)
      Cell("d_round1", round(de, 1).cast(DecimalType(19, 1)).cast(StringType),
        "CAST(CAST(round(de, 1) AS DECIMAL(19,1)) AS VARCHAR)"),
      // bround (half to even): DuckDB's roundbankers() casts DECIMAL
      // through DOUBLE, so x.45 becomes x.45000...728 and rounds UP —
      // the oracle spells banker's rounding exactly over integer cents
      Cell("d_bround1", bround(de, 1).cast(DecimalType(19, 1)).cast(StringType),
        """CAST(CAST((CASE WHEN scents < 0 THEN -1 ELSE 1 END) *
          |    ((abs(scents) // 10) + CASE WHEN abs(scents) % 10 > 5 THEN 1
          |       WHEN abs(scents) % 10 < 5 THEN 0
          |       ELSE (abs(scents) // 10) % 2 END) * 0.1
          |    AS DECIMAL(19,1)) AS VARCHAR)""".stripMargin),
      Cell("d_ceil", ceil(de).cast(LongType), "CAST(ceil(de) AS BIGINT)"),
      Cell("d_floor", floor(de).cast(LongType), "CAST(floor(de) AS BIGINT)"),
      // decimal→integer CAST truncates toward zero (MySQL/reference
      // rule; the oracle spells trunc(), COMPAT #1)
      Cell("d_trunc", de.cast(LongType), "CAST(trunc(de) AS BIGINT)"),
      // modulo takes the dividend's sign on both engines (COMPAT #14)
      Cell("d_mod", sc % 700, "scents % 700"),
      // MySQL DIV truncates toward zero; DuckDB's // floors, so the
      // oracle spells the negative branch as -((-a) // b) (COMPAT #13)
      Cell("d_divq", expr("scents div qty"),
        "CASE WHEN scents >= 0 THEN scents // qty ELSE -((-scents) // qty) END"),
      // saturating narrow cast (reference dataconvert.cpp), as clamps
      Cell("d_sat", least(greatest(de, lit("-99999.99").cast(DecimalType(19, 2))),
          lit("99999.99").cast(DecimalType(19, 2))).cast(DecimalType(9, 2)).cast(StringType),
        """CAST(CAST(least(greatest(de, CAST('-99999.99' AS DECIMAL(19,2))),
          |    CAST('99999.99' AS DECIMAL(19,2))) AS DECIMAL(9,2)) AS VARCHAR)""".stripMargin),
      Cell("d_str", de.cast(StringType), "CAST(de AS VARCHAR)"),
      Cell("d_mul", (de * de).cast(DecimalType(38, 4)).cast(StringType),
        "CAST(CAST(de * de AS DECIMAL(38,4)) AS VARCHAR)"),
      Cell("d_wide", de.cast(DecimalType(38, 10)).cast(StringType),
        "CAST(CAST(de AS DECIMAL(38,10)) AS VARCHAR)"),
      Cell("d_abs", abs(de).cast(DecimalType(19, 2)).cast(StringType),
        "CAST(CAST(abs(de) AS DECIMAL(19,2)) AS VARCHAR)")))
  }

  /** Window × datatype EDGE battery: rank under order-by ties, IGNORE
    * NULLS first/last over minted nulls, typed lag/lead defaults,
    * bounded ROWS frames (including the empty-frame NULL), and a
    * 30-day RANGE frame over day-numbered dates. Partitioned by
    * (flag, orderkey % 32) so parallelism survives the window shuffle
    * at any scale — never a single global sort. */
  private def winEdge: (QFn, String) = {
    val de = col("de")
    // (orderkey, linenumber) is NOT unique in the fixture — de is the
    // final tie-breaker, after which tied rows agree on every
    // projected column, so any residual tie order is value-neutral
    val uniq = Window.partitionBy(col("pk"))
      .orderBy(col("sd"), col("l_orderkey"), col("l_linenumber"), de)
    val oUniq = "PARTITION BY pk ORDER BY sd, l_orderkey, l_linenumber, de"
    // REVERSED total order: a shrinking (current → unbounded
    // following) frame is O(n²) in Spark's window evaluator
    // (UnboundedFollowingWindowFunctionFrame recomputes per row); the
    // same row SET is the O(n) running frame of the reversed window.
    // 17.7 s → sub-second at sf0.1, measured.
    val uniqRev = Window.partitionBy(col("pk")).orderBy(col("sd").desc,
      col("l_orderkey").desc, col("l_linenumber").desc, de.desc)
    val ties = Window.partitionBy(col("pk")).orderBy(col("sd"))
    val oTies = "PARTITION BY pk ORDER BY sd"
    val ranged = Window.partitionBy(col("pk")).orderBy(col("days")).rangeBetween(-30, 0)
    val oRanged = "PARTITION BY pk ORDER BY days RANGE BETWEEN 30 PRECEDING AND CURRENT ROW"
    val start = Window.unboundedPreceding
    build(whole.copy(lets = Seq(
      Cell("pk", concat(col("l_returnflag"), lit("#"), col("l_orderkey") % 32),
        "l_returnflag || '#' || (l_orderkey % 32)"),
      // l_shipdate is a TIMESTAMP in the fixture: order by its DATE
      // cast — intra-day time would tie-break differently
      Cell("sd", col("l_shipdate").cast(DateType), "CAST(l_shipdate AS DATE)"),
      Cell("days", datediff(col("sd"), lit("1970-01-01").cast(DateType)),
        "(sd - DATE '1970-01-01')"),
      Cell("de", dec(col("l_extendedprice")), "CAST(l_extendedprice AS DECIMAL(18,2))"),
      // deterministic nulls: every third line number
      Cell("nv", when(col("l_linenumber") % 3 =!= 0, de),
        "CASE WHEN l_linenumber % 3 <> 0 THEN de END"))), Seq(
      Cell("w_rn", row_number().over(uniq).cast(LongType),
        s"CAST(row_number() OVER ($oUniq) AS BIGINT)"),
      Cell("w_rk", rank().over(ties).cast(LongType), s"CAST(rank() OVER ($oTies) AS BIGINT)"),
      Cell("w_drk", dense_rank().over(ties).cast(LongType),
        s"CAST(dense_rank() OVER ($oTies) AS BIGINT)"),
      // decimal window results string-rendered (#34); the windows
      // still order and evaluate on decimal
      Cell("w_lag2", lag(de, 2, null).over(uniq).cast(DecimalType(18, 2)).cast(StringType),
        s"CAST(CAST(lag(de, 2) OVER ($oUniq) AS DECIMAL(18,2)) AS VARCHAR)"),
      Cell("w_lag2_def", coalesce(lag(de, 2).over(uniq), lit("-1").cast(DecimalType(18, 2)))
          .cast(DecimalType(18, 2)).cast(StringType),
        s"""CAST(CAST(COALESCE(lag(de, 2) OVER ($oUniq), CAST('-1' AS DECIMAL(18,2)))
           |    AS DECIMAL(18,2)) AS VARCHAR)""".stripMargin),
      Cell("w_lead_dt", lead(col("sd"), 1).over(uniq), s"lead(sd, 1) OVER ($oUniq)"),
      Cell("w_fv_nn", first(col("nv"), ignoreNulls = true)
          .over(uniq.rowsBetween(start, Window.currentRow))
          .cast(DecimalType(18, 2)).cast(StringType),
        s"""CAST(CAST(first_value(nv IGNORE NULLS) OVER ($oUniq
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS VARCHAR)"""
          .stripMargin),
      Cell("w_lv_nn", first(col("nv"), ignoreNulls = true)
          .over(uniqRev.rowsBetween(start, Window.currentRow))
          .cast(DecimalType(18, 2)).cast(StringType),
        s"""CAST(CAST(last_value(nv IGNORE NULLS) OVER ($oUniq
           |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS DECIMAL(18,2)) AS VARCHAR)"""
          .stripMargin),
      Cell("w_nth2", nth_value(col("l_returnflag"), 2)
          .over(uniq.rowsBetween(start, Window.unboundedFollowing)),
        s"""nth_value(l_returnflag, 2) OVER ($oUniq
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin),
      Cell("w_cnt_after", count(lit(1)).over(uniqRev.rowsBetween(start, -1)),
        s"count(*) OVER ($oUniq ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)"),
      // empty frame at partition start → NULL sum on both engines
      Cell("w_sum_prev3", sum(de).over(uniq.rowsBetween(-3, -1))
          .cast(DecimalType(38, 2)).cast(StringType),
        s"""CAST(CAST(sum(de) OVER ($oUniq ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
           |    AS DECIMAL(38,2)) AS VARCHAR)""".stripMargin),
      Cell("w_min_dt30", min(col("sd")).over(ranged), s"min(sd) OVER ($oRanged)"),
      Cell("w_cnt30", count(lit(1)).over(ranged), s"count(*) OVER ($oRanged)")))
  }

  /** CAST matrix: source type → target type, completing the autopilot
    * cast grid the width ladder only sampled (reference
    * `func_cast.cpp` + `dataconvert.cpp`). Only conversions whose
    * result is cross-engine DEFINED: DOUBLE→string is excluded by
    * design (Java shortest-repr vs DuckDB formatting); decimal,
    * integer and date renderings are identical on both engines. */
  private def castMx: (QFn, String) = {
    val (de, dt, ts, st) = (col("de"), col("dt"), col("ts"), col("st"))
    val db = col("l_discount")
    build(sampled.copy(lets = Seq(
      Cell("i", (col("l_partkey") % 100000).cast(IntegerType),
        "CAST(l_partkey % 100000 AS BIGINT)"),
      Cell("de", dec(col("l_extendedprice")), "CAST(l_extendedprice AS DECIMAL(18,2))"),
      Cell("dt", col("l_shipdate").cast(DateType), "CAST(l_shipdate AS DATE)"),
      Cell("ts", date_trunc("second", col("l_shipdate")).cast(TimestampType),
        "date_trunc('second', l_shipdate)"),
      Cell("st", col("l_orderkey").cast(StringType), "CAST(l_orderkey AS VARCHAR)"))), Seq(
      // numeric → string (integer and full-scale decimal renderings)
      Cell("c_bi_str", st, "st"),
      Cell("c_de_str", de.cast(StringType), "CAST(de AS VARCHAR)"),
      // string → numeric (both engines trim surrounding whitespace)
      Cell("c_str_bi", st.cast(LongType), "CAST(st AS BIGINT)"),
      Cell("c_strsp_db", concat(lit("  "), st, lit(" ")).cast(DoubleType),
        "CAST('  ' || st || ' ' AS DOUBLE)"),
      Cell("c_lenient", MySqlFunctions.castSigned(concat(st, lit("kg"))),
        oCastSigned("st || 'kg'")),
      // MySQL DOUBLE→SIGNED rounds half away from zero where Spark
      // CAST truncates — spelled as a sign-split floor(x + 0.5)
      Cell("c_db_round_bi", when(db >= 0, floor(db * 100 + lit(0.5)))
          .otherwise(-floor(-db * 100 + lit(0.5))).cast(LongType),
        """CAST(CASE WHEN l_discount >= 0 THEN floor(l_discount * 100 + 0.5)
          |       ELSE -floor(-l_discount * 100 + 0.5) END AS BIGINT)""".stripMargin),
      // temporal ladder
      Cell("c_dt_str", dt.cast(StringType), "CAST(dt AS VARCHAR)"),
      // date→timestamp verified through the string rendering
      // ('yyyy-MM-dd 00:00:00' on both engines, #34)
      Cell("c_dt_ts", dt.cast(TimestampNTZType).cast(StringType),
        "CAST(CAST(dt AS TIMESTAMP) AS VARCHAR)"),
      Cell("c_ts_dt", ts.cast(DateType), "CAST(ts AS DATE)"),
      Cell("c_ts_str", date_format(ts, "yyyy-MM-dd HH:mm:ss"),
        "strftime(ts, '%Y-%m-%d %H:%M:%S')"),
      Cell("c_str_dt", dt.cast(StringType).cast(DateType), "CAST(CAST(dt AS VARCHAR) AS DATE)"),
      Cell("c_ts_epoch", unix_timestamp(ts), "CAST(epoch(ts) AS BIGINT)"),
      Cell("c_dt_days", datediff(dt, lit("1970-01-01").cast(DateType)).cast(IntegerType),
        "CAST(dt - DATE '1970-01-01' AS INT)"),
      // numeric cross-casts; narrow-decimal saturation as clamps
      Cell("c_i_dec72", least(greatest(col("i").cast(LongType), lit(-99999L)), lit(99999L))
          .cast(DecimalType(7, 2)).cast(StringType),
        "CAST(CAST(least(greatest(i, -99999), 99999) AS DECIMAL(7,2)) AS VARCHAR)"),
      Cell("c_de_db", de.cast(DoubleType), "CAST(de AS DOUBLE)"),
      Cell("c_db_dec4", db.cast(DecimalType(18, 4)).cast(StringType),
        "CAST(CAST(l_discount AS DECIMAL(18,4)) AS VARCHAR)"),
      Cell("c_bool", col("l_orderkey") % 2 === 1, "(l_orderkey % 2 = 1)"),
      Cell("c_bool_i", (col("l_orderkey") % 2 === 1).cast(IntegerType),
        "CAST(l_orderkey % 2 = 1 AS INT)")))
  }

  /** Polymorphic conditional/comparison battery: GREATEST / LEAST /
    * COALESCE / NULLIF / IF / CASE applied per TYPE over every
    * lineitem row (reference `func_greatest.cpp`, `func_if.cpp`,
    * `func_ifnull.cpp`, `func_case.cpp`). Spark's GREATEST/LEAST skip
    * NULLs where MySQL returns NULL, so every GREATEST/LEAST argument
    * here is a non-null column (NULL routing is tested via
    * NULLIF/COALESCE, whose semantics the engines share, COMPAT #30),
    * and cross-type coercion is spelled as explicit casts. */
  private def poly: (QFn, String) = {
    val (pm, sm, ln) = (col("pm"), col("sm"), col("ln"))
    val (de, dt) = (col("de"), col("dt"))
    build(whole.copy(lets = Seq(
      Cell("pm", col("l_partkey") % 97, "l_partkey % 97"),
      Cell("sm", col("l_suppkey") % 97, "l_suppkey % 97"),
      Cell("ln", col("l_linenumber").cast(LongType), "CAST(l_linenumber AS BIGINT)"),
      Cell("de", dec(col("l_extendedprice")), "CAST(l_extendedprice AS DECIMAL(18,2))"),
      Cell("q100", dec(col("l_quantity") * 100), "CAST(l_quantity * 100 AS DECIMAL(18,2))"),
      Cell("d10k", dec(col("l_discount") * 10000), "CAST(l_discount * 10000 AS DECIMAL(18,2))"),
      Cell("dt", col("l_shipdate").cast(DateType), "CAST(l_shipdate AS DATE)"))), Seq(
      Cell("p_great_i", greatest(pm, sm, ln), "greatest(pm, sm, ln)"),
      Cell("p_least_i", least(pm, sm, ln), "least(pm, sm, ln)"),
      // DuckDB promotes GREATEST over DECIMAL to DOUBLE — cast back
      // to the declared scale (COMPAT #29), string-rendered (#34)
      Cell("p_great_de", greatest(de, col("q100"), col("d10k")).cast(StringType),
        "CAST(CAST(greatest(de, q100, d10k) AS DECIMAL(18,2)) AS VARCHAR)"),
      Cell("p_least_db", least(d(de), col("l_quantity") * 100, col("l_tax") * 10000),
        "least(CAST(de AS DOUBLE), l_quantity * 100, l_tax * 10000)"),
      Cell("p_great_str", greatest(col("l_returnflag"), col("l_linestatus")),
        "greatest(l_returnflag, l_linestatus)"),
      // Spark add_months and DuckDB date ± INTERVAL n MONTH both clamp
      // to month end; DuckDB's result is cast back to DATE
      Cell("p_great_dt", greatest(dt, date_add(dt, col("l_linenumber")), add_months(dt, -1)),
        "greatest(dt, dt + l_linenumber, CAST(dt - INTERVAL 1 MONTH AS DATE))"),
      Cell("p_least_dt", least(dt, date_add(dt, col("l_linenumber")), add_months(dt, -1)),
        "least(dt, dt + l_linenumber, CAST(dt - INTERVAL 1 MONTH AS DATE))"),
      Cell("p_coalesce", coalesce(nullif(col("l_returnflag"), lit("N")),
          nullif(col("l_linestatus"), lit("O")), lit("Z")),
        "coalesce(nullif(l_returnflag, 'N'), nullif(l_linestatus, 'O'), 'Z')"),
      Cell("p_nullif", nullif(col("l_linenumber").cast(IntegerType), lit(3)),
        "nullif(CAST(l_linenumber AS INT), 3)"),
      Cell("p_if", when(col("l_quantity") > 25, lit("H")).otherwise(lit("L")),
        "CASE WHEN l_quantity > 25 THEN 'H' ELSE 'L' END"),
      Cell("p_case", when(col("l_linenumber") % 3 === 0, lit("a"))
          .when(col("l_linenumber") % 3 === 1, lit("b")).otherwise(lit("c")),
        "CASE WHEN l_linenumber % 3 = 0 THEN 'a' WHEN l_linenumber % 3 = 1 THEN 'b' ELSE 'c' END"),
      Cell("p_ifnull", coalesce(nullif(col("l_partkey") % 5, lit(0L)), lit(-1L)),
        "coalesce(nullif(l_partkey % 5, 0), -1)"),
      Cell("p_if_de", when(col("l_discount") > 0.05, de).otherwise(dec(lit(0))).cast(StringType),
        "CAST(CASE WHEN l_discount > 0.05 THEN de ELSE CAST(0 AS DECIMAL(18,2)) END AS VARCHAR)"),
      Cell("p_case_dt", when(month(dt) <= 6, dt).otherwise(add_months(dt, -6)),
        "CASE WHEN month(dt) <= 6 THEN dt ELSE CAST(dt - INTERVAL 6 MONTH AS DATE) END")))
  }

  /** Control probes for COMPAT.md divergence #34 (gate hasher vs
    * decimal128 / extreme-range temporal cells). Each emits ONE row
    * whose value is the same literal on both sides — trivially
    * bit-identical, no query logic in the blast radius, so a hash-red
    * gate result on a probe isolates the divergence to the gate's
    * canonicalization of that TYPE.
    *
    * OUTCOME HISTORY (keep current — a stale expectation here costs a
    * debug cycle): r9/r10 — 10 gate rows emitting raw decimal /
    * extreme temporals hashed RED while bit-exact replays showed 0
    * value diffs. r11 — BOTH probes hashed GREEN at the correctness gate:
    * the strong form of the r10 theory no longer reproduces. Policy:
    * the string-rendering discipline STAYS (cheap insurance, zero
    * semantic cost), and the probes STAY as the per-round canary — a
    * future RED on either isolates a gate-side canonicalization
    * change; GREEN means typed decimal/temporal output could in
    * principle be restored (COVERAGE.md tracks that call). */
  private def probes: Map[String, (QFn, String)] = Map(
    "q_probe_decimal" -> (((s, _) =>
      s.range(1).select(lit(1L).as("k"), lit("123.45").cast(DecimalType(18, 2)).as("v_dec"))): QFn,
      "SELECT CAST(1 AS BIGINT) AS k, CAST('123.45' AS DECIMAL(18,2)) AS v_dec"),
    "q_probe_ts9999" -> (((s, _) =>
      s.range(1).select(lit(1L).as("k"), lit("9999-12-31").cast(DateType).as("v_dt"))): QFn,
      "SELECT CAST(1 AS BIGINT) AS k, DATE '9999-12-31' AS v_dt"))

  private lazy val gen: Map[String, (QFn, String)] = probes ++ Map(
    "q_type_matrix_fnnum" -> build(sampled, numCells),
    "q_type_matrix_fnstr" -> build(sampled, strCells),
    "q_type_matrix_fndt" -> build(sampled, dtCells),
    "q_type_matrix_fncond" -> build(sampled, condCells),
    "q_type_matrix_fngrp" -> grpBattery,
    "q_type_matrix_fnwhere" -> whereBattery,
    "q_type_matrix_fnorder" -> orderBattery,
    "q_type_matrix_fnjoin" -> joinBattery,
    "q_type_matrix_fnhaving" -> havingBattery,
    "q_type_matrix_fnwinpart" -> winPartBattery,
    "q_type_matrix_mathedge" -> mathEdge,
    "q_type_matrix_num_v2" -> numV2,
    "q_type_matrix_datestr" -> dateStr,
    "q_type_matrix_agg_v2" -> aggV2,
    "q_type_matrix_null_v2" -> nullV2,
    "q_type_matrix_stredge" -> strEdge,
    "q_type_matrix_dtedge_v2" -> dtEdge,
    "q_type_matrix_decedge_v2" -> decEdge,
    "q_type_matrix_winedge_v2" -> winEdge,
    "q_type_matrix_castmx" -> castMx,
    "q_type_matrix_poly" -> poly)

  val queries: Map[String, QFn] = gen.map { case (n, (q, _)) => n -> q }
  val oracle: Map[String, String] = gen.map { case (n, (_, o)) => n -> o }
}
