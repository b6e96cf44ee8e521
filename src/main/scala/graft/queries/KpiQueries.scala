package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Kpi, Tables}

/** The reference's six store-KPI configs ("23-1"…"25-2",
  * aggregate_by_store.py:109–723) run end-to-end through [[graft.etl.Kpi]]
  * on reference-shaped inputs fabricated deterministically from the
  * testdata — messy store keys (padding), heterogeneous month formats,
  * human-formatted numbers (split commas, whitespace, null tokens) and
  * alias headers, exactly the dirt FIXTURES.md §A prescribes.
  *
  * Each oracle replays the full semantics in SQL: fabrication →
  * `_to_number`/`_parse_month` normalization → year-string filters →
  * sums → left joins with fill-0 → null-on-zero-denominator rates →
  * `%.2f%%` formatting. A hash match here means the Chinese-schema KPI
  * engine is bit-compatible with the reference's contract.
  */
object KpiQueries {

  // ---- fabrication (Spark side) --------------------------------------

  private def messyMonth(ts: Column, k: Column): Column =
    when(k % 4 === 0, date_format(ts, "yyyyMM"))
      .when(k % 4 === 1, date_format(ts, "yyyy-MM"))
      .when(k % 4 === 2, month(ts).cast("string"))
      .otherwise(lit("n/a")) // dropped by the month-valid filter

  private def messyNum(v: Column, k: Column): Column =
    when(k % 3 === 0, v.cast("string"))
      .when(k % 3 === 1, concat(lit("  "), v.cast("string"), lit("  ")))
      .otherwise(concat(floor(v / 100).cast("long").cast("string"), lit(","),
        lpad(pmod(v, lit(100)).cast("string"), 2, "0")))

  private def messyStore(id: Column, k: Column): Column =
    when(k % 3 === 0, concat(lit(" "), id.cast("string"), lit(" ")))
      .otherwise(id.cast("string"))

  /** ~1/13 of year strings get a leading space: EXCLUDED by every
    * config's year filter — the reference compares raw (unstripped)
    * year strings everywhere (aggregate_by_store.py:138,143,265,
    * 346–347,483,568) — so the oracle actually exercises that contract.
    */
  private def messyYear(y: Column, k: Column): Column =
    when(k % 13 === 0, concat(lit(" "), y.cast("string")))
      .otherwise(y.cast("string"))

  /** A2 區間綁定推薦人人數 from orders. */
  private[graft] def fabBinds(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderdate"))
      .withColumn("_mv", pmod(col("o_orderkey"), lit(5000)))
      .select(
        messyStore(pmod(col("o_custkey"), lit(100)), col("o_orderkey")).as("商店序號"),
        messyYear(year(col("o_orderdate")), col("o_orderkey")).as("年度"),
        messyMonth(col("o_orderdate"), col("o_orderkey")).as("月份"),
        messyNum(col("_mv"), col("o_orderkey")).as("總綁定"))

  /** A3 累計至今綁定推薦人人數 from customer (with null tokens). */
  private[graft] def fabCumulative(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables.customer(s, d).select("c_custkey"))
      .withColumn("_mv", pmod(col("c_custkey"), lit(997)))
      .select(
        messyStore(pmod(col("c_custkey"), lit(100)), col("c_custkey")).as("商店序號"),
        when(pmod(col("c_custkey"), lit(5)) === 4, lit("nan"))
          .otherwise(messyNum(col("_mv"), col("c_custkey"))).as("累計至今推薦人綁定人數"))

  /** A4 member totals from customer. */
  private[graft] def fabMembers(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables.customer(s, d).select("c_custkey"))
      .withColumn("_mv", pmod(col("c_custkey"), lit(89)) + 10)
      .select(
        messyStore(pmod(col("c_custkey"), lit(100)), col("c_custkey") + 1).as("商店序號"),
        messyNum(col("_mv"), col("c_custkey")).as("總會員數"))

  /** A5 first purchases per month from orders — month under the
    * "Established At Month" alias header (exercises ensureMonthCol).
    */
  private[graft] def fabFirstByMonth(s: SparkSession, d: String): DataFrame =
    // year filter BELOW the spread: it prunes at the scan (PushedFilters)
    // and the checkpoint holds 1/7th of the rows
    Tables.spread(Tables.orders(s, d)
        .filter(year(col("o_orderdate")) === 2000)
        .select("o_orderkey", "o_custkey", "o_orderdate"))
      .withColumn("_mv", pmod(col("o_orderkey"), lit(37)))
      .select(
        messyStore(pmod(col("o_custkey"), lit(100)), col("o_orderkey")).as("商店序號"),
        messyMonth(col("o_orderdate"), col("o_orderkey") + 1).as("Established At Month"),
        messyNum(col("_mv"), col("o_orderkey")).as("門市首購人數"))

  /** A6 first purchases per branch from lineitem — name under the 門市
    * alias, with injected null tokens.
    */
  private[graft] def fabFirstByBranch(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables.lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_partkey", "l_linenumber"))
      .withColumn("_mv", col("l_linenumber").cast("long"))
      .select(
        messyStore(pmod(col("l_suppkey"), lit(20)), col("l_orderkey")).as("商店序號"),
        when(pmod(col("l_orderkey"), lit(11)) === 0, lit("NULL"))
          .otherwise(concat(lit("br_"), pmod(col("l_partkey"), lit(15)))).as("門市"),
        messyNum(col("_mv"), col("l_orderkey")).as("門市首購人數"))

  /** A7 cumulative binds per branch from lineitem — "Store Name" alias. */
  private[graft] def fabBranchBinds(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables.lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_partkey", "l_quantity"))
      .withColumn("_mv", col("l_quantity").cast("long"))
      .select(
        messyStore(pmod(col("l_suppkey"), lit(20)), col("l_orderkey") + 1).as("商店序號"),
        concat(lit("br_"), pmod(col("l_partkey"), lit(15))).as("Store Name"),
        when(pmod(col("l_partkey"), lit(2)) === 0, lit("2000")).otherwise(lit("1999")).as("年度"),
        messyNum(col("_mv"), col("l_orderkey") + 2).as("總綁定數"))

  // ---- fabrication + normalization (DuckDB side) ---------------------

  private def messyMonthSql(ts: String, k: String): String =
    s"""CASE ($k) % 4 WHEN 0 THEN strftime($ts, '%Y%m')
        WHEN 1 THEN strftime($ts, '%Y-%m')
        WHEN 2 THEN CAST(month($ts) AS VARCHAR) ELSE 'n/a' END"""

  private def messyNumSql(v: String, k: String): String =
    s"""CASE ($k) % 3 WHEN 0 THEN CAST($v AS VARCHAR)
        WHEN 1 THEN '  ' || CAST($v AS VARCHAR) || '  '
        ELSE CAST(($v) // 100 AS VARCHAR) || ',' || lpad(CAST(($v) % 100 AS VARCHAR), 2, '0') END"""

  private def messyStoreSql(id: String, k: String): String =
    s"CASE ($k) % 3 WHEN 0 THEN ' ' || CAST($id AS VARCHAR) || ' ' ELSE CAST($id AS VARCHAR) END"

  private def parseMonthSql(raw: String): String = OracleSql.parseMonthSql(raw)

  private def toNum0Sql(raw: String): String = OracleSql.toNum0Sql(raw)

  /** _fmt_pct of a null-on-zero-denominator ratio (:204–215); rounds to 2
    * decimals before printf (see Normalize.fmtPct's tie note). The
    * `+ 0.0` normalizes IEEE negative zero: DuckDB's round keeps the sign
    * of a tiny negative (printf → "-0.00%") while Spark's BigDecimal
    * round yields +0.0 ("0.00%").
    */
  private def pctSql(num: String, den: String): String =
    s"CASE WHEN ($den) IS NULL OR ($den) = 0 THEN '' ELSE printf('%.2f%%', round(($num) / ($den) * 100, 2) + 0.0) END"

  private def messyYearSql(y: String, k: String): String =
    s"CASE ($k) % 13 WHEN 0 THEN ' ' || CAST($y AS VARCHAR) ELSE CAST($y AS VARCHAR) END"

  private val bindsSql =
    s"""SELECT ${messyStoreSql("o_custkey % 100", "o_orderkey")} AS s,
               ${messyYearSql("year(o_orderdate)", "o_orderkey")} AS y,
               ${messyMonthSql("o_orderdate", "o_orderkey")} AS mo_raw,
               ${messyNumSql("o_orderkey % 5000", "o_orderkey")} AS v_raw
        FROM orders"""

  private val normBindsSql =
    s"""SELECT trim(s) AS s, y, ${parseMonthSql("mo_raw")} AS mo,
               ${toNum0Sql("v_raw")} AS v
        FROM ($bindsSql)
        WHERE ${parseMonthSql("mo_raw")} IS NOT NULL"""

  // ---- q18/q30: configs 23-1 / 24-1 ----------------------------------

  /** 24-1's A2 normalization: no month parse/filter (:342–346) and RAW
    * (untrimmed) year strings (:347–348) — mirrors Kpi.normBindsNoMonth.
    */
  private val normBindsNoMonthSql =
    s"""SELECT trim(s) AS s, y, ${toNum0Sql("v_raw")} AS v
        FROM ($bindsSql)"""

  /** Shared 23-1/24-1 oracle body over a normalized-binds CTE — the only
    * semantic difference between the configs is which `nb` feeds it
    * (column order differs too, but the driver compare is order-blind).
    */
  private def kpi23Sql(nbSql: String): String = s"""
      WITH nb AS ($nbSql),
      cur AS (SELECT s, sum(v) AS cur FROM nb WHERE y = '2000' GROUP BY 1),
      prev AS (SELECT s, sum(v) AS prev FROM nb WHERE y = '1999' GROUP BY 1),
      cum AS (
        SELECT trim(s) AS s, sum(v) AS cum FROM (
          SELECT ${messyStoreSql("c_custkey % 100", "c_custkey")} AS s,
                 ${toNum0Sql(s"CASE WHEN c_custkey % 5 = 4 THEN 'nan' ELSE ${messyNumSql("c_custkey % 997", "c_custkey")} END")} AS v
          FROM customer) GROUP BY 1),
      mem AS (
        SELECT trim(s) AS s, sum(v) AS mem FROM (
          SELECT ${messyStoreSql("c_custkey % 100", "c_custkey + 1")} AS s,
                 ${toNum0Sql(messyNumSql("c_custkey % 89 + 10", "c_custkey"))} AS v
          FROM customer) GROUP BY 1)
      SELECT cur.s AS "商店序號",
             cur.cur AS "區間推薦人綁定人數",
             ${pctSql("cur.cur - coalesce(prev.prev, 0)", "coalesce(prev.prev, 0)")} AS "區間推薦人綁定人數 YoY",
             ${pctSql("coalesce(cum.cum, 0)", "coalesce(mem.mem, 0)")} AS "推薦人綁定率"
      FROM cur
      LEFT JOIN prev ON prev.s = cur.s
      LEFT JOIN cum ON cum.s = cur.s
      LEFT JOIN mem ON mem.s = cur.s
    """

  private val q18 = Q(
    "q18_kpi_23_1",
    (s, d) => Kpi.config23_1(fabBinds(s, d), fabCumulative(s, d),
      fabMembers(s, d), curYear = "2000", prevYear = "1999"),
    Some(kpi23Sql(normBindsSql)))

  private val q30 = Q(
    "q30_kpi_24_1",
    (s, d) => Kpi.config24_1(fabBinds(s, d), fabCumulative(s, d),
      fabMembers(s, d), curYear = "2000", prevYear = "1999"),
    Some(kpi23Sql(normBindsNoMonthSql)))

  // ---- q19: config 23-2 ----------------------------------------------

  private val q19 = Q(
    "q19_kpi_23_2",
    (s, d) => Kpi.config23_2(fabBinds(s, d), curYear = "2000", prevYear = "1999"),
    Some(s"""
      WITH nb AS ($normBindsSql),
      f AS (SELECT * FROM nb WHERE y IN ('1999', '2000')),
      pv AS (SELECT s, mo,
                    sum(CASE WHEN y = '1999' THEN v END) AS p,
                    sum(CASE WHEN y = '2000' THEN v END) AS c
             FROM f GROUP BY 1, 2),
      spine AS (SELECT DISTINCT s FROM f),
      m AS (SELECT CAST(gs AS INTEGER) AS mo FROM generate_series(1, 12) t(gs))
      SELECT spine.s AS "商店序號", m.mo AS "月份",
             coalesce(pv.p, 0) AS "1999年",
             coalesce(pv.c, 0) AS "2000年",
             ${pctSql("coalesce(pv.c, 0) - coalesce(pv.p, 0)", "coalesce(pv.p, 0)")} AS "推薦人新綁定數 YoY"
      FROM spine CROSS JOIN m
      LEFT JOIN pv ON pv.s = spine.s AND pv.mo = m.mo
    """))

  // ---- q20: config 24-2 ----------------------------------------------

  private val q20 = Q(
    "q20_kpi_24_2",
    (s, d) => Kpi.config24_2(fabFirstByMonth(s, d), fabBinds(s, d), curYear = "2000"),
    Some(s"""
      WITH fpRaw AS (
        SELECT ${messyStoreSql("o_custkey % 100", "o_orderkey")} AS s,
               ${messyMonthSql("o_orderdate", "o_orderkey + 1")} AS mo_raw,
               ${messyNumSql("o_orderkey % 37", "o_orderkey")} AS v_raw
        FROM orders WHERE year(o_orderdate) = 2000),
      fp AS (SELECT trim(s) AS s, ${parseMonthSql("mo_raw")} AS mo,
                    ${toNum0Sql("v_raw")} AS v
             FROM fpRaw WHERE ${parseMonthSql("mo_raw")} IS NOT NULL),
      fpa AS (SELECT s, mo, sum(v) AS fp FROM fp GROUP BY 1, 2),
      nb AS ($normBindsSql),
      b AS (SELECT s, mo, sum(v) AS binds FROM nb WHERE y = '2000' GROUP BY 1, 2)
      SELECT fpa.s AS "商店序號", fpa.mo AS "月份",
             fpa.fp AS "門市首購人數",
             coalesce(b.binds, 0) AS "推薦人綁定數",
             ${pctSql("coalesce(b.binds, 0)", "fpa.fp")} AS "推薦人綁定率"
      FROM fpa LEFT JOIN b ON b.s = fpa.s AND b.mo = fpa.mo
    """))

  // ---- q21/q22: configs 25-1 / 25-2 ----------------------------------

  private def kpi25Sql(dir: String): String = {
    val nullTokens = graft.etl.Normalize.nullTokens.map(t => s"'$t'").mkString(", ")
    s"""
      WITH fpRaw AS (
        SELECT ${messyStoreSql("l_suppkey % 20", "l_orderkey")} AS s,
               CASE WHEN l_orderkey % 11 = 0 THEN 'NULL'
                    ELSE 'br_' || CAST(l_partkey % 15 AS VARCHAR) END AS b_raw,
               ${messyNumSql("CAST(l_linenumber AS BIGINT)", "l_orderkey")} AS v_raw
        FROM lineitem),
      fp AS (SELECT trim(s) AS s,
                    CASE WHEN trim(b_raw) IN ($nullTokens) THEN NULL ELSE trim(b_raw) END AS b,
                    ${toNum0Sql("v_raw")} AS v
             FROM fpRaw),
      fpa AS (SELECT s, b, sum(v) AS fp FROM fp WHERE b IS NOT NULL GROUP BY 1, 2),
      bbRaw AS (
        SELECT ${messyStoreSql("l_suppkey % 20", "l_orderkey + 1")} AS s,
               'br_' || CAST(l_partkey % 15 AS VARCHAR) AS b_raw,
               CASE WHEN l_partkey % 2 = 0 THEN '2000' ELSE '1999' END AS y,
               ${messyNumSql("CAST(l_quantity AS BIGINT)", "l_orderkey + 2")} AS v_raw
        FROM lineitem),
      bb AS (SELECT trim(s) AS s,
                    CASE WHEN trim(b_raw) IN ($nullTokens) THEN NULL ELSE trim(b_raw) END AS b,
                    ${toNum0Sql("v_raw")} AS v
             FROM bbRaw WHERE y = '2000'),
      bba AS (SELECT s, b, sum(v) AS binds FROM bb WHERE b IS NOT NULL GROUP BY 1, 2),
      r AS (
        SELECT fpa.s, fpa.b, fpa.fp, coalesce(bba.binds, 0) AS binds,
               CASE WHEN fpa.fp <> 0 THEN coalesce(bba.binds, 0) / fpa.fp END AS ratio
        FROM fpa LEFT JOIN bba ON bba.s = fpa.s AND bba.b = fpa.b),
      k AS (SELECT *, CAST(row_number() OVER (
                   PARTITION BY s ORDER BY ratio $dir, b ASC) AS INTEGER) AS rnk
            FROM r)
      SELECT s AS "商店序號", b AS "門市名稱", fp AS "門市首購人數",
             binds AS "推薦人綁定人數",
             CASE WHEN ratio IS NULL THEN '' ELSE printf('%.2f%%', round(ratio * 100, 2) + 0.0) END AS "佔比"
      FROM k WHERE rnk <= 5
    """
  }

  private val q21 = Q(
    "q21_kpi_25_1",
    (s, d) => Kpi.config25_1(fabFirstByBranch(s, d), fabBranchBinds(s, d), year = "2000"),
    Some(kpi25Sql("DESC")))

  private val q22 = Q(
    "q22_kpi_25_2",
    (s, d) => Kpi.config25_2(fabFirstByBranch(s, d), fabBranchBinds(s, d), year = "2000"),
    Some(kpi25Sql("ASC")))

  // ---- q32: generic config-driven aggregation (the extensibility path) -

  /** Config-23-2-shaped declared-metadata input (aggregate_by_store.py:
    * 44–54: store_id / yyyymm / visit_count English columns): raw yyyymm
    * strings (the generic path matches them by string equality, no
    * parsing), padded and null-token values for the bare coercion.
    */
  private[graft] def fabVisits(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderdate"))
      .select(
        pmod(col("o_custkey"), lit(100)).cast("string").as("store_id"),
        date_format(col("o_orderdate"), "yyyyMM").as("yyyymm"),
        when(pmod(col("o_orderkey"), lit(7)) === 0, lit("nan"))
          .otherwise(concat(lit(" "), pmod(col("o_orderkey"), lit(50)), lit(" ")))
          .as("visit_count"))

  private val q32 = Q(
    "q32_generic_config",
    (s, d) => Kpi.generic(fabVisits(s, d), "store_id", "yyyymm", "visit_count",
      months = (1 to 12).map(m => f"1996$m%02d")),
    Some(s"""
      WITH src AS (
        SELECT CAST(o_custkey % 100 AS VARCHAR) AS store_id,
               strftime(o_orderdate, '%Y%m') AS yyyymm,
               CASE WHEN o_orderkey % 7 = 0 THEN 'nan'
                    ELSE ' ' || CAST(o_orderkey % 50 AS VARCHAR) || ' ' END AS visit_count
        FROM orders)
      SELECT store_id, sum(${OracleSql.bareNum0Sql("visit_count")}) AS total
      FROM src
      WHERE yyyymm IN (${(1 to 12).map(m => f"'1996$m%02d'").mkString(", ")})
      GROUP BY 1
    """))

  def all: Seq[Q] = Seq(q18, q19, q20, q21, q22, q30, q32)
}
