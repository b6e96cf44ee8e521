package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.{Kpi, Normalize => N, SchemaResolver, TopK}

/** The join-based KPI config bodies [[Kpi]] replaced with one aggregation
  * over a union per config: each input aggregated on its own, then left
  * joins from the main input's sums (23-2: a store × month spine joined
  * to a pivot). Kept as the reference [[KpiUnionSpec]] compares against.
  */
object KpiJoinReference {
  import Kpi.S

  private def store(df: DataFrame): DataFrame = df.withColumn(S, trim(col(S)))

  private def config23Core(
      binds: DataFrame,
      cumulative: DataFrame,
      members: DataFrame,
      curYear: String,
      prevYear: String,
      parseMonths: Boolean,
      order24_1: Boolean): DataFrame = {
    val nb = if (parseMonths) Kpi.normBinds(binds) else Kpi.normBindsNoMonth(binds)
    val yearSums = nb
      .groupBy(col(S))
      .agg(
        sum(when(col("年度") === curYear, col("總綁定"))).as("cur"),
        sum(when(col("年度") === prevYear, col("總綁定"))).as("prev"))
      .filter(col("cur").isNotNull)
    val cum = store(N.trimHeaders(cumulative))
      .withColumn("c", N.zeroFill(N.toNumber(col("累計至今推薦人綁定人數"))))
      .groupBy(col(S)).agg(sum(col("c")).as("cum"))
    val mem = store(N.trimHeaders(members))
      .withColumn("m", N.zeroFill(N.toNumber(col("總會員數"))))
      .groupBy(col(S)).agg(sum(col("m")).as("mem"))
    val joined = yearSums
      .join(cum, Seq(S), "left")
      .join(mem, Seq(S), "left")
      .select(col(S), col("cur"),
        N.zeroFill(col("prev")).as("prev"),
        N.zeroFill(col("cum")).as("cum"),
        N.zeroFill(col("mem")).as("mem"))
    val out = joined.select(
      col(S),
      col("cur").as("區間推薦人綁定人數"),
      N.fmtPct(N.yoy(col("cur"), col("prev"))).as("區間推薦人綁定人數 YoY"),
      N.fmtPct(N.safeDiv(col("cum"), col("mem"))).as("推薦人綁定率"))
    if (order24_1)
      out.select(col(S), col("推薦人綁定率"), col("區間推薦人綁定人數"),
        col("區間推薦人綁定人數 YoY"))
    else out
  }

  def config23_1(binds: DataFrame, cumulative: DataFrame, members: DataFrame,
                 curYear: String = "2025", prevYear: String = "2024"): DataFrame =
    config23Core(binds, cumulative, members, curYear, prevYear,
      parseMonths = true, order24_1 = false)

  def config24_1(binds: DataFrame, cumulative: DataFrame, members: DataFrame,
                 curYear: String = "2025", prevYear: String = "2024"): DataFrame =
    config23Core(binds, cumulative, members, curYear, prevYear,
      parseMonths = false, order24_1 = true)

  def config23_2(binds: DataFrame, curYear: String = "2025",
                 prevYear: String = "2024"): DataFrame = {
    val spark = binds.sparkSession
    val f = Kpi.normBinds(binds).filter(col("年度").isin(prevYear, curYear))
    val pv = f.groupBy(col(S), col("月份"))
      .pivot("年度", Seq(prevYear, curYear)).sum("總綁定")
    val spine = f.select(col(S)).distinct()
      .crossJoin(broadcast(spark.range(1, 13).select(col("id").cast("int").as("月份"))))
    spine.join(pv, Seq(S, "月份"), "left")
      .select(col(S), col("月份"),
        N.zeroFill(col(prevYear)).as(s"${prevYear}年"),
        N.zeroFill(col(curYear)).as(s"${curYear}年"),
        N.fmtPct(N.yoy(N.zeroFill(col(curYear)), N.zeroFill(col(prevYear))))
          .as("推薦人新綁定數 YoY"))
  }

  def config24_2(firstByMonth: DataFrame, binds: DataFrame,
                 curYear: String = "2025"): DataFrame = {
    val fp = store(SchemaResolver.ensureMonthCol(N.trimHeaders(firstByMonth)))
      .withColumn("月份", N.parseMonth(col("月份")))
      .filter(col("月份").isNotNull)
      .withColumn("fp", N.zeroFill(N.toNumber(col("門市首購人數"))))
      .groupBy(col(S), col("月份")).agg(sum(col("fp")).as("門市首購人數"))
    val b = Kpi.normBinds(binds).filter(col("年度") === curYear)
      .groupBy(col(S), col("月份")).agg(sum(col("總綁定")).as("binds"))
    fp.join(b, Seq(S, "月份"), "left")
      .select(col(S), col("月份"), col("門市首購人數"),
        N.zeroFill(col("binds")).as("推薦人綁定數"),
        N.fmtPct(N.safeDiv(N.zeroFill(col("binds")), col("門市首購人數")))
          .as("推薦人綁定率"))
  }

  private def config25(firstByBranch: DataFrame, branchBinds: DataFrame,
                       year: String, bottom: Boolean): DataFrame = {
    val B = "門市名稱"
    val fp = store(SchemaResolver.ensureStoreNameCol(N.trimHeaders(firstByBranch)))
      .withColumn(B, N.nullifyTokens(col(B)))
      .filter(col(B).isNotNull)
      .withColumn("fp", N.zeroFill(N.toNumber(col("門市首購人數"))))
      .groupBy(col(S), col(B)).agg(sum(col("fp")).as("門市首購人數"))
    val bb = store(SchemaResolver.ensureStoreNameCol(N.trimHeaders(branchBinds)))
      .withColumn(B, N.nullifyTokens(col(B)))
      .filter(col(B).isNotNull)
      .filter(col("年度") === year)
      .withColumn("b", N.zeroFill(N.toNumber(col("總綁定數"))))
      .groupBy(col(S), col(B)).agg(sum(col("b")).as("binds"))
    val ratio = fp.join(bb, Seq(S, B), "left")
      .select(col(S), col(B), col("門市首購人數"),
        N.zeroFill(col("binds")).as("推薦人綁定人數"),
        N.safeDiv(N.zeroFill(col("binds")), col("門市首購人數")).as("_ratio"))
    val ranked =
      if (bottom) TopK.bottomK(ratio, Seq(col(S)), col("_ratio"), col(B), 5)
      else TopK.topK(ratio, Seq(col(S)), col("_ratio"), col(B), 5)
    ranked.select(col(S), col(B), col("門市首購人數"), col("推薦人綁定人數"),
      N.fmtPct(col("_ratio")).as("佔比"))
  }

  def config25_1(firstByBranch: DataFrame, branchBinds: DataFrame,
                 year: String = "2025"): DataFrame =
    config25(firstByBranch, branchBinds, year, bottom = false)

  def config25_2(firstByBranch: DataFrame, branchBinds: DataFrame,
                 year: String = "2025"): DataFrame =
    config25(firstByBranch, branchBinds, year, bottom = true)
}
