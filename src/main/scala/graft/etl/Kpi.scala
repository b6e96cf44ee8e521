package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.etl.{Normalize => N}

/** The reference's six store-KPI analytics ("23-1"…"25-2",
  * aggregate_by_store.py:109–723) as reusable DataFrame programs over
  * reference-shaped inputs (all-string BI exports with Chinese headers —
  * FIXTURES.md §A).
  *
  * Input contracts (columns may be messy; every function normalizes):
  *   - binds (A2 區間綁定推薦人人數): 商店序號, 年度, 月份, 總綁定
  *   - cumulative (A3): 商店序號, 累計至今推薦人綁定人數
  *   - members (A4): 商店序號, 總會員數
  *   - firstByMonth (A5): 商店序號, 月份(aliases), 門市首購人數
  *   - firstByBranch (A6): 商店序號, 門市名稱(aliases), 門市首購人數
  *   - branchBinds (A7): 商店序號, 門市名稱(aliases), 年度, 總綁定數
  *
  * Null/zero duality is the reference's exact contract (SURVEY.md §7.4):
  * missing measures fill 0 (aggregate_by_store.py:135, 201–202), zero
  * denominators yield null rendered "" by the pct formatter (:168–170,
  * 204–206, 209–215). Years compare as strings (:137–145).
  *
  * Scale: each config is filter → ONE hash-aggregation over the union of
  * its inputs (each input fills its own measure slots; no per-input
  * aggregates joined back) → window top-k for 25-x; no driver-side loops
  * (the reference's per-store Python loops become partitioned writes /
  * windows). The result stays hash-partitioned by store, which
  * [[graft.sources.FanOut.writeKeyed]] reuses: one shuffle per config for
  * 23-1, 23-2 and 24-1, two for 24-2 and 25-x (aggregate by (store,
  * month or branch), then by store).
  */
object Kpi {

  val S = "商店序號" // store id (fan_out_by_storeid.py:22)

  private def store(df: DataFrame): DataFrame =
    df.withColumn(S, trim(col(S)))

  /** A numeric cell: cleaned, parsed, a missing value 0. */
  private def measure(c: String): Column = N.zeroFill(N.toNumber(col(c)))

  /** A double null: the measure slot a union branch does not fill. */
  private val none = lit(null).cast("double")

  /** Drop the side rows without a store: in a left join from the main
    * input they matched no row, so they add to no store's sums.
    */
  private def keyed(df: DataFrame): DataFrame = df.filter(col(S).isNotNull)

  /** A2 normalization: trimmed store, parsed month 1..12, numeric bind.
    * The year column stays RAW — the reference never strips it in any
    * config (aggregate_by_store.py:138,143,265,346–347,483,568 all
    * compare unstripped strings; only store/branch columns get
    * `.str.strip()`), so a padded `" 2025"` row never matches a year
    * filter here either.
    */
  def normBinds(binds: DataFrame): DataFrame =
    store(Normalize.trimHeaders(binds))
      .withColumn("月份", N.parseMonth(col("月份")))
      .filter(col("月份").isNotNull)
      .withColumn("總綁定", measure("總綁定"))

  /** A2 normalization for config 24-1 (aggregate_by_store.py:342–346):
    * like [[normBinds]] but WITHOUT the month parse/filter — 24-1 sums
    * every row of the year slice, including unparseable months. Year
    * strings stay raw in both (see [[normBinds]]).
    */
  def normBindsNoMonth(binds: DataFrame): DataFrame =
    store(Normalize.trimHeaders(binds))
      .withColumn("總綁定", measure("總綁定"))

  /** Shared 23-1 / 24-1 body: ONE `groupBy(S)` over the union of the
    * three inputs, each filling its own measure slots
    * (`cur`, `prev` | `cum` | `mem`), instead of three aggregates and two
    * left joins. A store "has current-year data" ⟺ its cur-sum is
    * non-null, because zeroFill makes every bind row's measure non-null;
    * cumulative and member rows add nulls there, so a store they alone
    * name is dropped, as the left join from the year sums dropped it.
    */
  private def config23Core(
      binds: DataFrame,
      cumulative: DataFrame,
      members: DataFrame,
      curYear: String,
      prevYear: String,
      parseMonths: Boolean,
      order24_1: Boolean): DataFrame = {
    val nb = if (parseMonths) normBinds(binds) else normBindsNoMonth(binds)
    val rows = nb
      .select(col(S),
        when(col("年度") === curYear, col("總綁定")),
        when(col("年度") === prevYear, col("總綁定")), none, none)
      .union(keyed(store(Normalize.trimHeaders(cumulative)))
        .select(col(S), none, none, measure("累計至今推薦人綁定人數"), none))
      .union(keyed(store(Normalize.trimHeaders(members)))
        .select(col(S), none, none, none, measure("總會員數")))
      .toDF(S, "cur", "prev", "cum", "mem")
    val sums = rows
      .groupBy(col(S))
      .agg(sum("cur").as("cur"), sum("prev").as("prev"), sum("cum").as("cum"), sum("mem").as("mem"))
      .filter(col("cur").isNotNull) // = stores with cur-year rows
      .select(col(S), col("cur"),
        N.zeroFill(col("prev")).as("prev"),
        N.zeroFill(col("cum")).as("cum"),
        N.zeroFill(col("mem")).as("mem"))
    val out = sums.select(
      col(S),
      col("cur").as("區間推薦人綁定人數"),
      N.fmtPct(N.yoy(col("cur"), col("prev"))).as("區間推薦人綁定人數 YoY"),
      N.fmtPct(N.safeDiv(col("cum"), col("mem"))).as("推薦人綁定率"))
    if (order24_1)
      out.select(col(S), col("推薦人綁定率"), col("區間推薦人綁定人數"),
        col("區間推薦人綁定人數 YoY"))
    else out
  }

  /** Config 23-1 (aggregate_by_store.py:109–236): interval binds + YoY +
    * binding rate; months normalized to 1..12 and out-of-range rows
    * dropped (:126–134).
    */
  def config23_1(
      binds: DataFrame,
      cumulative: DataFrame,
      members: DataFrame,
      curYear: String = "2025",
      prevYear: String = "2024"): DataFrame =
    config23Core(binds, cumulative, members, curYear, prevYear,
      parseMonths = true, order24_1 = false)

  /** Config 24-1 (aggregate_by_store.py:320–419): the same KPIs as 23-1
    * but with NO month normalization/filter (:342–346 — every row of the
    * year slice counts, unparseable months included) and the
    * 推薦人綁定率-first column order (:400–405).
    */
  def config24_1(
      binds: DataFrame,
      cumulative: DataFrame,
      members: DataFrame,
      curYear: String = "2025",
      prevYear: String = "2024"): DataFrame =
    config23Core(binds, cumulative, members, curYear, prevYear,
      parseMonths = false, order24_1 = true)

  /** The generic config-driven aggregation path (aggregate_by_store.py:
    * 725–762) — the reference's declared extensibility contract, reachable
    * for any config key without a dedicated block: bare numeric coercion +
    * fill-0 on the target column (:736–739, plain `pd.to_numeric`, no
    * thousands-separator cleanup), months-set membership on the RAW month
    * strings (:742 — string equality, no parsing), then groupby-sum per
    * store renamed `total` (:745–748).
    */
  def generic(
      df: DataFrame,
      storeCol: String,
      monthCol: String,
      targetCol: String,
      months: Seq[String]): DataFrame =
    df.filter(col(monthCol).isin(months: _*))
      .groupBy(col(storeCol))
      .agg(sum(N.zeroFill(N.bareNumber(col(targetCol)))).as("total"))

  /** Config 23-2 (aggregate_by_store.py:239–317): per-month pivot of two
    * years, months densified 1..12 per store, per-month YoY.
    *
    * ONE `groupBy(S)` of 24 conditional sums (month × year), exploded into
    * the store's 12 month rows: no spine, pivot or join. A null store
    * gets its 12 rows with zeros, as its spine rows found no pivot row in
    * a join on the store.
    */
  def config23_2(
      binds: DataFrame,
      curYear: String = "2025",
      prevYear: String = "2024"): DataFrame = {
    val f = normBinds(binds).filter(col("年度").isin(prevYear, curYear))
    val months = 1 to 12
    val years = Seq(prevYear -> "prev", curYear -> "cur")
    val slots = for ((y, t) <- years; m <- months)
      yield sum(when(col("年度") === y && col("月份") === m, col("總綁定"))).as(s"$t$m")
    def filled(t: String, m: Int) = N.zeroFill(when(col(S).isNotNull, col(s"$t$m")))
    f.groupBy(col(S)).agg(slots.head, slots.tail: _*)
      .select(col(S), explode(array(months.map(m => struct(lit(m).as("月份"),
        filled("prev", m).as("prev"), filled("cur", m).as("cur"))): _*)).as("m"))
      .select(col(S), col("m.月份").as("月份"),
        col("m.prev").as(s"${prevYear}年"),
        col("m.cur").as(s"${curYear}年"),
        N.fmtPct(N.yoy(col("m.cur"), col("m.prev"))).as("推薦人新綁定數 YoY"))
  }

  /** Config 24-2 (aggregate_by_store.py:422–510): first purchases vs
    * referral binds per (store, month) with monthly binding rate.
    *
    * ONE `groupBy(S, 月份)` over the union of both inputs; a group is
    * kept iff it has first-purchase rows (their zero-filled sum is
    * non-null), as the left join from the first-purchase sums kept it.
    */
  def config24_2(
      firstByMonth: DataFrame,
      binds: DataFrame,
      curYear: String = "2025"): DataFrame = {
    val fp = store(SchemaResolver.ensureMonthCol(Normalize.trimHeaders(firstByMonth)))
      .withColumn("月份", N.parseMonth(col("月份")))
      .filter(col("月份").isNotNull)
      .select(col(S), col("月份"), measure("門市首購人數"), none)
    val b = keyed(normBinds(binds).filter(col("年度") === curYear))
      .select(col(S), col("月份"), none, col("總綁定"))
    fp.union(b).toDF(S, "月份", "fp", "b")
      .groupBy(col(S), col("月份")).agg(sum("fp").as("門市首購人數"), sum("b").as("binds"))
      .filter(col("門市首購人數").isNotNull)
      .select(col(S), col("月份"), col("門市首購人數"),
        N.zeroFill(col("binds")).as("推薦人綁定數"),
        N.fmtPct(N.safeDiv(N.zeroFill(col("binds")), col("門市首購人數")))
          .as("推薦人綁定率"))
  }

  /** Shared 25-x body (aggregate_by_store.py:513–611, 614–723): per-branch
    * first purchases vs cumulative binds, ratio, per-store top/bottom-5.
    * ONE `groupBy(S, 門市名稱)` over the union of both inputs, kept iff
    * the branch has first-purchase rows (as in [[config24_2]]).
    */
  private def config25(
      firstByBranch: DataFrame,
      branchBinds: DataFrame,
      year: String,
      bottom: Boolean): DataFrame = {
    val B = "門市名稱"
    def branches(df: DataFrame) =
      store(SchemaResolver.ensureStoreNameCol(Normalize.trimHeaders(df)))
        .withColumn(B, N.nullifyTokens(col(B)))
        .filter(col(B).isNotNull)
    val fp = branches(firstByBranch)
      .select(col(S), col(B), measure("門市首購人數"), none)
    val bb = keyed(branches(branchBinds))
      .filter(col("年度") === year) // raw compare (aggregate_by_store.py:568,680)
      .select(col(S), col(B), none, measure("總綁定數"))
    val ratio = fp.union(bb).toDF(S, B, "fp", "b")
      .groupBy(col(S), col(B)).agg(sum("fp").as("門市首購人數"), sum("b").as("binds"))
      .filter(col("門市首購人數").isNotNull)
      .select(col(S), col(B), col("門市首購人數"),
        N.zeroFill(col("binds")).as("推薦人綁定人數"),
        N.safeDiv(N.zeroFill(col("binds")), col("門市首購人數")).as("_ratio"))
    // deterministic tie-break on branch name (SURVEY.md §2.5: the
    // reference's unstable pandas sort is pinned to a total order)
    val ranked =
      if (bottom) TopK.bottomK(ratio, Seq(col(S)), col("_ratio"), col(B), 5)
      else TopK.topK(ratio, Seq(col(S)), col("_ratio"), col(B), 5)
    ranked.select(col(S), col(B), col("門市首購人數"), col("推薦人綁定人數"),
      N.fmtPct(col("_ratio")).as("佔比"))
  }

  /** Config 25-1: top-5 branches per store by 佔比 DESC (:593–594). */
  def config25_1(firstByBranch: DataFrame, branchBinds: DataFrame,
                 year: String = "2025"): DataFrame =
    config25(firstByBranch, branchBinds, year, bottom = false)

  /** Config 25-2: bottom-5 branches per store by 佔比 ASC (:705–706). */
  def config25_2(firstByBranch: DataFrame, branchBinds: DataFrame,
                 year: String = "2025"): DataFrame =
    config25(firstByBranch, branchBinds, year, bottom = true)
}
