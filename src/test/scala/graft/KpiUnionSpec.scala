package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.Kpi
import graft.sources.FanOut

/** [[Kpi]]'s configs aggregate a union of their inputs once per config.
  * They must keep the rows of the join-based bodies ([[KpiJoinReference]])
  * on messy inputs, and the per-store write must reuse their partitioning.
  */
class KpiUnionSpec extends SparkSpec {
  import spark.implicits._

  private val S = Kpi.S

  /** The six inputs with padded, blank and null stores, padded and
    * unparseable years and months, measures with separators, percent
    * signs, 'nan', infinity and junk, null-token branch names, and padded
    * headers.
    */
  private def messy(seed: Long, n: Int) = {
    val r = new Random(seed)
    def pick[T](xs: T*): T = xs(r.nextInt(xs.length))
    def store = pick("s1", " s1", "s2 ", "s3", "s4", "s5", "", "  ", null)
    def year = pick("2025", "2024", " 2025", "2023", "", null)
    def month = pick("1", "01", "202503", "2025-12", "12", "7 ", "2024/06", "13", "0", "abc", null)
    def measure = pick("1", "2", "3", "1,000", " 5 ", "-3", "0.5", "12%", "", "nan", "inf", "x", null)
    def branch = pick("A", " A", "B", "C", "D", "E", "F", "G", "nan", "", null)
    def rows[T](f: => T) = Seq.fill(n)(f)
    (rows((store, year, month, measure)).toDF(s" $S", "年度", "月份 ", "總綁定"),
      rows((store, measure)).toDF(S, " 累計至今推薦人綁定人數"),
      rows((store, measure)).toDF(S, "總會員數"),
      rows((store, month, measure)).toDF(S, "月份", "門市首購人數"),
      rows((store, branch, measure)).toDF(S, "門市名稱", "門市首購人數"),
      rows((store, branch, year, measure)).toDF(S, " 門市名稱", "年度", "總綁定數"))
  }

  private type Configs = Seq[(String, DataFrame)]

  private def configs(seed: Long, n: Int): (Configs, Configs) = {
    val (binds, cum, mem, fpMonth, fpBranch, branchBinds) = messy(seed, n)
    val R = KpiJoinReference
    (Seq("23-1" -> Kpi.config23_1(binds, cum, mem), "23-2" -> Kpi.config23_2(binds),
      "24-1" -> Kpi.config24_1(binds, cum, mem), "24-2" -> Kpi.config24_2(fpMonth, binds),
      "25-1" -> Kpi.config25_1(fpBranch, branchBinds), "25-2" -> Kpi.config25_2(fpBranch, branchBinds)),
      Seq(R.config23_1(binds, cum, mem), R.config23_2(binds), R.config24_1(binds, cum, mem),
        R.config24_2(fpMonth, binds), R.config25_1(fpBranch, branchBinds),
        R.config25_2(fpBranch, branchBinds)).map("" -> _))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  test("property: every config keeps the join-based rows on messy inputs") {
    val differ = for {
      seed <- Seq(1L, 7L, 42L, 1001L)
      (got, want) = configs(seed, 300)
      ((k, g), (_, w)) <- got.zip(want)
      (gr, wr) = (rows(g), rows(w))
      if g.schema.map(f => f.name -> f.dataType) != w.schema.map(f => f.name -> f.dataType) ||
        gr.isEmpty || gr != wr
    } yield s"seed $seed, $k: ${gr.diff(wr).take(3)} want ${wr.diff(gr).take(3)}"
    assert(differ.isEmpty, differ.mkString("\n"))
  }

  test("each config and its per-store write run one shuffle per aggregation") {
    val out = Files.createTempDirectory("kpi_shuffles").toString
    val (got, _) = configs(5, 100)
    val shuffles = got.map { case (k, df) =>
      val order = if (graft.cli.AggregateMain.byMonth(k)) col("月份") else lit(0)
      k -> shufflesOf(FanOut.writeKeyed(df, S, out, k, bom = true, order = order))
    }
    assert(shuffles == Seq("23-1" -> 1, "23-2" -> 1, "24-1" -> 1, "24-2" -> 2, "25-1" -> 2, "25-2" -> 2))
  }
}
