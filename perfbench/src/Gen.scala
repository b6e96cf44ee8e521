package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.sources.CsvGen

/** Seeded inputs for the ETL workloads, plus everything the correctness
  * checks need to know about them. The program under test only ever
  * sees the files written here.
  */
object Gen {

  val Key = "商店序號"

  /** The six `aggregate/` files, in PresenceMain's dataset order. */
  val AggFiles: Seq[String] = Seq(
    "區間綁定推薦人人數.csv",
    "累計至今綁定推薦人人數.csv",
    "14-1.會員成長趨勢_新增註冊會員數卡片.csv",
    "門市首購人數_月份.csv",
    "門市首購人數_門市.csv",
    "各門市累計綁定人數.csv")

  val Configs: Seq[String] = Seq("23-1", "23-2", "24-1", "24-2", "25-1", "25-2")

  /** What the generator knows about the aggregate inputs.
    *
    * @param stores       config key → stores that must get a `{store}/{K}.csv`
    * @param probe        the PresenceMain store
    * @param probeRows    rows of `probe` in each file of [[AggFiles]]
    */
  final case class AggExpect(
      stores: Map[String, Set[String]],
      probe: String,
      probeRows: Seq[Long])

  /** Input sizes, for the artifact's input stamp. */
  final case class Stamp(files: Int, rows: Long, bytes: Long)

  // ---- fan-out inputs ------------------------------------------------

  /** Seeded stratified draw of `n` integers spread over [lo, hi]: file i
    * takes a value from the i-th of n equal strata, in shuffled order, so
    * the total is nearly the same for every seed while each file's value
    * still varies. Keeps run-to-run spread down without fixing sizes.
    */
  private def strata(r: Random, n: Int, lo: Int, hi: Int): Seq[Int] =
    r.shuffle((0 until n).map(i => lo + ((hi - lo + 1) * (i + r.nextDouble()) / n).toInt))

  /** Exactly half the files (a seeded choice) get the meta prefix row. */
  private def halfWithPrefix(r: Random, n: Int): Seq[Boolean] =
    r.shuffle((0 until n).map(_ < n / 2))

  private val Meta = "Report Generated,2025-01-01"

  /** etl-ref's fan-out input, written by the program's own CsvGen
    * (csv_gen.py's shape: inconsistent schemas, 1k–10k rows, 3–10
    * columns, a meta row on half the files). CsvGen draws each file's
    * size independently, which on a handful of files makes the total
    * swing by a fifth between seeds; so each file is one CsvGen call with
    * its row and column counts drawn from [[strata]], and the meta row
    * is set on exactly half of them.
    */
  def csvGenInput(dir: Path, seed: Long, nFiles: Int, nStores: Int): Unit = {
    Files.createDirectories(dir)
    val r = new Random(seed)
    val rows = strata(r, nFiles, 1000, 10000)
    val cols = strata(r, nFiles, 3, 10)
    val meta = halfWithPrefix(r, nFiles)
    val one = Files.createTempDirectory(dir.getParent, "csvgen")
    (0 until nFiles).foreach { f =>
      CsvGen.generate(one, CsvGen.Config(nFiles = 1, minRows = rows(f), maxRows = rows(f),
        nStores = nStores, seed = r.nextLong(), minCols = cols(f), maxCols = cols(f)))
      val body = Files.readAllLines(one.resolve("data_00.csv"), UTF_8).asScala
        .dropWhile(_ == Meta)
      val lines = if (meta(f)) Meta +: body else body
      Files.write(dir.resolve(f"data_$f%02d.csv"), (lines.mkString("\n") + "\n").getBytes(UTF_8))
      Files.delete(one.resolve("data_00.csv"))
    }
    Files.delete(one)
  }

  /** etl-wide's fan-out input: many small files (20–200 rows, stratified
    * as in [[csvGenInput]]) whose headers come from `nTemplates`
    * templates, each template used by the same number of files and
    * holding the key at a different position, half of the files behind a
    * BI meta prefix row.
    */
  def wideInput(dir: Path, seed: Long, nFiles: Int, nTemplates: Int, nStores: Int): Unit = {
    Files.createDirectories(dir)
    val r = new Random(seed)
    val templates = (0 until nTemplates).map { t =>
      val extra = Seq("日期", "品項", "數量", "金額", "通路", "會員", "備註")
        .take(2 + t % 4).map(c => s"${c}_$t")
      val pos = t % (extra.length + 1)
      (extra.take(pos) :+ Key) ++ extra.drop(pos)
    }
    val rows = strata(r, nFiles, 20, 200)
    val meta = halfWithPrefix(r, nFiles)
    val tpl = r.shuffle((0 until nFiles).map(_ % templates.length))
    (0 until nFiles).foreach { f =>
      val cols = templates(tpl(f))
      val sb = new StringBuilder
      if (meta(f)) sb.append(Meta).append('\n')
      sb.append(cols.mkString(",")).append('\n')
      (0 until rows(f)).foreach { _ =>
        sb.append(cols.map { c =>
          if (c == Key) s"S${1 + r.nextInt(nStores)}" else r.nextInt(100000).toString
        }.mkString(",")).append('\n')
      }
      Files.write(dir.resolve(f"wide_$f%03d.csv"), sb.result().getBytes(UTF_8))
    }
  }

  /** Data rows per (store, source) in a fan-out input directory, read back
    * from the files themselves: the header is the first line holding the
    * key column, and keys are trimmed, blank ones dropped — the fan-out's
    * contract. Cells never contain quotes or commas in these inputs.
    */
  def fanoutCounts(dir: Path): (Map[(String, String), Long], Map[String, Int]) = {
    val counts = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    val prefix = mutable.Map.empty[String, Int]
    listCsv(dir).foreach { p =>
      val src = p.getFileName.toString.stripSuffix(".csv")
      val lines = Files.readAllLines(p, UTF_8).asScala.toIndexedSeq
      val h = lines.indexWhere(_.split(",", -1).map(_.trim).contains(Key))
      require(h >= 0, s"no key header in $p")
      prefix(src) = h
      val k = lines(h).split(",", -1).map(_.trim).indexOf(Key)
      var i = h + 1
      while (i < lines.size) {
        val line = lines(i)
        if (line.nonEmpty) {
          val store = line.split(",", -1)(k).trim
          if (store.nonEmpty) counts((store, src)) += 1
        }
        i += 1
      }
    }
    (counts.toMap, prefix.toMap)
  }

  // ---- aggregate inputs ----------------------------------------------

  private def csvCell(s: String): String =
    if (s.contains(',') || s.contains('"')) "\"" + s.replace("\"", "\"\"") + "\"" else s

  private final class Sheet(val header: Seq[String]) {
    val sb = new StringBuilder(header.map(csvCell).mkString(",")).append('\n')
    val perStore = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def row(store: String, cells: String*): Unit = {
      perStore(store.trim) += 1
      sb.append((store +: cells).map(csvCell).mkString(",")).append('\n')
    }
  }

  /** The messy shapes KpiQueries fabricates: padded keys, mixed month
    * formats, `1,234`-style and padded numbers, null tokens, alias
    * headers, padded years that no year filter matches.
    */
  private def messyStore(r: Random, s: String): String =
    if (r.nextInt(3) == 0) s" $s " else s

  private def messyNum(r: Random, v: Int): String = r.nextInt(12) match {
    case 0 => "nan"
    case 1 => ""
    case 2 | 3 => s"  $v  "
    case 4 | 5 | 6 if v >= 1000 => f"${v / 1000},${v % 1000}%03d"
    case _ => v.toString
  }

  /** A month cell and whether the program's month parser accepts it. */
  private def messyMonth(r: Random, year: Int): (String, Boolean) = {
    val m = 1 + r.nextInt(12)
    r.nextInt(20) match {
      case 0 => ("n/a", false)
      case k => (k % 5 match {
        case 0 => f"$year$m%02d"
        case 1 => f"$year-$m%02d"
        case 2 => m.toString
        case 3 => f"$m%02d"
        case _ => f"$year/$m%02d"
      }, true)
    }
  }

  private def messyYear(r: Random): String = {
    val y = 2023 + r.nextInt(3)
    if (r.nextInt(13) == 0) s" $y" else y.toString
  }

  /** Writes the six `aggregate/` files (`rows` rows each) and returns what
    * each config and the presence probe must produce.
    */
  def aggregateInput(dir: Path, seed: Long, rows: Int, nStores: Int): AggExpect = {
    Files.createDirectories(dir)
    val r = new Random(seed ^ 0x5DEECE66DL)
    val stores = (1 to nStores).map(i => s"S$i")
    def pick(): String = stores(r.nextInt(nStores))
    val probe = stores.last
    val exp = Configs.map(_ -> mutable.Set.empty[String]).toMap

    val binds = new Sheet(Seq(Key, "年度", "月份", "總綁定"))
    (0 until rows).foreach { _ =>
      val s = pick()
      val y = messyYear(r)
      val (m, monthOk) = messyMonth(r, 2023 + r.nextInt(3))
      binds.row(messyStore(r, s), y, m, messyNum(r, r.nextInt(5000)))
      if (y == "2025") { exp("24-1") += s; if (monthOk) exp("23-1") += s }
      if (monthOk && (y == "2025" || y == "2024")) exp("23-2") += s
    }
    // the probe store has no cumulative rows: one NONE line for presence
    val cum = new Sheet(Seq(Key, "累計至今推薦人綁定人數"))
    (0 until rows).foreach { _ =>
      val s = stores(r.nextInt(nStores - 1))
      cum.row(messyStore(r, s), messyNum(r, r.nextInt(997)))
    }
    val members = new Sheet(Seq(Key, "總會員數"))
    (0 until rows).foreach { _ =>
      members.row(messyStore(r, pick()), messyNum(r, 10 + r.nextInt(89)))
    }
    val fpMonth = new Sheet(Seq(Key, "Established At Month", "門市首購人數"))
    (0 until rows).foreach { _ =>
      val s = pick()
      val (m, monthOk) = messyMonth(r, 2025)
      fpMonth.row(messyStore(r, s), m, messyNum(r, r.nextInt(37)))
      if (monthOk) exp("24-2") += s
    }
    val nullTokens = Vector("NULL", "nan", "None", "")
    val fpBranch = new Sheet(Seq(Key, "門市", "門市首購人數"))
    (0 until rows).foreach { _ =>
      val s = pick()
      val branch =
        if (r.nextInt(11) == 0) nullTokens(r.nextInt(nullTokens.length))
        else s"br_${r.nextInt(15)}"
      fpBranch.row(messyStore(r, s), branch, messyNum(r, 1 + r.nextInt(7)))
      if (!nullTokens.contains(branch)) { exp("25-1") += s; exp("25-2") += s }
    }
    val branchBinds = new Sheet(Seq(Key, "Store Name", "年度", "總綁定數"))
    (0 until rows).foreach { _ =>
      branchBinds.row(messyStore(r, pick()), s"br_${r.nextInt(15)}",
        if (r.nextBoolean()) "2025" else "2024", messyNum(r, 1 + r.nextInt(50)))
    }
    val sheets = Seq(binds, cum, members, fpMonth, fpBranch, branchBinds)
    AggFiles.zip(sheets).foreach { case (f, sh) =>
      Files.write(dir.resolve(f), sh.sb.result().getBytes(UTF_8))
    }
    AggExpect(exp.map { case (k, v) => k -> v.toSet }, probe,
      sheets.map(_.perStore(probe)))
  }

  // ---- helpers -------------------------------------------------------

  def listCsv(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try {
      s.iterator().asScala.filter(_.getFileName.toString.endsWith(".csv")).toSeq.sortBy(_.toString)
    } finally s.close()
  }

  def stamp(dirs: Path*): Stamp = {
    val files = dirs.filter(Files.isDirectory(_)).flatMap(listCsv)
    val bytes = files.map(Files.size).sum
    val rows = files.map { p =>
      val b = Files.readAllBytes(p); b.count(_ == '\n').toLong
    }.sum
    Stamp(files.length, rows, bytes)
  }
}
