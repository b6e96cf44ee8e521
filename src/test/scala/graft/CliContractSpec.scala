package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions.{col, lit}

import graft.cli.AggregateMain
import graft.etl.Kpi
import graft.sources.{CsvGen, FanOut, HeaderScan}

/** The CLI exit contract of the reference's verifier
  * (verify_fanout.py:187–188): `FanOutMain` output passes
  * `VerifyFanoutMain` with exit 0, and a removed output file or an edited
  * key cell makes it exit 1. Also `PresenceMain`'s per-dataset report
  * (verify_store_presence.py:35–63), and `AggregateMain`'s outputs
  * against its KPIs over `spark.read.csv` frames (the reference reader).
  * Each main runs in a child JVM (this JVM's class path and options), so
  * the real `sys.exit` is observed and the mains' `spark.stop()` cannot
  * stop the shared test session.
  */
class CliContractSpec extends AnyFunSuite {

  private val S = HeaderScan.defaultKeyCol

  /** Run `main` in a child JVM, with `env` added to this JVM's
    * environment; returns its exit code and its output.
    */
  private def runMain(
      main: String,
      args: Seq[String],
      env: Map[String, String] = Map.empty): (Int, String) = {
    val log = Files.createTempFile("cli_contract", ".log")
    log.toFile.deleteOnExit()
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val jvmOptions = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val cmd = Seq(javaBin) ++ jvmOptions ++ Seq("-Xmx1g",
      "-cp", sys.props("java.class.path"), main) ++ args
    val pb = new ProcessBuilder(cmd.asJava)
      .redirectErrorStream(true).redirectOutput(log.toFile)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    pb.environment().putAll(env.asJava)
    val p = pb.start()
    if (!p.waitFor(300, TimeUnit.SECONDS)) {
      p.destroyForcibly()
      fail(s"$main timed out:\n${Files.readString(log)}")
    }
    (p.exitValue(), Files.readString(log))
  }

  private def verify(in: Path, out: Path): (Int, String) =
    runMain("graft.cli.VerifyFanoutMain",
      Seq("--input-dir", in.toString, "--output-dir", out.toString))

  /** Generated input (one file carries a meta row), plus one file whose
    * store keys hold glob metacharacters and a comma, and its fan-out.
    */
  private lazy val fannedOut: (Path, Path) = {
    val in = Files.createTempDirectory("cli_in")
    CsvGen.generate(in, CsvGen.Config(nFiles = 4, minRows = 20, maxRows = 60,
      nStores = 5, seed = 3))
    Files.writeString(in.resolve("glob_keys.csv"),
      s"$S,v\ns[1],1\ns1,2\n\"s{a,b}*?\",3\ns[1],4\n")
    val out = Files.createTempDirectory("cli_out").resolve("out")
    val (code, log) = runMain("graft.cli.FanOutMain",
      Seq("--input-dir", in.toString, "--output-dir", out.toString))
    assert(code == 0, log)
    (in, out)
  }

  /** A private copy of the fan-out output for one corruption case. */
  private def copyOut(): Path = {
    val (_, out) = fannedOut
    val dst = Files.createTempDirectory("cli_copy").resolve("out")
    Files.walk(out).iterator().asScala.foreach { p =>
      Files.copy(p, dst.resolve(out.relativize(p).toString))
    }
    dst
  }

  private def outputFiles(out: Path): Seq[Path] =
    Files.walk(out).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".csv"))
      .toSeq.sortBy(_.toString)

  test("a clean fan-out verifies with exit 0") {
    val (in, out) = fannedOut
    assert(Files.isRegularFile(out.resolve("s[1]/glob_keys.csv")))
    assert(Files.isRegularFile(out.resolve("s{a,b}*?/glob_keys.csv")))
    val (code, log) = verify(in, out)
    assert(code == 0, log)
    assert(log.contains("[OK] fan-out verified"), log)
  }

  test("big5 in and out (the reference's parity mode) verifies with exit 0") {
    val in = Files.createTempDirectory("cli_b5_in")
    Files.write(in.resolve("b5.csv"),
      s"報表年度,2025\n$S,城市\ns1,台北\ns2,高雄\ns1,門市\n"
        .getBytes(java.nio.charset.Charset.forName("big5")))
    val out = Files.createTempDirectory("cli_b5_out").resolve("out")
    val (fanCode, fanLog) = runMain("graft.cli.FanOutMain",
      Seq("--input-dir", in.toString, "--output-dir", out.toString,
        "--encoding", "big5", "--output-encoding", "big5"))
    assert(fanCode == 0, fanLog)
    val (code, log) = runMain("graft.cli.VerifyFanoutMain",
      Seq("--input-dir", in.toString, "--output-dir", out.toString, "--encoding", "big5"))
    assert(code == 0, log)
    assert(log.contains("[OK] fan-out verified"), log)
  }

  test("big5 with an ASCII key column verifies with exit 0 (heads decode strictly)") {
    // the key column is ASCII, so a lenient UTF-8 read of the head found
    // it and the big5 key cells decoded as mojibake; the head's big5 cell
    // is malformed UTF-8, so a strict read moves on to big5. An all-ASCII
    // head decodes strictly in UTF-8 too: only its big5 data does not
    val utf8 = Map("LC_ALL" -> "C.UTF-8")
    Seq("store,城市", "store,v").foreach { head =>
      val in = Files.createTempDirectory("cli_b5k_in")
      Files.write(in.resolve("b5.csv"),
        s"$head\n台北,1\n高雄,2\n".getBytes(java.nio.charset.Charset.forName("big5")))
      val out = Files.createTempDirectory("cli_b5k_out").resolve("out")
      val (fanCode, fanLog) = runMain("graft.cli.FanOutMain",
        Seq("--input-dir", in.toString, "--output-dir", out.toString, "--key", "store",
          "--encoding", "big5", "--output-encoding", "big5"), utf8)
      assert(fanCode == 0, fanLog)
      val (code, log) = runMain("graft.cli.VerifyFanoutMain",
        Seq("--input-dir", in.toString, "--output-dir", out.toString, "--key", "store",
          "--encoding", "big5"), utf8)
      assert(code == 0, s"$head: $log")
      assert(log.contains("total violations=0"), s"$head: $log")
    }
  }

  test("hidden output files fail verify, each printed by path") {
    val (in, _) = fannedOut
    val out = copyOut()
    val dir = outputFiles(out).head.getParent
    val hidden = Seq(dir.resolve("_stray.csv"), dir.resolve(".stray.csv"))
    hidden.foreach(Files.copy(outputFiles(out).head, _))
    val (code, log) = verify(in, out)
    assert(code == 1, log)
    hidden.foreach(p => assert(log.contains(p.toString), log))
  }

  test("a stray keyless CSV in one store dir fails verify, printed by path") {
    val (in, _) = fannedOut
    val out = copyOut()
    val stray = outputFiles(out).head.resolveSibling("stray.csv")
    Files.writeString(stray, "a,b\n1,2\n")
    val (code, log) = verify(in, out)
    assert(code == 1, log)
    assert(log.contains(stray.toString) && log.contains("total violations=1"), log)
  }

  test("a deleted output file fails verify with exit 1") {
    val (in, _) = fannedOut
    val out = copyOut()
    Files.delete(outputFiles(out).head)
    val (code, log) = verify(in, out)
    assert(code == 1, log)
    assert(log.contains("missing=1") && log.contains("[FAIL]"), log)
  }

  test("an edited key cell fails verify with exit 1") {
    val (in, _) = fannedOut
    val out = copyOut()
    val f = outputFiles(out).head
    val lines = Files.readAllLines(f).asScala.toIndexedSeq
    val h = lines.indexWhere(_.split(",", -1).contains(S))
    val keyAt = lines(h).split(",", -1).indexOf(S)
    val cells = lines(h + 1).split(",", -1)
    cells(keyAt) = cells(keyAt) + "_edited"
    Files.write(f, lines.updated(h + 1, cells.mkString(",")).asJava)
    val (code, log) = verify(in, out)
    assert(code == 1, log)
    assert(log.contains("total violations=1") && log.contains("[FAIL]"), log)
  }

  test("verify lists the first stores of a kind in UTF-8 byte order, as Spark orders strings") {
    // U+20000 sorts before U+FF21 in UTF-16 code units, after it in bytes
    val utf8 = Map("LC_ALL" -> "C.UTF-8")
    val in = Files.createTempDirectory("cli_ord_in")
    Files.writeString(in.resolve("a.csv"), s"$S,v\n\uD840\uDC00,1\n\uFF21,2\n")
    Files.writeString(in.resolve("b.csv"), s"$S,v\nz,3\n")
    val out = Files.createTempDirectory("cli_ord_out").resolve("out")
    val (fanCode, fanLog) = runMain("graft.cli.FanOutMain",
      Seq("--input-dir", in.toString, "--output-dir", out.toString), utf8)
    assert(fanCode == 0, fanLog)
    val (code, log) = runMain("graft.cli.VerifyFanoutMain",
      Seq("--input-dir", in.toString, "--output-dir", out.toString, "--strict", "true"), utf8)
    assert(code == 1, log)
    val shown = log.linesIterator.filter(_.startsWith("  missing: ")).toSeq
    assert(shown == Seq("z" -> "a", "\uFF21" -> "b", "\uD840\uDC00" -> "b")
      .map { case (k, src) => s"  missing: store=$k file=$src.csv" }, log)
  }

  test("a quoted line break fails fan-out and verify, naming the file and the line's offset") {
    // Python's csv module reads 3 rows here, the first note holding a
    // line break; a line reader cut it into `1,a,line one` and a stray
    // `line two"` store, which then verified clean
    val in = Files.createTempDirectory("cli_qb_in")
    Files.writeString(in.resolve("src.csv"),
      s"$S,name,note\n1,a,\"line one\nline two\"\n2,b,plain\n1,c,\"x\"\n")
    val offset = s"$S,name,note\n".getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    val out = Files.createTempDirectory("cli_qb_out").resolve("out")
    val (code, log) = runMain("graft.cli.FanOutMain",
      Seq("--input-dir", in.toString, "--output-dir", out.toString))
    assert(code != 0 && log.contains("src.csv") && log.contains(s"byte offset $offset"), log)
    assert(!Files.exists(out.resolve("line two\"")), log)
    // the tree that line-cut fan-out wrote: its outputs agree with their
    // directories, so only the input read can catch it
    Seq("1" -> "1,a,line one\n1,c,x\n", "2" -> "2,b,plain\n", "line two\"" -> "\"line two\"\"\"\",,\n")
      .foreach { case (k, rows) =>
        Files.createDirectories(out.resolve(k))
        Files.writeString(out.resolve(s"$k/src.csv"), s"$S,name,note\n$rows")
      }
    val (vCode, vLog) = verify(in, out)
    assert(vCode != 0 && !vLog.contains("[OK]"), vLog)
    assert(vLog.contains("src.csv") && vLog.contains(s"byte offset $offset"), vLog)
  }

  test("usage errors exit non-zero, naming the flag, before any session starts") {
    val unknown = Seq("FanOutMain", "VerifyFanoutMain", "AggregateMain", "PresenceMain", "CsvGenMain")
      .map(m => (m, Seq("--bogus", "x"), "--bogus"))
    val io = Seq("--input-dir", "in", "--output-dir", "out")
    (unknown ++ Seq(
      ("VerifyFanoutMain", io ++ Seq("--strict", "maybe"), "--strict"),
      ("FanOutMain", Seq("--output-dir", "out"), "--input-dir"))).foreach { case (m, args, flag) =>
      val (code, log) = runMain(s"graft.cli.$m", args)
      val what = s"$m ${args.mkString(" ")}: $log"
      assert(code != 0 && log.contains(flag), what)
      assert(!log.contains("Running Spark version"), what)
    }
  }

  test("non-ASCII keys under a non-UTF-8 file-name charset fail the fan-out") {
    // under LC_ALL=C the JVM names files in ASCII: both stores would map
    // to one '??' directory, one file overwriting the other
    val in = Files.createTempDirectory("cli_c_in")
    Files.writeString(in.resolve("tw.csv"), s"$S,v\n台北,1\n高雄,2\n")
    val out = Files.createTempDirectory("cli_c_out").resolve("out")
    val (code, log) = runMain("graft.cli.FanOutMain",
      Seq("--input-dir", in.toString, "--output-dir", out.toString), Map("LC_ALL" -> "C"))
    assert(code != 0, log)
    assert(log.contains("platform file-name charset") && log.contains("LC_ALL=C.UTF-8"), log)
  }

  test("aggregate and presence under a non-UTF-8 file-name charset fail, naming it") {
    // the six dataset names are not ASCII: under LC_ALL=C the JVM would
    // spell them with '?' and read every one as missing
    val in = Files.createTempDirectory("cli_c_agg")
    val (fixCode, fixLog) = runMain("graft.PresenceFixture",
      Seq(in.resolve("aggregate").toString), Map("LC_ALL" -> "C.UTF-8"))
    assert(fixCode == 0, fixLog)
    val out = Files.createTempDirectory("cli_c_agg_out")
    Seq(
      "graft.cli.AggregateMain" -> Seq("--config", "23-2", "--output-dir", out.toString),
      "graft.cli.PresenceMain" -> Seq("--store", "s9")).foreach { case (main, args) =>
      val (code, log) = runMain(main, args ++ Seq("--input-dir", in.toString),
        Map("LC_ALL" -> "C"))
      assert(code != 0, log)
      assert(log.contains("platform file-name charset US-ASCII") &&
        log.contains("LC_ALL=C.UTF-8") && !log.contains("file not found"), log)
    }
  }

  test("presence: rows per dataset, NONE for a dataset without the store, warn for a missing file") {
    // the dataset files have non-ASCII names: write and probe them under
    // a UTF-8 locale
    val utf8 = Map("LC_ALL" -> "C.UTF-8")
    val in = Files.createTempDirectory("cli_presence")
    val (fixCode, fixLog) = runMain("graft.PresenceFixture",
      Seq(in.resolve("aggregate").toString), utf8)
    assert(fixCode == 0, fixLog)
    val (code, log) = runMain("graft.cli.PresenceMain",
      Seq("--store", "s9", "--input-dir", in.toString), utf8)
    assert(code == 0, log)
    Seq(
      "[OK ] 23-1 / 23-2 / 24-1 / 24-2（區間推薦人綁定）: rows=2",
      "[NONE] 23-1 / 24-1（累計推薦人綁定）: rows=0",
      "[OK ] 23-1 / 24-1（會員總數）: rows=1",
      "[OK ] 24-2（門市首購人數－月份）: rows=3",
      "[OK ] 25-1 / 25-2（門市首購人數－門市）: rows=1",
      "[warn] 25-1 / 25-2（各門市累計綁定）: file not found (各門市累計綁定人數.csv)")
      .foreach(line => assert(log.linesIterator.contains(line), s"no line '$line' in:\n$log"))
  }

  /** The six datasets of [[AggregateFixture]] in a new input dir, `variant` applied. */
  private def aggregateInput(variant: String*): Path = {
    val in = Files.createTempDirectory("cli_agg")
    val (code, log) = runMain("graft.AggregateFixture",
      in.resolve("aggregate").toString +: variant, Map("LC_ALL" -> "C.UTF-8"))
    assert(code == 0, log)
    in
  }

  test("aggregate: every config writes the bytes of its KPI over spark.read.csv frames") {
    val utf8 = Map("LC_ALL" -> "C.UTF-8")
    val in = aggregateInput()
    val (ref, out) = (Files.createTempDirectory("cli_agg_ref"), Files.createTempDirectory("cli_agg_out"))
    val (refCode, refLog) = runMain("graft.AggregateReference",
      Seq(in.resolve("aggregate").toString, ref.toString), utf8)
    assert(refCode == 0, refLog)
    AggregateFixture.configs.foreach { k =>
      val (code, log) = runMain("graft.cli.AggregateMain",
        Seq("--config", k, "--input-dir", in.toString, "--output-dir", out.toString), utf8)
      assert(code == 0, log)
    }
    def tree(d: Path): Map[String, Seq[Byte]] = outputFiles(d)
      .map(p => d.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    val (want, got) = (tree(ref), tree(out))
    assert(AggregateFixture.configs.forall(k => want.keys.exists(_.endsWith(s"/$k.csv"))), want.keys)
    def text(t: Map[String, Seq[Byte]], f: String) = t.get(f).map(b => new String(b.toArray, "UTF-8"))
    val differ = (want.keySet ++ got.keySet).toSeq.sorted.filter(f => want.get(f) != got.get(f))
    assert(differ.isEmpty, differ.map(f => s"$f:\n${text(got, f)}\nwant ${text(want, f)}"))
  }

  test("aggregate: every config and the generic path write the registry's KPI rows on its fab inputs") {
    // the registry (q18–q22, q30, q32) runs with codegen in its own JVM;
    // AggregateMain runs interpreted. Rows compare order-blind per file,
    // as the oracle compares: the two plans read different sources
    val utf8 = Map("LC_ALL" -> "C.UTF-8")
    val in = Files.createTempDirectory("cli_kpi_in")
    val (ref, out) = (Files.createTempDirectory("cli_kpi_ref"), Files.createTempDirectory("cli_kpi_out"))
    val (refCode, refLog) = runMain("graft.KpiRegistryReference",
      Seq(SparkSpec.sf0001, in.toString, ref.toString), utf8)
    assert(refCode == 0, refLog)
    val generic = Seq("--input-file", "visits.csv", "--store-col", "store_id", "--month-col", "yyyymm",
      "--target-col", "visit_count", "--months", (1 to 12).map(m => f"1996$m%02d").mkString(","))
    (AggregateFixture.configs.map(k => Seq("--config", k)) :+ generic).foreach { cfg =>
      val (code, log) = runMain("graft.cli.AggregateMain",
        cfg ++ Seq("--input-dir", in.toString, "--output-dir", out.toString), utf8)
      assert(code == 0, log)
    }
    def tree(d: Path): Map[String, (String, Seq[String])] = outputFiles(d).map { p =>
      val lines = Files.readAllLines(p).asScala.toSeq
      d.relativize(p).toString -> (lines.head, lines.tail.sorted)
    }.toMap
    val (want, got) = (tree(ref), tree(out))
    assert((AggregateFixture.configs :+ "visits").forall(k =>
      want.count(_._1.endsWith(s"/$k.csv")) > 1), want.keys)
    val differ = (want.keySet ++ got.keySet).toSeq.sorted.filter(f => want.get(f) != got.get(f))
    assert(differ.isEmpty, differ.map(f => s"$f:\n${got.get(f)}\nwant ${want.get(f)}"))
    // and in the reference's order (SURVEY.md §2.5 O1): 23-2 and 24-2 by
    // month, 25-1 and 25-2 by 佔比 rank, a blank 佔比 last
    def column(f: String, c: String): Seq[String] = {
      val cells = (l: String) => l.split(",(?=(?:[^\"]*\"[^\"]*\")*[^\"]*$)", -1).toSeq
      val lines = Files.readAllLines(out.resolve(f)).asScala.toSeq
      val i = cells(lines.head.stripPrefix("\uFEFF")).indexOf(c)
      lines.tail.map(cells(_)(i))
    }
    def pct(blank: Double)(p: String) = if (p.isEmpty) blank else p.stripSuffix("%").toDouble
    val ordered = got.keys.toSeq.sorted.map(f => f -> (f.split('/').last match {
      case "23-2.csv" | "24-2.csv" =>
        val months = column(f, "月份").map(_.toInt)
        months == months.sorted
      case "25-1.csv" =>
        val ratios = column(f, "佔比").map(pct(Double.NegativeInfinity))
        ratios == ratios.sorted.reverse
      case "25-2.csv" =>
        val ratios = column(f, "佔比").map(pct(Double.PositiveInfinity))
        ratios == ratios.sorted
      case _ => true
    }))
    assert(ordered.forall(_._2), ordered.filterNot(_._2).map(_._1))
  }

  test("presence: a header-only dataset is NONE with rows=0") {
    val (code, log) = runMain("graft.cli.PresenceMain",
      Seq("--store", "s9", "--input-dir", aggregateInput("headerOnly").toString),
      Map("LC_ALL" -> "C.UTF-8"))
    assert(code == 0, log)
    Seq(
      "[OK ] 23-1 / 23-2 / 24-1 / 24-2（區間推薦人綁定）: rows=4",
      "[OK ] 23-1 / 24-1（累計推薦人綁定）: rows=1",
      "[OK ] 23-1 / 24-1（會員總數）: rows=1",
      "[OK ] 24-2（門市首購人數－月份）: rows=2",
      "[OK ] 25-1 / 25-2（門市首購人數－門市）: rows=1",
      "[NONE] 25-1 / 25-2（各門市累計綁定）: rows=0")
      .foreach(line => assert(log.linesIterator.contains(line), s"no line '$line' in:\n$log"))
  }

  test("presence: a dataset whose line 0 lacks the store column fails, naming the file") {
    val (code, log) = runMain("graft.cli.PresenceMain",
      Seq("--store", "s9", "--input-dir", aggregateInput("keyless").toString),
      Map("LC_ALL" -> "C.UTF-8"))
    assert(code != 0, log)
    assert(log.contains("14-1.會員成長趨勢_新增註冊會員數卡片.csv") && log.contains("not on line 0") &&
      !log.contains("file not found"), log)
  }
}

/** Writes five of PresenceMain's six datasets into the directory
  * `args(0)`; the probe store `s9` has 2, 0, 1, 3 and 1 rows in them (one
  * key padded). Runs in a child JVM under a UTF-8 locale: the file names
  * are not ASCII, and a JVM under the C locale cannot name them.
  */
object PresenceFixture {
  def main(args: Array[String]): Unit = {
    val S = HeaderScan.defaultKeyCol
    val dir = Files.createDirectories(Paths.get(args(0)))
    Seq(
      "區間綁定推薦人人數.csv" -> s"$S,年度\ns9,2025\ns1,2025\n s9 ,2024\n",
      "累計至今綁定推薦人人數.csv" -> s"$S,累計至今推薦人綁定人數\ns1,5\ns2,7\n",
      "14-1.會員成長趨勢_新增註冊會員數卡片.csv" -> s"$S,總會員數\ns9,40\ns1,20\n",
      "門市首購人數_月份.csv" -> s"$S,月份,門市首購人數\ns9,1,3\ns9,2,4\ns9,3,5\n",
      "門市首購人數_門市.csv" -> s"$S,門市,門市首購人數\ns2,br_1,1\ns9,br_2,2\n")
      .foreach { case (name, body) => Files.writeString(dir.resolve(name), body) }
  }
}

/** Writes all six aggregate datasets (AggregateMain's inputs, in
  * PresenceMain's order) into the directory `args(0)`, with the messy
  * cells of the reference's BI exports: padded keys, `nan`, quoted
  * `"1,234"`, mixed month formats, a UTF-8 BOM, blank lines and an
  * all-empty `,,,` row. `args(1)` picks a variant: `headerOnly` leaves the
  * last dataset its header only, `keyless` puts a meta row above the
  * members header. Runs in a child JVM under a UTF-8 locale.
  */
object AggregateFixture {
  val files = Seq("區間綁定推薦人人數.csv", "累計至今綁定推薦人人數.csv",
    "14-1.會員成長趨勢_新增註冊會員數卡片.csv", "門市首購人數_月份.csv", "門市首購人數_門市.csv",
    "各門市累計綁定人數.csv")
  val configs = Seq("23-1", "23-2", "24-1", "24-2", "25-1", "25-2")

  def main(args: Array[String]): Unit = {
    val S = HeaderScan.defaultKeyCol
    val dir = Files.createDirectories(Paths.get(args(0)))
    val bodies = Seq(
      s"\uFEFF$S,年度,月份,總綁定\ns1,2025,1,\"1,234\"\n s1 ,2025,2025-02,10\ns1,2024,1,nan\n" +
        s"s2,2025,202503,5\n\ns2,2024,03,7\n,,,\ns9,2025,2025/04,\ns9,2024,4,3\ns9, 2025,5,8\n" +
        s"s9,2024,13,2\ns1,2024,2,  40  \n",
      s"$S,累計至今推薦人綁定人數\ns1,\"1,000\"\ns2,nan\n s9 ,4\n",
      s"$S,總會員數\ns1,20\ns2,\"2,500\"\n\ns9,40\n",
      s"$S,Established At Month,門市首購人數\ns1,2025-01,3\ns1,2,nan\ns2,202503,4\n" +
        s"s9,04,\"1,200\"\ns9,n/a,1\n",
      s"$S,門市,門市首購人數\ns1,br_1,2\ns1,br_2,5\ns1,NULL,3\ns2,br_1,nan\n s9 ,br_3,1\n",
      s"$S,Store Name,年度,總綁定數\ns1,br_1,2025,1\ns1,br_2,2025,\"1,100\"\ns2,br_1,2025,2\n" +
        s"s9,br_3,2024,1\ns9,br_3,2025,4\n")
    val variant = args.lift(1) match {
      case None => bodies
      case Some("headerOnly") => bodies.updated(5, s"$S,Store Name,年度,總綁定數\n")
      case Some("keyless") => bodies.updated(2, s"報表,2025\n${bodies(2)}")
      case Some(v) => throw new IllegalArgumentException(s"unknown variant $v")
    }
    files.zip(variant).foreach { case (name, body) => Files.writeString(dir.resolve(name), body) }
  }
}

/** Each config's KPI over its datasets as `spark.read.csv` reads them
  * (header on, all strings), written as AggregateMain writes it: the
  * reference for the aggregate parity case. `args`: the dataset dir and
  * the output dir. Runs in a child JVM under a UTF-8 locale.
  */
object AggregateReference {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("aggregate-reference")
    val Seq(binds, cum, mem, fpMonth, fpBranch, branchBinds) = AggregateFixture.files
      .map(f => spark.read.option("header", "true").csv(s"${args(0)}/$f"))
    Seq(
      "23-1" -> Kpi.config23_1(binds, cum, mem),
      "23-2" -> Kpi.config23_2(binds),
      "24-1" -> Kpi.config24_1(binds, cum, mem),
      "24-2" -> Kpi.config24_2(fpMonth, binds),
      "25-1" -> Kpi.config25_1(fpBranch, branchBinds),
      "25-2" -> Kpi.config25_2(fpBranch, branchBinds))
      .foreach { case (k, df) => FanOut.write(df, Kpi.S, args(1), k, bom = true,
        order = if (AggregateMain.byMonth(k)) col("月份") else lit(0)) }
    spark.stop()
  }
}

/** The registry's KPI entries and their inputs: `args` are the testdata
  * dir, an input dir and an output dir. Writes the `KpiQueries` `fab*`
  * frames as the six aggregate datasets (`{in}/aggregate`, years 2000 and
  * 1999 relabelled 2025 and 2024, AggregateMain's fixed years) and as
  * `{in}/visits.csv`, and q18–q22, q30 and q32 as AggregateMain writes its
  * configs. Runs in a child JVM under a UTF-8 locale.
  */
object KpiRegistryReference {
  def main(args: Array[String]): Unit = {
    import graft.queries.{KpiQueries => K, Registry}
    val Array(sf, in, out) = args
    val spark = GraftSession("kpi-registry-reference")
    val years = Map("2000" -> "2025", "1999" -> "2024")
    def cell(c: String) =
      if (c.exists(",\"\r\n".contains(_))) "\"" + c.replace("\"", "\"\"") + "\"" else c
    def writeCsv(df: org.apache.spark.sql.DataFrame, path: Path): Unit = {
      val rows = df.collect().map(r => df.columns.map { c =>
        val v = r.getAs[String](c)
        if (c == "年度") years.foldLeft(v) { case (s, (a, b)) => s.replace(a, b) } else v
      })
      Files.createDirectories(path.getParent)
      Files.write(path, (df.columns +: rows).map(_.map(cell).mkString(",")).toSeq.asJava)
    }
    AggregateFixture.files.zip(Seq(K.fabBinds _, K.fabCumulative _, K.fabMembers _,
      K.fabFirstByMonth _, K.fabFirstByBranch _, K.fabBranchBinds _)).foreach { case (f, fab) =>
      writeCsv(fab(spark, sf), Paths.get(in, "aggregate", f))
    }
    writeCsv(K.fabVisits(spark, sf), Paths.get(in, "visits.csv"))
    Seq(
      "q18_kpi_23_1" -> "23-1", "q19_kpi_23_2" -> "23-2", "q30_kpi_24_1" -> "24-1",
      "q20_kpi_24_2" -> "24-2", "q21_kpi_25_1" -> "25-1", "q22_kpi_25_2" -> "25-2",
      "q32_generic_config" -> "visits").foreach { case (q, k) =>
      val df = years.foldLeft(Registry.queries(q)(spark, sf)) { case (d, (a, b)) =>
        d.withColumnRenamed(s"${a}年", s"${b}年") }
      FanOut.write(df, if (k == "visits") "store_id" else Kpi.S, out, k, bom = true)
    }
    spark.stop()
  }
}
