package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{CsvGen, HeaderScan}

/** The CLI exit contract of the reference's verifier
  * (verify_fanout.py:187–188): `FanOutMain` output passes
  * `VerifyFanoutMain` with exit 0, and a removed output file or an edited
  * key cell makes it exit 1. Also `PresenceMain`'s per-dataset report
  * (verify_store_presence.py:35–63). Each main runs in a child JVM (this
  * JVM's class path and options), so the real `sys.exit` is observed and
  * the mains' `spark.stop()` cannot stop the shared test session.
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
    // is malformed UTF-8, so a strict read moves on to big5
    val utf8 = Map("LC_ALL" -> "C.UTF-8")
    val in = Files.createTempDirectory("cli_b5k_in")
    Files.write(in.resolve("b5.csv"),
      "store,城市\n台北,1\n高雄,2\n".getBytes(java.nio.charset.Charset.forName("big5")))
    val out = Files.createTempDirectory("cli_b5k_out").resolve("out")
    val (fanCode, fanLog) = runMain("graft.cli.FanOutMain",
      Seq("--input-dir", in.toString, "--output-dir", out.toString, "--key", "store",
        "--encoding", "big5", "--output-encoding", "big5"), utf8)
    assert(fanCode == 0, fanLog)
    val (code, log) = runMain("graft.cli.VerifyFanoutMain",
      Seq("--input-dir", in.toString, "--output-dir", out.toString, "--key", "store",
        "--encoding", "big5"), utf8)
    assert(code == 0, log)
    assert(log.contains("total violations=0"), log)
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
