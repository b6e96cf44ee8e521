package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{CsvGen, HeaderScan}

/** The CLI exit contract of the reference's verifier
  * (verify_fanout.py:187–188): `FanOutMain` output passes
  * `VerifyFanoutMain` with exit 0, and a removed output file or an edited
  * key cell makes it exit 1. Each main runs in a child JVM (this JVM's
  * class path and options), so the real `sys.exit` is observed and the
  * mains' `spark.stop()` cannot stop the shared test session.
  */
class CliContractSpec extends AnyFunSuite {

  private val S = HeaderScan.defaultKeyCol

  /** Run `main` in a child JVM; returns its exit code and its output. */
  private def runMain(main: String, args: String*): (Int, String) = {
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
    val p = pb.start()
    if (!p.waitFor(300, TimeUnit.SECONDS)) {
      p.destroyForcibly()
      fail(s"$main timed out:\n${Files.readString(log)}")
    }
    (p.exitValue(), Files.readString(log))
  }

  private def verify(in: Path, out: Path): (Int, String) =
    runMain("graft.cli.VerifyFanoutMain",
      "--input-dir", in.toString, "--output-dir", out.toString)

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
      "--input-dir", in.toString, "--output-dir", out.toString)
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
      "--input-dir", in.toString, "--output-dir", out.toString,
      "--encoding", "big5", "--output-encoding", "big5")
    assert(fanCode == 0, fanLog)
    val (code, log) = runMain("graft.cli.VerifyFanoutMain",
      "--input-dir", in.toString, "--output-dir", out.toString, "--encoding", "big5")
    assert(code == 0, log)
    assert(log.contains("[OK] fan-out verified"), log)
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
}
