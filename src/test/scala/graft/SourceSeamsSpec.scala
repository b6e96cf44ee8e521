package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the session policy, the storage root, the CSV dialect and the
  * CSV reader single: no source file under src/main/scala may build a
  * session outside [[GraftSession]], read the JVM temp dir outside
  * [[WorkDir]], parse or render CSV cells outside `FanOut`, split CSV
  * lines outside `HeaderScan`, or read CSV other than through
  * `HeaderScan`, or write JSON outside [[Json]]; and every CLI program's
  * session is [[GraftSession.interpreted]].
  */
class SourceSeamsSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def filesContaining(needle: String, under: Path = root): Set[String] = {
    assert(Files.isDirectory(under), s"no sources at ${under.toAbsolutePath}")
    val walk = Files.walk(under)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(needle))
      .map((p: Path) => p.getFileName.toString).toSet
    finally walk.close()
  }

  test("SparkSession.builder() is called only in GraftSession") {
    assert(filesContaining("SparkSession.builder()") == Set("GraftSession.scala"))
  }

  test("java.io.tmpdir is read only in WorkDir") {
    assert(filesContaining("java.io.tmpdir") == Set("WorkDir.scala"))
  }

  test("one CSV dialect implementation reads and writes: no Hadoop RDD, from_csv or to_csv") {
    Seq("hadoopRDD(", "from_csv(", "to_csv(").foreach(n => assert(filesContaining(n).isEmpty, n))
    assert(filesContaining("UnivocityParser") == Set("FanOut.scala"))
    assert(filesContaining("UnivocityGenerator") == Set("FanOut.scala"))
  }

  test("one line reader and one cell parser: LineRecordReader only in HeaderScan, Univocity only in FanOut") {
    assert(filesContaining("LineRecordReader") == Set("HeaderScan.scala"))
    Seq("InputStreamReader", "BufferedInputStream").foreach(n =>
      assert(filesContaining(n, root.resolve("graft/sources")).isEmpty, n))
    assert(filesContaining("univocity") == Set("FanOut.scala"))
    assert(filesContaining("Univocity") == Set("FanOut.scala"))
  }

  test("one JSON writer: ObjectMapper only in Json, no JSON built from string fragments") {
    assert(filesContaining("ObjectMapper") == Set("Json.scala"))
    Seq("\"\\\"\" +", "f\"\"\"{\"", "s\"\"\"{\"").foreach(n => assert(filesContaining(n).isEmpty, n))
  }

  test("CSV is read only through HeaderScan: no spark.read.csv") {
    assert(filesContaining(".csv(").isEmpty)
  }

  test("every CLI session is built interpreted") {
    val cli = Files.readString(root.resolve("graft/cli/Cli.scala"))
    val calls = "GraftSession\\(([^)]*)\\)".r.findAllMatchIn(cli).map(_.group(1)).toSeq
    assert(calls.nonEmpty)
    assert(calls.forall(_.endsWith(", GraftSession.interpreted")), calls)
  }
}
