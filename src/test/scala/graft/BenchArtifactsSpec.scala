package graft

import java.nio.file.Files
import java.util.Locale
import java.util.concurrent.TimeUnit

import scala.collection.immutable.SeqMap

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The mains' JSON artifacts, written by [[Json]]: they stay valid JSON
  * under a comma-decimal locale and with quotes, backslashes and control
  * characters in their strings, and `dev/gate_accept.py` judges a Bench
  * artifact by its sentinel legs and its failed entries.
  */
class BenchArtifactsSpec extends AnyFunSuite {

  private def parse(s: String): JsonNode = new ObjectMapper().readTree(s)

  private val calm = HostSentinel.Legs(stMs = 123.46, mtMs = 250.04, check = 42L)
  private val stormy = HostSentinel.Legs(stMs = 210.0, mtMs = 410.0, check = 42L)

  private def benchArtifact(
      legs: HostSentinel.Legs = calm,
      failed: Seq[String] = Nil,
      sfDir: String = "testdata/sf0.01"): String = {
    val none = Map.empty[String, Long]
    val ran = Seq(("q01_a", 1.25, true, Map("rounds" -> 3L)), ("q02_b", 0.5, true, none)) ++
      failed.map(n => (n, 0.1, false, none))
    Bench.artifact(ran, Map("idx" -> 0.75), legs, legs, 4,
      Seq((1, "q01_a", legs)), sfDir)
  }

  private def withLocale[T](l: Locale)(body: => T): T = {
    val saved = (Locale.getDefault, Locale.getDefault(Locale.Category.FORMAT),
      Locale.getDefault(Locale.Category.DISPLAY))
    Locale.setDefault(l)
    try body
    finally {
      Locale.setDefault(saved._1)
      Locale.setDefault(Locale.Category.FORMAT, saved._2)
      Locale.setDefault(Locale.Category.DISPLAY, saved._3)
    }
  }

  test("artifacts keep '.' decimals under a comma-decimal locale") {
    val (sentinel, bench, probe) = withLocale(Locale.GERMANY) {
      assert(String.format("%.1f", Double.box(1.5)) == "1,5")
      (Json(HostSentinel.fields(calm, stormy, 4)), benchArtifact(), SentinelProbe.line(calm, 32))
    }
    assert(sentinel.contains("\"pre_st_ms\":123.5,\"pre_mt_ms\":250.0,"), sentinel)
    val s = parse(sentinel)
    assert(s.get("post_mt_ms").doubleValue == 410.0 && s.get("threads").intValue == 4)

    val b = parse(bench)
    assert(b.get("value").doubleValue == 1.75)
    assert(b.get("queries").get("q01_a").doubleValue == 1.25)
    assert(b.get("builds").get("idx").doubleValue == 0.75)
    assert(b.get("iters").get("q01_a").get("rounds").longValue == 3L)
    assert(b.get("host_sentinel").get("pre_st_ms").doubleValue == 123.5)
    assert(b.get("sentinel_samples").get(0).get("st_ms").doubleValue == 123.5)

    assert(probe == """{"st_ms":123.5,"mt_ms":250.0,"threads":32}""")
  }

  test("a Bench artifact keeps its keys in order and round-trips an sf path with \", \\ and a tab") {
    val sf = "/data/a\"b\\c\td"
    val b = parse(benchArtifact(sfDir = sf))
    assert(b.get("sf").asText == sf)
    val keys = Seq.newBuilder[String]
    b.fieldNames.forEachRemaining(k => keys += k)
    assert(keys.result() == Seq("metric", "value", "unit", "queries", "build_sec", "builds",
      "iters", "host_sentinel", "sentinel_samples", "failed", "sf"))
  }

  test("oracle SQL with a tab, CR, quote, backslash and U+0001 round-trips") {
    val sql = Seq("SELECT 'a\tb'", "x\r\ny", "say \"hi\"", "C:\\path", "ctl\u0001", "店\n")
    val json = Json(SeqMap.from(sql.zipWithIndex.map { case (q, i) => s"q$i" -> q }))
    assert(!json.exists(_ < ' '), json)
    val back = parse(json)
    sql.zipWithIndex.foreach { case (q, i) => assert(back.get(s"q$i").asText == q) }
  }

  test("gate_accept.py artifact judges Bench's own artifact: in band, out of band, failed entries") {
    def gate(artifact: String): (Int, String) = {
      val f = Files.createTempFile("bench_artifact", ".json")
      val log = Files.createTempFile("gate_accept", ".log")
      try {
        Files.writeString(f, artifact + "\n")
        // a missing python3 throws here: the case fails, it does not skip
        val p = new ProcessBuilder("python3", "dev/gate_accept.py", "artifact", f.toString)
          .redirectErrorStream(true).redirectOutput(log.toFile).start()
        assert(p.waitFor(60, TimeUnit.SECONDS), "gate_accept.py timed out")
        (p.exitValue(), Files.readString(log))
      } finally { Files.delete(f); Files.delete(log) }
    }
    val (ok, okOut) = gate(benchArtifact())
    assert(ok == 0 && okOut.startsWith("ACCEPT"), okOut)
    val (storm, stormOut) = gate(benchArtifact(legs = stormy))
    assert(storm == 1 && stormOut.startsWith("REJECT"), stormOut)
    val (bad, badOut) = gate(benchArtifact(failed = Seq("q03_c")))
    assert(bad == 1 && badOut.startsWith("REJECT incomplete run"), badOut)
  }
}
