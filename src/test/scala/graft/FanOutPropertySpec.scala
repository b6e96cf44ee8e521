package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.etl.VerifyOps
import graft.sources.{FanOut, HeaderScan}

/** The reference's whole correctness strategy as a property test
  * (SURVEY.md §5): seedable inconsistent-schema fixtures (csv_gen.py) →
  * header-scan ingest → fan-out by store → verify_fanout invariants hold
  * by construction; plus the fan-out ≡ groupBy(key) row-multiset
  * property and the `--encoding` path.
  */
class FanOutPropertySpec extends SparkSpec {
  import spark.implicits._

  test("generated corpus: fan-out preserves row multisets and verify passes") {
    val in = Files.createTempDirectory("gen_in")
    val out = Files.createTempDirectory("gen_out").toString
    val files = graft.sources.CsvGen.generate(in,
      graft.sources.CsvGen.Config(nFiles = 4, seed = 7))

    val infos = HeaderScan.scanDir(spark, in.toString)
    assert(infos.length == 4) // every generated file carries the key col
    FanOut.writeFiles(spark, infos, "商店序號", out)

    infos.foreach { info =>
      val src = info.path.split('/').last.stripSuffix(".csv")
      val df = HeaderScan.readFiles(spark, Seq(info)).drop("_path")
      val back = FanOut.read(spark, out, src, "商店序號")

      // content invariant (verify_fanout.py:52–102): key cell == dir name
      assert(VerifyOps.contentViolations(back, "商店序號").count() == 0, src)

      // row-multiset property: fan-out ≡ groupBy(key) — per store, the
      // read-back rows match the source rows for that store exactly
      val cols = info.columns
      val a = df.select(cols.map(col): _*)
        .withColumn("商店序號", trim(col("商店序號")))
        .groupBy(cols.map(col): _*).count()
      val b = back.select(cols.map(col): _*)
        .groupBy(cols.map(col): _*).count()
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, src)
    }

    // file-set check (verify_fanout.py:32–48): every store dir got every
    // source file it has rows for; no extras
    val present = files.flatMap { case (name, _) =>
      val src = name.stripSuffix(".csv")
      FanOut.read(spark, out, src, "商店序號")
        .select(col("商店序號"), lit(s"$src").as("src"))
        .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    }
    // expected = only sources that actually contain the store → compute
    // per-store expected sets from the inputs themselves
    val expected = infos.flatMap { info =>
      val src = info.path.split('/').last.stripSuffix(".csv")
      HeaderScan.readFiles(spark, Seq(info)).drop("_path")
        .select(trim(col("商店序號")).as("k")).distinct()
        .collect().map(r => (r.getString(0), src))
    }
    assert(present.toSet == expected.toSet)
  }

  test("S7: latin-1 encoded file reads correctly with encoding param") {
    val in = Files.createTempDirectory("enc_in")
    val content = "meta,row\nstore,libellé\nS1,café\nS2,naïve\n"
    Files.write(in.resolve("latin.csv"),
      content.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))

    // UTF-8 read mangles the accents; latin-1 read restores them
    val info = HeaderScan.scanFiles(spark, Seq(in.resolve("latin.csv").toString),
      keyCol = "store", encodings = Seq("ISO-8859-1")).headOption
    assert(info.isDefined && info.get.columns.contains("libellé"))
    val rows = HeaderScan.readFiles(spark, Seq(info.get)).drop("_path")
      .orderBy("store").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("café", "naïve"))
  }
}
