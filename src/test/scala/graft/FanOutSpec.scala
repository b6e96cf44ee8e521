package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.etl.VerifyOps
import graft.sources.{FanOut, HeaderScan}

/** Fan-out sink round-trip + header-scanning ingest + the verify_fanout
  * invariants (reference fan_out_by_storeid.py / verify_fanout.py).
  */
class FanOutSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  private val S = "商店序號"
  private val utf8 = Seq("UTF-8")

  /** Add `{store}/{src}.csv` under `out` for each pair, each file one
    * clean row; returns `out`. */
  private def layout(out: Path, pairs: (String, String)*): String = {
    pairs.foreach { case (k, src) =>
      Files.createDirectories(out.resolve(k))
      Files.writeString(out.resolve(s"$k/$src.csv"), s"$S,v\n$k,1\n")
    }
    out.toString
  }

  /** A verify report's file-set problems as (store, kind, src), sorted. */
  private def setProblems(r: VerifyOps.Report): Seq[(String, String, String)] =
    (r.missing.first.map { case (k, src) => (k, "missing", src) } ++
      r.extra.first.map { case (k, src) => (k, "extra", src) }).sorted

  /** The output tree holds only `{key}/{src}.csv` files: no checksum
    * sidecars, no attempt temps, no staging directories.
    */
  private def assertOnlyLayout(out: String): Unit = {
    val root = java.nio.file.Paths.get(out)
    val entries = Files.walk(root).iterator().asScala.filter(_ != root).toSeq
    val bad = entries.filterNot { p =>
      val rel = root.relativize(p)
      val name = p.getFileName.toString
      if (Files.isDirectory(p)) rel.getNameCount == 1 && !name.startsWith("_") && !name.startsWith(".")
      else rel.getNameCount == 2 && name.endsWith(".csv") && !name.startsWith(".")
    }
    assert(bad.isEmpty, s"unexpected entries under $out: ${bad.mkString(", ")}")
  }

  test("FanOut.write → read round-trip: layout, prefix replay, BOM, blanks dropped") {
    val out = tmpDir("fanout").toString
    // the last row's CSV text is byte-equal to the replayed meta line
    val df = Seq(
      ("s1", "a", "1"), ("s2", "b", "2"), ("s1", "c", "3"),
      ("  ", "dropped", "4"), (" s2 ", "d", "5"),
      ("Established At Year", "2025", "2024"))
      .toDF(S, "v1", "v2")
    val keys = FanOut.write(df, S, out, "srcA",
      prefixRows = Seq("Established At Year,2025,2024"), bom = true)
    assert(keys == Seq("Established At Year", "s1", "s2"))
    assertOnlyLayout(out)

    // exact {key}/{src}.csv layout
    val s1 = new java.io.File(s"$out/s1/srcA.csv")
    assert(s1.isFile, "expected out/s1/srcA.csv")
    assert(new java.io.File(s"$out/s2/srcA.csv").isFile)
    assert(!new java.io.File(out).listFiles().exists(_.getName.trim.isEmpty))

    // BOM + meta prefix + header + rows
    val raw = Files.readString(s1.toPath)
    assert(raw.startsWith("﻿"), "utf-8-sig BOM")
    val lines = raw.stripPrefix("﻿").split("\n").toSeq
    assert(lines.head == "Established At Year,2025,2024")
    assert(lines(1).split(",").map(_.trim).contains(S))

    // read back: key recovered from directory, content invariant holds
    val back = FanOut.read(spark, out, "srcA", S)
    assert(back.count() == 5) // blank-key row dropped, " s2 " trimmed
    // the prefix is skipped by position, so the meta-equal row is kept
    assert(back.filter(col(S) === "Established At Year").count() == 1)
    assert(VerifyOps.contentViolations(back, S).count() == 0)
    val sum = VerifyOps.verify(spark, out, S, Seq("srcA"), None, utf8)
    assert(sum.missing.total == 0 && sum.extra.total == 0 &&
      sum.violations == 0 && sum.nKeys == 3)
  }

  test("output-encoding big5 + CRLF: byte-identical to the reference's contract") {
    // the reference writes output in the INPUT encoding with csv.writer
    // (CRLF terminator, fan_out_by_storeid.py:42). Reproduce its exact
    // bytes for one store: prefix rows + header + the store's rows, all
    // big5-encoded, CRLF-terminated.
    val out = tmpDir("fanout_b5").toString
    val df = Seq(("s1", "台北", "100"), ("s2", "高雄", "200"),
      ("s1", "門市", "300")).toDF(S, "城市", "額")
    FanOut.write(df, S, out, "srcB5",
      prefixRows = Seq("報表年度,2025,2024"),
      encoding = "big5", lineSep = "\r\n")
    assertOnlyLayout(out)
    val big5 = java.nio.charset.Charset.forName("big5")
    val got = Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/s1/srcB5.csv"))
    // what the reference's split_csv_file writes for store s1 (same
    // column order, same cells — simple cells need no csv quoting)
    val expected = (s"報表年度,2025,2024\r\n$S,城市,額\r\n" +
      "s1,台北,100\r\ns1,門市,300\r\n").getBytes(big5)
    assert(java.util.Arrays.equals(got, expected),
      s"big5 bytes differ:\n got=${new String(got, big5)}\n " +
        s"want=${new String(expected, big5)}")
    // and the bytes really are big5, not utf-8 (台 is 2 bytes in big5,
    // 3 in utf-8 — a utf-8 write would change the file length)
    assert(new String(got, big5).contains("台北"))
    assert(!new String(got, java.nio.charset.StandardCharsets.UTF_8)
      .contains("台北"))
  }

  test("output-encoding strict: unmappable character fails loud, not as '?'") {
    // the reference's open(..., encoding='big5') raises UnicodeEncodeError
    // on unmappable input (errors='strict' default); Java's
    // String.getBytes(Charset) would silently substitute '?'. Pin the
    // loud-failure contract: an emoji (not in big5) aborts the write with
    // an error naming the key and the charset.
    val out = tmpDir("fanout_strict").toString
    val df = Seq(("s1", "ok", "1"), ("s2", "🚀", "2")).toDF(S, "v", "n")
    val ex = intercept[org.apache.spark.SparkException] {
      FanOut.write(df, S, out, "srcX", encoding = "big5", lineSep = "\r\n")
    }
    val msg = Option(ex.getCause).map(_.toString).getOrElse("") + ex.getMessage
    assert(msg.contains("big5") && msg.contains("s2"),
      s"expected strict-encoding error naming key s2 and big5, got: $msg")
  }

  test("multi-partition input: one header and input row order per key") {
    val out = tmpDir("fanout_mp").toString
    // 8 input partitions × 3 keys: every key's rows come from all 8, and
    // the values are not in sorted order, so only input order passes
    val df = spark.range(0, 600, 1, 8)
      .select(concat(lit("k"), pmod(col("id"), lit(3))).as(S),
        pmod(col("id") * 7919, lit(600)).cast("string").as("v"))
    assert(df.rdd.getNumPartitions == 8)
    val input = df.collect().map(r => (r.getString(0), r.getString(1)))
    FanOut.write(df, S, out, "srcM", prefixRows = Seq("報表,1"),
      encoding = "big5", lineSep = "\r\n")
    assertOnlyLayout(out)
    val big5 = java.nio.charset.Charset.forName("big5")
    (0 to 2).foreach { k =>
      val got = Files.readAllBytes(java.nio.file.Paths.get(s"$out/k$k/srcM.csv"))
      val rows = input.filter(_._1 == s"k$k").map { case (key, v) => s"$key,$v\r\n" }
      assert(rows.length == 200)
      val expected = (s"報表,1\r\n$S,v\r\n" + rows.mkString).getBytes(big5)
      assert(java.util.Arrays.equals(got, expected),
        s"k$k: want prefix, one header, then input order; got\n" +
          new String(got, big5).take(300))
    }

    // one input partition, no prefix, UTF-8: reads back whole
    val out2 = tmpDir("fanout_rn").toString
    FanOut.write(df.coalesce(1), S, out2, "srcR")
    assertOnlyLayout(out2)
    val back2 = FanOut.read(spark, out2, "srcR", S)
    assert(back2.count() == 600 &&
      VerifyOps.contentViolations(back2, S).count() == 0)
  }

  test("CSV dialect: cells round-trip byte-exact, as Python's csv module writes them") {
    // csv.writer output for these cells (padded cells stay padded, an
    // embedded quote is doubled, backslash is an ordinary character);
    // the reference copies rows reader → writer, so the data lines must
    // come out exactly as they went in
    val dir = tmpDir("dialect_in")
    val out = tmpDir("dialect_out").toString
    val dataLines = Seq(
      "s1, padded ,\"q \"\"x\"\"\"",
      "s1,a\\b,\"c,d\"",
      "s2,plain,z")
    Files.writeString(dir.resolve("d.csv"),
      (s"$S,name,note" +: dataLines).mkString("", "\n", "\n"))
    val Seq(info) = HeaderScan.scanDir(spark, dir.toString)
    val df = HeaderScan.readFiles(spark, Seq(info)).drop("_path")
    assert(df.filter(col(S) === "s1").orderBy("note").select("name", "note")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("a\\b", "c,d"), (" padded ", "q \"x\"")))
    // plus an empty-string cell, which csv.writer writes as nothing
    // (Spark's default would write `""`)
    val withEmpty = df.unionByName(Seq(("s1", "", "e")).toDF(S, "name", "note"))
    FanOut.write(withEmpty, S, out, "d", prefixRows = info.prefixRows)
    assertOnlyLayout(out)
    assert(Files.readString(java.nio.file.Paths.get(s"$out/s1/d.csv")) ==
      (s"$S,name,note" +: dataLines.take(2) :+ "s1,,e").mkString("", "\n", "\n"))
    // and the read side parses the same dialect back (an unquoted empty
    // cell reads as null)
    val back = FanOut.read(spark, out, "d", S)
      .filter(col(S) === "s1").orderBy("note").select("name", "note")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(back == Seq(("a\\b", "c,d"), (null, "e"), (" padded ", "q \"x\"")))
  }

  test("special-character keys round-trip: space, percent, plus, hash") {
    val out = tmpDir("fanout_sp").toString
    val df = Seq(("a b", "1"), ("50%", "2"), ("x+y", "3"), ("s#1", "4"))
      .toDF(S, "v")
    FanOut.write(df, S, out, "src")
    assertOnlyLayout(out)
    // exact on-disk layout uses the literal keys
    assert(Seq("a b", "50%", "x+y", "s#1").forall(k =>
      new java.io.File(s"$out/$k/src.csv").isFile))
    val back = FanOut.read(spark, out, "src", S)
    assert(VerifyOps.contentViolations(back, S).count() == 0)
    assert(back.select(S).collect().map(_.getString(0)).sorted.toSeq ==
      Seq("50%", "a b", "s#1", "x+y"))
  }

  test("metacharacter src names round-trip: regex and glob specials are literal") {
    val out = tmpDir("fanout_meta").toString
    val df = Seq(("s1", "1"), ("s2", "2")).toDF(S, "v")
    val src = "report(2024)[v1]"
    FanOut.write(df, S, out, src)
    assertOnlyLayout(out)
    assert(new java.io.File(s"$out/s1/$src.csv").isFile)
    val back = FanOut.read(spark, out, "report(2024)[v1]", S)
    assert(back.count() == 2)
    assert(VerifyOps.contentViolations(back, S).count() == 0)
  }

  test("verify: a store absent from a source is not 'missing'") {
    val dir = tmpDir("verify_pairs")
    val out = layout(dir, ("s1", "a"), ("s2", "a"), ("s1", "b"))
    // expected mirrors the INPUT content: s2 never appeared in source b
    val expected = Seq(("s1", "a"), ("s2", "a"), ("s1", "b"))
      .toDF(S, "src")
    assert(setProblems(VerifyOps.verify(spark, out, S, Seq("a", "b"), Some(expected), utf8)).isEmpty)
    // an input pair with no output file IS missing; an output file with
    // no input pair IS extra
    val expected2 = expected.unionAll(Seq(("s2", "b")).toDF(S, "src"))
    layout(dir, ("s3", "a"))
    val problems = setProblems(VerifyOps.verify(spark, out, S, Seq("a", "b"), Some(expected2), utf8))
    assert(problems == Seq(("s2", "missing", "b"), ("s3", "extra", "a")))
  }

  test("verify --strict: a store absent from one source is clean by default, missing under strict") {
    val out = layout(tmpDir("verify_strict"), ("s1", "a"), ("s2", "a"), ("s1", "b"))
    val expected = Seq(("s1", "a"), ("s2", "a"), ("s1", "b")).toDF(S, "src")
    val byContent = VerifyOps.verify(spark, out, S, Seq("a", "b"), Some(expected), utf8)
    assert(!byContent.failed && setProblems(byContent).isEmpty)
    val strict = VerifyOps.verify(spark, out, S, Seq("a", "b"), None, utf8)
    assert(strict.failed && strict.missing.total == 1 && strict.extra.total == 0)
    assert(setProblems(strict) == Seq(("s2", "missing", "b")))
  }

  test("verify: 12 missing stores show the first 10 and count 12") {
    val stores = (1 to 12).map(i => f"s$i%02d")
    val out = layout(tmpDir("verify_12"), stores.map(_ -> "a"): _*)
    val r = VerifyOps.verify(spark, out, S, Seq("a", "b"), None, utf8)
    assert(r.missing.total == 12 && r.extra.total == 0)
    assert(r.missing.first == stores.take(10).map(_ -> "b"))
    assert(r.nKeys == 12 && r.violations == 0)
  }

  test("verify: a file with 7 violating rows gives 5 samples and the count 7") {
    val dir = tmpDir("verify_7")
    val out = layout(dir, ("s1", "a"), ("s2", "a"))
    Files.writeString(dir.resolve("s1/a.csv"),
      (s"$S,v" +: "s1,0" +: (1 to 7).map(i => s"x$i,$i")).mkString("", "\n", "\n"))
    val r = VerifyOps.verify(spark, out, S, Seq("a"), None, utf8)
    assert(r.content == Seq(VerifyOps.SrcContent("a",
      Seq(VerifyOps.FileViolations("s1", 7, (1 to 5).map(i => s"x$i"))), Nil)))
    assert(r.violations == 7 && r.failed && setProblems(r).isEmpty)
  }

  test("verify: a hidden output file and a keyless output file are one violation each") {
    val dir = tmpDir("verify_unreadable")
    val out = layout(dir, ("s1", "a"), ("s2", "a"))
    Files.copy(dir.resolve("s1/a.csv"), dir.resolve("s1/_a.csv"))
    Files.writeString(dir.resolve("s2/k.csv"), "a,b\n1,2\n")
    val r = VerifyOps.verify(spark, out, S, Seq("a"), None, utf8)
    assert(r.violations == 2 && r.content.forall(_.files.isEmpty))
    assert(r.content.map(c => c.src -> c.unreadable.map(p => p.substring(p.lastIndexOf('/') + 1))) ==
      Seq("_a" -> Seq("_a.csv"), "k" -> Seq("k.csv")))
    // each is an extra file too: no input has its source name
    assert(setProblems(r) == Seq(("s1", "extra", "_a"), ("s2", "extra", "k")))
  }

  test("VerifyOps: missing/extra file sets and injected content violation") {
    val out = layout(tmpDir("verify_sets"), ("s1", "a"), ("s1", "b"), ("s2", "a"))
    val sets = VerifyOps.verify(spark, out, S, Seq("a", "b"), None, utf8)
    assert(setProblems(sets).toSet == Set(("s2", "missing", "b")))
    val extra = VerifyOps.verify(spark, out, S, Seq("a"), None, utf8)
    assert(setProblems(extra).map { case (_, kind, src) => (kind, src) }.toSet == Set(("extra", "b")))

    val bad = Seq(("s1", "s1"), ("s9", "s1")).toDF(S, "_dir_key")
    assert(VerifyOps.contentViolations(bad, S).count() == 1)

    // one grouped count over all datasets: d2 holds no s1 row, so no count
    val presence = VerifyOps.presence(
      Seq(("d1", "s1"), ("d1", " s1 "), ("d1", "s2"), ("d2", "s2")).toDF("ds", S),
      S, "s1", col("ds")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(presence == Map("d1" -> 2L))
  }

  test("VerifyOps.violationSamples: at most k per file, ranked, counted") {
    // file s1: 8 violations (v1..v8), file s2: 2, file s3: clean
    val rows =
      (1 to 8).map(i => (f"v$i", "s1")) ++
        Seq(("w1", "s2"), ("w2", "s2"), ("s3", "s3"))
    val back = rows.toDF(S, "_dir_key")
    val out = VerifyOps.violationSamples(back, S, k = 5)
      .collect().map(r => (r.getString(1), r.getString(0), r.getInt(2), r.getLong(3)))
    assert(out.count(_._1 == "s1") == 5) // bounded at k
    assert(out.filter(_._1 == "s1").map(_._2).sorted.toSeq ==
      Seq("v1", "v2", "v3", "v4", "v5")) // first k by key order
    assert(out.filter(_._1 == "s1").forall(_._4 == 8L)) // full count survives
    assert(out.count(_._1 == "s2") == 2 && !out.exists(_._1 == "s3"))
  }

  test("composed per-store KPI emission: config 23-1 → {store}/23-1.csv with BOM") {
    // the reference's aggregate_by_store.py:225–233 end-to-end shape:
    // KPI frame → one utf-8-sig CSV per store directory
    val binds = Seq(("1", "2025", "01", "10"), ("1", "2024", "02", "5"),
      ("2", "2025", "03", "8")).toDF(S, "年度", "月份", "總綁定")
    val cum = Seq(("1", "50"), ("2", "20")).toDF(S, "累計至今推薦人綁定人數")
    val mem = Seq(("1", "200"), ("2", "80")).toDF(S, "總會員數")
    val out = tmpDir("kpi_emit").toString
    val kpi = graft.etl.Kpi.config23_1(binds, cum, mem)
    FanOut.write(kpi, S, out, "23-1", bom = true)
    assertOnlyLayout(out)
    val f1 = Files.readString(new java.io.File(s"$out/1/23-1.csv").toPath)
    assert(f1.startsWith("﻿"), "utf-8-sig BOM")
    val lines = f1.stripPrefix("﻿").split("\n").toSeq
    assert(lines.length == 2, "header + exactly one KPI row per store")
    assert(lines.head.split(",").head == S)
    assert(lines(1).startsWith("1,10.0,100.00%,25.00%"), lines(1))
    assert(new java.io.File(s"$out/2/23-1.csv").isFile)
  }

  test("HeaderScan: meta rows, quoted cells, warn-skip, distributed read") {
    val dir = tmpDir("hscan")
    Files.writeString(dir.resolve("good.csv"),
      "Report Title,, \n" +
        "Established At Year,2025,2024\n" +
        s"\"$S\",\"name, quoted\",金額\n" +
        "s1,\"Ace, Inc\",\"1,234\"\n" +
        "s2,Bob,99\n")
    Files.writeString(dir.resolve("nokey.csv"), "a,b\n1,2\n")

    val scanned = HeaderScan.scanFiles(spark, Seq(dir.resolve("good.csv").toString)).headOption
    assert(scanned.isDefined)
    val info = scanned.get
    assert(info.prefixRows == Seq("Report Title,, ", "Established At Year,2025,2024"))
    assert(info.columns == Seq(S, "name, quoted", "金額"))
    assert(HeaderScan.scanFiles(spark, Seq(dir.resolve("nokey.csv").toString)).isEmpty)

    val infos = HeaderScan.scanDir(spark, dir.toString)
    assert(infos.length == 1) // nokey.csv warn-skipped
    val rows = HeaderScan.readFiles(spark, Seq(infos.head)).drop("_path").orderBy(S).collect()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "Ace, Inc") // quoted comma survives
    assert(rows(0).getString(2) == "1,234") // stays string — typing is lazy
  }

  test("HeaderScan + FanOut end-to-end: messy export split per store") {
    val dir = tmpDir("h2f")
    val out = tmpDir("h2fout").toString
    Files.writeString(dir.resolve("export.csv"),
      s"meta,row\n$S,月份,總綁定\ns1,01,10\ns2,202502,20\ns1,3,30\n")
    FanOut.writeFiles(spark, HeaderScan.scanDir(spark, dir.toString), S, out)
    assertOnlyLayout(out)
    val back = FanOut.read(spark, out, "export", S)
    assert(back.count() == 3)
    assert(VerifyOps.contentViolations(back, S).count() == 0)
    val firstLine = Files.readAllLines(
      java.nio.file.Paths.get(s"$out/s1/export.csv")).get(0)
    assert(firstLine == "meta,row") // prefix replayed into every store file
  }

  test("writeFiles: files sharing a header keep their own prefix and rows, in one write") {
    val dir = tmpDir("wf_in")
    val out = tmpDir("wf_out").toString
    // same header, prefix depths 0 and 2, overlapping keys; values out of
    // sorted order, so only input order passes
    val a = Seq(("k1", "9"), ("k2", "1"), ("k1", "3"), ("k1", "2"))
    val b = Seq(("k2", "8"), ("k1", "7"), ("k2", "0"), ("k3", "5"))
    def body(rows: Seq[(String, String)]) = rows.map { case (k, v) => s"$k,$v\n" }.mkString
    Files.writeString(dir.resolve("a.csv"), s"$S,v\n" + body(a))
    Files.writeString(dir.resolve("b.csv"), s"Report,2025\nSource,BI\n$S,v\n" + body(b))
    val keys = FanOut.writeFiles(spark, HeaderScan.scanDir(spark, dir.toString), S, out)
    assert(keys == Seq("k1", "k2", "k3"))
    assertOnlyLayout(out)
    def expected(src: String, prefix: String, rows: Seq[(String, String)], k: String) =
      s"$k/$src.csv" -> (prefix + s"$S,v\n" + body(rows.filter(_._1 == k)))
    val want = (Seq("k1", "k2").map(expected("a", "", a, _)) ++
      Seq("k1", "k2", "k3").map(expected("b", "Report,2025\nSource,BI\n", b, _))).toMap
    val root = java.nio.file.Paths.get(out)
    val got = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toMap
    assert(got == want)
  }

  test("writeFiles: a header with a quote inside a cell keeps all its columns") {
    // Python's csv, pandas and spark.read.csv read `name"x` as one cell
    val dir = tmpDir("wf_quote")
    val out = tmpDir("wf_quote_out").toString
    Files.writeString(dir.resolve("q.csv"), s"$S,name\"x,v\ns1,a,b\n")
    val infos = HeaderScan.scanDir(spark, dir.toString)
    assert(infos.map(_.columns) == Seq(Seq(S, "name\"x", "v")))
    assert(FanOut.writeFiles(spark, infos, S, out) == Seq("s1"))
    val back = FanOut.read(spark, out, "q", S)
    assert(back.columns.toSeq == Seq(S, "name\"x", "v", "_dir_key"))
    assert(back.collect().map(_.toSeq).toSeq == Seq(Seq("s1", "a", "b", "s1")))
  }

  private def jobsOf(body: => Unit): Int =
    eventsOf { case _: org.apache.spark.scheduler.SparkListenerJobStart => () }(body).length

  test("writeFiles: the job count does not grow with the number of files") {
    def fanOut(nFiles: Int): Int = {
      val dir = tmpDir(s"wf_jobs$nFiles")
      (0 until nFiles).foreach(f => Files.writeString(dir.resolve(s"f$f.csv"),
        s"meta,$f\n$S,v\n" + (0 until 20).map(i => s"k${i % 5},$f-$i\n").mkString))
      val out = tmpDir(s"wf_jobs_out$nFiles").toString
      val jobs = jobsOf(FanOut.writeFiles(spark, HeaderScan.scanDir(spark, dir.toString), S, out))
      assert(Files.list(java.nio.file.Paths.get(out, "k0")).count() == nFiles)
      jobs
    }
    val (two, eight) = (fanOut(2), fanOut(8))
    assert(two > 0 && two == eight, s"2 files: $two jobs, 8 files: $eight jobs")
  }

  test("orphan-temp sweep removes only the temps of the sources written") {
    val out = tmpDir("fanout_sweep")
    val key = Files.createDirectories(out.resolve("s1"))
    // a crashed attempt of source a, and a temp of source xa, whose name
    // also contains "a.csv."
    val mine = Seq(".a.csv.17.tmp", "..a.csv.17.tmp.crc")
    val other = ".xa.csv.18.tmp"
    (mine :+ other).foreach(n => Files.writeString(key.resolve(n), "partial"))
    FanOut.write(Seq(("s1", "1")).toDF(S, "v"), S, out.toString, "a")
    assert(Files.list(key).iterator().asScala.map(_.getFileName.toString).toSet ==
      Set("a.csv", other))
  }

  test("writeKeyed: keys as given, null and blank keys dropped, a partitioned input not re-shuffled") {
    val out = tmpDir("fanout_keyed").toString
    val df = Seq((" a", "1"), ("b", "2"), ("", "3"), ("  ", "4"), (null, "5"), (" a", "6"))
      .toDF(S, "v")
    assert(FanOut.writeKeyed(df, S, out, "src") == Seq(" a", "b"))
    assert(Files.readString(java.nio.file.Paths.get(out, " a", "src.csv")) == s"$S,v\n a,1\n a,6\n")
    assert(Files.readString(java.nio.file.Paths.get(out, "b", "src.csv")) == s"$S,v\nb,2\n")
    assertOnlyLayout(out)
    // an aggregate by the key is written by the tasks that computed it;
    // the trimming write re-partitions by the trimmed key
    val sums = df.filter(col(S).isNotNull).groupBy(S).agg(count(lit(1)).as("n"))
    assert(shufflesOf(FanOut.writeKeyed(sums, S, tmpDir("fanout_keyed1").toString, "n")) == 1)
    assert(shufflesOf(FanOut.write(sums, S, tmpDir("fanout_keyed2").toString, "n")) == 2)
  }

  test("writeFiles: with more shuffle partitions than keys, more write tasks than keys") {
    val dir = tmpDir("wf_spread")
    (0 until 4).foreach(f => Files.writeString(dir.resolve(s"f$f.csv"),
      s"$S,v\n" + (0 until 40).map(i => s"k${i % 2},$f-$i\n").mkString))
    val infos = HeaderScan.scanDir(spark, dir.toString)
    withConf("spark.sql.shuffle.partitions" -> "16",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val out = tmpDir("wf_spread_out").toString
      val writing = eventsOf { case t: org.apache.spark.scheduler.SparkListenerTaskEnd
        if t.taskMetrics != null && t.taskMetrics.shuffleReadMetrics.recordsRead > 0 => t.taskInfo.taskId
      }(assert(FanOut.writeFiles(spark, infos, S, out) == Seq("k0", "k1")))
      assert(writing.length > 2, s"${writing.length} write tasks with rows for 2 keys")
      assertOnlyLayout(out)
      assert(Files.list(java.nio.file.Paths.get(out, "k1")).count() == 4)
    }
  }

  test("local output modes are Hadoop's defaults under its configured umask") {
    import org.apache.hadoop.fs.permission.FsPermission
    val hconf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.permissions.umask-mode", "fs.file.impl.disable.cache")
    val old = keys.map(k => k -> Option(hconf.get(k)))
    // a umask unlike the process's, on a filesystem instance built with it
    hconf.set("fs.permissions.umask-mode", "027")
    hconf.set("fs.file.impl.disable.cache", "true")
    try {
      val out = tmpDir("fanout_modes").resolve("nested/out")
      FanOut.write(Seq(("s1", "1")).toDF(S, "v"), S, out.toString, "a")
      val umask = FsPermission.getUMask(hconf)
      def mode(p: java.nio.file.Path) =
        java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      assert(mode(out.resolve("s1/a.csv")) == FsPermission.getFileDefault.applyUMask(umask).toString)
      Seq(out.getParent, out, out.resolve("s1")).foreach(d =>
        assert(mode(d) == FsPermission.getDirDefault.applyUMask(umask).toString, d))
      assert(mode(out.resolve("s1/a.csv")) == "rw-r-----")
      // and Hadoop's own create gives the same modes
      val raw = org.apache.hadoop.fs.FileSystem.getLocal(hconf).getRawFileSystem
      raw.create(new org.apache.hadoop.fs.Path(out.resolve("h/a.csv").toUri), true).close()
      assert(mode(out.resolve("h/a.csv")) == mode(out.resolve("s1/a.csv")))
      assert(mode(out.resolve("h")) == mode(out.resolve("s1")))
    } finally old.foreach {
      case (k, Some(v)) => hconf.set(k, v)
      case (k, None) => hconf.unset(k)
    }
  }
}
