package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.cli.Args
import graft.etl.VerifyOps
import graft.sources.{FanOut, HeaderScan}

/** Byte-offset header-scan ingestion: dataStart accuracy under BOM and
  * CRLF line endings, and the one line source behind readFiles/readDir
  * (one plan leaf for any number of headers, tasks packed by bytes).
  */
class HeaderScanSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String) = Files.createTempDirectory(s"hs_$tag")

  test("dataStart is byte-exact under UTF-8 BOM and CRLF endings") {
    val dir = tmpDir("offsets")
    // BOM + CRLF everywhere + multi-byte meta content
    val content = "﻿Report 報表,x\r\nstore,金額\r\ns1,10\r\ns2,20\r\n"
    Files.write(dir.resolve("crlf.csv"),
      content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val info = HeaderScan.scanFiles(spark, Seq(dir.resolve("crlf.csv").toString),
      keyCol = "store").head
    assert(info.prefixRows == Seq("Report 報表,x"))
    assert(info.columns == Seq("store", "金額"))
    // BOM(3) + "Report 報表,x"(9 + 3*2 ascii→ 報表 is 2 CJK chars × 3 bytes)
    // — assert against the authoritative computation, not hand arithmetic
    val headBytes = ("﻿Report 報表,x\r\nstore,金額\r\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    assert(info.dataStart == headBytes)
    val rows = HeaderScan.readFiles(spark, Seq(info)).drop("_path").orderBy("store").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("s1", "10"), ("s2", "20")))
  }

  test("CR-only line endings terminate lines like Hadoop's reader does") {
    val dir = tmpDir("cr")
    Files.write(dir.resolve("mac.csv"),
      "meta,x\rstore,v\rs1,1\rs2,2\r"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val info = HeaderScan.scanFiles(spark, Seq(dir.resolve("mac.csv").toString),
      keyCol = "store").head
    assert(info.prefixRows == Seq("meta,x") && info.columns == Seq("store", "v"))
    assert(info.dataStart == "meta,x\rstore,v\r".getBytes.length)
    val rows = HeaderScan.readFiles(spark, Seq(info)).drop("_path").orderBy("store").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("s1", "1"), ("s2", "2")))
  }

  test("relative input path reads correctly (qualified offset keys)") {
    val dir = tmpDir("rel")
    Files.writeString(dir.resolve("r.csv"), "store,v\na,1\n")
    val cwd = java.nio.file.Paths.get("").toAbsolutePath
    val rel = cwd.relativize(dir.resolve("r.csv")).toString
    val info = HeaderScan.scanFiles(spark, Seq(rel), keyCol = "store").head
    assert(HeaderScan.readFiles(spark, Seq(info)).drop("_path").count() == 1)
  }

  test("distributed dir scan ≡ driver-side scanHeader per file") {
    val dir = tmpDir("dist")
    // a mix that exercises every offset case: BOM+CRLF, CR-only, plain,
    // multi-meta-row, and a keyless file that must be warn-skipped
    Files.write(dir.resolve("a.csv"),
      "﻿Report 報表,x\r\nstore,金額\r\ns1,10\r\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.write(dir.resolve("b.csv"),
      "meta,x\rstore,v\rs1,1\r".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.writeString(dir.resolve("c.csv"), "store,v\na,1\n")
    Files.writeString(dir.resolve("d.csv"), "m1,x\nm2,y\nstore,w\nb,2\n")
    Files.writeString(dir.resolve("nokey.csv"), "foo,bar\n1,2\n")
    val dist = HeaderScan.scanDir(spark, dir.toString, keyCol = "store")
    val driver = Seq("a.csv", "b.csv", "c.csv", "d.csv", "nokey.csv")
      .flatMap(f => HeaderScan.scanFiles(spark, Seq(dir.resolve(f).toString),
        keyCol = "store").headOption)
    // same files found (keyless skipped), same offsets, same headers —
    // one scan over the listed directory and one scan per file read each
    // file alike, whatever else shares its task
    assert(dist.map(_.path.stripPrefix("file:")).sorted ==
      driver.map(_.path).sorted)
    val byName = dist.map(i => new java.io.File(i.path).getName -> i).toMap
    driver.foreach { d =>
      val e = byName(new java.io.File(d.path).getName)
      assert(e.dataStart == d.dataStart, s"${d.path}: offset drift")
      assert(e.columns == d.columns && e.prefixRows == d.prefixRows)
    }
    assert(dist.map(_.prefixRows.length) == Seq(1, 1, 0, 2))
    assert(dist.size == 4) // nokey.csv skipped in the executors too
  }

  test("recursive listing + glob: nested lake tree, hidden dirs excluded") {
    val dir = tmpDir("tree")
    // ingest/2025/{07,08}/… date-partitioned layout + a root-level file,
    // a hidden staging dir, an underscore marker, and an uppercase .CSV
    def put(rel: String, body: String): Unit = {
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, body)
    }
    put("root.csv", "store,v\nr1,1\n")
    put("_flat.csv", "store,v\nu1,7\n") // warn-skipped: Hadoop can't read it
    put("2025/07/j1.csv", "meta\nstore,v\na,1\n")
    put("2025/07/j2.CSV", "store,v\nb,2\n")
    put("2025/08/k1.csv", "store,v\nc,3\n")
    put("2025/08/deep/k2.csv", "store,v\nd,4\n")
    put(".staging/tmp.csv", "store,v\nx,9\n")
    put("_meta/marker.csv", "store,v\ny,9\n")
    put("2025/08/deep/_partial.csv", "store,v\nz,9\n")

    // the reference's scandir would ingest _flat.csv from a flat input
    // dir, but Hadoop input formats hard-filter ./_-prefixed paths
    // (FileInputFormat hiddenFileFilter — spark.read.csv can't see them
    // either), so the listing warn-skips it rather than returning a
    // path the data plane would then refuse; hidden names BELOW the
    // root are lake state and skip silently
    val all = HeaderScan.listCsvFiles(spark, dir.toString)
      .map(p => dir.toUri.relativize(new java.io.File(
        p.stripPrefix("file:")).toURI).getPath)
    assert(all == Seq("2025/07/j1.csv", "2025/07/j2.CSV", "2025/08/deep/k2.csv",
      "2025/08/k1.csv", "root.csv"),
      s"recursive listing mismatch: $all")

    // glob: only the 08 partition — each directory match is itself a
    // scan root (direct children loose, deeper levels strict)
    val aug = HeaderScan.listCsvFiles(spark, s"$dir/2025/0[8]")
      .map(_.split('/').last)
    assert(aug.sorted == Seq("k1.csv", "k2.csv"))
    // glob matching FILES directly
    val j = HeaderScan.listCsvFiles(spark, s"$dir/2025/07/j*.csv")
      .map(_.split('/').last)
    assert(j == Seq("j1.csv")) // j2.CSV not matched by lowercase glob

    // the directory scan ≡ per-file scans, over the nested tree
    val dist = HeaderScan.scanDir(spark, dir.toString, keyCol = "store")
    val driver = all.flatMap(rel => HeaderScan.scanFiles(
      spark, Seq(dir.resolve(rel).toString), keyCol = "store").headOption)
    assert(dist.size == driver.size && dist.size == 5)
    dist.sortBy(_.path).zip(driver.sortBy(_.path)).foreach { case (e, d) =>
      assert(e.dataStart == d.dataStart && e.columns == d.columns &&
        e.prefixRows == d.prefixRows)
    }
    assert(dist.map(_.prefixRows.length) == Seq(1, 0, 0, 0, 0)) // j1.csv's meta line

    // readDir over the tree: every non-hidden row, none from hidden dirs
    val rows = HeaderScan.readDir(spark, dir.toString, keyCol = "store")
      .select("store").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().sorted
    assert(rows.toSeq == Seq("a", "b", "c", "d", "r1"))
  }

  test("nonexistent plain path fails loudly; empty glob returns empty") {
    val dir = tmpDir("missing")
    // a typo'd plain ingest path must throw (pre-r13 listStatus behavior,
    // restored deliberately) — an empty Seq would make the typo look like
    // an empty lake and every downstream stage would silently no-op
    intercept[java.io.FileNotFoundException] {
      HeaderScan.listCsvFiles(spark, s"$dir/no_such_subdir")
    }
    // a glob matching nothing is legal (empty lake partition): empty
    // result, driver-side warning only
    assert(HeaderScan.listCsvFiles(spark, s"$dir/2024/0[1-9]").isEmpty)
  }

  test("readDir groups same-schema files into one scan, unions the rest") {
    val dir = tmpDir("grouped")
    // two files share schema (a) with DIFFERENT prefix depths; one file
    // has schema (b); one decoy has no key column
    Files.writeString(dir.resolve("a1.csv"), "meta\nstore,v\ns1,1\ns2,2\n")
    Files.writeString(dir.resolve("a2.csv"), "m1\nm2,x\nstore,v\ns3,3\n")
    Files.writeString(dir.resolve("b.csv"), "store,w\ns4,4\n")
    Files.writeString(dir.resolve("decoy.csv"), "p,q\n1,2\n")

    val infos = HeaderScan.scanDir(spark, dir.toString, keyCol = "store")
    assert(infos.map(_.path.split('/').last) == Seq("a1.csv", "a2.csv", "b.csv"))
    assert(infos.map(_.dataStart).forall(_ > 0))

    val df = HeaderScan.readDir(spark, dir.toString, keyCol = "store")
    // one line source for every header: 2 schemas → still 1 leaf
    assert(df.queryExecution.optimizedPlan.collectLeaves().length == 1)
    val rows = df.orderBy("store")
      .select("store", "v", "w", "_src").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(rows.toSeq == Seq(
      ("s1", "1", null, "a1.csv"),
      ("s2", "2", null, "a1.csv"),
      ("s3", "3", null, "a2.csv"),
      ("s4", null, "4", "b.csv")))
  }

  test("a file larger than the split size reads every row once, in order") {
    val dir = tmpDir("split")
    val endings = Seq("\n", "\r\n", "\r")
    val rows = (0 until 600).map(r => (s"k$r", s"v$r 值"))
    val body = (Seq("meta,報表", "meta2,x", "store,v") ++ rows.map { case (k, v) => s"$k,$v" })
      .zipWithIndex.map { case (l, i) => l + endings(i % 3) }.mkString
    Files.write(dir.resolve("big.csv"),
      ("\uFEFF" + body).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val info = HeaderScan.scanDir(spark, dir.toString, keyCol = "store").head
    assert(info.prefixRows == Seq("meta,報表", "meta2,x"))
    // several split sizes, so piece boundaries land inside lines, on
    // '\r', on '\n' and inside "\r\n"
    Seq("2000", "2001", "2003", "4096").foreach { bytes =>
      withConf("spark.sql.files.maxPartitionBytes" -> bytes) {
        val df = HeaderScan.readFiles(spark, Seq(info))
        assert(df.rdd.getNumPartitions >= 2, s"split size $bytes")
        val got = df.select("store", "v").collect().map(r => (r.getString(0), r.getString(1)))
        assert(got.toSeq == rows, s"split size $bytes")
      }
    }
  }

  test("40 headers read as one plan leaf in at most defaultParallelism tasks") {
    val dir = tmpDir("wide")
    (0 until 40).foreach(i => Files.writeString(dir.resolve(f"f$i%02d.csv"), s"store,c$i\ns$i,$i\n"))
    val infos = HeaderScan.scanDir(spark, dir.toString, keyCol = "store")
    assert(infos.map(_.columns).distinct.length == 40)
    val df = HeaderScan.readFiles(spark, infos)
    assert(df.queryExecution.optimizedPlan.collectLeaves().length == 1)
    assert(df.rdd.getNumPartitions <= spark.sparkContext.defaultParallelism)
    assert(df.columns.toSeq == ("store" +: (0 until 40).map(i => s"c$i")) :+ "_path")
    assert(df.select("store", "c7").collect().map(r => (r.getString(0), r.getString(1)))
      .toSet == (0 until 40).map(i => (s"s$i", if (i == 7) "7" else null)).toSet)
  }

  test("file names with glob metacharacters or commas read literally") {
    val dir = tmpDir("literal")
    // data[1].csv is also a glob matching data1.csv, and a comma once
    // split the path list: each file must read as exactly itself
    Files.writeString(dir.resolve("data1.csv"), "store,v\na,1\n")
    Files.writeString(dir.resolve("data[1].csv"), "meta\nstore,v\nb,2\n")
    Files.writeString(dir.resolve("x,y.csv"), "store,v\nc,3\n")
    Files.writeString(dir.resolve("{p}*?.csv"), "store,v\nd,4\n")
    val want = Seq(("data1.csv", "a"), ("data[1].csv", "b"), ("x,y.csv", "c"),
      ("{p}*?.csv", "d")).sorted
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("_src", "store").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows(HeaderScan.readDir(spark, dir.toString, keyCol = "store")).sorted == want)
  }

  test("property: random endings × BOM × prefix depth round-trip exactly") {
    val rng = new scala.util.Random(42)
    val dir = tmpDir("prop")
    val expected = scala.collection.mutable.Map.empty[String, Seq[(String, String)]]
    (0 until 8).foreach { i =>
      val ending = Seq("\n", "\r\n", "\r")(rng.nextInt(3))
      val bom = if (rng.nextBoolean()) "﻿" else ""
      val nPrefix = rng.nextInt(4)
      val rows = (0 until 1 + rng.nextInt(5))
        .map(r => (s"k${i}_$r", rng.nextInt(1000).toString))
      val content = bom +
        ((0 until nPrefix).map(p => s"meta$p,junk 標題") ++
          Seq("store,v") ++ rows.map { case (k, v) => s"$k,$v" })
          .mkString("", ending, ending)
      val name = s"f$i.csv"
      java.nio.file.Files.write(dir.resolve(name),
        content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      expected(name) = rows
    }
    val df = HeaderScan.readDir(spark, dir.toString, keyCol = "store")
    val got = df.select("store", "v", "_src").collect()
      .map(r => (r.getString(2), (r.getString(0), r.getString(1))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1).toSeq).toMap
    assert(got == expected.view.mapValues(_.sortBy(_._1)).toMap)
  }

  test("grouped read keeps per-file dataStart (different prefix depths)") {
    val dir = tmpDir("depths")
    Files.writeString(dir.resolve("p0.csv"), "store,v\nx1,1\n")
    Files.writeString(dir.resolve("p3.csv"), "m\nm\nm\nstore,v\nx2,2\n")
    val df = HeaderScan.readDir(spark, dir.toString, keyCol = "store")
    val got = df.select("store", "v").orderBy("store").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("x1", "1"), ("x2", "2")))
  }

  /** `body` as file `name` in a fresh dir, scanned with its line 0 as the
    * header (the CLI's aggregate and presence read).
    */
  private def lineZero(name: String, body: String): (String, Seq[HeaderScan.HeaderInfo]) = {
    val f = tmpDir("line0").resolve(name)
    Files.write(f, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (f.toString, HeaderScan.scanFiles(spark, Seq(f.toString), "store", maxScanLines = 1))
  }

  test("line-0 read ≡ spark.read.csv: BOM, quoted comma, empty cells, ragged rows, padded header") {
    Seq(
      "midquote.csv" -> "store,name\"x,v\ns1,a,b\n",
      "bom.csv" -> "\uFEFFstore,v\ns1,1\ns2,2\n",
      "comma.csv" -> "store,v\ns1,\"1,234\"\ns2,\"5\"\n",
      "empty.csv" -> "store,a,b,c\ns1,,2,\n,,,\ns2,1,,\n",
      "ragged.csv" -> "store,a,b\ns1\ns2,1\ns3,1,2,3,4\n",
      "padded.csv" -> " store , v \n s1 , 1 \ns2,2\n").foreach { case (name, body) =>
      val (f, infos) = lineZero(name, body)
      assert(infos.length == 1, name)
      val ours = HeaderScan.readFiles(spark, infos).drop("_path")
      val ref = spark.read.option("header", "true").csv(f)
      assert(ours.columns.toSeq == ref.columns.map(_.trim).toSeq, name)
      assert(ours.collect().toSeq == ref.collect().toSeq, name)
    }
  }

  test("a doubled quote in a quoted cell reads as pandas reads it") {
    // spark.read.csv (escape '\\') read it as `"q ""x""`; Python's csv
    // dialect, as pandas, undoubles the quote
    val (_, infos) = lineZero("quote.csv", "store,v\ns1,\"q \"\"x\"\"\"\n")
    assert(HeaderScan.readFiles(spark, infos).select("v").head().getString(0) == "q \"x\"")
  }

  test("a line ending inside a quoted cell fails the data and head scans, naming the file and offset") {
    // Python's csv module reads `"line one\nline two"` as one cell; a line
    // reader would cut it into a short row and a stray one
    val (_, infos) = lineZero("break.csv", "store,note\ns1,\"line one\nline two\"\ns2,plain\n")
    val data = intercept[org.apache.spark.SparkException](HeaderScan.readFiles(spark, infos).collect())
    assert(data.getMessage.contains("break.csv") && data.getMessage.contains("byte offset 11"), data.getMessage)
    // in a prefix row, and in a header
    Seq("prefix.csv" -> "report,2025\nnote,\"open\nclose\"\nstore,v\ns1,1\n" -> 12,
      "header.csv" -> "store,\"v\nw\"\ns1,1\n" -> 0).foreach { case ((name, body), offset) =>
      val f = tmpDir("qhead").resolve(name)
      Files.writeString(f, body)
      val head = intercept[org.apache.spark.SparkException](HeaderScan.scanFiles(spark, Seq(f.toString), "store"))
      assert(head.getMessage.contains(name) && head.getMessage.contains(s"byte offset $offset"), head.getMessage)
    }
    // a quote opens a quoted cell only at a cell's start, and a doubled
    // quote inside one is a literal: quotes are not counted for parity
    val (_, closed) = lineZero("closed.csv", "store,a,b\ns1,x\"y,\"q \"\"z\"\"\"\n")
    assert(HeaderScan.readFiles(spark, closed).select("a", "b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("x\"y", "q \"z\"")))
    // the writer quotes a cell holding a line break, so reading it back fails too
    val out = tmpDir("qwrite").toString
    FanOut.write(Seq(("s1", "a\nb")).toDF("store", "note"), "store", out, "w")
    assert(Files.readString(java.nio.file.Paths.get(s"$out/s1/w.csv")) == "store,note\ns1,\"a\nb\"\n")
    val back = intercept[org.apache.spark.SparkException](FanOut.read(spark, out, "w", "store").collect())
    assert(back.getMessage.contains("w.csv") && back.getMessage.contains("byte offset 11"), back.getMessage)
  }

  test("a line 0 without the key column is not a header, even with the key below it") {
    val (_, infos) = lineZero("meta.csv", "report,2025\nstore,v\ns1,1\n")
    assert(infos.isEmpty)
  }

  test("a blank line adds no row to the CLI's aggregate or presence input") {
    // a dotted header name too: the blank-row drop must not parse names
    val body = "store,a.b\ns1,1\n\ns2,2\n\n s1 ,3\n"
    val (f, _) = lineZero("blank.csv", body)
    val ref = spark.read.option("header", "true").csv(f)
    val Seq(agg) = Args.readHeaded(spark, Seq(f), "store")
    assert(agg.columns.toSeq == Seq("store", "a.b"))
    assert(agg.collect().toSeq == ref.collect().toSeq && agg.count() == 3)
    val counts = VerifyOps.presence(HeaderScan.readFiles(spark, Args.scanHeaded(spark, Seq(f), "store")),
      "store", "s1", col("_path")).collect().map(_.getLong(1)).toSeq
    assert(counts == Seq(ref.filter(trim(col("store")) === "s1").count()) && counts == Seq(2L))
  }
}
