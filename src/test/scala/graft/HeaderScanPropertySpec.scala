package graft

import java.nio.file.Files

import graft.sources.HeaderScan

/** Randomized (seeded) offset properties for the header scan — the
  * round-12 distributed-scan surface hardened beyond the fixture cases:
  * for arbitrary mixes of BOM, meta-row count/content (multi-byte CJK,
  * quoted cells with embedded commas), and per-line terminators
  * (\n, \r\n, lone \r), the scanned `dataStart` must equal the
  * independently computed byte length of the prefix+header region, the
  * offset-filtered distributed read must recover exactly the data rows,
  * and the directory scan must agree field-for-field with a scan of each
  * file alone.
  */
class HeaderScanPropertySpec extends SparkSpec {

  private val terms = Seq("\n", "\r\n", "\r")
  private val metaCells = Seq("Established At Year", "報表年度", "x,y quoted",
    "café", "2025", "", "\"inner\"quote")

  private def quote(cell: String): String =
    if (cell.contains(",") || cell.contains("\""))
      "\"" + cell.replace("\"", "\"\"") + "\""
    else cell

  /** One random file: returns (bytes, expected prefix rows, expected
    * header cells, expected data cell-rows, expected dataStart).
    */
  private def genFile(rnd: scala.util.Random)
      : (Array[Byte], Seq[String], Seq[String], Seq[Seq[String]], Long) = {
    val bom = rnd.nextBoolean()
    val nMeta = rnd.nextInt(4)
    val metas = (0 until nMeta).map { _ =>
      Seq.fill(1 + rnd.nextInt(3))(metaCells(rnd.nextInt(metaCells.length)))
    }
    val extraCols = (0 until rnd.nextInt(3)).map(i => s"c$i")
    val header = rnd.shuffle("store" +: extraCols)
    val data = (0 until 1 + rnd.nextInt(5)).map { r =>
      header.map(c => if (c == "store") s"s${r % 3}" else s"v${r}_$c")
    }
    val sb = new StringBuilder
    if (bom) sb.append('﻿')
    var head = new StringBuilder
    if (bom) head.append('﻿')
    metas.foreach { m =>
      val line = m.map(quote).mkString(",") + terms(rnd.nextInt(3))
      sb.append(line); head.append(line)
    }
    val headerLine = header.mkString(",") + terms(rnd.nextInt(3))
    sb.append(headerLine); head.append(headerLine)
    data.foreach(rw => sb.append(rw.mkString(",") + terms(rnd.nextInt(3))))
    val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val dataStart =
      head.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    // expected prefix rows as the scanner reports them (verbatim lines,
    // BOM stripped from the first)
    val metaLines = metas.map(m => m.map(quote).mkString(","))
    (bytes, metaLines, header.toSeq, data.map(_.toSeq), dataStart.toLong)
  }

  test("random BOM/terminator/meta mixes: byte-exact offsets, " +
    "distributed read recovers the data rows, dir scan ≡ driver scan") {
    val rnd = new scala.util.Random(20260815L)
    val dir = Files.createTempDirectory("hs_prop")
    val expected = (0 until 12).map { i =>
      val (bytes, metas, header, data, dataStart) = genFile(rnd)
      Files.write(dir.resolve(f"f$i%02d.csv"), bytes)
      (f"f$i%02d.csv", metas, header, data, dataStart)
    }
    // one keyless file: must be skipped by BOTH paths
    Files.writeString(dir.resolve("zz_nokey.csv"), "a,b\n1,2\n")

    val dist = HeaderScan.scanDir(spark, dir.toString,
      keyCol = "store")
    assert(dist.length == expected.length)
    val byName = dist.map(i => new java.io.File(i.path).getName -> i).toMap

    expected.foreach { case (name, metas, header, data, dataStart) =>
      val info = byName(name)
      assert(info.dataStart == dataStart, s"$name: dataStart")
      assert(info.columns == header, s"$name: header")
      assert(info.prefixRows.length == metas.length, s"$name: prefix count")
      assert(info.prefixRows == metas, s"$name: prefix rows")
      // a scan of the file alone agrees field-for-field
      val drv = HeaderScan.scanFiles(spark,
        Seq(dir.resolve(name).toString), keyCol = "store").head
      assert(drv.dataStart == info.dataStart &&
        drv.columns == info.columns && drv.prefixRows == info.prefixRows)
      // the offset-filtered distributed read yields exactly the data rows
      val back = HeaderScan.readFiles(spark, Seq(info)).drop("_path").collect()
        .map(r => header.indices.map(j => r.getString(j)).toSeq).toSet
      assert(back == data.toSet, s"$name: data rows")
    }
  }
}
