package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapred.{FileInputFormat, FileSplit, JobConf, TextInputFormat}
import org.apache.spark.rdd.HadoopRDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Header-scanning CSV ingestion (reference fan_out_by_storeid.py:14–30,
  * verify_fanout.py:67–86; SURVEY.md §2.1 S2).
  *
  * BI-export CSVs carry 0..n meta rows (e.g. `Established At Year,2025,
  * 2024`) before the real header; the real header is the first row that
  * contains the key column (`商店序號` by default). Files without the key
  * column are warned and skipped, not failed (fan_out_by_storeid.py:28–30).
  *
  * Scale split: the *scan* touches only the head of each file (a bounded
  * read of ≤ maxScanLines lines per file, in executors — [[scanFiles]];
  * the same role as schema inference) and records the BYTE OFFSET where
  * data starts; the *data read* is fully distributed and shuffle-free:
  * `TextInputFormat` keys every line with its byte offset, so dropping
  * the prefix+header is a per-split `offset >= dataStart` filter — no
  * zipWithIndex pass, no extra job, and files sharing a schema read as
  * ONE multi-path scan ([[readDir]]), so the plan grows with the number
  * of distinct schemas, not the number of files.
  *
  * The program's one reader for prefixed CSVs: fan-out inputs
  * ([[FanOut.writeFiles]]) and outputs ([[FanOut.read]], the verifier)
  * go through [[scanFiles]] and [[readFiles]] (file names taken literally).
  */
object HeaderScan {

  val defaultKeyCol = "商店序號"

  /** Result of scanning one file's head.
    *
    * @param dataStart byte offset of the first data line (prefix + header
    *                  bytes, including BOM and CR/LF — measured raw, so
    *                  the offset matches `TextInputFormat`'s line keys)
    * @param encoding  the charset whose decoding found the key column;
    *                  the data read decodes the file's lines with it
    */
  final case class HeaderInfo(
      path: String,
      prefixRows: Seq[String], // verbatim meta lines above the header
      columns: Seq[String], // trimmed header cells
      skipLines: Int, // prefix + header line count
      dataStart: Long,
      encoding: String)

  /** Minimal CSV line splitter for the header scan (quoted cells with
    * embedded commas supported; the distributed data path uses Spark's
    * real `from_csv` parser).
    */
  private[sources] def splitCsvLine(line: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { sb += '"'; i += 1 }
          else inQ = false
        } else sb += c
      } else c match {
        case '"' => inQ = true
        case ',' => out += sb.result(); sb.clear()
        case _ => sb += c
      }
      i += 1
    }
    out += sb.result()
    out.toSeq
  }

  /** Driver-side head scan: locate the header row (first row containing
    * `keyCol`), collecting the meta rows above it and counting the exact
    * bytes consumed through the header line. Returns None (with a
    * warning) when the key column never appears in the first
    * `maxScanLines` lines — mirroring the reference's warn-and-skip.
    *
    * Reads raw bytes (newline-delimited) and decodes per line, so the
    * byte count is exact for any ASCII-newline-compatible charset
    * (latin-1, GBK, Big5, UTF-8, ...) — the same constraint Hadoop's
    * line reader has.
    */
  def scanHeader(
      spark: SparkSession,
      file: String,
      keyCol: String = defaultKeyCol,
      maxScanLines: Int = 100,
      encoding: String = "UTF-8"): Option[HeaderInfo] = {
    val fs = new Path(file).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val found = scanHead(fs, file, keyCol, maxScanLines, encoding)
    if (found.isEmpty) warnKeyless(file, keyCol)
    found
  }

  private def warnKeyless(file: String, keyCol: String): Unit =
    System.err.println(s"[headerscan] WARN: key column '$keyCol' not found in $file — skipping")

  /** The head-scan core — ONE body shared by the driver-side
    * [[scanHeader]] and the executor-side [[scanFiles]], so the two
    * paths cannot diverge on offset arithmetic (HeaderScanSpec asserts
    * their equality on real files).
    */
  private def scanHead(
      fs: org.apache.hadoop.fs.FileSystem,
      file: String,
      keyCol: String,
      maxScanLines: Int,
      encoding: String): Option[HeaderInfo] = {
    val in = new java.io.BufferedInputStream(fs.open(new Path(file)))
    try {
      val cs = java.nio.charset.Charset.forName(encoding)
      val prefix = ArrayBuffer.empty[String]
      var found: Option[HeaderInfo] = None
      var pos = 0L // bytes consumed so far (incl. BOM + line terminators)
      var n = 0
      var firstLine = true
      var eof = false
      while (!eof && found.isEmpty && n < maxScanLines) {
        val buf = new java.io.ByteArrayOutputStream()
        var b = in.read()
        var consumed = 0L
        // line terminators exactly as Hadoop's LineRecordReader (and the
        // old BufferedReader.readLine) see them: \n, \r\n, or lone \r
        while (b != -1 && b != '\n' && b != '\r') { buf.write(b); consumed += 1; b = in.read() }
        if (b == '\r') {
          consumed += 1
          in.mark(1)
          if (in.read() == '\n') consumed += 1 else in.reset()
        } else if (b == '\n') consumed += 1
        if (b == -1 && buf.size() == 0) eof = true
        else {
          var line = new String(buf.toByteArray, cs)
          // strip a UTF-8 BOM if present (utf-8-sig exports); its bytes
          // stay in `consumed`, keeping dataStart aligned with the file
          if (firstLine && line.nonEmpty && line.charAt(0) == '﻿')
            line = line.substring(1)
          firstLine = false
          pos += consumed
          val cells = splitCsvLine(line).map(_.trim)
          if (cells.contains(keyCol))
            found = Some(HeaderInfo(file, prefix.toSeq, cells, prefix.length + 1, pos, encoding))
          else { prefix += line; n += 1 }
        }
      }
      found
    } finally in.close()
  }

  /** The data lines of `infos`' files as (`_path`, `_line`): one
    * multi-path `TextInputFormat` scan keys every line with its byte
    * offset, and lines before the file's `dataStart` are dropped per
    * split (no shuffle, no job until an action); each file decodes with
    * its own `encoding`. Paths reach Hadoop as a `Path` list with glob
    * metacharacters escaped (`data[1].csv` is no pattern for
    * `data1.csv`; `setInputPaths` escapes commas). Hadoop's hidden-file
    * filter still refuses `.`/`_`-prefixed names.
    */
  private def dataLines(spark: SparkSession, infos: Seq[HeaderInfo]): DataFrame = {
    // qualify before keying: a relative caller path must land on the same
    // key as the fully-qualified FileSplit path the executors see
    val hconf = spark.sparkContext.hadoopConfiguration
    val paths = infos.map { i =>
      val p = new Path(i.path)
      p.getFileSystem(hconf).makeQualified(p)
    }
    val byPath = spark.sparkContext.broadcast(paths.zip(infos).map { case (p, i) =>
      p.toUri.getPath -> (i.dataStart, i.encoding)
    }.toMap)
    val job = new JobConf(hconf)
    FileInputFormat.setInputPaths(job, paths.map(p =>
      new Path(p.toString.replaceAll("([\\[\\]{}*?\\\\])", "\\\\$1"))): _*)
    val rdd = spark.sparkContext
      .hadoopRDD(job, classOf[TextInputFormat], classOf[LongWritable], classOf[Text])
      .asInstanceOf[HadoopRDD[LongWritable, Text]]
      .mapPartitionsWithInputSplit({ (split, it) =>
        val fp = split.asInstanceOf[FileSplit].getPath
        val (start, enc) = byPath.value(fp.toUri.getPath)
        val cs = java.nio.charset.Charset.forName(enc)
        val path = fp.toString
        // Text/LongWritable objects are reused by the record reader —
        // materialize before the iterator advances
        it.filter(_._1.get() >= start)
          .map { case (_, t) => (path, new String(t.getBytes, 0, t.getLength, cs)) }
      }, preservesPartitioning = true)
    spark.createDataFrame(rdd).toDF("_path", "_line")
  }

  /** Read header-scanned files ([[scanFiles]], [[scanDir]]) with ONE
    * distributed scan per distinct header, unioned by name (missing
    * columns null-filled): the plan grows with the number of headers, not
    * of files. Cells are all `StringType`; every row carries its file's
    * path in `_path`. Groups are ordered by their first file, so the
    * column order is deterministic.
    */
  def readFiles(spark: SparkSession, infos: Seq[HeaderInfo]): DataFrame = {
    require(infos.nonEmpty, "readFiles: no scanned files")
    infos.groupBy(_.columns).values.toSeq.sortBy(_.map(_.path).min).map { g =>
      val schema = StructType(g.head.columns.map(StructField(_, StringType)))
      dataLines(spark, g)
        .select(from_csv(col("_line"), schema, FanOut.csvDialect).as("r"), col("_path"))
        .select(col("r.*"), col("_path"))
    }.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** The file name of a `_path` value. */
  def fileName(path: Column): Column = substring_index(path, "/", -1)

  /** The name of the directory holding a `_path` value's file. */
  def parentName(path: Column): Column =
    substring_index(substring_index(path, "/", -2), "/", 1)

  /** Distributed read of one header-scanned file: all-string schema from
    * the discovered header, prefix + header dropped by byte offset, lines
    * decoded with the charset the scan matched (the reference's
    * `--encoding` flag, fan_out_by_storeid.py:57).
    */
  def readFile(spark: SparkSession, info: HeaderInfo): DataFrame =
    readFiles(spark, Seq(info)).drop("_path")

  /** Scan every `*.csv` under `dir` ([[listCsvFiles]], then
    * [[scanFiles]]), skipping files without the key column.
    */
  def scanDir(
      spark: SparkSession,
      dir: String,
      keyCol: String = defaultKeyCol,
      encoding: String = "UTF-8"): Seq[HeaderInfo] =
    scanFiles(spark, listCsvFiles(spark, dir), keyCol, Seq(encoding))

  private val globMeta = Set('*', '?', '[', ']', '{', '}')

  private def isCsvLoose(name: String): Boolean =
    name.toLowerCase.endsWith(".csv")

  /** Hadoop's hidden-name rule: its input formats skip these files. */
  private[graft] def isHidden(name: String): Boolean =
    name.startsWith(".") || name.startsWith("_")

  /** Lake-convention test: hidden (`.`/`_`-prefixed) names are system
    * state, not data. */
  private def isCsvName(name: String): Boolean =
    isCsvLoose(name) && !isHidden(name)

  /** A `*.csv` whose name Hadoop refuses to read: the reference's
    * `os.scandir` (fan_out_by_storeid.py:7–9) WOULD ingest
    * `_totals.csv` from a flat input dir, but every Hadoop input
    * format hard-filters `.`/`_`-prefixed paths (FileInputFormat's
    * hiddenFileFilter — the same files are invisible to
    * `spark.read.csv`), so silent parity is impossible on this data
    * plane. Warn-and-skip keeps the divergence LOUD, mirroring the
    * reference's own warn-skip style for unreadable inputs.
    */
  private def warnHiddenCsv(path: Path): Unit =
    System.err.println(
      s"[graft] WARNING: skipping $path — Hadoop input formats cannot " +
        "read '.'/'_'-prefixed paths (the reference's scandir would " +
        "ingest it; rename the file to include it)")

  /** One scan root's files: direct `*.csv` children are all taken
    * except hidden-prefixed names, which are warn-skipped (see
    * [[warnHiddenCsv]] — a platform constraint, not a policy);
    * subdirectory recursion follows the lake convention — hidden
    * `.`/`_` path segments (staging temps, `_SUCCESS`-style markers,
    * checkpoint state) never ingest as data, silently. Recursion is
    * explicit per-directory `listStatus` (hidden dirs pruned without
    * descending — same file set as a descend-then-filter walk, less
    * work). MEASURED reason (round-14 1e5-file probe, jstack): the
    * previous `listFiles(recursive = true)` materializes a
    * `LocatedFileStatus` per file, which on the local filesystem
    * EAGER-loads permissions by forking a shell PER FILE (~10 ms each
    * — 100k files took >17 min of fork/exec); plain `listStatus`
    * keeps permissions lazy and the walk never reads them. On HDFS
    * this costs one RPC per directory instead of one bulk call; on S3
    * the per-root distribution in [[listCsvFiles]] bounds each walk,
    * and a flat-LIST fast path can slot in here if a real object
    * store ever needs it.
    */
  private def walkRoot(
      fs: org.apache.hadoop.fs.FileSystem,
      root: Path): (Seq[String], Seq[String]) = {
    val out = Seq.newBuilder[String]
    val skipped = Seq.newBuilder[String]
    def rec(d: Path): Unit =
      fs.listStatus(d).foreach { st =>
        val n = st.getPath.getName
        if (st.isFile) {
          if (isCsvName(n)) out += st.getPath.toString
        } else if (!isHidden(n)) rec(st.getPath)
      }
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (st.isFile) {
        if (isCsvName(name)) out += st.getPath.toString
        else if (isCsvLoose(name)) skipped += st.getPath.toString
      } else if (!isHidden(name)) rec(st.getPath)
    }
    (out.result(), skipped.result())
  }

  /** Enumerate the `*.csv` files of a lake path: `dir` may be a plain
    * directory (recursed to any depth — `ingest/2025/08/store.csv`
    * layouts list completely) or a Hadoop glob (star wildcards, `{a,b}`
    * alternation, `?` single-char); every match — the plain dir, or
    * each glob-matched file/directory — is a scan ROOT with the
    * [[walkRoot]] semantics: direct file children are taken except
    * hidden-prefixed names (warn-skipped — Hadoop's data plane cannot
    * read them), deeper levels keep the lake convention. Listing
    * is metadata-only; when a glob fans out to many directories the
    * per-root walks run IN EXECUTORS (the same split Spark's
    * `InMemoryFileIndex` uses past its parallelism threshold), so a
    * million-file lake never serializes its listing through one driver
    * loop — and the head-reads that follow are already distributed.
    */
  def listCsvFiles(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val isGlob = dir.exists(globMeta.contains)
    val roots: Seq[org.apache.hadoop.fs.FileStatus] =
      if (isGlob) {
        val matched = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
        // a glob matching nothing is legal (an empty lake partition) but
        // worth a driver-side warning — a typo'd pattern looks identical
        if (matched.isEmpty) System.err.println(
          s"[graft] WARNING: glob '$dir' matched no paths — " +
            "scan result will be empty (check the pattern)")
        matched
      }
      else if (fs.exists(p)) Seq(fs.getFileStatus(p))
      // a typo'd plain ingest path must FAIL, not masquerade as an empty
      // lake (the pre-r13 listStatus behavior, restored deliberately)
      else throw new java.io.FileNotFoundException(
        s"scan path does not exist: $dir")
    val (dirs, plainFiles) = roots.partition(_.isDirectory)
    // glob-matched FILES were explicitly targeted — but the Hadoop
    // hidden-path constraint still applies (warn, don't silently drop)
    val direct = plainFiles.map(_.getPath).filter { f =>
      val take = isCsvName(f.getName)
      if (!take && isCsvLoose(f.getName)) warnHiddenCsv(f)
      take
    }.map(_.toString)
    val dirPaths = dirs.map(_.getPath.toString)
    val (walked, hiddenSkipped): (Seq[String], Seq[String]) =
      if (dirPaths.length >= 32) {
        // glob fanned out wide: distribute the per-root walks. Skipped
        // hidden paths come BACK with the file list so the warn-skip
        // contract stays loud at the DRIVER — executor stderr is
        // invisible on a real cluster
        val bconf = spark.sparkContext.broadcast(
          new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
        val nPart = math.min(dirPaths.length, spark.sparkContext.defaultParallelism)
        val res = spark.sparkContext.parallelize(dirPaths, nPart)
          .map { d =>
            val dp = new Path(d)
            walkRoot(dp.getFileSystem(bconf.value.value), dp)
          }.collect().toSeq
        bconf.destroy()
        (res.flatMap(_._1), res.flatMap(_._2))
      } else {
        val res = dirPaths.map(d => walkRoot(fs, new Path(d)))
        (res.flatMap(_._1), res.flatMap(_._2))
      }
    hiddenSkipped.distinct.sorted.foreach(f => warnHiddenCsv(new Path(f)))
    (direct ++ walked).distinct.sorted
  }

  /** Executor-side head-scan of `files`, sorted by path: each task runs
    * the shared [[scanHead]] on its files and returns file-count-sized
    * metadata, safe to collect (the listing itself was already
    * driver-memory-sized). The charsets of `encodings` are tried in
    * order; the first whose decoding finds the key column is kept in
    * `HeaderInfo.encoding`. Files where none does are warned (in that
    * executor's stderr) and skipped.
    *
    * Scale shape: head-reads are embarrassingly parallel (one bounded
    * ≤ maxScanLines read per file, no shuffle), the schema-inference
    * pattern of Spark's own CSV/JSON readers; partition count is capped
    * so a small file list doesn't schedule empty tasks.
    */
  def scanFiles(
      spark: SparkSession,
      files: Seq[String],
      keyCol: String = defaultKeyCol,
      encodings: Seq[String] = Seq("UTF-8"),
      maxScanLines: Int = 100): Seq[HeaderInfo] = {
    if (files.isEmpty) return Seq.empty
    val bconf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    val nPart = math.max(1,
      math.min(files.length, spark.sparkContext.defaultParallelism))
    val infos = spark.sparkContext.parallelize(files, nPart)
      .mapPartitions { it =>
        val conf = bconf.value.value
        it.flatMap { f =>
          val fs = new Path(f).getFileSystem(conf)
          val found = encodings.iterator.map(scanHead(fs, f, keyCol, maxScanLines, _))
            .collectFirst { case Some(i) => i }
          if (found.isEmpty) warnKeyless(f, keyCol)
          found
        }
      }
      .collect().toSeq.sortBy(_.path)
    bconf.destroy()
    infos
  }

  /** Scan + read + union a directory ([[readFiles]]: one scan per
    * distinct header, missing columns null-filled), each row tagged with
    * its source file name in `_src`. To resolve aliases before a union,
    * read per header group: [[scanDir]], group by `columns`, [[readFiles]].
    */
  def readDir(
      spark: SparkSession,
      dir: String,
      keyCol: String = defaultKeyCol,
      encoding: String = "UTF-8"): DataFrame = {
    val infos = scanDir(spark, dir, keyCol, encoding)
    require(infos.nonEmpty, s"no readable CSVs with key column '$keyCol' in $dir")
    readFiles(spark, infos)
      .withColumn("_path", fileName(col("_path"))).withColumnRenamed("_path", "_src")
  }
}
