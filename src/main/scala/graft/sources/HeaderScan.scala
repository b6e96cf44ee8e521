package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapred.{FileSplit, TextInputFormat}
import org.apache.spark.rdd.HadoopRDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Header-scanning CSV ingestion (reference fan_out_by_storeid.py:14–30,
  * verify_fanout.py:67–86; SURVEY.md §2.1 S2).
  *
  * BI-export CSVs carry 0..n meta rows (e.g. `Established At Year,2025,
  * 2024`) before the real header; the real header is the first row that
  * contains the key column (`商店序號` by default). Files without the key
  * column are warned and skipped, not failed (fan_out_by_storeid.py:28–30).
  *
  * Scale split: the *scan* touches only the head of each file (bounded
  * driver-side metadata pass over ≤ maxScanLines lines per file — the same
  * role as schema inference) and records the BYTE OFFSET where data
  * starts; the *data read* is fully distributed and shuffle-free:
  * `TextInputFormat` keys every line with its byte offset, so dropping
  * the prefix+header is a per-split `offset >= dataStart` filter — no
  * zipWithIndex pass, no extra job, and files sharing a schema read as
  * ONE multi-path scan ([[readDir]]), so the plan grows with the number
  * of distinct schemas, not the number of files.
  */
object HeaderScan {

  val defaultKeyCol = "商店序號"

  /** Result of scanning one file's head.
    *
    * @param dataStart byte offset of the first data line (prefix + header
    *                  bytes, including BOM and CR/LF — measured raw, so
    *                  the offset matches `TextInputFormat`'s line keys)
    */
  final case class HeaderInfo(
      path: String,
      prefixRows: Seq[String], // verbatim meta lines above the header
      columns: Seq[String], // trimmed header cells
      skipLines: Int, // prefix + header line count
      dataStart: Long)

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
    val p = new Path(file)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = new java.io.BufferedInputStream(fs.open(p))
    try scanStream(in, file, keyCol, maxScanLines, encoding)
    finally in.close()
  }

  /** The head-scan core over an already-open stream — ONE body shared
    * by the driver-side [[scanHeader]] and the executor-side
    * [[scanDirDistributed]], so the two paths cannot diverge on offset
    * arithmetic (HeaderScanSpec asserts their equality on real files).
    */
  private[sources] def scanStream(
      rawIn: java.io.InputStream,
      file: String,
      keyCol: String,
      maxScanLines: Int,
      encoding: String): Option[HeaderInfo] = {
    val in = rawIn match {
      case b: java.io.BufferedInputStream => b
      case other => new java.io.BufferedInputStream(other)
    }
    {
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
            found = Some(HeaderInfo(file, prefix.toSeq, cells, prefix.length + 1, pos))
          else { prefix += line; n += 1 }
        }
      }
      if (found.isEmpty)
        System.err.println(s"[headerscan] WARN: key column '$keyCol' not found in $file — skipping")
      found
    }
  }

  /** ONE distributed scan over same-schema files: every line keyed by
    * its byte offset (TextInputFormat), lines before the file's
    * `dataStart` dropped per split — shuffle-free, job-free until an
    * action, and one scan node regardless of file count. Adds `_src`
    * (source file name, README.md:54–58).
    *
    * All `infos` must share `columns` (the head's schema is used).
    * Paths must not contain commas (TextInputFormat's path-list
    * separator — same limit the reference's flat-dir layout has).
    */
  private def readGroup(
      spark: SparkSession,
      infos: Seq[HeaderInfo],
      encoding: String): DataFrame = {
    require(infos.nonEmpty)
    val schema = StructType(infos.head.columns.map(c => StructField(c, StringType)))
    // qualify before keying: a relative caller path must land on the same
    // key as the fully-qualified FileSplit path the executors see
    val hconf = spark.sparkContext.hadoopConfiguration
    val starts = infos.map { i =>
      val p = new Path(i.path)
      p.getFileSystem(hconf).makeQualified(p).toUri.getPath -> i.dataStart
    }.toMap
    val bStarts = spark.sparkContext.broadcast(starts)
    val enc = encoding
    val rdd = spark.sparkContext
      .hadoopFile[LongWritable, Text, TextInputFormat](infos.map(_.path).mkString(","))
      .asInstanceOf[HadoopRDD[LongWritable, Text]]
      .mapPartitionsWithInputSplit({ (split, it) =>
        val fp = split.asInstanceOf[FileSplit].getPath
        val start = bStarts.value(fp.toUri.getPath)
        val fname = fp.getName
        val cs = java.nio.charset.Charset.forName(enc)
        // Text/LongWritable objects are reused by the record reader —
        // materialize before the iterator advances
        it.filter(_._1.get() >= start)
          .map { case (_, t) => (new String(t.getBytes, 0, t.getLength, cs), fname) }
      }, preservesPartitioning = true)
    import spark.implicits._
    rdd.toDF("_line", "_src")
      .select(from_csv(col("_line"), schema, FanOut.csvDialect).as("r"), col("_src"))
      .select(col("r.*"), col("_src"))
  }

  /** Distributed read of one header-scanned file: all-string schema from
    * the discovered header, prefix + header dropped by byte offset.
    *
    * Non-UTF-8 encodings (the reference's `--encoding` flag,
    * fan_out_by_storeid.py:57) decode each line's raw bytes with the
    * given charset — valid for any ASCII-newline-compatible charset.
    */
  def readFile(spark: SparkSession, info: HeaderInfo, encoding: String = "UTF-8"): DataFrame =
    readGroup(spark, Seq(info), encoding).drop("_src")

  /** Scan every `*.csv` in a flat directory, skipping files without the
    * key column. The driver touches ONLY the file listing; the per-file
    * head-reads run in EXECUTORS ([[scanDirDistributed]]) — at the
    * reference's ~60 files the difference is noise, at a million-file
    * lake the driver-serial head-read loop (one round-trip per file)
    * was the §4 bottleneck. Results are byte-identical to the
    * driver-side [[scanHeader]] per file: both run [[scanStream]].
    */
  def scanDir(
      spark: SparkSession,
      dir: String,
      keyCol: String = defaultKeyCol,
      encoding: String = "UTF-8"): Seq[HeaderInfo] =
    scanDirDistributed(spark, dir, keyCol, encoding)

  private val globMeta = Set('*', '?', '[', ']', '{', '}')

  private def isCsvLoose(name: String): Boolean =
    name.toLowerCase.endsWith(".csv")

  private def isHidden(name: String): Boolean =
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
          new FanOut.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
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

  /** Executor-side directory head-scan: the driver lists the directory
    * (metadata-only) and parallelizes the path list; each task opens
    * its files and runs the shared [[scanStream]] head-read, returning
    * (path, prefix, columns, dataStart) — file-count-sized metadata,
    * safe to collect (the listing itself was already driver-memory-
    * sized). Warn-and-skip for keyless files happens in the task (the
    * warning lands in that executor's stderr; locally, the same
    * console). Output is sorted by path — same deterministic order as
    * the old driver-serial loop.
    *
    * Scale shape: head-reads are embarrassingly parallel (one bounded
    * ≤ maxScanLines read per file, no shuffle); partition count is
    * capped so a small directory doesn't schedule empty tasks. At a
    * million files this is the schema-inference pattern Spark's own
    * CSV/JSON readers use for their sampling pass.
    */
  def scanDirDistributed(
      spark: SparkSession,
      dir: String,
      keyCol: String = defaultKeyCol,
      encoding: String = "UTF-8",
      maxScanLines: Int = 100): Seq[HeaderInfo] = {
    val files = listCsvFiles(spark, dir)
    if (files.isEmpty) return Seq.empty
    val bconf = spark.sparkContext.broadcast(
      new FanOut.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    val (k, enc, msl) = (keyCol, encoding, maxScanLines)
    val nPart = math.max(1,
      math.min(files.length, spark.sparkContext.defaultParallelism))
    val infos = spark.sparkContext.parallelize(files, nPart)
      .mapPartitions { it =>
        val conf = bconf.value.value
        it.flatMap { f =>
          val fp = new Path(f)
          val in = new java.io.BufferedInputStream(fp.getFileSystem(conf).open(fp))
          try scanStream(in, f, k, msl, enc) finally in.close()
        }
      }
      .collect().toSeq.sortBy(_.path)
    bconf.destroy()
    infos
  }

  /** Scan + read every `*.csv` in a directory, one DataFrame per readable
    * file (schemas are inconsistent by design — csv_gen.py:45–56 — so
    * callers normalize/alias-resolve per file before any union). Each
    * frame carries its source file name in `_src` (README.md:54–58).
    */
  def readDirFrames(
      spark: SparkSession,
      dir: String,
      keyCol: String = defaultKeyCol,
      encoding: String = "UTF-8"): Seq[(HeaderInfo, DataFrame)] =
    scanDir(spark, dir, keyCol, encoding)
      .map(info => info -> readGroup(spark, Seq(info), encoding))

  /** Scan + read + union a directory (missing columns null-filled).
    *
    * Files are GROUPED by their discovered header: each distinct column
    * list becomes one multi-path scan, so at 10k+ files the plan holds a
    * handful of scan nodes instead of 10k unioned single-file reads.
    * For alias-divergent schemas that must be resolved per file before
    * unioning, use [[readDirFrames]].
    */
  def readDir(
      spark: SparkSession,
      dir: String,
      keyCol: String = defaultKeyCol,
      encoding: String = "UTF-8"): DataFrame = {
    val infos = scanDir(spark, dir, keyCol, encoding)
    require(infos.nonEmpty, s"no readable CSVs with key column '$keyCol' in $dir")
    // deterministic union order: groups sorted by their first file, so
    // the output column order doesn't depend on hash-map iteration
    infos.groupBy(_.columns).values.toSeq.sortBy(_.head.path)
      .map(g => readGroup(spark, g, encoding))
      .reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }
}
