package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.{FileSplit, LineRecordReader}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, FileScanRDD,
  FileStatusWithMetadata, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
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
  * data starts; the *data read* ([[scan]]) is ONE line source for all
  * files whatever their headers, with tasks that follow bytes. Both read
  * lines with Hadoop's `LineRecordReader` and cells with the dialect's
  * parser ([[FanOut]]), so a header splits as its data does. Fan-out
  * inputs ([[FanOut.writeFiles]]) and outputs ([[FanOut.read]], the
  * verifier), and the aggregate and presence inputs of `graft.cli`, are
  * read this way, file names taken literally.
  */
object HeaderScan {

  val defaultKeyCol = "商店序號"

  /** Result of scanning one file's head.
    *
    * @param prefixRows the lines above the header, verbatim
    * @param columns    the header's cells ([[FanOut.headerCells]])
    * @param dataStart  byte offset of the line after the header: the
    *                   position of [[scan]]'s `LineRecordReader` past the
    *                   header line, BOM and terminators included
    * @param encoding   the first charset that decodes the head strictly
    *                   and finds the key column; the lines decode with it
    */
  final case class HeaderInfo(
      path: String,
      prefixRows: Seq[String],
      columns: Seq[String],
      dataStart: Long,
      encoding: String)

  /** The head-scan core of [[scanFiles]], run in executors: `file`'s lines
    * as [[scan]] reads them (Hadoop's `LineRecordReader` from offset 0:
    * lines end at \n, \r\n or \r, a UTF-8 BOM is skipped), each decoded
    * strictly in `encoding`, up to the first of `maxScanLines` whose cells
    * hold `keyCol`. None when there is no such line or a line does not
    * decode, so the caller moves on to its next charset instead of
    * matching on replacement characters; with `toEof`, every line after
    * the header must decode too. Scanned lines pass [[closedQuotes]].
    */
  private def scanHead(
      fs: org.apache.hadoop.fs.FileSystem,
      file: String,
      keyCol: String,
      maxScanLines: Int,
      encoding: String,
      cellsOf: String => Seq[String],
      toEof: Boolean): Option[HeaderInfo] = {
    val lines = new LineRecordReader(fs.open(new Path(file)), 0, Long.MaxValue, Int.MaxValue)
    val (offset, text) = (lines.createKey(), lines.createValue())
    val decoder = java.nio.charset.Charset.forName(encoding).newDecoder() // REPORTs
    def decoded() = decoder.decode(java.nio.ByteBuffer.wrap(text.getBytes, 0, text.getLength))
    try {
      val prefix = ArrayBuffer.empty[String]
      var header: Option[Seq[String]] = None
      while (header.isEmpty && prefix.length < maxScanLines && lines.next(offset, text)) {
        val line = closedQuotes(decoded().toString, file, offset.get)
        val cells = cellsOf(line)
        if (cells.contains(keyCol)) header = Some(cells) else prefix += line
      }
      header.map { columns =>
        val info = HeaderInfo(file, prefix.toSeq, columns, lines.getPos, encoding)
        if (toEof) while (lines.next(offset, text)) decoded()
        info
      }
    } catch { case _: java.nio.charset.CharacterCodingException => None }
    finally lines.close()
  }

  /** `line`, unless it ends inside a quoted cell: then fail, naming `file`
    * and the line's byte `offset`. Lines are records here, so a quoted
    * line break (one cell to Python's `csv` module and pandas) would be
    * cut in two. A quote opens a quoted cell only at a cell's start, and
    * `""` inside it is a literal quote: `store,name"x,v` is three cells.
    */
  private def closedQuotes(line: String, file: String, offset: Long): String = {
    var state = 0 // at a cell's start, unquoted, quoted, quoted after a quote
    line.foreach { c =>
      state = if (state == 2) (if (c == '"') 3 else 2)
        else if (c == ',') 0
        else if (c == '"' && state != 1) 2
        else 1
    }
    if (state == 2) throw new java.io.IOException(s"$file: a quoted cell is still open at the " +
      s"end of the line at byte offset $offset; quoted line breaks are not supported")
    line
  }

  /** Every data line of `infos`' files from ONE line source, as
    * `row(i, path)(offset, cells)`: `row(i, path)` once per piece of file
    * `i` (its qualified path), then per line its byte offset and its
    * cells parsed ([[FanOut.csvParser]]) to the width of its own header.
    * Tasks follow bytes: files are cut only past Spark's split size and
    * packed as `spark.read` packs them (`maxPartitionBytes`,
    * `openCostInBytes`). Hadoop's `LineRecordReader` reads each piece
    * (lines end at \n, \r\n or \r); lines before `dataStart` are dropped,
    * each file decodes in its own `encoding`, and lines pass
    * [[closedQuotes]]. One plan leaf for any number of headers, sized by
    * its files' bytes as `spark.read` sizes its scans; hidden names are
    * skipped by [[listCsvFiles]] only.
    */
  private[sources] def scan(spark: SparkSession, infos: Seq[HeaderInfo], schema: StructType)(
      row: (Int, UTF8String) => (Long, InternalRow) => InternalRow): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val files = infos.toIndexedSeq.map(i => new Path(i.path))
      .map(p => FileStatusWithMetadata(p.getFileSystem(hconf).getFileStatus(p)))
    val size = FilePartition.maxSplitBytes(spark, Seq(PartitionDirectory(InternalRow.empty, files)))
    // a piece carries its file's index as its partition value
    val pieces = files.zipWithIndex.flatMap { case (f, i) =>
      PartitionedFileUtil.splitFiles(f, f.getPath, isSplitable = true, size, InternalRow(i))
    }
    // per-file data reaches each executor once, not with every task
    val paths = files.map(f => UTF8String.fromString(f.getPath.toString))
    val shared = spark.sparkContext.broadcast(
      (infos.toIndexedSeq, paths, row, new SerializableConfiguration(hconf)))
    val read = (piece: PartitionedFile) => {
      val (byIdx, pathOf, rowOf, conf) = shared.value
      val i = piece.partitionValues.getInt(0)
      val info = byIdx(i)
      val cs = java.nio.charset.Charset.forName(info.encoding)
      val (parse, emit) = (FanOut.csvParser(info.columns.length), rowOf(i, pathOf(i)))
      val lines = new LineRecordReader(conf.value,
        new FileSplit(piece.toPath, piece.start, piece.length, Array.empty[String]))
      TaskContext.get().addTaskCompletionListener[Unit](_ => lines.close())
      val (offset, text) = (lines.createKey(), lines.createValue())
      Iterator.continually(lines.next(offset, text)).takeWhile(identity)
        .filter(_ => offset.get >= info.dataStart)
        .map(_ => emit(offset.get, parse(closedQuotes(new String(text.getBytes, 0, text.getLength, cs),
          info.path, offset.get))))
    }
    val parts = FilePartition.getFilePartitions(spark, pieces, size)
    PlanBridge.ofRows(spark, new FileScanRDD(spark, read, parts, schema), schema,
      files.map(f => BigInt(f.getLen)).sum)
  }

  /** Header-scanned files ([[scanFiles]]) in one [[scan]], unioned as by
    * `unionByName` (headers in order of their first file, names by the
    * session's case rule, missing cells null), plus each row's `_path`.
    */
  def readFiles(spark: SparkSession, infos: Seq[HeaderInfo]): DataFrame = {
    require(infos.nonEmpty, "readFiles: no scanned files")
    val fold: String => String = if (spark.conf.get("spark.sql.caseSensitive").toBoolean) identity
      else _.toLowerCase(java.util.Locale.ROOT)
    val names = ArrayBuffer.empty[String]
    // a header's cell → the n-th column of its name, n = earlier cells of
    // that name in the header; a column is added when there is none
    val slots = infos.sortBy(_.path).map(_.columns).distinct.map(h => h -> h.indices.map { p =>
      val same = (c: String) => fold(c) == fold(h(p))
      names.indices.filter(j => same(names(j))).lift(h.take(p).count(same))
        .getOrElse { names += h(p); names.length - 1 }
    }.toArray).toMap
    val (slotOf, width) = (infos.map(i => slots(i.columns)).toArray, names.length)
    scan(spark, infos, StructType((names :+ "_path").map(StructField(_, StringType)).toSeq)) {
      (i, path) =>
        val s = slotOf(i)
        (_, cells) => {
          val out = new Array[Any](width + 1)
          s.indices.foreach(p => out(s(p)) = cells.getUTF8String(p))
          out(width) = path
          new GenericInternalRow(out)
        }
    }
  }

  /** The file name of a `_path` value. */
  def fileName(path: Column): Column = substring_index(path, "/", -1)

  /** The name of the directory holding a `_path` value's file. */
  def parentName(path: Column): Column =
    substring_index(substring_index(path, "/", -2), "/", 1)

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

  /** Hadoop's hidden-name rule (`spark.read` skips these files); the
    * listing is the one place that applies it, [[scan]] does not.
    */
  private[graft] def isHidden(name: String): Boolean =
    name.startsWith(".") || name.startsWith("_")

  /** Lake-convention test: hidden (`.`/`_`-prefixed) names are system
    * state, not data. */
  private def isCsvName(name: String): Boolean =
    isCsvLoose(name) && !isHidden(name)

  /** A hidden `*.csv`: the reference's `os.scandir`
    * (fan_out_by_storeid.py:7–9) WOULD ingest `_totals.csv` from a flat
    * input dir, but `.`/`_`-prefixed paths are Hadoop system state
    * (invisible to `spark.read.csv` too). Warn-and-skip keeps the
    * divergence LOUD, in the reference's own warn-skip style.
    */
  private def warnHiddenCsv(path: Path): Unit =
    System.err.println(
      s"[graft] WARNING: skipping $path — Hadoop input formats cannot " +
        "read '.'/'_'-prefixed paths (the reference's scandir would " +
        "ingest it; rename the file to include it)")

  /** One scan root's files: direct `*.csv` children are all taken
    * except hidden-prefixed names, which are warn-skipped
    * ([[warnHiddenCsv]]); below the root, hidden `.`/`_` path segments
    * (staging temps, `_SUCCESS`-style markers, checkpoint state) are
    * lake state and skip silently. Recursion is per-directory
    * `listStatus`, hidden dirs pruned without descending. MEASURED
    * (1e5-file probe, jstack): `listFiles(recursive = true)` builds a
    * `LocatedFileStatus` per file, whose permissions the local
    * filesystem loads by forking a shell PER FILE (~10 ms each, >17 min
    * for 100k files); plain `listStatus` keeps them lazy. On HDFS this
    * is one RPC per directory; on S3 the per-root distribution in
    * [[listCsvFiles]] bounds each walk.
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
    * [[walkRoot]] semantics. Listing is metadata-only; when a glob fans
    * out to many directories the per-root walks run IN EXECUTORS (the
    * split Spark's `InMemoryFileIndex` uses past its parallelism
    * threshold), so a million-file lake never lists through one driver
    * loop.
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
    // glob-matched FILES were explicitly targeted: hidden ones still warn
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
    * [[scanHead]] on its files and returns file-count-sized
    * metadata, safe to collect (the listing itself was already
    * driver-memory-sized). The charsets of `encodings` are tried in
    * order; the first that decodes the head strictly and finds the key
    * column in it is kept in `HeaderInfo.encoding`, a charset before the
    * last only if the rest of the file's lines decode strictly in it too
    * (an ASCII head passes in UTF-8 whatever its data's charset). Files where none
    * does are warned (in that executor's stderr) and skipped.
    * `maxScanLines = 1` takes line 0 as the header, as `pd.read_csv` does.
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
        val (conf, cellsOf) = (bconf.value.value, FanOut.headerCells())
        it.flatMap { f =>
          val fs = new Path(f).getFileSystem(conf)
          val found = encodings.iterator.flatMap(enc => scanHead(fs, f, keyCol, maxScanLines,
            enc, cellsOf, toEof = enc != encodings.last)).nextOption()
          if (found.isEmpty) System.err.println(s"[headerscan] WARN: key column " +
            s"'$keyCol' not found in $f (read as ${encodings.mkString(", ")}) — skipping")
          found
        }
      }
      .collect().toSeq.sortBy(_.path)
    bconf.destroy()
    infos
  }

  /** Scan + read + union a directory ([[readFiles]]), each row tagged with
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
