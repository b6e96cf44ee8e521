package graft.sources

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{FailureSafeParser, PermissiveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Partitioned fan-out sink (reference fan_out_by_storeid.py:32–48;
  * SURVEY.md §2.1 S5/S6): split rows of each source into
  * `out/{key}/{src}.csv`, optionally replaying meta prefix rows and a
  * UTF-8 BOM (`utf-8-sig`) at the top of every output file.
  *
  * The reference loops over input files, `csv.reader` feeding one
  * `csv.writer` per output file. Here every row of every source becomes
  * `(key, src, seq, line)` in ONE job, `line` rendered by [[csvLine]],
  * hash-partitioned so a file never spans two tasks (by (key, src) for
  * [[writeFiles]]; by the key column for [[writeKeyed]], whose input may
  * already be so partitioned) and sorted by (key, src, seq), and each
  * task streams ONE open file at a time: the source's prefix + header,
  * then its rows in input order. The writer holds one row (the sort
  * spills), so memory stays bounded like the reference's (SURVEY.md §4);
  * no output byte goes through the driver, whose only filesystem work is
  * the orphan-temp sweep over the key directories written.
  */
object FanOut {

  /** The CSV dialect of Python's `csv` module, which the reference reads
    * and writes with: a quote inside a quoted cell is doubled (`"q ""x"""`),
    * not backslash-escaped, cells keep their leading and trailing
    * spaces, and an empty string is written as nothing (`a,,b`, not
    * `a,"",b`). Spark's defaults (escape `\`, whitespace trimmed on
    * write, `""` for an empty string) would rewrite such cells.
    */
  private val csvDialect: Map[String, String] = Map(
    "escape" -> "\"",
    "ignoreLeadingWhiteSpace" -> "false",
    "ignoreTrailingWhiteSpace" -> "false",
    "emptyValue" -> "")

  private def strings(n: Int) = StructType((0 until n).map(i => StructField(s"c$i", StringType)))

  /** The dialect's read options; a line is parsed whole. */
  private def readOptions = new CSVOptions(Map("lineSep" -> "\uFFFF") ++ csvDialect, true, "UTC")

  /** One line → `n` string cells, parsed as `from_csv` parses (PERMISSIVE:
    * a short row's missing cells and empty cells are null, a long row is
    * cut to `n`). The result row is reused by the next call.
    */
  private[sources] def csvParser(n: Int): String => InternalRow = {
    val options = readOptions
    val univocity = new UnivocityParser(strings(n), strings(n), options)
    val parser = new FailureSafeParser[String](univocity.parse(_), PermissiveMode, strings(n),
      options.columnNameOfCorruptRecord)
    line => parser.parse(line).next()
  }

  /** A header line → its cells, tokenized as `spark.read.csv` tokenizes
    * a header (the dialect's Univocity parser, so a header splits as its
    * data lines do), trimmed, a missing cell "". One per task: the parser
    * is reused by the next call.
    */
  private[sources] def headerCells(): String => Seq[String] = {
    val parser = new CsvParser(readOptions.asParserSettings)
    line => Option(parser.parseLine(line)).toSeq.flatten.map(c => Option(c).getOrElse("").trim)
  }

  /** `n` string cells → one line without terminator, as `to_csv` renders. */
  private def csvLine(n: Int): InternalRow => String = {
    val gen = new UnivocityGenerator(strings(n), new java.io.CharArrayWriter,
      new CSVOptions(csvDialect, true, "UTC"))
    gen.writeToString
  }

  private def cellsRow(cells: Seq[String]) = InternalRow.fromSeq(cells.map(UTF8String.fromString))

  /** A source's head: its BOM and prefix rows, then `header`'s line. */
  private def head(pre: String, prefixRows: Seq[String], header: Seq[String], lineSep: String) =
    pre + prefixRows.map(_ + lineSep).mkString + csvLine(header.length)(cellsRow(header)) + lineSep

  /** Refuse a local file name the JVM's file-name charset (ASCII under
    * LC_ALL=C) would spell with '?': distinct names would share a file.
    */
  def requireLocalName(fs: FileSystem, name: String): Unit = {
    val cs = java.nio.charset.Charset.forName(sys.props.getOrElse("sun.jnu.encoding", "UTF-8"))
    if (fs.getUri.getScheme == "file" && !cs.newEncoder().canEncode(name))
      throw new java.io.IOException(s"file name '$name' is not representable in the " +
        s"platform file-name charset $cs; run under a UTF-8 locale (e.g. LC_ALL=C.UTF-8)")
  }

  /** The `{src}` of an input file in the layout: its file name less ONE
    * trailing `.csv`, case-insensitively ("x.CSV.csv" → "x.CSV", never
    * "x" — a chained stripSuffix would double-strip and collide distinct
    * inputs).
    */
  def srcOf(fileName: String): String = fileName.replaceAll(csvExt, "")

  /** [[srcOf]] of a file-name column, by the same regex. */
  def srcOf(fileName: Column): Column = regexp_replace(fileName, csvExt, "")

  private val csvExt = "(?i)\\.csv$"

  /** Fan out `df` by `keyCol` into `outDir/{key}/{srcName}.csv` and
    * return the keys written, sorted.
    *
    * Keys are trimmed, and blank/whitespace keys are dropped
    * (fan_out_by_storeid.py:35–37). Other cells are written verbatim,
    * non-string ones as their string cast.
    * `prefixRows` (meta rows from [[HeaderScan]]) and `bom` reproduce the
    * reference's per-file prefix replay + utf-8-sig output.
    *
    * A key containing '/' nests directories (`US/East` →
    * `outDir/US/East/src.csv`), as the reference's `os.path.join(out,
    * key)` does, and the same verify pass flags it in both systems.
    *
    * `encoding` selects the OUTPUT charset and `lineSep` the output
    * line terminator; the defaults stay UTF-8 + LF (COVERAGE.md's
    * normalize stance). The reference writes its input's encoding
    * (fan_out_by_storeid.py:14/:42) and CRLF: pass `encoding = "big5",
    * lineSep = "\r\n"` for byte-identical output (FanOutSpec pins it).
    * `bom` is the utf-8-sig marker and therefore requires UTF-8 output.
    *
    * Each file lists its rows by `order` (a non-null integral column of
    * `df`), then in input order.
    */
  def write(
      df: DataFrame,
      keyCol: String,
      outDir: String,
      srcName: String,
      prefixRows: Seq[String] = Nil,
      bom: Boolean = false,
      encoding: String = "UTF-8",
      lineSep: String = "\n",
      order: Column = lit(0)): Seq[String] =
    writeKeyed(df.withColumn(keyCol, trim(quoted(keyCol))), keyCol, outDir, srcName,
      prefixRows, bom, encoding, lineSep, order)

  /** [[write]] without the trim: keys are written as given (a non-string
    * key as its string cast), and null and blank keys are dropped.
    * The rows are hash-partitioned by the key column itself, so a `df`
    * already partitioned by it (an aggregate by that key, as [[graft.etl.Kpi]]'s
    * configs end) is written by the tasks that computed it, with no
    * second exchange.
    */
  def writeKeyed(
      df: DataFrame,
      keyCol: String,
      outDir: String,
      srcName: String,
      prefixRows: Seq[String] = Nil,
      bom: Boolean = false,
      encoding: String = "UTF-8",
      lineSep: String = "\n",
      order: Column = lit(0)): Seq[String] = {
    require(!bom || java.nio.charset.Charset.forName(encoding) ==
      java.nio.charset.StandardCharsets.UTF_8,
      s"bom (utf-8-sig) requires UTF-8 output, got $encoding")
    val names = df.columns.toSeq
    import df.sparkSession.implicits._
    // seq is (order, input position), the position taken before the shuffle
    val rows = df
      .select(quoted(keyCol).cast(StringType).as("k"), order.cast("long").as("o"),
        monotonically_increasing_id().as("pos"), array(names.map(quoted(_).cast(StringType)): _*).as("c"))
      .filter(hasKey)
      // repartition, not rebalance: AQE may split a rebalance partition,
      // and a key must stay in one task to get one file
      .repartition(col("k"))
      .as[(String, Long, Long, Seq[String])].mapPartitions { it =>
        val line = csvLine(names.length)
        it.map { case (k, o, pos, c) => (k, srcName, (o, pos), line(cellsRow(c))) }
      }.toDF("k", "src", "seq", "line")
    writeRows(rows, Map(srcName -> head(if (bom) "\uFEFF" else "", prefixRows, names, lineSep)),
      outDir, encoding, lineSep)
  }

  private def quoted(c: String): Column = col("`" + c.replace("`", "``") + "`")

  /** `k` is neither null nor blank. */
  private def hasKey: Column = col("k").isNotNull && trim(col("k")) =!= ""

  /** Fan out header-scanned files ([[HeaderScan.scanFiles]]) into
    * `outDir/{key}/{src}.csv`, `src` being [[srcOf]] the file name, in ONE
    * write: one [[HeaderScan.scan]] reads all files, and each output file
    * starts with its own source's prefix rows and header. Returns the
    * keys written, sorted. `encoding` and `lineSep` are those of [[write]].
    */
  def writeFiles(
      spark: SparkSession,
      infos: Seq[HeaderScan.HeaderInfo],
      keyCol: String,
      outDir: String,
      encoding: String = "UTF-8",
      lineSep: String = "\n"): Seq[String] = {
    val srcs = infos.map(i => srcOf(new Path(i.path).getName))
    // two inputs collapsing to one src name would silently overwrite
    // each other's {key}/{src}.csv — refuse rather than lose data
    val collide = srcs.diff(srcs.distinct).distinct
    require(collide.isEmpty, s"input files collide on source names: ${collide.mkString(", ")}")
    if (infos.isEmpty) return Nil
    val keyAt = infos.map(_.columns.indexOf(keyCol)).toArray
    val src = srcs.map(UTF8String.fromString).toArray
    // seq is the line's byte offset: (src, seq) is each source's input order
    val rows = HeaderScan.scan(spark, infos,
      StructType.fromDDL("k string, src string, seq bigint, line string")) { (i, _) =>
      val line = csvLine(infos(i).columns.length)
      (offset, parsed) => {
        val cells = Array.tabulate[Any](parsed.numFields)(parsed.getUTF8String)
        val k = Option(parsed.getUTF8String(keyAt(i))).map(_.trim()).orNull
        cells(keyAt(i)) = k
        InternalRow(k, src(i), offset, UTF8String.fromString(line(new GenericInternalRow(cells))))
      }
    }
    // one (key, src) file per task, so a hot key's sources spread over
    // tasks; repartition, not rebalance, which AQE may split
    val files = rows.filter(hasKey).repartition(col("k"), col("src"))
    writeRows(files, srcs.zip(infos).map { case (s, i) =>
      s -> head("", i.prefixRows, i.columns, lineSep)
    }.toMap, outDir, encoding, lineSep)
  }

  /** Write the `line`s of `rows` (`k`, `src`, `seq`, `line`; each
    * (`k`, `src`) within one partition) under `outDir/{k}/{src}.csv`, in
    * (`src`, `seq`) order. `heads` maps each source to its BOM + prefix +
    * header; it and the Hadoop configuration reach each executor once, in
    * one broadcast. Returns the keys written, sorted.
    */
  private def writeRows(
      rows: DataFrame,
      heads: Map[String, String],
      outDir: String,
      encoding: String,
      lineSep: String): Seq[String] = {
    val sorted = rows
      .sortWithinPartitions("k", "src", "seq")
      .select("k", "src", "line")
      .as(Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.STRING))
    val spark = rows.sparkSession
    val shared = spark.sparkContext.broadcast(
      (heads, new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)))
    val written = sorted
      .mapPartitions { it =>
        val (hs, conf) = shared.value
        writeSorted(conf.value, outDir, hs, encoding, lineSep, it)
      }(Encoders.tuple(Encoders.STRING, Encoders.STRING))
      .collect().toSeq
    shared.destroy()
    // Sweep the temps of crashed or speculation-killed attempts HERE,
    // after the job, when every (key, src) holds a committed dest: a
    // task-side sweep could delete a live twin's tmp mid-write. One
    // listing per key (no glob: glob metachars in keys stay safe); only
    // the temps of the sources written under that key go.
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    written.groupBy(_._1).foreach { case (k, ws) =>
      val srcs = ws.map(_._2).toSet
      fs.listStatus(new Path(s"$outDir/$k")).map(_.getPath)
        .filter(p => TmpName.unapplySeq(p.getName).exists(m => srcs(m.head)))
        .foreach(fs.delete(_, false))
    }
    written.map(_._1).distinct.sorted
  }

  /** An attempt temp: `.{src}.csv.{attempt}.tmp`. */
  private val TmpName = """\.(.+)\.csv\.[^.]+\.tmp""".r

  /** Task-side writer over one partition's `(key, src, csv line)` rows,
    * grouped by (key, src): one open file at a time (its name checked by
    * [[requireLocalName]]), the source's head (BOM, prefix, header) once
    * per file, then its rows. Returns the
    * (key, src) files it committed. Runs on executors — keep driver state
    * out of here.
    *
    * Retry-safe: each attempt writes to an attempt-unique hidden temp
    * file and renames into place, so a retried or speculatively
    * duplicated task never interleaves bytes with another attempt on the
    * same destination stream — the last rename wins whole-file.
    */
  private def writeSorted(
      conf: org.apache.hadoop.conf.Configuration,
      outDir: String,
      heads: Map[String, String],
      encoding: String,
      lineSep: String,
      rows: Iterator[(String, String, String)]): Iterator[(String, String)] = {
    // around the local FS's checksums: `.crc` sidecars are no part of the
    // reference's plain `{key}/{src}.csv` layout
    val fs = new Path(outDir).getFileSystem(conf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }
    // Strict encode, as the reference's `open(..., encoding=enc)` raises
    // UnicodeEncodeError (String.getBytes would write '?'); the message
    // carries the key, pointing at the offending partition.
    val strictEnc = java.nio.charset.Charset.forName(encoding).newEncoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    def encodeStrict(key: String, s: String): Array[Byte] =
      try {
        val bb = strictEnc.encode(java.nio.CharBuffer.wrap(s))
        val arr = new Array[Byte](bb.remaining()); bb.get(arr); arr
      } catch {
        case e: java.nio.charset.CharacterCodingException =>
          throw new java.io.IOException(
            s"fan-out: row for key '$key' contains characters not " +
              s"representable in $encoding (strict output-encoding, " +
              s"matching the reference's UnicodeEncodeError contract): " +
              s"${s.take(120)}", e)
      }
    val attempt = org.apache.spark.TaskContext.get().taskAttemptId()
    val written = Seq.newBuilder[(String, String)]
    var key, src: String = null
    var dest, tmp: Path = null
    var out: java.io.OutputStream = null
    def commit(): Unit = if (out != null) {
      out.close(); out = null
      commitFile(fs, tmp, dest)
      written += key -> src
    }
    try {
      rows.foreach { case (k, s, line) =>
        if (k != key || s != src) {
          commit()
          key = k; src = s
          val name = s"$k/$s.csv"
          requireLocalName(fs, name)
          dest = new Path(s"$outDir/$name")
          tmp = new Path(dest.getParent, s".$s.csv.$attempt.tmp")
          out = create(fs, tmp) // creates the key directory
          out.write(encodeStrict(k, heads(s)))
        }
        out.write(encodeStrict(k, line + lineSep))
      }
      commit()
    } catch { case e: Throwable =>
      // this attempt's own tmp is private to it: safe to remove here
      if (out != null) { scala.util.Try(out.close()); fs.delete(tmp, false) }
      throw e
    }
    written.result().iterator
  }

  /** `fs.create(p, true)`. On the raw local filesystem, which forks a
    * `chmod` for every file and every new directory when libhadoop is
    * absent, the same umask-applied modes are set in-process.
    */
  private def create(fs: FileSystem, p: Path): java.io.OutputStream = fs match {
    case local: RawLocalFileSystem =>
      val umask = FsPermission.getUMask(local.getConf)
      def chmod(f: java.io.File, mode: FsPermission): Unit =
        java.nio.file.Files.setPosixFilePermissions(f.toPath,
          java.nio.file.attribute.PosixFilePermissions.fromString(mode.applyUMask(umask).toString))
      def mkdirs(d: java.io.File): Unit = if (!d.isDirectory) {
        Option(d.getParentFile).foreach(mkdirs)
        if (d.mkdir()) chmod(d, FsPermission.getDirDefault)
        else if (!d.isDirectory) throw new java.io.IOException(s"Mkdirs failed to create $d")
      }
      val file = local.pathToFile(p)
      mkdirs(file.getParentFile)
      val out = new java.io.FileOutputStream(file)
      try chmod(file, FsPermission.getFileDefault)
      catch { case e: Throwable => out.close(); throw e }
      new java.io.BufferedOutputStream(out, local.getConf.getInt("io.file.buffer.size", 4096))
    case _ => fs.create(p, true)
  }

  /** Commit one attempt's `tmp` as `dest` by rename FIRST; only delete a
    * pre-existing dest when the rename refuses to clobber. A committed
    * destination is therefore never removed before its replacement
    * exists, so two live speculative/retried attempts can't strand the
    * key fileless (orphan temps are swept in [[writeRows]], after the job).
    */
  private def commitFile(fs: FileSystem, tmp: Path, dest: Path): Unit = {
    if (!fs.rename(tmp, dest)) {
      if (fs.exists(dest)) fs.delete(dest, false)
      if (!fs.rename(tmp, dest)) {
        // lost the delete→rename window to a concurrent attempt that
        // committed identical content — fine as long as dest exists;
        // anything else is a real failure
        fs.delete(tmp, false)
        if (!fs.exists(dest))
          throw new java.io.IOException(
            s"fan-out: rename $tmp -> $dest failed")
      }
    }
  }

  /** Every `outDir/{dir}/{name}` whose name ends in `.csv` in any case,
    * hidden ones included, in listing order: one driver listing, which
    * [[read]] and `VerifyOps.verify` share. */
  def listLayout(spark: SparkSession, outDir: String): Seq[Path] = {
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(outDir)).filter(_.isDirectory)
      .flatMap(d => fs.listStatus(d.getPath)).filter(_.isFile).map(_.getPath)
      .filter(_.getName.toLowerCase.endsWith(".csv")).toSeq
  }

  /** Read a fan-out layout back: `outDir/{key}/{srcName}.csv` for every
    * key directory ([[listLayout]]), all-string, with the directory name
    * (the key verify_fanout.py checks against) in `_dir_key`. Like the
    * reference verifier (verify_fanout.py:69–79), each file's own prefix
    * and header are scanned ([[HeaderScan.scanFiles]]) and its data read
    * from the offset found ([[HeaderScan.readFiles]]), so a data row equal
    * to a meta line stays a data row. A listed file without the key column
    * fails the read.
    *
    * A quoted cell holding a line break, one cell to Python's `csv`
    * module, fails the read, naming the file and the line's byte offset
    * ([[HeaderScan.scan]]); such lines are not joined. [[write]] quotes
    * such a cell as `csv` does; [[writeFiles]]' own input read fails first.
    */
  def read(spark: SparkSession, outDir: String, srcName: String, keyCol: String): DataFrame = {
    val name = s"$srcName.csv"
    val files = listLayout(spark, outDir).filter(_.getName == name).map(_.toString)
    require(files.nonEmpty, s"no $name under $outDir/*/")
    val infos = HeaderScan.scanFiles(spark, files, keyCol)
    val keyless = files.diff(infos.map(_.path))
    require(keyless.isEmpty, s"key column '$keyCol' not found in ${keyless.mkString(", ")}")
    HeaderScan.readFiles(spark, infos)
      .withColumn("_path", HeaderScan.parentName(col("_path")))
      .withColumnRenamed("_path", "_dir_key")
  }
}
