package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Partitioned fan-out sink (reference fan_out_by_storeid.py:32–48;
  * SURVEY.md §2.1 S5/S6): split rows of each source into
  * `out/{key}/{src}.csv`, optionally replaying meta prefix rows and a
  * UTF-8 BOM (`utf-8-sig`) at the top of every output file.
  *
  * The reference loops over input files, `csv.reader` feeding one
  * `csv.writer` per output file. Here every row of every source becomes
  * `(key, src, seq, to_csv(cells))` in ONE job, hash-partitioned by key
  * (a key never spans two tasks) and sorted by (key, src, seq), and each
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
    * write, `""` for an empty string) would rewrite such cells. Used by
    * the writer's `to_csv` and by the `from_csv` of [[HeaderScan]].
    */
  private[sources] val csvDialect: Map[String, String] = Map(
    "escape" -> "\"",
    "ignoreLeadingWhiteSpace" -> "false",
    "ignoreTrailingWhiteSpace" -> "false",
    "emptyValue" -> "")

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
    * (fan_out_by_storeid.py:35–37). Other cells are written verbatim.
    * `prefixRows` (meta rows from [[HeaderScan]]) and `bom` reproduce the
    * reference's per-file prefix replay + utf-8-sig output.
    *
    * A key containing '/' nests directories (`US/East` →
    * `outDir/US/East/src.csv`) — byte-identical to the reference's
    * `os.path.join(out, key)`, and flagged by the same verify pass in
    * both systems (the depth-1 read won't see it). Callers wanting
    * path-safe keys sanitize before writing, as they would there.
    *
    * `encoding` selects the OUTPUT charset and `lineSep` the output
    * line terminator (the reference writes output in the input's
    * encoding — one `--encoding` for both, fan_out_by_storeid.py:14/:42
    * — and its `csv.writer` terminates rows with CRLF); the defaults
    * stay UTF-8 + LF (this library's documented normalize stance —
    * COVERAGE.md). Pass `encoding = "big5", lineSep = "\r\n"` for
    * byte-identical reference output (FanOutSpec pins it). `bom` is
    * the utf-8-sig marker and therefore requires UTF-8 output.
    */
  def write(
      df: DataFrame,
      keyCol: String,
      outDir: String,
      srcName: String,
      prefixRows: Seq[String] = Nil,
      bom: Boolean = false,
      encoding: String = "UTF-8",
      lineSep: String = "\n"): Seq[String] = {
    require(!bom || java.nio.charset.Charset.forName(encoding) ==
      java.nio.charset.StandardCharsets.UTF_8,
      s"bom (utf-8-sig) requires UTF-8 output, got $encoding")
    val names = df.columns.toSeq
    val head = (if (bom) "\uFEFF" else "") +
      prefixRows.map(_ + lineSep).mkString + csvHeader(df.sparkSession, names) + lineSep
    writeRows(Seq((df, names, lit(srcName))), keyCol, Map(srcName -> head),
      outDir, encoding, lineSep)
  }

  /** Fan out header-scanned files ([[HeaderScan.scanFiles]]) into
    * `outDir/{key}/{src}.csv`, `src` being [[srcOf]] the file name, in ONE
    * write: the files are read one scan per distinct header
    * ([[HeaderScan.readFiles]]), and each output file starts with its own
    * source's prefix rows and its header group's header. Returns the keys
    * written, sorted. `encoding` and `lineSep` are those of [[write]].
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
    val groups = infos.groupBy(_.columns).toSeq
    val header = groups.map { case (names, _) => names -> (csvHeader(spark, names) + lineSep) }.toMap
    val heads = srcs.zip(infos).map { case (src, i) =>
      src -> (i.prefixRows.map(_ + lineSep).mkString + header(i.columns))
    }.toMap
    writeRows(groups.map { case (names, g) =>
      (HeaderScan.readFiles(spark, g), names, srcOf(HeaderScan.fileName(col("_path"))))
    }, keyCol, heads, outDir, encoding, lineSep)
  }

  /** Write the `names` cells of each `(frame, names, src)` part, keyed by
    * `keyCol`; `heads` maps each source to its BOM + prefix + header
    * (shipped to the tasks once). Returns the keys written, sorted.
    */
  private def writeRows(
      parts: Seq[(DataFrame, Seq[String], Column)],
      keyCol: String,
      heads: Map[String, String],
      outDir: String,
      encoding: String,
      lineSep: String): Seq[String] = {
    def quoted(c: String): Column = col("`" + c.replace("`", "``") + "`")
    val key = trim(quoted(keyCol))
    // seq is taken before the shuffle, so sorting by (k, src, seq)
    // restores each source's input order
    val rows = parts
      .map { case (df, names, src) =>
        val cells = names.map(c => if (c == keyCol) key.as(c) else quoted(c))
        df.select(key.as("k"), src.as("src"), monotonically_increasing_id().as("seq"),
          to_csv(struct(cells: _*), csvDialect.asJava).as("line"))
      }
      .reduce(_ union _)
      .filter(col("k").isNotNull && col("k") =!= "")
      // repartition, not rebalance: AQE may split a rebalance partition,
      // and a key must stay in one task to get one file per source
      .repartition(col("k"))
      .sortWithinPartitions("k", "src", "seq")
      .select("k", "src", "line")
      .as(Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.STRING))
    val spark = rows.sparkSession
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val bheads = spark.sparkContext.broadcast(heads)
    val written = rows
      .mapPartitions(it => writeSorted(conf.value, outDir, bheads.value, encoding, lineSep, it))(
        Encoders.tuple(Encoders.STRING, Encoders.STRING))
      .collect().toSeq
    bheads.destroy()
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

  /** The header line, rendered by the same `to_csv` as the rows over a
    * one-row local relation (evaluated on the driver, no Spark job).
    */
  private def csvHeader(spark: SparkSession, names: Seq[String]): String = {
    val schema = StructType(names.indices.map(i => StructField(s"c$i", StringType)))
    spark.createDataFrame(java.util.List.of(Row.fromSeq(names)), schema)
      .select(to_csv(struct(schema.fieldNames.toSeq.map(col): _*), csvDialect.asJava))
      .collect().head.getString(0)
  }

  /** Task-side writer over one partition's `(key, src, csv line)` rows,
    * grouped by (key, src): one open file at a time, the source's head
    * (BOM, prefix, header) once per file, then its rows. Returns the
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
    // Strict encode: the reference Python opens the sink with the
    // target codec and raises UnicodeEncodeError on any unmappable
    // character (fan_out_by_storeid.py's `open(..., encoding=enc)`
    // default errors='strict'). Java's String.getBytes(Charset) instead
    // REPLACEs with '?' — silent corruption. REPORT restores the loud
    // failure contract; the message carries the key so a 1000-task run
    // points at the offending partition, not a stack of anonymous bytes.
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
    // Local file names go through the JVM's file-name charset, which
    // follows the locale (ASCII under LC_ALL=C) and writes '?' for what
    // it cannot encode: distinct keys would share one directory
    val nameEnc = Option.when(fs.getUri.getScheme == "file")(java.nio.charset.Charset
      .forName(sys.props.getOrElse("sun.jnu.encoding", "UTF-8")).newEncoder())
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
          nameEnc.filterNot(_.canEncode(name)).foreach(e => throw new java.io.IOException(
            s"fan-out: file name '$name' is not representable in the platform " +
              s"file-name charset ${e.charset}, so distinct keys would share one " +
              "directory; run under a UTF-8 locale (e.g. LC_ALL=C.UTF-8)"))
          dest = new Path(s"$outDir/$name")
          tmp = new Path(dest.getParent, s".$s.csv.$attempt.tmp")
          out = fs.create(tmp, true) // creates the key directory
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

  /** Read a fan-out layout back: `outDir/{key}/{srcName}.csv` for every
    * key directory, with the key recovered from the directory name (the
    * content invariant verify_fanout.py checks) in `_dir_key`.
    * All-string schema.
    *
    * Like the reference verifier (verify_fanout.py:69–79), every file's
    * head is scanned for its own prefix and header
    * ([[HeaderScan.scanFiles]], in executors) and its data lines are read
    * from the byte offset the scan found ([[HeaderScan.readFiles]]), so a
    * data row equal to a meta line stays a data row. The listing is
    * metadata-only: `outDir`, then each key directory. A listed file
    * without the key column fails the read.
    *
    * Limitation (inherent to any line-oriented CSV read): quoted cells
    * with embedded newlines aren't reassembled. The reference's BI
    * exports don't produce them.
    */
  def read(spark: SparkSession, outDir: String, srcName: String, keyCol: String): DataFrame = {
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val name = s"$srcName.csv"
    val files = fs.listStatus(new Path(outDir)).filter(_.isDirectory)
      .flatMap(d => fs.listStatus(d.getPath).filter(f => f.isFile && f.getPath.getName == name))
      .map(_.getPath.toString).toSeq
    require(files.nonEmpty, s"no $name under $outDir/*/")
    val infos = HeaderScan.scanFiles(spark, files, keyCol)
    val keyless = files.diff(infos.map(_.path))
    require(keyless.isEmpty, s"key column '$keyCol' not found in ${keyless.mkString(", ")}")
    HeaderScan.readFiles(spark, infos)
      .withColumn("_path", HeaderScan.parentName(col("_path")))
      .withColumnRenamed("_path", "_dir_key")
  }
}
