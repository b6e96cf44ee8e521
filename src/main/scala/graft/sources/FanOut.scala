package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Partitioned fan-out sink (reference fan_out_by_storeid.py:32–48;
  * SURVEY.md §2.1 S5/S6): split rows of each source into
  * `out/{key}/{srcName}.csv`, optionally replaying meta prefix rows and a
  * UTF-8 BOM (`utf-8-sig`) at the top of every output file.
  *
  * The reference is one loop: `csv.reader` feeds one `csv.writer` per
  * output file. Here each row becomes `(key, seq, to_csv(cells))`, rows
  * are hash-partitioned by key (a key never spans two tasks) and sorted
  * by (key, seq) within each partition, and every task streams its rows
  * with ONE open file at a time: prefix + header once per key, then the
  * key's rows in input order. The writer holds one row (the sort
  * spills), so memory stays bounded like the reference's (SURVEY.md §4);
  * no output byte goes through the driver, whose only filesystem work
  * is the orphan-temp sweep over the key directories written.
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
    val spark = df.sparkSession
    val names = df.columns.toSeq
    def quoted(c: String): Column = col("`" + c.replace("`", "``") + "`")
    val key = trim(quoted(keyCol))
    val cells = names.map(c => if (c == keyCol) key.as(c) else quoted(c))
    val head = (if (bom) "\uFEFF" else "") +
      prefixRows.map(_ + lineSep).mkString + csvHeader(spark, names) + lineSep
    // seq is taken before the shuffle, so sorting by (k, seq) restores
    // each key's input order
    val rows = df
      .select(key.as("k"), monotonically_increasing_id().as("seq"),
        to_csv(struct(cells: _*), csvDialect.asJava).as("line"))
      .filter(col("k").isNotNull && col("k") =!= "")
      // repartition, not rebalance: AQE may split a rebalance partition,
      // and a key must stay in one task to get one file
      .repartition(col("k"))
      .sortWithinPartitions("k", "seq")
      .select("k", "line")
      .as(Encoders.tuple(Encoders.STRING, Encoders.STRING))
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val (out, src, enc, sep) = (outDir, srcName, encoding, lineSep)
    val keys = rows
      .mapPartitions(it => writeSorted(conf.value, out, src, head, enc, sep, it))(Encoders.STRING)
      .collect().toSeq.sorted
    // Sweep orphaned attempt temps (crashed or speculation-killed
    // attempts that never renamed). Done HERE, after the job has
    // returned and every key holds a committed dest — a task-side
    // sweep could delete a live twin's tmp mid-write and leave the
    // key fileless. Driver cost is metadata-only (one listing per
    // key; no glob, so keys with glob metachars stay safe).
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    keys.foreach { k =>
      fs.listStatus(new Path(s"$outDir/$k"))
        .filter { st =>
          val n = st.getPath.getName
          n.contains(s"$srcName.csv.") &&
            (n.endsWith(".tmp") || n.endsWith(".tmp.crc"))
        }
        .foreach(st => fs.delete(st.getPath, false))
    }
    keys
  }

  /** The header line, rendered by the same `to_csv` as the rows over a
    * one-row local relation (evaluated on the driver, no Spark job).
    */
  private def csvHeader(spark: SparkSession, names: Seq[String]): String = {
    val schema = StructType(names.indices.map(i => StructField(s"c$i", StringType)))
    spark.createDataFrame(java.util.List.of(Row.fromSeq(names)), schema)
      .select(to_csv(struct(schema.fieldNames.toSeq.map(col): _*), csvDialect.asJava))
      .collect().head.getString(0)
  }

  /** Hadoop `Configuration` isn't `java.io.Serializable`; it IS a Hadoop
    * `Writable`, so ship it to tasks via writeObject/readFields (the same
    * trick Spark uses internally for its own config broadcasts).
    */
  private[sources] class SerializableHadoopConf(@transient var value: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** Task-side writer over one partition's `(key, csv line)` rows, grouped
    * by key: one open file at a time, `head` (BOM, prefix, header) once
    * per key, then the key's rows. Returns the keys it committed. Runs on
    * executors — keep driver state out of here.
    *
    * Retry-safe: each attempt writes to an attempt-unique hidden temp
    * file and renames into place, so a retried or speculatively
    * duplicated task never interleaves bytes with another attempt on the
    * same destination stream — the last rename wins whole-file.
    */
  private def writeSorted(
      conf: org.apache.hadoop.conf.Configuration,
      outDir: String,
      srcName: String,
      head: String,
      encoding: String,
      lineSep: String,
      rows: Iterator[(String, String)]): Iterator[String] = {
    val fs = new Path(outDir).getFileSystem(conf)
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
    val attempt = Option(org.apache.spark.TaskContext.get())
      .map(_.taskAttemptId().toString)
      .getOrElse(java.util.UUID.randomUUID().toString)
    val written = Seq.newBuilder[String]
    var key: String = null
    var dest, tmp: Path = null
    var out: java.io.OutputStream = null
    def commit(): Unit = if (out != null) {
      out.close(); out = null
      commitFile(fs, tmp, dest)
      written += key
    }
    try {
      rows.foreach { case (k, line) =>
        if (k != key) {
          commit()
          key = k
          dest = new Path(s"$outDir/$k/$srcName.csv")
          tmp = new Path(dest.getParent, s".${dest.getName}.$attempt.tmp")
          fs.mkdirs(dest.getParent)
          out = fs.create(tmp, true)
          out.write(encodeStrict(k, head))
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
    * key fileless (each attempt's tmp stays private to it — orphans from
    * crashed attempts are swept by the driver in [[write]] AFTER the
    * job, never by a peer task that might race a still-writing twin).
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
    dropCrcSidecar(fs, dest)
    dropCrcSidecar(fs, tmp)
  }

  /** Delete the local-FS checksum sidecar (`.{name}.crc`) so the layout
    * is exactly the reference's plain `{key}/{src}.csv` files — a stale
    * sidecar would also fail later Hadoop reads of an output a user
    * edited in place. No-op on filesystems without sidecars (HDFS, S3).
    */
  private def dropCrcSidecar(fs: FileSystem, dest: Path): Unit = {
    val crc = new Path(dest.getParent, s".${dest.getName}.crc")
    if (fs.exists(crc)) fs.delete(crc, false)
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
