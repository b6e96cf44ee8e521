package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{FanOut, HeaderScan}

/** Post-hoc fan-out verification (reference verify_fanout.py; SURVEY.md
  * §2.6 V1–V3): the reference's main correctness idea, kept as a product
  * feature. [[verify]] is the one verifier: `graft.cli.VerifyFanoutMain`
  * prints its [[Report]], and the registry's q17 checks it against DuckDB.
  *
  *   - file-set check: per key, `missing = expected − present` and
  *     `extra = present − expected` (verify_fanout.py:32–48), as set math
  *     on the driver: the listing is driver-sized already, and there are
  *     no more expected (key, src) pairs than files a fan-out writes;
  *   - content invariant: every data row's key equals its directory's key
  *     (verify_fanout.py:52–102), the one distributed pass: a filter and a
  *     per-file window with bounded samples;
  *   - exit contract: any discrepancy ⇒ non-zero (verify_fanout.py:187–188),
  *     here [[Report.failed]].
  */
object VerifyOps {

  /** A kind of file-set problem: its (store, src) count, and the first 10
    * by (store, src) in UTF-8 byte order, Spark's string order. */
  final case class SetProblems(total: Int, first: Seq[(String, String)])
  /** An output file's violating rows: how many, and the first 5 key cells. */
  final case class FileViolations(dir: String, n: Long, keyCells: Seq[String])
  /** A source's violating files by directory; its hidden and keyless ones by path. */
  final case class SrcContent(src: String, files: Seq[FileViolations], unreadable: Seq[String])

  /** `content` holds the sources with a problem, `srcs`' first in their
    * order, then the others by name; `nKeys` counts the store directories. */
  final case class Report(missing: SetProblems, extra: SetProblems, content: Seq[SrcContent], nKeys: Int) {
    def violations: Long = content.map(c => c.files.map(_.n).sum + c.unreadable.length).sum
    def failed: Boolean = missing.total + extra.total + violations > 0
  }

  /** Verify the fan-out layout of `outDir` ([[FanOut.listLayout]]) made
    * from the sources `srcs`. The expected (store, src) files are
    * `expected`'s distinct (keyCol, src) rows, or with None every listed
    * store directory × `srcs`, the reference verifier's expectation
    * (verify_fanout.py check_file_sets). That cross product over-expects:
    * a store absent from a source legitimately has no output for it, and
    * the reference fails such a layout; pairs from the input content
    * expect exactly what the fan-out writes (FanOutPropertySpec). As in
    * the reference, a store whose output vanished entirely is invisible
    * here; verify_store_presence covers it from the source side.
    *
    * Each listed file not hidden is head-scanned in `encodings`, in order,
    * and all are read in one scan. A hidden name, which no fan-out writes,
    * and a file without the key column are one violation each.
    */
  def verify(
      spark: SparkSession,
      outDir: String,
      keyCol: String,
      srcs: Seq[String],
      expected: Option[DataFrame],
      encodings: Seq[String]): Report = {
    val listed = FanOut.listLayout(spark, outDir)
    val srcOf = (p: Path) => FanOut.srcOf(p.getName)
    val present = listed.map(p => (p.getParent.getName, srcOf(p))).toSet
    val keys = present.map(_._1)
    val want = expected match {
      case Some(df) => df.select(col(keyCol), col("src")).distinct().collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      case None => for (k <- keys; s <- srcs) yield (k, s)
    }
    def problems(pairs: Set[(String, String)]) = SetProblems(pairs.size, pairs.toSeq
      .sortBy { case (k, s) => (UTF8String.fromString(k), UTF8String.fromString(s)) }.take(10))

    val infos = HeaderScan.scanFiles(spark,
      listed.filterNot(p => HeaderScan.isHidden(p.getName)).map(_.toString), keyCol, encodings)
    val keyed = infos.map(_.path).toSet
    val unreadableOf = listed.filterNot(p => keyed(p.toString)).groupBy(srcOf)
    val samples =
      if (infos.isEmpty) Nil
      else violationSamples(HeaderScan.readFiles(spark, infos).select(col(keyCol),
          HeaderScan.parentName(col("_path")).as("_dir_key"),
          FanOut.srcOf(HeaderScan.fileName(col("_path"))).as("_src")), keyCol, 5)
        .collect().toSeq
    val filesOf = samples.groupBy(_.getAs[String]("_src")).map { case (src, rows) =>
      src -> rows.groupBy(_.getAs[String]("_dir_key")).toSeq.sortBy(_._1).map { case (dir, fs) =>
        FileViolations(dir, fs.head.getAs[Long]("_n_file_violations"),
          fs.sortBy(_.getAs[Int]("_rnk")).map(_.getAs[String](keyCol)))
      }
    }
    val listedSrcs = present.map(_._2)
    val content = (srcs.distinct.filter(listedSrcs) ++ (listedSrcs -- srcs).toSeq.sorted).flatMap { s =>
      val (fs, un) = (filesOf.getOrElse(s, Nil), unreadableOf.getOrElse(s, Nil).map(_.toString))
      Option.when(fs.nonEmpty || un.nonEmpty)(SrcContent(s, fs, un))
    }
    Report(problems(want -- present), problems(present -- want), content, keys.size)
  }

  /** Content-invariant violations: rows whose key cell ≠ directory key.
    * Input needs (keyCol, _dir_key), as [[graft.sources.FanOut.read]] and
    * [[verify]] produce them: every data row, the prefix dropped
    * by byte offset. A missing (null) key cell — e.g. a ragged row
    * null-filled by the CSV parser — counts as "" and thus AS a violation
    * (verify_fanout.py:90–93), not a silently dropped row.
    */
  def contentViolations(readBack: DataFrame, keyCol: String): DataFrame =
    readBack.filter(trim(coalesce(col(keyCol), lit(""))) =!= col("_dir_key"))

  /** Bounded violation sample report (verify_fanout.py:96–97, 126–135):
    * at most `k` violating rows per output file (= per `_dir_key`, and
    * per `_src` too when the frame has that column, i.e. holds several
    * sources), each tagged with its rank and the file's total violation
    * count — the report stays O(k·files) no matter how many rows
    * violate, where the unbounded [[contentViolations]] set could be the
    * whole corpus.
    *
    * Sampling is deterministic up to row content: rows are ranked by the
    * trimmed key cell, so callers wanting hash-stable output should
    * project the frame to (keyCol, _dir_key) first (tied rows are then
    * identical and any k of them are the same sample).
    *
    * Both windows share one partitioning on the file → one shuffle.
    */
  def violationSamples(readBack: DataFrame, keyCol: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byFile = Window.partitionBy(
      Seq("_src", "_dir_key").filter(readBack.columns.contains).map(col): _*)
    contentViolations(readBack, keyCol)
      .withColumn("_rnk", row_number().over(byFile.orderBy(trim(col(keyCol)))).cast("int"))
      .withColumn("_n_file_violations", count(lit(1)).over(byFile))
      .filter(col("_rnk") <= k)
  }

  /** Presence precheck (verify_store_presence.py:35–63; SURVEY.md §2.6 V4) as ONE grouped
    * count: (dataset, n_rows) of rows whose trimmed `keyCol` is `keyValue`, none → no row. */
  def presence(rows: DataFrame, keyCol: String, keyValue: String, dataset: Column): DataFrame =
    rows.filter(trim(col(keyCol)) === keyValue)
      .groupBy(dataset.as("dataset")).agg(count(lit(1)).as("n_rows"))
}
