package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Post-hoc fan-out verification as DataFrame ops (reference
  * verify_fanout.py; SURVEY.md §2.6 V1–V3): the reference's main
  * correctness idea, kept as a product feature.
  *
  *   - file-set check: per key, `missing = expected − present` and
  *     `extra = present − expected` (verify_fanout.py:32–48) — anti-joins,
  *     not driver-side set math;
  *   - content invariant: every data row's key equals its directory's key
  *     (verify_fanout.py:52–102) — a filter + count with bounded samples;
  *   - exit contract: any discrepancy ⇒ non-zero (verify_fanout.py:187–188),
  *     here a summary row the caller can assert on.
  *
  * All checks are single-shuffle aggregations; at 100 TB they scale as a
  * scan + hash agg (the reference re-reads every output file serially).
  */
object VerifyOps {

  /** Per-key missing/extra source files. `present` must have columns
    * (key, src); `expectedSrcs` is the full source-file list (small →
    * broadcast cross join).
    *
    * The key universe comes from `present` — the reference's semantics
    * (verify_fanout.py iterates EXISTING output store dirs, so a store
    * whose output vanished entirely is equally invisible to it; its
    * `verify_store_presence` covers that from the source side).
    */
  def fileSetCheck(present: DataFrame, keyCol: String, expectedSrcs: Seq[String]): DataFrame = {
    val spark = present.sparkSession
    import spark.implicits._
    fileSetCheckPairs(present, present.select(col(keyCol)).distinct()
      .crossJoin(broadcast(expectedSrcs.toDF("src"))), keyCol)
  }

  /** [[fileSetCheck]] against an explicit expected (key, src) pair set —
    * the per-file membership computed from the INPUT data. This is a
    * DELIBERATE fix of the reference verifier's false failures:
    * verify_fanout.py's check_file_sets expects every store dir to hold
    * every input file (the cross-product), but that is
    * fan_out_by_storeid.py's WRITE-side layout only when every store
    * appears in every source — a store absent from a source file
    * legitimately has no output for it, and the reference verifier
    * wrongly exits 1 on that layout. Content-derived pairs expect
    * exactly what the fan-out can produce (FanOutPropertySpec pins the
    * per-file invariant); `VerifyFanoutMain --strict true` restores the
    * reference verifier's cross-product expectation byte-for-byte.
    */
  def fileSetCheckPairs(present: DataFrame, expected: DataFrame,
                        keyCol: String): DataFrame = {
    val exp = expected.select(col(keyCol), col("src")).distinct()
    val have = present.select(col(keyCol), col("src")).distinct()
    val missing = exp.join(have, Seq(keyCol, "src"), "left_anti")
      .select(col(keyCol), lit("missing").as("kind"), col("src"))
    val extra = have.join(exp, Seq(keyCol, "src"), "left_anti")
      .select(col(keyCol), lit("extra").as("kind"), col("src"))
    missing.unionAll(extra)
  }

  /** Content-invariant violations: rows whose key cell ≠ directory key.
    * Input needs (keyCol, _dir_key), as [[graft.sources.FanOut.read]] and
    * `VerifyFanoutMain` produce them: every data row, the prefix dropped
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

  /** One-row verification summary (the exit-code contract, as data):
    * (n_missing, n_extra, n_violations, n_keys).
    */
  def summary(
      present: DataFrame,
      readBack: DataFrame,
      keyCol: String,
      expectedSrcs: Seq[String]): DataFrame = {
    val sets = fileSetCheck(present, keyCol, expectedSrcs)
      .groupBy().pivot("kind", Seq("missing", "extra")).count()
      .select(coalesce(col("missing"), lit(0L)).as("n_missing"),
        coalesce(col("extra"), lit(0L)).as("n_extra"))
    val content = contentViolations(readBack, keyCol)
      .agg(count(lit(1)).as("n_violations"))
    val keys = readBack.agg(countDistinct(col("_dir_key")).as("n_keys"))
    sets.crossJoin(content).crossJoin(keys)
  }

  /** Presence precheck (verify_store_presence.py:35–63; SURVEY.md §2.6 V4) as ONE grouped
    * count: (dataset, n_rows) of rows whose trimmed `keyCol` is `keyValue`, none → no row. */
  def presence(rows: DataFrame, keyCol: String, keyValue: String, dataset: Column): DataFrame =
    rows.filter(trim(col(keyCol)) === keyValue)
      .groupBy(dataset.as("dataset")).agg(count(lit(1)).as("n_rows"))
}
