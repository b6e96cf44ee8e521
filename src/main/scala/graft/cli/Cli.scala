package graft.cli

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.etl.{Kpi, VerifyOps}
import graft.sources.{CsvGen, FanOut, HeaderScan}

/** CLI parity with the reference's five argparse programs — same flags,
  * same observable workflow (README.md:31–120), each a thin wrapper over
  * the library modules:
  *
  *   - [[FanOutMain]]      ≙ fan_out_by_storeid.py:51–67
  *   - [[VerifyFanoutMain]]≙ verify_fanout.py:160–188 (exit 1 on any
  *                           discrepancy — the CI contract)
  *   - [[AggregateMain]]   ≙ aggregate_by_store.py:765–770 (six config
  *                           keys + the generic config path via flags)
  *   - [[PresenceMain]]    ≙ verify_store_presence.py:66–71
  *   - [[CsvGenMain]]      ≙ csv_gen.py:74–115
  *
  * Every CSV is read through [[HeaderScan]]. Output charsets: [[FanOutMain]]'s
  * `--output-encoding` (UTF-8 unless set); [[AggregateMain]] writes utf-8-sig,
  * which the BI tools consuming its outputs expect (README.md:95–99).
  */
private[graft] object Args {

  /** `--flag value` parser: returns the flag map; unknown flags fail. */
  def parse(args: Array[String], known: Set[String]): Map[String, String] = {
    require(args.length % 2 == 0, s"expected --flag value pairs, got: ${args.mkString(" ")}")
    args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"expected a --flag, got '$k'")
      val name = k.stripPrefix("--")
      require(known.contains(name), s"unknown flag --$name (known: ${known.toSeq.sorted.mkString(", ")})")
      name -> v
    }.toMap
  }

  def required(m: Map[String, String], k: String): String =
    m.getOrElse(k, throw new IllegalArgumentException(s"missing required --$k"))

  /** Line-0-header CSVs (`pd.read_csv(dtype=str)`, aggregate_by_store.py:123
    * etc.) head-scanned in ONE job, in `paths`' order. A name the JVM cannot
    * spell ([[FanOut.requireLocalName]]) or a line 0 without `key` fails.
    */
  def scanHeaded(spark: SparkSession, paths: Seq[String], key: String): Seq[HeaderScan.HeaderInfo] = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.foreach(p => FanOut.requireLocalName(new Path(p).getFileSystem(conf), p))
    val infos = HeaderScan.scanFiles(spark, paths, key, maxScanLines = 1)
    paths.map(p => infos.find(_.path == p).getOrElse(
      throw new IllegalArgumentException(s"key column '$key' not on line 0 of $p")))
  }

  /** [[scanHeaded]] `paths`, one all-string frame each, less rows without a cell:
    * blank lines (pandas skips them) and `,,,` rows (no store, no output). */
  def readHeaded(spark: SparkSession, paths: Seq[String], key: String): Seq[DataFrame] =
    scanHeaded(spark, paths, key).map(i =>
      HeaderScan.readFiles(spark, Seq(i)).drop("_path").na.drop("all"))
}

/** `graft.cli.FanOutMain --input-dir I --output-dir O [--encoding E]
  * [--output-encoding E2] [--key 商店序號]`
  *
  * `--output-encoding` defaults to UTF-8 (this library's documented
  * normalize-to-UTF-8 stance). The reference writes output in the
  * INPUT encoding (one `--encoding` for both, fan_out_by_storeid.py:42)
  * — pass `--output-encoding big5` alongside `--encoding big5` for
  * strict byte parity with it.
  */
object FanOutMain {
  def main(args: Array[String]): Unit = {
    val a = Args.parse(args,
      Set("input-dir", "output-dir", "encoding", "output-encoding", "key"))
    val (in, out) = (Args.required(a, "input-dir"), Args.required(a, "output-dir"))
    val enc = a.getOrElse("encoding", "UTF-8")
    val outEnc = a.getOrElse("output-encoding", "UTF-8")
    val key = a.getOrElse("key", HeaderScan.defaultKeyCol)
    val spark = GraftSession("graft-fanout", GraftSession.interpreted)
    val infos = HeaderScan.scanDir(spark, in, key, enc)
    infos.foreach(i => println(s"[info] processing: ${i.path}"))
    FanOut.writeFiles(spark, infos, key, out, encoding = outEnc)
    spark.stop()
  }
}

/** `graft.cli.VerifyFanoutMain --input-dir I --output-dir O [--encoding E] [--key 商店序號] [--strict true]`
  *
  * Exit code 1 iff any store is missing a source file, has an extra
  * file, or any output row's key cell differs from its directory
  * (verify_fanout.py:187–188). Report truncation mirrors the reference:
  * first 10 stores per set problem, ≤5 sample rows per violating file.
  *
  * The expected files are content-derived (store, src) pairs;
  * [[VerifyOps.verify]] says why the reference verifier's cross product
  * over-expects. `--strict true` restores it (every present store dir ×
  * every input file) for byte-for-byte verifier parity.
  */
object VerifyFanoutMain {
  def main(args: Array[String]): Unit = {
    val a = Args.parse(args,
      Set("input-dir", "output-dir", "encoding", "key", "strict"))
    val (in, out) = (Args.required(a, "input-dir"), Args.required(a, "output-dir"))
    val enc = a.getOrElse("encoding", "UTF-8")
    val key = a.getOrElse("key", HeaderScan.defaultKeyCol)
    val strict = a.get("strict") match {
      case None => false
      case Some("true") => true
      case Some("false") => false
      case Some(v) => throw new IllegalArgumentException(
        s"--strict expects true or false, got '$v'")
    }
    val spark = GraftSession("graft-verify-fanout", GraftSession.interpreted)
    // key-less inputs are warn-skipped by the fan-out itself
    // (fan_out_by_storeid.py:28–30), so both sides use the same HeaderScan
    // read (same --encoding). Without inputs both expectations are empty,
    // and the strict one needs no read
    val inputs = HeaderScan.scanDir(spark, in, key, enc)
    val expected = Option.when(!strict && inputs.nonEmpty)(HeaderScan.readFiles(spark, inputs)
      .select(trim(col(key)).as(key), FanOut.srcOf(HeaderScan.fileName(col("_path"))).as("src"))
      .filter(col(key) =!= ""))
    // output heads are scanned in UTF-8 (FanOutMain's default), then --encoding
    val r = VerifyOps.verify(spark, out, key, inputs.map(i => FanOut.srcOf(new Path(i.path).getName)),
      expected, Seq("UTF-8", enc).distinct)

    println(s"[sets] input files=${inputs.length} missing=${r.missing.total} extra=${r.extra.total}")
    Seq("extra" -> r.extra, "missing" -> r.missing).foreach { case (kind, p) =>
      p.first.foreach { case (store, src) => println(s"  $kind: store=$store file=$src.csv") }
    }
    r.content.foreach { c =>
      val n = c.files.map(_.n).sum
      if (n > 0) {
        println(s"[content] ${c.src}.csv: $n violating rows")
        c.files.foreach(f => f.keyCells.foreach(k => println(s"  dir=${f.dir} key_cell='$k'")))
      }
      c.unreadable.foreach(p => println(s"[content] $p: unreadable under key '$key' — counted as violation"))
    }
    println(s"[content] total violations=${r.violations}")
    println(if (r.failed) "[FAIL] discrepancies found" else "[OK] fan-out verified")
    spark.stop()
    if (r.failed) sys.exit(1)
  }
}

/** `graft.cli.AggregateMain --config K [--input-dir ./input] [--output-dir ./output]`
  *
  * The six dedicated config keys (aggregate_by_store.py:109–723) read
  * their fixed source files from `{input-dir}/aggregate` and emit one
  * `{store}/{K}.csv` per store with a UTF-8 BOM (utf-8-sig). The generic
  * config path (:725–762) is reachable with
  * `--input-file F --store-col S --month-col M --target-col T --months m1,m2,...`
  * instead of a known `--config` key.
  */
object AggregateMain {

  private val Seq(binds, cum, mem, fpMonth, fpBranch, branchBinds) = PresenceMain.files.map(_._2)

  /** The configs that list each store's rows by month, ascending
    * (aggregate_by_store.py:311, 504). The 25-x rows leave their rank
    * window in rank order, which the write keeps.
    */
  private[graft] val byMonth = Set("23-2", "24-2")

  def main(args: Array[String]): Unit = {
    val a = Args.parse(args, Set("config", "input-dir", "output-dir",
      "input-file", "store-col", "month-col", "target-col", "months"))
    val inDir = a.getOrElse("input-dir", "./input")
    val outDir = a.getOrElse("output-dir", "./output")
    val spark = GraftSession("graft-aggregate", GraftSession.interpreted)
    // the six dedicated configs read from {input-dir}/aggregate; the
    // generic path reads its --input-file relative to {input-dir} root
    // unless the config says otherwise (aggregate_by_store.py:733)
    def agg(fs: String*): Seq[String] = fs.map(f => s"$inDir/aggregate/$f")
    val (cfgKey, keyCol, files, kpi): (String, String, Seq[String], Seq[DataFrame] => DataFrame) =
      a.get("input-file") match {
      case Some(f) =>
        val months = Args.required(a, "months").split(",").toSeq
        val storeCol = Args.required(a, "store-col")
        // keep the config's store column as the output header — the
        // reference writes it verbatim (aggregate_by_store.py:745–762)
        (f.stripSuffix(".csv"), storeCol, Seq(s"$inDir/$f"), d => Kpi.generic(d(0), storeCol,
          Args.required(a, "month-col"), Args.required(a, "target-col"), months))
      case None => Args.required(a, "config") match {
        case k @ "23-1" => (k, Kpi.S, agg(binds, cum, mem), d => Kpi.config23_1(d(0), d(1), d(2)))
        case k @ "23-2" => (k, Kpi.S, agg(binds), d => Kpi.config23_2(d(0)))
        case k @ "24-1" => (k, Kpi.S, agg(binds, cum, mem), d => Kpi.config24_1(d(0), d(1), d(2)))
        case k @ "24-2" => (k, Kpi.S, agg(fpMonth, binds), d => Kpi.config24_2(d(0), d(1)))
        case k @ "25-1" => (k, Kpi.S, agg(fpBranch, branchBinds), d => Kpi.config25_1(d(0), d(1)))
        case k @ "25-2" => (k, Kpi.S, agg(fpBranch, branchBinds), d => Kpi.config25_2(d(0), d(1)))
        case k => throw new IllegalArgumentException(s"Config '$k' not found")
      }
    }
    val result = kpi(Args.readHeaded(spark, files, keyCol))
    // stores = files written (the reference counts stores written too)
    val stores = if (a.contains("input-file")) FanOut.write(result, keyCol, outDir, cfgKey, bom = true)
      else {
        // the configs' stores are trimmed, and their last aggregate is
        // partitioned by store: the keyed write reuses it
        val order = if (byMonth(cfgKey)) col("月份") else lit(0)
        FanOut.writeKeyed(result, keyCol, outDir, cfgKey, bom = true, order = order)
      }
    println(s"[OK] config=$cfgKey, stores=${stores.length}")
    spark.stop()
  }
}

/** `graft.cli.PresenceMain --store X [--input-dir ./input]` — per-dataset
  * row-presence probe for one store (verify_store_presence.py:35–63).
  */
object PresenceMain {

  /** The six datasets of `{input-dir}/aggregate`, description → file
    * name (verify_store_presence.py:7–32); AggregateMain reads them too.
    */
  private[cli] val files = Seq(
    "23-1 / 23-2 / 24-1 / 24-2（區間推薦人綁定）" -> "區間綁定推薦人人數.csv",
    "23-1 / 24-1（累計推薦人綁定）" -> "累計至今綁定推薦人人數.csv",
    "23-1 / 24-1（會員總數）" -> "14-1.會員成長趨勢_新增註冊會員數卡片.csv",
    "24-2（門市首購人數－月份）" -> "門市首購人數_月份.csv",
    "25-1 / 25-2（門市首購人數－門市）" -> "門市首購人數_門市.csv",
    "25-1 / 25-2（各門市累計綁定）" -> "各門市累計綁定人數.csv")

  def main(args: Array[String]): Unit = {
    val a = Args.parse(args, Set("store", "input-dir"))
    val store = Args.required(a, "store")
    val aggDir = new Path(s"${a.getOrElse("input-dir", "./input")}/aggregate")
    val spark = GraftSession("graft-presence", GraftSession.interpreted)
    val fs = aggDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    files.foreach { case (_, f) => FanOut.requireLocalName(fs, f) } // else every name reads as missing
    val listed = if (fs.exists(aggDir)) fs.listStatus(aggDir).map(_.getPath.getName).toSet
      else Set.empty[String]
    val (found, absent) = files.partition { case (_, f) => listed(f) }
    absent.foreach { case (desc, f) => println(s"[warn] $desc: file not found ($f)") }
    if (found.nonEmpty) {
      val infos = Args.scanHeaded(spark, found.map { case (_, f) => s"$aggDir/$f" }, Kpi.S)
      val rows = VerifyOps.presence(HeaderScan.readFiles(spark, infos), Kpi.S, store,
        HeaderScan.fileName(col("_path"))).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      found.map { case (desc, f) => desc -> rows.getOrElse(f, 0L) }
        .foreach { case (desc, n) => println(s"[${if (n > 0) "OK " else "NONE"}] $desc: rows=$n") }
    }
    spark.stop()
  }
}

/** `graft.cli.CsvGenMain [--csv-count 60] [--store-count 150]
  * [--min-rows 1000] [--max-rows 10000] [--output-dir ./generated_data]
  * [--seed N] [--min-cols 3] [--max-cols 10]` — csv_gen.py:74–86 defaults.
  */
object CsvGenMain {
  def main(args: Array[String]): Unit = {
    val a = Args.parse(args, Set("csv-count", "store-count", "min-rows",
      "max-rows", "output-dir", "seed", "min-cols", "max-cols"))
    val cfg = CsvGen.Config(
      nFiles = a.getOrElse("csv-count", "60").toInt,
      minRows = a.getOrElse("min-rows", "1000").toInt,
      maxRows = a.getOrElse("max-rows", "10000").toInt,
      nStores = a.getOrElse("store-count", "150").toInt,
      seed = a.getOrElse("seed", "42").toLong,
      minCols = a.getOrElse("min-cols", "3").toInt,
      maxCols = a.getOrElse("max-cols", "10").toInt)
    require(cfg.minRows <= cfg.maxRows, "min-rows must be <= max-rows")
    require(cfg.minCols >= 2, "min-cols must be >= 2 (including the key)")
    require(cfg.minCols <= cfg.maxCols, "min-cols must be <= max-cols")
    val dir = java.nio.file.Paths.get(a.getOrElse("output-dir", "./generated_data"))
    java.nio.file.Files.createDirectories(dir)
    val written = CsvGen.generate(dir, cfg)
    println(s"[OK] wrote ${written.length} files to $dir (seed=${cfg.seed})")
  }
}
