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
  * Known deviation: output CSVs are always UTF-8 (with optional BOM);
  * `--encoding` governs INPUT decoding only. The reference writes
  * outputs in the input encoding — BI tools consuming the outputs
  * expect utf-8-sig regardless (README.md:95–99), which is what the BOM
  * flag produces.
  */
private[cli] object Args {

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

  /** Source name from a CSV file name: strip ONE trailing extension,
    * case-insensitively ("x.CSV.csv" → "x.CSV", never "x" — a chained
    * stripSuffix would double-strip and collide distinct inputs).
    */
  def srcBase(fileName: String): String =
    fileName.replaceAll("(?i)\\.csv$", "")

  /** All-string whole-file CSV read (`pd.read_csv(dtype=str)`,
    * aggregate_by_store.py:123 etc.): header row taken as-is,
    * `inferSchema` off so every column is StringType.
    */
  def readAllString(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)
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
    val spark = GraftSession("graft-fanout")
    val frames = HeaderScan.readDirFrames(spark, in, key, enc)
    val names = frames.map { case (info, _) => Args.srcBase(new Path(info.path).getName) }
    // two inputs collapsing to one src name would silently overwrite
    // each other's {key}/{src}.csv — refuse rather than lose data
    require(names.distinct.length == names.length,
      s"input files collide on source names: " +
        names.groupBy(identity).collect { case (n, g) if g.length > 1 => n }.mkString(", "))
    frames.zip(names).foreach { case ((info, df), srcName) =>
      println(s"[info] processing: ${info.path}")
      FanOut.write(df.drop("_src"), key, out, srcName,
        prefixRows = info.prefixRows, encoding = outEnc)
    }
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
  * Default file-set expectation is content-derived (store, src) pairs —
  * see [[VerifyOps.fileSetCheckPairs]] for why the reference verifier's
  * cross-product over-expects. `--strict true` restores the reference's
  * expectation (every present store dir × every input file) for
  * byte-for-byte verifier parity.
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
    val spark = GraftSession("graft-verify-fanout")
    import spark.implicits._

    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // expected (store, src) pairs come from the INPUT CONTENT — a store
    // absent from a source file legitimately has no output for it, and
    // key-less input files are warn-skipped by the fan-out itself
    // (fan_out_by_storeid.py:28–30), so both sides use the same
    // HeaderScan ingest (same --encoding)
    val frames = HeaderScan.readDirFrames(spark, in, key, enc)
    val srcNames = frames.map { case (info, _) =>
      Args.srcBase(new Path(info.path).getName)
    }
    val expected = frames.zip(srcNames).map { case ((_, df), srcName) =>
      df.select(trim(col(key)).as(key)).filter(col(key) =!= "")
        .distinct().withColumn("src", lit(srcName))
    }.reduceOption(_ unionAll _)
      .getOrElse(Seq.empty[(String, String)].toDF(key, "src"))

    // pass 1 — file sets (driver metadata listing → anti-join check)
    val presentPairs = fs.listStatus(new Path(out)).filter(_.isDirectory)
      .flatMap { d =>
        fs.listStatus(d.getPath).map(f => (d.getPath.getName, f.getPath.getName))
      }.toSeq
      .filter(_._2.toLowerCase.endsWith(".csv"))
      .map { case (k, f) => (k, Args.srcBase(f)) }
    val present = presentPairs.toDF(key, "src")
    val presentSrcs = presentPairs.map(_._2).toSet
    // --strict: the reference verifier's expectation — every store dir
    // that exists must hold every input file (verify_fanout.py
    // check_file_sets: missing = input_files - store_files per dir)
    val setProblems = (
      if (strict)
        VerifyOps.fileSetCheck(present, key, srcNames)
      else VerifyOps.fileSetCheckPairs(present, expected, key)).cache()
    val nMissing = setProblems.filter(col("kind") === "missing").count()
    val nExtra = setProblems.filter(col("kind") === "extra").count()
    println(s"[sets] input files=${frames.length} missing=$nMissing extra=$nExtra")
    // first 10 stores PER set problem (verify_fanout.py truncation) — a
    // flood of one kind must not hide the other
    val wKind = org.apache.spark.sql.expressions.Window
      .partitionBy(col("kind")).orderBy(col(key), col("src"))
    setProblems.withColumn("_r", row_number().over(wKind))
      .filter(col("_r") <= 10)
      .orderBy(col("kind"), col(key), col("src")).collect()
      .foreach(r => println(s"  ${r.getString(1)}: store=${r.getString(0)} file=${r.getString(2)}.csv"))

    // pass 2 — content invariant per source file (distributed read-back;
    // membership test on the driver-side listing, no Spark job per file).
    // STRAY files (present in store dirs but not among the inputs) are
    // content-checked too — verify_fanout.py's check_store_no_values
    // scans every CSV under each store dir, so a stray file's violating
    // rows must add to total_violations, not just surface as "extra"
    var totalViolations = 0L
    val strays = (presentSrcs -- srcNames.toSet).toSeq.sorted
    (srcNames.filter(presentSrcs) ++ strays).foreach { srcName =>
      try {
        val back = FanOut.read(spark, out, srcName, key)
        val n = VerifyOps.contentViolations(back, key).count()
        totalViolations += n
        if (n > 0) {
          println(s"[content] $srcName.csv: $n violating rows")
          VerifyOps.violationSamples(back.select(col(key), col("_dir_key")), key, 5)
            .orderBy(col("_dir_key"), col("_rnk")).collect()
            .foreach(r => println(s"  dir=${r.getString(1)} key_cell='${r.getString(0)}'"))
        }
      } catch { case scala.util.control.NonFatal(e) =>
        // a stray CSV without the key header cannot satisfy the
        // invariant (FanOut.read refuses it; the reference's df[key]
        // access would throw) — count it as one violation instead of
        // crashing the verifier mid-report
        totalViolations += 1
        val why = Option(e.getMessage)
          .flatMap(_.linesIterator.toSeq.headOption)
          .getOrElse(e.getClass.getSimpleName)
        println(s"[content] $srcName.csv: unreadable under key '$key' ($why) — counted as violation")
      }
    }
    println(s"[content] total violations=$totalViolations")

    val failed = nMissing + nExtra + totalViolations > 0
    println(if (failed) "[FAIL] discrepancies found" else "[OK] fan-out verified")
    spark.stop()
    if (failed) sys.exit(1)
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

  private val bindsFile = "區間綁定推薦人人數.csv"
  private val cumFile = "累計至今綁定推薦人人數.csv"
  private val memFile = "14-1.會員成長趨勢_新增註冊會員數卡片.csv"
  private val fpMonthFile = "門市首購人數_月份.csv"
  private val fpBranchFile = "門市首購人數_門市.csv"
  private val branchBindsFile = "各門市累計綁定人數.csv"

  def main(args: Array[String]): Unit = {
    val a = Args.parse(args, Set("config", "input-dir", "output-dir",
      "input-file", "store-col", "month-col", "target-col", "months"))
    val inDir = a.getOrElse("input-dir", "./input")
    val outDir = a.getOrElse("output-dir", "./output")
    val spark = GraftSession("graft-aggregate")
    // the six dedicated configs read from {input-dir}/aggregate; the
    // generic path reads its --input-file relative to {input-dir} root
    // unless the config says otherwise (aggregate_by_store.py:733)
    def rd(f: String): DataFrame = Args.readAllString(spark, s"$inDir/aggregate/$f")

    val (cfgKey, result, keyCol): (String, DataFrame, String) = a.get("input-file") match {
      case Some(f) =>
        val months = Args.required(a, "months").split(",").toSeq
        val storeCol = Args.required(a, "store-col")
        // keep the config's store column as the output header — the
        // reference writes it verbatim (aggregate_by_store.py:745–762)
        val r = Kpi.generic(Args.readAllString(spark, s"$inDir/$f"), storeCol,
          Args.required(a, "month-col"), Args.required(a, "target-col"), months)
        (f.stripSuffix(".csv"), r, storeCol)
      case None => Args.required(a, "config") match {
        case k @ "23-1" => (k, Kpi.config23_1(rd(bindsFile), rd(cumFile), rd(memFile)), Kpi.S)
        case k @ "23-2" => (k, Kpi.config23_2(rd(bindsFile)), Kpi.S)
        case k @ "24-1" => (k, Kpi.config24_1(rd(bindsFile), rd(cumFile), rd(memFile)), Kpi.S)
        case k @ "24-2" => (k, Kpi.config24_2(rd(fpMonthFile), rd(bindsFile)), Kpi.S)
        case k @ "25-1" => (k, Kpi.config25_1(rd(fpBranchFile), rd(branchBindsFile)), Kpi.S)
        case k @ "25-2" => (k, Kpi.config25_2(rd(fpBranchFile), rd(branchBindsFile)), Kpi.S)
        case k => throw new IllegalArgumentException(s"Config '$k' not found")
      }
    }
    // persist: the store count and the fan-out write would otherwise each
    // run the full normalization+aggregation pipeline from the scan
    result.persist()
    val nStores = result.select(keyCol).distinct().count()
    FanOut.write(result, keyCol, outDir, cfgKey, bom = true)
    result.unpersist()
    println(s"[OK] config=$cfgKey, stores=$nStores")
    spark.stop()
  }
}

/** `graft.cli.PresenceMain --store X [--input-dir ./input]` — per-dataset
  * row-presence probe for one store (verify_store_presence.py:35–63).
  */
object PresenceMain {

  /** The six-dataset registry (verify_store_presence.py:7–32). */
  private val files = Seq(
    "23-1 / 23-2 / 24-1 / 24-2（區間推薦人綁定）" -> "區間綁定推薦人人數.csv",
    "23-1 / 24-1（累計推薦人綁定）" -> "累計至今綁定推薦人人數.csv",
    "23-1 / 24-1（會員總數）" -> "14-1.會員成長趨勢_新增註冊會員數卡片.csv",
    "24-2（門市首購人數－月份）" -> "門市首購人數_月份.csv",
    "25-1 / 25-2（門市首購人數－門市）" -> "門市首購人數_門市.csv",
    "25-1 / 25-2（各門市累計綁定）" -> "各門市累計綁定人數.csv")

  def main(args: Array[String]): Unit = {
    val a = Args.parse(args, Set("store", "input-dir"))
    val store = Args.required(a, "store")
    val aggDir = s"${a.getOrElse("input-dir", "./input")}/aggregate"
    val spark = GraftSession("graft-presence")
    val datasets = files.flatMap { case (desc, f) =>
      val p = new Path(s"$aggDir/$f")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) Some(desc -> Args.readAllString(spark, p.toString))
      else { println(s"[warn] $desc: file not found ($f)"); None }
    }
    if (datasets.nonEmpty)
      VerifyOps.presence(datasets, Kpi.S, store).collect().foreach { r =>
        val mark = if (r.getBoolean(2)) "OK " else "NONE"
        println(s"[$mark] ${r.getString(0)}: rows=${r.getLong(1)}")
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
