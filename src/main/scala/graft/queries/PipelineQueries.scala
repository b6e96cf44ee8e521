package graft.queries

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.WorkDir
import graft.etl.{SchemaResolver, Tables, VerifyOps}
import graft.sources.{FanOut, HeaderScan}

/** End-to-end file-pipeline queries: the reference's fan-out sink,
  * header-scanning ingest, and post-hoc verification exercised through
  * real filesystem round-trips, with the results checked against DuckDB
  * oracles over the original tables (round-trip integrity == parity with
  * the source of truth).
  *
  * Temp layouts live under [[graft.WorkDir]] and are rebuilt (overwrite)
  * on each run, so Verify and Bench are self-contained.
  */
object PipelineQueries {

  // ---- q15: fan-out write → exact {key}/{src}.csv layout → read back --

  /** Guards the check-then-write below — q15/q17/q31 may race on first
    * materialization within one JVM.
    */
  private val fanOutLock = new Object

  /** The events fan-out layout, materialized ONCE per (dataset, process)
    * and read back by q15 (round-trip), q17 (verify summary) and q31
    * (violation samples) — the write+finalize pipeline is the most
    * expensive filesystem work in the suite and its output is identical
    * for all three consumers (same checkpoint-the-expensive-intermediate
    * shape as the shared LSH pair table).
    */
  private def fanOutEvents(s: SparkSession, d: String): DataFrame = {
    val out = WorkDir.path("fanout_events", d)
    val marker = new java.io.File(out, "_LAYOUT_DONE")
    fanOutLock.synchronized {
      if (!marker.exists()) {
        WorkDir.delete(out)
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"))
        FanOut.write(ev, "event_type", out, "events")
        marker.createNewFile()
      }
    }
    FanOut.read(s, out, "events", "event_type")
  }

  private val q15 = Q(
    "q15_fanout_roundtrip",
    (s, d) => {
      fanOutEvents(s, d)
        .groupBy(col("_dir_key").as("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
    },
    Some("""
      SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
      FROM events GROUP BY 1
    """))

  // ---- q16: header-scanning CSV ingest over messy BI exports ----------

  /** Fabricate two BI-export-style CSVs from `nation` (driver-side — the
    * dimension is 25 rows): different column orders, alias headers, meta
    * prefix rows, a BOM on one file, and one decoy file without the key
    * column (must be warn-skipped).
    */
  private def fabricateMessyCsvs(s: SparkSession, d: String): String = {
    val dir = WorkDir.path("headerscan_in", d)
    WorkDir.delete(dir)
    val rows = Tables.nation(s, d)
      .select(col("n_nationkey").cast("long"), col("n_name"),
        col("n_regionkey").cast("long"))
      .collect().sortBy(_.getLong(0))
    Files.createDirectories(Paths.get(dir))
    def write(name: String, content: String): Unit =
      Files.write(Paths.get(dir, name), content.getBytes(StandardCharsets.UTF_8))
    val (lo, hi) = rows.partition(_.getLong(0) < 13)
    write("export_a.csv",
      "Report Generated,2026-08-12\nSource,BI\n" +
        "商店序號,門市名稱,region\n" +
        lo.map(r => s"${r.getLong(0)},${r.getString(1)},${r.getLong(2)}").mkString("", "\n", "\n"))
    write("export_b.csv",
      "﻿Quarter,Q3\n" +
        "region, 商店序號 ,Store Name\n" + // shuffled order + padded header
        hi.map(r => s"${r.getLong(2)},${r.getLong(0)},${r.getString(1)}").mkString("", "\n", "\n"))
    write("decoy.csv", "a,b\n1,2\n") // no key column → warn + skip
    dir
  }

  private val q16 = Q(
    "q16_header_scan_ingest",
    (s, d) => {
      val dir = fabricateMessyCsvs(s, d)
      // alias resolution is per-file: the exports disagree on the
      // store-name header, so canonicalize before the union
      val named = HeaderScan.readDirFrames(s, dir, "商店序號")
        .map { case (_, df) =>
          SchemaResolver.ensureStoreNameCol(df)
            .select(col("商店序號"), col("門市名稱"), col("region"))
        }
        .reduce(_ unionByName _)
      named
        .groupBy(col("region").cast("long").as("n_regionkey"))
        .agg(count(lit(1)).as("n_nations"),
          countDistinct(col("門市名稱")).as("n_names"),
          sum(col("商店序號").cast("long")).as("key_sum"))
    },
    Some("""
      -- CAST: DuckDB sum(INTEGER) yields HUGEINT (pandas float64); Spark
      -- emits int64 — pin both grouping key and sum to BIGINT for the
      -- dtype-sensitive hash compare.
      SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
             count(*) AS n_nations,
             count(DISTINCT n_name) AS n_names,
             CAST(sum(n_nationkey) AS BIGINT) AS key_sum
      FROM nation GROUP BY 1
    """))

  // ---- q17: fan-out verification (file sets + content invariant) ------

  private val q17 = Q(
    "q17_verify_fanout",
    (s, d) => {
      val back = fanOutEvents(s, d)
      val present = back.select(col("_dir_key").as("event_type"), lit("events").as("src"))
      VerifyOps.summary(present, back, "event_type", Seq("events"))
    },
    Some("""
      SELECT CAST(0 AS BIGINT) AS n_missing, CAST(0 AS BIGINT) AS n_extra,
             CAST(0 AS BIGINT) AS n_violations,
             count(DISTINCT event_type) AS n_keys
      FROM events
    """))

  // ---- q31: bounded violation samples (verify_fanout.py:96–97) --------

  private val q31 = Q(
    "q31_violation_samples",
    (s, d) => {
      val back = fanOutEvents(s, d)
        .select(col("event_id"), col("event_type"), col("_dir_key"))
      // overlay synthetic violations (~1/97 of rows get a corrupted key
      // cell) so the bounded sampler has something to bound; the clean
      // round-trip rows must all survive as non-violations
      val corrupted = back.unionAll(
        back.filter(pmod(col("event_id").cast("long"), lit(97)) === 0)
          .withColumn("event_type",
            concat(lit("bad_"), pmod(col("event_id").cast("long"), lit(1000)))))
      VerifyOps.violationSamples(
        corrupted.select(col("event_type"), col("_dir_key")), "event_type", 5)
        .select(col("_dir_key").as("dir_key"), col("event_type").as("bad_key"),
          col("_rnk").as("rnk"), col("_n_file_violations").as("n_file_violations"))
    },
    Some("""
      WITH v AS (
        SELECT event_type AS dir_key,
               'bad_' || CAST(event_id % 1000 AS VARCHAR) AS bad_key
        FROM events WHERE event_id % 97 = 0),
      r AS (
        SELECT dir_key, bad_key,
               CAST(row_number() OVER (PARTITION BY dir_key ORDER BY bad_key) AS INTEGER) AS rnk,
               count(*) OVER (PARTITION BY dir_key) AS n_file_violations
        FROM v)
      SELECT dir_key, bad_key, rnk, n_file_violations FROM r WHERE rnk <= 5
    """))

  // ---- q43: hive-partitioned parquet write → partition-pruned read ----
  //
  // The lake-layout primitive the 100 TB story rests on: write the fact
  // partitioned by a low-cardinality column (`partitionBy` — one
  // directory per value, dynamic, no driver loop), then read it back
  // with a partition predicate. Catalyst turns the predicate into a
  // PartitionFilter — the scan LISTS only the matching directory and
  // never opens the other partitions' files (PlanAuditSpec asserts the
  // pruned plan). Oracle = the same filter over the original table
  // (layout round-trip ≡ source of truth).

  /** Guards q43's first materialization (same pattern as the fan-out). */
  private val partLock = new Object

  private def partitionedOrders(s: SparkSession, d: String): String = {
    val out = WorkDir.path("orders_bypriority", d)
    val marker = new java.io.File(out, "_LAYOUT_DONE")
    partLock.synchronized {
      if (!marker.exists()) {
        WorkDir.delete(out)
        Tables.orders(s, d)
          // one shuffle keyed by the partition column before the dynamic
          // write: each hive dir gets ONE file (the small-files rule —
          // without it every input split writes a sliver into every dir)
          .repartition(col("o_orderpriority"))
          .write.partitionBy("o_orderpriority").mode("overwrite").parquet(out)
        marker.createNewFile()
      }
    }
    out
  }

  private val q43 = Q(
    "q43_partition_prune",
    (s, d) => {
      val layout = partitionedOrders(s, d)
      s.read.parquet(layout)
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          // exact integer cents → order-independent sum, one division
          sum(round(col("o_totalprice") * 100).cast("long")).as("total_c"))
        .select(col("o_orderstatus"), col("n"),
          (col("total_c").cast("double") / 100.0).as("total"))
    },
    Some("""
      SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS total
      FROM orders
      WHERE o_orderpriority = '1-URGENT'
      GROUP BY 1
    """))

  // ---- q47: schema evolution across lake snapshots --------------------
  //
  // The ingest reality every long-lived corpus hits: early snapshots
  // were written WITHOUT a column that later snapshots carry (here:
  // `lang` added in v2). The lake read must unify both vintages —
  // `mergeSchema` reconciles the parquet footers into one schema, the
  // snapshot directory name becomes a partition column via partition
  // discovery, and v1 rows surface the missing column as NULL (no
  // rewrite of old data). Oracle = the same per-snapshot semantics
  // computed from the source table (deterministic doc_id % 2 split).
  //
  // Scale note: mergeSchema footer reconciliation reads one footer per
  // FILE — fine per-snapshot-directory; for 10k+-file lakes pin the
  // merged schema in a table catalog instead and pass it explicitly
  // (the read path below is unchanged).

  private val evoLock = new Object

  private def evolvedDocs(s: SparkSession, d: String): String = {
    val out = WorkDir.path("docs_evolved", d)
    val marker = new java.io.File(out, "_LAYOUT_DONE")
    evoLock.synchronized {
      if (!marker.exists()) {
        WorkDir.delete(out)
        val docs = Tables.documents(s, d)
        // v1 vintage: no lang column yet
        docs.filter(pmod(col("doc_id"), lit(2)) === 0)
          .select(col("doc_id"), col("n_chars"))
          .write.mode("overwrite").parquet(s"$out/snap=v1")
        // v2 vintage: lang added
        docs.filter(pmod(col("doc_id"), lit(2)) === 1)
          .select(col("doc_id"), col("n_chars"), col("lang"))
          .write.mode("overwrite").parquet(s"$out/snap=v2")
        marker.createNewFile()
      }
    }
    out
  }

  private val q47 = Q(
    "q47_schema_evolution",
    (s, d) => {
      val unified = s.read.option("mergeSchema", "true")
        .parquet(evolvedDocs(s, d))
      unified
        .groupBy(col("snap"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("chars"))
    },
    Some("""
      SELECT 'v1' AS snap, CAST(NULL AS VARCHAR) AS lang,
             count(*) AS n_docs,
             CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS chars
      FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT 'v2', lang, count(*), CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT)
      FROM documents WHERE doc_id % 2 = 1
      GROUP BY lang
    """))

  // ---- q49: small-file compaction planner -----------------------------
  //
  // The lake-maintenance twin of q43: a long-lived partitioned lake
  // accumulates one small file per ingest per partition, and read
  // amplification grows until a compaction job rewrites leaves into
  // target-sized outputs. The layout here is two-level — priority ×
  // ingest bucket (pmod(o_orderkey, 8) plays the per-ingest file),
  // written once and rediscovered via hive partition discovery — and
  // the PLANNER is metadata-sized work: rows per leaf (one agg), then
  // next-fit span packing by cumulative size inside each top-level
  // partition (the t17 seq_id shape: bin = cum_before div target).
  // The bucket column is DATA-derived, so the oracle reproduces leaf
  // stats from the base table and file-system state never leaks into
  // the contract.
  //
  // At 100 TB swap the row-count proxy for `_metadata.file_size` over
  // the real listing — same plan (one agg over the listing + one
  // window); the output table is exactly what the rewrite job executes
  // bin by bin.

  private val compactTarget = 1000L

  private def bucketedOrders(s: SparkSession, d: String): String = {
    val out = WorkDir.path("orders_buckets", d)
    val marker = new java.io.File(out, "_LAYOUT_DONE")
    partLock.synchronized {
      if (!marker.exists()) {
        WorkDir.delete(out)
        Tables.orders(s, d)
          .withColumn("ingest", pmod(col("o_orderkey"), lit(8)))
          // same small-files rule as q43's layout: shuffle once on the
          // partition key pair so each of the 40 dirs is one file
          .repartition(col("o_orderpriority"), col("ingest"))
          .write.partitionBy("o_orderpriority", "ingest")
          .mode("overwrite").parquet(out)
        marker.createNewFile()
      }
    }
    out
  }

  private val q49 = Q(
    "q49_compaction_plan",
    (s, d) => {
      val layout = bucketedOrders(s, d)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority")).orderBy(col("ingest"))
      s.read.parquet(layout)
        .groupBy(col("o_orderpriority"), col("ingest"))
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("cum_before", sum(col("n_rows")).over(w) - col("n_rows"))
        .select(col("o_orderpriority"), col("ingest").cast("long").as("ingest"),
          col("n_rows"), expr(s"cum_before div $compactTarget").as("bin"))
    },
    Some(s"""
      WITH leaves AS (
        SELECT o_orderpriority, o_orderkey % 8 AS ingest, count(*) AS n_rows
        FROM orders GROUP BY 1, 2),
      c AS (
        SELECT o_orderpriority, ingest, n_rows,
               sum(n_rows) OVER (PARTITION BY o_orderpriority
                                 ORDER BY ingest) - n_rows AS cum_before
        FROM leaves)
      SELECT o_orderpriority, CAST(ingest AS BIGINT) AS ingest,
             CAST(n_rows AS BIGINT) AS n_rows,
             CAST(cum_before // $compactTarget AS BIGINT) AS bin
      FROM c
    """))

  // ---- q50: bucketed co-located fact join (shuffle-free at read) ------
  //
  // Bucketing moves the join shuffle to WRITE time: both fact tables are
  // written `bucketBy(nBuckets, orderkey)` + `sortBy`, so every later
  // join on that key reads bucket-aligned, pre-sorted splits and the
  // sort-merge join runs with NO exchange and NO per-query sort — the
  // scale play for a join that production runs daily against 100 TB
  // facts (pay one shuffle at ingest, amortize it over every downstream
  // query). BucketingSpec asserts the exchange-free plan; this entry
  // proves the RESULT is right against the un-bucketed oracle join.
  //
  // `hint("merge")` pins the sort-merge strategy so the bucketed layout
  // is actually exercised (an auto-broadcast of the orders side would
  // compute the same rows while silently skipping the layout under
  // test). Money is summed in exact integer cents (q01's fixed-point
  // rule) so the hash compare is engine-exact.

  private val bktJoinLock = new Object
  private val nJoinBuckets = 8

  /** Write orders+lineitem as bucketed tables ONCE per (dataset,
    * process); table names carry the dataset digest so different sf dirs
    * never collide in the session catalog.
    */
  private def bucketedFactTables(s: SparkSession, d: String): (String, String) = {
    val tag = WorkDir.digest(d)
    val (tOrders, tLine) = (s"graft_bkt_orders_$tag", s"graft_bkt_lineitem_$tag")
    bktJoinLock.synchronized {
      if (!s.catalog.tableExists(tOrders)) {
        val pOrders = WorkDir.path("bkt_orders", d)
        val pLine = WorkDir.path("bkt_lineitem", d)
        WorkDir.delete(pOrders); WorkDir.delete(pLine)
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority"))
          .write.format("parquet")
          .bucketBy(nJoinBuckets, "o_orderkey").sortBy("o_orderkey")
          .option("path", pOrders).saveAsTable(tOrders)
        Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            round(col("l_extendedprice") * 100).cast("long").as("price_cents"))
          .write.format("parquet")
          .bucketBy(nJoinBuckets, "l_orderkey").sortBy("l_orderkey")
          .option("path", pLine).saveAsTable(tLine)
      }
    }
    (tOrders, tLine)
  }

  private val q50 = Q(
    "q50_bucketed_join",
    (s, d) => {
      val (tOrders, tLine) = bucketedFactTables(s, d)
      s.table(tOrders).hint("merge")
        .join(s.table(tLine), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("price_cents")).as("revenue_cents"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n_items,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1
    """))

  // ---- q51: Z-order layout zone-map skipping audit --------------------
  //
  // Linear sort layouts skip files on ONE column; a Z-order (Morton)
  // layout interleaves the bits of two columns so files cluster in BOTH
  // dimensions at once — the standard lake-layout answer to "my probes
  // filter on (partkey, suppkey) but I can only sort by one of them".
  // Production shape: compute z, `repartitionByRange(z)` +
  // `sortWithinPartitions(z)` at write time; file zone maps (per-file
  // min/max) then prune multi-dimensional probe boxes. This audit
  // computes exactly those zone maps over deterministic equal-width
  // z-cells and reports which cells a probe box would scan — the
  // pruned/scanned ratio IS the layout's value, measured, not assumed.
  //
  // All math is integer (bit spread = 4 shift-mask steps, the classic
  // Morton dilation), so the audit is engine-exact. The cell width
  // derives from max(z) (one tiny agg joined back as a broadcast
  // scalar), keeping the cell count ~[[nZCells]] at every scale factor.

  private val nZCells = 64

  /** Dilate the low 16 bits of `v` to even bit positions (Morton spread)
    * in the given SQL dialect; `shl` renders a left shift.
    */
  private def mortonSpread(v: String, shl: (String, Int) => String): String = {
    val a = s"((($v) | ${shl(s"($v)", 8)}) & 16711935)"
    val b = s"((($a) | ${shl(a, 4)}) & 252645135)"
    val c = s"((($b) | ${shl(b, 2)}) & 858993459)"
    s"((($c) | ${shl(c, 1)}) & 1431655765)"
  }

  private def zExpr(x: String, y: String, shl: (String, Int) => String): String =
    s"(${mortonSpread(x, shl)} | ${shl(mortonSpread(y, shl), 1)})"

  private val shlSpark = (e: String, n: Int) => s"shiftleft($e, $n)"
  private val shlDuck = (e: String, n: Int) => s"($e << $n)"

  private val q51 = Q(
    "q51_zorder_skipping",
    (s, d) => {
      val base = Tables.lineitem(s, d).select(
        (col("l_partkey").cast("long") % 65536).as("x"),
        (col("l_suppkey").cast("long") % 65536).as("y"))
      val z = base.withColumn("z", expr(zExpr("x", "y", shlSpark)))
      val stats = z.agg(max(col("z")).as("zmax"),
        max(col("x")).as("xmax"), max(col("y")).as("ymax"))
      val cells = z.crossJoin(broadcast(stats))
        .withColumn("fid", expr(s"z div (zmax div $nZCells + 1)"))
        .groupBy(col("fid"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("x")).as("x_min"), max(col("x")).as("x_max"),
          min(col("y")).as("y_min"), max(col("y")).as("y_max"),
          max(col("xmax")).as("_xm"), max(col("ymax")).as("_ym"))
      // probe box = the lower quarter of each dimension's range: a cell
      // is scanned iff its zone map overlaps the box (boxes start at 0,
      // so only the min side matters)
      cells.select(col("fid"), col("n_rows"),
        col("x_min"), col("x_max"), col("y_min"), col("y_max"),
        (col("x_min") <= expr("_xm div 4") &&
          col("y_min") <= expr("_ym div 4")).cast("int").as("scanned"))
    },
    Some(s"""
      WITH base AS (
        SELECT CAST(l_partkey AS BIGINT) % 65536 AS x,
               CAST(l_suppkey AS BIGINT) % 65536 AS y
        FROM lineitem),
      zt AS (SELECT x, y, ${zExpr("x", "y", shlDuck)} AS z FROM base),
      st AS (SELECT max(z) AS zmax, max(x) AS xmax, max(y) AS ymax FROM zt),
      cells AS (
        SELECT z // (zmax // $nZCells + 1) AS fid,
               count(*) AS n_rows,
               min(x) AS x_min, max(x) AS x_max,
               min(y) AS y_min, max(y) AS y_max,
               max(xmax) AS xm, max(ymax) AS ym
        FROM zt, st GROUP BY 1)
      SELECT fid, n_rows, x_min, x_max, y_min, y_max,
             CAST(x_min <= xm // 4 AND y_min <= ym // 4 AS INTEGER) AS scanned
      FROM cells
    """))

  // ---- q52: JSONL interchange round-trip ------------------------------
  //
  // JSON-lines is the de-facto interchange format of training-data
  // pipelines (every public corpus ships as .jsonl.zst); this entry
  // proves the library's JSONL sink+source preserve content exactly:
  // events → write JSONL → read back → aggregate, hash-checked against
  // the same aggregate over the ORIGINAL parquet (the q15 round-trip
  // oracle trick — no JSON support needed oracle-side).
  //
  // Scale rules encoded here: the read passes an EXPLICIT schema
  // (schema inference is a full extra pass over 100 TB — never pay it
  // in production); timestamps travel as integer epoch-micros, not
  // formatted strings (exact, timezone-free); the nested `props` JSON
  // string survives as an opaque field and is parsed AFTER the
  // round-trip with get_json_object. JSONL files split by line, so
  // scans parallelize like CSV; writes shard per partition.

  private val jsonlLock = new Object

  private def jsonlEvents(s: SparkSession, d: String): DataFrame = {
    val out = WorkDir.path("jsonl_events", d)
    val marker = new java.io.File(out, "_LAYOUT_DONE")
    jsonlLock.synchronized {
      if (!marker.exists()) {
        WorkDir.delete(out)
        Tables.events(s, d)
          .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
            col("user_id"), col("event_type"), col("value"), col("props"))
          .write.mode("overwrite").json(out)
        marker.createNewFile()
      }
    }
    s.read.schema("event_id BIGINT, ts_us BIGINT, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING")
      .json(out)
  }

  private val q52 = Q(
    "q52_jsonl_roundtrip",
    (s, d) => jsonlEvents(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"),
        sum(get_json_object(col("props"), "$.k").try_cast("long")).as("k_sum"),
        min(col("ts_us")).as("first_us"), max(col("ts_us")).as("last_us")),
    Some("""
      SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents,
             CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
                  AS BIGINT) AS k_sum,
             min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
      FROM events GROUP BY 1
    """))

  // ---- q69: sort-merge-bucket join over co-bucketed tables -----------
  //
  // THE repeated-big-join strategy at 100 TB: two fact tables joined on
  // the same key query after query should be persisted BUCKETED (and
  // sorted) by that key with the same bucket count. The planner then
  // proves co-location from the catalog metadata and executes a
  // SortMergeJoin with ZERO Exchange on either side — the shuffle a
  // plain join pays (the whole table over the network, the dominant
  // cost at scale) is paid ONCE at layout time and amortized over every
  // downstream join. Size the bucket count so one bucket fits an
  // executor core's working memory (100 TB / 8192 buckets ≈ 12 GB);
  // the local test uses 8. PlanAuditSpec asserts the joined frame plans
  // a SortMergeJoin with no shuffle.
  //
  // `bucketBy` metadata lives in the session catalog, so the tables are
  // registered once per (dataset, process) as EXTERNAL parquet tables
  // (data under graft.WorkDir, deleted at JVM exit). The oracle is the same join over the raw tables — layout
  // round-trip ≡ source of truth, the q43 rule.

  private val bucketLock = new Object

  /** Registers (once per dataset+process) co-bucketed orders/customer
    * tables and returns their catalog names.
    */
  private def bucketedPair(s: SparkSession, d: String): (String, String) = {
    val digest = WorkDir.digest(d)
    val ot = s"graft_b_orders_$digest"
    val ct = s"graft_b_customer_$digest"
    bucketLock.synchronized {
      if (!s.catalog.tableExists(ot)) {
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
          .option("path", WorkDir.path("bucket_orders", d))
          .mode("overwrite").format("parquet").saveAsTable(ot)
      }
      if (!s.catalog.tableExists(ct)) {
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"))
          .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
          .option("path", WorkDir.path("bucket_customer", d))
          .mode("overwrite").format("parquet").saveAsTable(ct)
      }
    }
    (ot, ct)
  }

  /** The co-located join itself (pre-aggregation), exposed so
    * PlanAuditSpec can assert the exchange-free SortMergeJoin. The MERGE
    * hint only rules out a broadcast at this sf (customer is tiny here);
    * at scale both sides are big and SMB is what the planner picks
    * unhinted.
    */
  def bucketedJoinForAudit(s: SparkSession, d: String): DataFrame = {
    val (ot, ct) = bucketedPair(s, d)
    s.table(ot).join(s.table(ct).hint("MERGE"),
      col("o_custkey") === col("c_custkey"))
  }

  private val q69 = Q(
    "q69_bucketed_join",
    (s, d) => bucketedJoinForAudit(s, d)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        // exact integer cents (fixed-point money rule)
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_c"))
      .select(col("c_mktsegment"), col("n_orders"), col("n_customers"),
        (col("total_c").cast("double") / 100.0).as("total")),
    Some("""
      SELECT c_mktsegment, count(*) AS n_orders,
             count(DISTINCT o_custkey) AS n_customers,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               / 100.0 AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1
    """))

  // ---- q71: referential-integrity (orphan FK) audit --------------------
  //
  // The ingest data-quality gate: for every declared child→parent
  // relationship, how many child rows (and distinct keys) reference a
  // parent that does not exist. The scale shape: the child is FIRST
  // collapsed to per-key counts (map-side combinable — the shuffle
  // carries distinct keys, never child rows), then one anti-join per
  // relationship against the parent's key set; orphan ROW counts come
  // back by summing the collapsed per-key counts. Null FKs count as
  // orphans in both engines (null never matches a parent key). The six
  // relationship audits are independent frames unioned — at scale each
  // is its own narrow shuffle, nothing cross-multiplies.

  private val fkRels = Seq(
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("events", "user_id", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"))

  private def tableByName(s: SparkSession, d: String, name: String): DataFrame =
    name match {
      case "lineitem" => Tables.lineitem(s, d)
      case "orders"   => Tables.orders(s, d)
      case "part"     => Tables.part(s, d)
      case "supplier" => Tables.supplier(s, d)
      case "customer" => Tables.customer(s, d)
      case "events"   => Tables.events(s, d)
      case "nation"   => Tables.nation(s, d)
    }

  private val q71 = Q(
    "q71_fk_integrity",
    (s, d) => {
      // ONE scan per child table: every declared FK column explodes to a
      // (relationship, key) row, so lineitem's three relationships share
      // a single scan (the old shape scanned it six times — once per
      // relationship per consumer branch). The map-side-combined
      // (rel, k) groupBy carries distinct keys only; parent key sets
      // union with the same rel tag and a single LEFT join marks
      // orphans, so totals and orphan counts come out of one
      // aggregation instead of two recomputed branches.
      // The relationship tag rides the ONLY corpus-sized shuffle (the
      // child explode → (rel, k) partial agg, ~3 rows per lineitem row)
      // as a 4-byte INT ordinal instead of the ~25-byte display string
      // (guide §2.3 "narrower types / shuffle keys, not payloads"):
      // grouping hashes an int instead of a UTF8String and the shuffle
      // rows shrink ~3×. The string surfaces only in the final ≤6-row
      // projection, where it is reconstructed from the same fkRels
      // order both sides tag from.
      val relName = fkRels.map { case (child, fk, parent, _) =>
        s"$child.$fk->$parent" }
      val relOrd = relName.zipWithIndex.toMap
      val keyed = fkRels.groupBy(_._1).toSeq.map { case (child, rels) =>
        // narrow to the FK columns, then spread: the single-row-group
        // testdata scan is one partition, and without the redistribution
        // the explode + partial agg of the biggest child runs on one core
        Tables.spread(tableByName(s, d, child)
          .select(rels.map { case (_, fk, _, _) => col(fk) }.distinct: _*))
          .select(
            explode(array(rels.map { case (_, fk, parent, _) =>
              struct(lit(relOrd(s"$child.$fk->$parent")).as("rel"),
                col(fk).cast("long").as("k")) }: _*)).as("x"))
          .select(col("x.rel").as("rel"), col("x.k").as("k"))
      }.reduce(_ unionAll _)
      val perKey = keyed.groupBy(col("rel"), col("k"))
        .agg(count(lit(1)).as("cnt"))
      val parents = fkRels.map { case (child, fk, parent, pk) =>
        tableByName(s, d, parent)
          .select(col(pk).cast("long").as("k")).distinct()
          .select(lit(relOrd(s"$child.$fk->$parent")).as("rel"), col("k"),
            lit(1).as("present"))
      }.reduce(_ unionAll _)
      // NULL-key semantics pinned to the oracle's: a NULL fk row counts
      // in n_child and (never matching any parent) in n_orphan_rows, but
      // COUNT(DISTINCT fk) semantics exclude NULL from n_keys and
      // n_orphan_keys — without the k.isNotNull guards the NULL group
      // would inflate both key counts and hash-diverge on any dataset
      // with nullable FKs. (The cast('long') assumes integral key types,
      // true of every declared relationship here; a non-integral key
      // column would need the native type carried through instead.)
      perKey.join(parents, Seq("rel", "k"), "left")
        .groupBy(col("rel"))
        .agg(sum(col("cnt")).as("n_child"),
          sum(when(col("k").isNotNull, 1L).otherwise(0L)).as("n_keys"),
          coalesce(sum(when(col("present").isNull, col("cnt"))), lit(0L))
            .as("n_orphan_rows"),
          sum(when(col("present").isNull && col("k").isNotNull, 1L)
            .otherwise(0L)).as("n_orphan_keys"))
        // reconstruct the display string from the ordinal in the ≤6-row
        // report projection (element_at is 1-based)
        .select(element_at(
            array(relName.map(lit): _*), col("rel") + 1).as("relationship"),
          col("n_child"), col("n_keys"),
          col("n_orphan_rows"), col("n_orphan_keys"))
    },
    Some(fkRels.map { case (child, fk, parent, pk) =>
      s"""SELECT '$child.$fk->$parent' AS relationship,
             CAST(count(*) AS BIGINT) AS n_child,
             count(DISTINCT c.$fk) AS n_keys,
             CAST(coalesce(sum(CASE WHEN p.$pk IS NULL THEN 1 END), 0)
                  AS BIGINT) AS n_orphan_rows,
             count(DISTINCT CASE WHEN p.$pk IS NULL THEN c.$fk END)
               AS n_orphan_keys
      FROM $child c
      LEFT JOIN (SELECT DISTINCT $pk FROM $parent) p ON c.$fk = p.$pk"""
    }.mkString("\n      UNION ALL\n      ")))

  // ---- q72: GDPR cascade-delete (right-to-be-forgotten) audit ----------
  //
  // Before executing an erasure batch, compliance wants the blast
  // radius: per table, how many rows the cascade purges and how many
  // remain. The deletion set (customers with c_custkey ≡ 0 mod 97 — a
  // deterministic stand-in for the request queue) is TINY next to the
  // data, so every purge test is a broadcast semi/anti-join probed
  // map-side: customers directly, orders via o_custkey, events via
  // user_id, and lineitem via the SECOND hop (the purged orders' keys)
  // — the cascade's fan-out step. At scale the second-hop key set grows
  // with the request batch (requests × orders-per-customer); if it
  // outgrows broadcast, that one join falls back to a shuffled semi-join
  // on l_orderkey — the plan shape the comment exists to flag.

  private val q72 = Q(
    "q72_gdpr_purge_audit",
    (s, d) => {
      val delUsers = Tables.customer(s, d)
        .filter(col("c_custkey") % 97 === 0)
        .select(col("c_custkey").as("k"))
      val purgedOrders = Tables.orders(s, d)
        .join(broadcast(delUsers), col("o_custkey") === col("k"), "left_semi")
      def audit(name: String, tbl: DataFrame, purged: DataFrame): DataFrame =
        tbl.agg(count(lit(1)).as("n_total"))
          .crossJoin(purged.agg(count(lit(1)).as("n_purged")))
          .select(lit(name).as("table_name"), col("n_purged"),
            (col("n_total") - col("n_purged")).as("n_remaining"))
      audit("customer", Tables.customer(s, d),
          Tables.customer(s, d).join(broadcast(delUsers),
            col("c_custkey") === col("k"), "left_semi"))
        .unionAll(audit("orders", Tables.orders(s, d), purgedOrders))
        .unionAll(audit("lineitem", Tables.lineitem(s, d),
          Tables.lineitem(s, d).join(
            broadcast(purgedOrders.select(col("o_orderkey"))),
            col("l_orderkey") === col("o_orderkey"), "left_semi")))
        .unionAll(audit("events", Tables.events(s, d),
          Tables.events(s, d).join(broadcast(delUsers),
            col("user_id") === col("k"), "left_semi")))
    },
    Some("""
      WITH del AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0),
      po AS (SELECT o_orderkey FROM orders
             WHERE o_custkey IN (SELECT k FROM del))
      SELECT 'customer' AS table_name,
             CAST((SELECT count(*) FROM customer
                   WHERE c_custkey IN (SELECT k FROM del)) AS BIGINT) AS n_purged,
             CAST((SELECT count(*) FROM customer
                   WHERE c_custkey NOT IN (SELECT k FROM del)) AS BIGINT) AS n_remaining
      UNION ALL
      SELECT 'orders',
             CAST((SELECT count(*) FROM po) AS BIGINT),
             CAST((SELECT count(*) FROM orders) -
                  (SELECT count(*) FROM po) AS BIGINT)
      UNION ALL
      SELECT 'lineitem',
             CAST((SELECT count(*) FROM lineitem
                   WHERE l_orderkey IN (SELECT o_orderkey FROM po)) AS BIGINT),
             CAST((SELECT count(*) FROM lineitem
                   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM po)) AS BIGINT)
      UNION ALL
      SELECT 'events',
             CAST((SELECT count(*) FROM events
                   WHERE user_id IN (SELECT k FROM del)) AS BIGINT),
             CAST((SELECT count(*) FROM events
                   WHERE user_id NOT IN (SELECT k FROM del)) AS BIGINT)
    """))

  // ---- q77: ORC interchange round-trip ---------------------------------
  //
  // The second columnar interchange connector beside parquet (q43/q49/
  // q50/q69 layouts) and JSONL (q52): write the fact projection as ORC
  // once per (dataset, process), read it back through Spark's native
  // vectorized ORC reader with a pushed predicate, and prove the round
  // trip lossless against the DuckDB oracle over the ORIGINAL parquet —
  // the q43 rule (layout round-trip ≡ source of truth). Timestamps
  // compare as unix micros (integer-exact in both engines); money in
  // exact integer cents. At 100 TB the connector story is the point:
  // a lake migration (parquet → ORC or back) must be provably lossless,
  // and the predicate must reach the new format's reader (ORC carries
  // min/max stripe stats exactly like parquet row groups).

  private val orcLock = new Object

  private def orcLineitem(s: SparkSession, d: String): String = {
    val out = WorkDir.path("lineitem_orc", d)
    val marker = new java.io.File(out, "_LAYOUT_DONE")
    orcLock.synchronized {
      if (!marker.exists()) {
        WorkDir.delete(out)
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
            col("l_extendedprice"), col("l_shipdate"))
          .write.mode("overwrite").orc(out)
        marker.createNewFile()
      }
    }
    out
  }

  private val q77 = Q(
    "q77_orc_roundtrip",
    (s, d) => s.read.orc(orcLineitem(s, d))
      .filter(col("l_quantity") >= 25.0)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"),
        // NTZ→LTZ cast is numerically exact under the pinned UTC session
        // (the Tables.events rule)
        min(unix_micros(col("l_shipdate").cast("timestamp"))).as("first_ship_us"),
        max(unix_micros(col("l_shipdate").cast("timestamp"))).as("last_ship_us")),
    Some("""
      SELECT l_returnflag, count(*) AS n,
             count(DISTINCT l_orderkey) AS n_orders,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS price_cents,
             min(epoch_us(l_shipdate)) AS first_ship_us,
             max(epoch_us(l_shipdate)) AS last_ship_us
      FROM lineitem WHERE l_quantity >= 25.0 GROUP BY 1
    """))

  // ---- q79: MERGE-style upsert (the lake write primitive) -------------
  //
  // The Delta/Iceberg MERGE INTO contract as a plain-Spark operator:
  // base table ⟷ changelog batch full-outer-joined on the key, each row
  // classified insert / update / delete / unchanged, and the audit a
  // lake writer emits before committing (per-action row counts + money
  // checksums over the would-be-written table). The changelog here is
  // fabricated deterministically from the base (keys ≡0 mod 7 update
  // with a price bump, ≡0 mod 13 delete, a shifted-key slice inserts) —
  // same derivation in the oracle, so the audit is hash-exact.
  //
  // Scale: ONE key-shuffle of each side (the full outer join), batch
  // side usually ≪ base so AQE plans it broadcast and the base never
  // shuffles; the audit agg is map-side combined to 4 rows. A real lake
  // MERGE adds file-level pruning (join the batch against file min/max
  // before reading — q51's zone-map discipline) so only touched files
  // rewrite; the row-level classification is exactly this join.

  private val q79 = Q(
    "q79_merge_upsert",
    (s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100).cast("long").as("base_c"))
      val batch = Tables.orders(s, d)
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("c"))
        .select(col("o_orderkey"), col("c"),
          when(col("o_orderkey") % 13 === 0, lit("D"))
            .when(col("o_orderkey") % 7 === 0, lit("U"))
            .otherwise(lit(null)).as("op"))
      val changes = batch.filter(col("op").isNotNull)
        .select(col("o_orderkey").as("k"),
          when(col("op") === "U", col("c") + 500L).as("new_c"), col("op"))
        .unionAll(batch.filter(col("o_orderkey") % 11 === 0)
          .select((col("o_orderkey") + 1000000000L).as("k"),
            (col("c") + 1000L).as("new_c"), lit("I").as("op")))
      base.join(changes, Seq("k"), "full")
        .select(col("k"),
          when(col("op").isNull, lit("unchanged"))
            .when(col("op") === "D", lit("deleted"))
            .when(col("base_c").isNull, lit("inserted"))
            .otherwise(lit("updated")).as("action"),
          // the row the merged table would carry (null for deletes)
          when(col("op").isNull, col("base_c"))
            .when(col("op") === "D", lit(null))
            .otherwise(col("new_c")).as("out_c"))
        .groupBy(col("action"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("out_c")), lit(0L)).as("out_cents"))
    },
    Some("""
      WITH base AS (
        SELECT o_orderkey AS k,
               CAST(round(o_totalprice * 100) AS BIGINT) AS base_c
        FROM orders),
      batch AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS c,
               CASE WHEN o_orderkey % 13 = 0 THEN 'D'
                    WHEN o_orderkey % 7 = 0 THEN 'U' END AS op
        FROM orders),
      changes AS (
        SELECT o_orderkey AS k,
               CASE WHEN op = 'U' THEN c + 500 END AS new_c, op
        FROM batch WHERE op IS NOT NULL
        UNION ALL
        SELECT o_orderkey + 1000000000, c + 1000, 'I'
        FROM batch WHERE o_orderkey % 11 = 0),
      merged AS (
        SELECT CASE WHEN op IS NULL THEN 'unchanged'
                    WHEN op = 'D' THEN 'deleted'
                    WHEN base_c IS NULL THEN 'inserted'
                    ELSE 'updated' END AS action,
               CASE WHEN op IS NULL THEN base_c
                    WHEN op = 'D' THEN NULL
                    ELSE new_c END AS out_c
        FROM base FULL OUTER JOIN changes USING (k))
      SELECT action, count(*) AS n,
             CAST(coalesce(sum(out_c), 0) AS BIGINT) AS out_cents
      FROM merged GROUP BY 1
    """))

  // ---- q81: recursive lake-tree ingest + glob partition selection -----
  //
  // Round-13 listing completeness under the oracle: a date-partitioned
  // ingest tree (`2025/07/…`, `2025/08/…`, a deeper `2025/08/deep/…`),
  // hidden staging dirs and an underscore-prefixed partial file (below
  // the scan roots) carrying VALID-looking poison rows that must never
  // ingest, a keyless decoy inside a subdirectory (warn-skip must work
  // at depth), and a glob that selects one partition subtree. A listing that misses a depth,
  // descends into hidden state, or mis-scopes the glob shifts the
  // counts/sums and fails the hash. Scale shape: the listing is
  // metadata-only (wide glob fan-outs walk in executors —
  // HeaderScan.listCsvFiles), the head-scan runs distributed, and the
  // data read is the grouped multi-path scan, so the plan grows with
  // distinct schemas, not files.

  /** Date-partitioned nation tree with hidden poison and a decoy. */
  private def fabricateNestedTree(s: SparkSession, d: String): String = {
    val dir = WorkDir.path("nested_in", d)
    WorkDir.delete(dir)
    val rows = Tables.nation(s, d)
      .select(col("n_nationkey").cast("long"), col("n_name"),
        col("n_regionkey").cast("long"))
      .collect().sortBy(_.getLong(0))
    def put(rel: String, content: String): Unit = {
      val p = Paths.get(dir, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, content.getBytes(StandardCharsets.UTF_8))
    }
    val hdr = "商店序號,n_name,region\n"
    def body(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => s"${r.getLong(0)},${r.getString(1)},${r.getLong(2)}")
        .mkString("", "\n", "\n")
    val (jul, aug) = rows.partition(_.getLong(0) < 8)
    val (augA, augB) = aug.partition(_.getLong(0) < 17)
    put("2025/07/july.csv", "Ingested At,2026-08\n" + hdr + body(jul))
    put("2025/08/aug_a.csv", hdr + body(augA))
    put("2025/08/deep/aug_b.csv", hdr + body(augB))
    put("2025/08/nokey.csv", "a,b\n1,2\n") // keyless decoy at depth
    put(".staging/sneak.csv", hdr + "9999,POISON,9\n")
    put("_tmp/sneak.csv", hdr + "9999,POISON,9\n")
    // BELOW every scan root (direct root children keep the reference's
    // scandir suffix-only contract, so the poison sits one level down)
    put("2025/08/deep/_partial.csv", hdr + "9999,POISON,9\n")
    dir
  }

  private val q81 = Q(
    "q81_nested_ingest",
    (s, d) => {
      val root = fabricateNestedTree(s, d)
      def agg(mode: String, df: DataFrame) = df
        .groupBy(lit(mode).as("mode"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("商店序號").cast("long")).as("key_sum"),
          countDistinct(col("n_name")).as("n_names"))
      agg("all", HeaderScan.readDir(s, root, "商店序號"))
        .unionAll(agg("aug",
          HeaderScan.readDir(s, s"$root/2025/0[8]", "商店序號")))
    },
    Some("""
      SELECT 'all' AS mode, count(*) AS n_rows,
             CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
             count(DISTINCT n_name) AS n_names
      FROM nation
      UNION ALL
      SELECT 'aug', count(*), CAST(sum(n_nationkey) AS BIGINT),
             count(DISTINCT n_name)
      FROM nation WHERE n_nationkey >= 8
    """))

  def all: Seq[Q] =
    Seq(q15, q16, q17, q31, q43, q47, q49, q50, q51, q52, q69, q71, q72,
      q77, q79, q81)

  /** q51's Morton z-value in Spark SQL, exposed for ZorderSpec's
    * known-value checks.
    */
  def mortonZSqlForAudit(x: String, y: String): String = zExpr(x, y, shlSpark)

  /** The partitioned layout + pruned scan, exposed for PlanAuditSpec's
    * partition-pruning assertion.
    */
  def prunedScanForAudit(s: SparkSession, d: String): DataFrame = {
    val layout = partitionedOrders(s, d)
    s.read.parquet(layout).filter(col("o_orderpriority") === "1-URGENT")
  }
}
