package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming-throughput measurement for the t77/t78 streaming halves
  * ([[graft.streaming.StreamOps.nearDupSplitProbeStream]] /
  * [[graft.streaming.StreamOps.nearDupExactProbeStream]]): the
  * MemoryStream pins in StreamingSpec prove the SEMANTICS (streamed ≡
  * batch); this main measures the streaming RUNTIME shape the docs
  * claim — stateless probe side, watermark-bounded dedup state — as
  * rows/sec, per-batch wall, state-store rows, and watermark lag on
  * real sf-scale micro-batches.
  *
  * Method: the corpus + band index build ONCE (the persisted-artifact
  * role); the probe set (every 10th doc, the t77 fixture shape) is
  * replicated `SPARK_GRAFT_STREAM_REPLICAS` times with distinct ids and
  * fed as `SPARK_GRAFT_STREAM_BATCHES` MemoryStream micro-batches, each
  * stamped one minute later than the previous so the watermark
  * genuinely advances and `dropDuplicatesWithinWatermark` state is
  * EVICTED, not accumulated — the bounded-state claim under test.
  * Sink = noop (no result materialization cost in the datum).
  *
  * Prints one JSON line per variant:
  * `{"variant":…,"rows":N,"batches":B,"total_sec":…,"rows_per_sec":…,
  *   "batch_sec":[…],"state_rows_max":…,"watermark_lag_sec":…}`.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus()
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "10").toInt
    val replicas = sys.env.getOrElse("SPARK_GRAFT_STREAM_REPLICAS", "4").toInt
    // SPARK_GRAFT_STATE_STORE=rocksdb runs the same workload on the
    // disk-backed store (the 100 TB state configuration); the store
    // name lands in each variant's JSON line
    val spark = GraftSession("graft-stream-bench", ExtraConf.stateStore(_))
    // label from the session's FINAL providerClass conf, so an
    // EXTRA_CONF providerClass override can't desync label and store
    val stateStore = ExtraConf.activeStateStore(spark)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    import graft.etl.{Dedup, Tables}
    def shingled(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("_toks", graft.etl.TextAnalysis.tokens(col("text")))
      .select(col("doc_id"),
        graft.functions.Portable.tokenShingles(col("_toks"), 3).as("sh"))
      .filter(size(col("sh")) > 0)

    val docs = Tables.spread(Tables.documents(spark, sfDir))
    val corpus = shingled(docs.select(col("doc_id"), col("text")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ixBands = Dedup.bandTable(
      Dedup.minhashSignatures(corpus, "doc_id", "sh", 15), "doc_id",
      numBands = 3, rowsPerBand = 5).localCheckpoint(true)

    // probe rows collected once (probe-set-sized, ~1/10 corpus × replicas):
    // (doc_id, sh) replicated with disjoint id ranges per replica
    val probeBase = shingled(docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("doc_id"), col("text")))
      .as[(Long, Seq[String])].collect().toSeq
    val idShift = 10000000L
    val allProbes = (0 until replicas).flatMap(rep =>
      probeBase.map { case (id, sh) => (id + (rep + 1) * idShift, sh) })
    // ceil so the knob is honored exactly: floor would spill a tiny
    // remainder micro-batch (105 rows / 10 batches -> 11 batches)
    val perBatch = math.max(1, (allProbes.length + nBatches - 1) / nBatches)
    val batches = allProbes.grouped(perBatch).toSeq
    val baseUs = 1700000000L * 1000000L

    def runVariant(
        name: String,
        fn: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
             org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame)
        : Unit = {
      // event time is carried IN the tuple (all rows of batch i are
      // stamped base + i minutes), so the watermark advances batch over
      // batch and state eviction is actually exercised
      val input3 = MemoryStream[(Long, Long, Seq[String])]
      val stream3 = input3.toDS().toDF("doc_id", "us", "sh")
        .select(col("doc_id"), timestamp_micros(col("us")).as("ts"), col("sh"))
      val out = fn(stream3, ixBands, corpus)
      val ckpt = WorkDir.path(s"stream_ckpt_$name", sfDir)
      val q = out.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val times = Seq.newBuilder[Double]
      var stateMax = 0L
      var stateMemMax = 0L
      // provider CUSTOM metrics, max over the run, memory/size keys
      // only — for RocksDB this decomposes memoryUsedBytes into its
      // components (block cache / memtable / readers / pinned blocks /
      // SST files), so a bounded-memory overshoot is NAMED from the
      // artifact instead of asserted (r16 verdict #4)
      val customMax = scala.collection.mutable.Map.empty[String, Long]
      var wmLagSec = -1.0
      // host-noise sentinel pair per variant (the r15 212 s / r16 170 s
      // stream-control anomalies each burned a re-run to attribute to
      // window noise; now the label is on the artifact)
      val sen0 = HostSentinel.measure(cpus)
      val t0 = System.nanoTime()
      batches.zipWithIndex.foreach { case (b, i) =>
        val ts = baseUs + i * 60L * 1000000L
        val tb = System.nanoTime()
        input3.addData(b.map { case (id, sh) => (id, ts, sh) }: _*)
        q.processAllAvailable()
        times += (System.nanoTime() - tb) / 1e9
        Option(q.lastProgress).foreach { p =>
          p.stateOperators.foreach { so =>
            stateMax = math.max(stateMax, so.numRowsTotal)
            // provider-reported state memory: the HDFS store's ON-HEAP
            // map vs RocksDB's native estimate — the number that decides
            // whether 100 TB state fits an executor
            stateMemMax = math.max(stateMemMax, so.memoryUsedBytes)
            so.customMetrics.forEach { (k, v) =>
              if (k.matches("(?i).*(mem|usage|size|bytes).*"))
                customMax(k) = math.max(customMax.getOrElse(k, 0L), v.longValue())
            }
          }
          val wm = Option(p.eventTime.get("watermark")).getOrElse("")
          if (wm.nonEmpty) {
            val wmUs = java.time.Instant.parse(wm).toEpochMilli * 1000L
            wmLagSec = (ts - wmUs) / 1e6
          }
        }
      }
      val total = (System.nanoTime() - t0) / 1e9
      val sen1 = HostSentinel.measure(cpus)
      q.stop()
      // bench checkpoints are throwaway — reclaim the temp dir
      WorkDir.delete(ckpt)
      val rows = allProbes.length
      val bj = times.result().map(t => f"$t%.3f").mkString("[", ",", "]")
      println(f"""{"variant":"$name","state_store":"$stateStore",""" +
        f""""rows":$rows,"batches":${batches.length},""" +
        f""""total_sec":$total%.2f,"rows_per_sec":${rows / total}%.1f,""" +
        f""""batch_sec":$bj,"state_rows_max":$stateMax,""" +
        f""""state_mem_mb":${stateMemMax / 1e6}%.1f,""" +
        s""""state_custom_max":${customMax.toSeq.sortBy(_._1)
          .map { case (k, v) => s"\"" + k + "\":" + v }
          .mkString("{", ",", "}")},""" +
        f""""watermark_lag_sec":$wmLagSec%.1f,""" +
        s""""host_sentinel":${HostSentinel.json(sen0, sen1, cpus)},""" +
        f""""sf":"$sfDir"}""")
    }

    // variant selection (default: both, the r14–r16 protocol):
    // SPARK_GRAFT_STREAM_VARIANTS=split runs one arm — the long
    // single-decade points (4M rows) don't need both walls to fit a
    // slope, and the exact arm costs ~1.5x the split arm
    val variants = sys.env.getOrElse("SPARK_GRAFT_STREAM_VARIANTS", "split,exact")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // fail loudly on a typo ('splt' would otherwise run ZERO variants
    // and leave an empty artifact that reads like a finished experiment
    // — r17 ADVICE #5)
    val known = Set("split", "exact")
    require(variants.nonEmpty && variants.subsetOf(known),
      s"SPARK_GRAFT_STREAM_VARIANTS=${variants.mkString(",")} contains " +
        s"unknown variant(s) ${(variants -- known).mkString(",")}; " +
        s"valid names: ${known.mkString(", ")}")
    if (variants("split"))
      runVariant("split", (d, ix, c) =>
        graft.streaming.StreamOps.nearDupSplitProbeStream(d, ix, c,
          k = 15, numBands = 3, rowsPerBand = 5, maxBucket = 3, threshold = 0.8,
          watermarkDelay = "2 minutes"))
    if (variants("exact"))
      runVariant("exact", (d, ix, c) =>
        graft.streaming.StreamOps.nearDupExactProbeStream(d, ix, c,
          k = 15, numBands = 3, rowsPerBand = 5, maxBucket = 3, threshold = 0.8,
          watermarkDelay = "2 minutes"))
    spark.stop()
  }
}
