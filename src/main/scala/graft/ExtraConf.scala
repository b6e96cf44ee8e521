package graft
import org.apache.spark.sql.SparkSession

/** SPARK_GRAFT_EXTRA_CONF: semicolon-separated k=v Spark confs — the
  * generic experiment seam (event logs for the failure-injection run,
  * RocksDB state store for the streaming drills, etc.) so one-off runs
  * never need a code edit. [[GraftSession]] applies it last, so it
  * reaches every session and can override the policy. Blank segments
  * from doubled or trailing semicolons are skipped, and a segment
  * without '=' fails loudly instead of throwing an opaque MatchError at
  * session build.
  */
object ExtraConf {
  def apply(builder: SparkSession.Builder,
            env: Map[String, String] = sys.env): SparkSession.Builder = {
    env.get("SPARK_GRAFT_EXTRA_CONF").foreach {
      _.split(';').map(_.trim).filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          // empty key ('=v') or empty value ('a=') would no-op or
          // misconfigure silently via builder.config("", v) — same loud
          // failure as a missing '=' (the fail-loud parse contract)
          case Array(k, v) if k.trim.nonEmpty && v.trim.nonEmpty =>
            builder.config(k.trim, v.trim)
          case _ => sys.error(
            s"bad SPARK_GRAFT_EXTRA_CONF entry (expected k=v with " +
              s"non-empty key and value): '$kv'")
        }
      }
    }
    builder
  }

  /** SPARK_GRAFT_STATE_STORE=rocksdb: streaming state in the RocksDB
    * provider (native, local-disk-backed, changelog+snapshot files in
    * the checkpoint) instead of the default HDFS-backed provider, which
    * keeps EVERY live state row on-heap per executor. At sf-scale the
    * default is fine; at 100 TB a hot stream's watermark-bounded state
    * exceeds executor memory and RocksDB is the standard production
    * answer. One env seam so every streaming main (StreamBench,
    * StreamResume) runs on either store without a code edit; returns
    * the active store name for the run's JSON/log line.
    */
  def stateStore(builder: SparkSession.Builder,
                 env: Map[String, String] = sys.env): String =
    env.getOrElse("SPARK_GRAFT_STATE_STORE", "hdfs").toLowerCase match {
      case "rocksdb" =>
        builder.config("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider")
        // changelog checkpointing: per-batch deltas instead of full
        // snapshot uploads — the production setting for low-latency
        // commits (snapshots still taken in the background for resume)
        builder.config(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
          "true")
        "rocksdb"
      case "hdfs" => "hdfs"
      // a typo ('rocksbd') would silently run the default HDFS provider
      // while stamping the bogus name into the published state_store
      // JSON field — mislabeled store-comparison artifacts. Fail loud.
      case other => sys.error(
        s"bad SPARK_GRAFT_STATE_STORE value '$other' " +
          "(expected hdfs or rocksdb)")
    }

  /** Resolve the ACTIVE state-store label from the session's FINAL
    * providerClass conf — [[stateStore]] returns the env-requested
    * label, but a later generic [[apply]] override of providerClass
    * (SPARK_GRAFT_EXTRA_CONF) would change the real store while the
    * requested label still gets published. Call this after
    * `getOrCreate` and print THIS in any store-comparison JSON line.
    */
  def activeStateStore(spark: SparkSession): String =
    spark.conf.get(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "HDFSBackedStateStoreProvider") match {
      case c if c.endsWith("RocksDBStateStoreProvider") => "rocksdb"
      case c if c.endsWith("HDFSBackedStateStoreProvider") => "hdfs"
      case c => c // a custom provider: publish the class name verbatim
    }
}
