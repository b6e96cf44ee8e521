package graft

import org.apache.spark.sql.SparkSession

/** The one session policy: every main (Bench, Verify, Explain,
  * ExplainFinal, StreamBench, StreamResume), the CLI programs and the
  * test suite build their session here, so the plans a test, an audit
  * or an oracle check sees are the plans the bench runs.
  */
object GraftSession {

  /** Worker threads and shuffle partitions of the local master:
    * `SPARK_GRAFT_CPUS`, else every available processor.
    */
  def cpus(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The AQE SMJ→SHJ local-map threshold (bytes), in the size-string
    * grammar of the Spark conf itself ("64m", "1g", bare bytes).
    */
  def shjThresholdBytes(env: Map[String, String] = sys.env): Long =
    env.get("SPARK_GRAFT_AQE_SHJ_THRESHOLD")
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(broadcastBytes)

  private val broadcastBytes = 64L * 1024 * 1024

  /** The policy as conf pairs — a pure function of the environment and
    * the JVM system properties, so it is testable without a session.
    */
  def settings(env: Map[String, String] = sys.env,
               props: collection.Map[String, String] = sys.props): Seq[(String, String)] = {
    // a master given as a system property (spark-submit, or a harness's
    // -Dspark.master) owns the topology: leave master and partitions
    // alone. Otherwise SPARK_GRAFT_MASTER (e.g. `local-cluster[2,4,4096]`:
    // real executor JVMs, real serialization — pass the `sbt package`
    // jar via SPARK_GRAFT_JARS) or local[cpus].
    val topology =
      if (props.contains("spark.master")) Nil
      else Seq(
        "spark.master" -> env.getOrElse("SPARK_GRAFT_MASTER", s"local[${cpus(env)}]"),
        "spark.sql.shuffle.partitions" -> cpus(env).toString)
    val shj = shjThresholdBytes(env)
    topology ++ Seq(
      // single registration mechanism (the conf — spark-submit parity);
      // adding .withExtensions too would inject the optimizer rule and
      // planner strategy twice
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> broadcastBytes.toString,
      // AQE SMJ→SHJ rewrite: convert a sort-merge join to shuffled-hash
      // at runtime when EVERY post-shuffle partition of the build side
      // is under this many bytes — decided from OBSERVED stage sizes,
      // not estimates, so relations whose serialized rows run 15-20×
      // their stats cannot mis-trigger it; an actually-big partition
      // stays SMJ. Scale-adaptive: at 100 TB partitions exceed 64 MB and
      // plans keep the spill-safe SMJ. 64 MB = the broadcast threshold
      // (same memory class as an accepted broadcast build); Spark's
      // default is 0 (off). Hinted joins (the guarded verify joins) are
      // skipped by DynamicJoinSelection, as intended. Static
      // preferSortMergeJoin stays TRUE: flipping it plans SHJ from size
      // estimates. AQE, whole-stage codegen and partition coalescing
      // stay at Spark's defaults; SPARK_GRAFT_EXTRA_CONF reaches them.
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> shj.toString,
      // COUPLING: Spark only applies the rewrite when the advisory
      // partition size <= the threshold. The Spark-default advisory is
      // 64 MB, equal to the default threshold, so a lowered threshold
      // would silently disable the rewrite. Pin advisory =
      // min(threshold, 64 MB): the Spark default at the default, and
      // advisory <= threshold whenever the threshold is lowered.
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        math.min(shj, broadcastBytes).toString
    ) ++ env.get("SPARK_GRAFT_JARS").map("spark.jars" -> _)
  }

  /** Build (or join) the session: policy, then the caller's additions
    * (`extra`, e.g. [[ExtraConf.stateStore]]), then SPARK_GRAFT_EXTRA_CONF
    * last, so the generic seam can still override anything.
    */
  def apply(app: String,
            extra: SparkSession.Builder => Any = _ => ()): SparkSession = {
    val b = SparkSession.builder().appName(app)
    settings().foreach { case (k, v) => b.config(k, v) }
    extra(b)
    ExtraConf(b)
    b.getOrCreate()
  }
}
