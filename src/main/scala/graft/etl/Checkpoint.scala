package graft.etl

import org.apache.spark.sql.DataFrame

/** Lineage-truncation policy for the iterative operator family
  * ([[Graph.pageRankMicro]]/[[Graph.pageRankDanglingMicro]],
  * [[Dedup.resolveClusters]], [[Graph.connectedComponentsLSS]],
  * [[Bpe.train]], [[Dedup.ppJoinPairs]]).
  *
  * Every iterative operator needs an eager per-round barrier — without
  * one, self-joining plans nest the whole round history and the driver
  * dies on plan growth long before data size matters. WHERE the barrier
  * materializes is a fault-tolerance choice the caller owns:
  *
  *   - [[CheckpointPolicy.Local]] (default): executor-local checkpoint
  *     blocks. Cheapest barrier, preserves the physical partitioning and
  *     ordering the round plans are pinned on, and the right choice for
  *     local mode / bench runs. NON-REPLAYABLE: truncated lineage means
  *     a lost executor's blocks cannot be recomputed — on a real cluster
  *     an executor loss mid-iteration kills the job.
  *   - [[CheckpointPolicy.Reliable]]: a reliable checkpoint to the
  *     SparkContext checkpoint directory (HDFS / object store at cluster
  *     scale). Each round's state is replayable from storage, so an
  *     executor loss costs one round's re-read instead of the job. Pay
  *     one storage round-trip per round; partitioning/ordering metadata
  *     is preserved the same way (both variants capture the physical
  *     plan's outputPartitioning into the LogicalRDD), so the pinned
  *     exchange-free round plans hold under either policy —
  *     CheckpointPolicySpec proves rank/label hash-identity across
  *     policies.
  */
sealed trait CheckpointPolicy {
  /** Eagerly materialize `df` and truncate its lineage. */
  def barrier(df: DataFrame): DataFrame
}

object CheckpointPolicy {

  case object Local extends CheckpointPolicy {
    def barrier(df: DataFrame): DataFrame = df.localCheckpoint()
  }

  case object Reliable extends CheckpointPolicy {
    def barrier(df: DataFrame): DataFrame = {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "CheckpointPolicy.Reliable requires " +
          "spark.sparkContext.setCheckpointDir(<cluster-visible path>) — " +
          "set it before running the iterative operator")
      df.checkpoint()
    }
  }

  /** Env-selected policy for the registry's iterative entries
    * (t09/t41/t46/t52/t67/t71): `SPARK_GRAFT_CHECKPOINT=reliable`
    * flips every iterative operator from executor-local blocks to
    * reliable storage checkpoints — the cluster fault-tolerance
    * configuration exercised END-TO-END under the same Verify/Bench
    * mains (results must be hash-identical across policies; only the
    * barrier's landing place changes). The checkpoint dir comes from
    * `SPARK_GRAFT_CHECKPOINT_DIR` (the cluster deployment would point
    * this at HDFS / object storage) or defaults to a [[graft.WorkDir]]
    * path, removed on JVM exit — reliable checkpoints are
    * deliberately NOT reference-tracked-cleaned mid-run (that
    * replayability is their purpose).
    */
  def fromEnv(spark: org.apache.spark.sql.SparkSession): CheckpointPolicy =
    select(sys.env.get("SPARK_GRAFT_CHECKPOINT"), spark)

  private[graft] def select(flag: Option[String],
                            spark: org.apache.spark.sql.SparkSession): CheckpointPolicy =
    if (flag.exists(_.equalsIgnoreCase("reliable"))) {
      val sc = spark.sparkContext
      if (sc.getCheckpointDir.isEmpty) {
        val dir = sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")
        val path = dir.getOrElse(graft.WorkDir.path("ckpt", sc.applicationId))
        // The per-process tmpdir default is a LOCAL file: path. On a
        // multi-node master that gives reliable checkpoints no actual
        // replayability (an executor restarting on another node cannot
        // read a peer's /tmp) — the mode would silently lose its
        // fault-tolerance purpose. Warn loudly; the operator must set
        // SPARK_GRAFT_CHECKPOINT_DIR to shared storage (HDFS/object
        // store) on a real cluster.
        if (dir.isEmpty && !sc.isLocal)
          System.err.println(
            "[graft] WARNING: SPARK_GRAFT_CHECKPOINT=reliable on a " +
              s"non-local master (${sc.master}) with no " +
              "SPARK_GRAFT_CHECKPOINT_DIR — defaulting to the driver-" +
              s"local tmpdir $path, which other nodes CANNOT read. " +
              "Reliable checkpoints will not survive executor loss; " +
              "point SPARK_GRAFT_CHECKPOINT_DIR at shared storage.")
        sc.setCheckpointDir(path)
      }
      Reliable
    } else Local
}
