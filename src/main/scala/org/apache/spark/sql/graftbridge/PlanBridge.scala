package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, NO_BROADCAST_HASH,
  ResolvedHint, Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Logical-plan doorway for the one join hint Spark computes internally
  * but never exposed as a `df.hint(...)` alias: `NO_BROADCAST_HASH`
  * (AQE's own DynamicJoinSelection attaches it to shuffle stages it
  * rules out of broadcast; `JoinStrategyHint.hintAliases` is empty for
  * it, so the public hint resolver cannot produce it).
  *
  * Why it exists here: the broadcast twilight zone. A candidate-pair
  * relation's COMPRESSED upstream stats can sit under
  * `autoBroadcastJoinThreshold` while its serialized in-memory rows run
  * to gigabytes — the planner broadcasts it and the driver dies on
  * `maxResultSize`/the hard broadcast row cap (observed: a 658M-row
  * LSH candidate set at 100x-skew). The public hints can only FORCE a
  * strategy (`merge`, `shuffle_hash`), taking the choice away from the
  * planner for the OTHER side too; `NO_BROADCAST_HASH` instead states
  * exactly the invariant we need — "never build a broadcast out of
  * THIS side" — and leaves every remaining choice (broadcast the small
  * dimension side, SMJ, SHJ) to cost-based planning, including AQE's
  * runtime re-plan, which re-runs join selection with logical hints
  * preserved.
  */
object PlanBridge {

  /** `df` with a `NO_BROADCAST_HASH` hint attached: the first join this
    * frame participates in can never plan `df`'s side as the broadcast
    * build. Like every join strategy hint, it binds to the NEAREST join
    * above — re-apply per join for multi-join pipelines.
    */
  def noBroadcastHash(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession,
      ResolvedHint(ds.queryExecution.analyzed,
        HintInfo(strategy = Some(NO_BROADCAST_HASH))))
  }

  /** `rows` of `schema` as a DataFrame over one leaf, no `Row` round trip.
    * The leaf reports `sizeInBytes` to the planner, as a file source reports
    * its files' bytes, so joins over it plan as they would over `spark.read`.
    */
  def ofRows(spark: SparkSession, rows: RDD[InternalRow], schema: StructType,
      sizeInBytes: BigInt): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(s,
      LogicalRDD(DataTypeUtils.toAttributes(schema), rows)(s, Some(Statistics(sizeInBytes))))
  }
}
