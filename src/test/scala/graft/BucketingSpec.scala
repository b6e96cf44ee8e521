package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Bucketed tables co-locate join keys at WRITE time: a join of two
  * tables bucketed on the same key with the same bucket count needs NO
  * shuffle at read time — the scale play for repeated big-fact joins
  * (SURVEY.md §7.4: "co-locate joins via bucketing or pre-partitioning").
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("same-key bucketed join plans without a shuffle exchange") {
    val n = 8
    spark.sql("DROP TABLE IF EXISTS bkt_facts")
    spark.sql("DROP TABLE IF EXISTS bkt_dims")
    spark.range(10000)
      .select(col("id") % 500 as "k", col("id") as "v")
      .write.bucketBy(n, "k").sortBy("k")
      .mode("overwrite").saveAsTable("bkt_facts")
    spark.range(500).select(col("id") as "k", (col("id") * 10) as "w")
      .write.bucketBy(n, "k").sortBy("k")
      .mode("overwrite").saveAsTable("bkt_dims")

    // disable broadcast so the join would otherwise need a full shuffle
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("bkt_facts")
        .join(spark.table("bkt_dims"), Seq("k"))
        .groupBy("k").agg(sum("v").as("sv"), sum("w").as("sw"))
      val shuffles = joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty,
        s"expected shuffle-free bucketed join+agg, found ${shuffles.length} exchanges")
      // and it computes the right thing
      val r = joined.filter(col("k") === 7).collect()(0)
      assert(r.getLong(1) == (7L + 507 + 1007 + 1507 + 2007 + 2507 + 3007 +
        3507 + 4007 + 4507 + 5007 + 5507 + 6007 + 6507 + 7007 + 7507 + 8007 +
        8507 + 9007 + 9507))
      assert(r.getLong(2) == 70L * 20)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_facts")
      spark.sql("DROP TABLE IF EXISTS bkt_dims")
    }
  }

  test("q50's bucketed fact join reads bucket-aligned: no exchange below the join") {
    val plan = graft.queries.Registry.queries("q50_bucketed_join")(spark, sf0001)
      .queryExecution.executedPlan.toString
    // the plan prints top-down: the final 5-key agg's exchange sits ABOVE
    // the SortMergeJoin, so the join's subtree is everything after it —
    // with bucketed inputs that subtree must be exchange-free
    val atJoin = plan.indexOf("SortMergeJoin")
    assert(atJoin >= 0, s"expected a SortMergeJoin (merge hint), plan:\n$plan")
    val subtree = plan.substring(atJoin)
    assert(!subtree.contains("Exchange"),
      s"bucketed join inputs must not shuffle, plan:\n$plan")
  }
}
