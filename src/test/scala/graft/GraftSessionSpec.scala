package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** The one session policy ([[GraftSession]]): the shared test session is
  * built by it, and its settings are a pure function of (env, props).
  */
class GraftSessionSpec extends SparkSpec {

  private def settings(env: Map[String, String] = Map.empty,
                       props: Map[String, String] = Map.empty) = {
    val s = GraftSession.settings(env, props)
    assert(s.map(_._1).distinct.size == s.size, s"duplicate keys: $s")
    s.toMap
  }

  test("GraftExtensions is registered once: one TopKPerGroup strategy, graft_dot in SQL") {
    // conf registration only: a second .withExtensions would inject twice
    assert(spark.sessionState.planner.strategies
      .count(_ == graft.plans.TopKPerGroupStrategy) == 1)
    assert(spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 5.0d))")
      .head().getDouble(0) == 13.0)
  }

  test("a given spark.master yields no master or partition setting") {
    val given = settings(props = Map("spark.master" -> "local[2]"))
    assert(!given.contains("spark.master"))
    assert(!given.contains("spark.sql.shuffle.partitions"))
    assert(given("spark.sql.extensions") == "graft.GraftExtensions")
    val local = settings(env = Map("SPARK_GRAFT_CPUS" -> "3"))
    assert(local("spark.master") == "local[3]")
    assert(local("spark.sql.shuffle.partitions") == "3")
    val cluster = settings(env = Map("SPARK_GRAFT_CPUS" -> "3",
      "SPARK_GRAFT_MASTER" -> "local-cluster[2,1,1024]"))
    assert(cluster("spark.master") == "local-cluster[2,1,1024]")
    assert(cluster("spark.sql.shuffle.partitions") == "3")
  }

  test("a lowered SHJ threshold keeps advisory <= threshold") {
    val shj = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val default = settings()
    assert(default(shj) == (64L << 20).toString)
    assert(default(advisory) == (64L << 20).toString)
    val lowered = settings(env = Map("SPARK_GRAFT_AQE_SHJ_THRESHOLD" -> "16m"))
    assert(lowered(shj) == (16L << 20).toString)
    assert(lowered(advisory).toLong <= lowered(shj).toLong)
  }

  test("GraftSession.interpreted: no whole-stage codegen, no compiled projection or predicate") {
    val compiles = () => CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // a literal no earlier query used: its code is not in the codegen cache
    def projectFilter(): Unit = {
      val salt = System.nanoTime()
      spark.range(0, 100).select((col("id") * salt).as("x"))
        .filter(col("x") % 7 === 0).queryExecution.toRdd.count()
    }
    // control: at the session's defaults the same shape compiles
    val before = compiles()
    projectFilter()
    assert(compiles() > before)
    withConf(GraftSession.interpretedConf: _*) {
      // CLI-shaped: trimmed string keys, a grouped sum joined back, sorted
      val rows = spark.range(0, 200).select(
        concat(lit(" s"), (col("id") % 5).cast("string")).as("k"), col("id").as("v"))
      val sums = rows.groupBy(trim(col("k")).as("k")).agg(sum(col("v")).as("total"))
      val joined = rows.select(trim(col("k")).as("k"), col("v")).join(sums, "k").orderBy("k", "v")
      assert(joined.collect().length == 200)
      val stages = new AdaptiveSparkPlanHelper {}.collect(joined.queryExecution.executedPlan) {
        case w: WholeStageCodegenExec => w
      }
      assert(stages.isEmpty, joined.queryExecution.executedPlan)
      val at = compiles()
      projectFilter()
      assert(compiles() == at)
    }
  }
}
