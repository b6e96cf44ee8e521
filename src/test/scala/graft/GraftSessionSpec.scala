package graft

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
}
