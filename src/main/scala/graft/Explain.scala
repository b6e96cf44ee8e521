package graft

/** Plan-audit main: print the formatted physical plan of the named
  * queries (all queries when no args), under the Bench session policy —
  * with AQE on this is the initial adaptive plan; [[ExplainFinal]]
  * prints the final one. Usage:
  *   sbt "runMain graft.Explain q03_store_yoy e01_knn_brute"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val wanted = args.toSet
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted(n) }
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
      }
    spark.stop()
  }
}
