package graft
import java.nio.file.{Files, Paths}

import scala.collection.immutable.SeqMap

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Verify <sfDir> <outDir> [queryName ...]")
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: restrict the dump to the named queries
    val wanted = args.drop(2).toSet
    val spark = GraftSession("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val outcomes = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => wanted.isEmpty || wanted(name) }
      .map { case (name, fn) =>
      val ok =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          true
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          false
        }
      // free per-query persisted/checkpointed data between queries
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      (name, ok)
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json(SparkEntry.oracleSql))
    // Durable run summary (file, not just stderr): which dumps succeeded.
    // A driver that only tails the log can read this instead.
    Files.writeString(Paths.get(s"$outDir/verify.json"),
      Json(Map("dumped" -> SeqMap.from(outcomes))) + "\n")
    spark.stop()
  }
}
