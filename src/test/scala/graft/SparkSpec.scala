package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sqlc = spark.sqlContext

  /** Smallest driver-generated fixture dir; overridable via env/prop so
    * the suite isn't pinned to this machine's layout.
    */
  protected lazy val sf0001: String =
    sys.env.get("SPARK_GRAFT_TESTDATA")
      .orElse(sys.props.get("graft.testdata"))
      .getOrElse("/root/testdata") + "/sf0.001"

  /** Run `body` under session confs `pairs`, then restore each key's
    * previous value — never `unset`, which would drop a policy value
    * (e.g. the 64 MB broadcast threshold) for every later suite.
    */
  protected def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SparkSpec {
  // One session for the whole forked test JVM — Spark startup is ~5s.
  // Built by the production policy, so the suite runs the extensions
  // and join settings the mains run.
  lazy val session: SparkSession = GraftSession("graft-test", _.config(
    "spark.sql.warehouse.dir",
    java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}
