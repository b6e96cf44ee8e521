package graft

import org.apache.spark.SparkFirehoseListener
import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sqlc = spark.sqlContext

  protected lazy val sf0001: String = SparkSpec.sf0001

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

  /** The events `pick` takes from the listener bus while `body` runs. The
    * bus is asynchronous but ordered, so a marker job before and one after
    * `body` bound its events once the second marker has arrived.
    */
  protected def eventsOf[T](pick: PartialFunction[SparkListenerEvent, T])(body: => Unit): Seq[T] = {
    val sc = spark.sparkContext
    val events = new java.util.concurrent.LinkedBlockingQueue[Either[String, T]]()
    def group(e: SparkListenerJobStart) =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val listener = new SparkFirehoseListener {
      override def onEvent(e: SparkListenerEvent): Unit = e match {
        case j: SparkListenerJobStart if group(j).exists(_.startsWith("events-")) =>
          events.put(Left(group(j).get))
        case _ => pick.lift(e).foreach(t => events.put(Right(t)))
      }
    }
    def marker(id: String): Unit = {
      sc.setJobGroup(id, id)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      marker("events-begin")
      body
      marker("events-end")
      while (events.take() != Left("events-begin")) {}
      Iterator.continually(events.take()).takeWhile(_ != Left("events-end")).collect {
        case Right(t) => t
      }.toSeq
    } finally sc.removeSparkListener(listener)
  }

  /** The shuffles `body` writes: the stages that wrote shuffle records. */
  protected def shufflesOf(body: => Unit): Int =
    eventsOf { case s: SparkListenerStageCompleted
      if s.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0 => s.stageInfo.stageId
    }(body).distinct.length
}

object SparkSpec {
  /** Smallest driver-generated fixture dir; overridable via env/prop so
    * the suite isn't pinned to this machine's layout.
    */
  lazy val sf0001: String =
    sys.env.get("SPARK_GRAFT_TESTDATA")
      .orElse(sys.props.get("graft.testdata"))
      .getOrElse("/root/testdata") + "/sf0.001"

  // One session for the whole forked test JVM — Spark startup is ~5s.
  // Built by the production policy, so the suite runs the extensions
  // and join settings the mains run.
  lazy val session: SparkSession = GraftSession("graft-test", _.config(
    "spark.sql.warehouse.dir",
    java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}
