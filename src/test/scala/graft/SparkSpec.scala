package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Base for all specs: one shared session (SparkEnv semantics — UTC,
  * AQE, nanos-as-long), sf0.001 fixtures for speed. */
abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkEnv.session("graft-test")
  val Sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    // shared session: do NOT stop between suites
  }

  /** The descriptions of the jobs `body` starts. */
  protected def jobsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("(unlabeled)"))
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.ListenerBusDrain(sc) }
    finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }
}
