package graft

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session; suites run
  * in one forked JVM so getOrCreate dedupes).
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` and returns its result with the properties of every
    * Spark job it started. A marker job posted after `body` bounds the
    * list: the listener bus delivers events in order, so once the
    * marker's start arrives every job of `body` has been seen.
    */
  def withJobs[A](body: => A): (A, Seq[java.util.Properties]) = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val jobs = Vector.newBuilder[java.util.Properties]
    val done = Promise[Seq[java.util.Properties]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs += e.properties
          case Some(`marker`) => done.trySuccess(jobs.result())
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val result = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      (result, Await.result(done.future, 60.seconds))
    } finally sc.removeSparkListener(listener)
  }

  /** [[withJobs]], counted. */
  def withJobCount[A](body: => A): (A, Int) = {
    val (result, jobs) = withJobs(body)
    (result, jobs.size)
  }

}

object SparkSuite {
  lazy val session: SparkSession = Exec.session(4)
}
