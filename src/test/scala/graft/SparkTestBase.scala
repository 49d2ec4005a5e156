package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM (suites share it;
  * `Test / fork := true` gives the forked JVM the JDK17 add-opens flags).
  */
object SparkTestBase {
  lazy val spark: SparkSession = EngineSession.local("4", "graft-test")

  val Sf0001 = "/root/testdata/sf0.001"

  private val JobTag = "graft.test.jobTag"

  /** `body`'s result and the number of Spark jobs it started. Jobs are
    * tagged through a local property, which SQL executions and their
    * broadcast threads inherit. Listener events arrive asynchronously but
    * in order, so the count is read once a marker job submitted after
    * `body` has reached the listener.
    */
  def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val marked = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(JobTag)).orNull match {
          case `tag` => jobs.incrementAndGet()
          case t if t == tag + ":end" => marked.countDown()
          case _ =>
        }
    }
    val prev = sc.getLocalProperty(JobTag)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(JobTag, tag)
      val out = body
      sc.setLocalProperty(JobTag, tag + ":end")
      sc.parallelize(Seq(1), 1).count()
      require(marked.await(60, TimeUnit.SECONDS), "the marker job never reached the listener")
      (out, jobs.get)
    } finally {
      sc.setLocalProperty(JobTag, prev)
      sc.removeSparkListener(listener)
    }
  }
}
