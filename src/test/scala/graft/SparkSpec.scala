package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, lazy). */
object TestSpark {
  lazy val spark: SparkSession = graft.engine.GraftSession.local(4)
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir

  /** `body`'s value and the Spark jobs started while it ran. The listener
    * bus is drained before listening starts, so earlier jobs are not
    * counted.
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.sql.graft.shim.waitListenerBus(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val value =
      try {
        val v = body
        org.apache.spark.sql.graft.shim.waitListenerBus(sc)
        v
      } finally sc.removeSparkListener(listener)
    (value, jobs.get())
  }
}
