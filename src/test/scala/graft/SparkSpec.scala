package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf: String = "/root/testdata/sf0.001"

  /** Runs `body` and returns its result with the number of Spark jobs
    * it launched. Listener events arrive asynchronously but in order, so
    * a marker job run afterwards flushes every earlier job start before
    * the count is read. */
  def jobsLaunchedBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val marker = UUID.randomUUID().toString
    val started = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(SparkSpec.MarkerKey) == marker))
          flushed.countDown()
        else started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty(SparkSpec.MarkerKey, marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(SparkSpec.MarkerKey, null)
      assert(flushed.await(60, TimeUnit.SECONDS), "marker job start never arrived")
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  private val MarkerKey = "graft.test.jobMarker"
  // 4 cores whatever SPARK_GRAFT_CPUS says: plan-shape specs pin this session
  lazy val session: SparkSession = Session.local(4)
}
