package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = GraftSession.getOrCreate("local[4]")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** The number of Spark jobs `body` starts on this thread. Jobs carry a
    * tag unique to the call; a tagged one-task fence job run afterwards
    * drains the listener bus, whose events arrive in order.
    */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"jobs-during-${java.util.UUID.randomUUID}"
    val fence = s"$tag-fence"
    val started = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val tags = Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .fold(Set.empty[String])(_.split(",").toSet)
        if (tags(fence)) fenced.countDown() else if (tags(tag)) started.incrementAndGet()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
      sc.addJobTag(fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(fence)
      assert(fenced.await(60, TimeUnit.SECONDS), "listener bus did not deliver the fence job")
      started.get
    } finally sc.removeSparkListener(listener)
  }
}
