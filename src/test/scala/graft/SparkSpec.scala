package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazily built). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `f` and returns the job starts, task ends and block updates a
    * listener saw meanwhile; a marker job run after `f` flushes the
    * listener bus. */
  protected def withEvents[A](f: => A): (A, Seq[SparkListenerEvent]) = {
    val sc = spark.sparkContext
    val marker = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[SparkListenerEvent]()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.test.marker") == marker)
          flushed.countDown()
        else seen.add(e)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = seen.add(e)
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = seen.add(e)
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      sc.setLocalProperty("graft.test.marker", marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus did not flush")
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", "/root/repo/target/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
