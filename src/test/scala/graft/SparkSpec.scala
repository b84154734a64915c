package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession per suite (UTC, small shuffle width). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName(getClass.getSimpleName)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.QuietLogs() // deliberate BoundedWindow sites must not flood logs
    s
  }

  def sf(name: String): String = s"/root/testdata/$name"

  /** Spark jobs started by `body` on this thread, counted by a
    * listener; a marker job after `body` proves every earlier job-start
    * event has been delivered before the count is read.
    */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${System.nanoTime()}"
    val started = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.incrementAndGet(); ()
          case Some(g) if g == s"$group-marker" => markerSeen.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "build")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker job not seen")
      started.get
    } finally sc.removeSparkListener(listener)
  }

  /** Test-owned checkpoint dir, under a root SEPARATE from the
    * `/tmp/graft-ckpt` that Verify/Bench sweep at startup — a
    * concurrently running Verify must never delete a live test
    * checkpoint out from under a streaming query (observed once as a
    * "commits does not exist" STREAM_FAILED flake). The test root is
    * swept once per JVM instead.
    */
  def ckptDir(name: String): String =
    s"${SparkSpec.ckptRoot}/$name-${System.nanoTime()}"
}

object SparkSpec {
  lazy val ckptRoot: String = {
    val root = "/tmp/graft-ckpt-test"
    val dir = new java.io.File(root)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    if (dir.exists()) rm(dir)
    root
  }
}
