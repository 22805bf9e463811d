package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session —
  * ScalaTest suites reuse it via getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** The start events of the jobs `body` starts on this thread: its
    * jobs carry a job group (with the description "measured"), and a
    * sentinel job in a second group marks the end of its events. */
  def jobStarts(body: => Unit): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val seen = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val ended = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach { g =>
          if (g == group) seen.add(e)
          if (g == s"$group-end") ended.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "sentinel")
      try spark.range(1).collect() finally sc.clearJobGroup()
      assert(ended.await(60, TimeUnit.SECONDS), "sentinel job never reached the listener")
      scala.jdk.CollectionConverters.IterableHasAsScala(seen).asScala.toSeq.sortBy(_.jobId)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  /** The production profile ([[Defaults.sessionBuilder]]) with only
    * the size (4 threads, 4 shuffle partitions), the name and a
    * private warehouse dir overridden — the suite runs the settings
    * the mains and the benchmark run. */
  lazy val session: SparkSession = {
    val s = Defaults.sessionBuilder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
