package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session —
  * ScalaTest suites reuse it via getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = "/root/testdata/sf0.001"
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
