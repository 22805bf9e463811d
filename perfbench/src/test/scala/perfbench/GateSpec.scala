package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The correctness gate: graft's outputs checked against ground truth
  * pass when they agree, and a planted mismatch fails the operation and
  * turns the run's result incorrect. */
class GateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = graft.Defaults.sessionBuilder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fresh(rec: Recorder): Etl = {
    val dir = Files.createTempDirectory("perfbench-gate").toString
    new Etl(spark, dir, 21, Map("ons" -> 10, "entsoe" -> 10), rec)
  }

  test("loads that match ground truth pass, and a re-delivery inserts nothing") {
    val rec = new Recorder
    val etl = fresh(rec)
    val b = etl.nextBatch("entsoe", 120, 0)
    etl.load(b, b.expect)
    etl.load(b, b.expect.copy(inserted = 0), "redelivery")
    etl.refresh(Seq("entsoe"))
    Etl.ReadKinds.foreach(etl.read(_))
    etl.finalGate()
    assert(rec.failures.isEmpty, rec.failures)
    assert(rec.attempted == 9)
  }

  test("a wrong inserted count fails the load") {
    val rec = new Recorder
    val etl = fresh(rec)
    val b = etl.nextBatch("ons", 120, 0)
    etl.load(b, b.expect.copy(inserted = b.expect.inserted + 1))
    assert(rec.failed == 1)
    assert(rec.failures.head.contains("inserted"))
  }

  test("a table that disagrees with the model fails the reads and the end-of-run gate") {
    val rec = new Recorder
    val etl = fresh(rec)
    val b = etl.nextBatch("ons", 120, 0)
    etl.load(b, b.expect)
    etl.refresh(Seq("ons"))
    assert(rec.failed == 0, rec.failures)
    // plant a mismatch: the model forgets one stored row
    val table = etl.model.table("ons")
    table.remove(table.keys.head)
    etl.read("coverage")
    etl.read("monthly_raw")
    etl.finalGate()
    assert(rec.failed == 3, rec.failures)
    assert(rec.failures.exists(_.contains("coverage")))
    assert(rec.failures.exists(_.contains("table rows")))
  }

  test("a failed check makes the printed result incorrect") {
    val rec = new Recorder
    rec.op("load")(1)(_ => Nil)
    rec.op("load")(2)(_ => Seq("planted mismatch"))
    val args = Main.Args("etl_incremental", 1, 1, trace = false, "", "")
    val ctx = Report.Context(args, rec, 1.0, 1.0, 1, Nil, Nil, Nil, None, Map.empty)
    val result = Report.lines(ctx).last
    assert(result.startsWith("{\"correct\":false,\"attempted\":2,\"failed\":1,"))
  }
}
