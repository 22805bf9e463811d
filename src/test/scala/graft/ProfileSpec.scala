package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** `Profile plans` writes exactly one `<query>_<tag>.txt` per requested
  * query — the layout `tools/plandiff.py` pairs — holding that query's
  * formatted plan, refuses an unknown name before writing any file, and
  * returns every query that failed to plan (the main exits 1 on them). */
class ProfileSpec extends SparkSpec {

  private val queries = Seq("a1_monthly_rollup", "a7_date_range")

  test("plans mode writes each query's formatted plan as <query>_<tag>.txt") {
    val out = Files.createTempDirectory("graft-profile-plans").resolve("plans").toString
    assert(Profile.plans(spark, sf0001, out, "t", queries).isEmpty)
    assert(new java.io.File(out).list().toSet == queries.map(q => s"${q}_t.txt").toSet)
    // every build of a DataFrame allocates fresh expression ids (and
    // exchange plan ids); everything else must match verbatim
    def ids(plan: String) = plan.replaceAll("#\\d+", "#N").replaceAll("plan_id=\\d+", "plan_id=N")
    val mode = ExplainMode.fromString("formatted")
    for (q <- queries) {
      val expected = SparkEntry.queries(q)(spark, sf0001).queryExecution.explainString(mode)
      val written = new String(Files.readAllBytes(Paths.get(out, s"${q}_t.txt")),
        StandardCharsets.UTF_8)
      assert(ids(written) == ids(expected), q)
    }
  }

  test("plans mode rejects an unknown query name before writing any file") {
    val out = Files.createTempDirectory("graft-profile-plans").resolve("plans")
    intercept[IllegalArgumentException] {
      Profile.plans(spark, sf0001, out.toString, "t", queries :+ "no_such_query")
    }
    assert(!Files.exists(out))
  }

  test("plans mode reports a query that fails to plan and writes no file for it") {
    val out = Files.createTempDirectory("graft-profile-plans").resolve("plans").toString
    val missing = Files.createTempDirectory("graft-profile-nocorpus").resolve("sf").toString
    assert(Profile.plans(spark, missing, out, "t", Seq("a7_date_range")) == Seq("a7_date_range"))
    assert(new java.io.File(out).list().isEmpty)
  }
}
