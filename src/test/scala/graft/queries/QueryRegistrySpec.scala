package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

class QueryRegistrySpec extends AnyFunSuite {

  private def spec(name: String): QuerySpec =
    QuerySpec(name, (s, dir) => s.read.parquet(s"$dir/documents.parquet"), _ => "SELECT 1")

  test("the registry rejects a duplicate query name and names it") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.registry(Seq(spec("t1_token_stats"), spec("t1_token_stats")))
    }
    assert(e.getMessage.contains("duplicate query names: t1_token_stats"))
    val ok = Seq(spec("t1_token_stats"), spec("t2_lang_id"))
    assert(SparkEntry.registry(ok) == ok)
  }
}
