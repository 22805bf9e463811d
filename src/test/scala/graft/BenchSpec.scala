package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards for the two harness contracts Bench must never break:
  *
  *   1. The printed JSON line stays well under the ~2 KB stdout tail
  *      the round driver captures (the round-2 failure mode: 80+
  *      full-precision entries overflowed the window and `parsed`
  *      came back null) — even as the query set grows.
  *   2. `Window.orderBy` WITHOUT a partitionBy (a single-task global
  *      sort at scale) appears exactly once in the main source tree:
  *      the bounded monthly series of w2_mom_delta. A second
  *      occurrence is a scale bug until proven otherwise.
  */
class BenchSpec extends AnyFunSuite {

  test("printed bench line stays under 1 KB regardless of query-map growth") {
    // worst realistic shape: every registered query with a slow time
    // (7+ chars each formatted) plus a long sf dir and full methodology
    val results = SparkEntry.queries.keys.map(k => k -> 123.456).toMap
    val rounds = Seq.fill(8)(results)
    val (line, _) =
      Bench.renderLines(results, "/root/testdata/sf0.1", 8, 12.345, false,
        Bench.baselineOnly.keys.toSeq.sorted, rounds)
    // the whole line must fit in the driver's ~2 KB stdout tail with
    // margin for trailing log noise; 1.25 KB leaves ~40% headroom
    assert(line.length < 1280, s"bench line is ${line.length} B; driver tail-capture is ~2 KB")
    assert(!line.contains("\n"))
    // and it still carries the contract fields the driver parses
    assert(line.startsWith("""{"metric":"total""""))
    assert(line.contains(""""queries":{"""))
    assert(line.contains(""""other_sec":"""))
    // plus the round-7 methodology fields the spread gate reads
    assert(line.contains(""""rounds":8"""))
    assert(line.contains(""""spread_pct":12.345"""))
    assert(line.contains(""""dispersion_ok":false"""))
    // and the round-8/9 robust headlines (median of round totals;
    // median of the best-3 the dispersion gate certifies)
    assert(line.contains(""""robust_value":"""))
    assert(line.contains(""""steady_value":"""))
    // round-11: an unconverged line declares its headline provenance
    assert(line.contains(""""value_source":"steady""""))
    assert(line.contains(""""min_value":"""))
  }

  test("unconverged headline is steady_value, not the optimistic min-composite") {
    // totals 3.0, 30.0, 4.0, 5.0; min-composite would be 3.0 (per-query
    // minima), steady = median of best-3 {3,4,5} = 4.0
    val r1 = Map("a" -> 1.0, "b" -> 2.0)
    val r2 = Map("a" -> 10.0, "b" -> 20.0)
    val r3 = Map("a" -> 1.5, "b" -> 2.5)
    val r4 = Map("a" -> 2.0, "b" -> 3.0)
    val results = Map("a" -> 1.0, "b" -> 2.0)
    val (bad, badFull) = Bench.renderLines(
      results, "/tmp/sf0.1", 4, 66.7, false, Seq.empty, Seq(r1, r2, r3, r4))
    assert(bad.contains(""""value":4.000"""), bad)
    assert(bad.contains(""""value_source":"steady""""))
    assert(bad.contains(""""min_value":3.000"""))
    assert(badFull.contains(""""value":4.000"""))
    // converged: headline stays the min-composite, source says so
    val (ok, _) = Bench.renderLines(
      results, "/tmp/sf0.1", 4, 2.0, true, Seq.empty, Seq(r1, r2, r3, r4))
    assert(ok.contains(""""value":3.000"""), ok)
    assert(ok.contains(""""value_source":"min_composite""""))
  }

  test("steady_value is the median of the best-3 complete round totals") {
    // totals 3.0, 30.0 (stalled), 4.0, 5.0 → best-3 {3,4,5} → 4.0;
    // cold/stalled rounds cannot move it, unlike robust_value
    val r1 = Map("a" -> 1.0, "b" -> 2.0)
    val r2 = Map("a" -> 10.0, "b" -> 20.0)
    val r3 = Map("a" -> 1.5, "b" -> 2.5)
    val r4 = Map("a" -> 2.0, "b" -> 3.0)
    assert(Bench.steadyRoundTotal(Seq(r1, r2, r3, r4)) == 4.0)
    // a 2-round window has no middle total: steady = the MIN of the
    // pair (the warm round), never the cold round-1 the upper median
    // used to pick (the r14 sf10 2212.5 s-headline failure mode)
    assert(Bench.steadyRoundTotal(Seq(r1, r2)) == 3.0)
    // 1-round degenerate (SPARK_GRAFT_BENCH_MIN_ROUNDS=1 probes):
    // steady = that round's total
    assert(Bench.steadyRoundTotal(Seq(r2)) == 30.0)
    assert(Bench.steadyRoundTotal(Seq.empty) == 0.0)
    // partial rounds are provenance, not statistics
    assert(Bench.steadyRoundTotal(Seq(r1, r2, r3, Map("a" -> 0.1))) == 4.0)
    val (line, _) =
      Bench.renderLines(Map("a" -> 1.0, "b" -> 2.0), "/tmp/sf0.1", 4, 2.0, true,
        Seq.empty, Seq(r1, r2, r3, r4))
    assert(line.contains(""""steady_value":4.000"""))
  }

  test("robust_value is the median round total; rounds_detail persists full provenance") {
    val q = Map("a" -> 1.0, "b" -> 2.0)
    // three rounds with totals 3.0, 30.0 (stalled), 4.0 → median 4.0;
    // min-based value would be 3.0
    val r1 = Map("a" -> 1.0, "b" -> 2.0)
    val r2 = Map("a" -> 10.0, "b" -> 20.0)
    val r3 = Map("a" -> 1.5, "b" -> 2.5)
    assert(Bench.medianRoundTotal(Seq(r1, r2, r3)) == 4.0)
    assert(Bench.medianRoundTotal(Seq.empty) == 0.0)
    // a partial round (failed queries excluded from its vector) is
    // provenance, not statistics: the median ignores it
    val partial = Map("a" -> 0.1)
    assert(Bench.medianRoundTotal(Seq(r1, r2, r3, partial)) == 4.0)
    val (line, full) =
      Bench.renderLines(q, "/tmp/sf0.1", 3, 2.0, true, Seq.empty, Seq(r1, r2, r3))
    assert(line.contains(""""value":3.000"""))
    assert(line.contains(""""robust_value":4.000"""))
    // full JSON carries every round's complete per-query vector in order
    assert(full.contains(""""rounds_detail":[{"a":1.000,"b":2.000},{"a":10.000,"b":20.000},{"a":1.500,"b":2.500}]"""),
      full)
  }

  test("never-succeeded queries are loudly listed, not silently fast") {
    val (line, full) = Bench.renderLines(
      Map("a" -> 1.0), "/tmp/sf0.1", 3, 2.0, true,
      Seq.empty, Seq(Map("a" -> 1.0)), failed = Seq("b_broken"))
    assert(line.contains(""""failed":["b_broken"]"""))
    assert(full.contains(""""failed":["b_broken"]"""))
    assert(!line.contains("b_broken\":")) // no time entry for it
  }

  test("scale factor parses from the corpus dir name") {
    assert(Bench.scaleFactorOf("/root/testdata/sf0.1").contains(0.1))
    assert(Bench.scaleFactorOf("/root/testdata/sf0.001").contains(0.001))
    assert(Bench.scaleFactorOf("/tmp/graft-sf1").contains(1.0))
    assert(Bench.scaleFactorOf("/tmp/sf10").contains(10.0))
    assert(Bench.scaleFactorOf("/tmp/some-corpus").isEmpty)
  }

  test("baseline-only queries are real, registered, and listed in the full JSON when skipped") {
    // the gate must reference live query names — a rename that orphans
    // the set would silently stop skipping anything at scale
    assert(Bench.baselineOnly.keySet.subsetOf(SparkEntry.queries.keySet))
    // thresholds are per-query: the sf1-tractable exact references
    // (v1's 4M-pair arm, v11's dense arm) stay benched at sf1 and
    // drop out at the decade point; the full-corpus all-pairs trio
    // drops out already at sf1; unknown scale benches everything
    assert(!Bench.skipsAt("v1_cosine_topk", Some(1.0)))
    assert(Bench.skipsAt("v1_cosine_topk", Some(10.0)))
    assert(!Bench.skipsAt("v11_hybrid_rrf", Some(1.0)))
    assert(Bench.skipsAt("v11_hybrid_rrf", Some(10.0)))
    assert(Bench.skipsAt("td2_ngram_jaccard", Some(1.0)))
    assert(!Bench.skipsAt("td2_ngram_jaccard", Some(0.1)))
    assert(!Bench.skipsAt("v1_cosine_topk", None))
    assert(!Bench.skipsAt("t11_bm25_topk", Some(10.0)))
    // the compressed-scan exact family stays benched through sf10
    // (r14 measured it tractable there) and gates at the next decade
    assert(!Bench.skipsAt("v8_quantized_topk", Some(10.0)))
    assert(Bench.skipsAt("v8_quantized_topk", Some(100.0)))
    assert(!Bench.skipsAt("v7_ivf_kmeans_topk", Some(10.0)))
    assert(Bench.skipsAt("v12_pq_rerank_topk", Some(100.0)))
    val results = Map("v3_lsh_topk" -> 1.0)
    val (_, full) =
      Bench.renderLines(results, "/tmp/sf1", 3, 1.0, true,
        Bench.baselineOnly.keys.toSeq.sorted)
    assert(full.contains(""""skipped_baseline":["td2_ngram_jaccard","v11_hybrid_rrf","v12_pq_rerank_topk","v1_cosine_topk","v2_cosine_pairs","v5_embed_dedup","v7_ivf_kmeans_topk","v8_quantized_topk","v9_quantized_rerank"]"""))
  }

  test("exactly one unpartitioned Window.orderBy site in main sources (w2_mom_delta)") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val sources = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    // A window is global-sort-shaped when Window.orderBy is called
    // directly on the Window object (no partitionBy in the chain).
    val offenders = sources.flatMap { p =>
      val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      "Window\\s*\\.\\s*orderBy".r.findAllIn(text).map(_ => p.toString)
    }
    assert(offenders.size == 1 && offenders.head.endsWith("queries/EtlQueries.scala"),
      s"unpartitioned Window.orderBy sites: $offenders — only the bounded " +
        "monthly series in EtlQueries (w2_mom_delta) is allowed; use " +
        "Window.partitionBy(...).orderBy(...) elsewhere")
  }

  test("driver contract: every oracle has a query; every query has an oracle") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    val orphanOracles = o.diff(q)
    assert(orphanOracles.isEmpty, s"oracleSql keys with no query: $orphanOracles")
    // every query is oracle-checked — v7 (the last rows-only hold-out)
    // now persists its fitted centroids to parquet so the oracle can
    // replay assignment + top-k; adding a query without an oracle must
    // be a conscious, listed decision.
    val rowsOnly = q.diff(o)
    assert(rowsOnly.isEmpty,
      s"rows-only queries: $rowsOnly — add a DuckDB oracle or extend this allowlist deliberately")
  }
}
