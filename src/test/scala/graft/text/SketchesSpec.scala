package graft.text

import graft.SparkSpec

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  test("cmsTopkCounts: estimates are one-sided (>= exact) and exact in the collision-free regime") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha beta delta"),
      (3L, "epsilon zeta eta theta"),
    ).toDF("doc_id", "text")
    val out = Sketches.cmsTopkCounts(docs, "text", depth = 4, width = 1024, topK = 5)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.size == 5)
    // one-sided error law holds row by row
    out.values.foreach { case (exact, cms, over) =>
      assert(cms >= exact); assert(over == cms - exact)
    }
    // 8 distinct tokens vs 4×1024 cells: a 4-row simultaneous
    // collision is absent for this fixed hash family — estimates exact
    assert(out("alpha") == ((3L, 3L, 0L)))
    assert(out("beta") == ((2L, 2L, 0L)))
  }

  test("cmsTopkCounts: probe set is the exact top-k with deterministic tiebreak") {
    val docs = Seq((1L, "b b b a a c")).toDF("doc_id", "text")
    val out = Sketches.cmsTopkCounts(docs, "text", depth = 2, width = 16, topK = 2)
      .collect().map(_.getString(0)).toSet
    assert(out == Set("b", "a")) // c (count 1) loses; a beats c on count
  }

  test("cmsTopkCounts rejects non-power-of-two width") {
    intercept[IllegalArgumentException] {
      Sketches.cmsTopkCounts(Seq((1L, "x")).toDF("doc_id", "text"), "text", width = 100)
    }
  }

  test("kmvDistinct: below k the sketch is exact") {
    val docs = Seq((1L, "one two three two one")).toDF("doc_id", "text")
    val r = Sketches.kmvDistinct(docs, "text", k = 256).collect().head
    assert(r.getLong(0) == 3L)       // n_distinct_exact
    assert(r.getInt(1) == 3)         // k_used
    assert(r.getLong(2) == 3L)       // est_distinct == exact
    assert(r.getDouble(3) == 0.0)    // rel_err
  }

  test("kmvEstimateFromSketch fails loudly when the sketch outgrows the caller's k") {
    // 20 distinct tokens sketched at builder k=16 → the sketch frame
    // holds exactly 16 order statistics. A caller passing a SMALLER k
    // (a merged/state reader that lost the builder bound) would treat
    // rows past its k-th as corpus order statistics and bias the
    // estimate low — which can flip Bm25's t30 shape selection. The
    // contract (k ≤ builder k ⇒ rows ≤ k) must throw, not bias.
    val docs = Seq((1L, (0 until 20).map(i => s"tok$i").mkString(" ")))
      .toDF("doc_id", "text")
    val sketch = Sketches.kmvSketch(docs, "text", k = 16)
    val e = intercept[IllegalArgumentException] {
      Sketches.kmvEstimateFromSketch(sketch, k = 8)
    }
    assert(e.getMessage.contains("16 rows > k=8"))
    // the honored contract still estimates: at the builder's own k
    // (what a CorpusStats reader gets from the persisted kmv_k column)
    // the sketch is saturated and the order-statistic formula applies
    assert(Sketches.kmvEstimateFromSketch(sketch, k = 16) >= 16L)
  }

  test("cmsCells merge ≡ recompute: merged two-part cells equal whole-corpus cells bit-for-bit") {
    // overlapping vocab across the parts on purpose: shared tokens
    // land in the same cells and their counts must ADD exactly
    val docs = (0 until 60).map(i =>
      (i.toLong, s"shared common tok${i % 7} tok${i % 11} uniq$i")).toDF("doc_id", "text")
    val a = docs.filter($"doc_id" % 2 === 0)
    val b = docs.filter($"doc_id" % 2 === 1)
    def cellMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val merged = cellMap(Sketches.cmsMerge(
      Sketches.cmsCells(a, "text", depth = 4, width = 64),
      Sketches.cmsCells(b, "text", depth = 4, width = 64)))
    val whole = cellMap(Sketches.cmsCells(docs, "text", depth = 4, width = 64))
    assert(merged == whole)
  }

  test("cmsTopkCountsFromCells over a merged sketch == cmsTopkCounts over the whole corpus") {
    val docs = (0 until 50).map(i =>
      (i.toLong, s"alpha beta tok${i % 5} filler$i")).toDF("doc_id", "text")
    val a = docs.filter($"doc_id" < 20) // uneven split: merge must not assume balance
    val b = docs.filter($"doc_id" >= 20)
    val viaMerge = Sketches.cmsTopkCountsFromCells(docs, "text",
      Sketches.cmsMerge(
        Sketches.cmsCells(a, "text", depth = 3, width = 32),
        Sketches.cmsCells(b, "text", depth = 3, width = 32)),
      depth = 3, width = 32, topK = 6)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val whole = Sketches.cmsTopkCounts(docs, "text", depth = 3, width = 32, topK = 6)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(viaMerge == whole)
  }

  test("cmsTopkCounts rejects depth beyond the oracle's 30-entry permutation list") {
    intercept[IllegalArgumentException] {
      Sketches.cmsTopkCounts(Seq((1L, "x")).toDF("doc_id", "text"), "text", depth = 31)
    }
  }

  test("kmvMerge ≡ recompute: merged two-part sketch equals the whole-corpus sketch") {
    // the parts SHARE tokens (same hash lands in both sketches):
    // without the distinct inside kmvMerge a duplicated value would
    // displace a genuine k-th smallest
    val text1 = (0 until 400).map(i => s"tok$i").mkString(" ") + " shared0 shared1"
    val text2 = (300 until 700).map(i => s"tok$i").mkString(" ") + " shared0 shared1"
    val docs = Seq((1L, text1), (2L, text2)).toDF("doc_id", "text")
    def uList(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getDecimal(0)).sortBy(_.toString).toList
    val merged = uList(Sketches.kmvMerge(
      Sketches.kmvSketch(docs.filter($"doc_id" === 1), "text", k = 64),
      Sketches.kmvSketch(docs.filter($"doc_id" === 2), "text", k = 64), k = 64))
    val whole = uList(Sketches.kmvSketch(docs, "text", k = 64))
    assert(merged == whole)
    assert(merged.size == 64)
  }

  test("kmvDistinctFromSketch over a merged sketch == kmvDistinct over the whole corpus") {
    val text1 = (0 until 500).map(i => s"tok$i").mkString(" ")
    val text2 = (250 until 900).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, text1), (2L, text2)).toDF("doc_id", "text")
    val merged = Sketches.kmvDistinctFromSketch(docs, "text",
      Sketches.kmvMerge(
        Sketches.kmvSketch(docs.filter($"doc_id" === 1), "text", k = 128),
        Sketches.kmvSketch(docs.filter($"doc_id" === 2), "text", k = 128), k = 128),
      k = 128).collect().head
    val whole = Sketches.kmvDistinct(docs, "text", k = 128).collect().head
    assert(merged.toSeq == whole.toSeq)
  }

  test("kmvVocabEstimate equals the engine-side KMV estimate") {
    // 300 docs × 8 unique tokens each → true vocab 2400; the KMV
    // estimate (k=256, rel err ~1/√k ≈ 6%) must land near it.
    import org.apache.spark.sql.functions._
    val big = spark.range(300).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 8).map(j =>
        concat(lit("tok"), (col("id") * 8 + j).cast("string"))): _*).as("text"))
    val est = Sketches.kmvVocabEstimate(big, "text")
    // the driver-side formula must agree EXACTLY with the engine-side
    // oracle-checked computation (t17's est_distinct column)
    val engineSide = Sketches.kmvDistinct(big, "text", k = 256)
      .collect().head.getLong(2)
    assert(est === engineSide)
    assert(est > 1200 && est < 4800, s"KMV estimate far off true vocab 2400: $est")
    // a corpus smaller than k is estimated EXACTLY (sketch = the set)
    val small = Seq((1L, "apple banana apple"), (2L, "banana cherry"), (3L, "cherry date cherry date"))
      .toDF("doc_id", "text")
    assert(Sketches.kmvVocabEstimate(small, "text") === 4L)
  }

  test("kmvDistinct: above k the estimate lands near the truth") {
    // 1000 distinct synthetic tokens, k=256: KMV's relative error
    // concentrates around 1/sqrt(k-1) ≈ 6.3%; assert a loose 25% band
    // (deterministic hashes → this either always passes or never does)
    val text = (0 until 1000).map(i => s"tok$i").mkString(" ")
    val r = Sketches.kmvDistinct(Seq((1L, text)).toDF("doc_id", "text"), "text", k = 256)
      .collect().head
    assert(r.getLong(0) == 1000L)
    assert(r.getInt(1) == 256)
    val est = r.getLong(2)
    assert(est > 750 && est < 1250, s"KMV estimate $est outside the 25% band")
    assert(math.abs(r.getDouble(3) - (est - 1000.0) / 1000.0) < 1e-6)
  }

  test("hllDistinct: above the linear-counting regime the estimate lands near the truth") {
    // 5000 distinct tokens, m=256 registers: HLL's relative error
    // concentrates around 1.04/sqrt(m) ≈ 6.5%; assert a loose 25% band
    // (deterministic hashes → this either always passes or never does)
    val text = (0 until 5000).map(i => s"tok$i").mkString(" ")
    val r = Sketches.hllDistinct(Seq((1L, text)).toDF("doc_id", "text"), "text", p = 8)
      .collect().head
    assert(r.getLong(0) == 5000L) // n_distinct_exact
    assert(r.getInt(1) == 256)    // m
    assert(r.getInt(2) == 0)      // v_zero: 5000 >> 256, every bucket hit
    val est = r.getLong(3)
    assert(est > 3750 && est < 6250, s"HLL estimate $est outside the 25% band")
    assert(math.abs(r.getDouble(4) - (est - 5000.0) / 5000.0) < 1e-6)
  }

  test("hllDistinct: small cardinality takes the lookup-table linear-counting branch exactly") {
    // 10 distinct tokens, m=256: v_zero >= 246 and the raw estimate is
    // far under 5m/2, so est must equal the precomputed integer
    // round(m·ln(m/v)) — the branch the oracle replays literal-for-literal
    val docs = Seq((1L, "a b c d e f g h i j a b c")).toDF("doc_id", "text")
    val r = Sketches.hllDistinct(docs, "text", p = 8).collect().head
    assert(r.getLong(0) == 10L)
    val vZero = r.getInt(2)
    assert(vZero >= 246 && vZero <= 256) // ≤10 occupied buckets
    val expected = Sketches.hllLinearCountTable(256)(vZero - 1)
    assert(r.getLong(3) == expected,
      s"linear-counting branch must hit the lookup table: got ${r.getLong(3)}, want $expected")
  }

  test("hllMerge ≡ recompute: merged two-part registers equal the whole-corpus registers") {
    // the parts SHARE tokens (same hash → same bucket/rank in both
    // sketches): per-bucket max must absorb the duplicate exactly
    val text1 = (0 until 800).map(i => s"tok$i").mkString(" ") + " shared0 shared1"
    val text2 = (600 until 1400).map(i => s"tok$i").mkString(" ") + " shared0 shared1"
    val docs = Seq((1L, text1), (2L, text2)).toDF("doc_id", "text")
    def regMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val merged = regMap(Sketches.hllMerge(
      Sketches.hllRegisters(docs.filter($"doc_id" === 1), "text", p = 8),
      Sketches.hllRegisters(docs.filter($"doc_id" === 2), "text", p = 8)))
    val whole = regMap(Sketches.hllRegisters(docs, "text", p = 8))
    assert(merged == whole)
  }

  test("hllDistinctFromRegisters over a merged sketch == hllDistinct over the whole corpus") {
    val text1 = (0 until 900).map(i => s"tok$i").mkString(" ")
    val text2 = (400 until 1600).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, text1), (2L, text2)).toDF("doc_id", "text")
    val merged = Sketches.hllDistinctFromRegisters(docs, "text",
      Sketches.hllMerge(
        Sketches.hllRegisters(docs.filter($"doc_id" === 1), "text", p = 8),
        Sketches.hllRegisters(docs.filter($"doc_id" === 2), "text", p = 8)), p = 8)
      .collect().head
    val whole = Sketches.hllDistinct(docs, "text", p = 8).collect().head
    assert(merged.toSeq == whole.toSeq)
  }

  test("hllRegisters: ranks stay inside [1, HllRankBits + 1]") {
    val text = (0 until 2000).map(i => s"tok$i").mkString(" ")
    val regs = Sketches.hllRegisters(Seq((1L, text)).toDF("doc_id", "text"), "text", p = 6)
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    assert(regs.nonEmpty)
    regs.foreach { case (b, r) =>
      assert(b >= 0 && b < 64)
      assert(r >= 1 && r <= Sketches.HllRankBits + 1, s"rank $r out of range at bucket $b")
    }
  }

  test("hllDistinct rejects p outside [4, 14]") {
    intercept[IllegalArgumentException] {
      Sketches.hllDistinct(Seq((1L, "x")).toDF("doc_id", "text"), "text", p = 3)
    }
  }

  private def summaryMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("mgSummary: offset form — counters = count minus the (k+1)-th count") {
    // counts: a=4, b=3, c=2, d=1; k=2 → top-3 (a,b,c), t = 2
    val docs = Seq((1L, "a a a a b b b c c d")).toDF("doc_id", "text")
    assert(summaryMap(Sketches.mgSummary(docs, "text", k = 2)) ==
      Map("a" -> 2L, "b" -> 1L))
  }

  test("mgSummary: boundary ties drop to zero and are evicted") {
    // counts: a=3, b=2, c=2; k=2 → order (a, b, c), t = 2 → b evicted
    val docs = Seq((1L, "a a a b b c c")).toDF("doc_id", "text")
    assert(summaryMap(Sketches.mgSummary(docs, "text", k = 2)) == Map("a" -> 1L))
  }

  test("mgSummary: below k+1 distinct tokens the summary is the exact counts") {
    val docs = Seq((1L, "a a b")).toDF("doc_id", "text")
    assert(summaryMap(Sketches.mgSummary(docs, "text", k = 4)) ==
      Map("a" -> 2L, "b" -> 1L))
  }

  test("mgTopk: lower bounds, one-sided undercount within m/(k+1), heavy token guaranteed present") {
    // one token with f > m/(k+1) MUST be in the summary (membership law)
    val docs = (0 until 40).map(i =>
      (i.toLong, s"heavy heavy tok${i % 13} filler$i")).toDF("doc_id", "text")
    val rows = Sketches.mgTopk(docs, "text", k = 8, topK = 10).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val (exact, lower, under, ok) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))
      assert(lower >= 0 && lower <= exact)
      assert(under == exact - lower)
      assert(ok, s"MG bound violated at ${r.getString(0)}")
    }
    val heavy = rows.find(_.getString(0) == "heavy").get
    assert(heavy.getLong(2) > 0L, "token with f > m/(k+1) missing from summary")
  }

  test("mgMerge: two-part merge replays the deterministic offset algebra exactly") {
    // half A counts: a=3,b=2,c=1 → t=1 → {a→2, b→1}
    // half B counts: b=3,d=2,a=1 → t=1 → {b→2, d→1}
    // combined: b=3,a=2,d=1 → t=1 → merged {b→2, a→1}
    val a = Seq((0L, "a a a b b c")).toDF("doc_id", "text")
    val b = Seq((1L, "a b b b d d")).toDF("doc_id", "text")
    val merged = Sketches.mgMerge(
      Sketches.mgSummary(a, "text", k = 2),
      Sketches.mgSummary(b, "text", k = 2), k = 2)
    assert(summaryMap(merged) == Map("b" -> 2L, "a" -> 1L))

    // evaluated against the union corpus: m=12, k=2 → bound 4
    val whole = a.unionByName(b)
    val out = Sketches.mgHeavyHitters(whole, "text", merged, k = 2, topK = 4)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out == Map(
      "b" -> ((5L, 2L, 3L, true)),
      "a" -> ((4L, 1L, 3L, true)),
      "d" -> ((2L, 0L, 2L, true)),
      "c" -> ((1L, 0L, 1L, true))))
  }

  test("mgReduce rejects k < 1") {
    intercept[IllegalArgumentException] {
      Sketches.mgSummary(Seq((1L, "x")).toDF("doc_id", "text"), "text", k = 0)
    }
  }

  // --- bottom-k sample quantiles -------------------------------------

  import org.apache.spark.sql.functions.{col, lit}

  test("qsQuantiles: corpus at or under k makes the sample the population — quantiles exact at ceil ranks") {
    // 100 docs with token counts 1..100 (doc i repeats "w" i times)
    val docs = (1 to 100).map(i => (i.toLong, Seq.fill(i)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val v = org.apache.spark.sql.functions.size(
      TextAnalysis.tokens(TextAnalysis.normalized(col("text"))))
    val sk = Sketches.qsSketch(docs, col("doc_id"), v, k = 256)
    val out = Sketches.qsQuantiles(sk, Seq(10, 25, 50, 75, 90, 99, 100))
      .collect().map(r => r.getInt(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    // s = 100, rank = ceil(p·100/100) = p → est = the p-th smallest = p
    Seq(10, 25, 50, 75, 90, 99, 100).foreach { p =>
      assert(out(p) == ((100, p.toLong)), s"p=$p got ${out(p)}")
    }
  }

  test("qsMerge ≡ recompute: bottom-k of disjoint parts equals the whole-corpus sketch bit-for-bit") {
    val docs = (0 until 80).map(i =>
      (i.toLong, Seq.fill(i % 13 + 1)("t").mkString(" "))).toDF("doc_id", "text")
    val v = org.apache.spark.sql.functions.size(
      TextAnalysis.tokens(TextAnalysis.normalized(col("text"))))
    def skOf(df: org.apache.spark.sql.DataFrame) =
      Sketches.qsSketch(df, col("doc_id"), v, k = 16)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getDecimal(0), r.getLong(1))).toSeq.sortBy(_.toString)
    val merged = Sketches.qsMerge(
      skOf(docs.filter($"doc_id" % 2 === 0)),
      skOf(docs.filter($"doc_id" % 2 === 1)), k = 16)
    assert(rows(merged) == rows(skOf(docs)))
    // and the estimates off the merged sketch match the whole-corpus ones
    assert(
      Sketches.qsQuantiles(merged).collect().map(_.toSeq).toSet ==
        Sketches.qsQuantiles(skOf(docs)).collect().map(_.toSeq).toSet)
  }

  test("qsEval: exact side replays ceil-rank selection; rank_err bounded by the sample law") {
    val docs = (1 to 500).map(i => (i.toLong, Seq.fill(i % 50 + 1)("x").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Sketches.qsTokenCountQuantiles(docs, "doc_id", "text", k = 128)
      .collect()
    assert(out.length == 6)
    out.foreach { r =>
      val (p, est, exact, rankErr) =
        (r.getInt(0), r.getLong(2), r.getLong(3), r.getDouble(4))
      // population: values 1..50 uniform ×10 → exact_v = ceil(p/2)
      assert(exact == (p + 1) / 2, s"p=$p exact=$exact")
      assert(est >= 1 && est <= 50)
      // DKW-style sanity: at k=128 a rank error beyond ~0.15 would be
      // a >3σ event for every p — treat as a bug, not bad luck
      assert(rankErr <= 0.15, s"p=$p rank_err=$rankErr")
    }
  }

  test("qsSketch/qsQuantiles reject bad parameters; empty sketch yields empty quantiles") {
    intercept[IllegalArgumentException] {
      Sketches.qsSketch(Seq((1L, "x")).toDF("doc_id", "text"), col("doc_id"), lit(1L), k = 1)
    }
    intercept[IllegalArgumentException] {
      Sketches.qsQuantiles(Seq((java.math.BigDecimal.ONE, 1L)).toDF("u", "v"), Seq(0))
    }
    val empty = Sketches.qsSketch(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      col("doc_id"), lit(1L), k = 8)
    assert(Sketches.qsQuantiles(empty).count() == 0)
  }

  // --- Bloom filter ---------------------------------------------------

  test("bloomProbe: no false negatives; zero-hit tokens still report in_filter=false") {
    val vocab = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val corpus = Seq((2L, "alpha beta gamma nu xi omicron pi rho")).toDF("doc_id", "text")
    val bits = Sketches.bloomBits(vocab, "text", depth = 7, width = 4096)
    val out = Sketches.bloomProbe(corpus, "text", bits, depth = 7, width = 4096)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    // every probe token has a row — absent-from-filter tokens included
    assert(out.size == 8)
    Seq("alpha", "beta", "gamma").foreach(t => assert(out(t), s"false negative on $t"))
    // 3 tokens × 7 positions in 4096 bits: a 7-way simultaneous
    // collision for any of the 5 non-members is absent for this fixed
    // hash family — all five read false
    Seq("nu", "xi", "omicron", "pi", "rho").foreach(t => assert(!out(t), s"unexpected FP on $t"))
  }

  test("bloomMerge ≡ recompute: union of part bits equals whole-corpus bits exactly") {
    val docs = (0 until 40).map(i => (i.toLong, s"shared tok${i % 9} uniq$i"))
      .toDF("doc_id", "text")
    def bitSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val merged = Sketches.bloomMerge(
      Sketches.bloomBits(docs.filter($"doc_id" % 2 === 0), "text", depth = 5, width = 512),
      Sketches.bloomBits(docs.filter($"doc_id" % 2 === 1), "text", depth = 5, width = 512))
    assert(bitSet(merged) == bitSet(Sketches.bloomBits(docs, "text", depth = 5, width = 512)))
  }

  test("bloomDecontamEval: summary arithmetic closes and the no-false-negative guarantee holds") {
    val docs = (0 until 100).map(i =>
      (i.toLong, s"common${i % 4} word${i} filler${i % 17}")).toDF("doc_id", "text")
    val bench = docs.filter($"doc_id" % 10 === 0)
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val bits = Sketches.bloomBits(bench, "text", depth = 7, width = 1024)
    val r = Sketches.bloomDecontamEval(corpus, bench, "text", bits,
      depth = 7, width = 1024).collect().head
    val (nProbe, nTrue, nPass, nFp, noFn) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))
    assert(noFn, "Bloom false negative — impossible by construction")
    assert(nPass >= nTrue)           // passes ⊇ true members
    assert(nFp == nPass - nTrue)     // summary arithmetic closes
    assert(nProbe > nTrue)           // fixture has genuine non-members
  }

  test("bloomBits rejects non-power-of-two width") {
    intercept[IllegalArgumentException] {
      Sketches.bloomBits(Seq((1L, "x")).toDF("doc_id", "text"), "text", width = 100)
    }
  }

  test("widePartials: the one-pass aggregate equals the per-family builders row for row") {
    import org.apache.spark.sql.functions._
    // shared vocab + a unique tail so every family has real content;
    // small k's force the bounded heaps to actually evict
    val docs = Seq(
      (1L, (0 until 120).map(i => s"tok${i % 37} uniq$i").mkString(" ")),
      (2L, (80 until 240).map(i => s"tok${i % 37} uniq$i").mkString(" ")),
      (3L, (200 until 400).map(i => s"tok${i % 37} uniq$i").mkString(" ")),
    ).toDF("doc_id", "text")
    val (d, wd, kk, p, mk, qk, bd, bw) = (3, 64, 16, 6, 8, 2, 3, 256)
    val row = Sketches.widePartials(docs, "text", col("doc_id"),
      d, wd, kk, p, mk, qk, bd, bw).collect().head

    def structSeq(i: Int): Seq[Seq[Any]] =
      row.getSeq[org.apache.spark.sql.Row](i).map(_.toSeq)

    val cms = Sketches.cmsCells(docs, "text", d, wd)
      .orderBy("j", "bucket").collect().map(_.toSeq).toSeq
    assert(structSeq(0) == cms, "cms")

    val kmv = Sketches.kmvSketch(docs, "text", kk)
      .collect().map(_.getDecimal(0)).toSeq
    assert(row.getSeq[java.math.BigDecimal](1) == kmv, "kmv")

    val hll = Sketches.hllRegisters(docs, "text", p)
      .orderBy("bucket").collect().map(_.toSeq).toSeq
    assert(structSeq(2) == hll, "hll")

    val mg = Sketches.mgSummary(docs, "text", mk)
      .orderBy("tok").collect().map(_.toSeq).toSeq
    assert(structSeq(3) == mg, "mg")

    val qsV = size(TextAnalysis.tokens(TextAnalysis.normalized(col("text"))))
    val qs = Sketches.qsSketch(docs, col("doc_id"), qsV, qk)
      .orderBy("u", "v").collect().map(_.toSeq).toSeq
    assert(structSeq(4) == qs, "qs")

    val bloom = Sketches.bloomBits(docs, "text", bd, bw)
      .orderBy("j", "bucket").collect().map(_.toSeq).toSeq
    assert(structSeq(5) == bloom, "bloom")
  }

  test("widePartials fuzz: one-pass aggregate == per-family builders over random corpora") {
    import org.apache.spark.sql.functions._
    // deterministic pseudo-random corpora exercising the buffer edges:
    // heap evictions (vocab >> k), heap underfill (vocab < k), unicode
    // tokens, repeated tokens, empty and single-token docs
    val rnd = new scala.util.Random(42)
    val alphabets = Seq(
      (1 to 400).map(i => s"w$i"),               // wide vocab: evictions
      (1 to 5).map(i => s"v$i"),                 // tiny vocab: underfill
      Seq("Ä", "ß", "χ", "字", "a", "the"),      // unicode + ties
    )
    for ((alpha, case_) <- alphabets.zipWithIndex) {
      val docs = (1 to 30).map { id =>
        val n = rnd.nextInt(40) // 0 => empty doc
        (id.toLong, (0 until n).map(_ => alpha(rnd.nextInt(alpha.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val (d, wd, kk, p, mk, qk, bd, bw) = (2, 32, 8, 5, 4, 3, 2, 64)
      val row = Sketches.widePartials(docs, "text", col("doc_id"),
        d, wd, kk, p, mk, qk, bd, bw).collect().head
      def structSeq(i: Int): Seq[Seq[Any]] =
        row.getSeq[org.apache.spark.sql.Row](i).map(_.toSeq)
      assert(structSeq(0) == Sketches.cmsCells(docs, "text", d, wd)
        .orderBy("j", "bucket").collect().map(_.toSeq).toSeq, s"cms case $case_")
      assert(row.getSeq[java.math.BigDecimal](1) == Sketches.kmvSketch(docs, "text", kk)
        .collect().map(_.getDecimal(0)).toSeq, s"kmv case $case_")
      assert(structSeq(2) == Sketches.hllRegisters(docs, "text", p)
        .orderBy("bucket").collect().map(_.toSeq).toSeq, s"hll case $case_")
      assert(structSeq(3) == Sketches.mgSummary(docs, "text", mk)
        .orderBy("tok").collect().map(_.toSeq).toSeq, s"mg case $case_")
      val qsV = size(TextAnalysis.tokens(TextAnalysis.normalized(col("text"))))
      assert(structSeq(4) == Sketches.qsSketch(docs, col("doc_id"), qsV, qk)
        .orderBy("u", "v").collect().map(_.toSeq).toSeq, s"qs case $case_")
      assert(structSeq(5) == Sketches.bloomBits(docs, "text", bd, bw)
        .orderBy("j", "bucket").collect().map(_.toSeq).toSeq, s"bloom case $case_")
    }
  }

  test("widePartials: an empty slice is one row of six empty arrays") {
    import org.apache.spark.sql.functions._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val rows = Sketches.widePartials(empty, "text", col("doc_id")).collect()
    assert(rows.length == 1)
    (0 until 6).foreach(i => assert(rows.head.getSeq[Any](i).isEmpty, s"field $i"))
  }
}
