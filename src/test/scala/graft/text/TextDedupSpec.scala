package graft.text

import org.apache.spark.sql.functions._
import graft.SparkSpec

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "The  quick brown fox jumps over the lazy dog"), // ws/case variant ⇒ exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup
    (4L, "completely different words entirely unrelated content"),
  ).toDF("doc_id", "text")

  test("graft_shingles kernel ≡ the HOF reference chain, element for element") {
    // Adversarial corpus: multi-whitespace runs, tabs/newlines/CR/FF/VT,
    // leading/trailing ws, case (incl. non-ASCII case mapping),
    // multilingual text, 0/1/k-1 token docs, duplicate grams, and a
    // generated batch of random whitespace/word soups.
    val gen = new scala.util.Random(41)
    val alphabet = Vector("the", "Cat", "Straße", "ÜBER", "中文", "naïve", "x", "", " ", "\t", "\n", "\r", "\f", "", "  ")
    val fuzz = (1 to 200).map { i =>
      (100L + i, (1 to gen.nextInt(30)).map(_ => alphabet(gen.nextInt(alphabet.size))).mkString(gen.nextInt(3) match {
        case 0 => " "; case 1 => ""; case _ => "\t"
      }))
    }
    val edge = Seq(
      (1L, ""), (2L, "   \t\n "), (3L, "one"), (4L, "one two"),
      (5L, "One  TWO\tthree\nfour\rfive\ffivesix"),
      (6L, " padded  both   ends "), (7L, "dup dup dup dup"),
      (8L, "Straße ÜBER naïve 中文 словарь"),
    )
    val df = (edge ++ fuzz).toDF("doc_id", "text")
    for (k <- Seq(1, 2, 3, 8)) {
      val ref = df
        .withColumn("_toks", TextAnalysis.tokens(TextAnalysis.normalized(col("text"))))
        .select(col("doc_id"), TextDedup.shinglesOfTokens(col("_toks"), k).as("g"))
        .as[(Long, Seq[String])].collect().toMap
      val kernel = df
        .select(col("doc_id"), TextDedup.shingles(col("text"), k).as("g"))
        .as[(Long, Seq[String])].collect().toMap
      assert(kernel == ref, s"k=$k mismatch: ${kernel.toSeq.diff(ref.toSeq).take(3)}")
    }
    // the documented empty-doc edge survives the kernel rewrite
    val empty = df.filter(col("doc_id") === 1L)
      .select(TextDedup.shingles(col("text"), 2)).as[Seq[String]].head()
    assert(empty == Seq(""))
    // the sibling kernels on the same adversarial corpus:
    // graft_tokens ≡ tokens(normalized(text)) — non-distinct, in order
    val refToks = df.select(col("doc_id"),
        TextAnalysis.tokens(TextAnalysis.normalized(col("text"))).as("t"))
      .as[(Long, Seq[String])].collect().toMap
    val kToks = df.select(col("doc_id"), TextAnalysis.normalizedTokens(col("text")).as("t"))
      .as[(Long, Seq[String])].collect().toMap
    assert(kToks == refToks)
    // graft_ngrams ≡ ngramsOf over the tokens — unigrams then bigrams
    val refGrams = df.withColumn("_toks", TextAnalysis.normalizedTokens(col("text")))
      .select(col("doc_id"), ImportanceResampling.ngramsOf(col("_toks")).as("g"))
      .as[(Long, Seq[String])].collect().toMap
    val kGrams = df.select(col("doc_id"),
        call_function("graft_ngrams", coalesce(col("text"), lit(""))).as("g"))
      .as[(Long, Seq[String])].collect().toMap
    assert(kGrams == refGrams)
  }

  test("exactDedup keeps min id per normalized text") {
    val out = TextDedup.exactDedup(docs, col("text"), col("doc_id"))
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 4L))
  }

  test("exactDedupAgainstBase: in-batch keep-min-id, then base fingerprints win") {
    val base = Seq((100L, "already stored document")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "Already  STORED document"),  // normalizes to a base doc → dropped
      (11L, "fresh new document"),
      (12L, "fresh new document"),        // in-batch dup of 11 → dropped
      (13L, "another fresh one"),
    ).toDF("doc_id", "text")
    val out = TextDedup.exactDedupAgainstBase(batch, base, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(11L, 13L))
    // idempotence: re-ingesting the surviving shard against base+shard
    // inserts nothing new
    val again = TextDedup.exactDedupAgainstBase(batch, base.unionByName(batch), "doc_id", "text")
    assert(again.count() == 0)
  }

  test("minhashDedupAgainstBase: in-batch verified dedup, then base buckets gate survivors") {
    val base = Seq(
      (100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "The  quick brown fox jumps over the lazy dog"), // same word set as base → gated
      (11L, "completely different words entirely unrelated content"),
      (12L, "completely different words entirely unrelated content"), // in-batch dup of 11
      (13L, "some third topic about other things altogether"),
    ).toDF("doc_id", "text")
    val out = TextDedup
      .minhashDedupAgainstBase(batch, base, "doc_id", "text", threshold = 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(11L, 13L))
    // idempotence: re-gating the shard against base ∪ admitted admits nothing
    val admitted = batch.filter(col("doc_id").isin(11L, 13L))
    val again = TextDedup.minhashDedupAgainstBase(
      batch, base.unionByName(admitted), "doc_id", "text", threshold = 0.9)
    assert(again.count() == 0)
    // empty base leaves the in-batch dedup result untouched
    val noBase = TextDedup.minhashDedupAgainstBase(
      batch, base.filter(lit(false)), "doc_id", "text", threshold = 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(noBase == Set(10L, 11L, 13L))
  }

  test("minhashDedupAgainstBaseBuckets(stored index) ≡ minhashDedupAgainstBase") {
    // the production form (base side = stored distinct (band, bucket)
    // index) must be row-identical to the from-text derivation, on a
    // base with exact dups, near dups, and unrelated docs
    val base = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "the quick brown fox jumps over the lazy dog"),
      (102L, "some third topic about other things altogether"),
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "The  quick brown fox jumps over the lazy dog"),
      (11L, "completely different words entirely unrelated content"),
      (12L, "completely different words entirely unrelated content"),
      (13L, "some third topic about other things altogether"),
      (14L, "a fourth topic no one has stored yet"),
    ).toDF("doc_id", "text")
    val fromText = TextDedup
      .minhashDedupAgainstBase(batch, base, "doc_id", "text", threshold = 0.9)
      .select("doc_id").as[Long].collect().toSet
    val stored = TextDedup.minhashBuckets(base, "doc_id", "text",
        k = 1, numHashes = 30, bands = 6)
      .select("band", "bucket").distinct()
    val fromIndex = TextDedup
      .minhashDedupAgainstBaseBuckets(batch, stored, "doc_id", "text", threshold = 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(fromIndex == fromText)
    assert(fromIndex == Set(11L, 14L))
  }

  test("BucketIndex: builds once, meta-skips a matching rebuild, rebuilds on base change") {
    val wh = java.nio.file.Files.createTempDirectory("graft_bidx").toString
    val base = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (102L, "some third topic about other things altogether"),
    ).toDF("doc_id", "text")
    val h = BucketIndex.ensure(spark, wh, "t", base, "doc_id", "text",
      k = 1, numHashes = 30, bands = 6)
    val expected = TextDedup.minhashBuckets(base, "doc_id", "text", 1, 30, 6)
      .select("band", "bucket").distinct()
      .as[(Int, Long)].collect().toSet
    assert(BucketIndex.buckets(spark, h).as[(Int, Long)].collect().toSet == expected)
    // matching meta: ensure() must NOT rewrite the published table
    val mtime0 = new java.io.File(h.bucketsPath).lastModified()
    BucketIndex.ensure(spark, wh, "t", base, "doc_id", "text", 1, 30, 6)
    assert(new java.io.File(h.bucketsPath).lastModified() == mtime0)
    // base change (row count drifts) forces a rebuild with the new content
    val base2 = base.unionByName(
      Seq((103L, "a brand new stored document")).toDF("doc_id", "text"))
    val h2 = BucketIndex.ensure(spark, wh, "t", base2, "doc_id", "text", 1, 30, 6)
    val expected2 = TextDedup.minhashBuckets(base2, "doc_id", "text", 1, 30, 6)
      .select("band", "bucket").distinct()
      .as[(Int, Long)].collect().toSet
    assert(BucketIndex.buckets(spark, h2).as[(Int, Long)].collect().toSet == expected2)
    assert(expected2 != expected)
  }

  test("repsOfHashed ≡ groupBy(_fp).agg(min(id), first(sh)) on a dup-heavy corpus") {
    val corpus = Seq(
      (7L, "alpha beta gamma"), (3L, "alpha  BETA gamma"), (9L, "alpha beta gamma"),
      (2L, "delta epsilon"), (5L, "delta epsilon"),
      (11L, "unique words here"), (12L, ""),
    ).toDF("doc_id", "text")
    val hashed = TextDedup.withHashedShingles(corpus, "text", 1, "sh")
      .select(col("doc_id"), col("sh"), xxhash64(col("sh")).as("_fp"))
    val (repIds, reps) = TextDedup.repsOfHashed(hashed, "doc_id")
    val refReps = hashed.groupBy(col("_fp"))
      .agg(min(col("doc_id")).as("doc_id"), first(col("sh")).as("sh"))
    assert(reps.select("doc_id").as[Long].collect().toSet ==
      refReps.select("doc_id").as[Long].collect().toSet)
    assert(reps.as[(Long, Seq[Long])].collect().toMap ==
      refReps.select("doc_id", "sh").as[(Long, Seq[Long])].collect().toMap)
    assert(repIds.select("doc_id").as[Long].collect().toSet ==
      refReps.select("doc_id").as[Long].collect().toSet)
  }

  test("shingles: distinct word k-grams of normalized text") {
    val sh = docs.filter(col("doc_id") === 1)
      .select(TextDedup.shingles(col("text"), 3).as("sh"))
      .as[Seq[String]].head()
    assert(sh.contains("the quick brown"))
    assert(sh.contains("the lazy dog"))
    assert(sh.size == 7) // 9 tokens → 7 trigrams, all distinct
  }

  test("minhash near-dup pairs find the word-set duplicates and the near dup") {
    val pairs = TextDedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.7, k = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical word sets ⇒ guaranteed candidate
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // 8/10 jaccard = 0.8
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhashDedup drops losers, keeps min-id representative") {
    val out = TextDedup.minhashDedup(docs, "doc_id", "text", threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(out.contains(1L) && out.contains(4L))
    assert(!out.contains(2L))
  }

  test("minhashDedupLinear: exact dups and rep-similar near-dups drop; drops ⊆ all-pairs drops") {
    val linear = TextDedup.minhashDedupLinear(docs, "doc_id", "text", threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    // identical word sets collapse regardless of path; unrelated doc survives
    assert(!linear.contains(2L))
    assert(linear.contains(1L) && linear.contains(4L))
    // rep-verify can only drop a subset of what all-pairs drops
    val allPairs = TextDedup.minhashDedup(docs, "doc_id", "text", threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(allPairs.subsetOf(linear))
  }

  // The adversarial LSH corpus: every doc is 60 boilerplate tokens +
  // one unique token (pairwise jaccard 60/62 ≈ 0.968, all distinct
  // shingle sets so the identical-fingerprint collapse does NOT
  // engage) — the whole corpus crowds into one (band, bucket) group
  // per band.
  private def boilerplateDocs(n: Int) = {
    val common = (0 until 60).map(i => s"w$i").mkString(" ")
    (0 until n).map(i => (i.toLong, s"$common u$i")).toDF("doc_id", "text")
  }

  test("hot-bucket cap: oversized buckets propose linear rep pairs; dedup result unchanged on a blob") {
    val n = 300
    val hot = boilerplateDocs(n)
    // Uncapped (default cap 1024 >> 300): all-pairs inside the hot
    // bucket — quadratic candidate count.
    val uncapped = TextDedup
      .minhashNearDupPairs(hot, "doc_id", "text", threshold = 0.9, k = 1)
      .count()
    // Capped at 16: every bucket over the cap proposes only (bucket
    // min-id, member) pairs — linear in the bucket size. Each doc can
    // pair with at most one rep per band (6 bands), so the count is
    // linearly bounded; the quadratic form would be ~n²/2.
    val capped = TextDedup
      .minhashNearDupPairs(hot, "doc_id", "text", threshold = 0.9, k = 1,
        maxBucketSize = 16)
      .count()
    assert(uncapped > 20L * n, s"expected quadratic uncapped pair count, got $uncapped")
    assert(capped <= 6L * n, s"expected linear capped pair count, got $capped")
    assert(capped >= n - 1L, s"rep pairs must still cover the bucket, got $capped")
    // Keep-min-id dedup is unchanged by the cap on a transitive blob:
    // every member is over-threshold similar to its bucket rep, so the
    // rep drop covers exactly what any smaller-id member drop covered.
    val survUncapped = TextDedup
      .minhashDedup(hot, "doc_id", "text", threshold = 0.9, k = 1)
      .select("doc_id").as[Long].collect().toSet
    val survCapped = TextDedup
      .minhashDedup(hot, "doc_id", "text", threshold = 0.9, k = 1, maxBucketSize = 16)
      .select("doc_id").as[Long].collect().toSet
    assert(survCapped == survUncapped)
    assert(survCapped.contains(0L))
  }

  test("hot-bucket cap scales: 5k-doc single-bucket flood stays linear") {
    val n = 5000
    val capped = TextDedup
      .minhashNearDupPairs(boilerplateDocs(n), "doc_id", "text", threshold = 0.9,
        k = 1, maxBucketSize = 64)
      .count()
    // the all-pairs form would enumerate ~12.5M candidates here; the
    // linear fall-through proposes at most one rep pair per doc per band
    assert(capped <= 6L * n, s"expected linear capped pair count, got $capped")
    assert(capped >= n / 2L, s"rep pairs should cover most docs, got $capped")
  }

  test("one LSH core: the MinHash entry points agree on identical-set groups and an oversized bucket") {
    // 40 boilerplate docs fill one bucket per band, over the cap of 8;
    // ids 100+ repeat six of them (identical word sets after case and
    // whitespace normalization); 200/201 are an identical pair; the
    // 4xx family shares 10 of 16 words (jaccard 0.625: candidates that
    // verify below the threshold); 3xx are unrelated.
    val blob = boilerplateDocs(40).as[(Long, String)].collect().toSeq
    val family = (0 until 8).map(i => (400L + i, (0 until 10).map(w => s"v$w").mkString(" ") +
      s" x$i y$i z$i"))
    val corpus = (blob ++ blob.take(6).map { case (i, t) => (100L + i, t.toUpperCase + "  ") } ++
      family ++ Seq(
        (200L, "an unrelated identical pair"), (201L, "An  unrelated identical PAIR"),
        (301L, "kilo lima mike november oscar"), (303L, "papa quebec romeo sierra tango"),
        (305L, "uniform victor whiskey xray yankee"))).toDF("doc_id", "text")
    val (threshold, k, h, b, cap) = (0.9, 1, 30, 6, 8)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet

    val dedup = ids(TextDedup.minhashDedup(corpus, "doc_id", "text", threshold, k, h, b, cap))
    val losers = TextDedup
      .minhashNearDupPairs(corpus, "doc_id", "text", threshold, k, h, b, cap)
      .select("id_b").distinct().as[Long].collect().toSet
    assert(dedup == ids(corpus) -- losers)
    assert(dedup.contains(0L) && !dedup.contains(1L) && !dedup.contains(100L))
    assert(family.forall { case (i, _) => dedup.contains(i) })

    val (local, _) = TextDedup.minhashDedupHashed(corpus, "doc_id", "text", threshold, k, h, b, cap)
    assert(ids(local) == dedup)

    val base = corpus.filter(col("doc_id") % 2 === 0)
    val batch = corpus.filter(col("doc_id") % 2 =!= 0)
    val fromText = ids(TextDedup
      .minhashDedupAgainstBase(batch, base, "doc_id", "text", threshold, k, h, b, cap))
    val stored = TextDedup.minhashBuckets(base, "doc_id", "text", k, h, b)
      .select("band", "bucket").distinct()
    val fromIndex = ids(TextDedup
      .minhashDedupAgainstBaseBuckets(batch, stored, "doc_id", "text", threshold, k, h, b, cap))
    assert(fromIndex == fromText)
    assert(Set(301L, 303L, 305L).subsetOf(fromIndex) && !fromIndex.contains(1L))
  }

  test("hot-bucket telemetry: oversized buckets are observed and counted, never silent") {
    graft.quality.SkewTelemetry.reset()
    TextDedup
      .minhashNearDupPairs(boilerplateDocs(100), "doc_id", "text", threshold = 0.9,
        k = 1, maxBucketSize = 16)
      .count()
    // the QueryExecutionListener fires asynchronously after the action
    val deadline = System.currentTimeMillis() + 15000
    var ev = graft.quality.SkewTelemetry.lastEvent
    while (ev.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      ev = graft.quality.SkewTelemetry.lastEvent
    }
    assert(ev.nonEmpty, "no skew observation arrived within 15s")
    assert(ev.get.oversizedBuckets > 0)
    assert(ev.get.maxBucketSize > 16)
    // (B−1)(B−2)/2 per oversized bucket — the declined candidate count
    assert(ev.get.skippedPairs > 0)
    // the bounded per-metric map holds the same event, race-free
    assert(graft.quality.SkewTelemetry.eventFor(ev.get.metric).contains(ev.get))
    // rate limit: after the family's first WARN, a further run of the
    // same operator family folds into the suppressed counter. The
    // baseline is read RELATIVE (not == 0): a late async listener from
    // an earlier test's action can land after reset() and legitimately
    // consume the first-WARN slot.
    val s0 = graft.quality.SkewTelemetry.suppressedWarnings("minhash")
    TextDedup
      .minhashNearDupPairs(boilerplateDocs(100), "doc_id", "text", threshold = 0.9,
        k = 1, maxBucketSize = 16)
      .count()
    val deadline2 = System.currentTimeMillis() + 15000
    while (graft.quality.SkewTelemetry.suppressedWarnings("minhash") <= s0 &&
      System.currentTimeMillis() < deadline2) Thread.sleep(50)
    assert(graft.quality.SkewTelemetry.suppressedWarnings("minhash") > s0,
      "a repeat oversized event for the family must be suppressed, not re-WARNed")
  }

  test("band-shuffle skew: a 50%-hot bucket never concentrates member rows on one task") {
    // 8000 boilerplate docs (distinct shingle sets, so the fingerprint
    // collapse cannot shrink them) land ~97% in ONE bucket per band.
    // Under the old collected-list design each hot (band,bucket) key
    // shipped its ~n member structs to ONE reducer task (~n records on
    // that task). The two-phase design never shuffles the hot members
    // at all: the sizing aggregate map-side combines to one row per
    // bucket per mapper, the stats join broadcasts, and the rep check
    // is narrow — so no task should read anywhere near n shuffle
    // records.
    val n = 8000
    val docs = boilerplateDocs(n)

    // Record counts are meaningless under AQE's size-based coalescing
    // (tiny healthy shuffles legally merge into one task); BYTES
    // against a shrunk advisory partition size are the honest metric:
    // coalescing keeps every merged partition near the advisory, so
    // only an unsplittable hot AGGREGATE key can blow past it.
    val advisory = 65536L
    val taskShuffleBytes =
      scala.collection.concurrent.TrieMap.empty[Long, Long]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null && m.shuffleReadMetrics.totalBytesRead > 0)
          taskShuffleBytes.put(te.taskInfo.taskId, m.shuffleReadMetrics.totalBytesRead)
      }
    }
    // 32 reducer partitions (the suite default of 4 makes even a
    // HEALTHY uniform shuffle of this corpus ~700 KB/task) and AQE
    // bars scaled to the fixture's KBs (the factor-vs-median rule is
    // untouched). The discriminator this leaves: uniform shuffles
    // divide by the partition count; a single hot KEY cannot be split
    // and concentrates the same bytes on one task at ANY partition
    // count — exactly what the old collected-list sizing did.
    val tuned = Seq(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisory.toString,
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> advisory.toString)
    val saved = tuned.map { case (k, _) => k -> spark.conf.getOption(k) }
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.sparkContext.addSparkListener(listener)
    try {
      val pairs = TextDedup
        .minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.9,
          k = 1, maxBucketSize = 64)
        .count()
      assert(pairs >= n / 2, s"rep pairs should cover the hot cluster, got $pairs")
      // task-end events arrive asynchronously; wait for the flow to settle
      val deadline = System.currentTimeMillis() + 10000
      var last = -1
      while (taskShuffleBytes.size != last && System.currentTimeMillis() < deadline) {
        last = taskShuffleBytes.size
        Thread.sleep(300)
      }
      val maxRead = taskShuffleBytes.values.foldLeft(0L)(math.max)
      // The old collected-list design shipped the hot bucket's ~n
      // member structs (~2 MB here) to one reducer — 30x the advisory.
      // The flat design's worst task stays within a few advisory units
      // (hash imbalance over 32 unsplittable-but-small partitions);
      // 8x is the generous, version-robust line between the two.
      assert(maxRead <= 8 * advisory,
        s"one task read $maxRead shuffle bytes (advisory $advisory) — a hot " +
          "bucket's members concentrated; the sizing aggregate is no longer flat")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("verifyJaccard computes exact jaccard on candidate pairs") {
    val pairs = Seq((1L, 3L)).toDF("id_a", "id_b")
    val j = TextDedup.verifyJaccard(pairs, docs, "doc_id", "text", k = 1)
      .select("jaccard").as[Double].head()
    // word sets: {the,quick,brown,fox,jumps,over,lazy,dog} vs ...{cat}: 7/9
    assert(math.abs(j - 7.0 / 9.0) < 1e-6)
  }

  test("simhash: identical normalized texts share signature; hamming 0") {
    val sigs = docs.select(col("doc_id"), TextDedup.simhash64(col("text")).as("sig"))
    val s1 = sigs.filter(col("doc_id") === 1).select("sig").as[Long].head()
    val s2 = sigs.filter(col("doc_id") === 2).select("sig").as[Long].head()
    val s4 = sigs.filter(col("doc_id") === 4).select("sig").as[Long].head()
    assert(s1 == s2)
    assert(s1 != s4)
    val h12 = sigs.filter(col("doc_id") === 1)
      .crossJoin(sigs.filter(col("doc_id") === 2).select(col("sig").as("sig2")))
      .select(TextDedup.hamming64(col("sig"), col("sig2")).cast("int"))
      .as[Int].head()
    assert(h12 == 0)
  }

  test("simhashPairs finds the identical pair via band collision") {
    val pairs = TextDedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("blockedJaccardPairs respects blocks") {
    val blocked = docs.withColumn("block", when(col("doc_id") <= 2, "a").otherwise("b"))
    val pairs = TextDedup.blockedJaccardPairs(blocked, "doc_id", "text", "block", k = 1, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L))) // (1,3) crosses blocks → excluded
  }

  test("dupGramStats: cross-doc instances counted, within-doc repeats are not") {
    val fixture = Seq(
      (1L, "a b c d"),     // grams "a b c","b c d" — first shared with doc 2
      (2L, "a b c x"),     // grams "a b c","b c x"
      (3L, "z z z z z"),   // "z z z" ×3 — repeats only WITHIN this doc
      (4L, ""),            // no grams
      (5L, "q w"),         // shorter than k → one short gram
    ).toDF("doc_id", "text")
    val out = TextDedup.dupGramStats(fixture, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((2, 1, 0.5)))
    assert(out(2L) == ((2, 1, 0.5)))
    assert(out(3L) == ((3, 0, 0.0))) // within-doc repetition ≠ cross-doc dup
    assert(out(4L) == ((0, 0, 0.0)))
    assert(out(5L) == ((1, 0, 0.0)))
  }

  private def esd(rows: Seq[(Long, String)], k: Int) =
    TextDedup.exactSubstringDedup(rows.toDF("doc_id", "text"), "doc_id", "text", k)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap

  test("exactSubstringDedup: untouched docs keep the fingerprint md5; dup docs vanish entirely") {
    val out = esd(Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f"),          // exact dup of 1 → BOTH fully removed (Lee et al.)
      (3L, "one two three four"),   // unique → untouched
      (4L, ""),                     // empty → trivially untouched
    ), k = 3)
    assert(out(1L) == ((6, 0, 1, md5Hex(""))))
    assert(out(2L) == ((6, 0, 1, md5Hex(""))))
    assert(out(3L) == ((4, 4, 0, md5Hex("one two three four"))))
    assert(out(4L) == ((0, 0, 0, md5Hex(""))))
  }

  test("exactSubstringDedup: shared interior span is cut exactly; flanks survive") {
    // docs 1/2 share the 4-token run "c1 c2 c3 c4"; with k=3 the dup
    // gram starts cover exactly that run (two overlapping 3-grams →
    // one coalesced span), the distinct flanks stay
    val out = esd(Seq(
      (1L, "l1 l2 c1 c2 c3 c4 r1 r2"),
      (2L, "x1 c1 c2 c3 c4 y1 y2 y3"),
    ), k = 3)
    assert(out(1L) == ((8, 4, 1, md5Hex("l1 l2 r1 r2"))))
    assert(out(2L) == ((8, 4, 1, md5Hex("x1 y1 y2 y3"))))
  }

  test("exactSubstringDedup: within-doc repeat duplicates itself; disjoint spans stay separate") {
    // "p q r" occurs twice inside doc 1 only — instance count 2 →
    // duplicated; the occurrences are far apart → two spans
    val out = esd(Seq(
      (1L, "p q r m1 m2 m3 m4 m5 p q r"),
      (2L, "totally other words here now"),
    ), k = 3)
    assert(out(1L) == ((11, 5, 2, md5Hex("m1 m2 m3 m4 m5"))))
    assert(out(2L)._3 == 0)
  }

  test("exactSubstringDedup: token-adjacent spans coalesce into one maximal span") {
    // doc 1 shares "a1 a2 a3" with doc 2 and "b1 b2 b3" with doc 3;
    // in doc 1 the two runs are adjacent → ONE removal span of 6
    val out = esd(Seq(
      (1L, "u1 a1 a2 a3 b1 b2 b3 u2"),
      (2L, "a1 a2 a3 w1 w2 w3 w4 w5"),
      (3L, "z1 z2 z3 z4 z5 b1 b2 b3"),
    ), k = 3)
    assert(out(1L) == ((8, 2, 1, md5Hex("u1 u2"))))
  }

  test("exactSubstringDedupPacked ≡ exactSubstringDedup on the crafted corpus") {
    // every structural case the exact-variant tests cover, in one
    // corpus: exact dup, shared interior span, within-doc repeat,
    // adjacent coalesce, empty doc, untouched doc
    val rows = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f"),
      (3L, "l1 l2 c1 c2 c3 c4 r1 r2"),
      (4L, "x1 c1 c2 c3 c4 y1 y2 y3"),
      (5L, "p q r m1 m2 m3 m4 m5 p q r"),
      (6L, ""),
      (7L, "one two three four"),
    ).toDF("doc_id", "text")
    val exact = TextDedup.exactSubstringDedup(rows, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val packed = TextDedup.exactSubstringDedupPacked(rows, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(packed == exact)
  }

  test("exactSubstringDedupPacked ≡ exactSubstringDedup on the fixture corpus") {
    // the real 500-doc fixture at the td14 parameters: the packed
    // 128-bit gram key must reproduce the exact-text result
    // bit-for-bit (collision odds ~G²/2^129 — zero at any fixture G)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val exact = TextDedup.exactSubstringDedup(docs, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val packed = TextDedup.exactSubstringDedupPacked(docs, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(packed == exact)
    assert(exact.size == 500)
  }

  test("packed shingle store: pack kernel is sorted-distinct 4-byte sets; packed jaccard == sorted jaccard") {
    // kernel algebra on crafted hashes: dups and 32-bit-equal values
    // collapse, order normalizes, bytes are 4 per element
    val crafted = Seq(Tuple1(Seq(
      0x00000001ffffffffL, // low 32 = -1
      0x7000000100000005L, 0x0000000000000005L, // distinct longs, SAME low 32 → one element
      42L, 42L, // duplicate
    ))).toDF("hs")
    val packed = crafted.select(call_function("graft_pack_hashes32", col("hs")).as("p"))
      .as[Array[Byte]].head()
    assert(packed.length == 3 * 4, "3 distinct 32-bit values, 4 bytes each")

    // jaccard equivalence on real shingle sets (no low-32 collisions
    // among a handful of shingles, so packed must equal sorted exactly)
    val pairs = docs.alias("a").crossJoin(docs.alias("b"))
      .select(
        col("a.doc_id").as("ida"), col("b.doc_id").as("idb"),
        call_function("graft_hash_shingles",
          TextDedup.shingles(col("a.text"), 3)).as("sha"),
        call_function("graft_hash_shingles",
          TextDedup.shingles(col("b.text"), 3)).as("shb"))
      .select(col("ida"), col("idb"),
        round(call_function("graft_jaccard_sorted", col("sha"), col("shb")), 6).as("j64"),
        round(call_function("graft_jaccard_packed32",
          call_function("graft_pack_hashes32", col("sha")),
          call_function("graft_pack_hashes32", col("shb"))), 6).as("j32"))
      .collect()
    pairs.foreach(r => assert(r.getDouble(2) == r.getDouble(3),
      s"pair (${r.getLong(0)}, ${r.getLong(1)}): j64=${r.getDouble(2)} j32=${r.getDouble(3)}"))
  }

  test("verifiedCollisionGatePacked admits exactly what the unpacked gate admits") {
    val base = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "some third topic about other things altogether"),
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "The quick brown fox jumps over the lazy dog"), // true near-dup of 100
      (11L, "completely different words entirely unrelated content"),
      (12L, "some third topic about other things altogether really"),
    ).toDF("doc_id", "text")
    val (k, h, b) = (3, 30, 6)
    val hashed = TextDedup.withHashedShingles(batch, "text", k, "sh")
      .select(col("doc_id"), col("sh"))
    val buckets = TextDedup.minhashBuckets(batch, "doc_id", "text", k, h, b)
    val baseBuckets = TextDedup.minhashBuckets(base, "doc_id", "text", k, h, b)
    val baseHashed = TextDedup.withHashedShingles(base, "text", k, "sh")
      .select(col("doc_id"), col("sh"))
    val basePacked = baseHashed
      .select(col("doc_id"), TextDedup.packedShingles(col("sh")).as("shp"))
    val unpacked = TextDedup.verifiedCollisionGate(
      batch, hashed, buckets, baseBuckets, baseHashed, "doc_id", 0.8)
      .select("doc_id").as[Long].collect().toSet
    val packed = TextDedup.verifiedCollisionGatePacked(
      batch, hashed, buckets, baseBuckets, basePacked, "doc_id", 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(packed == unpacked)
    assert(!packed.contains(10L), "true near-dup must drop")
    assert(packed.contains(11L), "unrelated doc must survive")
  }

  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }
}
