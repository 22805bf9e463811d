package graft.text

import org.apache.spark.sql.functions._
import graft.SparkSpec

class QualityClassifierSpec extends SparkSpec {
  import spark.implicits._

  /** Synthetic corpus whose label IS count-expressible: positives
    * repeat "alpha" ≥ 3 times, negatives ≤ 1; filler tokens are shared
    * so presence alone cannot separate the classes. */
  private def corpus(n: Int) = {
    val rows = (0L until n.toLong).map { i =>
      val pos = i % 2 == 0
      val alphas = if (pos) 3 + (i % 3).toInt else (i % 2).toInt // 3..5 vs 0..1
      val filler = Seq("the", "quick", "fox", "beta", "gamma", "delta")
        .take(3 + (i % 4).toInt)
      val text = (Seq.fill(alphas)("alpha") ++ filler ++ Seq.fill(2)("noise")).mkString(" ")
      (i, text, pos)
    }
    rows.toDF("doc_id", "text", "label")
  }

  test("train learns a count-threshold label; held-out accuracy high") {
    val docs = corpus(120)
    val model = QualityClassifier.train(docs, "doc_id", "text", "label",
      topV = 16, steps = 4, lr = 0.05, trainFilter = col("doc_id") % 3 =!= 0)
    assert(model.weights.size <= 16)
    // "alpha" must carry the dominant positive weight.
    val wAlpha = model.weights.toMap.apply("alpha")
    assert(wAlpha > 0, s"alpha weight should be positive, got $wAlpha")
    assert(model.weights.filter(_._1 != "alpha").forall(_._2 < wAlpha))

    val path = java.nio.file.Files.createTempDirectory("qc_w").toString + "/w"
    QualityClassifier.persist(model, spark, path)
    val scored = QualityClassifier.score(docs, "doc_id", "text", spark.read.parquet(path))
      .join(docs.select("doc_id", "label"), Seq("doc_id"))
    val heldOut = scored.filter(col("doc_id") % 3 === 0)
    val acc = heldOut.filter(col("pred") === col("label")).count().toDouble /
      heldOut.count()
    assert(acc >= 0.9, s"held-out accuracy $acc")
  }

  test("score is deterministic and exact from persisted weights") {
    val docs = corpus(40)
    val model = QualityClassifier.train(docs, "doc_id", "text", "label", topV = 8, steps = 2)
    val path = java.nio.file.Files.createTempDirectory("qc_w").toString + "/w"
    QualityClassifier.persist(model, spark, path)
    val w = spark.read.parquet(path)
    val a = QualityClassifier.score(docs, "doc_id", "text", w)
      .orderBy("doc_id").collect().toSeq
    val b = QualityClassifier.score(docs.repartition(7), "doc_id", "text", w)
      .orderBy("doc_id").collect().toSeq
    assert(a == b, "scores must not depend on partitioning")
  }

  test("docs with no vocab tokens score exactly the bias") {
    val docs = corpus(30).union(Seq((999L, "zzz yyy xxx", false)).toDF("doc_id", "text", "label"))
    val model = QualityClassifier.train(docs, "doc_id", "text", "label",
      topV = 4, steps = 1, trainFilter = col("doc_id") < 900)
    val path = java.nio.file.Files.createTempDirectory("qc_w").toString + "/w"
    QualityClassifier.persist(model, spark, path)
    val r = QualityClassifier.score(docs, "doc_id", "text", spark.read.parquet(path))
      .filter(col("doc_id") === 999L).head()
    assert(r.getAs[Int]("n_feats") == 0)
    assert(math.abs(r.getAs[Double]("score") - model.bias.toDouble) < 1e-6)
  }

  test("vocabulary caps at topV with deterministic tie-break") {
    val docs = corpus(60)
    val v = QualityClassifier.vocabulary(docs, "doc_id", "text", 3)
      .collect().map(_.getString(0)).toSeq
    assert(v.size == 3)
    val v2 = QualityClassifier.vocabulary(docs.repartition(5), "doc_id", "text", 3)
      .collect().map(_.getString(0)).toSeq
    assert(v == v2)
  }

  test("driver vocabulary order is the engine's UTF-8 byte order, not UTF-16") {
    // U+E000 is one UTF-16 unit (0xE000) and three UTF-8 bytes (EE ..);
    // U+1F600 is a surrogate pair (0xD83D ..) and four bytes (F0 ..):
    // Java String order and the engine's byte order disagree on them.
    val bmpHigh = "\uE000"
    val supp = new String(Character.toChars(0x1F600))
    assert(supp.compareTo(bmpHigh) < 0) // UTF-16 order: supp first
    // every doc carries every token once, so all dfs tie and the
    // vocabulary order is the token order alone
    val docs = (0L until 12L).map { i =>
      (i, Seq("beta", supp, "alpha", bmpHigh, "zeta").mkString(" "), i % 2 == 0)
    }.toDF("doc_id", "text", "label")
    val engine = QualityClassifier.vocabulary(docs, "doc_id", "text", 10)
      .collect().map(_.getString(0)).toSeq
    assert(engine == Seq("alpha", "beta", "zeta", bmpHigh, supp))
    val model = QualityClassifier.train(docs, "doc_id", "text", "label",
      topV = 10, steps = 1)
    assert(model.weights.map(_._1) == engine)
  }
}
