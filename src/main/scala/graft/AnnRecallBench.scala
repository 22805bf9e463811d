package graft

import org.apache.spark.sql.functions._

/** ANN quality-vs-cost sweep — the accuracy side of the tradeoff the
  * sf1/sf10 exponents only half-describe. A measured exponent says an
  * index is CHEAP; it says nothing about whether the index still
  * returns the right neighbors. This main prices both at once: for
  * every approximate top-k query in the v-family, wall time (same
  * warm-up + min-of-reps noop-sink protocol as [[Bench]]) and
  * recall@10 against the exact brute-force ground truth (`v1`), on
  * the SAME corpus and query set the bench and oracle use — so each
  * number attaches to a query that is also oracle-green.
  *
  * Recall is computed distributed (inner join on (query_id, vec_id)
  * against the persisted truth set, count ratio) — no driver-side
  * result materialization, so the measurement itself follows the
  * engine's own no-collect rule and runs at any scale where the
  * ground truth is computable. Ground truth is exact brute force,
  * which is quadratic — that bounds the MEASUREMENT to scales like
  * sf1/sf10 (2·10⁴/2·10⁵ vectors, still exact), the standard ANN
  * evaluation practice (ann-benchmarks does the same); the indexes
  * themselves have separately-measured scale exponents.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/tmp/sf1 tools/runmain.sh graft.AnnRecallBench
  * Prints ONE JSON line; the campaign folds it into
  * MEASUREMENTS_R11.json / ARCHITECTURE.md's ANN table.
  */
object AnnRecallBench {

  /** The approximate v-family, each against v1's exact truth. v1
    * itself is timed too (recall 1.0 by construction — a protocol
    * sanity check and the speedup denominator). */
  val methods: Seq[String] = Seq(
    "v1_cosine_topk",
    "v3_lsh_topk",
    "v4_ivf_topk",
    "v7_ivf_kmeans_topk",
    "v8_quantized_topk",
    "v9_quantized_rerank",
    "v12_pq_rerank_topk",
    "v15_ivfpq_topk")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf1")
    val reps = sys.env.get("SPARK_GRAFT_ANN_REPS").map(_.toInt).getOrElse(3)
    val spark = Defaults.sessionBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nVecs = spark.read.parquet(s"$sfDir/embeddings.parquet").count()

    // Ground truth staged to scratch parquet (NOT .cache(): the timed
    // runs clearCache() between methods, which would silently evict a
    // cached truth frame and re-run the quadratic scoring inside a
    // recall join).
    val truthPath = Defaults.scratchDir("graft-ann-truth") + "/truth"
    SparkEntry.queries("v1_cosine_topk")(spark, sfDir)
      .select(col("query_id"), col("vec_id"))
      .write.mode("overwrite").parquet(truthPath)
    spark.catalog.clearCache()
    val truthRows = spark.read.parquet(truthPath).count().toDouble

    def f1(v: Double) = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    def f4(v: Double) = "%.4f".formatLocal(java.util.Locale.ROOT, v)

    def timeOnce(name: String): Option[Double] = Profile.noopRun(spark, sfDir, name, "annbench")

    var v1Sec = Double.NaN
    val blocks = methods.flatMap { name =>
      // warm-up (JIT + any index/codebook build side effects), untimed
      if (timeOnce(name).isEmpty) None
      else {
        val secs = (1 to reps).flatMap(_ => timeOnce(name))
        val sec = secs.min
        if (name == "v1_cosine_topk") v1Sec = sec
        val hits = SparkEntry.queries(name)(spark, sfDir)
          .select(col("query_id"), col("vec_id"))
          .join(spark.read.parquet(truthPath), Seq("query_id", "vec_id"))
          .count()
        spark.catalog.clearCache()
        val recall = hits / truthRows
        // No exact denominator (v1 failed) → OMIT the field rather
        // than fabricate a 1.0 that reads as "no faster than exact".
        val speedupField =
          if (v1Sec.isNaN) ""
          else s""","speedup_vs_exact":${f1(v1Sec / sec)}"""
        val b = s""""$name":{"sec":${f2(sec)},"recall_at_10":${f4(recall)}$speedupField}"""
        System.err.println(s"[annbench] $b")
        Some(b)
      }
    }

    val line =
      s"""{"metric":"ann_recall","sf":"$sfDir","n_vectors":$nVecs,""" +
        s""""n_truth_rows":${truthRows.toLong},"k":10,"reps":$reps,""" +
        s""""methods":${blocks.mkString("{", ",", "}")}}"""
    println(line)
    sys.env.get("SPARK_GRAFT_ANN_OUT").foreach { p =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(p),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}
