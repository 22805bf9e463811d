package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic corpus scaler for scale-drift benchmarking:
  * `runMain graft.SynthScale <srcSfDir> <dstDir> [factor]` writes a
  * factor-× replica of every table, built so data DENSITY stays
  * constant and a per-query time ratio between the two scales
  * measures the ENGINE's scaling exponent, not a data-shape change:
  *
  *   - fact ids shift by replica (join fan-out per key unchanged;
  *     foreign keys shift consistently: lineitem↔orders↔customer)
  *   - document text gets a per-replica word suffix — replica shingle
  *     sets are disjoint, so the true near-dup pair count grows
  *     linearly, not quadratically, with the factor
  *   - embeddings rotate by the replica index — norm and coordinate
  *     distribution preserved, cross-replica cosine decorrelated, so
  *     the similarity workload density is constant
  *   - dims (region/nation/part/supplier) copy unchanged, as in any
  *     star-schema scale-up
  *
  * The output is a BENCH-only corpus (n_chars is recomputed for the
  * suffixed text; no DuckDB oracle runs against it).
  *
  * CHAINED scale-ups (sf0.1 → sf1 → sf10) need the optional 4th arg
  * `stride`: replica deltas become i·stride, so a second-level
  * replication with stride = firstFactor keeps ids, word suffixes and
  * embedding rotations DISJOINT from the first level's (without it,
  * level-2 id offsets collide with level-1 replicas and rotation
  * totals repeat, re-correlating cross-replica cosine). A THIRD level
  * (sf10 → sf100, stride 100) exceeds the 64 distinct rotations a
  * 64-dim vector admits: deltas ≥ 64 therefore compose rotation
  * (delta mod 64) with a delta-keyed per-coordinate sign-flip —
  * norm-preserving, injective per delta, cross-replica cosine a
  * random-sign sum. Deltas < 64 are byte-identical to the pre-r15
  * scaler; deltas ≥ 64 are NOT — the pre-r15 slice rotation on a
  * 64-dim vector was the IDENTITY there (slice past the array end is
  * empty), so any corpus whose chain produced deltas ≥ 64 under the
  * old scaler (sf10's stride-10 chain: deltas 70/80/90) carried
  * bit-identical cross-replica embeddings — inflated near-dup
  * density, not comparable data. Those corpora (and anything chained
  * from them, e.g. the r15 sf100) must be REGENERATED with this
  * scaler and their decade artifacts re-baselined (done in r16);
  * only sf1-class chains (deltas ≤ 63) carry over unchanged. */
object SynthScale {
  private val Off = 1000000000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    require(factor >= 1 && factor <= 64, s"factor out of range: $factor")
    val stride = args.lift(3).map(_.toInt).getOrElse(1)
    // replica deltas reach (factor-1)*stride; ids stay unique as long
    // as the BASE-10-digit decomposition of chained deltas holds
    // (each level's stride = product of earlier factors), and the
    // embedding transform below is injective for any delta — so the
    // bound is only about id headroom under Off
    require(stride >= 1 && factor.toLong * stride <= 4096,
      s"factor*stride out of range: $factor*$stride")
    val spark = Defaults.sessionBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def tbl(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
    def replicate(df: DataFrame)(per: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => per(df, i * stride)).reduce(_ unionByName _)

    Seq("region", "nation", "part", "supplier").foreach(n => write(tbl(n), n))

    write(replicate(tbl("customer")) { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * Off))
    }, "customer")

    write(replicate(tbl("orders")) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * Off))
        .withColumn("o_custkey", col("o_custkey") + lit(i * Off))
    }, "orders")

    write(replicate(tbl("lineitem")) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * Off))
    }, "lineitem")

    write(replicate(tbl("events")) { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * Off))
        .withColumn("user_id", col("user_id") + lit(i * Off))
    }, "events")

    write(replicate(tbl("documents")) { (df, i) =>
      val text =
        if (i == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", "$1_" + i)
      df.withColumn("doc_id", col("doc_id") + lit(i * Off))
        .withColumn("text", text)
        .withColumn("n_chars", length(col("text")))
    }, "documents")

    write(replicate(tbl("embeddings")) { (df, i) =>
      // The 64-dim vectors admit only 64 distinct rotations, so a
      // THIRD decade (deltas 100..900) cannot stay disjoint by
      // rotation alone — colliding rotations would replicate vectors
      // bit-identically and inflate the near-dup density the scaler
      // exists to hold constant — and the pre-r15 scaler in fact DID
      // collide: rot ≥ 64 sliced past the array end and degenerated to
      // the identity, so the old sf10 (deltas 70/80/90) shipped
      // bit-identical replicas. Deltas < 64 keep the pure rotation
      // (bit-compatible with sf1-class corpora already built);
      // deltas >= 64 rotate by delta mod 64 AND sign-flip each
      // coordinate by a delta-keyed hash bit — norm and coordinate
      // magnitude distribution preserved, cross-replica cosine a
      // random-sign sum (decorrelated), injective per delta.
      val rot = if (i < 64) i else i % 64
      val rotated =
        if (rot == 0) col("embedding")
        else concat(
          slice(col("embedding"), rot + 1, 10000),
          slice(col("embedding"), 1, rot))
      val shaped =
        if (i < 64) rotated
        else {
          val flip = (x: Column, j: Column) =>
            x * (lit(1.0) - lit(2.0) * pmod(xxhash64(lit(i), j), lit(2)).cast("double"))
          zip_with(rotated, sequence(lit(0), lit(63)),
            (x, j) => flip(x.cast("double"), j).cast("float"))
        }
      df.withColumn("vec_id", col("vec_id") + lit(i * Off))
        .withColumn("embedding", shaped.cast("array<float>"))
    }, "embeddings")

    println(s"""{"scaled": "$src -> $dst", "factor": $factor}""")
    spark.stop()
  }
}
