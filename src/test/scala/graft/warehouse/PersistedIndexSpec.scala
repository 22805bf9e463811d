package graft.warehouse

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sim.IvfIndex
import graft.text.{BucketIndex, TextDedup}

/** The shared persisted-index protocol: the base fingerprint catches a
  * content rewrite that keeps the row count and a filter change over
  * the same files, a torn build is rebuilt, and a warm check over a
  * parquet base starts no Spark job (one for the in-memory fallback). */
class PersistedIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-pindex-$tag").toString

  private def fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private val docsA = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "a stored document about wind generation in spain"),
    (2L, "hydro output fell sharply during the dry season"),
    (3L, "nuclear capacity factors stayed above ninety percent"),
    (4L, "solar curtailment rose with midday prices"),
    (5L, "grid operators published the monthly balance report"))

  /** Same ids, same row count, different text. */
  private val docsB = docsA.map { case (id, t) => (id, t.split(' ').reverse.mkString(" ") + " revised") }

  private def writeDocs(path: String, docs: Seq[(Long, String)]): DataFrame = {
    docs.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  private def bucketSet(df: DataFrame): Set[(Int, Long)] = df.as[(Int, Long)].collect().toSet

  private def freshBuckets(base: DataFrame): Set[(Int, Long)] =
    bucketSet(TextDedup.minhashBuckets(base, "doc_id", "text", 1, 30, 6).select("band", "bucket").distinct())

  private def ensureBuckets(wh: String, base: DataFrame): BucketIndex.Handle =
    BucketIndex.ensure(spark, wh, "t", base, "doc_id", "text", 1, 30, 6)

  private def jobsOf(body: => Unit): Int = jobStarts(body).size

  test("BucketIndex rebuilds a parquet base rewritten with the same row count") {
    val (wh, path) = (tmpDir("wh"), tmpDir("docs") + "/docs")
    val h = ensureBuckets(wh, writeDocs(path, docsA))
    val before = bucketSet(BucketIndex.buckets(spark, h))
    assert(before == freshBuckets(spark.read.parquet(path)))
    val rewritten = writeDocs(path, docsB)
    assert(rewritten.count() == docsA.size.toLong)
    val h2 = ensureBuckets(wh, rewritten)
    val served = bucketSet(BucketIndex.buckets(spark, h2))
    assert(served != before, "stale index served after a same-count rewrite")
    assert(served == freshBuckets(rewritten))
    assert(served == bucketSet(BucketIndex.buckets(spark, ensureBuckets(tmpDir("fresh"), rewritten))))
  }

  test("BucketIndex rebuilds when only the base filter over the same files changes") {
    val (wh, path) = (tmpDir("wh"), tmpDir("docs") + "/docs")
    val docs = writeDocs(path, docsA)
    val h = ensureBuckets(wh, docs.filter(col("doc_id") % 3 === 0))
    assert(bucketSet(BucketIndex.buckets(spark, h)) == freshBuckets(docs.filter(col("doc_id") % 3 === 0)))
    val other = docs.filter(col("doc_id") % 3 === 1)
    val h2 = ensureBuckets(wh, other)
    assert(bucketSet(BucketIndex.buckets(spark, h2)) == freshBuckets(other))
  }

  test("BucketIndex rebuilds a torn build (meta missing, table half-written)") {
    val (wh, path) = (tmpDir("wh"), tmpDir("docs") + "/docs")
    val base = writeDocs(path, docsA)
    val h = ensureBuckets(wh, base)
    fs.delete(new Path(h.metaPath), true)
    Seq.empty[(Int, Long)].toDF("band", "bucket").write.mode("overwrite").parquet(h.bucketsPath)
    val h2 = ensureBuckets(wh, base)
    assert(fs.exists(new Path(h2.metaPath)))
    assert(bucketSet(BucketIndex.buckets(spark, h2)) == freshBuckets(base))
  }

  // 40 vectors in 4 directional clumps (dim 8); `shift` moves every
  // clump to other coordinates without changing the row count.
  private def writeVectors(path: String, shift: Int): DataFrame = {
    val rows = (0 until 40).map { i =>
      val c = (i % 4 + shift) % 4
      val v = Array.fill(8)(0.05f)
      v(c * 2) = 1.0f
      v(c * 2 + 1) = 0.2f + 0.01f * (i / 4) + 0.1f * shift
      (i.toLong, v)
    }
    rows.toDF("vec_id", "embedding").coalesce(1).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  private val ivfParams = IvfIndex.Params(
    targetList = 8L, minBits = 1, maxBits = 4, minSampleRows = 64,
    pq = Some(IvfIndex.PqParams(m = 4, subDim = 2, ksub = 4)))

  private def ensureIvf(wh: String, corpus: DataFrame): IvfIndex.Handle =
    IvfIndex.ensure(spark, wh, "ix", corpus, "vec_id", "embedding", ivfParams)

  private def cellSet(h: IvfIndex.Handle): Set[(Long, Seq[Float], Int)] =
    IvfIndex.cells(spark, h).select("vec_id", "embedding", "cell")
      .as[(Long, Seq[Float], Int)].collect().toSet

  test("IvfIndex rebuilds a parquet corpus rewritten with the same row count") {
    val (wh, path) = (tmpDir("wh"), tmpDir("vecs") + "/vecs")
    val h = ensureIvf(wh, writeVectors(path, shift = 0))
    val before = cellSet(h)
    val rewritten = writeVectors(path, shift = 1)
    val h2 = ensureIvf(wh, rewritten)
    val served = cellSet(h2)
    assert(served != before, "stale index served after a same-count rewrite")
    assert(served == cellSet(ensureIvf(tmpDir("fresh"), rewritten)))
  }

  test("a warm ensure over a parquet base starts no Spark job; the in-memory fallback starts one") {
    val (wh, path) = (tmpDir("wh"), tmpDir("docs") + "/docs")
    val base = writeDocs(path, docsA).filter(col("doc_id") % 3 =!= 2)
    ensureBuckets(wh, base)
    assert(jobsOf { BucketIndex.buckets(spark, ensureBuckets(wh, base)) } == 0)

    val vecs = writeVectors(tmpDir("vecs") + "/vecs", shift = 0)
    val ivfWh = tmpDir("wh")
    val h = ensureIvf(ivfWh, vecs)
    assert(jobsOf { assert(ensureIvf(ivfWh, vecs).k == h.k) } == 0)

    val inMemory = docsA.toDF("doc_id", "text")
    val memWh = tmpDir("wh")
    ensureBuckets(memWh, inMemory)
    assert(jobsOf { ensureBuckets(memWh, inMemory) } == 1)
  }
}
