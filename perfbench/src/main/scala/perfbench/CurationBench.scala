package perfbench

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{HashShingles, MinHashSignature, Shingles, TextStats, TokenTf, Tokens}
import graft.text.{Bm25, BucketIndex, Curation, TextDedup}

/** The text side of the benchmark: `Curation.curate` over a generated
  * corpus, `Bm25.bm25TopK` over the curated base, and admission of
  * incoming batches against the base through the persisted bucket
  * index.
  *
  * Ground truth: the planted corpus structure fixes which documents
  * must and must not survive curation, each query's planted target
  * must rank first, and each batch's admitted set must equal the one
  * the index-free `TextDedup.minhashDedupAgainstBase` gives over the
  * same base (computed once at set-up). Within a run every repeat of
  * a call must return the identical result.
  */
final class CurationBench(
    spark: SparkSession,
    dir: String,
    seed: Long,
    sizes: DocGen.Sizes,
    val batchCount: Int,
    batchFresh: Int,
    batchNear: Int,
    rec: Recorder,
) {
  private var tr: Option[Tracer] = None

  /** Starts tracing: from here on curation also runs staged. */
  def trace(t: Tracer): Unit = tr = Some(t)
  import CurationBench._
  import spark.implicits._

  private var corpus: DocGen.Corpus = _
  private var queries: IndexedSeq[DocGen.Query] = _
  private var docs: DataFrame = _
  private var qdf: DataFrame = _
  private var base: DataFrame = _
  private val batches = mutable.ArrayBuffer.empty[(DataFrame, DocGen.AdmitBatch)]
  private val expectedAdmitted = mutable.ArrayBuffer.empty[Set[Long]]
  private var survivorDigest: Option[Set[Long]] = None
  private var bm25Digest: Option[Seq[(Long, Long, Int)]] = None
  private var opNo = 1000000L

  private def traced[A](name: String)(f: => A): A = tr match {
    case Some(t) => t.span(name, opNo)(f)
    case None => f
  }

  def docCount: Int = corpus.docs.size
  def queryCount: Int = queries.size

  /** Generates the corpus, queries and admission batches as parquet
    * files (counted as generation time). */
  def generate(): Unit = {
    val t0 = System.nanoTime()
    val (c, qs) = DocGen.corpus(seed, sizes)
    corpus = c
    queries = qs
    c.docs.map(d => (d.id, d.text)).toDF("id", "text").write.parquet(s"$dir/corpus")
    qs.map(q => (q.qid, q.text)).toDF("qid", "qtext").write.parquet(s"$dir/queries")
    val baseDocs = c.docs.filter(d => c.survivors(d.id))
    (0 until batchCount).foreach { b =>
      val ab = DocGen.admitBatch(seed, b, batchFresh, batchNear, baseDocs, c.docs.size + 100000L * (b + 1))
      val path = s"$dir/batch-$b"
      ab.docs.map(d => (d.id, d.text)).toDF("id", "text").write.parquet(path)
      batches += spark.read.parquet(path) -> ab
    }
    docs = spark.read.parquet(s"$dir/corpus")
    qdf = spark.read.parquet(s"$dir/queries")
    rec.add("gen_s", (System.nanoTime() - t0) / 1e9)
  }

  /** Set-up: the curated base on disk, its bucket index, the reference
    * admitted sets, and `warmRounds` warm calls of each kind a round
    * makes (the base was written by a different plan from the round's
    * curation). The index and the references are computed while
    * curation and BM25 warm. */
  def setup(warmRounds: Int = 1): Unit = {
    rec.op("setup_curate")(Curation.curate(docs, "id", "text").write.parquet(s"$dir/base"))(_ => Nil)
    base = spark.read.parquet(s"$dir/base")
    rec.gate("curated base")(checkSurvivors(base.select("id").as[Long].collect().toSet))
    implicit val ec: ExecutionContext = ExecutionContext.global
    val index = Future(rec.op("setup_index")(BucketIndex.ensure(spark, dir, IndexName, base, "id", "text", 1, 30, 6))(_ => Nil))
    val references = Future(batches.toSeq.map { case (df, _) =>
      rec.op("setup_reference")(TextDedup.minhashDedupAgainstBase(df, base, "id", "text", Threshold)
        .select("id").as[Long].collect().toSet)(_ => Nil).getOrElse(Set.empty[Long])
    })
    curate(timed = false)
    bm25(timed = false)
    Await.result(index, Duration.Inf)
    expectedAdmitted ++= Await.result(references, Duration.Inf)
    admit(0, timed = false)
    (1 until warmRounds).foreach { k =>
      curate(timed = false)
      bm25(timed = false)
      admit(k % batchCount, timed = false)
    }
  }

  private def checkSurvivors(s: Set[Long]): Seq[String] = {
    val missing = corpus.survivors -- s
    val forbidden = s intersect corpus.dropped
    val near = (s intersect corpus.nearCopies).size
    Seq(
      if (missing.isEmpty) None else Some(s"${missing.size} unique docs dropped, e.g. ${missing.take(3)}"),
      if (forbidden.isEmpty) None else Some(s"${forbidden.size} filtered/exact copies kept"),
      if (near <= corpus.nearCopies.size / 100) None else Some(s"$near of ${corpus.nearCopies.size} near copies kept"),
    ).flatten
  }

  def curate(timed: Boolean = true): Unit = {
    opNo += 1
    traced("curate") {
      val got = traced("curate.e2e") {
        rec.op(if (timed) "curate" else "setup_curate", docCount.toDouble)(Curation.curate(docs, "id", "text").select("id").as[Long].collect().toSet) { s =>
          val bad = checkSurvivors(s)
          if (survivorDigest.isEmpty) survivorDigest = Some(s)
          bad ++ (if (survivorDigest.contains(s)) Nil else Seq("survivor set differs from the first call"))
        }
      }
      if (tr.isDefined) {
        val staged = traced("curate.staged")(stagedCurate())
        rec.gate("staged curate")(if (got.contains(staged)) Nil else Seq("staged survivors differ from Curation.curate"))
      }
    }
  }

  /** `Curation.curate`'s stages one after another, boundaries forced. */
  private def stagedCurate(): Set[Long] = {
    val t = tr.get
    val cfg = Curation.Config()
    val annotated = t.span("text.annotate", opNo) {
      // the keep-predicate of Curation.curate over its annotations
      val a = Curation.annotate(docs, "text").filter(
        col("curation_quality") >= cfg.minQuality && col("curation_lang").isin(cfg.langs: _*) &&
          col("curation_tokens").between(cfg.minTokens, cfg.maxTokens)).cache()
      t.count("in", docCount.toDouble)
      t.count("kept", a.count().toDouble)
      a
    }
    try {
      val exact = t.span("text.exact_dedup", opNo) {
        val e = TextDedup.exactDedup(annotated, col("text"), col("id")).cache()
        t.count("kept", e.count().toDouble)
        e
      }
      try t.span("text.minhash", opNo) {
        val s = TextDedup.minhashDedupLinear(exact, "id", "text", cfg.nearDupThreshold.get)
          .select("id").as[Long].collect().toSet
        t.count("in", exact.count().toDouble)
        t.count("kept", s.size.toDouble)
        s
      } finally exact.unpersist()
    } finally annotated.unpersist()
  }

  def bm25(timed: Boolean = true): Unit = {
    opNo += 1
    traced("text.bm25") {
      rec.op(if (timed) "bm25" else "setup_bm25", queryCount.toDouble)(
        Bm25.bm25TopK(base, "id", "text", qdf, "qid", "qtext", TopK)
          .select("qid", "id", "rank").as[(Long, Long, Int)].collect().toSeq.sorted) { rows =>
        val top1 = rows.filter(_._3 == 1).map(r => r._1 -> r._2).toMap
        val wrong = queries.filterNot(q => top1.get(q.qid).contains(q.target))
        if (bm25Digest.isEmpty) bm25Digest = Some(rows)
        (if (wrong.isEmpty) Nil else Seq(s"${wrong.size} queries miss their planted target")) ++
          (if (bm25Digest.contains(rows)) Nil else Seq("top-k differs from the first call"))
      }
    }
  }

  /** One admission call: `BucketIndex.ensure` + the batch gate. */
  def admit(b: Int, timed: Boolean = true): Unit = {
    opNo += 1
    val (df, ab) = batches(b)
    traced("admit") {
      rec.op(if (timed) "dedup_batch" else "setup_dedup_batch") {
        val h = traced("text.bucket_index")(BucketIndex.ensure(spark, dir, IndexName, base, "id", "text", 1, 30, 6))
        traced("text.batch_gate") {
          val ids = TextDedup.minhashDedupAgainstBaseBuckets(df, BucketIndex.buckets(spark, h), "id", "text",
            Threshold).select("id").as[Long].collect().toSet
          tr.foreach { t => t.count("in", ab.docs.size.toDouble); t.count("admitted", ids.size.toDouble) }
          ids
        }
      } { ids =>
        val near = ids intersect ab.nearOfBase
        val pairs = ab.exactPairs.filter { case (a, c) => ids(a) && ids(c) }
        Seq(
          if (ids == expectedAdmitted(b)) None
          else Some(s"batch $b admitted ${ids.size}, index-free gate admits ${expectedAdmitted(b).size}"),
          if (near.size <= ab.nearOfBase.size / 100) None else Some(s"${near.size} near copies of the base admitted"),
          if (pairs.isEmpty) None else Some("both members of an exact pair admitted"),
        ).flatten
      }
    }
  }

  /** Round `k`: curate, retrieve, and admit the batches in turn. */
  def round(k: Int): Unit = {
    curate()
    bm25()
    admit(k % batchCount)
  }

  /** ns per document of each kernel's static `compute`, no Spark. */
  def kernelBench(passes: Int): Map[String, Double] = {
    val texts = corpus.docs.map(d => UTF8String.fromString(d.text)).toArray
    val shingles = texts.map(t => Shingles.compute(t, 1))
    val hashed = shingles.map(HashShingles.compute)
    var sink = 0L
    def time(f: Int => Any): Double = {
      val runs = (0 until passes + 1).map { _ =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < texts.length) { sink += f(i).hashCode; i += 1 }
        (System.nanoTime() - t0).toDouble / texts.length
      }
      Stats.median(runs.tail)
    }
    val r = Map(
      "TextStats" -> time(i => TextStats.compute(texts(i)).getInt(1)),
      "Tokens" -> time(i => Tokens.compute(texts(i)).numElements()),
      "HashShingles" -> time(i => HashShingles.compute(shingles(i)).numElements()),
      "MinHashSignature" -> time(i => MinHashSignature.compute(hashed(i), 30).getLong(0)),
      "TokenTf" -> time(i => TokenTf.compute(texts(i)).numElements()),
    )
    if (sink == 42L) System.err.println("")
    r
  }
}

object CurationBench {
  val IndexName = "admit_index"
  val Threshold = 0.9
  val TopK = 10
}
