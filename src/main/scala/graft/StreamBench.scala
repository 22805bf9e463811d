package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming near-dup admission throughput — the measured point for
  * [[graft.streaming.StreamingIngest.drainNearDupGate]] that the batch
  * dedup family already has (ARCHITECTURE.md scale appendix).
  *
  * Method: the corpus's documents are staged as `nChunks` parquet
  * files in an incoming dir (each file = one arrival unit), then ONE
  * AvailableNow drain runs the full admission path — per-micro-batch
  * verified MinHash dedup, (band,bucket) gate against the persistent
  * index, two idempotent appends — with `maxFilesPerTrigger` forcing
  * `nChunks / filesPerTrigger` sequential micro-batches, exactly the
  * cross-batch state regime a long-running ingest sees (every batch
  * gates against all previously admitted buckets). The batch twin
  * (one-shot `minhashDedup` over the same corpus + one append) is
  * timed on the same session for the docs/s comparison.
  *
  * `SPARK_GRAFT_STREAM_FPT` takes a comma list ("4,8,16,32") and the
  * run becomes an OPERATING-POINT SWEEP over the same staged arrivals:
  * each point drains into fresh sinks and reports docs/s plus
  * per-micro-batch wall times (from the streaming progress events), so
  * the throughput-vs-admission-latency trade is a curve, not a single
  * number. The per-batch vector doubles as the index-growth probe: a
  * flat vector across a drain means per-batch cost does not grow with
  * the persistent index (each batch gates against every previously
  * admitted bucket).
  *
  * `SPARK_GRAFT_STREAM_VERIFY=true` switches the gate to the
  * jaccard-verified form (exact batch semantics; prices the verify
  * joins + shingle-store appends).
  *
  * A small warm-up drain (first `warmupDocs` docs through scratch
  * sinks) soaks JIT + streaming-engine startup so the measured drain
  * prices the admission path, not first-query compilation.
  *
  * Prints ONE JSON line; round artifacts commit as STREAM_SF1.json /
  * STREAM_SF10.json. Usage:
  *   SPARK_GRAFT_SF_DIR=/tmp/sf1 SPARK_GRAFT_STREAM_FPT=4,8,16,32 \
  *     tools/runmain.sh graft.StreamBench
  */
object StreamBench {

  /** Collects per-micro-batch trigger wall times; progress events are
    * async, so [[drainBatchSecs]] polls briefly after termination. */
  private final class BatchTimer extends StreamingQueryListener {
    val secs = new scala.collection.mutable.ArrayBuffer[Double]
    @volatile var rows = 0L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) synchronized {
        secs += e.progress.durationMs.getOrDefault("triggerExecution", 0L) / 1000.0
        rows += e.progress.numInputRows
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nChunks = sys.env.get("SPARK_GRAFT_STREAM_CHUNKS").map(_.toInt).getOrElse(32)
    val sweep = sys.env.getOrElse("SPARK_GRAFT_STREAM_FPT", "4")
      .split(',').map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
    val verify = sys.env.get("SPARK_GRAFT_STREAM_VERIFY").contains("true")
    val cpus = Defaults.cpus
    val spark = Defaults.sessionBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val nDocs = docs.count()

    def scratch(p: String) = Files.createTempDirectory(p)

    // Returns the per-micro-batch trigger seconds, in batch order.
    def drain(inDir: String, adm: String, idx: String, fpt: Int): Seq[Double] = {
      val ckpt = scratch("graft-sb-ckpt").toString
      val timer = new BatchTimer
      spark.streams.addListener(timer)
      try {
        val stream = spark.readStream
          .schema(docs.schema)
          .option("maxFilesPerTrigger", fpt)
          .parquet(inDir)
        graft.streaming.StreamingIngest.drainNearDupGate(
          stream, adm, idx, ckpt, "doc_id", "text",
          verifyJaccard = verify).awaitTermination()
        // progress events are delivered async; wait until the listener
        // has seen every staged row (bounded poll)
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (timer.rows < spark.read.parquet(inDir).count() &&
          System.nanoTime() < deadline) Thread.sleep(100)
        timer.synchronized(timer.secs.toList)
      } finally spark.streams.removeListener(timer)
    }

    // Warm-up: a small prefix through scratch sinks (JIT + stream
    // engine startup are session cost, not admission cost).
    val warmIn = scratch("graft-sb-warm-in").toString
    docs.limit(2000).repartition(4).write.mode("overwrite").parquet(warmIn)
    drain(warmIn, scratch("graft-sb-warm-adm").resolve("t").toString,
      scratch("graft-sb-warm-idx").resolve("i").toString, sweep.head)
    spark.catalog.clearCache()

    // Staged arrivals: nChunks files, hash-spread (arrival order is
    // not corpus order, as in a real ingest). Staged ONCE — every
    // sweep point replays the same arrivals.
    val inDir = scratch("graft-sb-in").toString
    docs.repartition(nChunks).write.mode("overwrite").parquet(inDir)

    def f1(v: Double) = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)

    // On-disk weight of a sink (0 when absent) — in verify mode the
    // (id, shingles) store at `<idx>_sh` is the linear-in-corpus state
    // that buys batch-exact admission, so its size vs the admitted
    // corpus is part of the price and gets reported per point.
    def dirBytes(p: String): Long = {
      val fs = org.apache.hadoop.fs.FileSystem
        .get(spark.sparkContext.hadoopConfiguration)
      val path = new org.apache.hadoop.fs.Path(p)
      if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
    }

    final case class Point(fpt: Int, streamSec: Double, admitted: Long,
        batchSecs: Seq[Double], admittedBytes: Long, indexBytes: Long,
        shingleBytes: Long) {
      def json: String =
        s"""{"files_per_trigger":$fpt,""" +
          s""""micro_batches":${math.ceil(nChunks.toDouble / fpt).toInt},""" +
          s""""stream_sec":${f2(streamSec)},"docs_per_sec":${f1(nDocs / streamSec)},""" +
          s""""sec_per_batch":${f2(if (batchSecs.nonEmpty) streamSec / batchSecs.size else streamSec)},""" +
          s""""admitted":$admitted,""" +
          s""""admitted_bytes":$admittedBytes,"index_bytes":$indexBytes,""" +
          s""""shingle_store_bytes":$shingleBytes,""" +
          s""""batch_secs":${batchSecs.map(f2).mkString("[", ",", "]")}}"""
    }

    val points = sweep.map { fpt =>
      val adm = scratch("graft-sb-adm").resolve("t").toString
      val idx = scratch("graft-sb-idx").resolve("i").toString
      val t0 = System.nanoTime()
      val batchSecs = drain(inDir, adm, idx, fpt)
      val streamSec = (System.nanoTime() - t0) / 1e9
      val p = Point(fpt, streamSec, spark.read.parquet(adm).count(), batchSecs,
        dirBytes(adm), dirBytes(idx), dirBytes(idx.stripSuffix("/") + "_sh"))
      System.err.println(s"[streambench] ${p.json}")
      spark.catalog.clearCache()
      p
    }

    // Batch twin on the warmed session: one-shot verified dedup + one
    // idempotent append of the survivors.
    val batchOut = scratch("graft-sb-batch").resolve("t").toString
    val t1 = System.nanoTime()
    val deduped = graft.text.TextDedup.minhashDedup(docs, "doc_id", "text", 0.9, 3, 30, 6)
    graft.sink.IdempotentAppend.appendNew(
      spark, deduped, batchOut, Seq("doc_id"), timeCol = None)
    val batchSec = (System.nanoTime() - t1) / 1e9
    val batchKept = spark.read.parquet(batchOut).count()

    val head = points.head
    val line =
      s"""{"metric":"stream_admission_docs_per_sec","value":${f1(nDocs / head.streamSec)},""" +
        s""""unit":"docs/sec","docs":$nDocs,"chunks":$nChunks,"files_per_trigger":${head.fpt},""" +
        s""""micro_batches":${math.ceil(nChunks.toDouble / head.fpt).toInt},""" +
        s""""stream_sec":${f2(head.streamSec)},"admitted":${head.admitted},""" +
        s""""verify_jaccard":$verify,""" +
        s""""sweep":${points.map(_.json).mkString("[", ",", "]")},""" +
        s""""batch_sec":${f2(batchSec)},"batch_docs_per_sec":${f1(nDocs / batchSec)},""" +
        s""""batch_kept":$batchKept,"cpus":$cpus,"sf":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_STREAM_OUT", "STREAM_BENCH.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case scala.util.control.NonFatal(_) => () }
    println(line)
    spark.stop()
  }
}
