package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.util.control.NonFatal

/** The one per-query harness (not part of the driver contract): each
  * mode runs declared [[SparkEntry]] queries against one corpus dir.
  *
  *   plans <sfDir> <outDir> <tag> [query ...]
  *       write each query's `explain("formatted")` text to
  *       `<outDir>/<query>_<tag>.txt` — the input of
  *       `tools/plandiff.py`, which pairs two such dirs by query name
  *   metrics <sfDir> [query ...]
  *       one warm-up run, one timed noop-sink run, then the final
  *       adaptive plan with each operator's non-zero SQL metrics
  *       (output rows, per-operator timings, shuffle bytes, spill) —
  *       the Spark-UI SQL tab as text, for hosts where the UI is off
  *   time <sfDir> [query ...]
  *       one noop-sink run per query, printing its wall time
  *
  * No query names = every declared query, in sorted order. Unknown
  * names fail before any query runs or any file is written; the main
  * exits 1 when any requested query fails. A query's result rows are
  * dumped as parquet by `graft.Verify <sfDir> <outDir> <nameFilter>`.
  *
  * Usage: tools/runmain.sh graft.Profile <mode> <sfDir> ...
  */
object Profile {

  private val usage =
    "usage: Profile plans <sfDir> <outDir> <tag> [query ...] | " +
      "metrics <sfDir> [query ...] | time <sfDir> [query ...]"

  def main(args: Array[String]): Unit = {
    val failed = args.toSeq match {
      case Seq("plans", sfDir, outDir, tag, qs @ _*) =>
        withSession(plans(_, sfDir, outDir, tag, qs))
      case Seq("metrics", sfDir, qs @ _*) =>
        withSession(metrics(_, sfDir, qs))
      case Seq("time", sfDir, qs @ _*) =>
        withSession(time(_, sfDir, qs))
      case _ =>
        System.err.println(usage)
        sys.exit(2)
    }
    if (failed.nonEmpty) {
      System.err.println(s"[profile] FAILED: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  private def withSession(mode: SparkSession => Seq[String]): Seq[String] = {
    val spark = Defaults.sessionBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try mode(spark) finally spark.stop()
  }

  /** The requested names, or every declared query when none is given;
    * an unknown name is an IllegalArgumentException. */
  private def resolve(qs: Seq[String]): Seq[String] = {
    val unknown = qs.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (qs.nonEmpty) qs else SparkEntry.queries.keys.toSeq.sorted
  }

  /** Runs declared query `name` once to the noop sink and returns its
    * wall seconds, or None when it failed (logged to stderr as
    * `[<tag>] <name> FAILED: ...`) — a failed execution must never be
    * timed. The noop sink, NOT count(): count() lets Catalyst prune
    * every projected expression, so a projection-only query would
    * "time" nothing but the scan; the noop write evaluates every output
    * column (the work Verify's parquet dump does) without I/O. Cached
    * intermediates are dropped afterwards (untimed), so one query's
    * working set never lands on the next one's measurement. */
  def noopRun(spark: SparkSession, sfDir: String, name: String, tag: String): Option[Double] = {
    val t0 = System.nanoTime()
    val sec =
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case NonFatal(e) =>
          System.err.println(
            s"[$tag] $name FAILED: ${e.toString.linesIterator.next().take(200)}")
          None
      }
    spark.catalog.clearCache()
    sec
  }

  /** `plans` mode; returns the queries that failed to plan. */
  def plans(spark: SparkSession, sfDir: String, outDir: String, tag: String,
      qs: Seq[String]): Seq[String] = {
    val names = resolve(qs)
    Files.createDirectories(Paths.get(outDir))
    val mode = ExplainMode.fromString("formatted")
    names.filterNot { n =>
      try {
        val txt = SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(mode)
        Files.write(Paths.get(outDir, s"${n}_$tag.txt"), txt.getBytes(StandardCharsets.UTF_8))
        println(s"[profile] wrote $n ($tag)")
        true
      } catch {
        case NonFatal(e) =>
          System.err.println(
            s"[profile] $n FAILED: ${e.toString.linesIterator.next().take(200)}")
          false
      }
    }
  }

  /** `time` mode; returns the queries that failed. */
  def time(spark: SparkSession, sfDir: String, qs: Seq[String]): Seq[String] =
    resolve(qs).filterNot { n =>
      val sec = noopRun(spark, sfDir, n, "profile")
      sec.foreach(s => println(f"[profile] $n%-28s $s%7.2fs"))
      sec.isDefined
    }

  /** `metrics` mode; returns the queries that failed. */
  def metrics(spark: SparkSession, sfDir: String, qs: Seq[String]): Seq[String] =
    resolve(qs).filterNot { n =>
      noopRun(spark, sfDir, n, "profile") // warm-up (JIT + caches), untimed
      // Capture the QueryExecution that actually RAN (the write
      // command's own, the largest plan of the run), with its post-run
      // AQE final plan and filled SQL metrics — df.queryExecution
      // re-plans lazily and would show a post-cache-release tree.
      val captured = new AtomicReference[QueryExecution]()
      val listener = new QueryExecutionListener {
        override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
          val cur = captured.get()
          if (cur == null || qe.executedPlan.toString.length >
              cur.executedPlan.toString.length) captured.set(qe)
        }
        override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val sec = noopRun(spark, sfDir, n, "profile")
      // the listener bus is async — give onSuccess a moment to land
      var waited = 0
      while (sec.isDefined && captured.get() == null && waited < 50) {
        Thread.sleep(100); waited += 1
      }
      spark.listenerManager.unregister(listener)
      sec.foreach { s =>
        println(f"== $n%s: $s%.3f s (warm, noop) ==")
        Option(captured.get()) match {
          case Some(qe) => printMetrics(qe.executedPlan, 0)
          case None => println("  (no executed plan reported)")
        }
      }
      sec.isDefined
    }

  private def printMetrics(p: SparkPlan, depth: Int): Unit = {
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: QueryStageExec => unwrap(q.plan)
      case other => other
    }
    val finalP = unwrap(p)
    val ms = finalP.metrics.toSeq
      .filter { case (_, m) => m.value > 0 }
      .sortBy(_._1)
      .map { case (k, m) => s"$k=${m.value}" }
      .mkString(", ")
    println("  " * depth + finalP.nodeName + (if (ms.nonEmpty) s"  [$ms]" else ""))
    finalP.children.foreach(printMetrics(_, depth + 1))
    finalP.subqueries.foreach(printMetrics(_, depth + 1))
  }
}
