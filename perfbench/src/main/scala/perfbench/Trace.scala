package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer. Times are wall-clock milliseconds (what the
  * listener events carry) and nanoseconds (for durations). */
final class Span(val id: Long, val name: String, val parent: Long, val op: Long,
    val startNs: Long, val startMs: Long) {
  var endNs: Long = 0L
  var endMs: Long = 0L
  var codegenNs: Long = 0L
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Engine counters of one Spark job, summed over its stages and tasks. */
final class JobStats(val jobId: Int, val group: Option[String], val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var shuffleWriteNs = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var resultBytes = 0L
  var inputBytes = 0L
  /** max / mean task run time of the job's most skewed stage */
  var skew = 1.0
}

/** SQL operator metrics of one query, read from its executed plan. */
final class QueryStats(val accumIds: Set[Long], val m: Map[String, Long])

/** Spans plus the engine counters attributed to them.
  *
  * Spans are kept in memory and written when the run ends. Each span
  * sets the Spark job group to its id, so a `SparkListener` attributes
  * every job (and its stages and tasks) to the span that submitted it;
  * a job with no group, or a group whose span was not open when the job
  * started (a pool thread that inherited a stale group), is reported as
  * unattributed. Query operator metrics come from a
  * `QueryExecutionListener` and reach a span through the accumulators
  * their stages updated.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private var nextId = 1L

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobStats]()
  private val stageTaskTimes = new java.util.concurrent.ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val accumJob = new java.util.concurrent.ConcurrentHashMap[Long, JobStats]()
  private val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryStats]()
  private val ended = new java.util.concurrent.atomic.AtomicInteger(0)

  /** GC and codegen totals when tracing started. */
  val gcMs0: Long = Tracer.gcMs
  val compileNs0: Long = Tracer.compileNs
  val compiles0: Long = Tracer.compileCount

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val j = new JobStats(e.jobId, g, e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      ended.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (j != null && m != null) j.synchronized {
        j.tasks += 1
        j.cpuNs += m.executorCpuTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        j.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.peakExecMem = math.max(j.peakExecMem, m.peakExecutionMemory)
        j.resultBytes += m.resultSize
        j.inputBytes += m.inputMetrics.bytesRead
        stageTaskTimes.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty)
          .synchronized(stageTaskTimes.get(e.stageId) += m.executorRunTime)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val j = stageJob.get(e.stageInfo.stageId)
      if (j != null) j.synchronized {
        j.stages += 1
        e.stageInfo.accumulables.keys.foreach(a => accumJob.put(a, j))
        Option(stageTaskTimes.remove(e.stageInfo.stageId)).filter(_.size >= 2).foreach { ts =>
          val mean = ts.sum.toDouble / ts.size
          if (mean > 0) j.skew = math.max(j.skew, ts.max / mean)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      queries.add(Tracer.queryStats(qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def current: Option[Span] = stack.headOption

  def span[A](name: String, op: Long)(f: => A): A = {
    val s = new Span(nextId, name, current.map(_.id).getOrElse(0L), op, System.nanoTime(),
      System.currentTimeMillis())
    nextId += 1
    spans += s
    stack = s :: stack
    sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
    val cg0 = Tracer.compileNs
    try f
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.codegenNs = Tracer.compileNs - cg0
      stack = stack.tail
      current match {
        case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Adds to a counter of the innermost open span. */
  def count(key: String, v: Double): Unit =
    current.foreach(s => s.counts(key) = s.counts.getOrElse(key, 0.0) + v)

  /** Waits until the listener bus has delivered every job end. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 20000L
    while (ended.get() < jobs.size() && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200) // stage and query events trail the job end
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    sc.clearJobGroup()
  }

  private lazy val byId: Map[Long, Span] = spans.map(s => s.id -> s).toMap

  /** The span a job belongs to, if its group names a span that was
    * open when the job started. */
  def spanOf(j: JobStats): Option[Span] =
    j.group.flatMap(g => scala.util.Try(g.toLong).toOption).flatMap(byId.get)
      .filter(s => j.startMs >= s.startMs - 1 && j.startMs <= s.endMs + 1)

  def allJobs: Seq[JobStats] = {
    import scala.jdk.CollectionConverters._
    jobs.values().asScala.toSeq.sortBy(_.jobId)
  }

  /** Query metrics with the span they are attributed to. */
  def allQueries: Seq[(Option[Span], QueryStats)] = {
    import scala.jdk.CollectionConverters._
    queries.asScala.toSeq.map { q =>
      val j = q.accumIds.iterator.map(a => accumJob.get(a)).find(_ != null)
      (j.flatMap(spanOf), q)
    }
  }

  /** A span's duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
    val covered = kids.map(k => math.min(k.endNs, s.endNs) - math.max(k.startNs, s.startNs))
      .filter(_ > 0).sum
    (s.endNs - s.startNs - covered) / 1e9
  }
}

object Tracer {
  def compileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  def compileCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) Double.NaN
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
      finally src.close()
    }
  }

  /** Nodes of an executed plan, through adaptive wrappers, query
    * stages, reused exchanges and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Nil // counted where it ran
      case other => other.children ++ other.subqueries
    }
    p +: inner.flatMap(nodes)
  }

  private def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)

  def queryStats(plan: SparkPlan): QueryStats = {
    val ns = nodes(plan)
    val m = mutable.Map.empty[String, Long].withDefaultValue(0L)
    ns.foreach { n =>
      val cls = n.getClass.getSimpleName
      if (cls.startsWith("FileSourceScan")) {
        m("scan_files") += metric(n, "numFiles")
        m("scan_ms") += metric(n, "scanTime")
        m("scan_rows") += metric(n, "numOutputRows")
      }
      if (cls.contains("Aggregate")) m("agg_ms") += metric(n, "aggTime")
      if (cls.startsWith("Sort") && !cls.contains("Aggregate") && !cls.contains("Join"))
        m("sort_ms") += metric(n, "sortTime")
      if (cls.contains("HashJoin") || cls.startsWith("BroadcastExchange"))
        m("join_build_ms") += metric(n, "buildTime")
    }
    val ids = ns.flatMap(_.metrics.values.map(_.id)).toSet
    new QueryStats(ids, m.toMap)
  }
}
