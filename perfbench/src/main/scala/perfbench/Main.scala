package perfbench

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload for a seed and writes
  * one JSON result. `perfbench/run.py` builds this and drives it.
  *
  *   --workload etl_incremental|curation
  *   --seed N --seconds S --trace 0|1 --work DIR --result FILE
  *
  * Each workload is one closed-loop client: one call outstanding at a
  * time. Its main phase runs `--seconds` divided by the workload's
  * nominal round time rounds, then a fixed epilogue. A short fixed set
  * of control steps exercises the other workload's calls, so every run
  * reports every end-to-end metric; the steps are spread between the
  * rounds, so the samples of every metric span the whole phase and a
  * host slow-down of a few seconds moves no metric on its own.
  * The traced run (`--trace 1`) runs round 0 untraced, the same round
  * traced, then the epilogue and the control steps traced, and reports
  * per-layer metrics.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, result: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), need("result"))
  }

  val Workloads: Seq[String] = Seq("etl_incremental", "curation")

  /** The main phase runs `ceil(seconds / RoundSeconds)` rounds: 3 of
    * `etl_incremental` and 5 of `curation` at `--seconds 12`. A fixed
    * number, not rounds until a deadline, because calls still speed up
    * from round to round (the JIT keeps compiling), so a median over a
    * count that follows the host's speed would move with it. */
  val RoundSeconds: Map[String, Double] = Map("etl_incremental" -> 4.0, "curation" -> 2.4)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of ${Workloads.mkString(", ")}")
    new java.io.File(a.work).mkdirs()
    val rec = new Recorder
    val t0 = System.nanoTime()
    val spark = graft.Defaults.sessionBuilder()
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count() // the first job pays the engine's own start-up
    val sessionS = (System.nanoTime() - t0) / 1e9
    val out =
      try run(spark, a, rec, sessionS)
      finally spark.stop()
    val w = new java.io.PrintWriter(a.result, "UTF-8")
    try out.foreach(w.println) finally w.close()
    sys.exit(if (rec.failed == 0) 0 else 1)
  }

  /** Workload shapes. Sizes are fixed per workload; only the seed
    * varies the data. */
  object Shapes {
    /** plants per source */
    val backfill = Map("entsoe" -> 80)
    /** the backfill: batches of new slots, one of them delivered again */
    val backfillBatches = 3
    val backfillSlots = 150
    val incremental = Map(
      "entsoe" -> 8, "ons" -> 8, "npp" -> 40, "occto" -> 4, "chile" -> 8, "eia" -> 400)
    /** one month of slots per batch, and the re-delivered overlap */
    val monthSlots = Map("entsoe" -> 720, "ons" -> 720, "npp" -> 30, "occto" -> 1440, "chile" -> 720, "eia" -> 1)
    val overlapSlots = Map("entsoe" -> 168, "ons" -> 168, "npp" -> 7, "occto" -> 336, "chile" -> 168, "eia" -> 1)
    /** the sources the timed rounds load in turn; the pre-seed loads all six */
    val roundSources = Seq("entsoe", "ons")
    val viewReadsPerRound = 8
    val corpus = DocGen.Sizes(unique = 3000, foreign = 200, exactCopies = 200, clusters = 40,
      clusterSize = 4, bigCluster = graft.text.TextDedup.DefaultMaxBucketSize + 76, queries = 40)
    val controlCorpus = DocGen.Sizes(unique = 400, foreign = 30, exactCopies = 30, clusters = 10,
      clusterSize = 3, bigCluster = 40, queries = 10)
  }

  /** Round `k` of the incremental workload: the next monthly batch of
    * one source (the round sources in turn), overlapping the previous
    * window of that source, its metadata row, its views, then dashboard
    * reads — view reads and one raw read, the raw kinds in turn. */
  private def etlRound(etl: Etl, k: Int): Unit = {
    val s = Shapes.roundSources(k % Shapes.roundSources.size)
    val b = etl.nextBatch(s, Shapes.monthSlots(s), Shapes.overlapSlots(s))
    etl.load(b, b.expect).foreach(etl.metadata(_))
    etl.refresh(Seq(s))
    (0 until Shapes.viewReadsPerRound).foreach(_ => etl.read("view_read"))
    etl.read(Etl.RawReadKinds(k % Etl.RawReadKinds.size))
  }

  /** After `rounds` rounds: the last batch delivered again (every key is
    * already stored) and the raw read kinds the rounds did not reach. */
  private def etlEpilogue(etl: Etl, rounds: Int): Unit = {
    val last = etl.delivered.last
    etl.load(last, last.expect.copy(inserted = 0), "redelivery")
    Etl.RawReadKinds.drop(rounds).foreach(etl.read(_))
  }

  private def secondsOf(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** A backfill into an empty warehouse, as control steps: a few
    * batches of new slots, each with its metadata row, its views and
    * one read of each kind, then one of them delivered again (nothing is
    * new). Each batch is generated just before its load: generating it
    * adds it to the model the reads are checked against. */
  private def backfill(etl: Etl): Seq[() => Unit] = {
    val bs = mutable.ArrayBuffer.empty[PowerGen.Batch]
    Seq.fill(Shapes.backfillBatches) { () =>
      val b = etl.nextBatch("entsoe", Shapes.backfillSlots, 0)
      bs += b
      etl.load(b, b.expect).foreach(etl.metadata(_))
      etl.refresh(Seq("entsoe"))
      Etl.ReadKinds.foreach(etl.read(_))
    } :+ { () => etl.load(bs(1), bs(1).expect.copy(inserted = 0), "redelivery") }
  }

  /** Text control steps: `rounds` rounds of curation, BM25 and
    * admission, one call per step. */
  private def textControl(c: CurationBench, rounds: Int): Seq[() => Unit] =
    (0 until rounds).flatMap(k => Seq[() => Unit](() => c.curate(), () => c.bm25(), () => c.admit(k % c.batchCount)))

  /** Runs `n` rounds with the control steps spread between them: step
    * `j` of `m` follows round `j * n / m`. */
  private def interleaved(n: Int, round: Int => Unit, steps: Seq[() => Unit]): Unit =
    (0 until n).foreach { k =>
      round(k)
      steps.indices.filter(j => j * n / steps.size == k).foreach(steps(_)())
    }

  /** Set-up of an ETL warehouse: the given batches loaded (three at a
    * time: each goes to its own table) with their metadata rows, every
    * view built, and each read kind warmed. The metadata rows go to a
    * table of their own, so they are written while the views are built
    * and read. */
  private def etlPreseed(etl: Etl, batches: Seq[PowerGen.Batch]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val results = Await.result(Future.traverse(batches)(b => Future(etl.load(b, b.expect, "setup_load"))), Duration.Inf)
      val metadata = Future(results.flatten.foreach(etl.metadata(_, timed = false)))
      etl.refresh(batches.map(_.source).distinct, timed = false)
      ("view_read" +: Etl.ReadKinds).foreach(etl.read(_, timed = false))
      Await.result(metadata, Duration.Inf)
    } finally pool.shutdown()
  }

  def run(spark: SparkSession, a: Args, rec: Recorder, sessionS: Double): Seq[String] = {
    val dir = a.work
    val etls = mutable.ArrayBuffer.empty[Etl]
    val curs = mutable.ArrayBuffer.empty[CurationBench]
    def etl(name: String, plants: Map[String, Int]): Etl = {
      val e = new Etl(spark, s"$dir/$name", a.seed, plants, rec); etls += e; e
    }
    def cur(name: String, sizes: DocGen.Sizes, batches: Int, fresh: Int, near: Int): CurationBench = {
      new java.io.File(s"$dir/$name").mkdirs()
      val c = new CurationBench(spark, s"$dir/$name", a.seed, sizes, batches, fresh, near, rec)
      curs += c; c.generate(); c
    }
    // Each workload generates its inputs, then sets up its ETL side and
    // its text side (concurrently: set-up is not the measured loop), and
    // returns its main-phase round, its epilogue (given the number of
    // rounds run) and its control steps.
    val (etlSetup, textSetup, round, epilogue, control)
        : (() => Unit, () => Unit, Int => Unit, Int => Unit, Seq[() => Unit]) =
      a.workload match {
        case "etl_incremental" =>
          val e = etl("main", Shapes.incremental)
          val seedBatches = PowerGen.Sources.map(s => e.nextBatch(s, Shapes.monthSlots(s), 0))
          val ctl = cur("control_text", Shapes.controlCorpus, 1, 60, 10)
          // the text side's set-up is the shorter one, so it warms
          // longer: calls on the small control corpus still speed up
          // over their first five calls
          (() => etlPreseed(e, seedBatches), () => ctl.setup(warmRounds = 3),
            k => etlRound(e, k), n => etlEpilogue(e, n), textControl(ctl, 4))
        case "curation" =>
          val c = cur("text", Shapes.corpus, 2, 150, 30)
          val warm = etl("control_warm", Shapes.backfill)
          val wb = warm.nextBatch("entsoe", 24, 0)
          val ctl = etl("control_backfill", Shapes.backfill)
          (() => etlPreseed(warm, Seq(wb)), () => c.setup(),
            k => c.round(k), _ => (), backfill(ctl))
      }
    val setupStart = System.nanoTime()
    locally {
      implicit val ec: ExecutionContext = ExecutionContext.global
      val side = Future(textSetup())
      etlSetup()
      Await.result(side, Duration.Inf)
    }
    val setupS = sessionS + (System.nanoTime() - setupStart) / 1e9
    val mainStart = System.nanoTime()
    // A traced run times round 0 untraced, then starts tracing and runs
    // the same round again: the difference is what tracing costs.
    val (rounds, tracer, roundS) =
      if (!a.trace) {
        val n = math.max(1, math.ceil(a.seconds / RoundSeconds(a.workload)).toInt)
        interleaved(n, round, control)
        (n, None, Nil)
      }
      else {
        val untraced = secondsOf(round(0))
        val t = new Tracer(spark)
        etls.foreach(_.trace(t))
        curs.foreach(_.trace(t))
        (1, Some(t), Seq(untraced, secondsOf(round(0))))
      }
    epilogue(rounds)
    if (a.trace) control.foreach(_())
    val mainS = (System.nanoTime() - mainStart) / 1e9
    val kernels = tracer.map(_ => curs.head.kernelBench(passes = 3)).getOrElse(Map.empty)
    tracer.foreach(_.drain())
    etls.foreach(_.finalGate())
    val ctx = Report.Context(a, rec, setupS, mainS, rounds, roundS, etls.toSeq, curs.toSeq, tracer, kernels)
    val out = Report.lines(ctx)
    tracer.foreach(_.close())
    out
  }
}
