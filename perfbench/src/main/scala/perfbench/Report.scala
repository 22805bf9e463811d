package perfbench

/** Turns a finished run into its result lines: a detail record (sample
  * counts, tail percentiles, failures, per-span breakdown) followed by
  * the result object whose `metrics` hold the end-to-end metrics of an
  * untimed run or the per-layer metrics of a traced one. */
object Report {

  final case class Context(
      args: Main.Args,
      rec: Recorder,
      setupS: Double,
      mainS: Double,
      /** main-phase rounds run */
      rounds: Int,
      /** a traced run's round 0, untraced then traced, in seconds */
      roundS: Seq[Double],
      etls: Seq[Etl],
      curs: Seq[CurationBench],
      tracer: Option[Tracer],
      kernels: Map[String, Double],
  )

  /** (name, unit, value) */
  type Metric = (String, String, Double)

  def endToEnd(c: Context): Seq[Metric] = {
    val r = c.rec
    val (factBytes, delivered) = c.etls.map { e =>
      (e.factStats._2.toDouble, e.delivered.map(_.bytes.toDouble).sum)
    }.foldLeft((0.0, 0.0)) { case ((a, b), (x, y)) => (a + x, b + y) }
    Seq(
      ("setup_s", "s", c.setupS),
      ("peak_rss_mb", "MB", Tracer.peakRssMb),
      ("load_records_per_s", "records/s", Stats.median(r.allRates("load"))),
      ("load_p50_s", "s", Stats.median(r.all("load"))),
      ("load_tail_s", "s", Stats.tail(r.all("load"))._2),
      ("storage_bytes_per_input_byte", "bytes/byte", factBytes / delivered),
      ("refresh_p50_s", "s", Stats.median(r.all("refresh"))),
      ("query_p50_s", "s", Stats.median(r.all("query"))),
      ("query_tail_s", "s", Stats.tail(r.all("query"))._2),
      ("curate_docs_per_s", "docs/s", Stats.median(r.allRates("curate"))),
      ("bm25_queries_per_s", "queries/s", Stats.median(r.allRates("bm25"))),
      ("dedup_batch_p50_s", "s", Stats.median(r.all("dedup_batch"))),
    )
  }

  def perLayer(c: Context, t: Tracer): Seq[Metric] = {
    val spans = t.spans.toSeq
    def named(n: String) = spans.filter(_.name == n)
    def self(n: String) = named(n).map(t.selfSeconds).sum
    def cnt(n: String, k: String) = named(n).map(_.counts.getOrElse(k, 0.0)).sum
    def frac(a: Double, b: Double) = if (b > 0) a / b else 0.0
    def medianSpan(n: String) = {
      val xs = named(n).map(_.seconds)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val jobs = t.allJobs
    val queries = t.allQueries
    def jobsIn(n: String) = jobs.count(j => t.spanOf(j).exists(_.name == n)).toDouble
    def qsum(k: String, p: Option[Span] => Boolean = _ => true) =
      queries.filter(q => p(q._1)).map(_._2.m.getOrElse(k, 0L)).sum.toDouble
    val viewsJobs = jobs.count(j => named("views").exists(s => j.startMs >= s.startMs && j.startMs <= s.endMs))
    val unattributed = jobs.filter(j => t.spanOf(j).isEmpty)
    val (files, bytes) = c.etls.map(_.factStats).foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
    val skews = jobs.filter(_.tasks >= 2).map(_.skew)
    Seq(
      ("ingest.self_s", "s", self("ingest")),
      ("ingest.rows", "count", cnt("ingest", "rows")),
      ("ingest.corrupt_frac", "frac", frac(cnt("ingest", "corrupt"), cnt("ingest", "lines"))),
      ("validate.self_s", "s", self("validate")),
      ("validate.valid_frac", "frac", frac(cnt("validate", "valid"), cnt("validate", "in"))),
      ("dedup.self_s", "s", self("dedup")),
      ("dedup.kept_frac", "frac", frac(cnt("dedup", "kept"), cnt("dedup", "in"))),
      ("sink.self_s", "s", self("sink")),
      ("sink.inserted_frac", "frac", frac(cnt("sink", "inserted"), cnt("sink", "in"))),
      ("sink.existing_rows_scanned", "count", qsum("scan_rows", _.exists(_.name == "sink"))),
      ("sink.jobs", "count", jobsIn("sink")),
      ("warehouse.metadata_self_s", "s", self("warehouse.metadata")),
      ("warehouse.files", "count", files.toDouble),
      ("warehouse.bytes", "bytes", bytes.toDouble),
      ("views.self_s", "s", self("views")),
      ("views.rows_published", "count", cnt("views", "rows_published")),
      ("views.jobs", "count", viewsJobs.toDouble),
      ("agg.view_read_s", "s", medianSpan("agg.view_read")),
      ("agg.monthly_raw_s", "s", medianSpan("agg.monthly_raw")),
      ("agg.coverage_s", "s", medianSpan("agg.coverage")),
      ("agg.harmonized_s", "s", medianSpan("agg.harmonized")),
      ("agg.latest_dates_s", "s", medianSpan("agg.latest_dates")),
      ("text.annotate_self_s", "s", self("text.annotate")),
      ("text.exact_dedup_self_s", "s", self("text.exact_dedup")),
      ("text.minhash_self_s", "s", self("text.minhash")),
      ("text.minhash_kept_frac", "frac", frac(cnt("text.minhash", "kept"), cnt("text.minhash", "in"))),
      ("text.bm25_self_s", "s", self("text.bm25")),
      ("text.bucket_index_self_s", "s", self("text.bucket_index")),
      ("text.batch_gate_self_s", "s", self("text.batch_gate")),
      ("text.batch_admitted_frac", "frac", frac(cnt("text.batch_gate", "admitted"), cnt("text.batch_gate", "in"))),
    ) ++ KernelNames.map(k => (s"functions.$k.ns_per_doc", "ns/doc", c.kernels.getOrElse(k, 0.0))) ++ Seq(
      ("spark.jobs", "count", jobs.size.toDouble),
      ("spark.stages", "count", jobs.map(_.stages).sum.toDouble),
      ("spark.tasks", "count", jobs.map(_.tasks).sum.toDouble),
      ("spark.task_cpu_s", "s", jobs.map(_.cpuNs).sum / 1e9),
      ("spark.task_skew", "ratio", if (skews.isEmpty) 1.0 else Stats.median(skews)),
      ("spark.scan_bytes", "bytes", jobs.map(_.inputBytes).sum.toDouble),
      ("spark.scan_files", "count", qsum("scan_files")),
      ("op.scan_s", "s", qsum("scan_ms") / 1000),
      ("spark.shuffle_write_bytes", "bytes", jobs.map(_.shuffleWriteBytes).sum.toDouble),
      ("spark.shuffle_records", "count", jobs.map(_.shuffleRecords).sum.toDouble),
      ("spark.spill_bytes", "bytes", jobs.map(_.spillBytes).sum.toDouble),
      ("spark.peak_exec_mem_bytes", "bytes", jobs.map(_.peakExecMem).foldLeft(0L)(math.max).toDouble),
      ("op.shuffle_write_s", "s", jobs.map(_.shuffleWriteNs).sum / 1e9),
      ("op.agg_build_s", "s", qsum("agg_ms") / 1000),
      ("op.sort_s", "s", qsum("sort_ms") / 1000),
      ("op.join_build_s", "s", qsum("join_build_ms") / 1000),
      ("spark.result_bytes", "bytes", jobs.map(_.resultBytes).sum.toDouble),
      ("spark.codegen_compile_s", "s", (Tracer.compileNs - t.compileNs0) / 1e9),
      ("spark.codegen_compiles", "count", (Tracer.compileCount - t.compiles0).toDouble),
      ("jvm.gc_s", "s", (Tracer.gcMs - t.gcMs0) / 1000.0),
      ("trace.overhead_s", "s", c.roundS(1) - c.roundS(0)),
      ("trace.unattributed_s", "s", unattributed.map(j => j.endMs - j.startMs).sum / 1000.0),
      ("trace.unattributed_jobs", "count", unattributed.size.toDouble),
    )
  }

  val KernelNames: Seq[String] = Seq("TextStats", "Tokens", "HashShingles", "MinHashSignature", "TokenTf")

  private def metricsJson(ms: Seq[Metric]): String =
    Json.obj(ms.map { case (n, u, v) => n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })

  def lines(c: Context): Seq[String] = {
    val r = c.rec
    val kinds = r.samples.keys.toSeq
    val e2e = endToEnd(c)
    val layers = c.tracer.map(perLayer(c, _)).getOrElse(Nil)
    val detail = Json.obj(Seq(
      "workload" -> Json.str(c.args.workload),
      "seed" -> c.args.seed.toString,
      "trace" -> c.args.trace.toString,
      "main_phase_s" -> Json.num(c.mainS),
      "rounds" -> c.rounds.toString,
      "round_s" -> c.roundS.map(Json.num).mkString("[", ",", "]"),
      "gen_s" -> Json.num(r.sums.getOrElse("gen_s", 0.0)),
      "ops_failed_frac" -> Json.num(r.failed.toDouble / math.max(1L, r.attempted)),
      "samples" -> Json.obj(kinds.map(k => k -> r.n(k).toString)),
      "latency_s" -> Json.obj(kinds.map(k => k -> r.all(k).map(Json.num).mkString("[", ",", "]"))),
      "tail_percentile" -> Json.obj(Seq("load", "query").map(k => k -> Json.num(Stats.tailPercentile(r.n(k))))),
      "end_to_end" -> metricsJson(e2e),
      "failures" -> r.failures.map(Json.str).mkString("[", ",", "]"),
    ))
    val spans = c.tracer.toSeq.flatMap { t =>
      t.spans.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "op" -> s.op.toString, "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "self_s" -> Json.num(t.selfSeconds(s)), "codegen_s" -> Json.num(s.codegenNs / 1e9),
        "counts" -> Json.obj(s.counts.toSeq.map { case (k, v) => k -> Json.num(v) }))))
    }
    val result = Json.obj(Seq(
      "correct" -> (r.failed == 0).toString,
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "metrics" -> metricsJson(if (c.args.trace) layers else e2e),
    ))
    (if (spans.isEmpty) Nil else Seq(Json.obj(Seq("spans" -> spans.mkString("[", ",", "]"))))) ++
      Seq(detail, result)
  }
}
