package graft

/** Shared runtime defaults for the driver-contract mains. */
object Defaults {

  /** Worker-thread count: SPARK_GRAFT_CPUS, else the machine's cores
    * capped at 32 — one definition so all entrypoints agree. */
  def cpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors).toString)

  /** The graft session profile — ONE definition of the SparkSession
    * config every entrypoint (Bench/Verify/Profile/Cli/AnnRecallBench/
    * StreamBench/SynthScale, and the test suite's session) starts
    * from, and the builder a USER session on a decade-scale corpus
    * should start from too (ARCHITECTURE.md deployment notes):
    *
    *   - shuffle partitions = worker threads (local mode; a cluster
    *     deployment overrides with its executor-core total);
    *   - [[GraftExtensions]] (native kernels) + UTC + non-ANSI, the
    *     oracle-comparison contract;
    *   - runtime bloom-filter join pruning (off by default in Spark
    *     4.1; prunes the big side of shuffled inner/semi joins at
    *     100 TB scale);
    *   - '''cluster-profile liveness timeouts''': decade-scale heaps
    *     (96g at the sf100 probes) take full-GC pauses past the 120 s
    *     default heartbeat — the r15 probe lost its SparkContext to
    *     exactly that ("Removing executor driver with no recent
    *     heartbeats: 130236 ms"), turning one slow query into 15
    *     failed ones. A GC pause is not a dead executor, in local
    *     mode least of all; 600 s network / 60 s heartbeat matches
    *     the large-heap profile any 100 TB deployment carries, and on
    *     a small quiet heap the slack costs nothing. Previously these
    *     lived only in Bench's builder — a user driving SparkEntry on
    *     a big corpus through their own session hit the same kill.
    *
    * Callers chain further config (Cli's master override, Bench's
    * timed-round GC policy, the tests' 4-thread master) before
    * getOrCreate(). */
  def sessionBuilder(): org.apache.spark.sql.SparkSession.Builder =
    org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // ObjectHashAggregate (collect_list/collect_set — the LSH
      // bucket-member lists) falls back to SORT-based aggregation at
      // 128 in-memory keys by default; the minhash cascade's
      // (band, bucket) aggregate has thousands of keys per task, and
      // Profile showed every task falling back (numTasksFallBacked=32,
      // 3.1 s aggTime + the sort path re-serializing signature
      // structs). 4096 keys × a bounded bucket-member buffer
      // (maxBucketSize × ~250 B ≈ 8 KB) ≈ 32 MB per task worst-case —
      // safe on any executor profile this engine targets, and the
      // fallback still guards beyond it. Scale-independent: the limit
      // is per-task state, not data size.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      // Whole-stage-codegen compiled-class cache (STATIC conf, takes
      // effect on the first session of the JVM). The default is 100
      // entries; this engine declares 152 queries × ~10 codegen
      // stages each, so a suite pass (Bench round, Verify, a user
      // session driving the full surface) evicts every entry and
      // RE-COMPILES (Janino) every stage of every query on every
      // visit — measured r17 on an 8-query bench subset: 17.7 s at
      // the default vs 11.1 s at 5000 with identical code (and the
      // full-suite effect is larger: each of the ~1500 distinct
      // stages recompiled once per round). 5000 covers the declared
      // surface with headroom; entries are compiled classes (tens of
      // KB), so the worst-case cache footprint is low hundreds of MB
      // on the driver of a local session — the executors of a cluster
      // deployment each cache only the stages they run. Scale-
      // independent: keyed to query-surface size, not data size.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.ui.enabled", "false")

  /** A working-column name guaranteed absent from `existing` (an input
    * that already carries e.g. `_rn` must survive unclobbered). Shared
    * by every operator that needs a transient column — Sessionize,
    * Sampling — so collision safety is one definition, not a
    * per-operator convention. */
  def freshCol(existing: Seq[String], base: String): String = {
    val taken = existing.toSet
    Iterator.from(0)
      .map(i => if (i == 0) base else s"$base$i")
      .find(!taken(_)).get
  }

  /** Temp directory that is recursively deleted at JVM exit — for
    * lifecycle queries that stage warehouses/exports per invocation
    * (a bench run invokes each of them several times; bare
    * createTempDirectory would accumulate gigabytes across runs). */
  def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(p.toFile)
    }))
    p.toString
  }
}
