package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.ingest.{Enrich, JsonlSource}

/** Structured-Streaming ingest surface (SURVEY.md §2.10).
  *
  * The reference has no true streaming — its "streaming ingestion"
  * (reference README.md:134) is chunked incremental JSONL reads
  * (S2/S3) with idempotent upsert as the late-data story. The natural
  * Spark analog is a file-source stream with `Trigger.AvailableNow`:
  * each run drains whatever files have arrived and stops — exactly
  * the reference's monthly incremental batch, but with checkpointed
  * progress instead of a high-watermark query.
  *
  * Dedup: `dropDuplicates(naturalKey)` — in AvailableNow mode the
  * state store covers the whole drain, giving in-run exactly-once on
  * the key; cross-run duplicates are neutralized by the sink's
  * idempotent-append (same argument as the reference's ON CONFLICT).
  * A `withWatermark` variant bounds state for continuous mode.
  */
object StreamingIngest {

  /** Open a schema-enforced JSONL file stream over a directory. */
  def readStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream
      .schema(schema.add(JsonlSource.CorruptCol, org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", JsonlSource.CorruptCol)
      .json(dir)

  /** Ingest pipeline on a stream: corrupt-filter → enrich → key dedup. */
  def pipeline(
      stream: DataFrame,
      runId: String,
      nowMs: Long,
      naturalKey: Seq[String],
      watermark: Option[(String, String)] = None,
  ): DataFrame = {
    val good = stream
      .filter(org.apache.spark.sql.functions.col(JsonlSource.CorruptCol).isNull)
      .drop(JsonlSource.CorruptCol)
    val enriched = Enrich.ensureRunMetadata(good, runId, nowMs)
    val marked = watermark match {
      case Some((tsCol, delay)) => enriched.withWatermark(tsCol, delay)
      case None => enriched
    }
    marked.dropDuplicates(naturalKey)
  }

  /** Continuous-mode variant: `dropDuplicatesWithinWatermark` expires
    * key state once the watermark passes a key's event time, so dedup
    * state is bounded by the watermark window instead of growing with
    * every key ever seen — the only form that survives an unbounded
    * stream. (Plain `dropDuplicates` keeps all keys forever unless the
    * event-time column is part of the key; AvailableNow drains don't
    * care, a 24/7 stream does.) */
  def pipelineWithinWatermark(
      stream: DataFrame,
      runId: String,
      nowMs: Long,
      naturalKey: Seq[String],
      tsMsCol: String,
      delay: String,
  ): DataFrame = {
    import org.apache.spark.sql.functions._
    val good = stream
      .filter(col(JsonlSource.CorruptCol).isNull)
      .drop(JsonlSource.CorruptCol)
    Enrich.ensureRunMetadata(good, runId, nowMs)
      .withColumn("_event_time", timestamp_millis(col(tsMsCol)))
      .withWatermark("_event_time", delay)
      .dropDuplicatesWithinWatermark(naturalKey)
      .drop("_event_time")
  }

  /** Streaming document curation: the batch
    * [[graft.text.Curation]] annotate → gate → exact-dedup pipeline
    * transplanted to an unbounded document stream. The annotators
    * (lang id, quality, token count, fingerprint) are pure narrow
    * Column expressions, so they attach to a stream unchanged; the
    * exact dedup becomes `dropDuplicatesWithinWatermark` on the
    * content fingerprint, so dedup state expires with the watermark
    * instead of growing with every document ever seen.
    *
    * Semantics deviation from batch, by necessity: an unbounded
    * stream cannot keep-min-id (there is no "min over the corpus" at
    * any point in time) — the streaming dedup keeps the FIRST arrival
    * of each fingerprint inside the watermark window, the D1
    * first-wins rule rather than the historical keep-min-id rule, and
    * duplicates separated by more than the watermark delay both
    * survive (bounded state is the price of unboundedness; the
    * idempotent batch sink downstream neutralizes them on ingest).
    *
    * `classifierWeights` (a [[graft.text.QualityClassifier]] weights
    * frame, as persisted by the batch t12 training) adds MODEL-BASED
    * admission after the heuristic gates: the bounded weight table
    * folds into the plan as a map literal and the margin is exact
    * decimal per-row arithmetic
    * ([[graft.text.QualityClassifier.narrowMargin]]) — no shuffle, no
    * state, row-for-row equal to batch scoring, so batch-trained
    * models gate an unbounded stream with zero semantic drift.
    * Documents with margin < 0 drop; survivors carry `model_score`. */
  def curationStream(
      stream: DataFrame,
      textCol: String,
      minQuality: Double,
      langs: Seq[String],
      minTokens: Int,
      tsMsCol: String,
      delay: String,
      maxTokens: Int = 1 << 20,
      classifierWeights: Option[DataFrame] = None,
  ): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.text.{QualityClassifier, TextAnalysis}
    val t = col(textCol)
    // one stats kernel eval per row behind the eval_once barrier —
    // the same pushdown-proofing as Curation.annotate (the admission
    // filter would otherwise inline the kernel once per conjunct)
    val st = graft.Defaults.freshCol(stream.columns.toIndexedSeq, "_curation_st")
    val gated = stream
      .withColumn(st, TextAnalysis.sharedStats(t))
      .withColumn("curation_lang", TextAnalysis.langIdOfStats(col(st)))
      .withColumn("curation_quality", TextAnalysis.qualityScoreOfStats(col(st)))
      .withColumn("curation_tokens", col(st).getField("n_tokens"))
      .withColumn("_fp", TextAnalysis.fingerprintMd5(t))
      .drop(st)
      .filter(col("curation_quality") >= minQuality
        && col("curation_lang").isin(langs: _*)
        && col("curation_tokens").between(minTokens, maxTokens))
    val admitted = classifierWeights match {
      case Some(w) =>
        val (_, margin) = QualityClassifier.narrowMargin(t, w)
        gated
          .withColumn("model_score", round(margin, 6))
          .filter(margin >= 0.0)
      case None => gated
    }
    admitted
      .withColumn("_event_time", timestamp_millis(col(tsMsCol)))
      .withWatermark("_event_time", delay)
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_event_time", "_fp")
  }

  /** Drain all available input into a parquet table and stop —
    * the incremental-batch run (Trigger.AvailableNow). */
  def drainToParquet(
      df: DataFrame,
      tablePath: String,
      checkpointPath: String,
  ): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", tablePath)
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Stream → idempotent table: every micro-batch flows through the
    * SAME anti-join append as the batch engine
    * ([[graft.sink.IdempotentAppend.appendNew]] inside `foreachBatch`),
    * so checkpoint replay after a crash, overlapping re-extraction,
    * and cross-run duplicates are all neutralized exactly as the
    * reference's ON CONFLICT DO NOTHING — the parquet sink above gives
    * per-file exactly-once, this gives per-KEY exactly-once across
    * arbitrary redelivery. The streaming face of S7/D2. */
  def drainUpsert(
      df: DataFrame,
      tablePath: String,
      checkpointPath: String,
      keys: Seq[String],
      nullSafeCols: Set[String] = Set.empty,
      timeCol: Option[String] = Some("timestamp_ms"),
  ): StreamingQuery =
    df.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sink.IdempotentAppend.appendNew(
          batch.sparkSession, batch, tablePath, keys, nullSafeCols, timeCol)
        ()
      }
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming near-duplicate admission — the incremental-ingest form
    * of the MinHash dedup family: each micro-batch is first deduped
    * with the BATCH semantics ([[graft.text.TextDedup.minhashDedup]] —
    * keep-min-id, jaccard-verified, exact within the batch), then
    * gated against the PERSISTENT band-bucket index: a document is
    * admitted only if NONE of its LSH band buckets was registered by a
    * previously admitted document, and admitted documents register
    * their buckets. DEFAULT cross-batch semantics are the LSH
    * candidate curve, not verified jaccard — the index stores buckets,
    * not signatures, so a cross-batch collision drops without a verify
    * (P(drop | jaccard s) = 1−(1−s^r)^b: ~99.5% of s=0.9 near-dups,
    * ~17% of s=0.5 pairs at the b=6, r=5 defaults — the recall-heavy
    * trade every streaming LSH gate makes). `verifyJaccard = true`
    * buys back batch semantics: the index carries per-document bucket
    * rows plus a PACKED shingle store at `bucketIndexPath_sh` — one
    * `(id, shp binary)` row per admitted doc, 4 bytes per distinct
    * shingle ([[graft.text.TextDedup.packedShingles]]; the raw
    * `array<long>` form measured 2.7× corpus bytes at sf10) — and a
    * cross-batch collision drops only after the same exact-jaccard
    * verify the batch dedup runs, evaluated over 32-bit packed sets on
    * BOTH sides ([[graft.text.TextDedup.verifiedCollisionGatePacked]];
    * a pair's jaccard can shift ±1/|A∪B| on a low-32-bit collision,
    * probability ~1e-5 per candidate pair — negligible at near-dup
    * thresholds). The 0.09% admitted-count delta vs batch goes to zero
    * (StreamingIngestSpec), for the cost of the candidate-volume
    * verify joins and the (now ~halved, still linear-in-corpus)
    * shingle store.
    *
    * Both sinks go through [[graft.sink.IdempotentAppend.appendNew]],
    * so checkpoint redelivery re-admits nothing and re-registers
    * nothing; a crash between the two appends is healed by the replay
    * of the same micro-batch. Scale: the gate is one (band,bucket)
    * join against the index (broadcast-prunable like any upsert) —
    * the stream never joins the admitted CORPUS, only its bucket
    * keys. */
  def drainNearDupGate(
      df: DataFrame,
      admittedPath: String,
      bucketIndexPath: String,
      checkpointPath: String,
      idCol: String,
      textCol: String,
      threshold: Double = 0.9,
      k: Int = 3,
      numHashes: Int = 30,
      bands: Int = 6,
      verifyJaccard: Boolean = false,
  ): StreamingQuery =
    df.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        import org.apache.spark.sql.functions._
        val spark = batch.sparkSession
        val fs = org.apache.hadoop.fs.FileSystem
          .get(spark.sparkContext.hadoopConfiguration)
        val haveIndex = fs.exists(new org.apache.hadoop.fs.Path(bucketIndexPath))
        // one shingle pass (the batch admission core, TextDedup.
        // minhashDedupHashed) feeds the in-batch dedup, the survivor
        // buckets and the (id, sh) store rows; the shared scope keeps
        // its caches alive across the appends below
        graft.quality.CacheScope.shared {
          val (local, hashed) = graft.text.TextDedup.minhashDedupHashed(
            batch.toDF(), idCol, textCol, threshold, k, numHashes, bands,
            graft.text.TextDedup.DefaultMaxBucketSize)
          val buckets = graft.text.TextDedup.bucketsOfHashed(hashed, idCol, numHashes, bands)
          // same (band, bucket) gate as the batch incremental dedup —
          // TextDedup.collisionGate IS the shared kernel; with
          // verifyJaccard the index additionally carries per-doc bucket
          // rows + a shingle store and the gate upgrades to the
          // exact-jaccard-verified form (TextDedup.verifiedCollisionGate
          // — stream admission ≡ batch semantics, at the cost of the
          // candidate-volume verify joins and the (id, sh) state)
          val shinglePath = bucketIndexPath.stripSuffix("/") + "_sh"
          val admitted =
            if (!haveIndex) local
            else if (!verifyJaccard)
              graft.text.TextDedup.collisionGate(
                local, buckets, spark.read.parquet(bucketIndexPath), idCol)
            else {
              val store = spark.read.parquet(shinglePath)
              // pre-round-12 stores hold raw `sh` arrays; the packed
              // gate would fail on the missing `shp` column with an
              // opaque resolution error — name the migration instead
              require(store.columns.contains("shp"),
                s"shingle store at $shinglePath uses the retired raw-array " +
                  "layout (columns: " + store.columns.mkString(", ") + "); " +
                  "re-drain into a fresh index/store path, or rewrite it once " +
                  "with TextDedup.packedShingles(col(\"sh\")) as `shp`")
              graft.text.TextDedup.verifiedCollisionGatePacked(
                local, hashed, buckets,
                spark.read.parquet(bucketIndexPath),
                store, idCol, threshold)
            }
          graft.sink.IdempotentAppend.appendNew(
            spark, admitted, admittedPath, Seq(idCol), timeCol = None)
          if (!verifyJaccard)
            graft.sink.IdempotentAppend.appendNew(
              spark,
              buckets.join(admitted.select(col(idCol)), Seq(idCol), "left_semi")
                .select(col("band"), col("bucket")).distinct(),
              bucketIndexPath, Seq("band", "bucket"), timeCol = None)
          else {
            graft.sink.IdempotentAppend.appendNew(
              spark,
              buckets.join(admitted.select(col(idCol)), Seq(idCol), "left_semi")
                .select(col("band"), col("bucket"), col(idCol)).distinct(),
              bucketIndexPath, Seq("band", "bucket", idCol), timeCol = None)
            graft.sink.IdempotentAppend.appendNew(
              spark,
              hashed.join(admitted.select(col(idCol)), Seq(idCol), "left_semi")
                .select(col(idCol),
                  graft.text.TextDedup.packedShingles(col("sh")).as("shp")),
              shinglePath, Seq(idCol), timeCol = None)
          }
        }
        ()
      }
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Event-time SESSION rollup on a stream — the streaming face of
    * [[graft.agg.Sessionize.sessionStats]], via Spark's native
    * `session_window` (state-store gap-merging; watermark expires
    * session state, so memory is bounded by open sessions, not
    * history). Emits one row per closed session with the same stat
    * columns as the batch form (minus `session_seq` — a dense
    * per-user counter is a corpus-order quantity that does not exist
    * on an unbounded stream; sessions are keyed by their start time
    * instead).
    *
    * Boundary semantics: `session_window` closes at gap >= gapDuration
    * while the batch operator keeps events at exactly gapUs in one
    * session — a batch run with `gapUs = gapDurationUs - 1` is the
    * exact twin (pinned by StreamingIngestSpec). */
  def sessionRollup(
      stream: DataFrame,
      tsMsCol: String,
      userCol: String,
      valueCol: String,
      gap: String,
      watermarkDelay: String,
  ): DataFrame = {
    import org.apache.spark.sql.functions._
    stream
      .withColumn("_event_time", timestamp_millis(col(tsMsCol)))
      .withWatermark("_event_time", watermarkDelay)
      .groupBy(session_window(col("_event_time"), gap), col(userCol))
      .agg(
        min(col("_event_time")).as("session_start"),
        max(col("_event_time")).as("session_end"),
        count(lit(1)).as("n_events"),
        (unix_micros(max(col("_event_time"))) - unix_micros(min(col("_event_time"))))
          .as("duration_us"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col(userCol), col("session_start"), col("session_end"),
        col("n_events"), col("duration_us"), col("total_value"))
  }

  /** Event-time windowed rollup with a watermark: the streaming form
    * of the monthly MV (daily tumbling windows here — month windows
    * are calendar-irregular, so the batch refresh stays the monthly
    * source of truth; the reference's MVs are likewise recomputed,
    * not incrementally maintained — SURVEY.md §2.10). Late rows
    * beyond the watermark are dropped instead of reopening state. */
  def windowedRollup(
      stream: DataFrame,
      tsCol: String,
      dims: Seq[String],
      measureCol: String,
      windowLength: String = "1 day",
      watermarkDelay: String = "2 days",
  ): DataFrame = {
    import org.apache.spark.sql.functions._
    stream
      .withColumn("_event_time", timestamp_millis(col(tsCol)))
      .withWatermark("_event_time", watermarkDelay)
      .groupBy((org.apache.spark.sql.functions.window(col("_event_time"), windowLength).as("win")
        +: dims.map(col)): _*)
      .agg(sum(col(measureCol)).as("total_generation_mwh"),
        count(lit(1)).as("records"))
      .select((Seq(col("win.start").as("window_start")) ++ dims.map(col)
        ++ Seq(col("total_generation_mwh"), col("records"))): _*)
  }

  /** Per-entity running state via flatMapGroupsWithState: cumulative
    * generation + record count per plant, emitted on every update —
    * the custom-state shape (KeyValueGroupedDataset) the batch engine
    * has no equivalent for. State is bounded by entity cardinality. */
  final case class EntityState(entity: String, totalMwh: Double, records: Long)

  /** Stream → persistent corpus SKETCHES — the streaming-accumulator
    * form the mergeable-sketch family was built for
    * ([[graft.text.Sketches]]: CMS cells are linear sums, KMV is
    * min-k, HLL registers are per-bucket max, bottom-k quantile rows
    * are min-k by (u, v), Bloom bits are a set union — all merge ≡
    * recompute EXACTLY, proven by SketchesSpec and the
    * t18/t19/t21/t25/t27 oracles; the Misra–Gries summary rides along
    * with its deterministic-but-lossy merge).
    *
    * Per micro-batch: build ALL SIX bounded partial sketches in ONE
    * wide aggregation job ([[graft.text.Sketches.widePartials]] — the
    * five token families share a single token shuffle; QS is a narrow
    * TakeOrdered branch) and append them as ONE `batch_id`-keyed row
    * of six arrays through [[graft.sink.IdempotentAppend.appendNew]].
    * Checkpoint redelivery of the SAME batch id re-inserts nothing
    * (the CMS fold is a SUM, so at-least-once delivery without the
    * key guard would double-count), and because the whole contribution
    * is one row there is no partial-crash window between families at
    * all. State is one six-array row per batch — KBs per batch
    * whatever the corpus.
    *
    * Read side ([[cmsStateCells]]/[[kmvStateSketch]]/
    * [[hllStateRegisters]]/[[mgStateSummary]]/[[qsStateSketch]]/
    * [[bloomStateBits]]): fold the partials with each merge law — by
    * the merge ≡ recompute theorems the result equals the
    * whole-corpus sketch bit-for-bit (MG: the deterministic n-way
    * merge), so estimates from the drained state ARE the batch
    * estimates (StreamingIngestSpec pins this end to end). */
  def drainSketchState(
      df: DataFrame,
      textCol: String,
      statePath: String,
      checkpointPath: String,
      cmsDepth: Int = 4,
      cmsWidth: Int = 1024,
      kmvK: Int = 256,
      hllP: Int = 8,
      mgK: Int = 64,
      idCol: String = "doc_id",
      qsK: Int = 256,
      bloomDepth: Int = 7,
      bloomWidth: Int = 4096,
  ): StreamingQuery =
    df.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeSketchBatch(batch.toDF(), textCol, statePath, batchId,
          cmsDepth, cmsWidth, kmvK, hllP, mgK, idCol, qsK, bloomDepth, bloomWidth)
        ()
      }
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.AvailableNow())
      .start()

  /** One micro-batch's sketch merge — factored out so redelivery
    * idempotence is testable without faking a checkpoint crash:
    * calling this twice with the same `batchId` must leave the state
    * unchanged (the append key is `batch_id`; a batch's ENTIRE sketch
    * contribution is one row, so redelivery either inserts the row or
    * matches it whole — no per-family partial-crash window at all).
    *
    * Cost shape: ONE wide aggregation query + ONE append per batch.
    * The round-11 form (six per-family builds off a shared cached
    * scan, submitted concurrently) still paid six job launches + six
    * state appends — measured at 1.45–3.54 s fixed per micro-batch
    * (MEASUREMENTS_R11.json, 221% overhead at fpt=4).
    * [[graft.text.Sketches.widePartials]] collapses that to a single
    * query returning one six-array row: the five token families are
    * ONE imperative-aggregate pass ([[graft.functions.WideSketchAgg]])
    * over the batch's token collapse — one corpus-sized shuffle, one
    * bounded-buffer merge — plus the narrow QS TakeOrdered branch,
    * and the single append pays the lease + stage + publish dance
    * once instead of six times. */
  private[graft] def mergeSketchBatch(
      batch: DataFrame,
      textCol: String,
      statePath: String,
      batchId: Long,
      cmsDepth: Int,
      cmsWidth: Int,
      kmvK: Int,
      hllP: Int,
      mgK: Int = 64,
      idCol: String = "doc_id",
      qsK: Int = 256,
      bloomDepth: Int = 7,
      bloomWidth: Int = 4096,
  ): Unit = {
    import org.apache.spark.sql.functions._
    val spark = batch.sparkSession
    val wide = graft.text.Sketches
      .widePartials(batch, textCol, col(idCol),
        cmsDepth, cmsWidth, kmvK, hllP, mgK, qsK, bloomDepth, bloomWidth)
      .select(lit(batchId).as("batch_id"), col("cms"), col("kmv"),
        col("hll"), col("mg"), col("qs"), col("bloom"))
    graft.sink.IdempotentAppend.appendNew(
      spark, wide, s"$statePath/wide", Seq("batch_id"), timeCol = None)
    ()
  }

  /** Schema of the wide sketch-state table — one row per micro-batch,
    * one parameter-bounded array per sketch family (the exact rows the
    * per-family [[graft.text.Sketches]] builders emit). */
  private[graft] val WideSketchSchema: StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("batch_id", LongType),
      StructField("cms", ArrayType(StructType(Seq(
        StructField("j", IntegerType), StructField("bucket", LongType),
        StructField("cell", LongType))))),
      StructField("kmv", ArrayType(DecimalType(22, 0))),
      StructField("hll", ArrayType(StructType(Seq(
        StructField("bucket", LongType), StructField("r", IntegerType))))),
      StructField("mg", ArrayType(StructType(Seq(
        StructField("tok", StringType), StructField("counter", LongType))))),
      StructField("qs", ArrayType(StructType(Seq(
        StructField("u", DecimalType(22, 0)), StructField("v", LongType))))),
      StructField("bloom", ArrayType(StructType(Seq(
        StructField("j", IntegerType), StructField("bucket", LongType)))))))
  }

  /** The wide sketch-state table, or an empty frame of its schema when
    * no batch ever appended (absence of state is the empty sketch, not
    * an error). */
  private def wideState(spark: SparkSession, statePath: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(s"$statePath/wide")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) spark.read.parquet(path.toString)
    else {
      // Absent wide state is the empty sketch — UNLESS a pre-round-12
      // per-family layout sits here, in which case silence would
      // report folds that drop every pre-upgrade batch. Fail loudly
      // with the migration story instead.
      val legacy = Seq("cms", "kmv", "hll", "mg", "qs", "bloom")
        .filter(f => fs.exists(new org.apache.hadoop.fs.Path(s"$statePath/$f")))
      require(legacy.isEmpty,
        s"sketch state at $statePath uses the retired per-family layout " +
          s"(found: ${legacy.mkString(", ")}); re-drain the stream into a " +
          "fresh state path (the checkpoint replays every batch), or fold " +
          "the old dirs into one wide row per batch_id offline")
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], WideSketchSchema)
    }
  }

  /** Folded bottom-k quantile sketch of the drained state — the n-way
    * [[graft.text.Sketches.qsMerge]]: bottom-k by (u, v) across every
    * batch partial. Batches partition the corpus, so by the exact
    * bottom-k fold law this EQUALS the whole-corpus
    * [[graft.text.Sketches.qsSketch]] bit-for-bit; feed to
    * `qsQuantiles`. */
  def qsStateSketch(spark: SparkSession, statePath: String, k: Int = 256): DataFrame = {
    import org.apache.spark.sql.functions._
    wideState(spark, statePath)
      .select(explode(col("qs")).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .orderBy(col("u").asc, col("v").asc).limit(k)
  }

  /** Folded Bloom bits of the drained state — the n-way
    * [[graft.text.Sketches.bloomMerge]] (set union). Equals the
    * whole-corpus [[graft.text.Sketches.bloomBits]] exactly; feed to
    * `bloomProbe`. */
  def bloomStateBits(spark: SparkSession, statePath: String): DataFrame = {
    import org.apache.spark.sql.functions._
    wideState(spark, statePath)
      .select(explode(col("bloom")).as("e"))
      .select(col("e.j").as("j"), col("e.bucket").as("bucket"))
      .distinct()
  }

  /** Folded Misra–Gries summary of the drained state: the n-way
    * [[graft.text.Sketches.mgMerge]] — per-token counter sums across
    * every batch partial, re-reduced with the same offset rule. The
    * merged summary keeps the global m_total/(k+1) undercount bound
    * (Agarwal et al. 2013); unlike the CMS/KMV/HLL folds it is not
    * bit-equal to the whole-corpus summary (MG's merge is lossy by
    * design) but it IS deterministic — StreamingIngestSpec pins the
    * fold against the batch-side n-way merge of the same partials. */
  def mgStateSummary(spark: SparkSession, statePath: String, k: Int = 64): DataFrame = {
    import org.apache.spark.sql.functions._
    // A batch whose summary came out EMPTY (legal: boundary ties zero
    // out every counter) carries an empty mg array — the inner explode
    // drops it, which IS the empty-summary contribution.
    val partials = wideState(spark, statePath)
      .select(explode(col("mg")).as("e"))
      .select(col("e.tok").as("tok"), col("e.counter").as("counter"))
    graft.text.Sketches.mgReduce(
      partials.groupBy("tok").agg(sum("counter").as("counter")), k)
  }

  /** Folded CMS cells of the drained state — equals
    * [[graft.text.Sketches.cmsCells]] over the whole drained corpus
    * (cells are linear). Feed to `cmsTopkCountsFromCells`. */
  def cmsStateCells(spark: SparkSession, statePath: String): DataFrame = {
    import org.apache.spark.sql.functions._
    wideState(spark, statePath)
      .select(explode(col("cms")).as("e"))
      .groupBy(col("e.j").as("j"), col("e.bucket").as("bucket"))
      .agg(sum(col("e.cell")).as("cell"))
  }

  /** Folded KMV sketch of the drained state — the k smallest distinct
    * hashes across every batch partial (n-way [[graft.text.Sketches.kmvMerge]]).
    * Feed to `kmvDistinctFromSketch`. */
  def kmvStateSketch(spark: SparkSession, statePath: String, k: Int = 256): DataFrame = {
    import org.apache.spark.sql.functions._
    wideState(spark, statePath)
      .select(explode(col("kmv")).as("u"))
      .distinct().orderBy(col("u").asc).limit(k)
  }

  /** Corpus vocabulary estimate straight from the ACCUMULATED sketch
    * state — zero corpus scans: the ingest pipeline already maintains
    * the KMV partials batch-by-batch, so a retrieval caller gets the
    * [[graft.text.Bm25.bm25TopK]] `corpusVocabEstimate` input for the
    * cost of reading the (one-row-per-batch) state table. This is the
    * production wiring of the measured t11 shape-selection rule.
    *
    * `k` MUST equal (or undercut) the `kmvK` the state was ingested
    * with — the [[graft.text.Sketches.kmvEstimateFromSketch]]
    * contract: folding per-batch partials at a LARGER k yields rows
    * that are not corpus order statistics and a sub-k count that is
    * not "the exact set", both biasing the estimate low. The default
    * matches [[drainSketchState]]'s default. */
  def vocabEstimateFromState(spark: SparkSession, statePath: String, k: Int = 256): Long =
    graft.text.Sketches.kmvEstimateFromSketch(kmvStateSketch(spark, statePath, k), k)

  /** Folded HLL registers of the drained state — per-bucket max across
    * every batch partial ([[graft.text.Sketches.hllMerge]] n-way).
    * Feed to `hllDistinctFromRegisters`. */
  def hllStateRegisters(spark: SparkSession, statePath: String): DataFrame = {
    import org.apache.spark.sql.functions._
    wideState(spark, statePath)
      .select(explode(col("hll")).as("e"))
      .groupBy(col("e.bucket").as("bucket")).agg(max(col("e.r")).as("r"))
  }

  /** Temperature-mixed streaming admission — closing the batch ↔
    * stream mixing loop (r13 stretch): each micro-batch is admitted
    * per-stratum at the [[graft.text.Sampling.temperatureAdmissionFractions]]
    * computed from the totals ACCUMULATED SO FAR, then merges its own
    * per-stratum totals into the state — so the admitted mix tracks a
    * drifting stream within one micro-batch interval, with ZERO corpus
    * scans at refresh time (the t28/t30 zero-scan pattern: the state
    * table is one row per (batch, stratum) — bounded).
    *
    * Exactly-once shape: the admit decision is a pure function of
    * (salt, key) ([[graft.text.Sampling.stratifiedSample]] md5 bands),
    * so a redelivered batch admits the SAME rows; both sinks go
    * through [[graft.sink.IdempotentAppend.appendNew]] — the admitted
    * table keyed on `keyCol`, the totals state keyed on
    * (batch_id, stratum), so replay after a crash between the two
    * appends re-inserts nothing and the fractions a replayed batch
    * reads are the same ones it read before the crash (its own totals
    * row is keyed under its batch_id, and `stratumTotalsFromState`
    * excludes rows at-or-past the reading batch's id).
    *
    * First batch (no state yet) admits everything — the natural mix
    * is the only estimate available. NULL strata fall to
    * `defaultFraction` (admit-all by default), the
    * [[graft.text.Sampling.temperatureBudgets]] NULL-policy.
    *
    * Compaction cadence (r16): every `compactEvery` batches the drain
    * folds the state's pre-cutoff rows into one snapshot row per
    * stratum ([[compactAdmissionState]]) with cutoff = the CURRENT
    * batch id — exactly the documented safety bound, because the
    * engine writes batch b−1's commit log before constructing batch
    * b, so when batch b runs, no batch below b can ever redeliver;
    * batch b itself may (its own totals row is keyed AT b, outside
    * the fold), and its `batch_id < b` read sums identically across
    * the fold (spec-pinned). Without the cadence the state accretes
    * one row per (batch, stratum) forever; `compactEvery = 0`
    * disables it for callers that run their own maintenance verb. */
  def drainTemperatureAdmission(
      df: DataFrame,
      keyCol: String,
      stratumCol: String,
      weightCol: String,
      alpha: Double,
      admittedPath: String,
      statePath: String,
      checkpointPath: String,
      salt: String = "",
      defaultFraction: Double = 1.0,
      compactEvery: Int = 32,
  ): StreamingQuery =
    df.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        admitTemperatureBatch(batch.toDF(), keyCol, stratumCol, weightCol,
          alpha, admittedPath, statePath, batchId, salt, defaultFraction,
          compactEvery)
        ()
      }
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.AvailableNow())
      .start()

  /** One micro-batch of the temperature admission — factored out so
    * redelivery idempotence and the one-interval tracking are testable
    * without faking a checkpoint crash (the [[mergeSketchBatch]]
    * pattern). */
  private[graft] def admitTemperatureBatch(
      batch: DataFrame,
      keyCol: String,
      stratumCol: String,
      weightCol: String,
      alpha: Double,
      admittedPath: String,
      statePath: String,
      batchId: Long,
      salt: String,
      defaultFraction: Double = 1.0,
      compactEvery: Int = 0,
  ): Unit = {
    import org.apache.spark.sql.functions._
    val spark = batch.sparkSession
    // refresh step: bounded state read → driver math, zero corpus scans
    val fractions = graft.text.Sampling.temperatureAdmissionFractions(
      stratumTotalsFromState(spark, statePath, beforeBatchId = Some(batchId)), alpha)
    val admitted =
      if (fractions.isEmpty) batch
      else graft.text.Sampling.stratifiedSample(batch, col(keyCol),
        col(stratumCol), fractions, defaultFraction, salt)
    graft.sink.IdempotentAppend.appendNew(
      spark, admitted, admittedPath, Seq(keyCol), timeCol = None)
    // totals reflect the OFFERED stream (what arrived), not the
    // admitted one: the natural-mix estimate the fractions divide by
    // must measure the source distribution, or the thinning would
    // feed back into its own denominator and overshoot the target mix
    val totals = batch
      .filter(col(stratumCol).isNotNull)
      .groupBy(col(stratumCol).cast("string").as("stratum"))
      .agg(sum(greatest(col(weightCol).cast("long"), lit(0L))).as("w"))
      .withColumn("batch_id", lit(batchId))
    graft.sink.IdempotentAppend.appendNew(
      spark, totals, statePath, Seq("batch_id", "stratum"), timeCol = None)
    // cadence fold AFTER the batch's own appends: cutoff = this batch
    // id is within the safety bound (no batch below a RUNNING batch
    // can redeliver — its commit log precedes this batch's
    // construction), and a replay of THIS batch reads `batch_id <
    // batchId` sums unchanged across the fold while its own totals
    // row (keyed at batchId) stays in the uncompacted tail.
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
      compactAdmissionState(spark, statePath, beforeBatchId = batchId)
      ()
    }
  }

  /** Accumulated per-stratum totals from the admission state table —
    * one bounded aggregate over (batch, stratum) rows. With
    * `beforeBatchId`, only rows from EARLIER batches count: a replayed
    * batch whose own totals row survived a crash must not read its own
    * contribution (it would compute different fractions than the
    * original run and admit a different row set). */
  def stratumTotalsFromState(
      spark: SparkSession,
      statePath: String,
      beforeBatchId: Option[Long] = None,
  ): Map[String, Long] = {
    import org.apache.spark.sql.functions._
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(statePath))) Map.empty
    else {
      val all = spark.read.parquet(statePath)
      val bounded = beforeBatchId.fold(all)(b => all.filter(col("batch_id") < b))
      // the collect is the POST-aggregation frame: ≤ |strata| rows —
      // the same bounded-strata contract `temperatureBudgets` states
      // (strata are languages/domains/source buckets, thousands at
      // most, never a high-cardinality key). The SCAN side is rows ×
      // batches and grows without [[compactAdmissionState]]; with the
      // recommended compaction cadence it is |strata| snapshot rows
      // plus the recent uncompacted batches.
      bounded.groupBy(col("stratum")).agg(sum(col("w")).as("w"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
  }

  /** Compaction for the temperature-admission state table: fold every
    * (batch_id, stratum) totals row from batches STRICTLY BEFORE
    * `beforeBatchId` into one snapshot row per stratum, keyed at
    * `batch_id = beforeBatchId - 1` — the newest folded position, so
    * any reader filtering `batch_id < b` with `b >= beforeBatchId`
    * sums exactly what it summed before the fold. Without this the
    * state accretes one row per (batch, stratum) forever; after it the
    * table holds ≤ |strata| snapshot rows plus the uncompacted tail.
    *
    * SAFETY BOUND — redelivery: a replayed batch `b` recomputes its
    * admission fractions from rows with `batch_id < b`; if a batch at
    * or below `beforeBatchId - 1` could still replay, its fraction
    * read would see the snapshot row (keyed at an id ≥ its own filter
    * bound) DIFFERENTLY than the original run and admit a different
    * row set. Callers must therefore pass `beforeBatchId` no larger
    * than the newest CHECKPOINT-COMMITTED batch id — under
    * foreachBatch semantics only batches after the last commit ever
    * redeliver, and every such batch reads the fold identically.
    * This is a maintenance call (refresh cadence, like every M-family
    * view), not part of the per-batch path; it publishes through the
    * M2 atomic swap so a concurrent fraction read never sees a
    * half-written table. Idempotent: re-running with the same (or a
    * later) cutoff folds the previous snapshot row into the new one.
    * Returns the compacted table's row count (0 when no state yet). */
  def compactAdmissionState(
      spark: SparkSession,
      statePath: String,
      beforeBatchId: Long,
  ): Long = {
    import org.apache.spark.sql.functions._
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(statePath)
    if (!fs.exists(p)) 0L
    else {
      val warehouse = p.getParent.toString
      graft.views.Refresh.refreshView(spark, warehouse,
        graft.views.Refresh.ViewJob(p.getName, { s =>
          val all = s.read.parquet(statePath)
          val keep = all.filter(col("batch_id") >= beforeBatchId)
          val folded = all.filter(col("batch_id") < beforeBatchId)
            .groupBy(col("stratum")).agg(sum(col("w")).as("w"))
            .withColumn("batch_id", lit(beforeBatchId - 1))
          keep.unionByName(folded)
        }))
    }
  }

  def runningTotals(
      spark: SparkSession,
      stream: DataFrame,
      entityCol: String,
      measureCol: String,
  ): org.apache.spark.sql.Dataset[EntityState] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = stream
      .selectExpr(s"CAST($entityCol AS STRING) AS entity", s"CAST($measureCol AS DOUBLE) AS mwh")
      .as[(String, Double)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (entity: String, rows: Iterator[(String, Double)], state: GroupState[EntityState]) => {
          val prev = state.getOption.getOrElse(EntityState(entity, 0.0, 0L))
          var total = prev.totalMwh
          var n = prev.records
          rows.foreach { r => total += r._2; n += 1 }
          val next = EntityState(entity, total, n)
          state.update(next)
          Iterator(next)
        })
  }
}
