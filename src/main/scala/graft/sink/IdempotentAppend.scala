package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Idempotent-append sink (reference operators S7/D2/J3/D4).
  *
  * The reference achieves exactly-once table semantics with Postgres:
  * stage via `COPY` into a temp table, then
  * `INSERT … ON CONFLICT (<natural key>) DO NOTHING` inside one
  * transaction (src/database.py:222-302). Re-delivered or overlapping
  * extraction windows are neutralized by the key conflict — "Re-runs
  * are inherently safe" (reference README.md:424).
  *
  * Spark-native equivalent: `incoming LEFT ANTI JOIN existing` on the
  * natural key, then an atomic append. Two scale decisions:
  *
  *   - The existing side is read as *keys only* (column pruning reaches
  *     the Parquet scan) and, when the incoming batch covers a bounded
  *     time window, pruned by the incoming `timestamp_ms` min/max so a
  *     100 TB table contributes only the overlapping partitions to the
  *     join.
  *   - The join strategy is left to AQE: a small pruned existing side
  *     broadcast-joins; a large one sort-merge-joins on the key. No
  *     collect(), no driver-side key set.
  *
  * Atomicity: Parquet append is not transactional, so commit = write to
  * a staging dir, then move the part files into the table dir
  * (one FS rename each). A crash mid-move leaves a partial append that
  * the next idempotent run repairs — the same self-healing argument the
  * reference makes for re-runs (SURVEY.md §4, last row).
  *
  * Writer-vs-writer atomicity: the reference's upserts are serialized
  * by Postgres (one `INSERT … ON CONFLICT` transaction,
  * database.py:296-300); two of OUR appends racing on one table would
  * each anti-join against a snapshot missing the other's rows and both
  * insert the overlap. [[appendNew]] therefore holds the per-table
  * writer lease ([[graft.warehouse.MaintenanceLock.acquireAppend]])
  * across its whole read-keys → stage → publish critical section: the
  * second append waits (bounded backoff), then anti-joins against a
  * table that already contains the first append's rows. Cost per
  * commit is two FS metadata ops — nothing on the data path — and the
  * lease also excludes maintenance in BOTH directions (see the
  * MaintenanceLock scaladoc, including the op-aware crash-recovery
  * story: a crashed append's lease is broken automatically after a
  * staleness bound; a crashed maintenance's never is).
  */
object IdempotentAppend {

  final case class UpsertResult(incoming: Long, inserted: Long, duplicates: Long)

  /** Null-safe equi-join condition over natural-key columns, written
    * against explicit aliases so that incoming/existing frames sharing
    * lineage (the common self-join case: both sides carved from one
    * table) never resolve to the same attribute — without aliases
    * Spark silently builds a trivially-true predicate.
    * `nullSafeCols` use the COALESCE(col,'') key form of the
    * reference's expression indexes (ons/occto/chile). */
  def keyCondition(
      leftAlias: String,
      rightAlias: String,
      keys: Seq[String],
      nullSafeCols: Set[String] = Set.empty,
  ): Column =
    keys
      .map { k =>
        val (l, r) = (col(s"$leftAlias.$k"), col(s"$rightAlias.$k"))
        if (nullSafeCols.contains(k)) Dedup.nullSafe(l) === Dedup.nullSafe(r)
        else l === r
      }
      .reduce(_ && _)

  /** Batches at or under this many rows take the broadcast key-prune
    * path in [[newRows]] (~tens of MB of broadcast natural keys at
    * 1M); larger batches fall back to the shuffled anti-join, whose
    * skew is AQE-delegated (UpsertSkewSpec). */
  val BroadcastPruneMaxKeys: Long = 1000000L

  /** D2/J3: rows of `incoming` whose natural key is absent from
    * `existing`. Only the key columns of the existing side are read —
    * column pruning reaches the scan, so a wide 100 TB table
    * contributes just its key columns to the join.
    *
    * When the caller can bound the batch size (`incomingRowBound`, the
    * count `appendNew` already takes) and it fits
    * [[BroadcastPruneMaxKeys]], the existing side is first pruned with
    * a broadcast LEFT SEMI join on the batch's distinct keys — the
    * exact-by-construction form of the bloom pre-filter (Spark's
    * InjectRuntimeFilter covers inner/semi joins but not LeftAnti).
    * Existing rows matching no incoming key cannot eliminate anything,
    * so anti(incoming, existing) ≡ anti(incoming, semi(existing,
    * incoming)) — results are identical while the 100 TB existing
    * side goes from SHUFFLED-on-key to a narrow broadcast probe, and
    * the residual anti-join (incoming vs the ≤|batch| matching keys)
    * broadcasts too: the common-case upsert does zero shuffles. */
  def newRows(
      incoming: DataFrame,
      existing: DataFrame,
      keys: Seq[String],
      nullSafeCols: Set[String] = Set.empty,
      incomingRowBound: Option[Long] = None,
  ): DataFrame = {
    val existingKeys = existing.select(keys.map(col): _*)
    val prunedExisting = incomingRowBound match {
      case Some(n) if n <= BroadcastPruneMaxKeys =>
        existingKeys.alias("_ex")
          .join(broadcast(incoming.select(keys.map(col): _*).distinct().alias("_k")),
            keyCondition("_ex", "_k", keys, nullSafeCols), "left_semi")
      case _ => existingKeys
    }
    incoming.alias("_inc")
      .join(prunedExisting.alias("_ex"), keyCondition("_inc", "_ex", keys, nullSafeCols), "left_anti")
  }

  /** Append an already-deduplicated batch: anti-join against the
    * target table (pruned to the incoming time window when `timeCol`
    * is given — a 100 TB table contributes only its overlapping
    * partitions to the join), then atomic append.
    *
    * The table's writer lease is held across the read→publish
    * critical section — the writer-vs-writer guarantee in the object
    * doc. The lease is released in a `finally`: unlike maintenance, a failed append never leaves the
    * table in a state the idempotent re-run cannot repair, so holding
    * the lock after failure would only block recovery. */
  def appendNew(
      spark: SparkSession,
      batch: DataFrame,
      tablePath: String,
      keys: Seq[String],
      nullSafeCols: Set[String] = Set.empty,
      timeCol: Option[String] = Some("timestamp_ms"),
      incomingCount: Option[Long] = None,
  ): UpsertResult = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val target = new Path(tablePath)
    // The batch cache exists for multi-consumer plans: the anti-join
    // path reads the batch 2–3 times (time-window agg, key prune,
    // anti-join input). A fresh-table append with a caller-supplied
    // count consumes it exactly ONCE (the observed staging write), so
    // caching would only add an InMemoryRelation materialization to
    // the write path — the small-append case this sink's fixed cost
    // was measured on. The existence probe here is advisory (cache
    // on/off is performance, not correctness); the authoritative
    // exists() check runs under the lease below.
    val needCache = incomingCount.isEmpty || fs.exists(target)
    val (cached, owned) =
    if (needCache) graft.quality.CacheScope.acquire(batch) else (batch, false)
    try {
    // Count (and thereby materialize the batch cache) BEFORE claiming
    // the lease: the count touches only the batch, and everything
    // moved out of the critical section shortens serialization. When
    // the caller already counted (`incomingCount`), the extra action
    // is skipped entirely — every caller-supplied count is a pre-dedup
    // row count, so it stays a valid UPPER bound for the broadcast-
    // prune decision below (it can only push a borderline batch off
    // the broadcast path, never onto it).
    val incoming = incomingCount.getOrElse(cached.count())

    // Empty-batch short-circuit: streaming gates produce empty appends
    // routinely, and the observed-write fusion would otherwise pay a
    // staging parquet write + staging-dir create/delete just to learn
    // n == 0. An empty batch publishes nothing, so no lease, no
    // staging, no renames. (`incoming` is the pre-dedup row count —
    // an upper bound — so 0 here means genuinely empty.)
    if (incoming == 0L) return UpsertResult(0L, 0L, 0L)

    val lease = graft.warehouse.MaintenanceLock.acquireAppend(fs, tablePath)
    try {
    val toInsert =
    if (!fs.exists(target)) cached
    else {
      val existing = spark.read.parquet(tablePath)
      // Pruning the existing side to the batch's [min, max] window is
      // only sound when the window column is part of the natural key:
      // otherwise an existing row with the same key but a timestamp
      // outside the window escapes the anti-join and the key is
      // appended twice.
      val pruned = timeCol match {
        case Some(tc) if cached.columns.contains(tc) && keys.contains(tc) =>
          val Array(lo, hi) = cached.agg(min(col(tc)), max(col(tc))).head() match {
            case r if r.isNullAt(0) => Array[Any](null, null)
            case r => Array[Any](r.get(0), r.get(1))
          }
          if (lo == null) existing
          else existing.filter(col(tc) >= lit(lo) && col(tc) <= lit(hi))
        case _ => existing
      }
      newRows(cached, pruned, keys, nullSafeCols,
        incomingRowBound = Some(incoming))
    }

    val insertedCount = atomicAppend(spark, toInsert, tablePath, Some(lease))
    UpsertResult(incoming, insertedCount, incoming - insertedCount)
    } finally graft.warehouse.MaintenanceLock.release(fs, tablePath, lease)
    // finally, not a tail call: a lock-refused (or failed) append must
    // not leak the batch's InMemoryRelation for the session lifetime
    } finally if (owned) cached.unpersist()
  }

  /** Full upsert: in-batch first-wins dedup, anti-join against the
    * target table, atomic append. Returns the reference's "rows
    * actually inserted" count (database.py:294). */
  def upsert(
    spark: SparkSession,
    incoming: DataFrame,
    tablePath: String,
    keys: Seq[String],
    orderCols: Seq[String],
    nullSafeCols: Set[String] = Set.empty,
    timeCol: Option[String] = Some("timestamp_ms"),
  ): UpsertResult = {
    val batch = Dedup.firstWinsByName(incoming, keys, orderCols)
    appendNew(spark, batch, tablePath, keys, nullSafeCols, timeCol,
    incomingCount = Some(incoming.count()))
  }

  /** Stage-then-rename append; returns appended row count.
    *
    * Hadoop FileSystem reports most rename/mkdirs failures by
    * returning false rather than throwing, so every move is checked
    * and a failure throws BEFORE the staging dir is deleted — a
    * silently-dropped part file would otherwise be unrecoverable data
    * loss reported as success. On failure the staging dir is left in
    * place for inspection; the next idempotent run is unaffected
    * (staging dirs are never read as table data).
    *
    * `held`: the writer lease when called under [[appendNew]]'s
    * critical section — the lock checks then become OWNERSHIP
    * re-checks (the lease must still carry our id; a lease broken as
    * stale aborts retryably instead of publishing over another
    * writer). Without a lease the legacy behavior stands: refuse
    * while anyone holds the lock. */
  def atomicAppend(
    spark: SparkSession,
    df: DataFrame,
    tablePath: String,
    held: Option[graft.warehouse.MaintenanceLock.Lease] = None,
  ): Long = {
    // No cache here since the observed-write fusion: `df` is consumed
    // exactly once (the count rides the staging write as a metric), so
    // a cache would be pure materialization overhead on the write path.
    val staging = tablePath.stripSuffix("/") +
    s"_staging_${java.util.UUID.randomUUID().toString.take(8)}"
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    // Writer exclusion vs table maintenance (compact/update-schema
    // snapshot-read -> swap): an append published during that
    // window would be destroyed with the retired .old copy. Fail
    // fast and retryable instead. Checked BEFORE the staging write
    // (a refused append should not leave a full batch copy on
    // disk) and re-checked before the publish renames to narrow
    // the advisory race window.
    def checkWritable(): Unit = held match {
      case Some(lease) =>
        graft.warehouse.MaintenanceLock.assertHeld(fs, tablePath, "atomicAppend", lease)
      case None =>
        graft.warehouse.MaintenanceLock.assertUnlocked(fs, tablePath, "atomicAppend")
    }
    checkWritable()
    // The inserted count rides the staging write as an observed
    // metric instead of a separate count() action — on the tiny
    // appends this sink exists for (metadata rows, sketch-state
    // rows) the extra driver action was as expensive as the write.
    val obs = new org.apache.spark.sql.Observation()
    df.observe(obs, org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).parquet(staging)
    val n = obs.get("n").asInstanceOf[Long]
    if (n == 0) {
      // an empty append publishes nothing: drop the (schema-only)
      // staging output instead of renaming empty part files in
      fs.delete(new Path(staging), true)
    } else {
      // lock-refusal here is clean to retry from scratch — drop the
      // staged copy instead of leaking it (rename FAILURES below
      // still keep staging for inspection, that path is I/O damage)
      try checkWritable()
      catch {
        case e: IllegalStateException =>
          fs.delete(new Path(staging), true)
          throw e
      }
      val target = new Path(tablePath)
      if (!fs.exists(target) && !fs.mkdirs(target) && !fs.exists(target)) {
        throw new java.io.IOException(s"atomicAppend: cannot create table dir $target")
      }
      val parts = fs.listStatus(new Path(staging)).filter(_.getPath.getName.startsWith("part-"))
      parts.foreach { p =>
        val dst = new Path(target, s"${java.util.UUID.randomUUID().toString.take(8)}-${p.getPath.getName}")
        if (!fs.rename(p.getPath, dst)) {
          throw new java.io.IOException(
            s"atomicAppend: rename ${p.getPath} -> $dst failed; staging left at $staging")
        }
      }
      fs.delete(new Path(staging), true)
    }
    n
  }

  /** D4: true merge for the (small) extraction-metadata table —
    * `ON CONFLICT (extraction_run_id) DO UPDATE` (reference
    * database.py:1765-1784). Union + keep-latest per key; the latest
    * version wins via `versionOrder` (descending). */
  def mergeLatest(
      existing: DataFrame,
      incoming: DataFrame,
      keys: Seq[String],
      versionOrder: Seq[Column],
  ): DataFrame =
    Dedup.firstWins(
      existing.unionByName(incoming, allowMissingColumns = true),
      keys.map(col),
      versionOrder,
    )
}
