package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators (reference §2.3: D1/D3/A11/W1) — the
  * reference's signature capability, three layers deep:
  * in-file first-wins (validator.py:507-519), cross-run idempotent
  * upsert (database.py:264-293 — see [[graft.sink.IdempotentAppend]]),
  * and historical keep-first migration
  * (schema/migrations/001a/001b).
  *
  * Scale notes: every variant is ONE hash shuffle on the natural key —
  * `row_number` over `Window.partitionBy(key)` or a hash aggregate.
  * Skewed keys (one plant emitting most rows) are handled by AQE skew
  * splitting; nothing here sorts globally.
  */
object Dedup {

  /** NULL-safe key part: the reference's expression-index trick
    * `COALESCE(col,'')` (ons_generation.sql:49-50,
    * occto_generation.sql:43-44, chile_generation.sql:43-44) so NULL
    * ids collide with empty-string ids instead of never matching. */
  def nullSafe(c: Column): Column = coalesce(c.cast("string"), lit(""))

  /** D1/W1: first-occurrence-wins dedup. `order` is the stable
    * tiebreak — line order for in-file dedup (reference
    * validator.py:507-519 keeps the first line), surrogate id for the
    * historical migration (migrations/001b:34-45 keeps min id). */
  def firstWins(df: DataFrame, keys: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  def firstWinsByName(df: DataFrame, keys: Seq[String], order: Seq[String]): DataFrame =
    firstWins(df, keys.map(col), order.map(col))

  /** A11: duplicate-count verification,
    * `COUNT(*) - COUNT(DISTINCT key)` (reference migrations/001a:27-29,
    * 001b:53-54). Returns a 1-row frame with the residual duplicate
    * count — 0 proves the table is key-unique. */
  def duplicateCount(df: DataFrame, keys: Seq[Column]): DataFrame =
    df.agg(
      (count(lit(1)) - count_distinct(struct(keys: _*))).as("duplicate_count"))

  /** Per-key duplicate histogram (the counting half of W1, reference
    * migrations/001b:21-29): keys occurring more than once with their
    * multiplicities. */
  def duplicateGroups(df: DataFrame, keys: Seq[Column]): DataFrame =
    df.groupBy(keys: _*)
      .agg(count(lit(1)).as("occurrences"))
      .filter(col("occurrences") > 1)
}
