package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation: the composed pipeline a corpus
  * team runs over raw documents before tokenization — annotate →
  * filter → exact dedup → near-dup dedup — expressed as one chained
  * DataFrame operator so Catalyst sees the whole plan.
  *
  * Stage order is the 100 TB-shaped one: all narrow, cheap,
  * per-document work (quality / language / token counts and the
  * filters over them) runs FIRST and fuses into the scan's
  * whole-stage-codegen pass, so every document the filters reject
  * never reaches a shuffle; exact dedup (one hash shuffle on the
  * md5 fingerprint) runs second on the reduced corpus; the MinHash
  * near-dup stage — the only superlinear-ish cost — runs LAST and only
  * over exact-dedup survivors. Reordering any of these moves work onto
  * more rows.
  *
  * The deterministic prefix (annotate + filter + exact dedup) is
  * SQL-reproducible and oracle-checked end-to-end
  * (`tp1_curation_filters`); the full pipeline adds the probabilistic
  * near-dup stage and is checked rows-only plus by the containment /
  * idempotence laws in CurationSpec.
  */
object Curation {

  /** Curation thresholds. `nearDupThreshold = None` disables the
    * MinHash stage (the deterministic prefix). */
  final case class Config(
      minQuality: Double = 0.3,
      langs: Seq[String] = Seq("en"),
      minTokens: Int = 5,
      maxTokens: Int = 1 << 20,
      nearDupThreshold: Option[Double] = Some(0.9),
  )

  /** Per-document curation annotations (computed once, kept in the
    * output so downstream sampling/packing can reuse them).
    *
    * All three columns derive from ONE [[TextAnalysis.sharedStats]]
    * struct column pinned behind the `graft_eval_once` optimizer
    * barrier: the downstream [[keep]] filter is pushed down BY
    * Catalyst onto these columns, and without the barrier the whole
    * stats kernel (one byte scan of the text per evaluation) inlines
    * into every filter conjunct and every consumer projection —
    * whole-stage codegen does no subexpression elimination in Filter
    * nodes, and the measured cost was 2.8–5.8× on tp1/tp2/tp12 (r17
    * A/B, with the regex kernel this scan replaced). With
    * the barrier, the kernel provably runs once per row and
    * curation_tokens rides the same struct (bit-identical n_tokens
    * field) instead of paying a second tokenizer kernel. */
  def annotate(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val st = graft.Defaults.freshCol(docs.columns.toIndexedSeq, "_curation_st")
    docs
      .withColumn(st, TextAnalysis.sharedStats(t))
      .withColumn("curation_lang", TextAnalysis.langIdOfStats(col(st)))
      .withColumn("curation_quality", TextAnalysis.qualityScoreOfStats(col(st)))
      .withColumn("curation_tokens", col(st).getField("n_tokens"))
      .drop(st)
  }

  private def keep(cfg: Config): Column =
    col("curation_quality") >= cfg.minQuality &&
      col("curation_lang").isin(cfg.langs: _*) &&
      col("curation_tokens").between(cfg.minTokens, cfg.maxTokens)

  /** Deterministic prefix: annotate, filter, exact-dedup keep-min-id.
    * Everything before the dedup shuffle is a narrow chain over the
    * scan. */
  def filterAndExactDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      cfg: Config = Config(),
  ): DataFrame =
    TextDedup.exactDedup(
      annotate(docs, textCol).filter(keep(cfg)),
      col(textCol), col(idCol))

  /** Full pipeline: deterministic prefix + MinHash near-dup dedup
    * (linear per-bucket representative form — the worst-case-bounded
    * variant, see [[TextDedup.minhashDedupLinear]]) over the
    * survivors. */
  def curate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      cfg: Config = Config(),
  ): DataFrame = {
    val exact = filterAndExactDedup(docs, idCol, textCol, cfg)
    cfg.nearDupThreshold match {
      case None => exact
      case Some(t) => TextDedup.minhashDedupLinear(exact, idCol, textCol, t)
    }
  }
}
