package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The curation gate policy, defined once: the five keep predicates and
  * the v3 gate chain. The standalone pipelines, the classifier's label
  * and both fused production chains select from these, so a changed
  * threshold reaches every surface at once.
  */
object Curation {
  val QualityKeep: Column = col("quality_score") >= 0.5
  val LangKnown: Column = col("pred_lang") =!= "unknown"
  val DupSpanKeep: Column = col("dup_frac") <= 0.5
  val LmScoreable: Column = col("avg_prob").isNotNull
  val ClassifierKeep: Column = col("clf_keep")

  /** A left-joined gate rejects the row: its predicate is false or its
    * signal is missing.
    */
  def rejects(keep: Column): Column = !coalesce(keep, lit(false))

  /** The v3 gates over one corpus' (or batch's) fused signals: `sig`
    * ([[TextOps.curationDocSignals]]) ⋈ `band` ⋈ `gate`
    * ([[TextOps.langClassifierGate]]) ⋈ `ex` ⋈ `dsc` (dup_frac) ⋈ `lm`
    * (avg_prob) on doc_id, filtered by all five predicates. Returns the
    * checkpointed (doc_id, source, quality_score) survivors.
    */
  private[graft] def curateV3(sig: DataFrame, band: DataFrame,
                              gate: DataFrame, ex: DataFrame,
                              dsc: DataFrame, lm: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("source"), col("quality_score"))
      .join(band, Seq("doc_id"))
      .join(gate, Seq("doc_id"))
      .join(ex, Seq("doc_id"))
      .join(dsc.select(col("doc_id"), col("dup_frac")), Seq("doc_id"))
      .join(lm.select(col("doc_id"), col("avg_prob")), Seq("doc_id"))
      .where(QualityKeep && LangKnown && DupSpanKeep && LmScoreable &&
        ClassifierKeep)
      .select(col("doc_id"), col("source"), col("quality_score"))
      .localCheckpoint()
}
