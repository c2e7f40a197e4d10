package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{Metadata, MetadataBuilder}

/** Tokenization-mode tag for the bound-toks contract.
  *
  * The round-10 contract let any frame carry a pre-bound `toks` column
  * that downstream operators (shingles, contamination grams, LM
  * train/score, classifier features) reuse instead of re-tokenizing. The
  * guard that protected the cjk pipeline, however, recorded only *that* a
  * binding existed (`LmModel.boundToks: Boolean`) — a latin-bound frame
  * (which Curate emits in BOTH modes since round 10) passed the cjk-mode
  * guard while still being a latin tokenization, silently reproducing the
  * zh-corpus wipeout the guard exists to prevent (round-10 ADVICE,
  * medium).
  *
  * This object closes that class: [[bind]] is the ONE blessed way to bind
  * `toks`, and it writes the mode ("latin" / "cjk") into the column's
  * metadata; [[of]] reads it back. Models trained through
  * `TextAnalysis.trainLm` / `Classify.trainTokenWeights` record the
  * training frame's mode, and `Curate.Gates` (the gate chain of both
  * `Curate.runDocs` and `CurateStream.sink`) REFUSES a mode mismatch in
  * either direction (latin model under cjk, cjk model under latin) —
  * and refuses an untagged manual binding
  * ([[Unknown]]) outright, because an unprovenanced tokenization is
  * exactly the silent-mismatch hazard.
  *
  * Column metadata survives select/persist/join as long as the column is
  * propagated rather than rebuilt, which is how every bound-toks consumer
  * already treats it.
  */
object TokMode {

  /** Metadata key carrying the tokenization mode on a bound `toks` column. */
  val Key = "graft.tokmode"

  val Latin = "latin"
  val Cjk = "cjk"

  /** A `toks` column bound WITHOUT the mode tag (a manual `withColumn`
    * instead of [[bind]]): refused by the mode-checked gates, because
    * nothing proves which tokenizer produced it. */
  val Unknown = "unknown"

  def name(cjk: Boolean): String = if (cjk) Cjk else Latin

  def metadata(cjk: Boolean): Metadata = metadataFor(name(cjk))

  def metadataFor(mode: String): Metadata =
    new MetadataBuilder().putString(Key, mode).build()

  /** THE canonical binding: `toks` = the mode's FUSED tokenizer over
    * `text` (one codegen'd scan — `TextFunctions.tokensFused(text, cjk)`),
    * tagged with the mode so downstream guards can verify provenance. */
  def bind(df: DataFrame, cjk: Boolean): DataFrame =
    df.withColumn("toks", TextFunctions.tokensFused(col("text"), cjk))
      .withMetadata("toks", metadata(cjk))

  /** The tokenization mode a frame's consumers will see under the
    * bound-toks contract: the tag when bound via [[bind]], [[Unknown]]
    * for an untagged manual binding, and [[Latin]] when unbound —
    * every bound-toks consumer falls back to the latin kernel on
    * unbound frames, so that IS the frame's effective mode. */
  def of(df: DataFrame): String =
    if (!df.columns.contains("toks")) Latin
    else {
      val md = df.schema(df.schema.fieldIndex("toks")).metadata
      if (md.contains(Key)) md.getString(Key) else Unknown
    }

  /** Mode tag recorded on a trained classifier weight table
    * (`Classify.trainTokenWeights` stamps its training frame's mode on
    * the `w_micro` column); [[Unknown]] for a weight frame that did not
    * come from trainTokenWeights. */
  def ofWeights(weights: DataFrame): String =
    if (!weights.columns.contains("w_micro")) Unknown
    else {
      val md = weights.schema(weights.schema.fieldIndex("w_micro")).metadata
      if (md.contains(Key)) md.getString(Key) else Unknown
    }
}
