package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Audio, Dedup, Fingerprints, Images, Video}

/** End-to-end MEDIA-corpus curation — the text-side [[Curate]] idiom
  * applied to the image, audio and video arms: every gate is one of the
  * already-oracle-gated operators, composed into ONE labeled frame
  * where each item carries the reason it left the pipeline (or
  * 'kept'), so the entire accounting is one groupBy over one pass —
  * the 100 TB shape the text pipeline established (six sequential
  * counts would be six corpus passes).
  *
  * Each modality's gates are ONE [[Gates]] value — thresholds, the
  * fused profile pass, the hash column and the ordered gate list —
  * shared by the batch [[curate]] and the streaming twin
  * (StreamingPipelines.mediaCurateSink); both label through [[label]].
  * Only the near-dup step is path-specific: batch elects keepers across
  * the corpus ([[Fingerprints.nearDupKeepers]]), the stream probes its
  * survivor registry.
  *
  * Gate chain, in PRECEDENCE order (an item dropped by an earlier gate
  * is never consulted by a later one):
  *   0. `corrupt`  — undecodable scrape bytes, LABELED (quarantined),
  *                   never thrown (round-14: the video arm's posture
  *                   extended to all modalities — the loud-fail
  *                   contract stays on the analysis operators);
  *   1. the modality's threshold gates, in its gate-list order;
  *   2. `near_dup` — not the keeper of its ≤-maxHamming fingerprint
  *                   neighborhood, elected among the SURVIVORS of the
  *                   gates above, exactly like the text pipeline runs
  *                   minhash among the exact-dedup survivors (deduping
  *                   items that are already dropped would waste the
  *                   band join and could elect a dropped item as
  *                   keeper);
  *   3. `kept`.
  *
  * All thresholds are integers over decoded pixels/samples or header
  * fields, so the DuckDB oracle recomputes every gate AND the
  * precedence from the fixture formulas in one statement
  * (t_curate_images / t_curate_audio / t_curate_video).
  */
object MediaCurate {

  /** One modality's curation gates. The constructor refuses bad
    * thresholds and lossy hamming caps, so a bad value never reaches
    * either path. */
  sealed trait Gates {
    /** Verdict-column prefix and streaming registry subdirectory. */
    def modality: String
    /** The binary input column [[profile]] reads next to doc_id. */
    def input: String
    /** The fingerprint column near-dup runs on. */
    def hashCol: String
    def maxHamming: Int
    /** ONE fused decode pass: every gate input plus `hashCol`. */
    def profile(spark: SparkSession, media: DataFrame): DataFrame
    /** (drop_reason, predicate) over [[profile]]'s columns, `corrupt`
      * first, in precedence order. */
    def gates: Seq[(String, Column)]
    /** Survives every gate — the rows near-dup runs among. */
    final def survives: Column = !gates.map(_._2).reduce(_ || _)
  }

  /** IMAGE gates over (doc_id, img), on the decoded 8-bit luminance
    * scale:
    *   `undersized` — n_px < minPixels (thumbnail/icon junk);
    *   `flat`       — max_lum − min_lum < minContrast (blank or
    *                  near-blank frames);
    *   `brightness` — mean luminance outside [minMean, maxMean],
    *                  compared INTEGER-exactly as sum vs bound·n_px
    *                  (over- and under-exposed capture junk);
    * near-dup on the 64-bit aHash. */
  final case class ImageGates(minPixels: Long = 128L, minContrast: Int = 16,
      minMean: Int = 120, maxMean: Int = 136, maxHamming: Int = 3)
      extends Gates {
    require(minPixels > 0 && minContrast >= 0 && minMean <= maxMean,
      s"bad gate thresholds: minPixels=$minPixels minContrast=$minContrast " +
        s"mean=[$minMean,$maxMean]")
    Fingerprints.requireLossless(maxHamming)
    def modality = "image"; def input = "img"; def hashCol = "ahash"
    def profile(spark: SparkSession, media: DataFrame): DataFrame =
      Images.curationProfile(spark, media)
    def gates: Seq[(String, Column)] = Seq(
      "corrupt" -> col("corrupt"),
      "undersized" -> (col("n_px") < minPixels),
      "flat" -> ((col("max_lum") - col("min_lum")) < minContrast),
      // integer-exact mean bounds: mean < minMean  ⟺  sum < minMean·n_px
      "brightness" -> (col("sum_lum") < lit(minMean.toLong) * col("n_px") ||
        col("sum_lum") > lit(maxMean.toLong) * col("n_px")))
  }

  /** AUDIO gates over (doc_id, audio); a sample is clipped when
    * |s| ≥ clipLevel and silent when |s| < silenceLevel:
    *   `too_short` — n_samples < minSamples (fragments);
    *   `clipped`   — clipped-sample fraction above 1/maxClipDenom,
    *                 compared INTEGER-exactly as
    *                 n_clipped·maxClipDenom > n_samples (hard-clipped
    *                 recordings);
    *   `silent`    — silent-sample fraction above 1/maxSilenceDenom,
    *                 same integer form (dead air);
    * near-dup on the 64-bit block-energy fingerprint. */
  final case class AudioGates(minSamples: Long = 512L, clipLevel: Int = 32700,
      maxClipDenom: Long = 256L, silenceLevel: Int = 256,
      maxSilenceDenom: Long = 64L, maxHamming: Int = 3) extends Gates {
    require(minSamples > 0 && maxClipDenom > 0 && maxSilenceDenom > 0,
      s"bad gate thresholds: minSamples=$minSamples clipDenom=$maxClipDenom " +
        s"silenceDenom=$maxSilenceDenom")
    require(clipLevel > 0 && silenceLevel > 0,
      s"thresholds must be positive, got clip=$clipLevel silence=$silenceLevel")
    Fingerprints.requireLossless(maxHamming)
    def modality = "audio"; def input = "audio"; def hashCol = "afp"
    def profile(spark: SparkSession, media: DataFrame): DataFrame =
      Audio.curationProfile(spark, media, clipLevel, silenceLevel)
    def gates: Seq[(String, Column)] = Seq(
      "corrupt" -> col("corrupt"),
      "too_short" -> (col("n_samples") < minSamples),
      "clipped" -> (col("n_clipped") * maxClipDenom > col("n_samples")),
      "silent" -> (col("n_silent") * maxSilenceDenom > col("n_samples")))
  }

  /** VIDEO gates over (doc_id, video). Cheaper than the image/audio
    * arms': every metadata gate reads ONLY the RIFF header (no JPEG
    * payload), and the keyframe is decoded only for gate SURVIVORS
    * ([[graft.operators.Video.gatedProfile]] fuses the whole pass and
    * names the first firing gate in `drop0`, NULL for survivors):
    *   `undersized`     — width·height < minPixels (thumbnail junk);
    *   `too_few_frames` — n_frames < minFrames (stills/fragments);
    *   `bad_fps`        — frame rate outside [minFps, maxFps]
    *                      (slideshow or slow-mo capture junk; fps =
    *                      rate/scale, integer division both sides);
    * near-dup on the keyframe aHash (default maxHamming = 0: exact
    * keyframe duplicates, codec-caveat-free — see
    * Video.keyframeHashes). The keeper election is structurally
    * predictable on the fixture, so t_curate_video recomposes gates AND
    * precedence AND the survivor-keeper election in one statement. */
  final case class VideoGates(minPixels: Long = 512L, minFrames: Long = 3L,
      minFps: Long = 12L, maxFps: Long = 60L, maxHamming: Int = 0)
      extends Gates {
    Video.requireGateThresholds(minPixels, minFrames, minFps, maxFps)
    Fingerprints.requireLossless(maxHamming)
    def modality = "video"; def input = "video"; def hashCol = "khash"
    def profile(spark: SparkSession, media: DataFrame): DataFrame =
      Video.gatedProfile(spark, media, minPixels, minFrames, minFps, maxFps)
    // null-safe: drop0 is NULL for survivors
    def gates: Seq[(String, Column)] =
      Seq("corrupt", "undersized", "too_few_frames", "bad_fps")
        .map(g => g -> (col("drop0") <=> lit(g)))
  }

  /** The labeled frame (doc_id, drop_reason) over `prof` — the profile
    * joined with the near-dup verdict — ONE definition for batch and
    * stream: `g`'s gates in order, then `near_dup` where `dup` holds,
    * then `kept`. */
  private[graft] def label(prof: DataFrame, g: Gates, dup: Column): DataFrame = {
    val ((first, pred), rest) = (g.gates.head, g.gates.tail)
    val reason = rest.foldLeft(when(pred, lit(first))) {
      case (acc, (name, p)) => acc.when(p, lit(name))
    }
    prof.select(col("doc_id"), reason.when(dup, lit("near_dup"))
      .otherwise(lit("kept")).as("drop_reason"))
  }

  /** Curate one modality: ONE decode pass, persisted because the
    * survivor filter and the final label join both consume it (tracked,
    * so [[Curate.releaseCaches]] frees it), then keeper election among
    * the gate survivors. Returns (doc_id, drop_reason); callers keep
    * with `filter(col("drop_reason") === "kept")`. */
  def curate(spark: SparkSession, media: DataFrame, g: Gates): DataFrame = {
    val prof = Dedup.track(g.profile(spark, media).persist())
    val keepers = Fingerprints.nearDupKeepers(
      prof.filter(g.survives).select(col("doc_id"), col(g.hashCol)),
      g.hashCol, g.maxHamming)
      .select(col("doc_id"), col("keep"))
    label(prof.join(keepers, Seq("doc_id"), "left"), g, !col("keep"))
  }

  /** CROSS-MODAL curation: a document survives a multimodal training
    * corpus only if EVERY modality keeps it. Output one row per doc:
    * (doc_id, image_reason, audio_reason, drop_reason); see [[verdict]]. */
  def curateMedia(spark: SparkSession, images: DataFrame,
      clips: DataFrame): DataFrame =
    verdict(Seq(ImageGates() -> images, AudioGates() -> clips)
      .map { case (g, df) => g.modality -> curate(spark, df, g) })

  /** THREE-modality curation — [[curateMedia]]'s contract extended to
    * image + audio + video. Output one row per doc across the UNION of
    * the three id sets:
    * (doc_id, image_reason, audio_reason, video_reason, drop_reason). */
  def curateMedia3(spark: SparkSession, images: DataFrame,
      clips: DataFrame, vids: DataFrame): DataFrame =
    verdict(Seq(ImageGates() -> images, AudioGates() -> clips,
      VideoGates() -> vids)
      .map { case (g, df) => g.modality -> curate(spark, df, g) })

  /** The cross-modal verdict — ONE definition shared by
    * [[curateMedia]], [[curateMedia3]] and the streaming twin
    * (StreamingPipelines.mediaCurate3Sink), or the precedence drifts.
    * Full-outer-joins the (modality, labeled frame) pairs and composes
    * one final verdict with modality-qualified reasons — the first
    * non-kept modality in the given order names the drop, matching the
    * per-modality precedence idiom. Mismatched id sets surface AT THE
    * OPERATOR: a doc absent from a modality is labeled
    * `missing_modality:<modality>` (its reason column reads 'missing')
    * — an inner join would silently drop such docs from the accounting,
    * the silent-wrong class this repo refuses, and a missing modality
    * outranks every gate (there is nothing to curate). */
  private[graft] def verdict(labeled: Seq[(String, DataFrame)]): DataFrame = {
    val ms = labeled.map(_._1)
    def reason(m: String) = col(s"${m}_reason")
    val arms = ms.map(m => reason(m).isNull -> lit(s"missing_modality:$m")) ++
      ms.map(m => (reason(m) =!= "kept") -> concat(lit(s"$m:"), reason(m)))
    val drop = arms.tail.foldLeft(when(arms.head._1, arms.head._2)) {
      case (acc, (p, v)) => acc.when(p, v)
    }
    labeled.map { case (m, df) =>
        df.select(col("doc_id"), col("drop_reason").as(s"${m}_reason"))
      }
      .reduce(_.join(_, Seq("doc_id"), "full_outer"))
      .select(col("doc_id") +: ms.map(m =>
        coalesce(reason(m), lit("missing")).as(s"${m}_reason")) :+
        drop.otherwise(lit("kept")).as("drop_reason"): _*)
  }
}
