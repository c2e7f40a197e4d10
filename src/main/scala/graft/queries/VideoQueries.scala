package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Video
import graft.tables.Tables

/** Video-arm catalog entries (operators/Video.scala): the engine
  * synthesizes one real MJPEG/AVI per document — a RIFF container
  * (public byte-level spec, written and parsed by the engine's own
  * walker) holding real JPEG frames (encoded and decoded by the JDK's
  * ImageIO codec). Container metadata is pure integer arithmetic over
  * doc_id, so the DuckDB oracle recomputes it exactly; per-frame pixel
  * stats ride the self-validating `ok` bound (JPEG is lossy — the
  * engine computes |decoded mean − formula mean| < JpegGateGray
  * integer-exactly, vendor-safe headroom over the measured max of
  * 0.504, and the oracle emits the literal
  * expectation TRUE, the a5_approx_uv pattern), so a hash match
  * certifies every frame of every video decoded within tolerance. The
  * UNCOMPRESSED 'DIB ' arm (raw BI_RGB '00db' frames — the other
  * codec-free container real corpora carry) removes even that bound:
  * its decode is exact byte reading, so t_video_frames_raw hash-gates
  * the per-frame sums against the per-pixel formula recomputed in
  * DuckDB. Inter-frame codecs (H.264/VP9/AV1) stay honestly stubbed in
  * Multimodal — no JDK decoder exists for them.
  */
object VideoQueries {

  /** JPEG frame-mean tolerance in gray levels for the lossy-arm gates
    * (t_video_frames / t_video_sample): measured max on this JDK's
    * ImageIO codec is 0.504 (JpegBoundProbe, round 14), documented
    * cross-vendor IDCT rounding drift is 1-2 levels, so 4 bounds
    * measured-plus-worst-drift (~2.5) with margin on any conforming
    * decoder while staying far tighter than the original ±8. */
  private[queries] val JpegGateGray = 4

  /** Fixture parameter recomposition in DuckDB (Video.synthParams'
    * exact arithmetic). Prefix-style (trailing comma). */
  private[queries] def videoCtes(docsRel: String): String = s"""
      vp0 AS (SELECT doc_id, CAST(doc_id % 200 AS BIGINT) AS g FROM $docsRel),
      vpd AS (SELECT doc_id, g,
                     16 * (1 + (g % 4)) AS w,
                     16 * (1 + ((g // 4) % 3)) AS h,
                     2 + (g % 5) AS nf,
                     CASE ((g // 12) % 5) WHEN 0 THEN 10 WHEN 1 THEN 15
                          WHEN 2 THEN 24 WHEN 3 THEN 25 ELSE 30 END AS fps
              FROM vp0),"""

  /** Header-only container metadata: dims / frame count / frame rate /
    * handler straight from the RIFF walk, no JPEG payload touched. The
    * operator cross-checks avih vs strh vs strf vs the movi chunk
    * count and fails loud on disagreement, so the oracle match
    * certifies the writer/parser chain's mutual consistency. n_bytes
    * is API surface but JPEG sizes are encoder detail — excluded. */
  val tVideoMeta: Q = Q(
    "t_video_meta",
    run = (s, dir) =>
      Video.videoMeta(s, Video.synthesize(s, Tables.documents(s, dir)))
        .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
          col("us_per_frame"), col("fps"), col("format"), col("n_streams")),
    oracle = Some(s"""
      WITH ${videoCtes("documents")}
      final AS (
        SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CAST(nf AS BIGINT) AS n_frames,
               CAST(1000000 // fps AS BIGINT) AS us_per_frame,
               CAST(fps AS BIGINT) AS fps, 'mjpg' AS format,
               CAST(1 AS BIGINT) AS n_streams
        FROM vpd)
      SELECT * FROM final"""))

  /** REAL per-frame decode over every video: exact container fields
    * plus the JPEG tolerance gate — ok ⟺ |sum_lum − formula sum| <
    * 1·n_px, engine-computed integer-exactly against the fixture
    * formula's exact sum (Video.synthFrameSum, the oracle's twin);
    * the oracle recomputes the exact fields and emits ok = TRUE. A
    * hash match therefore proves every frame decoded, with the right
    * dims, and its MEAN luminance within one gray level of the source.
    * Bound provenance (round 14, graft.tools.JpegBoundProbe): measured
    * max deviation across all frames at sf0.001/0.01/0.1 is 0.504
    * gray levels (avg 0.158, p99 0.387 — the JPEG DC coefficient
    * carries the block mean). The gate is [[JpegGateGray]] = 4: a
    * different vendor's IDCT rounding could legally drift the frame
    * mean by 1-2 gray levels (JPEG quantization noise is
    * decoder-deterministic but not SQL-recomputable — DuckDB has no
    * codec), so 4 keeps headroom over measured-max-plus-worst-drift
    * (0.504 + 2 ≈ 2.5) on ANY conforming JDK while staying 2× tighter
    * than the original vendor-safe ±8; the UNCOMPRESSED arm below
    * (t_video_frames_raw) is the hash-exact form. A failure here on a
    * new JDK is a pipeline bug, not codec drift — re-run
    * JpegBoundProbe to confirm before loosening. */
  val tVideoFrames: Q = Q(
    "t_video_frames",
    run = (s, dir) => {
      import s.implicits._
      val frames = Video.frameTable(s, Video.synthesize(s, Tables.documents(s, dir)))
      val expected = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .flatMap { id =>
          val n = Video.synthParams(id)._3
          (0 until n).iterator.map(f => (id, f, Video.synthFrameSum(id, f)))
        }
        .toDF("doc_id", "frame_idx", "expected_sum")
      frames.join(expected, Seq("doc_id", "frame_idx"))
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("n_px"),
          (abs(col("sum_lum") - col("expected_sum")) < lit(JpegGateGray) * col("n_px"))
            .as("ok"))
    },
    oracle = Some(s"""
      WITH ${videoCtes("documents")}
      vfr AS (SELECT doc_id, w, h, CAST(unnest(range(0, nf)) AS INT) AS frame_idx
              FROM vpd)
      SELECT doc_id, frame_idx, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
             CAST(w * h AS BIGINT) AS n_px, TRUE AS ok
      FROM vfr"""))

  /** HASH-EXACT per-frame stats over the UNCOMPRESSED ('DIB ') arm:
    * the same fixture frames in raw BI_RGB '00db' chunks, decoded by
    * exact byte reading (no codec), so sum_lum is bit-for-bit the
    * formula value and the oracle recomputes every pixel of every
    * frame in SQL (the imageCtes idiom with the frame term folded in)
    * — the promotion t_video_frames itself cannot make (JPEG
    * quantization is not SQL-recomputable). Also certifies the parser
    * on a SECOND real container flavor: bottom-up row order, 4-byte
    * row stride, BI_RGB biCompression = 0. */
  val tVideoFramesRaw: Q = Q(
    "t_video_frames_raw",
    run = (s, dir) =>
      Video.frameTable(s, Video.synthesizeRaw(s, Tables.documents(s, dir)))
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("n_px"), col("sum_lum")),
    oracle = Some(s"""
      WITH ${videoCtes("documents")}
      vfr AS (SELECT doc_id, g, w, h,
                     CAST(unnest(range(0, nf)) AS INT) AS frame_idx FROM vpd),
      vxx AS (SELECT doc_id, g, w, h, frame_idx, unnest(range(0, w)) AS x
              FROM vfr),
      vxy AS (SELECT doc_id, g, w, h, frame_idx, x, unnest(range(0, h)) AS y
              FROM vxx),
      vpx AS (SELECT doc_id, frame_idx,
                     (x*2654435761 + y*40503 + (x+3)*(y+7)*(g+13)
                      + frame_idx*7919*(x+y+1) + g*2246822519) % 256 AS lum
              FROM vxy),
      vst AS (SELECT doc_id, frame_idx, SUM(lum) AS sum_lum, COUNT(*) AS n_px
              FROM vpx GROUP BY 1, 2)
      SELECT f.doc_id, f.frame_idx, CAST(f.w AS INT) AS width,
             CAST(f.h AS INT) AS height, CAST(s.n_px AS BIGINT) AS n_px,
             CAST(s.sum_lum AS BIGINT) AS sum_lum
      FROM vfr f JOIN vst s USING (doc_id, frame_idx)"""))

  /** Frame sampling that decodes ONLY the sampled frames (every 2nd,
    * frame 0 included), each stamped with its exact presentation time
    * frame_idx · usPerFrame — all integer-exact except the same JPEG
    * tolerance gate. The unsampled payloads are never read. */
  val tVideoSample: Q = Q(
    "t_video_sample",
    run = (s, dir) => {
      import s.implicits._
      val sampled = Video.sampleFrames(s, Video.synthesize(s, Tables.documents(s, dir)),
        stride = 2)
      val expected = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .flatMap { id =>
          val n = Video.synthParams(id)._3
          (0 until n by 2).iterator.map(f => (id, f, Video.synthFrameSum(id, f)))
        }
        .toDF("doc_id", "frame_idx", "expected_sum")
      sampled.join(expected, Seq("doc_id", "frame_idx"))
        .select(col("doc_id"), col("frame_idx"), col("pts_us"), col("width"),
          col("height"),
          (abs(col("sum_lum") - col("expected_sum")) < lit(JpegGateGray) * col("n_px"))
            .as("ok"))
    },
    oracle = Some(s"""
      WITH ${videoCtes("documents")}
      vfr AS (SELECT doc_id, w, h, fps,
                     CAST(unnest(range(0, nf, 2)) AS INT) AS frame_idx
              FROM vpd)
      SELECT doc_id, frame_idx,
             CAST(frame_idx * (1000000 // fps) AS BIGINT) AS pts_us,
             CAST(w AS INT) AS width, CAST(h AS INT) AS height, TRUE AS ok
      FROM vfr"""))

  /** TIME-based frame sampling (one frame per 100 ms of presentation
    * time — "10 fps sampling" over a MIXED-frame-rate corpus, where a
    * fixed stride is wrong): frame f kept iff its pts bucket
    * floor(f·usPerFrame / 100000) is new, pure integer arithmetic on
    * both sides. Run over the UNCOMPRESSED arm so the per-frame sums
    * stay hash-exact (the t_video_frames_raw pixel CTEs, filtered to
    * the kept frames). Liveness: 30 fps clips keep every 3rd frame,
    * 10 fps clips keep all — the fixture spans five rates. */
  val tVideoTimeSample: Q = Q(
    "t_video_time_sample",
    run = (s, dir) =>
      Video.sampleFramesEvery(s,
        Video.synthesizeRaw(s, Tables.documents(s, dir)), everyUs = 100000L),
    oracle = Some(s"""
      WITH ${videoCtes("documents")}
      vfr AS (SELECT doc_id, g, w, h, 1000000 // fps AS uspf,
                     CAST(unnest(range(0, nf)) AS INT) AS frame_idx FROM vpd),
      vkp AS (SELECT * FROM vfr
              WHERE frame_idx = 0
                 OR (frame_idx * uspf) // 100000
                    <> ((frame_idx - 1) * uspf) // 100000),
      vxx AS (SELECT doc_id, g, w, h, uspf, frame_idx,
                     unnest(range(0, w)) AS x FROM vkp),
      vxy AS (SELECT doc_id, g, w, h, uspf, frame_idx, x,
                     unnest(range(0, h)) AS y FROM vxx),
      vpx AS (SELECT doc_id, frame_idx,
                     (x*2654435761 + y*40503 + (x+3)*(y+7)*(g+13)
                      + frame_idx*7919*(x+y+1) + g*2246822519) % 256 AS lum
              FROM vxy),
      vst AS (SELECT doc_id, frame_idx, SUM(lum) AS sum_lum, COUNT(*) AS n_px
              FROM vpx GROUP BY 1, 2)
      SELECT k.doc_id, k.frame_idx, CAST(k.frame_idx * k.uspf AS BIGINT) AS pts_us,
             CAST(k.w AS INT) AS width, CAST(k.h AS INT) AS height,
             CAST(s.n_px AS BIGINT) AS n_px, CAST(s.sum_lum AS BIGINT) AS sum_lum
      FROM vkp k JOIN vst s USING (doc_id, frame_idx)"""))

  /** Video near-dup removal via keyframe perceptual hashing (decode
    * ONLY frame 0 per video, aHash it, elect keepers through the
    * shared Fingerprints machinery at hamming 0 — exact keyframe
    * duplicates). The fixture's frame formula depends on the group
    * alone, so same-group videos are byte-identical and their decoded
    * keyframes hash EQUAL deterministically (JPEG decode is
    * deterministic); the oracle predicts the keeper set structurally —
    * keep ⟺ doc_id is its group's minimum, i.e. doc_id = doc_id % 200
    * on the contiguous-id corpus — so a hash match certifies
    * cross-partition byte determinism of the whole synthesize → parse →
    * JPEG-decode → hash chain PLUS the keeper election (and would fail
    * loudly on any cross-group 64-bit hash collision). The hash VALUE
    * itself is JPEG-decoder-dependent and deliberately projected away. */
  val tVideoDedupKeyframe: Q = Q(
    "t_video_dedup_keyframe",
    run = (s, dir) =>
      Video.nearDupKeepers(s,
        Video.synthesize(s, Tables.documents(s, dir)), maxHamming = 0)
        .select(col("doc_id"), col("keep")),
    oracle = Some("""
      SELECT doc_id, (doc_id = doc_id % 200) AS keep FROM documents"""))

  /** Video-corpus curation (pipeline/MediaCurate.curate, VideoGates): the
    * labeled-frame contract over the video arm — header-only metadata
    * gates (undersized / too_few_frames / bad_fps, all pure integer
    * predicates over fields the oracle recomputes from synthParams),
    * then keyframe near-dup keeper election among gate SURVIVORS at
    * hamming 0. Keeper structure on the fixture: every gate predicate
    * is a function of the group g = doc_id % 200 alone, so a group
    * survives or drops WHOLE — the surviving keeper of group g is the
    * group's min doc_id, i.e. doc_id = doc_id % 200 on the
    * contiguous-id corpus (the t_video_dedup_keyframe argument, which
    * also makes a cross-group 64-bit keyframe-hash collision fail this
    * entry loudly). The `corrupt` gate cannot fire on the well-formed
    * fixture and is pinned on crafted bytes in MediaCurateSpec
    * instead (the flat/silent-gate idiom). A hash match certifies
    * gates AND precedence AND the survivor-only election end to end. */
  val tCurateVideo: Q = Q(
    "t_curate_video",
    run = (s, dir) =>
      graft.pipeline.MediaCurate.curate(s,
        Video.synthesize(s, Tables.documents(s, dir)),
        graft.pipeline.MediaCurate.VideoGates()),
    oracle = Some(s"""
      WITH ${videoCtes("documents")}
      final AS (
        SELECT doc_id,
               CASE WHEN w * h < 512 THEN 'undersized'
                    WHEN nf < 3 THEN 'too_few_frames'
                    WHEN fps < 12 OR fps > 60 THEN 'bad_fps'
                    WHEN doc_id <> doc_id % 200 THEN 'near_dup'
                    ELSE 'kept' END AS drop_reason
        FROM vpd)
      SELECT * FROM final"""))

  /** Scene-parameter recomposition for the shot-structured fixture
    * (Video.synthSceneParams' exact arithmetic). */
  private def sceneCtes(docsRel: String): String = s"""
      vs0 AS (SELECT doc_id, CAST(doc_id % 200 AS BIGINT) AS g FROM $docsRel),
      vsp AS (SELECT doc_id, 2 + (g % 3) AS shot_len,
                     2 + ((g // 3) % 3) AS n_shots FROM vs0),"""

  /** SCENE-CUT detection over the shot-structured fixture: decode
    * frames in order, aHash each, emit a cut where consecutive hashes
    * differ (hamming > 0). Within a shot frames are identical (equal
    * hashes, exact — the fixture is the codec-free DIB arm); across a
    * cut the measured hamming floor is ≥ 8 (VideoSpec pins it), so the
    * oracle predicts the cut set structurally: every shot boundary
    * k·shot_len, and nothing else. The hamming VALUE is
    * decoded-content detail and projected away. */
  val tVideoSceneCuts: Q = Q(
    "t_video_scene_cuts",
    run = (s, dir) =>
      Video.sceneCuts(s, Video.synthesizeScenes(s, Tables.documents(s, dir)))
        .select(col("doc_id"), col("frame_idx")),
    oracle = Some(s"""
      WITH ${sceneCtes("documents")}
      final AS (
        SELECT doc_id, CAST(unnest(range(1, n_shots)) * shot_len AS INT)
                 AS frame_idx
        FROM vsp)
      SELECT * FROM final"""))

  /** Shot segmentation summary (Video.shotTable): cuts folded into one
    * row per shot with exact start frame and length — the unit a
    * captioning / frame-sampling pass iterates over. */
  val tVideoShots: Q = Q(
    "t_video_shots",
    run = (s, dir) =>
      Video.shotTable(s, Video.synthesizeScenes(s, Tables.documents(s, dir))),
    oracle = Some(s"""
      WITH ${sceneCtes("documents")}
      vsh AS (SELECT doc_id, shot_len,
                     CAST(unnest(range(0, n_shots)) AS INT) AS shot_idx
              FROM vsp)
      SELECT doc_id, shot_idx, CAST(shot_idx * shot_len AS INT) AS start_frame,
             CAST(shot_len AS INT) AS n_frames
      FROM vsh"""))

  /** VIDEO eval-set decontamination (Video.decontaminate): drop
    * training videos whose keyframe exactly matches (hamming 0) any
    * eval video's; eval set = the doc_id % 10 == 0 videos. The khash
    * is decoder-dependent (projected away), so the oracle is
    * STRUCTURAL like t_video_dedup_keyframe: same-group videos are
    * byte-identical (equal keyframe hashes) and cross-group hashes are
    * distinct (a collision fails this entry loudly), so contaminated ⟺
    * the doc's group contains an eval member — which the oracle
    * derives from the documents table itself via an EXISTS join, no
    * hash arithmetic. */
  val tVideoDecontaminate: Q = Q(
    "t_video_decontaminate",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir)
      Video.decontaminate(s, Video.synthesize(s, docs),
        Video.synthesize(s, docs.filter(col("doc_id") % 10 === 0)))
        .select(col("doc_id"), col("keep"))
    },
    oracle = Some("""
      WITH cont AS (SELECT DISTINCT d.doc_id
                    FROM documents d JOIN documents e
                      ON e.doc_id % 10 = 0
                     AND e.doc_id % 200 = d.doc_id % 200)
      SELECT d.doc_id, (c.doc_id IS NULL) AS keep
      FROM documents d LEFT JOIN cont c ON d.doc_id = c.doc_id"""))

  val all: Seq[Q] = Seq(tVideoMeta, tVideoFrames, tVideoFramesRaw,
    tVideoSample, tVideoTimeSample, tVideoDedupKeyframe, tVideoSceneCuts,
    tVideoShots, tVideoDecontaminate, tCurateVideo)
}
