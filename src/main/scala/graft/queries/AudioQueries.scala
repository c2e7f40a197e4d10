package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Audio
import graft.tables.Tables

/** Audio-arm catalog entries (the REAL multimodal audio decode path —
  * operators/Audio.scala): the engine synthesizes one deterministic
  * 16-bit PCM clip per document in a mixed WAV/AU/AIFF corpus,
  * round-trips it through the actual JDK `javax.sound.sampled` codec
  * (encode → decode), and derives stats + a 64-bit block-energy
  * fingerprint from the DECODED samples; the DuckDB oracle recomputes
  * the same values from the sample formula alone (pure integer
  * arithmetic over (i, doc_id)) — a hash match therefore certifies the
  * lossless codec round trip (all three containers carry PCM exactly;
  * AU/AIFF big-endian, WAVE little-endian) AND the fingerprint kernel
  * bit-for-bit, cross-engine.
  */
object AudioQueries {

  /** The fixture + fingerprint recomposition in DuckDB (shared front
    * half of the entries): group/variant → rate/frames/container →
    * per-sample amplitude (Audio.synthSamples' exact arithmetic) →
    * integer-exact stats (signed sum, min/max, energy = Σ s²) → 64
    * block energies with floor boundaries → threshold bits → the
    * signed 64-bit fingerprint (bit 63 assembled as −2^63 — two's
    * complement matches the engine's Long). Prefix-style (trailing
    * comma). */
  private[queries] def audioCtes(docsRel: String): String = s"""
      ap0 AS (SELECT doc_id, CAST(doc_id % 200 AS BIGINT) AS g,
                     CAST(doc_id // 200 AS BIGINT) AS v FROM $docsRel),
      apd AS (SELECT doc_id, g, v,
                     256 * (1 + (g % 8)) AS n,
                     CASE ((g // 8) % 5) WHEN 0 THEN 8000 WHEN 1 THEN 11025
                          WHEN 2 THEN 16000 WHEN 3 THEN 22050
                          ELSE 44100 END AS rate,
                     CASE (doc_id % 3) WHEN 0 THEN 'wave' WHEN 1 THEN 'au'
                          ELSE 'aiff' END AS container
              FROM ap0),
      asi AS (SELECT doc_id, g, v, n, unnest(range(0, n)) AS i FROM apd),
      asx AS (SELECT doc_id, n, i,
                     CASE WHEN i = 37
                          THEN ((i*2654435761 + 40503*(i+3)*(g+7)
                                 + (i+5)*(i+11)*(g+13) + g*2246822519) % 65536
                                + (v % 7) * 1024) % 65536
                          ELSE (i*2654435761 + 40503*(i+3)*(g+7)
                                + (i+5)*(i+11)*(g+13) + g*2246822519) % 65536
                          END - 32768 AS s
              FROM asi),
      ast AS (SELECT doc_id, COUNT(*) AS n_samples, SUM(s) AS sum_amp,
                     MIN(s) AS min_amp, MAX(s) AS max_amp,
                     SUM(s * s) AS energy
              FROM asx GROUP BY 1),
      azc AS (SELECT doc_id,
                     COALESCE(SUM(CASE WHEN (s < 0) <> (prev < 0)
                                       THEN 1 ELSE 0 END), 0) AS zero_cross
              FROM (SELECT doc_id, s,
                           lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
                    FROM asx)
              WHERE prev IS NOT NULL
              GROUP BY 1),
      abk AS (SELECT doc_id, (i*64)//n AS k, SUM(s * s) AS be,
                     COUNT(*) AS bl
              FROM asx GROUP BY 1, 2),
      abt AS (SELECT b.doc_id, CAST(b.k AS INT) AS k,
                     CASE WHEN b.be * t.n_samples > t.energy * b.bl
                          THEN 1 ELSE 0 END AS bit
              FROM abk b JOIN ast t USING (doc_id)),
      afh AS (SELECT doc_id,
                     CAST(COALESCE(SUM(CASE WHEN k < 63 AND bit = 1
                            THEN (CAST(1 AS BIGINT) << k) ELSE 0 END), 0) AS BIGINT)
                     + CASE WHEN COALESCE(MAX(CASE WHEN k = 63 THEN bit END), 0) = 1
                            THEN CAST(-9223372036854775808 AS BIGINT)
                            ELSE 0 END AS afp
              FROM abt GROUP BY 1),"""

  /** Header-only metadata pass: container/rate/bits/channels/frames
    * straight from the codec header, no sample decode — the cheap
    * full-corpus scan a 100 TB metadata sweep needs. The oracle
    * recomputes every field from the fixture formula (bits/channels
    * are the fixture's 16-bit-mono constants; n_frames = the formula's
    * sample count), so a match certifies the three containers' header
    * encoders agree with the writers bit-for-bit. n_bytes is API
    * surface (audioMeta emits it) but container framing overhead is a
    * writer detail, not formula-derivable — excluded here, pinned
    * structurally in AudioSpec. */
  val tAudioHeader: Q = Q(
    "t_audio_header",
    run = (s, dir) =>
      Audio.audioMeta(s, Audio.synthesize(s, Tables.documents(s, dir)))
        .select(col("doc_id"), col("format"), col("sample_rate"), col("bits"),
          col("channels"), col("n_frames")),
    oracle = Some(s"""
      WITH ${audioCtes("documents")}
      final AS (
        SELECT doc_id, container AS format, CAST(rate AS INT) AS sample_rate,
               CAST(16 AS INT) AS bits, CAST(1 AS INT) AS channels,
               CAST(n AS BIGINT) AS n_frames
        FROM apd)
      SELECT * FROM final"""))

  /** Real audio decode: per-doc WAV/AU/AIFF → header + full PCM decode
    * (endianness per container) → integer-exact sample stats +
    * block-energy fingerprint, all from the DECODED samples; the
    * oracle recomputes from the formula. */
  val tAudioMeta: Q = Q(
    "t_audio_meta",
    run = (s, dir) =>
      Audio.audioStats(s, Audio.synthesize(s, Tables.documents(s, dir))),
    oracle = Some(s"""
      WITH ${audioCtes("documents")}
      final AS (
        SELECT d.doc_id, d.container AS format, CAST(d.rate AS INT) AS sample_rate,
               CAST(t.n_samples AS BIGINT) AS n_samples,
               CAST(t.sum_amp AS BIGINT) AS sum_amp,
               CAST(t.min_amp AS INT) AS min_amp, CAST(t.max_amp AS INT) AS max_amp,
               CAST(t.energy AS BIGINT) AS energy,
               CAST(z.zero_cross AS BIGINT) AS zero_cross, f.afp
        FROM apd d JOIN ast t USING (doc_id) JOIN azc z USING (doc_id)
             JOIN afh f USING (doc_id))
      SELECT * FROM final"""))

  /** Audio near-dup pairs: the SHARED banded hamming join
    * (Fingerprints, the image arm's machinery) over the decoded-sample
    * fingerprint; the oracle is the ALL-PAIRS xor/bit_count join, so
    * the hash match proves the banding loses nothing. The fixture
    * guarantees live signal: same-group variants perturb ONE sample
    * (hamming ≤ 2 measured — every v % 7 == 0 variant is an exact
    * duplicate, classes differ by 1-2 bits) and cross-group clips stay
    * far (zero cross-group pairs at ≤ 3, AudioSpec pins it). */
  val tAudioDedup: Q = Q(
    "t_audio_dedup",
    run = (s, dir) => {
      val stats = Audio.audioStats(s, Audio.synthesize(s, Tables.documents(s, dir)))
      Audio.nearDupPairs(stats.select(col("doc_id"), col("afp")), maxHamming = 3)
    },
    oracle = Some(s"""
      WITH ${audioCtes("documents")}
      hx AS (SELECT doc_id, afp FROM afh)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.afp, b.afp)) AS BIGINT) AS hamming
      FROM hx a JOIN hx b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.afp, b.afp)) <= 3"""))

  /** The scale form of audio dedup — keeper selection WITHOUT pair
    * emission (exact-fingerprint collapse, then the banded join among
    * DISTINCT fingerprints only; Fingerprints.nearDupKeepers): the
    * fixture's quadratic pair mass (60k pairs at 5k docs) collapses to
    * a few-hundred-row fingerprint-neighborhood problem. The oracle
    * recomputes each fingerprint's neighborhood-min by all-pairs over
    * distinct fingerprints, so the hash match certifies keep/drop for
    * EVERY doc. */
  val tAudioDedupKeepers: Q = Q(
    "t_audio_dedup_keepers",
    run = (s, dir) => {
      val stats = Audio.audioStats(s, Audio.synthesize(s, Tables.documents(s, dir)))
      Audio.nearDupKeepers(stats.select(col("doc_id"), col("afp")), maxHamming = 3)
    },
    oracle = Some(s"""
      WITH ${audioCtes("documents")}
      hx AS (SELECT doc_id, afp FROM afh),
      mh AS (SELECT afp, MIN(doc_id) AS min_doc FROM hx GROUP BY 1),
      nbm AS (SELECT a.afp AS ha, MIN(b.min_doc) AS m
              FROM mh a JOIN mh b ON bit_count(xor(a.afp, b.afp)) <= 3
              GROUP BY 1)
      SELECT h.doc_id, h.afp, (h.doc_id = n.m) AS keep
      FROM hx h JOIN nbm n ON h.afp = n.ha"""))

  /** Audio quality gates (clipping / silence), the audio analog of the
    * text layer's rule filters: one decode pass, integer-exact counts,
    * longest silence run recomputed by the oracle via gaps-and-islands
    * over the per-sample formula. */
  val tAudioQuality: Q = Q(
    "t_audio_quality",
    run = (s, dir) =>
      Audio.audioQuality(s, Audio.synthesize(s, Tables.documents(s, dir))),
    oracle = Some(s"""
      WITH ${audioCtes("documents")}
      sil AS (SELECT doc_id, i, (abs(s) < 256) AS z,
                     (abs(s) >= 32700) AS c FROM asx),
      grp AS (SELECT doc_id, i, z,
                     i - ROW_NUMBER() OVER (PARTITION BY doc_id, z ORDER BY i)
                       AS island
              FROM sil),
      runs AS (SELECT doc_id, COUNT(*) AS len
               FROM grp WHERE z GROUP BY doc_id, island),
      agg AS (SELECT doc_id, COUNT(*) AS n_samples,
                     SUM(CASE WHEN c THEN 1 ELSE 0 END) AS n_clipped,
                     SUM(CASE WHEN z THEN 1 ELSE 0 END) AS n_silent
              FROM sil GROUP BY 1),
      lng AS (SELECT doc_id, MAX(len) AS longest FROM runs GROUP BY 1)
      SELECT a.doc_id, CAST(a.n_samples AS BIGINT) AS n_samples,
             CAST(a.n_clipped AS BIGINT) AS n_clipped,
             CAST(a.n_silent AS BIGINT) AS n_silent,
             CAST(COALESCE(l.longest, 0) AS BIGINT) AS longest_silence_run
      FROM agg a LEFT JOIN lng l USING (doc_id)"""))

  /** Decimation resampling: keep every 4th sample, re-encode WAVE at
    * rate/4, then run the FULL stats+fingerprint pass over the
    * re-encoded clip — the oracle recomputes everything from the
    * decimated formula samples, so the decode → decimate → re-encode →
    * re-decode chain is certified end to end (pure decimation keeps
    * each output sample an exact input sample; the fixture's n is
    * divisible by 4, so m = n/4 on both sides). */
  val tAudioResample: Q = Q(
    "t_audio_resample",
    run = (s, dir) =>
      Audio.audioStats(s,
        Audio.resample(s, Audio.synthesize(s, Tables.documents(s, dir)), factor = 4)),
    oracle = Some(s"""
      WITH ${audioCtes("documents")}
      ars AS (SELECT doc_id, n // 4 AS m, i // 4 AS j, s
              FROM asx WHERE i % 4 = 0),
      rst AS (SELECT doc_id, COUNT(*) AS n_samples, SUM(s) AS sum_amp,
                     MIN(s) AS min_amp, MAX(s) AS max_amp,
                     SUM(s * s) AS energy
              FROM ars GROUP BY 1),
      rzc AS (SELECT doc_id,
                     COALESCE(SUM(CASE WHEN (s < 0) <> (prev < 0)
                                       THEN 1 ELSE 0 END), 0) AS zero_cross
              FROM (SELECT doc_id, s,
                           lag(s) OVER (PARTITION BY doc_id ORDER BY j) AS prev
                    FROM ars)
              WHERE prev IS NOT NULL
              GROUP BY 1),
      rbk AS (SELECT doc_id, (j*64)//m AS k, SUM(s * s) AS be,
                     COUNT(*) AS bl
              FROM ars GROUP BY 1, 2),
      rbt AS (SELECT b.doc_id, CAST(b.k AS INT) AS k,
                     CASE WHEN b.be * t.n_samples > t.energy * b.bl
                          THEN 1 ELSE 0 END AS bit
              FROM rbk b JOIN rst t USING (doc_id)),
      rfh AS (SELECT doc_id,
                     CAST(COALESCE(SUM(CASE WHEN k < 63 AND bit = 1
                            THEN (CAST(1 AS BIGINT) << k) ELSE 0 END), 0) AS BIGINT)
                     + CASE WHEN COALESCE(MAX(CASE WHEN k = 63 THEN bit END), 0) = 1
                            THEN CAST(-9223372036854775808 AS BIGINT)
                            ELSE 0 END AS afp
              FROM rbt GROUP BY 1)
      SELECT d.doc_id, 'wave' AS format, CAST(d.rate // 4 AS INT) AS sample_rate,
             CAST(t.n_samples AS BIGINT) AS n_samples,
             CAST(t.sum_amp AS BIGINT) AS sum_amp,
             CAST(t.min_amp AS INT) AS min_amp, CAST(t.max_amp AS INT) AS max_amp,
             CAST(t.energy AS BIGINT) AS energy,
             CAST(z.zero_cross AS BIGINT) AS zero_cross, f.afp
      FROM apd d JOIN rst t USING (doc_id) JOIN rzc z USING (doc_id)
           JOIN rfh f USING (doc_id)"""))

  /** End-to-end audio curation (pipeline/MediaCurate.curate, AudioGates):
    * length, clipping and silence gates plus keeper-form near-dup
    * removal among gate survivors in one labeled frame — the oracle
    * recomposes every gate and the precedence from the sample formula
    * in one statement, certifying the pipeline's COMPOSITION. */
  val tCurateAudio: Q = Q(
    "t_curate_audio",
    run = (s, dir) =>
      graft.pipeline.MediaCurate.curate(s,
        Audio.synthesize(s, Tables.documents(s, dir)),
        graft.pipeline.MediaCurate.AudioGates()),
    oracle = Some(s"""
      WITH ${audioCtes("documents")}
      prof AS (SELECT doc_id, COUNT(*) AS n,
                      SUM(CASE WHEN abs(s) >= 32700 THEN 1 ELSE 0 END) AS clip,
                      SUM(CASE WHEN abs(s) < 256 THEN 1 ELSE 0 END) AS sil
               FROM asx GROUP BY 1),
      lbl AS (SELECT p.doc_id, f.afp,
                     (p.n < 512) AS too_short,
                     (p.clip * 256 > p.n) AS clipped,
                     (p.sil * 64 > p.n) AS silent
              FROM prof p JOIN afh f USING (doc_id)),
      surv AS (SELECT doc_id, afp FROM lbl
               WHERE NOT too_short AND NOT clipped AND NOT silent),
      mh AS (SELECT afp, MIN(doc_id) AS min_doc FROM surv GROUP BY 1),
      nbm AS (SELECT a.afp AS ha, MIN(b.min_doc) AS m
              FROM mh a JOIN mh b ON bit_count(xor(a.afp, b.afp)) <= 3
              GROUP BY 1)
      SELECT l.doc_id,
             CASE WHEN l.too_short THEN 'too_short'
                  WHEN l.clipped THEN 'clipped'
                  WHEN l.silent THEN 'silent'
                  WHEN l.doc_id <> n.m THEN 'near_dup'
                  ELSE 'kept' END AS drop_reason
      FROM lbl l LEFT JOIN nbm n ON l.afp = n.ha"""))

  /** AUDIO eval-set decontamination (Audio.decontaminate): drop
    * training clips within hamming 3 of any eval clip's block-energy
    * fingerprint; eval set = the doc_id % 10 == 0 clips. Oracle:
    * recompute both sides' fingerprints from the sample formula and
    * ALL-PAIRS anti-join — the banded probe must lose nothing. */
  val tAudioDecontaminate: Q = Q(
    "t_audio_decontaminate",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir)
      Audio.decontaminate(s, Audio.synthesize(s, docs),
        Audio.synthesize(s, docs.filter(col("doc_id") % 10 === 0)))
    },
    oracle = Some(s"""
      WITH ${audioCtes("documents")}
      evh AS (SELECT afp FROM afh WHERE doc_id % 10 = 0),
      cont AS (SELECT DISTINCT c.doc_id FROM afh c JOIN evh e
               ON bit_count(xor(c.afp, e.afp)) <= 3)
      SELECT a.doc_id, a.afp, (c.doc_id IS NULL) AS keep
      FROM afh a LEFT JOIN cont c ON a.doc_id = c.doc_id"""))

  val all: Seq[Q] = Seq(tAudioHeader, tAudioMeta, tAudioDedup, tAudioDedupKeepers,
    tAudioQuality, tAudioResample, tAudioDecontaminate, tCurateAudio)
}
