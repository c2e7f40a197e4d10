package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Images
import graft.tables.Tables

/** Image-arm catalog entries (the REAL multimodal decode path —
  * operators/Images.scala): the engine synthesizes one deterministic
  * image per document in a MIXED PNG/BMP/GIF/TIFF corpus (all four
  * writers lossless on the grayscale fixture; readers report TIFF as
  * 'tif'), round-trips it through the actual JDK ImageIO codec
  * (encode → decode), and derives stats + a 64-bit perceptual hash
  * from the DECODED pixels; the DuckDB oracle recomputes the same
  * values from the pixel formula alone (pure integer arithmetic over
  * (x, y, doc_id)) — a hash match therefore certifies the lossless
  * codec round trip across all four formats AND the aHash kernel
  * bit-for-bit, cross-engine. The format column carries live per-doc
  * signal (doc_id % 4).
  */
object ImageQueries {

  /** The fixture + aHash recomposition in DuckDB (shared front half of
    * both entries): group/variant → dims → per-pixel luminance
    * (Images.synthPixels' exact arithmetic) → integer-exact stats →
    * 8×8 block sums → threshold bits → the signed 64-bit hash (bit 63
    * assembled as −2^63 — two's complement matches the engine's Long).
    * Prefix-style (trailing comma). */
  private[queries] def imageCtes(docsRel: String): String = s"""
      ip0 AS (SELECT doc_id, CAST(doc_id % 200 AS BIGINT) AS g,
                     CAST(doc_id // 200 AS BIGINT) AS v FROM $docsRel),
      ipd AS (SELECT doc_id, g, v,
                     8 * (1 + (g % 8)) AS w,
                     8 * (1 + ((g // 8) % 5)) AS h FROM ip0),
      ixx AS (SELECT doc_id, g, v, w, h, unnest(range(0, w)) AS x FROM ipd),
      ixy AS (SELECT doc_id, g, v, w, h, x, unnest(range(0, h)) AS y FROM ixx),
      ipx AS (SELECT doc_id, w, h, x, y,
                     CASE WHEN x = 3 AND y = 5
                          THEN ((x*2654435761 + y*40503 + (x+3)*(y+7)*(g+13)
                                 + g*2246822519) % 256 + (v % 7) * 16) % 256
                          ELSE (x*2654435761 + y*40503 + (x+3)*(y+7)*(g+13)
                                + g*2246822519) % 256 END AS lum
              FROM ixy),
      ist AS (SELECT doc_id, SUM(lum) AS sum_lum, MIN(lum) AS min_lum,
                     MAX(lum) AS max_lum, COUNT(*) AS n_px FROM ipx GROUP BY 1),
      ibk AS (SELECT doc_id, (y*8)//h AS bi, (x*8)//w AS bj,
                     SUM(lum) AS bs, COUNT(*) AS area
              FROM ipx GROUP BY 1, 2, 3),
      ibt AS (SELECT b.doc_id, CAST(b.bi*8 + b.bj AS INT) AS k,
                     CASE WHEN b.bs * s.n_px > s.sum_lum * b.area
                          THEN 1 ELSE 0 END AS bit
              FROM ibk b JOIN ist s USING (doc_id)),
      iah AS (SELECT doc_id,
                     CAST(COALESCE(SUM(CASE WHEN k < 63 AND bit = 1
                            THEN (CAST(1 AS BIGINT) << k) ELSE 0 END), 0) AS BIGINT)
                     + CASE WHEN COALESCE(MAX(CASE WHEN k = 63 THEN bit END), 0) = 1
                            THEN CAST(-9223372036854775808 AS BIGINT)
                            ELSE 0 END AS ahash
              FROM ibt GROUP BY 1),"""

  /** Real image decode: per-doc PNG → ImageIO header + full decode →
    * dims/format + integer-exact luminance stats + aHash64, all from
    * the DECODED pixels; the oracle recomputes from the formula. */
  val tImageMeta: Q = Q(
    "t_image_meta",
    run = (s, dir) =>
      Images.imageStats(s, Images.synthesize(s, Tables.documents(s, dir))),
    oracle = Some(s"""
      WITH ${imageCtes("documents")}
      final AS (
        SELECT d.doc_id, CAST(d.w AS INT) AS width, CAST(d.h AS INT) AS height,
               CASE (d.doc_id % 4) WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
                    WHEN 2 THEN 'gif' ELSE 'tif' END AS format,
               CAST(s.n_px AS BIGINT) AS n_px,
               CAST(s.sum_lum AS BIGINT) AS sum_lum,
               CAST(s.min_lum AS INT) AS min_lum, CAST(s.max_lum AS INT) AS max_lum,
               a.ahash
        FROM ipd d JOIN ist s USING (doc_id) JOIN iah a USING (doc_id))
      SELECT * FROM final"""))

  /** Image near-dup pairs: banded hamming join over the decoded-pixel
    * aHash (lossless at hamming ≤ 3 by pigeonhole over the 4 bands);
    * the oracle is the ALL-PAIRS xor/bit_count join, so the hash match
    * proves the banding loses nothing. The fixture guarantees live
    * signal: same-group variants differ by ≤ 1 perturbed pixel (every
    * v % 7 == 0 variant is an exact duplicate), and the measured ≤3
    * pair set is exactly the same-group set — zero cross-group noise. */
  val tImageDedup: Q = Q(
    "t_image_dedup",
    run = (s, dir) => {
      val stats = Images.imageStats(s, Images.synthesize(s, Tables.documents(s, dir)))
      Images.nearDupPairs(stats.select(col("doc_id"), col("ahash")), maxHamming = 3)
    },
    oracle = Some(s"""
      WITH ${imageCtes("documents")}
      hx AS (SELECT doc_id, ahash FROM iah)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
      FROM hx a JOIN hx b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.ahash, b.ahash)) <= 3"""))

  /** The scale form of image dedup — keeper selection WITHOUT pair
    * emission (exact-hash collapse, then a banded join among DISTINCT
    * hashes only; see Images.nearDupKeepers): the fixture's quadratic
    * pair mass (56M pairs at 150k docs) collapses to a few-hundred-row
    * hash-neighborhood problem. The oracle recomputes each hash's
    * neighborhood-min by all-pairs over distinct hashes, so the hash
    * match certifies keep/drop for EVERY doc — the same decision
    * t_image_dedup's pair form implies, reached without the pairs. */
  val tImageDedupKeepers: Q = Q(
    "t_image_dedup_keepers",
    run = (s, dir) => {
      val stats = Images.imageStats(s, Images.synthesize(s, Tables.documents(s, dir)))
      Images.nearDupKeepers(stats.select(col("doc_id"), col("ahash")), maxHamming = 3)
    },
    oracle = Some(s"""
      WITH ${imageCtes("documents")}
      hx AS (SELECT doc_id, ahash FROM iah),
      mh AS (SELECT ahash, MIN(doc_id) AS min_doc FROM hx GROUP BY 1),
      nbm AS (SELECT a.ahash AS ha, MIN(b.min_doc) AS m
              FROM mh a JOIN mh b ON bit_count(xor(a.ahash, b.ahash)) <= 3
              GROUP BY 1)
      SELECT h.doc_id, h.ahash, (h.doc_id = n.m) AS keep
      FROM hx h JOIN nbm n ON h.ahash = n.ha"""))

  /** REAL image downsampling certified through TWO codec round trips:
    * decode (mixed-format) → 2×2 block-mean resize (integer floor
    * division) → PNG re-encode → full stats+aHash pass over the
    * re-decoded thumbnails; the oracle recomputes every resized pixel
    * from the fixture formula (SUM over the block // 4) and re-derives
    * the stats and hash from those. */
  val tImageResize: Q = Q(
    "t_image_resize",
    run = (s, dir) =>
      Images.imageStats(s,
        Images.resize(s, Images.synthesize(s, Tables.documents(s, dir)), factor = 2)),
    oracle = Some(s"""
      WITH ${imageCtes("documents")}
      rpx AS (SELECT doc_id, x // 2 AS x, y // 2 AS y,
                     SUM(lum) // 4 AS lum
              FROM ipx GROUP BY 1, 2, 3),
      rpd AS (SELECT doc_id, w // 2 AS w, h // 2 AS h FROM ipd),
      rst AS (SELECT doc_id, SUM(lum) AS sum_lum, MIN(lum) AS min_lum,
                     MAX(lum) AS max_lum, COUNT(*) AS n_px
              FROM rpx GROUP BY 1),
      rbk AS (SELECT p.doc_id, (p.y*8)//d.h AS bi, (p.x*8)//d.w AS bj,
                     SUM(p.lum) AS bs, COUNT(*) AS area
              FROM rpx p JOIN rpd d USING (doc_id) GROUP BY 1, 2, 3),
      rbt AS (SELECT b.doc_id, CAST(b.bi*8 + b.bj AS INT) AS k,
                     CASE WHEN b.bs * s.n_px > s.sum_lum * b.area
                          THEN 1 ELSE 0 END AS bit
              FROM rbk b JOIN rst s USING (doc_id)),
      rah AS (SELECT doc_id,
                     CAST(COALESCE(SUM(CASE WHEN k < 63 AND bit = 1
                            THEN (CAST(1 AS BIGINT) << k) ELSE 0 END), 0) AS BIGINT)
                     + CASE WHEN COALESCE(MAX(CASE WHEN k = 63 THEN bit END), 0) = 1
                            THEN CAST(-9223372036854775808 AS BIGINT)
                            ELSE 0 END AS ahash
              FROM rbt GROUP BY 1)
      SELECT d.doc_id, CAST(d.w AS INT) AS width, CAST(d.h AS INT) AS height,
             'png' AS format, CAST(s.n_px AS BIGINT) AS n_px,
             CAST(s.sum_lum AS BIGINT) AS sum_lum,
             CAST(s.min_lum AS INT) AS min_lum, CAST(s.max_lum AS INT) AS max_lum,
             a.ahash
      FROM rpd d JOIN rst s USING (doc_id) JOIN rah a USING (doc_id)"""))

  /** End-to-end image curation (pipeline/MediaCurate): size, contrast
    * and brightness gates plus keeper-form near-dup removal composed
    * into one labeled frame — the oracle recomposes EVERY gate and the
    * precedence from the pixel formula in one statement (keepers
    * computed among the survivors of the earlier gates, exactly like
    * the engine), so a hash match certifies the whole pipeline's
    * composition, not just each operator alone. */
  val tCurateImages: Q = Q(
    "t_curate_images",
    run = (s, dir) =>
      graft.pipeline.MediaCurate.curate(s,
        Images.synthesize(s, Tables.documents(s, dir)),
        graft.pipeline.MediaCurate.ImageGates()),
    oracle = Some(s"""
      WITH ${imageCtes("documents")}
      lbl AS (SELECT s.doc_id, a.ahash,
                     (s.n_px < 128) AS undersized,
                     (s.max_lum - s.min_lum < 16) AS flat,
                     (s.sum_lum < 120 * s.n_px OR s.sum_lum > 136 * s.n_px)
                       AS brightness
              FROM ist s JOIN iah a USING (doc_id)),
      surv AS (SELECT doc_id, ahash FROM lbl
               WHERE NOT undersized AND NOT flat AND NOT brightness),
      mh AS (SELECT ahash, MIN(doc_id) AS min_doc FROM surv GROUP BY 1),
      nbm AS (SELECT a.ahash AS ha, MIN(b.min_doc) AS m
              FROM mh a JOIN mh b ON bit_count(xor(a.ahash, b.ahash)) <= 3
              GROUP BY 1)
      SELECT l.doc_id,
             CASE WHEN l.undersized THEN 'undersized'
                  WHEN l.flat THEN 'flat'
                  WHEN l.brightness THEN 'brightness'
                  WHEN l.doc_id <> n.m THEN 'near_dup'
                  ELSE 'kept' END AS drop_reason
      FROM lbl l LEFT JOIN nbm n ON l.ahash = n.ha"""))

  /** IMAGE eval-set decontamination (Images.decontaminate): drop
    * training images within hamming 3 of any eval image's aHash — the
    * media twin of the text decontamination family. Eval set = the
    * doc_id % 10 == 0 images. The oracle recomputes BOTH sides' hashes
    * from the pixel formula and does the ALL-PAIRS corpus×eval
    * bit_count anti-join, so the hash match proves the banded probe
    * loses nothing (the t_image_dedup losslessness argument, across
    * frames instead of within one). */
  val tImageDecontaminate: Q = Q(
    "t_image_decontaminate",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir)
      Images.decontaminate(s, Images.synthesize(s, docs),
        Images.synthesize(s, docs.filter(col("doc_id") % 10 === 0)))
    },
    oracle = Some(s"""
      WITH ${imageCtes("documents")}
      evh AS (SELECT ahash FROM iah WHERE doc_id % 10 = 0),
      cont AS (SELECT DISTINCT c.doc_id FROM iah c JOIN evh e
               ON bit_count(xor(c.ahash, e.ahash)) <= 3)
      SELECT i.doc_id, i.ahash, (c.doc_id IS NULL) AS keep
      FROM iah i LEFT JOIN cont c ON i.doc_id = c.doc_id"""))

  val all: Seq[Q] = Seq(tImageMeta, tImageDedup, tImageDedupKeepers, tImageResize,
    tImageDecontaminate, tCurateImages)
}
