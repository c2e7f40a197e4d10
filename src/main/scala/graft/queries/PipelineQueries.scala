package graft.queries

import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.operators.{Dedup, Eval, Ivf, Layout, Multimodal, Pq, Sampling, Similarity, TextAnalysis}

/** Training-data pipeline operators over `documents`/`embeddings`:
  * dedup (exact / MinHash+LSH / SimHash), ANN similarity search, and text
  * analysis (language ID, quality, token stats). Spark implementations live
  * in graft.operators; oracles re-express the same pinned arithmetic in
  * DuckDB SQL (md5-based hashing so both engines agree bit-for-bit).
  */
object PipelineQueries {

  /** DuckDB twin of the pinned latin tokenizer. ENGINE-PARITY
    * PRECONDITION (shared with [[TOKS_CJK]], and independent of the JVM
    * default locale): DuckDB's utf8proc `lower()` and the kernels'
    * Locale.ROOT lowering disagree on LENGTH-CHANGING case mappings even
    * on ROOT-default JVMs — e.g. U+0130 İ: DuckDB lower('İstanbul') =
    * 'istanbul' (one token) while Java's ROOT lowering yields
    * 'i' + U+0307 + 'stanbul' (the combining dot separates → tokens
    * ['i','stanbul']). Corpus text containing U+0130 (or any mapping
    * where the two lowerings diverge) would break oracle hash parity
    * regardless of locale; no driver corpus or seed fixture contains
    * such a character, which is what keeps the gates exact. The fused
    * kernels' tr/az-JVM-locale caveat (TextFunctions.tokensFused) is the
    * separate, compositional-form-only hazard. */
  private val TOKS =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  /** DuckDB twin of the CJK-bigram tokenizer (tokensFusedCjk /
    * tokens(text, cjk=true) — semantics pinned by the u2_cjk_tokens
    * oracle, re-expressed as ONE list expression so it can drop into the
    * curate oracle's `$TOKS` slot): keep [a-z0-9]+CJK, space-wrap CJK
    * runs (no lookaround — RE2 mirrors Java), then each CJK piece of
    * length L ≥ 2 expands to its L−1 overlapping bigrams, an isolated
    * ideograph or latin run stays itself. On pure-latin text this is
    * byte-identical to [[TOKS]] (the CASE wraps every piece in a
    * singleton and flatten undoes it), so swapping it into a chain only
    * changes rows that actually contain CJK. Inherits [[TOKS]]'s
    * engine-parity precondition: no corpus character may lower
    * differently under DuckDB's utf8proc vs Locale.ROOT (U+0130 is the
    * canonical offender — see TOKS's scaladoc). */
  private val TOKS_CJK =
    """flatten(list_transform(
      list_filter(regexp_split_to_array(
        regexp_replace(regexp_replace(lower(text), '[^a-z0-9一-鿿]+', ' ', 'g'), '([一-鿿]+)', ' \1 ', 'g'),
        ' +'), x -> x <> ''),
      p -> CASE WHEN NOT regexp_matches(p, '^[一-鿿]') OR length(p) = 1 THEN [p]
                ELSE [substr(p, j, 2) for j in range(1, length(p))] END))"""

  /** Exact dedup by normalized-text fingerprint. */
  val tDedupExact: Q = Q(
    "t_dedup_exact",
    run = (s, dir) => Dedup.exactGroups(Tables.documents(s, dir)),
    oracle = Some("""
      SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
             COUNT(*) AS ct, MIN(doc_id) AS keep_id
      FROM documents GROUP BY 1"""))

  /** Source-priority exact dedup: the corpus plus a 'curated tier 0'
    * copy of every third doc (shifted ids, identical text) — each
    * duplicated group must keep the CURATED copy (the higher id),
    * proving the preference rule overrides min-id keeping. */
  val tDedupKeepBest: Q = Q(
    "t_dedup_keep_best",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val curated = docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
      val corpus = docs.withColumn("__tier", lit(1L))
        .unionByName(curated.withColumn("__tier", lit(0L)))
      Dedup.exactGroupsKeepBest(corpus, col("__tier"))
    },
    oracle = Some("""
      WITH c AS (
        SELECT doc_id, text, 1 AS tier FROM documents
        UNION ALL
        SELECT doc_id + 200000, text, 0 FROM documents WHERE doc_id % 3 = 0),
      f AS (SELECT doc_id, tier,
              md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
            FROM c),
      g AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS ct FROM f GROUP BY fp),
      k AS (SELECT fp, doc_id AS keep_id FROM (
              SELECT fp, doc_id,
                ROW_NUMBER() OVER (PARTITION BY fp ORDER BY tier ASC, doc_id ASC) AS rn
              FROM f) t WHERE rn = 1)
      SELECT g.fp, g.ct, k.keep_id FROM g JOIN k USING (fp)"""))

  /** MinHash+LSH near-dup pairs (8 sigs, 4 bands × 2, Jaccard >= 0.8). */
  val tDedupMinhash: Q = Q(
    "t_dedup_minhash",
    run = (s, dir) => Dedup.minhashLshPairs(Tables.documents(s, dir)),
    oracle = Some(s"""
      WITH toks AS (
        SELECT doc_id, $TOKS AS toks FROM documents),
      sh AS (
        SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS shingles
        FROM toks WHERE len(toks) >= 3),
      vh AS (
        SELECT doc_id, shingles,
          [CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) for g in shingles] AS v
        FROM sh),
      sigs AS (
        SELECT doc_id,
          [list_min([((2*s+1)*x + 7919*s + 1) % 4294967291 for x in v]) for s in range(0, 8)] AS sig
        FROM vh),
      bands AS (
        SELECT doc_id, b, CAST(sig[2*b+1] AS VARCHAR) || '|' || CAST(sig[2*b+2] AS VARCHAR) AS band_key
        FROM sigs, range(0, 4) AS r(b)),
      capped AS (
        SELECT doc_id, b, band_key FROM (
          SELECT *, COUNT(*) OVER (PARTITION BY b, band_key) AS bs FROM bands) t
        WHERE bs <= 1000),
      cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM capped x JOIN capped y
          ON x.band_key = y.band_key AND x.b = y.b AND x.doc_id < y.doc_id),
      jac AS (
        SELECT c.doc_a, c.doc_b,
          len(list_intersect(sa.v, sb.v))::DOUBLE
            / len(list_distinct(sa.v || sb.v)) AS j
        FROM cand c
        JOIN vh sa ON sa.doc_id = c.doc_a
        JOIN vh sb ON sb.doc_id = c.doc_b)
      SELECT doc_a, doc_b, j AS jaccard FROM jac WHERE j >= 0.8"""),
    headline = true)

  /** Salted hot-bucket LSH: maxBucket=2 forces every size-3+ band bucket
    * through the triangle-join salt path (Dedup.minhashLshPairs saltChunk),
    * and the oracle has NO bucket cap — hash-matching proves the salted
    * rewrite is recall-lossless, not merely plausible. */
  val tDedupMinhashSalted: Q = Q(
    "t_dedup_minhash_salted",
    run = (s, dir) =>
      Dedup.minhashLshPairs(Tables.documents(s, dir), maxBucket = 2, saltChunk = 1),
    oracle = Some(s"""
      WITH toks AS (
        SELECT doc_id, $TOKS AS toks FROM documents),
      sh AS (
        SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS shingles
        FROM toks WHERE len(toks) >= 3),
      vh AS (
        SELECT doc_id, shingles,
          [CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) for g in shingles] AS v
        FROM sh),
      sigs AS (
        SELECT doc_id,
          [list_min([((2*s+1)*x + 7919*s + 1) % 4294967291 for x in v]) for s in range(0, 8)] AS sig
        FROM vh),
      bands AS (
        SELECT doc_id, b, CAST(sig[2*b+1] AS VARCHAR) || '|' || CAST(sig[2*b+2] AS VARCHAR) AS band_key
        FROM sigs, range(0, 4) AS r(b)),
      cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y
          ON x.band_key = y.band_key AND x.b = y.b AND x.doc_id < y.doc_id),
      jac AS (
        SELECT c.doc_a, c.doc_b,
          len(list_intersect(sa.v, sb.v))::DOUBLE
            / len(list_distinct(sa.v || sb.v)) AS j
        FROM cand c
        JOIN vh sa ON sa.doc_id = c.doc_a
        JOIN vh sb ON sb.doc_id = c.doc_b)
      SELECT doc_a, doc_b, j AS jaccard FROM jac WHERE j >= 0.8"""))

  /** EXACT n-gram Jaccard self-join (prefix filtering, no MinHash
    * approximation): the oracle's candidate set is every pair sharing ANY
    * gram — so the hash match proves the prefix filter is recall-lossless,
    * not merely plausible. Threshold 0.7 (vs minhash's 0.8) keeps the
    * prefix length > 1 and the entry non-redundant with t_dedup_minhash. */
  val tDedupJaccard: Q = Q(
    "t_dedup_jaccard",
    run = (s, dir) => Dedup.ngramJaccardPairs(Tables.documents(s, dir), n = 3, threshold = 0.7),
    oracle = Some(s"""
      WITH toks AS (
        SELECT doc_id, $TOKS AS toks FROM documents),
      sh AS (
        SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS shingles
        FROM toks WHERE len(toks) >= 3),
      vh AS (
        SELECT doc_id,
          list_distinct([CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) for g in shingles]) AS hs
        FROM sh),
      cg AS (SELECT doc_id, unnest(hs) AS h FROM vh),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM cg a JOIN cg b ON a.h = b.h AND a.doc_id < b.doc_id),
      jac AS (
        SELECT c.doc_a, c.doc_b,
          len(list_intersect(sa.hs, sb.hs))::DOUBLE
            / len(list_distinct(sa.hs || sb.hs)) AS j
        FROM cand c
        JOIN vh sa ON sa.doc_id = c.doc_a
        JOIN vh sb ON sb.doc_id = c.doc_b)
      SELECT doc_a, doc_b, j AS jaccard FROM jac WHERE j >= 0.7"""))

  /** Edit-distance similarity join over document titles (Ed-Join): title =
    * first 40 chars (95% distinct in this corpus — near-identical-title
    * detection is the operator's production shape); every 11th doc
    * truncated to 6 chars exercises the short-tile path, and planted
    * drop-1-char (+100000) / drop-2-char (+200000) mutants guarantee
    * non-vacuous pairs at every dist on both paths. The oracle recomputes
    * the identical prefix-filter + tile chain (the minhash banding
    * precedent — DedupSpec proves recall-losslessness vs brute force
    * separately), then the exact levenshtein verify. */
  val tDedupEdit: Q = Q(
    "t_dedup_edit",
    run = (s, dir) => {
      val id = col("doc_id")
      val p0 = Tables.documents(s, dir).select(id.as("doc_id"),
        when(id % 11 === 0, substring(col("text"), 1, 6))
          .otherwise(substring(col("text"), 1, 40)).as("text"))
      val planted1 = p0.filter(id % 3 === 0)
        .select((id + 100000L).as("doc_id"),
          col("text").substr(lit(1), length(col("text")) - 1).as("text"))
      val planted2 = p0.filter(id % 5 === 0)
        .select((id + 200000L).as("doc_id"),
          col("text").substr(lit(1), length(col("text")) - 2).as("text"))
      Dedup.editDistancePairs(p0.unionByName(planted1).unionByName(planted2),
        maxDist = 2, q = 3)
    },
    oracle = Some("""
      WITH c0 AS (SELECT doc_id,
          CASE WHEN doc_id % 11 = 0 THEN substr(text, 1, 6)
               ELSE substr(text, 1, 40) END AS s
        FROM documents),
      c AS (SELECT doc_id, s FROM c0
            UNION ALL
            SELECT doc_id + 100000, substr(s, 1, len(s) - 1) FROM c0 WHERE doc_id % 3 = 0
            UNION ALL
            SELECT doc_id + 200000, substr(s, 1, len(s) - 2) FROM c0 WHERE doc_id % 5 = 0),
      b AS (SELECT doc_id, coalesce(s, '') AS s, len(coalesce(s, '')) AS l FROM c),
      g AS (SELECT doc_id, l, list_distinct([substr(s, i, 3) for i in range(1, l - 1)]) AS gs
            FROM b WHERE l >= 9),
      ex AS (SELECT doc_id, l, unnest(gs) AS g FROM g),
      dfq AS (SELECT g, COUNT(*) AS df FROM ex GROUP BY g),
      pe AS (SELECT doc_id, l, g FROM (
              SELECT ex.doc_id, ex.l, ex.g,
                ROW_NUMBER() OVER (PARTITION BY ex.doc_id ORDER BY dfq.df, ex.g) AS rn
              FROM ex JOIN dfq USING (g)) t WHERE rn <= 7),
      lc AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
             FROM pe x JOIN pe y ON x.g = y.g AND x.doc_id < y.doc_id
              AND abs(x.l - y.l) <= 2),
      t AS (SELECT doc_id, l, unnest([CAST(l // 3 AS BIGINT), CAST(l // 3 AS BIGINT) + 1]) AS tile
            FROM b WHERE l < 11),
      sc AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
             FROM t x JOIN t y ON x.tile = y.tile AND x.doc_id < y.doc_id
              AND abs(x.l - y.l) <= 2 AND least(x.l, y.l) < 9),
      cand AS (SELECT doc_a, doc_b FROM lc UNION SELECT doc_a, doc_b FROM sc),
      v AS (SELECT cand.doc_a, cand.doc_b, levenshtein(a.s, bb.s) AS dist
            FROM cand JOIN b a ON a.doc_id = cand.doc_a
                      JOIN b bb ON bb.doc_id = cand.doc_b)
      SELECT doc_a, doc_b, CAST(dist AS INT) AS dist FROM v WHERE dist <= 2"""))

  /** Corpus-wide repeated-span removal (sub-document dedup): 8-token spans
    * occurring more than once across the corpus are deleted from every doc
    * and texts are rebuilt from the survivors — 153 of 3434 distinct spans
    * repeat at the gate SF, so the entry is non-vacuous. */
  val tDedupSpans: Q = Q(
    "t_dedup_spans",
    run = (s, dir) => Dedup.dedupSpans(Tables.documents(s, dir), k = 8, maxOcc = 1),
    oracle = Some(s"""
      WITH toks AS (SELECT doc_id, $TOKS AS toks FROM documents),
      spx AS (
        SELECT doc_id,
          unnest([{'pos': i - 1,
                   'span': array_to_string(toks[((i-1)*8+1):((i-1)*8+8)], ' ')}
                  for i in range(1, CAST(ceil(len(toks) / 8.0) AS BIGINT) + 1)]) AS s
        FROM toks),
      sp AS (SELECT doc_id, s.pos AS pos, s.span AS span FROM spx),
      banned AS (SELECT span FROM sp GROUP BY span HAVING COUNT(*) > 1),
      kept AS (
        SELECT doc_id, string_agg(span, ' ' ORDER BY pos) AS rebuilt,
               COUNT(*) AS n_kept
        FROM sp ANTI JOIN banned USING (span) GROUP BY doc_id)
      SELECT t.doc_id,
        COALESCE(k.rebuilt, '') AS text,
        CAST(ceil(len(t.toks) / 8.0) AS BIGINT) AS n_spans,
        COALESCE(k.n_kept, 0) AS n_kept
      FROM toks t LEFT JOIN kept k USING (doc_id)"""))

  /** 32-bit SimHash per document. */
  val tSimhash: Q = Q(
    "t_simhash",
    run = (s, dir) => Dedup.simhashTable(Tables.documents(s, dir)),
    oracle = Some(s"""
      WITH toks AS (
        SELECT doc_id, list_distinct($TOKS) AS toks FROM documents),
      tb AS (
        SELECT doc_id, b.b,
          (CAST(('0x' || substr(md5(t.tok), 1, 8)) AS BIGINT) >> (31 - b.b)) & 1 AS bit
        FROM toks, unnest(toks.toks) AS t(tok), range(0,32) AS b(b)),
      bits AS (
        SELECT doc_id, b, CASE WHEN SUM(2*bit - 1) >= 0 THEN 1 ELSE 0 END AS bit
        FROM tb GROUP BY 1, 2)
      SELECT doc_id, CAST(SUM(bit * (2**(31-b))) AS BIGINT) AS simhash
      FROM bits GROUP BY 1"""),
    headline = true)

  /** Brute-force exact cosine top-10 for query vectors (vec_id < 5). */
  val tAnnCosine: Q = Q(
    "t_ann_cosine",
    run = (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(emb("vec_id") < 5), 10)
    },
    oracle = Some("""
      WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
      q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 5),
      sims AS (
        SELECT q.qid, v.vec_id,
          list_sum([qe[i+1]*e[i+1] for i in range(0, 64)]) /
            (sqrt(list_sum([qe[i+1]*qe[i+1] for i in range(0, 64)]))
             * sqrt(list_sum([e[i+1]*e[i+1] for i in range(0, 64)]))) AS sim
        FROM q, v WHERE q.qid <> v.vec_id),
      ranked AS (
        SELECT qid, vec_id, round(sim, 6) AS sim,
          row_number() OVER (PARTITION BY qid ORDER BY round(sim, 6) DESC, vec_id) AS rk
        FROM sims)
      SELECT qid, vec_id, sim, rk FROM ranked WHERE rk <= 10"""),
    headline = true)

  /** Metadata-FILTERED vector search: top-10 cosine among even-label
    * vectors only, PRE-filter semantics (the filter restricts the
    * candidate set before ranking, so every query still gets k results
    * from the allowed subset — post-filtering a top-k would return
    * fewer). The same composition applies to the IVF path by filtering
    * the postings frame before Ivf.topK (IvfSpec proves the filtered
    * index equals filtered brute force at full probe width). */
  val tAnnFiltered: Q = Q(
    "t_ann_filtered",
    run = (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(
        emb.filter(col("label") % 2 === 0), emb.filter(emb("vec_id") < 5), 10)
    },
    oracle = Some("""
      WITH v AS (SELECT vec_id, label,
          [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
      f AS (SELECT vec_id, e FROM v WHERE label % 2 = 0),
      q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 5),
      sims AS (
        SELECT q.qid, f.vec_id,
          list_sum([qe[i+1]*e[i+1] for i in range(0, 64)]) /
            (sqrt(list_sum([qe[i+1]*qe[i+1] for i in range(0, 64)]))
             * sqrt(list_sum([e[i+1]*e[i+1] for i in range(0, 64)]))) AS sim
        FROM q, f WHERE q.qid <> f.vec_id),
      ranked AS (
        SELECT qid, vec_id, round(sim, 6) AS sim,
          row_number() OVER (PARTITION BY qid ORDER BY round(sim, 6) DESC, vec_id) AS rk
        FROM sims)
      SELECT qid, vec_id, sim, rk FROM ranked WHERE rk <= 10"""))

  /** Contrastive-pair mining: per query (vec_id < 5), the 3 most-similar
    * same-label vectors (positives) and the 5 most-similar other-label
    * vectors (hard negatives) — the training-pair construction behind
    * embedding-model fine-tuning. The oracle recomposes the full
    * similarity ranking per (query, role), so the mined set, roles, tie
    * order and both k-cuts are certified in one hash. */
  val tContrastiveMine: Q = Q(
    "t_contrastive_mine",
    run = (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.contrastiveMine(emb, emb.filter(col("vec_id") < 5), kPos = 3, kNeg = 5)
    },
    oracle = Some("""
      WITH v AS (SELECT vec_id, label,
          [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
      q AS (SELECT vec_id AS qid, label AS qlabel, e AS qe FROM v WHERE vec_id < 5),
      sims AS (
        SELECT q.qid, v.vec_id, v.label,
          CASE WHEN v.label = q.qlabel THEN 'pos' ELSE 'neg' END AS role,
          round(list_sum([qe[i+1]*e[i+1] for i in range(0, 64)]) /
            (sqrt(list_sum([qe[i+1]*qe[i+1] for i in range(0, 64)]))
             * sqrt(list_sum([e[i+1]*e[i+1] for i in range(0, 64)]))), 6) AS sim
        FROM q, v WHERE q.qid <> v.vec_id),
      ranked AS (
        SELECT qid, vec_id, label, role, sim,
          row_number() OVER (PARTITION BY qid, role ORDER BY sim DESC, vec_id) AS rk
        FROM sims)
      SELECT qid, vec_id, label, role, sim, rk FROM ranked
      WHERE rk <= CASE WHEN role = 'pos' THEN 3 ELSE 5 END"""))

  /** Embedding-cosine near-dup pairs (exact, cosine >= 0.45). */
  val tDedupEmbedding: Q = Q(
    "t_dedup_embedding",
    run = (s, dir) =>
      Similarity.cosineNearDupPairs(Tables.embeddings(s, dir), 0.45),
    oracle = Some("""
      WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
      p AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
          list_sum([a.e[i+1]*b.e[i+1] for i in range(0, 64)]) /
            (sqrt(list_sum([a.e[i+1]*a.e[i+1] for i in range(0, 64)]))
             * sqrt(list_sum([b.e[i+1]*b.e[i+1] for i in range(0, 64)]))) AS sim
        FROM v a JOIN v b ON a.vec_id < b.vec_id)
      SELECT vec_a, vec_b, round(sim, 6) AS sim FROM p WHERE sim >= 0.45"""))

  /** SemDeDup-style semantic dedup: nearest-centroid clustering (8
    * deterministic seed centroids = the lowest-vec_id embeddings, so the
    * oracle can recompute the assignment), then same-cluster cosine
    * pairs. The oracle re-derives the argmax assignment (sim DESC, cid
    * ASC — the expression's strict-> first-win rule) and the pair set,
    * so both the clustering and the within-cluster search are certified. */
  val tDedupSemantic: Q = Q(
    "t_dedup_semantic",
    run = (s, dir) => {
      val embs = Tables.embeddings(s, dir)
      val seeds = embs.orderBy(col("vec_id")).limit(8).collect()
      val cids = seeds.map(_.getLong(0)).toSeq
      val cents = seeds.map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
      Similarity.semanticDedupPairs(embs, cids, cents, 0.4)
    },
    oracle = Some("""
      WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
      c AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 8),
      sims AS (
        SELECT v.vec_id, c.cid,
          list_sum([v.e[i+1]*c.ce[i+1] for i in range(0, 64)]) /
            (sqrt(list_sum([v.e[i+1]*v.e[i+1] for i in range(0, 64)]))
             * sqrt(list_sum([c.ce[i+1]*c.ce[i+1] for i in range(0, 64)]))) AS sim
        FROM v, c),
      asg AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rk
          FROM sims) z WHERE rk = 1),
      p AS (
        SELECT aa.cid, a.vec_id AS vec_a, b.vec_id AS vec_b,
          list_sum([a.e[i+1]*b.e[i+1] for i in range(0, 64)]) /
            (sqrt(list_sum([a.e[i+1]*a.e[i+1] for i in range(0, 64)]))
             * sqrt(list_sum([b.e[i+1]*b.e[i+1] for i in range(0, 64)]))) AS sim
        FROM v a JOIN asg aa ON a.vec_id = aa.vec_id
        JOIN asg bb ON aa.cid = bb.cid
        JOIN v b ON b.vec_id = bb.vec_id AND a.vec_id < b.vec_id)
      SELECT cid, vec_a, vec_b, round(sim, 6) AS sim FROM p WHERE sim >= 0.4"""))

  /** Cluster-balanced quality pruning (DataComp posture): same 8 seed
    * centroids as t_dedup_semantic, score = the label column, keep the
    * top 20 per cluster — 500+ vectors over 8 clusters, so every quota
    * bites at every SF. The oracle recomputes assignment AND the
    * per-cluster ranked cut, certifying that the kept set prefers
    * quality within regions without collapsing coverage. */
  val tClusterPrune: Q = Q(
    "t_cluster_prune",
    run = (s, dir) => {
      val embs = Tables.embeddings(s, dir)
      val seeds = embs.orderBy(col("vec_id")).limit(8).collect()
      val cids = seeds.map(_.getLong(0)).toSeq
      val cents = seeds.map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
      Similarity.semanticPrune(embs, col("label"), cids, cents, keepPerCluster = 20)
        .select(col("vec_id"), col("cid"), col("label"))
    },
    oracle = Some("""
      WITH v AS (SELECT vec_id, label, [CAST(x AS DOUBLE) for x in embedding] AS e
                 FROM embeddings),
      c AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 8),
      sims AS (
        SELECT v.vec_id, c.cid,
          list_sum([v.e[i+1]*c.ce[i+1] for i in range(0, 64)]) /
            (sqrt(list_sum([v.e[i+1]*v.e[i+1] for i in range(0, 64)]))
             * sqrt(list_sum([c.ce[i+1]*c.ce[i+1] for i in range(0, 64)]))) AS sim
        FROM v, c),
      asg AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rk
          FROM sims) z WHERE rk = 1)
      SELECT vec_id, cid, label FROM (
        SELECT v.vec_id, asg.cid, v.label,
               row_number() OVER (PARTITION BY asg.cid
                 ORDER BY v.label DESC, v.vec_id ASC) AS rk
        FROM v JOIN asg USING (vec_id)) z
      WHERE rk <= 20"""))

  /** Transitive duplicate clusters: connected components over the MinHash
    * near-dup pairs (min-label propagation — Dedup.duplicateClusters); the
    * DuckDB oracle computes the same components with a recursive CTE, so
    * the hash match proves the iterative distributed algorithm reaches the
    * exact closure. */
  val tDedupClusters: Q = Q(
    "t_dedup_clusters",
    run = (s, dir) =>
      Dedup.duplicateClusters(Dedup.minhashLshPairs(Tables.documents(s, dir))),
    oracle = Some(clustersClosureSql))

  /** Incremental-fold twin of t_dedup_clusters: cluster half the corpus
    * (even doc_ids), then fold in the remaining pairs with
    * Dedup.mergeClusters — stored star edges ∪ new pairs. The SAME
    * closure oracle must match, proving a fold over compacted state
    * (one row per clustered doc) reaches the identical components as
    * clustering all pairs at once — including pairs that BRIDGE two
    * phase-1 clusters through an odd doc. This is the batch-checkable
    * core of winnowClusterSink's per-micro-batch maintenance (pair
    * splitting is corpus-independent here: banding is per-doc and no
    * bucket nears the hot cap at these SFs, so phase-1 pairs equal the
    * even-even subset of the full pair table). */
  val tDedupClustersIncremental: Q = Q(
    "t_dedup_clusters_incremental",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashLshPairs(docs).persist()
      val evenOnly = pairs.filter(col("doc_a") % 2 === 0 && col("doc_b") % 2 === 0)
      val rest = pairs.filter(col("doc_a") % 2 =!= 0 || col("doc_b") % 2 =!= 0)
      val merged = Dedup.mergeClusters(Dedup.duplicateClusters(evenOnly), rest)
        .localCheckpoint(true) // terminal action ran inside; safe to drop the pair cache
      pairs.unpersist(blocking = false)
      merged
    },
    oracle = Some(clustersClosureSql))

  private lazy val clustersClosureSql: String = clustersClosureCtes + """
      SELECT doc_id, MIN(root) AS cluster FROM reach GROUP BY doc_id"""

  /** The CTE chain of [[clustersClosureSql]] up through `reach`, so
    * entries composing ON TOP of the duplicate clusters (leakage-safe
    * split) share the one recursive-closure definition. */
  private lazy val clustersClosureCtes: String = s"""
      WITH RECURSIVE toks AS (
        SELECT doc_id, $TOKS AS toks FROM documents),
      sh AS (
        SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS shingles
        FROM toks WHERE len(toks) >= 3),
      vh AS (
        SELECT doc_id, shingles,
          [CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) for g in shingles] AS v
        FROM sh),
      sigs AS (
        SELECT doc_id,
          [list_min([((2*s+1)*x + 7919*s + 1) % 4294967291 for x in v]) for s in range(0, 8)] AS sig
        FROM vh),
      bands AS (
        SELECT doc_id, b, CAST(sig[2*b+1] AS VARCHAR) || '|' || CAST(sig[2*b+2] AS VARCHAR) AS band_key
        FROM sigs, range(0, 4) AS r(b)),
      capped AS (
        SELECT doc_id, b, band_key FROM (
          SELECT *, COUNT(*) OVER (PARTITION BY b, band_key) AS bs FROM bands) t
        WHERE bs <= 1000),
      cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM capped x JOIN capped y
          ON x.band_key = y.band_key AND x.b = y.b AND x.doc_id < y.doc_id),
      pairs AS (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        JOIN vh sa ON sa.doc_id = c.doc_a
        JOIN vh sb ON sb.doc_id = c.doc_b
        WHERE len(list_intersect(sa.v, sb.v))::DOUBLE
            / len(list_distinct(sa.v || sb.v)) >= 0.8),
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
      reach(doc_id, root) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.doc_id)"""

  /** Dedup observability: the cluster-size histogram of the minhash
    * near-dup clusters (how many clusters of each size, holding how many
    * docs) — the heavy-tail alarm read before trusting a dedup pass. */
  val tDedupClusterSizes: Q = Q(
    "t_dedup_cluster_sizes",
    run = (s, dir) => Dedup.clusterSizeProfile(
      Dedup.duplicateClusters(Dedup.minhashLshPairs(Tables.documents(s, dir)))),
    oracle = Some(clustersClosureCtes + """,
      cl AS (SELECT doc_id, MIN(root) AS cluster FROM reach GROUP BY doc_id),
      sz AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS sz FROM cl GROUP BY 1)
      SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
             CAST(SUM(sz) AS BIGINT) AS n_docs
      FROM sz GROUP BY 1"""))

  /** Scale path for t_dedup_embedding: banded hyperplane-LSH candidates +
    * exact re-score. Same oracle as the exact O(N²) form — the hash match
    * proves the bucketed generator is pair-identical on this corpus (the
    * analytic all-bands-miss probability at these params is ~2e-6/pair). */
  val tDedupEmbeddingBucketed: Q = Q(
    "t_dedup_embedding_bucketed",
    run = (s, dir) =>
      Similarity.cosineNearDupPairsBucketed(Tables.embeddings(s, dir), 0.45, dim = 64),
    oracle = Some("""
      WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
      p AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
          list_sum([a.e[i+1]*b.e[i+1] for i in range(0, 64)]) /
            (sqrt(list_sum([a.e[i+1]*a.e[i+1] for i in range(0, 64)]))
             * sqrt(list_sum([b.e[i+1]*b.e[i+1] for i in range(0, 64)]))) AS sim
        FROM v a JOIN v b ON a.vec_id < b.vec_id)
      SELECT vec_a, vec_b, round(sim, 6) AS sim FROM p WHERE sim >= 0.45"""))

  /** Sharp-banded variant of the bucketed scale path: rowsPerBand=4,
    * nBands=16 — 64 sketch bits, the full long — at threshold 0.46. SCALE.md
    * claims the banding sharpens as the threshold rises; this entry proves
    * the sharp operating point pair-identical to the exact O(N²) oracle on
    * REAL pairs at every SF. 0.46 (not 0.8) because the synthetic corpus'
    * max pair similarity is 0.479/0.513/0.601 at sf0.001/0.01/0.1 — a
    * higher entry would match vacuously on zero rows at the smaller SFs
    * (threshold 0.46 yields 4/7/89 true pairs respectively). The
    * md5-derived planes are FIXED, so pair identity per corpus is
    * deterministic and measured (0 missed, 0 spurious at all three SFs);
    * the analytic random-plane all-bands-miss at the 0.46 boundary is
    * ~4% per pair bare (2/89 pairs dropped at sf0.1, measured), which is
    * why the sharp point runs with Hamming-1 band probing (miss ~1e-6). */
  val tDedupEmbeddingBucketedHi: Q = Q(
    "t_dedup_embedding_bucketed_hi",
    run = (s, dir) =>
      Similarity.cosineNearDupPairsBucketed(Tables.embeddings(s, dir), 0.46,
        dim = 64, rowsPerBand = 4, nBands = 16, probeHamming1 = true),
    oracle = Some("""
      WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
      p AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
          list_sum([a.e[i+1]*b.e[i+1] for i in range(0, 64)]) /
            (sqrt(list_sum([a.e[i+1]*a.e[i+1] for i in range(0, 64)]))
             * sqrt(list_sum([b.e[i+1]*b.e[i+1] for i in range(0, 64)]))) AS sim
        FROM v a JOIN v b ON a.vec_id < b.vec_id)
      SELECT vec_a, vec_b, round(sim, 6) AS sim FROM p WHERE sim >= 0.46"""))

  /** Semantic decontamination: benchmark = every 19th embedding; corpus =
    * the rest plus planted verbatim copies of every 3rd benchmark vector
    * (+100000 ids — cosine 1, guaranteed hits). The banded operator runs at
    * the measured sharp operating point (0.46, r=4, b=16, Hamming-1
    * probing); the oracle is the EXACT bipartite all-pairs check, so the
    * hash match proves the banding invisible on real data — the
    * t_dedup_embedding_bucketed precedent, bipartite. */
  val tDecontaminateSemantic: Q = Q(
    "t_decontaminate_semantic",
    run = (s, dir) => {
      val em = Tables.embeddings(s, dir)
      val bench = em.filter(col("vec_id") % 19 === 0)
      val corpus = em.filter(col("vec_id") % 19 =!= 0)
        .unionByName(bench.filter(col("vec_id") % 3 === 0)
          .withColumn("vec_id", col("vec_id") + 100000L))
      Similarity.decontaminateEmbeddings(corpus, bench, 0.46, dim = 64)
    },
    oracle = Some("""
      WITH bench AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
                     FROM embeddings WHERE vec_id % 19 = 0),
      corp AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
               FROM embeddings WHERE vec_id % 19 <> 0
               UNION ALL
               SELECT vec_id + 100000, e FROM bench WHERE vec_id % 3 = 0),
      hits AS (SELECT DISTINCT c.vec_id
               FROM corp c JOIN bench b ON
                 list_sum([c.e[i+1]*b.e[i+1] for i in range(0, 64)]) /
                   (sqrt(list_sum([c.e[i+1]*c.e[i+1] for i in range(0, 64)]))
                    * sqrt(list_sum([b.e[i+1]*b.e[i+1] for i in range(0, 64)]))) >= 0.46)
      SELECT c.vec_id, (c.vec_id IN (SELECT vec_id FROM hits)) AS contaminated
      FROM corp c"""))

  /** Winnowing fingerprints (MOSS, SIGMOD'03): per-doc distinct window-min
    * rolling-hash set, k=3-token shingles, window w=4. Arrays compare via
    * md5 over the CSV rendering (longs stringify identically across
    * engines; doubles would not — t_quantize_embeddings pattern). */
  val tWinnowFingerprint: Q = Q(
    "t_winnow_fingerprint",
    run = (s, dir) => {
      val t = Dedup.winnowTable(Tables.documents(s, dir))
      t.select(col("doc_id"),
        size(col("fps")).cast("long").as("n_fps"),
        md5(concat_ws(",", transform(col("fps"), _.cast("string")))).as("fps_md5"))
    },
    oracle = Some(s"""
      WITH toks AS (SELECT doc_id, $TOKS AS toks FROM documents),
      sh AS (SELECT doc_id, [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)] AS sh
             FROM toks WHERE len(toks) >= 6),
      h AS (SELECT doc_id, [CAST(('0x'||substr(md5(g),1,8)) AS BIGINT) for g in sh] AS h FROM sh),
      wins AS (SELECT doc_id,
                 list_sort(list_distinct([list_min(h[i:i+3]) for i in range(1, len(h)-2)])) AS fps
               FROM h)
      SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
             md5(array_to_string(fps, ',')) AS fps_md5
      FROM wins"""))

  /** Near-dup candidates from shared winnowing fingerprints: fingerprint
    * equi-join (shuffle key = fingerprint, Σ bucket² pair space), >= 2
    * shared fps to survive. */
  val tWinnowPairs: Q = Q(
    "t_winnow_pairs",
    run = (s, dir) => Dedup.winnowPairs(Tables.documents(s, dir)),
    oracle = Some(s"""
      WITH toks AS (SELECT doc_id, $TOKS AS toks FROM documents),
      sh AS (SELECT doc_id, [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)] AS sh
             FROM toks WHERE len(toks) >= 6),
      h AS (SELECT doc_id, [CAST(('0x'||substr(md5(g),1,8)) AS BIGINT) for g in sh] AS h FROM sh),
      wins AS (SELECT doc_id,
                 list_sort(list_distinct([list_min(h[i:i+3]) for i in range(1, len(h)-2)])) AS fps
               FROM h),
      ex AS (SELECT doc_id, unnest(fps) AS fp FROM wins),
      capped AS (SELECT doc_id, fp FROM (
          SELECT *, COUNT(*) OVER (PARTITION BY fp) AS bs FROM ex) t
        WHERE bs <= 1000)
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM capped x JOIN capped y ON x.fp = y.fp AND x.doc_id < y.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2"""))

  /** zh evidence in DuckDB — the mirror of TextAnalysis.zhHits: one
    * codegen-friendly CASE per pinned bigram, summed. Generated from the
    * SAME zhLexicon so the two engines can never drift. */
  private lazy val ZH_HITS: String = TextAnalysis.zhLexicon
    .map(b => s"(CASE WHEN contains(coalesce(text, ''), '$b') THEN 1 ELSE 0 END)")
    .mkString("(", " + ", ")")

  /** CTE body (no WITH keyword) producing `ls_p` = (doc_id, lang, hde,
    * hen, hes, hfr, hzh, pred_lang) — the stopword-lexicon language ID
    * with the CJK-bigram zh arm, shared by t_lang_id and the eval entries
    * composed on top of it. `src` lets the cjk entries run the same model
    * over a seeded relation. */
  private def langStopBody(src: String = "documents"): String = s"""
      ls_t AS (SELECT doc_id, lang, source, $ZH_HITS AS hzh,
               list_distinct($TOKS) AS toks FROM $src),
      ls_h AS (SELECT doc_id, lang, source, hzh,
              len(list_intersect(toks, ['der','die','das','und','ist','nicht'])) AS hde,
              len(list_intersect(toks, ['the','a','of','and','to','is'])) AS hen,
              len(list_intersect(toks, ['el','la','de','que','y','los'])) AS hes,
              len(list_intersect(toks, ['le','la','les','et','de','un'])) AS hfr
            FROM ls_t),
      ls_p AS (SELECT doc_id, lang, source, hde, hen, hes, hfr, hzh,
             CASE WHEN greatest(hde, hen, hes, hfr, hzh) = 0 THEN 'und'
                  WHEN hde = greatest(hde, hen, hes, hfr, hzh) THEN 'de'
                  WHEN hen = greatest(hde, hen, hes, hfr, hzh) THEN 'en'
                  WHEN hes = greatest(hde, hen, hes, hfr, hzh) THEN 'es'
                  WHEN hfr = greatest(hde, hen, hes, hfr, hzh) THEN 'fr'
                  ELSE 'zh' END AS pred_lang
      FROM ls_h)"""

  /** Stopword-lexicon language ID (+ the CJK-bigram zh arm). */
  val tLangId: Q = Q(
    "t_lang_id",
    run = (s, dir) => TextAnalysis.langId(Tables.documents(s, dir)),
    oracle = Some(s"""
      WITH ${langStopBody()}
      SELECT doc_id,
             CAST(hde AS BIGINT) AS hits_de, CAST(hen AS BIGINT) AS hits_en,
             CAST(hes AS BIGINT) AS hits_es, CAST(hfr AS BIGINT) AS hits_fr,
             CAST(hzh AS BIGINT) AS hits_zh,
             pred_lang
      FROM ls_p"""))

  /** Embedding post-processing: L2 norm, max-abs scale, and symmetric int8
    * quantization (what a training pipeline ships). The quantized vector is
    * compared by md5 over its int CSV (doubles never stringify in the
    * compare; int rendering is engine-identical). */
  val tQuantizeEmbeddings: Q = Q(
    "t_quantize_embeddings",
    run = (s, dir) => {
      import graft.functions.VectorFunctions._
      val bound = Tables.embeddings(s, dir)
        .select(col("vec_id"), toDouble(col("embedding")).as("e"))
        .withColumn("nrm", l2Norm(col("e")))
        .withColumn("scale", maxAbs(col("e")))
      bound.withColumn("q", quantizeInt8With(col("e"), col("scale")))
        .select(col("vec_id"), col("nrm"), col("scale"),
          md5(concat_ws(",", transform(col("q"), _.cast("string")))).as("q_md5"))
    },
    oracle = Some("""
      WITH v AS (
        SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
      b AS (
        SELECT vec_id, e,
               sqrt(list_sum([x*x for x in e])) AS nrm,
               list_max([abs(x) for x in e]) AS scale
        FROM v),
      q AS (
        SELECT vec_id, nrm, scale,
               [CAST(least(greatest(floor(x*127/scale + 0.5), -127), 127) AS INT) for x in e] AS qv
        FROM b)
      SELECT vec_id, nrm, scale, md5(array_to_string(qv, ',')) AS q_md5 FROM q"""))

  /** CTE body producing `lt_p` = (doc_id, hde..hfr, pred_lang) — the
    * char-trigram language ID, shared by t_lang_id_ngram and
    * t_eval_agreement. */
  private def langTrigramBody(src: String = "documents"): String = {
    val profiles = TextAnalysis.trigramProfiles.map { case (lang, tris) =>
      lang -> tris.map(t => s"'$t'").mkString("[", ",", "]")
    }.toMap
    s"""
      lt_s AS (
        SELECT doc_id, $ZH_HITS AS hzh,
               ' ' || trim(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g')) || ' ' AS s
        FROM $src),
      lt_t AS (
        SELECT doc_id, hzh,
               CASE WHEN length(s) < 3 THEN []::VARCHAR[]
                    ELSE list_distinct([substring(s, i, 3) for i in range(1, CAST(length(s) AS BIGINT) - 1)])
               END AS tris
        FROM lt_s),
      lt_h AS (
        SELECT doc_id, hzh,
               len(list_intersect(tris, ${profiles("de")})) AS hde,
               len(list_intersect(tris, ${profiles("en")})) AS hen,
               len(list_intersect(tris, ${profiles("es")})) AS hes,
               len(list_intersect(tris, ${profiles("fr")})) AS hfr
        FROM lt_t),
      lt_p AS (
        SELECT doc_id, hde, hen, hes, hfr, hzh,
             CASE WHEN greatest(hde, hen, hes, hfr, hzh) = 0 THEN 'und'
                  WHEN hde = greatest(hde, hen, hes, hfr, hzh) THEN 'de'
                  WHEN hen = greatest(hde, hen, hes, hfr, hzh) THEN 'en'
                  WHEN hes = greatest(hde, hen, hes, hfr, hzh) THEN 'es'
                  WHEN hfr = greatest(hde, hen, hes, hfr, hzh) THEN 'fr'
                  ELSE 'zh' END AS pred_lang
        FROM lt_h)"""
  }

  /** Char-trigram language ID (the n-gram heuristic variant of t_lang_id;
    * the zh arm reuses the bigram-containment evidence — trigram profiles
    * are a latin-script device, see the operator scaladoc). */
  val tLangIdNgram: Q = Q(
    "t_lang_id_ngram",
    run = (s, dir) => TextAnalysis.langIdNgram(Tables.documents(s, dir)),
    oracle = Some(s"""
      WITH ${langTrigramBody()}
      SELECT doc_id,
             CAST(hde AS BIGINT) AS tri_de, CAST(hen AS BIGINT) AS tri_en,
             CAST(hes AS BIGINT) AS tri_es, CAST(hfr AS BIGINT) AS tri_fr,
             CAST(hzh AS BIGINT) AS tri_zh,
             pred_lang
      FROM lt_p"""))

  /** Pinned mixed-script fixture rows appended to `documents` for the
    * live-zh entries. The driver corpus contains ZERO CJK characters at
    * any SF (verified round 9: the zh GOLD label there is unrecoverable
    * from text by construction — zh-labeled rows carry the same latin
    * vocabulary as every other row), so the zh arm is certified live on
    * seeded rows over the real corpus instead: two pure-zh lexicon hits,
    * a latin/zh tie that must break alphabetically to 'en', a CJK doc
    * outside the lexicon that must stay 'und', and a latin-dominant
    * mixed-script doc. doc_ids sit far above any SF's id range. */
  private val cjkSeedRows: Seq[(Long, String, String, String)] = Seq(
    (9000000001L, "我们可以一起去，没有什么问题。", "zh", "cjk_seed"),
    (9000000002L, "他们说这是一个很好的办法。", "zh", "cjk_seed"),
    (9000000003L, "the quick fox jumps 我们", "en", "cjk_seed"),
    (9000000004L, "数据仓库流处理引擎", "zh", "cjk_seed"),
    (9000000005L, "el la de que y los 没有", "es", "cjk_seed"))

  private def cjkSeeded(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .unionByName(cjkSeedRows.toDF("doc_id", "text", "lang", "source"))
  }

  private lazy val cjkSeededCte: String = {
    val rows = cjkSeedRows
      .map { case (id, t, l, src) => s"(CAST($id AS BIGINT), '$t', '$l', '$src')" }
      .mkString(",\n                 ")
    s"""cjk_seeded AS (
        SELECT doc_id, text, lang, source FROM documents
        UNION ALL
        SELECT * FROM (VALUES $rows) v(doc_id, text, lang, source))"""
  }

  /** The live-zh certification: langId over the seeded frame — the same
    * model as t_lang_id, now with zh rows it actually predicts. */
  val tLangIdCjk: Q = Q(
    "t_lang_id_cjk",
    run = (s, dir) => TextAnalysis.langId(cjkSeeded(s, dir)),
    oracle = Some(s"""
      WITH $cjkSeededCte,
      ${langStopBody("cjk_seeded")}
      SELECT doc_id,
             CAST(hde AS BIGINT) AS hits_de, CAST(hen AS BIGINT) AS hits_en,
             CAST(hes AS BIGINT) AS hits_es, CAST(hfr AS BIGINT) AS hits_fr,
             CAST(hzh AS BIGINT) AS hits_zh,
             pred_lang
      FROM ls_p"""))

  /** Scorecard over the seeded frame: the zh row is LIVE here (n_pred
    * and tp > 0 from the seeded pure-zh docs) next to the honest misses
    * (the out-of-lexicon CJK doc lands in 'und'). */
  val tEvalLangidCjk: Q = Q(
    "t_eval_langid_cjk",
    run = (s, dir) => {
      val docs = cjkSeeded(s, dir)
      val pred = TextAnalysis.langId(docs).select(col("doc_id"), col("pred_lang"))
      Eval.classificationMetrics(
        pred.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")),
        col("pred_lang"), col("lang"))
    },
    oracle = Some(s"""
      WITH $cjkSeededCte,
      ${langStopBody("cjk_seeded")},
      j AS (SELECT pred_lang AS p, lang AS g FROM ls_p),
      pc AS (SELECT p AS label, CAST(COUNT(*) AS BIGINT) AS n_pred FROM j GROUP BY 1),
      gc AS (SELECT g AS label, CAST(COUNT(*) AS BIGINT) AS n_gold FROM j GROUP BY 1),
      tpc AS (SELECT p AS label, CAST(COUNT(*) AS BIGINT) AS tp FROM j
              WHERE p IS NOT DISTINCT FROM g GROUP BY 1),
      m AS (SELECT coalesce(pc.label, gc.label) AS label,
              coalesce(gc.n_gold, 0) AS n_gold,
              coalesce(pc.n_pred, 0) AS n_pred
            FROM pc FULL JOIN gc ON pc.label IS NOT DISTINCT FROM gc.label),
      r AS (SELECT m.label, m.n_gold, m.n_pred, coalesce(tpc.tp, 0) AS tp,
              CASE WHEN m.n_pred > 0 THEN (1000000 * coalesce(tpc.tp, 0)) // m.n_pred
                   ELSE 0 END AS precision_ppm,
              CASE WHEN m.n_gold > 0 THEN (1000000 * coalesce(tpc.tp, 0)) // m.n_gold
                   ELSE 0 END AS recall_ppm
            FROM m LEFT JOIN tpc ON m.label IS NOT DISTINCT FROM tpc.label)
      SELECT label, n_gold, n_pred, CAST(tp AS BIGINT) AS tp,
             CAST(precision_ppm AS BIGINT) AS precision_ppm,
             CAST(recall_ppm AS BIGINT) AS recall_ppm,
             CAST(CASE WHEN precision_ppm + recall_ppm > 0
                  THEN (2 * precision_ppm * recall_ppm) // (precision_ppm + recall_ppm)
                  ELSE 0 END AS BIGINT) AS f1_ppm
      FROM r"""))

  /** Scored frame for the calibration entries: per doc, the en-stopword
    * OCCURRENCE rate in ppm as a "P(lang=en)" score, gold = (lang='en').
    * Integer-exact both sides: score = (10^6·n_en_stop_tokens) div n_tok. */
  private def enStopScored(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val en = TextAnalysis.lexicons.toMap.apply("en")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        graft.functions.TextFunctions.tokensFused(col("text")).as("toks"))
      // NULL lang rows carry no outcome — dropped HERE so the oracle can
      // mirror with lang IS NOT NULL (the operator would drop them via
      // its own NULL-outcome filter, but DuckDB's CASE WHEN p would have
      // counted them as negatives — the NULL-divergence class)
      .filter(size(col("toks")) > 0 && col("lang").isNotNull)
      // fused count_in_set (plan-time hashed word set): the former
      // filter() lambda evaluated interpreted per token (array_except
      // can't replace it either way: it DEDUPES, breaking the
      // occurrence count)
      .select(col("doc_id"), (col("lang") === "en").as("p"),
        graft.functions.TextFunctions.countInSet(col("toks"), en)
          .cast("long").as("n_stop"),
        size(col("toks")).cast("long").as("n_tok"))
      .select(col("doc_id"), col("p"),
        expr("(1000000 * n_stop) div n_tok").as("score_ppm"))
  }

  private lazy val enStopScoredCte: String = {
    val en = TextAnalysis.lexicons.toMap.apply("en")
      .map(w => s"'$w'").mkString("[", ",", "]")
    s"""
      st AS (SELECT doc_id, lang, $TOKS AS toks FROM documents),
      sc AS (SELECT doc_id, (lang = 'en') AS p,
               (1000000 * len(list_filter(toks, x -> list_contains($en, x))))
                 // len(toks) AS score_ppm
             FROM st WHERE len(toks) > 0 AND lang IS NOT NULL)"""
  }

  /** Reliability diagram of the en-stopword-rate scorer against the gold
    * language: 10 equal-width score bins, per bin the exact mean score /
    * observed positive rate / gap in ppm ([[graft.operators.Eval.calibration]]).
    * The scorer is deliberately MIScalibrated (a rate, not a fitted
    * probability) so the gaps are non-trivial at every SF. */
  val tEvalCalibration: Q = Q(
    "t_eval_calibration",
    run = (s, dir) =>
      Eval.calibration(enStopScored(s, dir), col("score_ppm"), col("p")),
    oracle = Some(s"""
      WITH $enStopScoredCte,
      b AS (SELECT least(9, greatest(0, (score_ppm * 10) // 1000000)) AS bucket,
                   score_ppm, p FROM sc)
      SELECT CAST(bucket AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS mean_score_ppm,
             CAST((1000000 * SUM(CASE WHEN p THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
               AS pos_rate_ppm,
             CAST(abs(SUM(score_ppm) // COUNT(*)
               - (1000000 * SUM(CASE WHEN p THEN 1 ELSE 0 END)) // COUNT(*)) AS BIGINT)
               AS gap_ppm
      FROM b GROUP BY bucket"""))

  /** The one-row expected calibration error over the same bins:
    * ECE_ppm = (Σ n_b·gap_b) div N — the number a "use scores as keep
    * probabilities" gate thresholds on. */
  val tEvalEce: Q = Q(
    "t_eval_ece",
    run = (s, dir) =>
      Eval.calibrationError(enStopScored(s, dir), col("score_ppm"), col("p")),
    oracle = Some(s"""
      WITH $enStopScoredCte,
      b AS (SELECT least(9, greatest(0, (score_ppm * 10) // 1000000)) AS bucket,
                   score_ppm, p FROM sc),
      g AS (SELECT COUNT(*) AS n,
              abs(SUM(score_ppm) // COUNT(*)
                - (1000000 * SUM(CASE WHEN p THEN 1 ELSE 0 END)) // COUNT(*)) AS gap
            FROM b GROUP BY bucket)
      SELECT CAST(coalesce(SUM(n), 0) AS BIGINT) AS n,
             CAST(CASE WHEN coalesce(SUM(n), 0) > 0
                  THEN SUM(n * gap) // SUM(n) ELSE 0 END AS BIGINT) AS ece_ppm
      FROM g"""))

  /** Per-class scorecard of the stopword language ID against the gold
    * `lang` column: precision/recall/F1 in exact ppm via
    * [[graft.operators.Eval.classificationMetrics]]. Gold has a class
    * the model never predicts HERE (zh — the model is zh-capable since
    * round 9, but this corpus carries zero CJK characters, so n_pred=0
    * is the correct output; t_eval_langid_cjk is the live-zh twin) and
    * the model emits one gold never has (und) — both must appear as
    * zero-scored rows, not vanish. */
  val tEvalLangid: Q = Q(
    "t_eval_langid",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pred = TextAnalysis.langId(docs).select(col("doc_id"), col("pred_lang"))
      Eval.classificationMetrics(
        pred.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")),
        col("pred_lang"), col("lang"))
    },
    oracle = Some(s"""
      WITH ${langStopBody()},
      j AS (SELECT pred_lang AS p, lang AS g FROM ls_p),
      pc AS (SELECT p AS label, CAST(COUNT(*) AS BIGINT) AS n_pred FROM j GROUP BY 1),
      gc AS (SELECT g AS label, CAST(COUNT(*) AS BIGINT) AS n_gold FROM j GROUP BY 1),
      tpc AS (SELECT p AS label, CAST(COUNT(*) AS BIGINT) AS tp FROM j
              WHERE p IS NOT DISTINCT FROM g GROUP BY 1),
      m AS (SELECT coalesce(pc.label, gc.label) AS label,
              coalesce(gc.n_gold, 0) AS n_gold,
              coalesce(pc.n_pred, 0) AS n_pred
            FROM pc FULL JOIN gc ON pc.label IS NOT DISTINCT FROM gc.label),
      r AS (SELECT m.label, m.n_gold, m.n_pred, coalesce(tpc.tp, 0) AS tp,
              CASE WHEN m.n_pred > 0 THEN (1000000 * coalesce(tpc.tp, 0)) // m.n_pred
                   ELSE 0 END AS precision_ppm,
              CASE WHEN m.n_gold > 0 THEN (1000000 * coalesce(tpc.tp, 0)) // m.n_gold
                   ELSE 0 END AS recall_ppm
            FROM m LEFT JOIN tpc ON m.label IS NOT DISTINCT FROM tpc.label)
      SELECT label, n_gold, n_pred, CAST(tp AS BIGINT) AS tp,
             CAST(precision_ppm AS BIGINT) AS precision_ppm,
             CAST(recall_ppm AS BIGINT) AS recall_ppm,
             CAST(CASE WHEN precision_ppm + recall_ppm > 0
                  THEN (2 * precision_ppm * recall_ppm) // (precision_ppm + recall_ppm)
                  ELSE 0 END AS BIGINT) AS f1_ppm
      FROM r"""))

  /** The ngram variant's live-zh certification (same seeded frame):
    * CJK-stripped trigram evidence stays zero on pure-zh docs, so the
    * bigram-containment arm is the ONLY live zh signal here. */
  val tLangIdNgramCjk: Q = Q(
    "t_lang_id_ngram_cjk",
    run = (s, dir) => TextAnalysis.langIdNgram(cjkSeeded(s, dir)),
    oracle = Some(s"""
      WITH $cjkSeededCte,
      ${langTrigramBody("cjk_seeded")}
      SELECT doc_id,
             CAST(hde AS BIGINT) AS tri_de, CAST(hen AS BIGINT) AS tri_en,
             CAST(hes AS BIGINT) AS tri_es, CAST(hfr AS BIGINT) AS tri_fr,
             CAST(hzh AS BIGINT) AS tri_zh,
             pred_lang
      FROM lt_p"""))

  /** Kappa between the two labelers over the seeded mixed-script frame —
    * the agreement surface with a LIVE zh class on both sides (the two
    * variants share the containment evidence but weigh it against
    * different latin evidence, so zh/latin outcomes can differ). */
  val tEvalAgreementCjk: Q = Q(
    "t_eval_agreement_cjk",
    run = (s, dir) => {
      val docs = cjkSeeded(s, dir)
      val a = TextAnalysis.langId(docs).select(col("doc_id"), col("pred_lang").as("a"))
      val b = TextAnalysis.langIdNgram(docs).select(col("doc_id"), col("pred_lang").as("b"))
      Eval.agreement(a.join(b, Seq("doc_id")), col("a"), col("b"))
    },
    oracle = Some(s"""
      WITH $cjkSeededCte,
      ${langStopBody("cjk_seeded")},
      ${langTrigramBody("cjk_seeded")},
      j AS (SELECT ls_p.pred_lang AS pa, lt_p.pred_lang AS pb
            FROM ls_p JOIN lt_p ON ls_p.doc_id = lt_p.doc_id),
      cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN pa = pb THEN 1 ELSE 0 END) AS BIGINT) AS agree
             FROM j),
      ma AS (SELECT pa AS l, CAST(COUNT(*) AS BIGINT) AS c FROM j GROUP BY 1),
      mb AS (SELECT pb AS l, CAST(COUNT(*) AS BIGINT) AS c FROM j GROUP BY 1),
      spv AS (SELECT coalesce(SUM(CAST(ma.c AS HUGEINT) * mb.c), 0) AS sp
              FROM ma JOIN mb ON ma.l = mb.l),
      pp AS (SELECT n, agree,
               (1000000 * agree) // n AS po_ppm,
               CAST((1000000 * sp) // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_ppm
             FROM cnt, spv)
      SELECT n, agree, po_ppm, pe_ppm,
             CASE WHEN pe_ppm = 1000000 THEN 0
                  ELSE (CASE WHEN po_ppm > pe_ppm THEN 1
                             WHEN po_ppm < pe_ppm THEN -1 ELSE 0 END)
                       * ((1000000 * abs(po_ppm - pe_ppm)) // (1000000 - pe_ppm))
             END AS kappa_ppm
      FROM pp"""))

  /** Cohen's kappa between the two language-ID heuristics (stopword vs
    * char-trigram) — the two-labelers-agreement frame, chance-corrected
    * against their marginals. pe runs in HUGEINT/DECIMAL(38,0) on the
    * two engines; the kappa division truncates toward zero on both by
    * the |x|·sign split (see operator scaladoc). */
  val tEvalAgreement: Q = Q(
    "t_eval_agreement",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir)
      val a = TextAnalysis.langId(docs).select(col("doc_id"), col("pred_lang").as("a"))
      val b = TextAnalysis.langIdNgram(docs).select(col("doc_id"), col("pred_lang").as("b"))
      Eval.agreement(a.join(b, Seq("doc_id")), col("a"), col("b"))
    },
    oracle = Some(s"""
      WITH ${langStopBody()},
      ${langTrigramBody()},
      j AS (SELECT ls_p.pred_lang AS pa, lt_p.pred_lang AS pb
            FROM ls_p JOIN lt_p ON ls_p.doc_id = lt_p.doc_id),
      cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN pa = pb THEN 1 ELSE 0 END) AS BIGINT) AS agree
             FROM j),
      ma AS (SELECT pa AS l, CAST(COUNT(*) AS BIGINT) AS c FROM j GROUP BY 1),
      mb AS (SELECT pb AS l, CAST(COUNT(*) AS BIGINT) AS c FROM j GROUP BY 1),
      spv AS (SELECT coalesce(SUM(CAST(ma.c AS HUGEINT) * mb.c), 0) AS sp
              FROM ma JOIN mb ON ma.l = mb.l),
      pp AS (SELECT n, agree,
               (1000000 * agree) // n AS po_ppm,
               CAST((1000000 * sp) // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_ppm
             FROM cnt, spv)
      SELECT n, agree, po_ppm, pe_ppm,
             CASE WHEN pe_ppm = 1000000 THEN 0
                  ELSE (CASE WHEN po_ppm > pe_ppm THEN 1
                             WHEN po_ppm < pe_ppm THEN -1 ELSE 0 END)
                       * ((1000000 * abs(po_ppm - pe_ppm)) // (1000000 - pe_ppm))
             END AS kappa_ppm
      FROM pp"""))

  /** Per-SOURCE sliced scorecard of the stopword language ID: the same
    * metrics as t_eval_langid but computed within each source — the
    * slice-level eval that catches a labeler collapsing on one source
    * while the aggregate improves. */
  val tEvalLangidSliced: Q = Q(
    "t_eval_langid_sliced",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pred = TextAnalysis.langId(docs).select(col("doc_id"), col("pred_lang"))
      Eval.classificationMetricsBy(
        pred.join(docs.select(col("doc_id"), col("lang"), col("source")), Seq("doc_id")),
        col("pred_lang"), col("lang"), col("source"))
    },
    oracle = Some(s"""
      WITH ${langStopBody()},
      j AS (SELECT source AS slice, pred_lang AS p, lang AS g FROM ls_p),
      pc AS (SELECT slice, p AS label, CAST(COUNT(*) AS BIGINT) AS n_pred
             FROM j GROUP BY 1, 2),
      gc AS (SELECT slice, g AS label, CAST(COUNT(*) AS BIGINT) AS n_gold
             FROM j GROUP BY 1, 2),
      tpc AS (SELECT slice, p AS label, CAST(COUNT(*) AS BIGINT) AS tp
              FROM j WHERE p IS NOT DISTINCT FROM g GROUP BY 1, 2),
      m AS (SELECT coalesce(pc.slice, gc.slice) AS slice,
              coalesce(pc.label, gc.label) AS label,
              coalesce(gc.n_gold, 0) AS n_gold,
              coalesce(pc.n_pred, 0) AS n_pred
            FROM pc FULL JOIN gc ON pc.slice IS NOT DISTINCT FROM gc.slice
              AND pc.label IS NOT DISTINCT FROM gc.label),
      r AS (SELECT m.slice, m.label, m.n_gold, m.n_pred, coalesce(tpc.tp, 0) AS tp,
              CASE WHEN m.n_pred > 0 THEN (1000000 * coalesce(tpc.tp, 0)) // m.n_pred
                   ELSE 0 END AS precision_ppm,
              CASE WHEN m.n_gold > 0 THEN (1000000 * coalesce(tpc.tp, 0)) // m.n_gold
                   ELSE 0 END AS recall_ppm
            FROM m LEFT JOIN tpc ON m.slice IS NOT DISTINCT FROM tpc.slice
              AND m.label IS NOT DISTINCT FROM tpc.label)
      SELECT slice, label, n_gold, n_pred, CAST(tp AS BIGINT) AS tp,
             CAST(precision_ppm AS BIGINT) AS precision_ppm,
             CAST(recall_ppm AS BIGINT) AS recall_ppm,
             CAST(CASE WHEN precision_ppm + recall_ppm > 0
                  THEN (2 * precision_ppm * recall_ppm) // (precision_ppm + recall_ppm)
                  ELSE 0 END AS BIGINT) AS f1_ppm
      FROM r"""))

  /** The raw confusion matrix behind t_eval_langid — the drill-down a
    * scorecard regression points into (which gold class is being
    * mistaken for what). */
  val tEvalConfusion: Q = Q(
    "t_eval_confusion",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pred = TextAnalysis.langId(docs).select(col("doc_id"), col("pred_lang"))
      Eval.confusionMatrix(
        pred.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")),
        col("pred_lang"), col("lang"))
    },
    oracle = Some(s"""
      WITH ${langStopBody()}
      SELECT pred_lang AS pred, lang AS gold, CAST(COUNT(*) AS BIGINT) AS n
      FROM ls_p GROUP BY 1, 2"""))

  /** Quality scoring: TTR, stopword rate, length saturation. */
  val tQualityScore: Q = Q(
    "t_quality_score",
    run = (s, dir) => TextAnalysis.qualityScore(Tables.documents(s, dir)),
    oracle = {
      val stop = TextAnalysis.lexicons.flatMap(_._2).distinct.sorted
        .map(w => s"'$w'").mkString("[", ",", "]")
      Some(s"""
      WITH t AS (SELECT doc_id, length(text) AS n_chars, $TOKS AS toks FROM documents)
      SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             len(list_distinct(toks))::DOUBLE / len(toks) AS ttr,
             len(list_filter(toks, x -> list_contains($stop, x)))::DOUBLE / len(toks) AS stop_rate,
             0.4 * (len(list_distinct(toks))::DOUBLE / len(toks))
               + 0.3 * least(1.0, len(toks) / 100.0)
               + 0.3 * (1.0 - len(list_filter(toks, x -> list_contains($stop, x)))::DOUBLE / len(toks)) AS quality
      FROM t WHERE len(toks) > 0""")
    })

  /** Token statistics + BPE-ish subword estimate. */
  val tTokenStats: Q = Q(
    "t_token_stats",
    run = (s, dir) => TextAnalysis.tokenStats(Tables.documents(s, dir)),
    oracle = Some(s"""
      WITH t AS (SELECT doc_id, length(text) AS n_chars, $TOKS AS toks FROM documents)
      SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique,
             CAST(COALESCE(list_sum([CAST(ceil(length(g)/4.0) AS BIGINT) for g in toks]), 0) AS BIGINT) AS n_subwords
      FROM t"""),
    headline = true)

  /** Multimodal metadata extraction over a binary column (stubbed decode
    * with pinned md5-derived fake dims — see Multimodal scaladoc). The
    * oracle recomputes the stub arithmetic from the md5 hex. */
  val tMultimodalMeta: Q = Q(
    "t_multimodal_meta",
    run = (s, dir) =>
      Multimodal.extractMeta(s, Multimodal.asBinary(Tables.documents(s, dir))).toDF(),
    oracle = Some("""
      WITH h AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS m
                 FROM documents)
      SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes,
             CAST(1 + (16 * (strpos('0123456789abcdef', substr(m,1,1)) - 1)
                       + (strpos('0123456789abcdef', substr(m,2,1)) - 1)) % 64 AS INT) AS width,
             CAST(1 + (16 * (strpos('0123456789abcdef', substr(m,3,1)) - 1)
                       + (strpos('0123456789abcdef', substr(m,4,1)) - 1)) % 64 AS INT) AS height,
             'stub' AS format
      FROM h"""))

  /** Frame sampling over the binary column: 64-byte "frames" every 128
    * bytes (docs are 48–553 bytes, so up to 5 frames each) at fake 25fps.
    * Oracle slices the VARCHAR (documents are pure ASCII at every SF) and
    * md5s each frame. */
  val tFrameSample: Q = Q(
    "t_frame_sample",
    run = (s, dir) => {
      Multimodal.frameSample(s, Multimodal.asBinary(Tables.documents(s, dir)),
        frameSize = 64, stride = 128).toDF()
        .select(col("doc_id"), col("frame_idx"), col("pts_ms"),
          length(col("frame")).cast("long").as("n_bytes"),
          md5(col("frame")).as("frame_md5"))
    },
    oracle = Some("""
      WITH b AS (
        SELECT doc_id, coalesce(text, '') AS text,
               octet_length(encode(coalesce(text, ''))) AS len
        FROM documents),
      ix AS (
        SELECT doc_id, text, unnest(range(0, CAST(ceil(len / 128.0) AS BIGINT))) AS i
        FROM b),
      f AS (
        SELECT doc_id, CAST(i AS INT) AS frame_idx, i * 40 AS pts_ms,
               substring(text, CAST(i * 128 + 1 AS BIGINT), 64) AS fr
        FROM ix)
      SELECT doc_id, frame_idx, pts_ms,
             CAST(octet_length(encode(fr)) AS BIGINT) AS n_bytes,
             md5(fr) AS frame_md5
      FROM f"""))

  /** Stub resize: every-4th-byte thumbnail + scaled fake dims. */
  val tResize: Q = Q(
    "t_resize",
    run = (s, dir) => {
      Multimodal.resize(s, Multimodal.asBinary(Tables.documents(s, dir))).toDF()
        .select(col("doc_id"), col("width"), col("height"),
          length(col("thumb")).cast("long").as("n_bytes"),
          md5(col("thumb")).as("thumb_md5"))
    },
    oracle = Some("""
      WITH h AS (SELECT doc_id, coalesce(text, '') AS text, md5(coalesce(text, '')) AS m
                 FROM documents),
      t AS (
        SELECT doc_id,
          CAST(greatest(1, (1 + (16 * (strpos('0123456789abcdef', substr(m,1,1)) - 1)
                + (strpos('0123456789abcdef', substr(m,2,1)) - 1)) % 64) // 4) AS INT) AS width,
          CAST(greatest(1, (1 + (16 * (strpos('0123456789abcdef', substr(m,3,1)) - 1)
                + (strpos('0123456789abcdef', substr(m,4,1)) - 1)) % 64) // 4) AS INT) AS height,
          array_to_string([text[i+1] for i in range(0, CAST(length(text) AS BIGINT)) if i % 4 = 0], '') AS thumb
        FROM h)
      SELECT doc_id, width, height,
             CAST(octet_length(encode(thumb)) AS BIGINT) AS n_bytes,
             md5(thumb) AS thumb_md5
      FROM t"""))

  /** ANN scale-path self-check: IVF (deterministic k-means|| init, k=16,
    * nprobe=12) top-10 recall against exact brute force, SELF-VALIDATING:
    * `ok` = recall >= 0.85 and the oracle reproduces n_expected (the exact
    * brute-force top-10 count) + TRUE, so the hash match IS the recall
    * gate. The k-means pipeline itself is not SQL-expressible — the gated
    * bound is the contract.
    *
    * Recall here is limited ONLY by probe coverage: Ivf.topK already
    * exact-scores every vector in the probed lists (no quantized first
    * pass), so there is nothing lossy before the final rank to re-rank —
    * the lever is nprobe, not a rescore stage. Round-4 sweep
    * (iters × rounds × nprobe at sf0.01/sf0.1): nprobe=12 → 0.945/0.910
    * at unchanged wall time (probe scoring is not the bottleneck at these
    * corpus sizes); nprobe=10 hovered at 0.895/0.845, under an 0.85 gate.
    * IvfSpec holds the measured bound. */
  /** Product-quantization ANN (Jégou et al. TPAMI'11): train per-block
    * codebooks, compress every vector to 32 4-bit codes (16× smaller than
    * float32), ADC-score + exact re-rank, gate recall vs brute force —
    * the same self-validating shape as t_ann_ivf_recall. Config swept at
    * sf0.001/0.01/0.1: m=32, ksub=16, rerank=12 measures 0.99/0.995/0.935,
    * so the 0.85 bound carries ~0.085 margin at the weakest SF
    * (gate-margin invariant; rerank=8 measured 0.905 at sf0.1 — too thin
    * for 0.85, which is why the re-rank widened when the gate rose).
    * The synthetic embeddings are near-uniform noise — the hardest PQ
    * case; real clustered embeddings quantize better. */
  val tAnnPqRecall: Q = Q(
    "t_ann_pq_recall",
    run = (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 20)
      val cb = Pq.train(emb, dim = 64, m = 32, ksub = 16, iters = 2)
      val codes = Pq.encode(emb, cb, dim = 64, m = 32)
      val pq = Pq.topK(codes, cb, emb, q, dim = 64, k = 10, m = 32, rerank = 12)
        .select(col("qid"), col("vec_id")).withColumn("hit", lit(1))
      Similarity.bruteForceTopK(emb, q, 10)
        .select(col("qid"), col("vec_id"))
        .join(pq, Seq("qid", "vec_id"), "left")
        .agg(count(lit(1)).as("n_expected"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
        .select(col("n_expected"),
          (col("n_hit").cast("double") / col("n_expected") >= 0.85).as("ok"))
    },
    oracle = Some("""
      WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
      q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 20),
      sims AS (
        SELECT q.qid, v.vec_id,
          list_sum([qe[i+1]*e[i+1] for i in range(0, 64)]) /
            (sqrt(list_sum([qe[i+1]*qe[i+1] for i in range(0, 64)]))
             * sqrt(list_sum([e[i+1]*e[i+1] for i in range(0, 64)]))) AS sim
        FROM q, v WHERE q.qid <> v.vec_id),
      ranked AS (
        SELECT qid, row_number() OVER (PARTITION BY qid ORDER BY round(sim, 6) DESC, vec_id) AS rk
        FROM sims)
      SELECT COUNT(*) AS n_expected, TRUE AS ok FROM ranked WHERE rk <= 10"""))

  /** IVF-PQ composition (coarse probe prunes the corpus, ADC scores the
    * probed lists in compressed domain, exact re-rank finishes): recall
    * gated >= 0.85 vs brute force. Sweep at sf0.01/sf0.1: the coarse
    * probe is the recall ceiling (IVF-alone at nprobe=12 measures 0.910
    * at sf0.1, and ADC under it reached only 0.87 even at rerank=16), so
    * the gate raise moved BOTH levers — nprobe 12→14 lifts the ceiling
    * and rerank 16 recovers the quantization loss: measured 0.985/0.905,
    * ~0.055 margin at the weakest SF (gate-margin invariant). */
  val tAnnIvfPqRecall: Q = Q(
    "t_ann_ivfpq_recall",
    run = (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 20)
      val cents = Ivf.trainScalable(emb, 16, iters = 1, rounds = 2)
      val idx = Ivf.index(emb, cents)
      val cb = Pq.train(emb, dim = 64, m = 32, ksub = 16, iters = 2)
      val codes = Pq.encode(emb, cb, dim = 64, m = 32)
      val got = Pq.ivfPqTopK(idx, cents, codes, cb, emb, q,
        dim = 64, k = 10, nprobe = 14, m = 32, rerank = 16)
        .select(col("qid"), col("vec_id")).withColumn("hit", lit(1))
      Similarity.bruteForceTopK(emb, q, 10)
        .select(col("qid"), col("vec_id"))
        .join(got, Seq("qid", "vec_id"), "left")
        .agg(count(lit(1)).as("n_expected"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
        .select(col("n_expected"),
          (col("n_hit").cast("double") / col("n_expected") >= 0.85).as("ok"))
    },
    oracle = Some("""
      WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
      q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 20),
      sims AS (
        SELECT q.qid, v.vec_id,
          list_sum([qe[i+1]*e[i+1] for i in range(0, 64)]) /
            (sqrt(list_sum([qe[i+1]*qe[i+1] for i in range(0, 64)]))
             * sqrt(list_sum([e[i+1]*e[i+1] for i in range(0, 64)]))) AS sim
        FROM q, v WHERE q.qid <> v.vec_id),
      ranked AS (
        SELECT qid, row_number() OVER (PARTITION BY qid ORDER BY round(sim, 6) DESC, vec_id) AS rk
        FROM sims)
      SELECT COUNT(*) AS n_expected, TRUE AS ok FROM ranked WHERE rk <= 10"""))

  /** Residual IVF-PQ (Jégou et al. §III — codes quantize the CELL-CENTERED
    * residual, the probe's exact q·ĉ term is added back at serve time):
    * same index bytes as t_ann_ivfpq_recall, lower quantization error.
    * Same gate and geometry as the raw-code entry, so the two rows read
    * side-by-side; the residual-beats-raw ordering claim itself is pinned
    * at rerank=1 in PqSpec (recall here is rerank-washed). */
  val tAnnIvfPqResidualRecall: Q = Q(
    "t_ann_ivfpq_residual_recall",
    run = (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 20)
      val cents = Ivf.trainScalable(emb, 16, iters = 1, rounds = 2)
      val idx = Ivf.index(emb, cents)
      val cb = Pq.trainResidual(idx, cents, dim = 64, m = 32, ksub = 16, iters = 2)
      val codes = Pq.encodeResidual(idx, cents, cb, dim = 64, m = 32)
      val got = Pq.ivfPqResidualTopK(idx, cents, codes, cb, emb, q,
        dim = 64, k = 10, nprobe = 14, m = 32, rerank = 16)
        .select(col("qid"), col("vec_id")).withColumn("hit", lit(1))
      Similarity.bruteForceTopK(emb, q, 10)
        .select(col("qid"), col("vec_id"))
        .join(got, Seq("qid", "vec_id"), "left")
        .agg(count(lit(1)).as("n_expected"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
        .select(col("n_expected"),
          (col("n_hit").cast("double") / col("n_expected") >= 0.85).as("ok"))
    },
    oracle = Some("""
      WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
      q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 20),
      sims AS (
        SELECT q.qid, v.vec_id,
          list_sum([qe[i+1]*e[i+1] for i in range(0, 64)]) /
            (sqrt(list_sum([qe[i+1]*qe[i+1] for i in range(0, 64)]))
             * sqrt(list_sum([e[i+1]*e[i+1] for i in range(0, 64)]))) AS sim
        FROM q, v WHERE q.qid <> v.vec_id),
      ranked AS (
        SELECT qid, row_number() OVER (PARTITION BY qid ORDER BY round(sim, 6) DESC, vec_id) AS rk
        FROM sims)
      SELECT COUNT(*) AS n_expected, TRUE AS ok FROM ranked WHERE rk <= 10"""))

  val tAnnIvfRecall: Q = Q(
    "t_ann_ivf_recall",
    run = (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 20)
      val cents = Ivf.trainScalable(emb, 16, iters = 1, rounds = 2)
      val idx = Ivf.index(emb, cents)
      val ivf = Ivf.topK(idx, cents, q, 10, nprobe = 12)
        .select(col("qid"), col("vec_id")).withColumn("hit", lit(1))
      Similarity.bruteForceTopK(emb, q, 10)
        .select(col("qid"), col("vec_id"))
        .join(ivf, Seq("qid", "vec_id"), "left")
        .agg(count(lit(1)).as("n_expected"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
        .select(col("n_expected"),
          (col("n_hit").cast("double") / col("n_expected") >= 0.85).as("ok"))
    },
    oracle = Some("""
      WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
      q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 20),
      sims AS (
        SELECT q.qid, v.vec_id,
          list_sum([qe[i+1]*e[i+1] for i in range(0, 64)]) /
            (sqrt(list_sum([qe[i+1]*qe[i+1] for i in range(0, 64)]))
             * sqrt(list_sum([e[i+1]*e[i+1] for i in range(0, 64)]))) AS sim
        FROM q, v WHERE q.qid <> v.vec_id),
      ranked AS (
        SELECT qid, row_number() OVER (PARTITION BY qid ORDER BY round(sim, 6) DESC, vec_id) AS rk
        FROM sims)
      SELECT COUNT(*) AS n_expected, TRUE AS ok FROM ranked WHERE rk <= 10"""))
    // not a bench headline: the entry re-trains k-means|| per run, which
    // benchmarked the TRAINER, not serving — Bench times training once
    // (ivf_train_sec) and headlines the serve path (t_ann_ivf_serve)
    // against pre-trained centroids; correctness gating is unchanged here

  /** End-to-end curation pipeline, oracle-checked as ONE query: the DuckDB
    * side recomposes every stage (exact-fingerprint dedup → MinHash+LSH
    * near-dup removal → quality/language filters → accounting) from the
    * same per-stage oracle SQL that already hash-matches each operator, so
    * this match proves the COMPOSITION (join shapes, left-join coalesce
    * semantics, drop-doc_b policy, accounting identity) — not just the
    * stages. One output row of seven counters. */
  private def curateStatsRun(nearDup: graft.pipeline.Curate.NearDupPolicy)(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val (_, st) = graft.pipeline.Curate.run(s, dir, nearDup = nearDup)
    graft.pipeline.Curate.releaseCaches(s)
    Seq((st.input, st.exactDups, st.nearDups, st.lowQuality, st.unknownLang,
      st.kept, st.keptTokens))
      .toDF("input", "exact_dups", "near_dups", "low_quality",
        "unknown_lang", "kept", "kept_tokens")
  }

  /** The default candidate-pair chain for the curate oracles: MinHash+LSH
    * banding over the exact-dedup survivors (`toks`), ending in a `pairs`
    * (doc_a, doc_b) CTE — the SQL twin of Dedup.minhashLshPairs. */
  private val minhashPairsCtes: String = """shg AS (
        SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS shingles
        FROM toks WHERE len(toks) >= 3),
      vh AS (
        SELECT doc_id, shingles,
          [CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) for g in shingles] AS v
        FROM shg),
      sigs AS (
        SELECT doc_id,
          [list_min([((2*s+1)*x + 7919*s + 1) % 4294967291 for x in v]) for s in range(0, 8)] AS sig
        FROM vh),
      bands AS (
        SELECT doc_id, b, CAST(sig[2*b+1] AS VARCHAR) || '|' || CAST(sig[2*b+2] AS VARCHAR) AS band_key
        FROM sigs, range(0, 4) AS r(b)),
      capped AS (
        SELECT doc_id, b, band_key FROM (
          SELECT *, COUNT(*) OVER (PARTITION BY b, band_key) AS bs FROM bands) t
        WHERE bs <= 1000),
      cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM capped x JOIN capped y
          ON x.band_key = y.band_key AND x.b = y.b AND x.doc_id < y.doc_id),
      pairs AS (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        JOIN vh sa ON sa.doc_id = c.doc_a
        JOIN vh sb ON sb.doc_id = c.doc_b
        WHERE len(list_intersect(sa.v, sb.v))::DOUBLE
            / len(list_distinct(sa.v || sb.v)) >= 0.8)"""

  /** Exact n-gram Jaccard pair chain (the SQL twin of
    * Dedup.ngramJaccardPairs at n=3, threshold=0.7, run over the
    * exact-dedup survivors): ALL gram-sharing pairs are candidates, so the
    * recomposition is recall-lossless by construction. */
  private val exactJaccardPairsCtes: String = """jsh AS (
        SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS shingles
        FROM toks WHERE len(toks) >= 3),
      jvh AS (
        SELECT doc_id,
          list_distinct([CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) for g in shingles]) AS hs
        FROM jsh),
      jcg AS (SELECT doc_id, unnest(hs) AS h FROM jvh),
      jcand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM jcg a JOIN jcg b ON a.h = b.h AND a.doc_id < b.doc_id),
      pairs AS (
        SELECT c.doc_a, c.doc_b
        FROM jcand c
        JOIN jvh sa ON sa.doc_id = c.doc_a
        JOIN jvh sb ON sb.doc_id = c.doc_b
        WHERE len(list_intersect(sa.hs, sb.hs))::DOUBLE
            / len(list_distinct(sa.hs || sb.hs)) >= 0.7)"""

  /** Full-pipeline oracle SQL; `pairsCtes` selects the candidate-pair
    * generation (MinHash+LSH banding by default, exact n-gram Jaccard for
    * the lossless policy) and `losersCte` the near-dup removal policy
    * (pairwise drop-doc_b vs connected-component non-keepers).
    * With `full = true` the decontamination (4-gram overlap vs the
    * doc_id % 23 benchmark slice) and repetition (dup-3-gram frac > 0.02)
    * gates are recomposed too, in the same precedence order as
    * Curate.label: dedup → contaminated → repetitive → quality →
    * language. */
  /** The classifier-gate CTE chain for the curate oracle: the SAME
    * train/score recomposition t_quality_classifier certifies (even-half
    * training, lang='en' labels, B=1024 md5 buckets, micro-unit weights,
    * exact BIGINT doc sums), ending in `clskeep` = doc_ids with positive
    * score. Docs with zero tokens never reach cdb, so they are absent
    * from clskeep — dropped by the gate, like scoreTokens' coalesced 0.
    * Parametrized like [[lmGateCtes]] (the defaults render byte-identical
    * SQL to the pre-parametrization form): `toksSql` picks the tokenizer
    * for BOTH training and scoring (the trainTokenWeights/scoreTokens
    * bound-toks contract recomposed — a model trained latin and served
    * CJK scores a disjoint vocab), `labelSql`/`carrySql`/`trainFromSql`
    * shape the training relation, and `docsRel` is the scored corpus. */
  private def classifierCtes(toksSql: String = TOKS,
      labelSql: String = "(lang = 'en')", carrySql: String = "lang",
      trainFromSql: String = "documents WHERE doc_id % 2 = 0",
      docsRel: String = "documents"): String = s"""
      ctb AS MATERIALIZED (
        SELECT $labelSql AS pos,
               CAST(('0x' || substr(md5('qc:' || tok), 1, 8)) AS BIGINT) % 1024 AS bucket
        FROM (SELECT $carrySql, unnest($toksSql) AS tok FROM $trainFromSql) z),
      ccnt AS (SELECT bucket,
              CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pos_b,
              CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS neg_b
            FROM ctb GROUP BY bucket),
      ctot AS (SELECT CAST(SUM(pos_b) AS BIGINT) AS pos_tot,
                      CAST(SUM(neg_b) AS BIGINT) AS neg_tot FROM ccnt),
      cwts AS MATERIALIZED (SELECT r.bucket,
              ${microWeightSql("ccnt.pos_b", "ccnt.neg_b", "pos_tot", "neg_tot", 1024)} AS w_micro
            FROM (SELECT unnest(range(1024)) AS bucket) r
            LEFT JOIN ccnt ON r.bucket = ccnt.bucket, ctot t),
      cdb AS (SELECT doc_id,
               CAST(('0x' || substr(md5('qc:' || tok), 1, 8)) AS BIGINT) % 1024 AS bucket
             FROM (SELECT doc_id, unnest($toksSql) AS tok FROM $docsRel) z),
      clskeep AS MATERIALIZED (
        SELECT cdb.doc_id FROM cdb JOIN cwts USING (bucket)
        GROUP BY cdb.doc_id HAVING CAST(SUM(cwts.w_micro) AS BIGINT) > 0),"""

  /** Bigram-LM gate CTEs: model trained on the even-doc_id half of
    * `trainRel` (the t_lm_score chain; `documents` by default), docs of
    * `docsRel` scored; `lmkeep` holds docs at/above the threshold, `ldb`
    * the docs WITH bigram evidence (NULL-average docs pass the gate by
    * contract). `toksSql` selects the tokenizer for BOTH sides — the
    * cjk entry trains and scores through [[TOKS_CJK]], mirroring
    * trainLm/scoreLm's bound-toks contract (a model trained latin and
    * served CJK shares no vocab). */
  private def lmGateCtes(minMicroAvg: Double, docsRel: String,
      toksSql: String = TOKS, trainRel: String = "documents"): String = s"""
      lrt AS MATERIALIZED (
        SELECT doc_id, $toksSql AS toks FROM $trainRel WHERE doc_id % 2 = 0),
      lrb AS MATERIALIZED (
        SELECT unnest([toks[j] || ' ' || toks[j+1] for j in range(1, len(toks))]) AS g
        FROM lrt WHERE len(toks) >= 2),
      lc2 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c2 FROM lrb GROUP BY g),
      lc1 AS (SELECT split_part(g, ' ', 1) AS w1, CAST(SUM(c2) AS BIGINT) AS c1
              FROM lc2 GROUP BY 1),
      lvv AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
              FROM (SELECT unnest(toks) AS tok FROM lrt) z),
      ldt AS MATERIALIZED (SELECT doc_id, $toksSql AS toks FROM $docsRel),
      ldb AS MATERIALIZED (
        SELECT doc_id,
               unnest([toks[j] || ' ' || toks[j+1] for j in range(1, len(toks))]) AS g
        FROM ldt WHERE len(toks) >= 2),
      lmkeep AS MATERIALIZED (
        SELECT ldb.doc_id FROM ldb LEFT JOIN lc2 USING (g)
             LEFT JOIN lc1 ON split_part(ldb.g, ' ', 1) = lc1.w1, lvv
        GROUP BY ldb.doc_id
        HAVING CAST(SUM((coalesce(lc2.c2, 0) + 1) * 1000000 // (coalesce(lc1.c1, 0) + lvv.v)) AS DOUBLE)
                 / COUNT(*) >= $minMicroAvg),"""

  /** @param docsRel the relation the pipeline ingests ("documents", or a
    *   CTE name from `prefixCtes` — the t_curate_redacted entry feeds the
    *   PII-scrubbed corpus through the UNCHANGED chain this way). The
    *   classifier CTEs SCORE `docsRel` too; their training relation is
    *   shaped separately by `clsTrainFromSql`/`clsLabelSql` (the default
    *   trains on the even half of `documents`, labeled lang='en'). */
  /** Gopher rule-set gate CTEs over `docsRel` (min 15 / max 80 words,
    * en-lexicon required stops — the same params the catalog entry passes
    * to Curate.GopherGate): `gophkeep` = doc_ids passing EVERY rule, the
    * t_gopher_rules chain minus the synthetic corruption. */
  private def gopherCtes(docsRel: String): String = """
      gw AS MATERIALIZED (SELECT doc_id, s,
          list_filter(regexp_split_to_array(s, '[ \t\r\n]+'), w -> w <> '') AS words,
          list_filter(list_transform(string_split(s, chr(10)), l -> trim(l)),
                      l -> l <> '') AS lines
        FROM (SELECT doc_id, coalesce(text, '') AS s FROM """ + docsRel + """) z),
      gm AS (SELECT doc_id,
          CAST(len(words) AS BIGINT) AS n_words,
          CAST(coalesce(list_sum(list_transform(words, w -> len(w))), 0) AS BIGINT) AS sum_chars,
          CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
          CAST(len(list_intersect(list_distinct(list_transform(words, w -> lower(w))),
                                  ['the','a','of','and','to','is'])) AS BIGINT) AS stop_hits,
          CAST(len(lines) AS BIGINT) AS n_lines,
          CAST(len(list_filter(lines, l -> substr(l,1,2) IN ('- ','* ','• '))) AS BIGINT) AS n_bullet,
          CAST(len(list_filter(lines, l ->
              (len(l) >= 3 AND l[-3:] = '...') OR (len(l) >= 1 AND l[-1:] = '…'))) AS BIGINT) AS n_ell_line,
          CAST(len(s) - len(replace(s, '#', '')) AS BIGINT)
            + CAST((len(s) - len(replace(s, '...', ''))) / 3 AS BIGINT)
            + CAST(len(s) - len(replace(s, '…', '')) AS BIGINT) AS n_symbols
        FROM gw),
      gophkeep AS MATERIALIZED (SELECT doc_id FROM gm
        WHERE n_words >= 15 AND n_words <= 80
          AND 3*n_words <= sum_chars AND sum_chars <= 10*n_words
          AND 10*n_symbols <= n_words
          AND 10*n_bullet <= 9*n_lines
          AND 10*n_ell_line <= 3*n_lines
          AND 5*n_alpha >= 4*n_words
          AND stop_hits >= 2),"""

  /** @param toksSql the tokenizer expression interpolated into the
    *   `toks`/`ftoks`/LM-gate CTEs ([[TOKS]] by default; [[TOKS_CJK]]
    *   for the cjk entries — parametrized rather than duplicated so the
    *   ~10 CTE chains stay ONE recomposition; the default renders
    *   byte-identical SQL to the pre-parametrization form). The
    *   classifier CTEs now follow the same parameter (plus
    *   `clsLabelSql`/`clsCarrySql`/`clsTrainFromSql` shaping the
    *   training relation — the cjk entry trains on the seeded corpus
    *   with latin rows labeled by lang and seeds labeled positive).
    * @param stopZh when true the quality stop set gains the zhLexicon
    *   bigrams — the SQL twin of `qualityScore(docs, cjk = true)`.
    * @param lmTrainRel the relation the LM gate trains on (even doc_ids;
    *   `documents` by default, the seeded corpus for the cjk LM entry so
    *   zh bigrams enter the model exactly as the Spark side trains). */
  private def curateStatsOracle(losersCte: String, full: Boolean = false,
      gopher: Boolean = false,
      classifier: Boolean = false, lm: Option[Double] = None,
      finalSelect: Option[String] = None, pairsCtes: String = minhashPairsCtes,
      docsRel: String = "documents", prefixCtes: String = "",
      toksSql: String = TOKS, stopZh: Boolean = false,
      lmTrainRel: String = "documents",
      clsLabelSql: String = "(lang = 'en')", clsCarrySql: String = "lang",
      clsTrainFromSql: String = "documents WHERE doc_id % 2 = 0"): String = {
    val stop = (TextAnalysis.lexicons.flatMap(_._2)
        ++ (if (stopZh) TextAnalysis.zhLexicon else Nil)).distinct.sorted
      .map(w => s"'$w'").mkString("[", ",", "]")
    val lex = TextAnalysis.lexicons.map { case (lang, words) =>
      lang -> words.map(w => s"'$w'").mkString("[", ",", "]")
    }.toMap
    s"""
      WITH RECURSIVE $prefixCtes fp AS (
        SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
        FROM $docsRel),
      keep AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY f),
      ae AS (SELECT d.doc_id, d.text FROM $docsRel d JOIN keep USING (doc_id)),
      toks AS (SELECT doc_id, $toksSql AS toks FROM ae),
      $pairsCtes,
      $losersCte,
      an AS (SELECT t.doc_id, t.toks FROM toks t
             WHERE t.doc_id NOT IN (SELECT doc_id FROM losers)),
      q AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
          0.4 * (len(list_distinct(toks))::DOUBLE / len(toks))
            + 0.3 * least(1.0, len(toks) / 100.0)
            + 0.3 * (1.0 - len(list_filter(toks, x -> list_contains($stop, x)))::DOUBLE / len(toks)) AS quality
        FROM an WHERE len(toks) > 0),
      lang AS (
        SELECT doc_id,
          CASE WHEN greatest(hde, hen, hes, hfr, hzh) = 0 THEN 'und'
               WHEN hde = greatest(hde, hen, hes, hfr, hzh) THEN 'de'
               WHEN hen = greatest(hde, hen, hes, hfr, hzh) THEN 'en'
               WHEN hes = greatest(hde, hen, hes, hfr, hzh) THEN 'es'
               WHEN hfr = greatest(hde, hen, hes, hfr, hzh) THEN 'fr'
               ELSE 'zh' END AS pred_lang
        FROM (
          SELECT an.doc_id, $ZH_HITS AS hzh,
            len(list_intersect(list_distinct(toks), ${lex("de")})) AS hde,
            len(list_intersect(list_distinct(toks), ${lex("en")})) AS hen,
            len(list_intersect(list_distinct(toks), ${lex("es")})) AS hes,
            len(list_intersect(list_distinct(toks), ${lex("fr")})) AS hfr
          FROM an JOIN $docsRel d USING (doc_id))),
      ${if (full) s"""
      ftoks AS (SELECT doc_id, $toksSql AS toks FROM $docsRel),
      cg4 AS (SELECT doc_id,
          list_distinct([array_to_string(toks[i:i+3], ' ') for i in range(1, len(toks)-2)]) AS g
        FROM ftoks WHERE len(toks) >= 4),
      bgrams AS (SELECT DISTINCT unnest(g) AS gram FROM cg4 WHERE doc_id % 23 = 0),
      contam AS (SELECT DISTINCT c.doc_id
        FROM (SELECT doc_id, unnest(g) AS gram FROM cg4) c JOIN bgrams USING (gram)),
      rep AS (SELECT doc_id,
          CASE WHEN len(toks) >= 3
               THEN 1.0 - len(list_distinct([array_to_string(toks[i:i+2], ' ')
                     for i in range(1, len(toks)-1)]))::DOUBLE / (len(toks) - 2)
               ELSE 0.0 END AS dup3
        FROM ftoks WHERE len(toks) > 0),""" else ""}
      ${if (gopher) gopherCtes(docsRel) else ""}
      ${if (classifier)
        classifierCtes(toksSql, clsLabelSql, clsCarrySql, clsTrainFromSql, docsRel)
      else ""}
      ${lm.map(m => lmGateCtes(m, docsRel, toksSql, lmTrainRel)).getOrElse("")}
      scored AS (
        SELECT an.doc_id, COALESCE(q.quality, 0.0) AS quality,
               COALESCE(q.n_tokens, 0) AS n_tokens, lang.pred_lang
               ${if (full) """,
               an.doc_id IN (SELECT doc_id FROM contam) AS is_contam,
               COALESCE(rep.dup3, 0.0) > 0.02 AS is_rep""" else ""}
               ${if (gopher) """,
               an.doc_id IN (SELECT doc_id FROM gophkeep) AS goph_ok""" else ""}
               ${if (classifier) """,
               an.doc_id IN (SELECT doc_id FROM clskeep) AS cls_ok""" else ""}
               ${if (lm.isDefined) """,
               (an.doc_id NOT IN (SELECT DISTINCT doc_id FROM ldb)
                  OR an.doc_id IN (SELECT doc_id FROM lmkeep)) AS lm_ok""" else ""}
        FROM an LEFT JOIN q USING (doc_id) JOIN lang USING (doc_id)
             ${if (full) "LEFT JOIN rep USING (doc_id)" else ""})
      """ + finalSelect.getOrElse(defaultStatsSelect(full, docsRel))
  }

  private def defaultStatsSelect(full: Boolean, docsRel: String = "documents"): String = {
    val fullCols = """
        (SELECT COUNT(*) FROM scored WHERE is_contam) AS contaminated,
        (SELECT COUNT(*) FROM scored WHERE NOT is_contam AND is_rep) AS repetitive,
        (SELECT COUNT(*) FROM scored
         WHERE NOT is_contam AND NOT is_rep AND quality < 0.55) AS low_quality,
        (SELECT COUNT(*) FROM scored WHERE NOT is_contam AND NOT is_rep
           AND quality >= 0.55 AND pred_lang = 'und') AS unknown_lang,
        (SELECT COUNT(*) FROM scored WHERE NOT is_contam AND NOT is_rep
           AND quality >= 0.55 AND pred_lang <> 'und') AS kept,
        (SELECT CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM scored
         WHERE NOT is_contam AND NOT is_rep
           AND quality >= 0.55 AND pred_lang <> 'und') AS kept_tokens"""
    val baseCols = """
        (SELECT COUNT(*) FROM scored WHERE quality < 0.55) AS low_quality,
        (SELECT COUNT(*) FROM scored WHERE quality >= 0.55 AND pred_lang = 'und') AS unknown_lang,
        (SELECT COUNT(*) FROM scored WHERE quality >= 0.55 AND pred_lang <> 'und') AS kept,
        (SELECT CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM scored
         WHERE quality >= 0.55 AND pred_lang <> 'und') AS kept_tokens"""
    s"""
      SELECT
        (SELECT COUNT(*) FROM $docsRel) AS input,
        (SELECT COUNT(*) FROM $docsRel) - (SELECT COUNT(*) FROM ae) AS exact_dups,
        (SELECT COUNT(*) FROM losers) AS near_dups,
        ${if (full) fullCols else baseCols}"""
  }

  val tCurateStats: Q = Q(
    "t_curate_stats",
    run = curateStatsRun(graft.pipeline.Curate.NearDupPolicy.PairwiseDrop),
    oracle = Some(curateStatsOracle(
      """losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)""")))

  /** Seed rows for the cjk-mode pipeline oracle: the five pinned
    * mixed-script langId rows ([[cjkSeedRows]]) PLUS an exact zh dup of
    * the first (min-id keeper drops it) and a fluent-zh near-dup pair
    * (one appended ideograph; Jaccard ≈ 0.93 on bigram 3-shingles —
    * verified caught by the 4×2 banding, so near_dups gains a LIVE CJK
    * pair). Ids sit above every SF's range and above the langId seeds. */
  private val curateCjkRows: Seq[(Long, String)] =
    cjkSeedRows.map { case (id, t, _, _) => (id, t) } ++ Seq(
      (9000000006L, "我们可以一起去，没有什么问题。"),
      (9000000007L, "今天天气很好我们一起去公园散步吧然后回家吃饭"),
      (9000000008L, "今天天气很好我们一起去公园散步吧然后回家吃饭了"),
      // garbled zh (doc 2 reversed): ODD id so the cjk LM entry scores
      // it against a model it never trained on — no bigram pair seen →
      // the add-one floor ≈ 10^6/V, far below that entry's V-anchored
      // threshold (see tCurateCjkLm's scaladoc) → a LIVE zh lm_fluency
      // drop; in the entries without the LM gate it predicts und (no
      // lexicon bigram survives the reversal) → unknown_lang
      (9000000009L, "法办的好很个一是这说们他"))

  /** The (doc_id, text) corpus the cjk pipeline entries ingest: the real
    * documents table plus [[curateCjkRows]]. */
  private def curateCjkDocs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .unionByName(curateCjkRows.toDF("doc_id", "text"))
  }

  /** The DuckDB twin of [[curateCjkDocs]] (a `cjkdocs` prefix CTE). */
  private lazy val cjkDocsCte: String = s"""cjkdocs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT * FROM (VALUES ${curateCjkRows
      .map { case (id, t) => s"(CAST($id AS BIGINT), '$t')" }
      .mkString(",\n                 ")}) v(doc_id, text)),"""

  /** The full curation pipeline in cjk mode, hash-gated end to end: the
    * real corpus plus the CJK seeds flows through Curate.runDocs(Gates(cjk
    * = true)) — ONE fused CJK-bigram tokenization bound on the persisted
    * frame feeds MinHash shingles, quality (zh stop arm), and language —
    * and the DuckDB side recomposes the whole chain with [[TOKS_CJK]] in
    * the `$$TOKS` slot and the zh-extended stop set. Closes the round-9
    * deferral: the CJK composition was spec-certified only; this is its
    * DuckDB composition oracle. On the latin corpus rows the cjk
    * tokenizer is byte-identical to the latin one, so the entry also
    * proves the mode is a no-op outside CJK text. */
  val tCurateCjk: Q = Q(
    "t_curate_cjk",
    run = (s, dir) => {
      import s.implicits._
      val (_, st) = graft.pipeline.Curate.runDocs(s, curateCjkDocs(s, dir),
        graft.pipeline.Curate.Gates(cjk = true))
      graft.pipeline.Curate.releaseCaches(s)
      Seq((st.input, st.exactDups, st.nearDups, st.lowQuality, st.unknownLang,
        st.kept, st.keptTokens))
        .toDF("input", "exact_dups", "near_dups", "low_quality",
          "unknown_lang", "kept", "kept_tokens")
    },
    oracle = Some(curateStatsOracle(
      """losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)""",
      toksSql = TOKS_CJK, stopZh = true,
      docsRel = "cjkdocs", prefixCtes = cjkDocsCte)))

  /** Every batch gate in cjk mode in one hash: decontamination (the
    * doc_id % 23 slice of the seeded corpus as the benchmark — seed
    * 9000000004 lands in the slice, so a CJK doc is LIVE-contaminated by
    * its own 4-token bigram shingles, certifying the round-10
    * contaminationGrams bound-toks fix cross-engine) + repetition +
    * quality (zh stop arm) + language, recomposed over [[TOKS_CJK]] with
    * Curate's exact precedence. The t_curate_stats_full twin for the
    * mixed-script mode. */
  val tCurateCjkFull: Q = Q(
    "t_curate_cjk_full",
    run = (s, dir) => {
      import s.implicits._
      val docs = curateCjkDocs(s, dir)
      val (_, st) = graft.pipeline.Curate.runDocs(s, docs,
        graft.pipeline.Curate.Gates(benchmark = Some(docs.filter(col("doc_id") % 23 === 0)),
          contaminationN = 4, maxDup3Frac = 0.02, cjk = true))
      graft.pipeline.Curate.releaseCaches(s)
      Seq((st.input, st.exactDups, st.nearDups, st.contaminated, st.repetitive,
        st.lowQuality, st.unknownLang, st.kept, st.keptTokens))
        .toDF("input", "exact_dups", "near_dups", "contaminated", "repetitive",
          "low_quality", "unknown_lang", "kept", "kept_tokens")
    },
    oracle = Some(curateStatsOracle(
      """losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)""",
      full = true, toksSql = TOKS_CJK, stopZh = true,
      docsRel = "cjkdocs", prefixCtes = cjkDocsCte)))

  /** The LM fluency gate in cjk mode in one hash: the bigram model
    * trains on the even-doc_id half of the SEEDED corpus through the
    * CJK tokenizer on both engines (seeds 02/04/06/08 put zh bigram
    * pairs into the model — trainLm's bound-toks contract recomposed),
    * and the garbled-zh seed 9000000009 (odd → scored, never trained)
    * drops as lm_fluency on live CJK evidence while the fluent-zh seed
    * 9000000001 (odd, but its exact dup 06 trained) is scored IN-model
    * and keeps. Threshold 20000, NOT t_curate_lm's 33000: the synthetic
    * corpus has only ~31 distinct latin tokens, so 33000 hugs its V=31
    * add-one floor (1e6/31 = 32258) — seeding ~45 zh token types
    * doubles V and deflates every add-one score, and fluent in-model zh
    * floors near (1+1)·10^6/(2+V) ≈ 25.6k; 20000 sits between that and
    * the unseen floor 10^6/V ≈ 13.2k with ≥25% margin on both sides,
    * and both floors are V-anchored so the margins hold at every SF
    * (the seeds don't replicate with the corpus). Certifies the
    * round-10 scoreLm/trainLm bound-toks fix cross-engine, composed
    * inside the full pipeline. */
  val tCurateCjkLm: Q = Q(
    "t_curate_cjk_lm",
    run = (s, dir) => {
      import s.implicits._
      val docs = curateCjkDocs(s, dir)
      val model = TextAnalysis.trainLm(graft.functions.TokMode.bind(
        docs.filter(col("doc_id") % 2 === 0), cjk = true))
      val (_, st) = graft.pipeline.Curate.runDocs(s, docs,
        graft.pipeline.Curate.Gates(lm = Some(graft.pipeline.Curate.LmGate(model, 20000.0)),
          cjk = true))
      graft.pipeline.Curate.releaseCaches(s)
      Seq((st.input, st.exactDups, st.nearDups, st.lmDropped, st.lowQuality,
        st.unknownLang, st.kept, st.keptTokens))
        .toDF("input", "exact_dups", "near_dups", "lm_dropped", "low_quality",
          "unknown_lang", "kept", "kept_tokens")
    },
    oracle = Some(curateStatsOracle(
      """losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)""",
      lm = Some(20000.0), toksSql = TOKS_CJK, stopZh = true,
      docsRel = "cjkdocs", prefixCtes = cjkDocsCte, lmTrainRel = "cjkdocs",
      finalSelect = Some("""
      SELECT
        (SELECT COUNT(*) FROM cjkdocs) AS input,
        (SELECT COUNT(*) FROM cjkdocs) - (SELECT COUNT(*) FROM ae) AS exact_dups,
        (SELECT COUNT(*) FROM losers) AS near_dups,
        (SELECT COUNT(*) FROM scored WHERE NOT lm_ok) AS lm_dropped,
        (SELECT COUNT(*) FROM scored WHERE lm_ok AND quality < 0.55) AS low_quality,
        (SELECT COUNT(*) FROM scored
         WHERE lm_ok AND quality >= 0.55 AND pred_lang = 'und') AS unknown_lang,
        (SELECT COUNT(*) FROM scored
         WHERE lm_ok AND quality >= 0.55 AND pred_lang <> 'und') AS kept,
        (SELECT CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM scored
         WHERE lm_ok AND quality >= 0.55 AND pred_lang <> 'und') AS kept_tokens"""))))

  /** The learned-classifier gate in cjk mode in one hash: the weight
    * table trains on the even-doc_id half of the SEEDED corpus through
    * the CJK tokenizer on BOTH engines (Classify's bound-toks contract,
    * new this round — scoreTokens previously re-tokenized latin from
    * text, so pure-CJK docs got zero tokens, scored 0, and silently
    * dropped as `classifier`). Latin rows keep t_curate_classified's
    * lang='en' labels; the zh seeds (absent from `documents`, so their
    * lang is NULL) are labeled positive — they are fluent zh — which
    * puts LIVE positive weights on zh bigram buckets. Gate precedence
    * (dedup → classifier → quality → language) is recomposed inside the
    * full pipeline oracle: the t_curate_classified twin for the
    * mixed-script mode, closing the round-10 verdict's "classifier
    * certified latin-only" gap. */
  val tCurateCjkClassified: Q = Q(
    "t_curate_cjk_classified",
    run = (s, dir) => {
      import s.implicits._
      val docs = curateCjkDocs(s, dir)
      val train = graft.functions.TokMode.bind(
        docs.filter(col("doc_id") % 2 === 0)
          .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")),
            Seq("doc_id"), "left"), cjk = true)
      val w = graft.operators.Classify.trainTokenWeights(train,
        coalesce(col("lang") === "en", lit(true)), buckets = 1024)
      val (_, st) = graft.pipeline.Curate.runDocs(s, docs,
        graft.pipeline.Curate.Gates(
          classifier = Some(graft.pipeline.Curate.ClassifierGate(w, 1024)), cjk = true))
      graft.pipeline.Curate.releaseCaches(s)
      Seq((st.input, st.exactDups, st.nearDups, st.classifierDropped,
        st.lowQuality, st.unknownLang, st.kept, st.keptTokens))
        .toDF("input", "exact_dups", "near_dups", "classifier_dropped",
          "low_quality", "unknown_lang", "kept", "kept_tokens")
    },
    oracle = Some(curateStatsOracle(
      """losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)""",
      classifier = true, toksSql = TOKS_CJK, stopZh = true,
      docsRel = "cjkdocs", prefixCtes = cjkDocsCte,
      clsLabelSql = "coalesce(lang = 'en', TRUE)",
      clsTrainFromSql = "(SELECT c.text, d.lang FROM cjkdocs c " +
        "LEFT JOIN documents d USING (doc_id) WHERE c.doc_id % 2 = 0) tr",
      finalSelect = Some("""
      SELECT
        (SELECT COUNT(*) FROM cjkdocs) AS input,
        (SELECT COUNT(*) FROM cjkdocs) - (SELECT COUNT(*) FROM ae) AS exact_dups,
        (SELECT COUNT(*) FROM losers) AS near_dups,
        (SELECT COUNT(*) FROM scored WHERE NOT cls_ok) AS classifier_dropped,
        (SELECT COUNT(*) FROM scored WHERE cls_ok AND quality < 0.55) AS low_quality,
        (SELECT COUNT(*) FROM scored
         WHERE cls_ok AND quality >= 0.55 AND pred_lang = 'und') AS unknown_lang,
        (SELECT COUNT(*) FROM scored
         WHERE cls_ok AND quality >= 0.55 AND pred_lang <> 'und') AS kept,
        (SELECT CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM scored
         WHERE cls_ok AND quality >= 0.55 AND pred_lang <> 'und') AS kept_tokens"""))))

  /** The curation pipeline with SURGICAL decontamination composed in
    * (Curate.runDocs excise): leaked eval spans are EXCISED as the last
    * pre-transform instead of dropping whole docs, and the UNCHANGED
    * pipeline chain then ingests the excised text — fingerprints,
    * shingles, quality, language all see the text that ships. Since
    * round 12 the excision is STRUCTURE-PRESERVING in latin mode too
    * (the t_decontaminate_spans_offset chain — character-offset
    * excision, punctuation survives), so the oracle feeds THAT chain's
    * output through the t_curate_stats recomposition via
    * `prefixCtes`/`docsRel` (the t_curate_redacted pattern). Live
    * composition signal: the
    * benchmark-slice docs excise to EMPTY text, so they collapse into
    * one exact-dup fingerprint group and the survivors land in
    * low_quality — exactly what "dedup sees the excised form" means. */
  val tCurateExcised: Q = Q(
    "t_curate_excised",
    run = (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val (_, st) = graft.pipeline.Curate.runDocs(s, docs,
        graft.pipeline.Curate.Gates(excise = Some(docs.filter(col("doc_id") % 23 === 0))))
      graft.pipeline.Curate.releaseCaches(s)
      Seq((st.input, st.exactDups, st.nearDups, st.lowQuality, st.unknownLang,
        st.kept, st.keptTokens))
        .toDF("input", "exact_dups", "near_dups", "low_quality",
          "unknown_lang", "kept", "kept_tokens")
    },
    oracle = Some(curateStatsOracle(
      """losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)""",
      docsRel = "excised",
      prefixCtes = excisionByOffsetCtes("documents", "doc_id % 23 = 0", cjk = false))))

  /** [[tCurateExcised]] in cjk mode over the zh-seeded corpus: the
    * character-offset excision chain (seed 9000000004 sits in the
    * benchmark slice → a LIVE CJK doc excises to empty) feeds the cjk
    * pipeline recomposition (TOKS_CJK + zh stop arm) — surgical
    * decontamination and mixed-script curation certified COMPOSED, one
    * hash. */
  val tCurateCjkExcised: Q = Q(
    "t_curate_cjk_excised",
    run = (s, dir) => {
      import s.implicits._
      val docs = curateCjkDocs(s, dir)
      val (_, st) = graft.pipeline.Curate.runDocs(s, docs,
        graft.pipeline.Curate.Gates(excise = Some(docs.filter(col("doc_id") % 23 === 0)),
          cjk = true))
      graft.pipeline.Curate.releaseCaches(s)
      Seq((st.input, st.exactDups, st.nearDups, st.lowQuality, st.unknownLang,
        st.kept, st.keptTokens))
        .toDF("input", "exact_dups", "near_dups", "low_quality",
          "unknown_lang", "kept", "kept_tokens")
    },
    oracle = Some(curateStatsOracle(
      """losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)""",
      toksSql = TOKS_CJK, stopZh = true,
      docsRel = "excised",
      prefixCtes = cjkDocsCte + excisionByOffsetCtes("cjkdocs", "doc_id % 23 = 0", cjk = true))))

  /** The composed pipeline under the recall-LOSSLESS near-dup policy:
    * exact n-gram Jaccard join (prefix + positional filtering) instead of
    * MinHash banding. The oracle's candidate set is ALL gram-sharing pairs
    * over the exact-dedup survivors, so the end-to-end hash match proves
    * the production join's pruning filters lost no pair INSIDE the
    * composition (same property t_dedup_jaccard proves for the operator
    * alone). */
  val tCurateStatsExact: Q = Q(
    "t_curate_stats_exact",
    run = curateStatsRun(graft.pipeline.Curate.NearDupPolicy.ExactJaccard()),
    oracle = Some(curateStatsOracle(
      """losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)""",
      pairsCtes = exactJaccardPairsCtes)))

  /** Containment-pairs chain for the curate oracle (the SQL twin of
    * Dedup.ngramContainmentPairs at n=3, threshold=0.8, over the
    * exact-dedup survivors): candidates are ALL gram-sharing ordered
    * pairs, so the recomposition is recall-lossless by construction. */
  private val containmentPairsCtes: String = """jsh AS (
        SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS shingles
        FROM toks WHERE len(toks) >= 3),
      jvh AS (
        SELECT doc_id,
          list_distinct([CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) for g in shingles]) AS hs
        FROM jsh),
      jcg AS (SELECT doc_id, len(hs) AS sz, unnest(hs) AS h FROM jvh),
      jcand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM jcg a JOIN jcg b ON a.h = b.h
          AND (a.sz < b.sz OR (a.sz = b.sz AND a.doc_id < b.doc_id))),
      pairs AS (
        SELECT c.doc_a, c.doc_b
        FROM jcand c
        JOIN jvh sa ON sa.doc_id = c.doc_a
        JOIN jvh sb ON sb.doc_id = c.doc_b
        WHERE len(list_intersect(sa.hs, sb.hs))::DOUBLE / len(sa.hs) >= 0.8)"""

  /** The composed pipeline under the CONTAINMENT policy over a corpus
    * with planted supersets: the contained copies drop as near-dups
    * (keep the superset), certified end to end with the all-pairs
    * candidate oracle. */
  val tCurateContained: Q = Q(
    "t_curate_contained",
    run = (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(docs.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 300000L).as("doc_id"),
          concat(col("text"), lit(" extra tail words appended here now")).as("text")))
      val (_, st) = graft.pipeline.Curate.runDocs(s, corpus,
        nearDup = graft.pipeline.Curate.NearDupPolicy.Containment())
      graft.pipeline.Curate.releaseCaches(s)
      Seq((st.input, st.exactDups, st.nearDups, st.lowQuality, st.unknownLang,
        st.kept, st.keptTokens))
        .toDF("input", "exact_dups", "near_dups", "low_quality",
          "unknown_lang", "kept", "kept_tokens")
    },
    oracle = Some(curateStatsOracle(
      """losers AS (SELECT DISTINCT doc_a AS doc_id FROM pairs)""",
      pairsCtes = containmentPairsCtes,
      docsRel = "cdocs",
      prefixCtes = """cdocs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 300000, text || ' extra tail words appended here now'
        FROM documents WHERE doc_id % 6 = 0),""")))

  /** The composed pipeline with EVERY gate on: dedup → decontamination
    * (4-gram overlap vs the doc_id % 23 benchmark slice) → repetition
    * (dup-3-gram frac > 0.02) → quality → language. The oracle recomposes
    * all six stages and the precedence order in one SQL statement — a
    * counter lands in the FIRST gate that catches the doc, exactly as
    * Curate's drop_reason does. */
  val tCurateStatsFull: Q = Q(
    "t_curate_stats_full",
    run = (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val (_, st) = graft.pipeline.Curate.runDocs(s, docs,
        graft.pipeline.Curate.Gates(benchmark = Some(docs.filter(col("doc_id") % 23 === 0)),
          contaminationN = 4, maxDup3Frac = 0.02))
      graft.pipeline.Curate.releaseCaches(s)
      Seq((st.input, st.exactDups, st.nearDups, st.contaminated, st.repetitive,
        st.lowQuality, st.unknownLang, st.kept, st.keptTokens))
        .toDF("input", "exact_dups", "near_dups", "contaminated", "repetitive",
          "low_quality", "unknown_lang", "kept", "kept_tokens")
    },
    oracle = Some(curateStatsOracle(
      """losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)""", full = true)))

  /** The composed pipeline with the MODEL gate on: exact dedup → MinHash
    * near-dup removal → classifier (trained on the even-doc_id half with
    * lang='en' labels — the CCNet posture: heuristics plus a learned
    * filter) → quality → language. The oracle recomposes the classifier's
    * training AND inference (the t_quality_classifier chain) inside the
    * pipeline recomposition, so the composition of model training, model
    * scoring, and gate precedence is certified end-to-end in one hash. */
  /** The composed pipeline with the Gopher rule-set gate on (min 15 /
    * max 80 words, en-lexicon stops — non-vacuous on the raw corpus):
    * dedup → gopher_rules → quality → language, every rule and the
    * precedence recomposed in one DuckDB hash. */
  val tCurateGopher: Q = Q(
    "t_curate_gopher",
    run = (s, dir) => {
      import s.implicits._
      val (_, st) = graft.pipeline.Curate.runDocs(s, Tables.documents(s, dir),
        graft.pipeline.Curate.Gates(gopher = Some(graft.pipeline.Curate.GopherGate(
          minWords = 15, maxWords = 80,
          requiredStops = Seq("the", "a", "of", "and", "to", "is")))))
      graft.pipeline.Curate.releaseCaches(s)
      Seq((st.input, st.exactDups, st.nearDups, st.gopherDropped,
        st.lowQuality, st.unknownLang, st.kept, st.keptTokens))
        .toDF("input", "exact_dups", "near_dups", "gopher_dropped",
          "low_quality", "unknown_lang", "kept", "kept_tokens")
    },
    oracle = Some(curateStatsOracle(
      """losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)""",
      gopher = true,
      finalSelect = Some("""
      SELECT
        (SELECT COUNT(*) FROM documents) AS input,
        (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM ae) AS exact_dups,
        (SELECT COUNT(*) FROM losers) AS near_dups,
        (SELECT COUNT(*) FROM scored WHERE NOT goph_ok) AS gopher_dropped,
        (SELECT COUNT(*) FROM scored WHERE goph_ok AND quality < 0.55) AS low_quality,
        (SELECT COUNT(*) FROM scored
         WHERE goph_ok AND quality >= 0.55 AND pred_lang = 'und') AS unknown_lang,
        (SELECT COUNT(*) FROM scored
         WHERE goph_ok AND quality >= 0.55 AND pred_lang <> 'und') AS kept,
        (SELECT CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM scored
         WHERE goph_ok AND quality >= 0.55 AND pred_lang <> 'und') AS kept_tokens"""))))

  val tCurateClassified: Q = Q(
    "t_curate_classified",
    run = (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val w = graft.operators.Classify.trainTokenWeights(
        docs.filter(col("doc_id") % 2 === 0), col("lang") === "en", buckets = 1024)
      val (_, st) = graft.pipeline.Curate.runDocs(s, docs,
        graft.pipeline.Curate.Gates(
          classifier = Some(graft.pipeline.Curate.ClassifierGate(w, 1024))))
      graft.pipeline.Curate.releaseCaches(s)
      Seq((st.input, st.exactDups, st.nearDups, st.classifierDropped,
        st.lowQuality, st.unknownLang, st.kept, st.keptTokens))
        .toDF("input", "exact_dups", "near_dups", "classifier_dropped",
          "low_quality", "unknown_lang", "kept", "kept_tokens")
    },
    oracle = Some(curateStatsOracle(
      """losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)""",
      classifier = true,
      finalSelect = Some("""
      SELECT
        (SELECT COUNT(*) FROM documents) AS input,
        (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM ae) AS exact_dups,
        (SELECT COUNT(*) FROM losers) AS near_dups,
        (SELECT COUNT(*) FROM scored WHERE NOT cls_ok) AS classifier_dropped,
        (SELECT COUNT(*) FROM scored WHERE cls_ok AND quality < 0.55) AS low_quality,
        (SELECT COUNT(*) FROM scored
         WHERE cls_ok AND quality >= 0.55 AND pred_lang = 'und') AS unknown_lang,
        (SELECT COUNT(*) FROM scored
         WHERE cls_ok AND quality >= 0.55 AND pred_lang <> 'und') AS kept,
        (SELECT CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM scored
         WHERE cls_ok AND quality >= 0.55 AND pred_lang <> 'und') AS kept_tokens"""))))

  /** Same composed pipeline under the transitively-correct near-dup
    * policy: connected-component clustering keeps exactly one doc (the
    * min id) per cluster; the oracle's recursive-CTE closure elects the
    * same keepers. */
  val tCurateStatsClustered: Q = Q(
    "t_curate_stats_clustered",
    run = curateStatsRun(graft.pipeline.Curate.NearDupPolicy.ClusterKeeper),
    oracle = Some(curateStatsOracle(
      """edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
      reach(doc_id, root) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.doc_id),
      losers AS (
        SELECT doc_id FROM (
          SELECT doc_id, MIN(root) AS cluster FROM reach GROUP BY doc_id)
        WHERE cluster <> doc_id)""")))

  /** Curate → pack composition: the default curation pipeline's KEPT set
    * fed straight into deterministic sequence packing, summarized per
    * shard. The oracle recomposes curation's full CTE chain and then the
    * pack window over the kept docs — proving the curated corpus hands
    * off to the training-layout stage with byte-stable assignments. */
  val tCuratePacked: Q = Q(
    "t_curate_packed",
    run = (s, dir) => {
      import s.implicits._
      val (curated, _) = graft.pipeline.Curate.run(s, dir)
      val packed = Sampling.packSequencesScalable(
        curated.select(col("doc_id"), col("text")), budget = 512, shards = 8)
      val rows = packed.groupBy(col("shard"))
        .agg(countDistinct(col("pack_id")).as("n_packs"),
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      graft.pipeline.Curate.releaseCaches(s)
      rows.toDF("shard", "n_packs", "n_docs", "sum_tokens")
    },
    oracle = Some(curateStatsOracle(
      """losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)""",
      finalSelect = Some("""
      , keptd AS (
        SELECT doc_id, n_tokens FROM scored
        WHERE quality >= 0.55 AND pred_lang <> 'und'),
      shd AS (
        SELECT doc_id, n_tokens,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS shard
        FROM keptd),
      packed AS (
        SELECT doc_id, shard,
          CAST(floor((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)::DOUBLE
            / 512) AS BIGINT) AS pack_id,
          n_tokens
        FROM shd)
      SELECT shard, COUNT(DISTINCT pack_id) AS n_packs, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
      FROM packed GROUP BY shard"""))))

  /** Curate → full training layout in ONE frame: every kept doc with its
    * shuffle position AND pack assignment (the join of the two
    * compositions above — what CurateStream.trainingView serves over the
    * continuous sink's kept set). The oracle recomposes curation, the
    * global hash rank, and the per-shard pack window in one statement. */
  val tCurateLayout: Q = Q(
    "t_curate_layout",
    run = (s, dir) => {
      val (curated, _) = graft.pipeline.Curate.run(s, dir)
      val ranked = Sampling.shuffleRank(curated.select(col("doc_id")), col("doc_id"))
        .select(col("doc_id"), col("shuffle_pos"))
      val packed = Sampling.packSequencesScalable(
        curated.select(col("doc_id"), col("text")), budget = 512, shards = 8)
      val out = packed.join(ranked, "doc_id")
        .select(col("doc_id"), col("shuffle_pos"), col("shard"), col("pack_id"),
          col("n_tokens"))
        .localCheckpoint(true) // materialize before the caches release
      graft.pipeline.Curate.releaseCaches(s)
      out
    },
    oracle = Some(curateStatsOracle(
      """losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)""",
      finalSelect = Some("""
      , keptd AS (
        SELECT doc_id, n_tokens FROM scored
        WHERE quality >= 0.55 AND pred_lang <> 'und'),
      shd AS (
        SELECT doc_id, n_tokens,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS shard
        FROM keptd),
      packed AS (
        SELECT doc_id, shard,
          CAST(floor((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)::DOUBLE
            / 512) AS BIGINT) AS pack_id,
          n_tokens
        FROM shd),
      ranked AS (
        SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY
            CAST(('0x' || substr(md5(coalesce('v:' || CAST(doc_id AS VARCHAR), 'null:')), 1, 8))
              AS BIGINT) ASC, doc_id ASC) - 1 AS shuffle_pos
        FROM keptd)
      SELECT p.doc_id, r.shuffle_pos, p.shard, p.pack_id, p.n_tokens
      FROM packed p JOIN ranked r USING (doc_id)"""))))

  /** Curate → chunk → pack: the RAG / long-document training shape. Kept
    * docs are split into 32-token chunks with 8-token overlap
    * (TextAnalysis.chunkDocs), each chunk gets a composite key
    * doc_id·2^20 + chunk_id (chunk counts are bounded far below 2^20 at
    * any oracle SF), and the chunk stream is sequence-packed; summarized
    * per shard like t_curate_packed. The oracle recomposes curation,
    * chunking (list-comprehension slices), and the pack window — proving
    * the three stages compose byte-stably across engines. */
  val tCurateChunked: Q = Q(
    "t_curate_chunked",
    run = (s, dir) => {
      import s.implicits._
      val (curated, _) = graft.pipeline.Curate.run(s, dir)
      val chunks = TextAnalysis.chunkDocs(
        curated.select(col("doc_id"), col("text")), chunkTokens = 32, overlap = 8)
      val keyed = chunks.select(
        (col("doc_id") * 1048576L + col("chunk_id")).as("doc_id"), col("text"))
      val packed = Sampling.packSequencesScalable(keyed, budget = 512, shards = 8)
      val rows = packed.groupBy(col("shard"))
        .agg(countDistinct(col("pack_id")).as("n_packs"),
          count(lit(1)).as("n_chunks"),
          sum(col("n_tokens")).as("sum_tokens"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      graft.pipeline.Curate.releaseCaches(s)
      rows.toDF("shard", "n_packs", "n_chunks", "sum_tokens")
    },
    oracle = Some(curateStatsOracle(
      """losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)""",
      finalSelect = Some("""
      , keptd AS (
        SELECT doc_id FROM scored
        WHERE quality >= 0.55 AND pred_lang <> 'und'),
      kt AS (
        SELECT t.doc_id, t.toks FROM an t JOIN keptd USING (doc_id)
        WHERE len(t.toks) > 0),
      chunkd AS (
        SELECT doc_id * 1048576 + u.cid AS ck, u.ct AS ctoks
        FROM (
          SELECT doc_id,
            unnest([{'cid': c, 'ct': toks[c*24+1 : c*24+32]}
              for c in range(0, greatest(0,
                CAST(ceil((len(toks) - 32)::DOUBLE / 24) AS BIGINT)) + 1)]) AS u
          FROM kt)),
      shd AS (
        SELECT ck, CAST(len(ctoks) AS BIGINT) AS n_tokens,
          CAST(('0x' || substr(md5(CAST(ck AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS shard
        FROM chunkd),
      packed AS (
        SELECT ck, shard,
          CAST(floor((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY ck
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)::DOUBLE
            / 512) AS BIGINT) AS pack_id,
          n_tokens
        FROM shd)
      SELECT shard, COUNT(DISTINCT pack_id) AS n_packs, COUNT(*) AS n_chunks,
             CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
      FROM packed GROUP BY shard"""))))

  /** Curate → shuffle composition: the default curation pipeline's KEPT
    * set fed into the deterministic training-order permutation
    * (Sampling.shuffleRank). The oracle recomposes curation's full CTE
    * chain and then the global hash-sort rank over the kept docs — so the
    * hash match proves BOTH the composition hand-off and that the
    * two-pass distributed prefix rank equals a global sort even over a
    * filtered, non-contiguous id set. */
  val tCurateShuffled: Q = Q(
    "t_curate_shuffled",
    run = (s, dir) => {
      val (curated, _) = graft.pipeline.Curate.run(s, dir)
      val ranked = Sampling.shuffleRank(curated.select(col("doc_id")), col("doc_id"))
        .select(col("doc_id"), col("shuffle_pos"))
        .localCheckpoint(true) // materialize before the caches release
      graft.pipeline.Curate.releaseCaches(s)
      ranked
    },
    oracle = Some(curateStatsOracle(
      """losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)""",
      finalSelect = Some("""
      , keptd AS (
        SELECT doc_id FROM scored
        WHERE quality >= 0.55 AND pred_lang <> 'und')
      SELECT doc_id,
        ROW_NUMBER() OVER (ORDER BY
          CAST(('0x' || substr(md5(coalesce('v:' || CAST(doc_id AS VARCHAR), 'null:')), 1, 8))
            AS BIGINT) ASC, doc_id ASC) - 1 AS shuffle_pos
      FROM keptd"""))))

  /** Gopher-style repetition filters: duplicate 2/3-gram fractions plus
    * most-frequent-token fraction, all unrounded IEEE ratios (rounding-tie
    * invariant). The oracle recomputes the max token count naively
    * (per-distinct-token rescan) while Spark uses one sorted-run fold —
    * the match proves the fold. */
  val tRepetitionScore: Q = Q(
    "t_repetition_score",
    run = (s, dir) => TextAnalysis.repetitionScore(Tables.documents(s, dir)),
    oracle = Some(s"""
      WITH toks AS (SELECT doc_id, $TOKS AS toks FROM documents),
      t AS (SELECT doc_id, toks FROM toks WHERE len(toks) > 0),
      g AS (SELECT doc_id, toks,
          [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))] AS g2,
          [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)] AS g3
        FROM t)
      SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        CASE WHEN len(g2) > 0
             THEN 1.0 - len(list_distinct(g2))::DOUBLE / len(g2) ELSE 0.0 END AS dup_2gram_frac,
        CASE WHEN len(g3) > 0
             THEN 1.0 - len(list_distinct(g3))::DOUBLE / len(g3) ELSE 0.0 END AS dup_3gram_frac,
        list_max([len(list_filter(toks, x -> x = tk)) for tk in list_distinct(toks)])::DOUBLE
          / len(toks) AS top_token_frac
      FROM g"""))

  /** doc_id-derived HTML corruption (tag wrapping / entity encoding / a
    * script block with payload) and the pinned strip chain — ONE source
    * for both the standalone entry and the composed-pipeline oracle, so
    * the two cannot drift. Spark column and SQL build IDENTICAL text. */
  private def htmlAugCol: org.apache.spark.sql.Column =
    when(col("doc_id") % 3 === 0,
      concat(lit("<p class=\"x\">"), col("text"), lit("</p> &amp; more &lt;tags&gt;")))
      .when(col("doc_id") % 5 === 0,
        concat(lit("<script type=\"text/javascript\">var x = 1;</script>"), col("text")))
      .when(col("doc_id") % 7 === 0,
        concat(lit("<div><b>"), col("text"), lit("</b></div>")))
      .otherwise(col("text"))

  private val htmlAugSql: String = """CASE
          WHEN doc_id % 3 = 0 THEN '<p class="x">' || text || '</p> &amp; more &lt;tags&gt;'
          WHEN doc_id % 5 = 0 THEN '<script type="text/javascript">var x = 1;</script>' || text
          WHEN doc_id % 7 = 0 THEN '<div><b>' || text || '</b></div>'
          ELSE text END"""

  private def htmlStripSql(inner: String): String = {
    val noBlocks = TextAnalysis.htmlBlockPatterns.foldLeft(inner) {
      (s, p) => s"regexp_replace($s, '$p', ' ', 'g')"
    }
    s"""
          trim(regexp_replace(
            replace(replace(replace(replace(replace(replace(
              regexp_replace(
                $noBlocks,
                '<[^>]*>', ' ', 'g'),
              '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
            '\\s+', ' ', 'g'))"""
  }

  /** HTML stripping over deterministically marked-up docs: tag wrapping,
    * entity encoding, and a script block with payload are injected per
    * doc_id class; the oracle runs the identical pinned regex + entity
    * chain, so rebuilt text is byte-exact. */
  val tHtmlStrip: Q = Q(
    "t_html_strip",
    run = (s, dir) => TextAnalysis.stripHtml(
      Tables.documents(s, dir).select(col("doc_id"), htmlAugCol.as("text"))),
    oracle = Some(s"""
      WITH c AS (SELECT doc_id, $htmlAugSql AS s FROM documents),
      st AS (SELECT doc_id, s, ${htmlStripSql("s")} AS clean FROM c)
      SELECT doc_id, clean AS text, (s IS DISTINCT FROM clean) AS changed
      FROM st"""))

  /** The composed pipeline with HTML stripping as the pre-transform: the
    * marked-up corpus is extracted FIRST, so two docs differing only in
    * markup dedup together and no gate sees tags — extraction + every
    * gate recomposed in one hash. */
  val tCurateHtml: Q = Q(
    "t_curate_html",
    run = (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir).select(col("doc_id"), htmlAugCol.as("text"))
      val (_, st) = graft.pipeline.Curate.runDocs(s, docs,
        graft.pipeline.Curate.Gates(stripHtml = true))
      graft.pipeline.Curate.releaseCaches(s)
      Seq((st.input, st.exactDups, st.nearDups, st.lowQuality, st.unknownLang,
        st.kept, st.keptTokens))
        .toDF("input", "exact_dups", "near_dups", "low_quality",
          "unknown_lang", "kept", "kept_tokens")
    },
    oracle = Some(curateStatsOracle(
      """losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)""",
      docsRel = "hdocs",
      prefixCtes = s"""hraw AS (SELECT doc_id, $htmlAugSql AS text FROM documents),
      hdocs AS (SELECT doc_id, ${htmlStripSql("text")} AS text FROM hraw),""")))

  /** Containment dedup over a corpus with planted supersets (every 6th
    * doc gets a tail-extended copy at a shifted id — the contained
    * original keeps ALL its shingles inside the copy, containment 1.0,
    * while symmetric Jaccard on the same pair is diluted). The oracle's
    * candidates are ALL gram-sharing ordered pairs, so the hash match
    * proves the asymmetric prefix filter lost no pair. */
  val tDedupContainment: Q = Q(
    "t_dedup_containment",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(docs.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 300000L).as("doc_id"),
          concat(col("text"), lit(" extra tail words appended here now")).as("text")))
      Dedup.ngramContainmentPairs(corpus, n = 3, threshold = 0.8)
    },
    oracle = Some(s"""
      WITH c AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 300000, text || ' extra tail words appended here now'
        FROM documents WHERE doc_id % 6 = 0),
      toks AS (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        FROM c),
      jsh AS (
        SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS shingles
        FROM toks WHERE len(toks) >= 3),
      jvh AS (
        SELECT doc_id,
          list_distinct([CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) for g in shingles]) AS hs
        FROM jsh),
      cg AS (SELECT doc_id, len(hs) AS sz, unnest(hs) AS h FROM jvh),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM cg a JOIN cg b ON a.h = b.h
          AND (a.sz < b.sz OR (a.sz = b.sz AND a.doc_id < b.doc_id)))
      SELECT c.doc_a, c.doc_b,
        len(list_intersect(x.hs, y.hs))::DOUBLE / len(x.hs) AS containment
      FROM cand c
      JOIN jvh x ON x.doc_id = c.doc_a
      JOIN jvh y ON y.doc_id = c.doc_b
      WHERE len(list_intersect(x.hs, y.hs))::DOUBLE / len(x.hs) >= 0.8"""))

  /** Gopher rule-set filter over a deterministically "corrupted" corpus:
    * the raw documents are single-line word salad, so the entry injects
    * each failure mode by doc_id class (symbol runs, all-bullet lines,
    * ellipsis endings, numeric-word padding — CASE order pinned in both
    * engines) so every rule flag fires both ways at every SF. */
  val tGopherRules: Q = Q(
    "t_gopher_rules",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir)
      val corrupted = docs.select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" ############")))
          .when(col("doc_id") % 5 === 0, concat(lit("- "), col("text")))
          .when(col("doc_id") % 11 === 0,
            concat(col("text"), lit("\nto be continued...")))
          .when(col("doc_id") % 13 === 0, concat(col("text"),
            lit(" 111 222 333 444 555 666 777 888 999 000" * 3)))
          .when(col("doc_id") % 17 === 0, concat(col("text"), lit(" " + ("xy" * 1000))))
          .when(col("doc_id") % 19 === 0, concat(col("text"), lit(" a" * 200)))
          .otherwise(col("text")).as("text"))
      TextAnalysis.gopherRules(corrupted, minWords = 15, maxWords = 80,
        requiredStops = Seq("the", "a", "of", "and", "to", "is"))
    },
    oracle = Some("""
      WITH c AS (SELECT doc_id, coalesce(
          CASE WHEN doc_id % 7 = 0 THEN text || ' ############'
               WHEN doc_id % 5 = 0 THEN '- ' || text
               WHEN doc_id % 11 = 0 THEN text || chr(10) || 'to be continued...'
               WHEN doc_id % 13 = 0 THEN text ||
                 repeat(' 111 222 333 444 555 666 777 888 999 000', 3)
               WHEN doc_id % 17 = 0 THEN text || ' ' || repeat('xy', 1000)
               WHEN doc_id % 19 = 0 THEN text || repeat(' a', 200)
               ELSE text END, '') AS s FROM documents),
      b AS (SELECT doc_id, s,
          list_filter(regexp_split_to_array(s, '[ \t\r\n]+'), w -> w <> '') AS words,
          list_filter(list_transform(string_split(s, chr(10)), l -> trim(l)),
                      l -> l <> '') AS lines
        FROM c),
      m AS (SELECT doc_id,
          CAST(len(words) AS BIGINT) AS n_words,
          CAST(coalesce(list_sum(list_transform(words, w -> len(w))), 0) AS BIGINT) AS sum_chars,
          CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
          CAST(len(list_intersect(list_distinct(list_transform(words, w -> lower(w))),
                                  ['the','a','of','and','to','is'])) AS BIGINT) AS stop_hits,
          CAST(len(lines) AS BIGINT) AS n_lines,
          CAST(len(list_filter(lines, l -> substr(l,1,2) IN ('- ','* ','• '))) AS BIGINT) AS n_bullet,
          CAST(len(list_filter(lines, l ->
              (len(l) >= 3 AND l[-3:] = '...') OR (len(l) >= 1 AND l[-1:] = '…'))) AS BIGINT) AS n_ell_line,
          CAST(len(s) - len(replace(s, '#', '')) AS BIGINT)
            + CAST((len(s) - len(replace(s, '...', ''))) / 3 AS BIGINT)
            + CAST(len(s) - len(replace(s, '…', '')) AS BIGINT) AS n_symbols
        FROM b)
      SELECT doc_id, n_words, n_lines,
        (n_words >= 15 AND n_words <= 80) AS r_wordcount,
        (3*n_words <= sum_chars AND sum_chars <= 10*n_words) AS r_meanlen,
        (10*n_symbols <= n_words) AS r_symbol,
        (10*n_bullet <= 9*n_lines) AS r_bullets,
        (10*n_ell_line <= 3*n_lines) AS r_ellipsis,
        (5*n_alpha >= 4*n_words) AS r_alpha,
        (stop_hits >= 2) AS r_stops,
        ((n_words >= 15 AND n_words <= 80) AND
         (3*n_words <= sum_chars AND sum_chars <= 10*n_words) AND
         (10*n_symbols <= n_words) AND
         (10*n_bullet <= 9*n_lines) AND
         (10*n_ell_line <= 3*n_lines) AND
         (5*n_alpha >= 4*n_words) AND
         (stop_hits >= 2)) AS keep
      FROM m"""))

  /** Benchmark decontamination: 4-gram overlap counts of every corpus doc
    * against a benchmark slice (doc_id % 23 = 0 stands in for an eval
    * set; benchmark docs self-match by construction, so the entry is
    * non-vacuous at every SF). Downstream drop = left_anti on this
    * table. */
  val tDecontaminate: Q = Q(
    "t_decontaminate",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.contaminationTable(docs, docs.filter(col("doc_id") % 23 === 0), n = 4)
    },
    oracle = Some(s"""
      WITH toks AS (SELECT doc_id, $TOKS AS toks FROM documents),
      g AS (SELECT doc_id,
          list_distinct([array_to_string(toks[i:i+3], ' ') for i in range(1, len(toks)-2)]) AS g
        FROM toks WHERE len(toks) >= 4),
      cg AS (SELECT doc_id, unnest(g) AS gram FROM g),
      bg AS (SELECT DISTINCT unnest(g) AS gram FROM g WHERE doc_id % 23 = 0)
      SELECT cg.doc_id, COUNT(*) AS n_shared_grams
      FROM cg JOIN bg USING (gram) GROUP BY 1"""),
    headline = true)

  /** Surgical span decontamination: every token position covered by an
    * n-gram shared with the benchmark is excised and the doc rebuilt —
    * DuckDB recomposes positional grams, the hit join, covered-position
    * expansion, and the index-filtered rebuild, so the hash certifies the
    * exact excision boundaries (not just which docs were touched).
    * Benchmark = the doc_id % 23 slice, as t_decontaminate. */
  val tDecontaminateSpans: Q = Q(
    "t_decontaminate_spans",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.decontaminateSpans(docs, docs.filter(col("doc_id") % 23 === 0), n = 4)
    },
    oracle = Some(s"""
      WITH toks AS (SELECT doc_id, $TOKS AS toks FROM documents),
      g AS (SELECT doc_id,
          unnest([{'pos': i - 1, 'gram': array_to_string(toks[i:i+3], ' ')}
                  for i in range(1, len(toks) - 2)]) AS s
        FROM toks WHERE len(toks) >= 4),
      pg AS (SELECT doc_id, s.pos AS pos, s.gram AS gram FROM g),
      bg AS (SELECT DISTINCT unnest(
          list_distinct([array_to_string(toks[i:i+3], ' ') for i in range(1, len(toks) - 2)])) AS gram
        FROM toks WHERE doc_id % 23 = 0 AND len(toks) >= 4),
      h1 AS (SELECT pg.doc_id, list(DISTINCT pos) AS hp
        FROM pg JOIN bg USING (gram) GROUP BY 1),
      h2 AS (SELECT doc_id, flatten([range(p, p + 4) for p in hp]) AS cov FROM h1),
      k AS (SELECT t.doc_id,
          [t.toks[i] for i in range(1, len(t.toks) + 1)
           if NOT list_contains(coalesce(h2.cov, []), i - 1)] AS kept,
          len(t.toks) AS n_tokens
        FROM toks t LEFT JOIN h2 USING (doc_id))
      SELECT doc_id, coalesce(array_to_string(kept, ' '), '') AS text,
        n_tokens, n_tokens - len(kept) AS n_removed
      FROM k"""))

  /** Surgical span decontamination, latin STRUCTURE-PRESERVING form
    * (decontaminateSpans preserveStructure — what Curate's `excise`
    * ships since round 12): excision by CHARACTER OFFSETS through the
    * latin `tokenize_spans` kernel, so punctuation, newlines and spacing
    * SURVIVE outside the excised ranges (the token rebuild pinned by
    * t_decontaminate_spans normalizes them away — both output shapes
    * stay pinned, each by its own oracle). DuckDB recomposes the whole
    * offset pipeline from per-character class runs exactly like the cjk
    * twin ([[spanCtes]] with the latin class map), so the hash certifies
    * the exact character-level excision boundaries. */
  val tDecontaminateSpansOffset: Q = Q(
    "t_decontaminate_spans_offset",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.decontaminateSpans(docs, docs.filter(col("doc_id") % 23 === 0),
        n = 4, preserveStructure = true)
    },
    oracle = Some(s"""
      WITH ${excisionByOffsetCtes("documents", "doc_id % 23 = 0", cjk = false)}
      final AS (SELECT doc_id, text, n_tokens, n_removed FROM excised)
      SELECT * FROM final"""))

  /** Surgical span decontamination in CJK mode — excision by CHARACTER
    * OFFSETS (decontaminateSpans cjk: a token rebuild would duplicate
    * interior ideographs of overlapping bigrams, the round-10 latin-only
    * limitation this closes). Corpus = the zh-seeded cjkdocs; benchmark =
    * its doc_id % 23 slice (seed 9000000004 ≡ 0 mod 23 → LIVE CJK
    * excision, not just latin rows flowing through the cjk kernel).
    * DuckDB recomposes the WHOLE offset pipeline from first principles:
    * per-character class runs (window functions recover maximal
    * [a-z0-9]/CJK runs with their codepoint positions), per-run token
    * spans (latin run → one token, CJK run of L ≥ 2 → L−1 overlapping
    * bigram spans), the positional gram join, covered-position → covered
    * CHARACTER RANGE expansion, and the per-character excision rebuild —
    * so the hash certifies the exact character-level excision boundaries
    * cross-engine, including the span UNION under overlapping bigrams. */
  val tDecontaminateSpansCjk: Q = Q(
    "t_decontaminate_spans_cjk",
    run = (s, dir) => {
      val docs = curateCjkDocs(s, dir)
      TextAnalysis.decontaminateSpans(docs, docs.filter(col("doc_id") % 23 === 0),
        n = 4, cjk = true)
    },
    oracle = Some(s"""
      WITH $cjkDocsCte
      ${excisionByOffsetCtes("cjkdocs", "doc_id % 23 = 0", cjk = true)}
      final AS (SELECT doc_id, text, n_tokens, n_removed FROM excised)
      SELECT * FROM final"""))

  /** Corpus-wide repeated-span removal in CJK mode (dedupSpans cjk —
    * the sub-document C4/MassiveText stage by CHARACTER OFFSETS, the
    * decontaminateSpans-cjk sibling): consecutive 8-token chunks of the
    * CJK-bigram token stream, chunk identity = the space-joined token
    * sequence, chunk extent = the half-open [own first token start,
    * next chunk's first token start) character range; chunks repeated
    * across the seeded corpus (the exact-dup zh seed pair repeats every
    * chunk — LIVE CJK bans) are excised from lower(text) per character.
    * DuckDB recomposes chunking, the corpus ban count, and the
    * per-character excision on top of the shared span recomposition
    * ([[spanCtes]]), so the hash certifies the excision boundaries
    * including the no-neighbor-clipping partition property. */
  val tDedupSpansCjk: Q = Q(
    "t_dedup_spans_cjk",
    run = (s, dir) =>
      Dedup.dedupSpans(curateCjkDocs(s, dir), k = 8, maxOcc = 1, cjk = true),
    oracle = Some(s"""
      WITH $cjkDocsCte
      ${spanCtes("cjkdocs", cjk = true)}
      xck AS (SELECT doc_id, lt, spans,
          [{'span': array_to_string([x.t for x in spans[i*8 + 1 : (i+1)*8]], ' '),
            'cs': struct_extract(spans[i*8 + 1], 's'),
            'ce': CASE WHEN (i+1)*8 + 1 > len(spans) THEN length(lt)
                       ELSE struct_extract(spans[(i+1)*8 + 1], 's') END}
           for i in range(0, CAST(ceil(len(spans) / 8.0) AS BIGINT))] AS chunks
        FROM xtok),
      xcf AS (SELECT doc_id, unnest(chunks) AS c FROM xck),
      xcg AS (SELECT doc_id, struct_extract(c, 'span') AS span,
              struct_extract(c, 'cs') AS cs, struct_extract(c, 'ce') AS ce
              FROM xcf),
      xcb AS (SELECT span FROM xcg GROUP BY span HAVING COUNT(*) > 1),
      xcr AS (SELECT g.doc_id, flatten(list(range(g.cs, g.ce))) AS covch,
              COUNT(*) AS n_banned
              FROM xcg g JOIN xcb USING (span) GROUP BY g.doc_id)
      SELECT k.doc_id,
        coalesce(array_to_string([substr(k.lt, i, 1) for i in range(1, length(k.lt) + 1)
                                  if NOT list_contains(coalesce(r.covch, []), i - 1)], ''), '') AS text,
        CAST(len(k.chunks) AS BIGINT) AS n_spans,
        CAST(len(k.chunks) - coalesce(r.n_banned, 0) AS BIGINT) AS n_kept
      FROM xck k LEFT JOIN xcr r USING (doc_id)"""))

  /** Span-excision CTE chain by character offset, BOTH modes
    * (decontaminateSpans' offset arm at n=4 — the per-character
    * recomposition): character class runs → token spans → positional
    * gram join vs the `benchPred` slice → covered token positions →
    * covered CHARACTER ranges → per-char rebuild. Ends in
    * `excised(doc_id, text, n_tokens, n_removed)` covering EVERY doc of
    * `docsRel`; prefix-style (trailing comma) so it drops into
    * curateStatsOracle's `prefixCtes`, which is how the
    * t_curate_excised / t_curate_cjk_excised entries feed the excised
    * corpus through the UNCHANGED pipeline chain. All CTE names are
    * x-prefixed to stay disjoint from the curate chain's. */
  /** The tokenize-with-spans recomposition in DuckDB, BOTH modes (shared
    * front half of [[excisionByOffsetCtes]] and the chunked span-dedup
    * oracle): per-character class runs → per-run token spans →
    * `xtok(doc_id, lt, spans, toks)` covering every doc of `docsRel`,
    * spans as struct(t, s, e) with 0-based codepoint offsets into
    * lower(text). cjk = true recomposes `tokenize_spans_cjk` (latin runs
    * + CJK runs split to overlapping bigrams); cjk = false recomposes
    * the latin `tokenize_spans` (only [a-z0-9] runs are tokens — CJK
    * characters are plain separators). Prefix-style (trailing comma). */
  private def spanCtes(docsRel: String, cjk: Boolean): String = {
    val classCase =
      if (cjk) """CASE WHEN regexp_matches(c, '^[a-z0-9]$') THEN 'w'
                   WHEN regexp_matches(c, '^[一-鿿]$') THEN 'k'
                   ELSE 'x' END"""
      else """CASE WHEN regexp_matches(c, '^[a-z0-9]$') THEN 'w' ELSE 'x' END"""
    val splitCase =
      if (cjk) """CASE WHEN k = 'w' OR re = rs
                    THEN [{'t': piece, 's': rs - 1, 'e': re}]
                    ELSE [{'t': substr(piece, j + 1, 2),
                           's': rs - 1 + j, 'e': rs + 1 + j}
                          for j in range(0, re - rs)] END"""
      else """[{'t': piece, 's': rs - 1, 'e': re}]"""
    s"""
      xd AS (SELECT doc_id, lower(coalesce(text, '')) AS lt FROM $docsRel),
      xch0 AS (SELECT doc_id, lt, unnest(range(1, length(lt) + 1)) AS i FROM xd),
      xch AS (SELECT doc_id, i, substr(lt, i, 1) AS c FROM xch0),
      xcl AS (SELECT doc_id, i, c,
              $classCase AS k FROM xch),
      xrb AS (SELECT doc_id, i, c, k,
              CASE WHEN lag(k) OVER (PARTITION BY doc_id ORDER BY i)
                        IS DISTINCT FROM k THEN 1 ELSE 0 END AS nb FROM xcl),
      xrr AS (SELECT doc_id, i, c, k,
              SUM(nb) OVER (PARTITION BY doc_id ORDER BY i) AS run FROM xrb),
      xruns AS (SELECT doc_id, run, min(k) AS k, min(i) AS rs, max(i) AS re,
                string_agg(c, '' ORDER BY i) AS piece
              FROM xrr WHERE k <> 'x' GROUP BY doc_id, run),
      xspl AS (SELECT doc_id, rs,
               $splitCase AS sl FROM xruns),
      xspagg AS (SELECT doc_id, flatten(list(sl ORDER BY rs)) AS spans
                FROM xspl GROUP BY doc_id),
      xtok AS (SELECT xd.doc_id, xd.lt,
                  coalesce(sp.spans, []) AS spans,
                  list_transform(coalesce(sp.spans, []), x -> x.t) AS toks
                 FROM xd LEFT JOIN xspagg sp USING (doc_id)),"""
  }

  private def excisionByOffsetCtes(docsRel: String, benchPred: String,
      cjk: Boolean): String =
    spanCtes(docsRel, cjk) + s"""
      xg AS (SELECT doc_id,
             unnest([{'pos': i - 1, 'gram': array_to_string(toks[i:i+3], ' ')}
                     for i in range(1, len(toks) - 2)]) AS s
            FROM xtok WHERE len(toks) >= 4),
      xpg AS (SELECT doc_id, s.pos AS pos, s.gram AS gram FROM xg),
      xbg AS (SELECT DISTINCT unnest(
              list_distinct([array_to_string(toks[i:i+3], ' ')
                             for i in range(1, len(toks) - 2)])) AS gram
            FROM xtok WHERE ($benchPred) AND len(toks) >= 4),
      xh1 AS (SELECT xpg.doc_id, list(DISTINCT pos) AS hp
             FROM xpg JOIN xbg USING (gram) GROUP BY 1),
      xh2 AS (SELECT doc_id,
              list_distinct(flatten([range(p, p + 4) for p in hp])) AS cov
             FROM xh1),
      xcv AS (SELECT t.doc_id, t.lt, t.spans, t.toks, coalesce(xh2.cov, []) AS cov
             FROM xtok t LEFT JOIN xh2 USING (doc_id)),
      xcc AS (SELECT doc_id, lt, toks, cov,
              flatten([range(struct_extract(spans[i + 1], 's'),
                             struct_extract(spans[i + 1], 'e')) for i in cov]) AS covch
             FROM xcv),
      excised AS MATERIALIZED (SELECT doc_id,
        coalesce(array_to_string([substr(lt, i, 1) for i in range(1, length(lt) + 1)
                                  if NOT list_contains(covch, i - 1)], ''), '') AS text,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        CAST(len(cov) AS BIGINT) AS n_removed
      FROM xcc),"""

  /** Bloom-filter decontamination, self-gated against the exact join: the
    * `ok` column asserts (a) NO false negatives — every doc the exact join
    * flags has n_bf_grams >= its true shared-gram count (the Bloom
    * guarantee), and (b) false-positive docs stay under 2% of the corpus
    * (fpp=1e-6 per gram puts the expectation near zero; the margin keeps
    * the gate stable across SFs, per the self-validating-bounds rule).
    * DuckDB reproduces n_docs / n_contaminated exactly and ok=TRUE. */
  val tDecontaminateBloom: Q = Q(
    "t_decontaminate_bloom",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("doc_id") % 23 === 0)
      val bloom = TextAnalysis.contaminationBloom(docs, bench, n = 4)
      val exact = TextAnalysis.contaminationTable(docs, bench, n = 4)
      bloom.join(exact, Seq("doc_id"), "left")
        .agg(
          count(lit(1)).as("n_docs"),
          count(col("n_shared_grams")).as("n_contaminated"),
          ((sum(when(col("n_shared_grams").isNotNull &&
                col("n_bf_grams") < col("n_shared_grams"), 1L).otherwise(0L)) === 0L) &&
            (sum(when(col("n_shared_grams").isNull && col("n_bf_grams") > 0L, 1L)
              .otherwise(0L)) <= greatest(lit(1L), ceil(count(lit(1)) * lit(0.02)))))
            .as("ok"))
    },
    oracle = Some(s"""
      WITH toks AS (SELECT doc_id, $TOKS AS toks FROM documents),
      g AS (SELECT doc_id,
          list_distinct([array_to_string(toks[i:i+3], ' ') for i in range(1, len(toks)-2)]) AS g
        FROM toks WHERE len(toks) >= 4),
      cg AS (SELECT doc_id, unnest(g) AS gram FROM g),
      bg AS (SELECT DISTINCT unnest(g) AS gram FROM g WHERE doc_id % 23 = 0),
      ex AS (SELECT cg.doc_id FROM cg JOIN bg USING (gram) GROUP BY 1)
      SELECT (SELECT COUNT(*) FROM g) AS n_docs,
             (SELECT COUNT(*) FROM ex) AS n_contaminated,
             TRUE AS ok"""))

  /** Deterministic train/val/test assignment: md5-bucket per doc_id, so
    * the oracle reproduces the exact carve — the reproducibility-across-
    * engines property Spark's own randomSplit cannot give. */
  val tSplitAssign: Q = Q(
    "t_split_assign",
    run = (s, dir) => Sampling.assignSplits(
      Tables.documents(s, dir).select(col("doc_id")), col("doc_id"),
      Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))),
    oracle = Some("""
      SELECT doc_id,
        CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val' ELSE 'test' END AS split
      FROM (SELECT doc_id,
          CAST(('0x' || substr(md5(coalesce('v:' || CAST(doc_id AS VARCHAR), 'null:')), 1, 8))
            AS BIGINT) % 10000 AS b
        FROM documents)"""))

  /** Leakage-safe carve: the SAME md5-bucket carve as t_split_assign but
    * keyed on the doc's near-dup CLUSTER label (minhash pairs → recursive
    * closure), so near-twins can never straddle train/test. The oracle
    * recomputes the closure (shared CTE chain with t_dedup_clusters) and
    * the group-keyed hash, certifying member-inherits-cluster-split
    * end-to-end. */
  val tSplitLeakageSafe: Q = Q(
    "t_split_leakage_safe",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir)
      val clusters = Dedup.duplicateClusters(Dedup.minhashLshPairs(docs))
      Sampling.leakageSafeSplit(docs, clusters,
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
    },
    oracle = Some(clustersClosureCtes + """,
      cl AS (SELECT doc_id, MIN(root) AS cluster FROM reach GROUP BY doc_id),
      keyed AS (SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS group_key
        FROM documents d LEFT JOIN cl USING (doc_id)),
      bk AS (SELECT doc_id, group_key,
          CAST(('0x' || substr(md5(coalesce('v:' || CAST(group_key AS VARCHAR), 'null:')), 1, 8))
            AS BIGINT) % 10000 AS b
        FROM keyed)
      SELECT doc_id, group_key,
        CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val' ELSE 'test' END AS split
      FROM bk"""))

  /** Per-language deterministic downsampling (corpus re-mixing): en kept
    * at 50%, de at 25%, everything else untouched; the stratum seeds the
    * hash so strata sample independently. */
  val tStratifiedSample: Q = Q(
    "t_stratified_sample",
    run = (s, dir) => Sampling.stratifiedSample(
      Tables.documents(s, dir), col("doc_id"), col("lang"),
      Seq(("en", 0.5), ("de", 0.25)), defaultRate = 1.0)
      .select(col("doc_id"), col("lang")),
    oracle = Some("""
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
          CAST(('0x' || substr(md5(
              coalesce('v:' || lang, 'null:') || ':' ||
              coalesce('v:' || CAST(doc_id AS VARCHAR), 'null:')), 1, 8)) AS BIGINT)
            % 10000 AS b,
          CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500 ELSE 10000 END AS thr
        FROM documents)
      WHERE b < thr"""))

  /** Per-doc top-5 salient terms (log-free tf-idf — see operator scaladoc
    * for why tf/df replaces tf·ln(N/df) under a cross-engine hash gate). */
  val tTfidfTopTerms: Q = Q(
    "t_tfidf_top_terms",
    run = (s, dir) => TextAnalysis.tfIdfTopTerms(Tables.documents(s, dir), k = 5),
    oracle = Some(s"""
      WITH toks AS (SELECT doc_id, $TOKS AS toks FROM documents),
      t AS (SELECT doc_id, unnest(toks) AS term FROM toks),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
      df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
          tf.tf::DOUBLE / df.df AS score,
          ROW_NUMBER() OVER (PARTITION BY tf.doc_id
            ORDER BY tf.tf::DOUBLE / df.df DESC, tf.term ASC) AS rank
        FROM tf JOIN df USING (term))
      SELECT doc_id, term, tf, df, score, rank FROM s WHERE rank <= 5"""))

  /** Deterministic sequence packing (budget 512 tokens, 8 shards), via the
    * PRODUCTION distributed-prefix-sum form (parallelism ≥ partitions, not
    * capped at `shards`) — the oracle recomputes the single-window
    * definitional form, so the hash match proves the two-pass offset
    * decomposition reproduces every (shard, pack, offset) assignment
    * exactly (SamplingSpec additionally asserts it row-for-row against
    * packSequences). */
  val tPackSequences: Q = Q(
    "t_pack_sequences",
    run = (s, dir) => Sampling.packSequencesScalable(
      Tables.documents(s, dir), budget = 512, shards = 8),
    oracle = Some(s"""
      WITH t AS (
        SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS n_tokens,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS shard
        FROM documents)
      SELECT doc_id, shard,
        CAST(floor((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)::DOUBLE
          / 512) AS BIGINT) AS pack_id,
        n_tokens
      FROM t"""))

  /** Per-source quota (corpus mixing): at most 15 docs per `source`,
    * selected deterministically by full-32-bit-hash order — the oracle
    * reproduces the exact winners, proving the quota is engine-stable (an
    * RNG-sampled quota could not be oracle-checked). Cap 15 < the 25
    * docs/source of the smallest SFs, so the quota bites (drops rows) at
    * every SF. */
  val tCapPerSource: Q = Q(
    "t_cap_per_source",
    run = (s, dir) => Sampling.capPerStratum(
      Tables.documents(s, dir).select(col("doc_id"), col("source")),
      col("doc_id"), col("source"), maxRows = 15),
    oracle = Some("""
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY
            CAST(('0x' || substr(md5(coalesce('v:' || CAST(doc_id AS VARCHAR), 'null:')), 1, 8))
              AS BIGINT) ASC, doc_id ASC) AS rk
        FROM documents)
      WHERE rk <= 15"""))

  /** Per-language eval carve (20 held-out docs per lang): every doc
    * labeled, quotas by full-hash order, NULL-free keys — the guaranteed
    * minimum-eval-slice construction. */
  val tEvalCarve: Q = Q(
    "t_eval_carve",
    run = (s, dir) => Sampling.evalCarve(
      Tables.documents(s, dir).select(col("doc_id"), col("lang")),
      col("doc_id"), col("lang"), nEval = 20),
    oracle = Some("""
      SELECT doc_id, lang,
        CASE WHEN rk <= 20 THEN 'eval' ELSE 'train' END AS split
      FROM (
        SELECT doc_id, lang,
          ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
            CAST(('0x' || substr(md5(coalesce('v:' || CAST(doc_id AS VARCHAR), 'null:')), 1, 8))
              AS BIGINT) ASC, doc_id ASC) AS rk
        FROM documents)"""))

  /** Eval carve under NON-UNIQUE keys: every 4th doc appears twice (a
    * re-crawled row), and the quota must still carve 20 DISTINCT keys
    * per lang — duplicates of one key consume ONE slot, and both copies
    * of an eval key label `eval`. A row-capped rank would quietly
    * under-fill the slice (the duplicate burns quota); this entry pins
    * the distinct-(key, stratum) contract. */
  val tEvalCarveDupkeys: Q = Q(
    "t_eval_carve_dupkeys",
    run = (s, dir) => {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      Sampling.evalCarve(
        base.unionByName(base.filter(col("doc_id") % 4 === 0)),
        col("doc_id"), col("lang"), nEval = 20)
    },
    oracle = Some("""
      WITH c AS (
        SELECT doc_id, lang FROM documents
        UNION ALL
        SELECT doc_id, lang FROM documents WHERE doc_id % 4 = 0),
      dk AS (SELECT DISTINCT doc_id, lang FROM c),
      ev AS (SELECT doc_id FROM (
          SELECT doc_id, lang,
            ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
              CAST(('0x' || substr(md5(coalesce('v:' || CAST(doc_id AS VARCHAR), 'null:')), 1, 8))
                AS BIGINT) ASC, doc_id ASC) AS rk
          FROM dk)
        WHERE rk <= 20)
      SELECT c.doc_id, c.lang,
        CASE WHEN ev.doc_id IS NOT NULL THEN 'eval' ELSE 'train' END AS split
      FROM c LEFT JOIN ev ON c.doc_id = ev.doc_id"""))

  /** Temperature-flattened language mixing (alpha = 0.5, scale = 4):
    * stratum s keeps floor(4·sqrt(n_s) + 0.5) docs by hash order — the
    * multilingual exponentiated-sampling rule over the SKEWED lang
    * column (en is ~3× the others, so the entry exercises differential
    * flattening, not just a uniform cap). alpha = 0.5 keeps the target
    * arithmetic inside correctly-rounded IEEE ops (sqrt), so the oracle
    * reproduces the exact kept set. */
  val tTemperatureMix: Q = Q(
    "t_temperature_mix",
    run = (s, dir) => Sampling.temperatureQuota(
      Tables.documents(s, dir).select(col("doc_id"), col("lang")),
      col("doc_id"), col("lang"), alpha = 0.5, scale = 4.0),
    oracle = Some("""
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
          ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
            CAST(('0x' || substr(md5(coalesce('v:' || CAST(doc_id AS VARCHAR), 'null:')), 1, 8))
              AS BIGINT) ASC, doc_id ASC) AS rk,
          COUNT(*) OVER (PARTITION BY lang) AS n
        FROM documents)
      WHERE rk <= CAST(floor(4.0 * sqrt(n::DOUBLE) + 0.5) AS BIGINT)"""))

  /** Token-budget source mixing: budgets written in TOKENS, not rows —
    * src0 caps at 400, src1 at 800, src2 is effectively uncapped
    * (2·10^6 > any SF's volume, proving pass-through), every other
    * source defaults to 600; at every SF each source holds 1.1k+ tokens
    * so the capped budgets all bite. Docs fill each budget in the
    * deterministic full-hash order, the straddling doc kept — the oracle
    * reproduces the exact kept set including the boundary doc per
    * source. */
  val tTokenBudgetMix: Q = Q(
    "t_token_budget_mix",
    run = (s, dir) => Sampling.tokenBudgetQuota(
      Tables.documents(s, dir).select(col("doc_id"), col("text"), col("source")),
      col("doc_id"), col("source"),
      budgets = Seq("src0" -> 400L, "src1" -> 800L, "src2" -> 2000000L),
      defaultBudget = 600L)
      .select(col("doc_id"), col("source")),
    oracle = Some(s"""
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
          SUM(n) OVER (PARTITION BY source ORDER BY
            CAST(('0x' || substr(md5(coalesce('v:' || CAST(doc_id AS VARCHAR), 'null:')), 1, 8))
              AS BIGINT) ASC, doc_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS cb
        FROM (SELECT doc_id, source, len($TOKS) AS n FROM documents))
      WHERE cb < CASE source WHEN 'src0' THEN 400 WHEN 'src1' THEN 800
                             WHEN 'src2' THEN 2000000 ELSE 600 END"""))

  /** Integer upsampling mix: src0 repeats 3x, src1 2x, src2 drops
    * (factor 0 — the blocklist case), everything else passes once; the
    * epoch column distinguishes copies. Map-side bounded explode, no
    * shuffle. */
  val tUpsampleMix: Q = Q(
    "t_upsample_mix",
    run = (s, dir) => Sampling.upsampleByFactor(
      Tables.documents(s, dir).select(col("doc_id"), col("source")),
      col("source"), factors = Seq("src0" -> 3, "src1" -> 2, "src2" -> 0))
      .select(col("doc_id"), col("source"), col("epoch")),
    oracle = Some("""
      SELECT doc_id, source, CAST(e AS INT) AS epoch
      FROM documents, LATERAL unnest(range(
        CASE source WHEN 'src0' THEN 3 WHEN 'src1' THEN 2
                    WHEN 'src2' THEN 0 ELSE 1 END)) AS t(e)"""))

  /** Fixed-budget corpus sample: the 100 smallest (seeded hash, key)
    * rows — the eval-set carve with a row budget. Plans as
    * TakeOrderedAndProject (per-partition heaps, no global sort). */
  val tSampleFixed: Q = Q(
    "t_sample_fixed",
    run = (s, dir) => Sampling.sampleFixed(
      Tables.documents(s, dir).select(col("doc_id")), col("doc_id"), n = 100, seed = "ev"),
    oracle = Some("""
      SELECT doc_id FROM (
        SELECT doc_id FROM documents
        ORDER BY CAST(('0x' || substr(md5('ev:' || coalesce('v:' || CAST(doc_id AS VARCHAR), 'null:')), 1, 8))
            AS BIGINT) ASC, doc_id ASC
        LIMIT 100)"""))

  /** Deterministic global shuffle order via the distributed prefix rank:
    * the oracle's single global `ROW_NUMBER() OVER (ORDER BY hash, key)`
    * must equal the two-pass range-partition + offset + local-rank
    * decomposition exactly — the hash match proves the scalable form
    * computes the same permutation a global sort would. */
  val tShuffleRank: Q = Q(
    "t_shuffle_rank",
    run = (s, dir) => Sampling.shuffleRank(
      Tables.documents(s, dir).select(col("doc_id")), col("doc_id"))
      .select(col("doc_id"), col("shuffle_pos")),
    oracle = Some("""
      SELECT doc_id,
        ROW_NUMBER() OVER (ORDER BY
          CAST(('0x' || substr(md5(coalesce('v:' || CAST(doc_id AS VARCHAR), 'null:')), 1, 8))
            AS BIGINT) ASC, doc_id ASC) - 1 AS shuffle_pos
      FROM documents"""))

  /** Token-window chunking (32-token chunks, 8-token overlap): every
    * (doc, chunk) row with rebuilt text and token count, oracle-rebuilt
    * byte-exactly — the RAG/long-doc context splitter. */
  val tChunkDocs: Q = Q(
    "t_chunk_docs",
    run = (s, dir) => TextAnalysis.chunkDocs(Tables.documents(s, dir),
      chunkTokens = 32, overlap = 8),
    oracle = Some(s"""
      WITH toks AS (SELECT doc_id, $TOKS AS toks FROM documents),
      t AS (SELECT doc_id, toks FROM toks WHERE len(toks) > 0),
      c AS (SELECT doc_id, toks,
          unnest(range(0, greatest(0,
            CAST(ceil((len(toks) - 32)::DOUBLE / 24) AS BIGINT)) + 1)) AS chunk_id
        FROM t)
      SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        array_to_string(toks[chunk_id*24+1 : chunk_id*24+32], ' ') AS text,
        CAST(least(32, len(toks) - chunk_id*24) AS BIGINT) AS n_tokens
      FROM c"""))

  /** Top-20 corpus vocabulary with occurrence counts, doc frequencies,
    * and a deterministic rank (ties by term ascending — the cut at k is a
    * total order, so the oracle reproduces the exact table; k=20 < the
    * corpus' 31 distinct terms, so the cut and its tie-break are
    * exercised, not just the counts). */
  val tVocabulary: Q = Q(
    "t_vocabulary",
    run = (s, dir) => TextAnalysis.vocabulary(Tables.documents(s, dir), k = 20),
    oracle = Some(s"""
      WITH toks AS (SELECT doc_id, $TOKS AS toks FROM documents),
      t AS (SELECT doc_id, unnest(toks) AS term FROM toks),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
      v AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS n_occurrences,
              COUNT(*) AS doc_freq FROM tf GROUP BY 1),
      r AS (SELECT term, n_occurrences, doc_freq,
              ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, term ASC) AS rank
            FROM v)
      SELECT term, n_occurrences, doc_freq, rank FROM r WHERE rank <= 20"""))

  /** Term drift, even-half vs odd-half corpus (plus a planted burst:
    * the odd side appends ' breaking breaking update' to every 11th doc
    * so a real shift exists above sampling noise): counts, the bounded
    * ppb-frequency shift (identical DECIMAL/HUGEINT quantization on both
    * engines), tie order, and the k-cut in one hash. */
  val tTermDrift: Q = Q(
    "t_term_drift",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.termDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"),
          when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" breaking breaking update")))
            .otherwise(col("text")).as("text")),
        k = 30)
    },
    oracle = Some(s"""
      WITH av AS (SELECT unnest($TOKS) AS w FROM documents WHERE doc_id % 2 = 0),
      bdocs AS (SELECT CASE WHEN doc_id % 11 = 0
                  THEN text || ' breaking breaking update' ELSE text END AS text
                FROM documents WHERE doc_id % 2 = 1),
      bv AS (SELECT unnest($TOKS) AS w FROM bdocs),
      ca AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c_a FROM av GROUP BY 1),
      cb AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c_b FROM bv GROUP BY 1),
      na AS (SELECT CAST(COALESCE(SUM(c_a), 0) AS BIGINT) AS n_a FROM ca),
      nb AS (SELECT CAST(COALESCE(SUM(c_b), 0) AS BIGINT) AS n_b FROM cb),
      j AS (SELECT coalesce(ca.w, cb.w) AS w,
              coalesce(ca.c_a, 0) AS c_a, coalesce(cb.c_b, 0) AS c_b
            FROM ca FULL JOIN cb ON ca.w = cb.w),
      sc AS (SELECT w, c_a, c_b,
               CAST(abs(
                 CASE WHEN na.n_a = 0 THEN 0
                      ELSE (CAST(c_a AS HUGEINT) * 1000000000) // na.n_a END
                 - CASE WHEN nb.n_b = 0 THEN 0
                        ELSE (CAST(c_b AS HUGEINT) * 1000000000) // nb.n_b END)
                 AS BIGINT) AS shift_ppb
             FROM j, na, nb),
      r AS (SELECT w, c_a, c_b, shift_ppb,
              ROW_NUMBER() OVER (ORDER BY shift_ppb DESC, w ASC) AS rank
            FROM sc)
      SELECT w, c_a, c_b, shift_ppb, rank FROM r WHERE rank <= 30"""))

  /** Corpus version stamp over a corpus with planted duplicates (every
    * 9th doc re-keyed +700000): n_docs counts rows, n_distinct_fp and
    * the version digest ignore the copies — duplicate-invariance and
    * the digest arithmetic certified in one hash. */
  val tCorpusVersion: Q = Q(
    "t_corpus_version",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      TextAnalysis.corpusVersion(docs.unionByName(
        docs.filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 700000L).as("doc_id"), col("text"))))
    },
    oracle = Some("""
      WITH c AS (
        SELECT text FROM documents
        UNION ALL
        SELECT text FROM documents WHERE doc_id % 9 = 0),
      f AS (SELECT coalesce(
          md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 'null:') AS fp
        FROM c)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct_fp,
        CAST(COALESCE(SUM(DISTINCT
            CAST(('0x' || substr(md5(fp), 1, 8)) AS BIGINT))
          % CAST('9223372036854775808' AS HUGEINT), 0) AS BIGINT) AS version
      FROM f"""))

  /** Top-30 collocations: bigram association ranking with the exact
    * integer surrogate score — counts, score arithmetic, tie order, and
    * the k-cut all certified in one hash. */
  val tCollocations: Q = Q(
    "t_collocations",
    run = (s, dir) => TextAnalysis.collocations(Tables.documents(s, dir), k = 30),
    oracle = Some(s"""
      WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
      tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
      bg AS (SELECT unnest([toks[j] || ' ' || toks[j+1] for j in range(1, len(toks))]) AS g
             FROM tt),
      c2 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c_ab FROM bg GROUP BY 1),
      c1 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
             FROM (SELECT unnest(toks) AS w FROM tt) z GROUP BY 1),
      sc AS (SELECT g, c_ab,
               CAST((CAST(c_ab AS HUGEINT) * 1000000000)
                 // (CAST(a.c AS HUGEINT) * b.c) AS BIGINT) AS score_micro
             FROM c2
             JOIN c1 a ON split_part(g, ' ', 1) = a.w
             JOIN c1 b ON split_part(g, ' ', 2) = b.w),
      r AS (SELECT g, c_ab, score_micro,
              ROW_NUMBER() OVER (ORDER BY score_micro DESC, g ASC) AS rank
            FROM sc)
      SELECT g, c_ab, score_micro, rank FROM r WHERE rank <= 30"""))

  /** Vocabulary coverage: a 30-term vocab trained on the even-doc_id half
    * (the train/apply split), OOV accounting over the WHOLE corpus —
    * vocab build, deterministic rank cut, and per-doc coverage certified
    * in one hash. */
  val tVocabCoverage: Q = Q(
    "t_vocab_coverage",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = TextAnalysis.vocabulary(docs.filter(col("doc_id") % 2 === 0), k = 30)
      TextAnalysis.vocabCoverage(docs, vocab)
    },
    oracle = Some(s"""
      WITH toks AS (SELECT doc_id, $TOKS AS toks FROM documents),
      vt AS (SELECT doc_id, unnest(toks) AS term FROM toks WHERE doc_id % 2 = 0),
      vtf AS (SELECT doc_id, term, COUNT(*) AS tf FROM vt GROUP BY 1, 2),
      vv AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS n_occ FROM vtf GROUP BY 1),
      vr AS (SELECT term,
               ROW_NUMBER() OVER (ORDER BY n_occ DESC, term ASC) AS rank FROM vv),
      vocab AS (SELECT term FROM vr WHERE rank <= 30),
      ct AS (SELECT doc_id, unnest(toks) AS term FROM toks),
      cov AS (SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_in_vocab
             FROM ct t LEFT JOIN vocab v USING (term) GROUP BY 1)
      SELECT k.doc_id,
        coalesce(c.n_tokens, 0) AS n_tokens,
        coalesce(c.n_in_vocab, 0) AS n_in_vocab,
        coalesce(c.n_tokens, 0) - coalesce(c.n_in_vocab, 0) AS n_oov
      FROM toks k LEFT JOIN cov c USING (doc_id)"""))

  /** (doc_id, token count) with both dims Morton-bucketed at 8 bits —
    * shared CTE chain for the z-order oracles: the same integer bucket-
    * shift rule as Layout.bucketShift, then the bit interleave unrolled
    * as shift/mask/add. Ends in CTE `zt(doc_id, n_tokens, z)`. */
  private val zorderDocsCte: String = {
    val interleave = (0 until 8).flatMap(b => Seq(
      s"(((v0 >> $b) & 1) << ${2 * b})",
      s"(((v1 >> $b) & 1) << ${2 * b + 1})")).mkString(" + ")
    s"""
      WITH t AS (SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS n_tokens FROM documents),
      b AS (SELECT MIN(doc_id) AS lo0, MAX(doc_id) AS hi0,
                   MIN(n_tokens) AS lo1, MAX(n_tokens) AS hi1 FROM t),
      sh AS (SELECT
        (SELECT MIN(s) FROM range(0, 56) r(s)
         WHERE (((SELECT hi0 FROM b) - (SELECT lo0 FROM b)) >> s) < 256) AS s0,
        (SELECT MIN(s) FROM range(0, 56) r(s)
         WHERE (((SELECT hi1 FROM b) - (SELECT lo1 FROM b)) >> s) < 256) AS s1),
      v AS (SELECT doc_id, n_tokens,
              (doc_id - (SELECT lo0 FROM b)) >> (SELECT s0 FROM sh) AS v0,
              (n_tokens - (SELECT lo1 FROM b)) >> (SELECT s1 FROM sh) AS v1
            FROM t),
      zt AS (SELECT doc_id, n_tokens, CAST($interleave AS BIGINT) AS z FROM v)"""
  }

  /** documents projected to the z-order dimensions (doc_id, n_tokens). */
  private def zorderDocs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.documents(s, dir).select(col("doc_id"),
      size(graft.functions.TextFunctions.tokensFused(col("text")))
        .cast("long").as("n_tokens"))

  /** Morton (Z-order) layout keys over (doc_id, token count) at 8 bits
    * per dimension — the multi-column data-skipping layout key, all
    * integer arithmetic (power-of-two bucket shifts derived by the same
    * integer rule on both engines, bit interleave as shift/mask/add).
    * Sorting files by this key is what makes min/max row-group pruning
    * work on BOTH dimensions at 100 TB. */
  val tZorderValues: Q = Q(
    "t_zorder_values",
    run = (s, dir) =>
      Layout.zorderFrame(zorderDocs(s, dir), Seq("doc_id", "n_tokens"), bits = 8),
    oracle = Some(
      s"$zorderDocsCte SELECT doc_id, n_tokens, z FROM zt"))

  /** Zone map of the z-clustered layout: per coarse z-bucket (top 6 of
    * the 16 key bits) the row count and each dimension's min/max — the
    * file-skipping index `Layout.prunedRead` consults. Exactly the
    * per-directory parquet footer stats a clustered write produces, as
    * one oracle-checkable aggregate. */
  val tZoneMap: Q = Q(
    "t_zone_map",
    run = (s, dir) => {
      val z = Layout.zorderFrame(zorderDocs(s, dir), Seq("doc_id", "n_tokens"), bits = 8)
        .withColumn("zb", Layout.zBucket(col("z"), 2, 8, 6))
      Layout.zoneMapOf(z, Seq("doc_id", "n_tokens"))
    },
    oracle = Some(s"""
      $zorderDocsCte
      SELECT z >> 10 AS zb, CAST(COUNT(*) AS BIGINT) AS ct,
             MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id,
             MIN(n_tokens) AS min_n_tokens, MAX(n_tokens) AS max_n_tokens
      FROM zt GROUP BY 1"""))

  /** Membership (bloom-style) index of the z-clustered layout: per
    * coarse bucket, the sorted distinct probe-position set of its doc_id
    * values (3 md5-derived positions per value in a 512-wide space) —
    * the POINT-lookup file-skipping index `Layout.prunedPointRead`
    * consults, complementing the zone map's range pruning. The oracle
    * recomposes every position from the identical md5-prefix hashes, so
    * the hash match certifies the full index (bucket keys, position
    * sets, dedup, ordering). The position set is emitted as md5 over its
    * CSV rendering (the pinned array-compare invariant — the driver's
    * comparator cannot sort raw array columns). */
  val tMembershipIndex: Q = Q(
    "t_membership_index",
    run = (s, dir) => {
      val z = Layout.zorderFrame(zorderDocs(s, dir), Seq("doc_id", "n_tokens"), bits = 8)
        .withColumn("zb", Layout.zBucket(col("z"), 2, 8, 6))
      Layout.membershipMapOf(z, "doc_id", bits = 512, k = 3)
        .select(col("zb"), col("n_positions"),
          md5(array_join(col("positions"), ",")).as("positions_md5"))
    },
    oracle = Some(s"""
      $zorderDocsCte,
      pr AS (SELECT z >> 10 AS zb, unnest([
          CAST(('0x' || substr(md5('bf0:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 512,
          CAST(('0x' || substr(md5('bf1:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 512,
          CAST(('0x' || substr(md5('bf2:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 512
        ]) AS pos FROM zt)
      SELECT zb, CAST(COUNT(DISTINCT pos) AS BIGINT) AS n_positions,
             md5(array_to_string(list_sort(list_distinct(list(pos))), ',')) AS positions_md5
      FROM pr GROUP BY zb"""))

  /** Oracle twin of TextAnalysis.bpeMerges: k merge rounds unrolled as a
    * CTE chain — per round, pair counts over the symbol sequences, the
    * (cnt DESC, pair ASC) argmax, and the SAME three-pass
    * `replace(' l r ' -> ' lr ')` state update the Spark loop applies
    * (parity by construction: identical pass counts leave identical
    * residue even on pathological same-pair chains). */
  /** The shared k-round BPE training CTE chain (wf, r0, p_i/b_i/r_i+1):
    * bpeOracle appends the merge-list SELECT, bpeEncodeOracle appends the
    * corpus-encoding stages over the same learned b_i rows. */
  private def bpeChain(k: Int): StringBuilder = {
    // every per-round CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    // b_i is referenced six times by round i+1 — inlining makes the plan
    // tree (and the parquet re-opens) grow 6^k
    val sb = new StringBuilder
    sb ++= s"""
      WITH wf AS MATERIALIZED (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
          SELECT unnest($TOKS) AS w FROM documents) t GROUP BY w),
      r0 AS MATERIALIZED (SELECT ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS seq, f FROM wf)"""
    for (i <- 0 until k) {
      sb ++= s""",
      p$i AS MATERIALIZED (
        SELECT pair, CAST(SUM(f) AS BIGINT) AS cnt FROM (
          SELECT f, unnest([s[j] || ' ' || s[j+1] for j in range(1, len(s))]) AS pair
          FROM (SELECT string_split(trim(seq), ' ') AS s, f FROM r$i) z) zz
        GROUP BY pair),
      b$i AS MATERIALIZED (SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair ASC LIMIT 1)"""
      if (i < k - 1) sb ++= s""",
      r${i + 1} AS MATERIALIZED (
        SELECT replace(replace(replace(seq,
            ' ' || (SELECT pair FROM b$i) || ' ', ' ' || (SELECT replace(pair, ' ', '') FROM b$i) || ' '),
            ' ' || (SELECT pair FROM b$i) || ' ', ' ' || (SELECT replace(pair, ' ', '') FROM b$i) || ' '),
            ' ' || (SELECT pair FROM b$i) || ' ', ' ' || (SELECT replace(pair, ' ', '') FROM b$i) || ' ') AS seq, f
        FROM r$i)"""
    }
    sb
  }

  private def bpeOracle(k: Int): String = {
    val sb = bpeChain(k)
    sb ++= (0 until k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rank, pair, replace(pair, ' ', '') AS merged, cnt FROM b$i")
      .mkString("\n      ", "\n      UNION ALL\n      ", "")
    sb.toString
  }

  /** Deterministic BPE merge training over the corpus vocabulary: 8
    * learned merges (rank, pair, merged, cnt), ties broken by pair
    * string ascending. One corpus scan; each round runs over the vocab
    * table only. */
  val tBpeMerges: Q = Q(
    "t_bpe_merges",
    run = (s, dir) => TextAnalysis.bpeMerges(Tables.documents(s, dir), k = 8),
    oracle = Some(bpeOracle(8)))

  /** Oracle twin of the train→encode composition: re-learn the same k
    * merges (shared CTE chain), pivot the b_i rows into a 1-row merge
    * table m, and fold each word through the IDENTICAL per-merge
    * three-pass replace chain the Spark encoder applies. Words keep
    * their in-document order via zipped unnest + ORDER BY j. */
  private def bpeEncodeOracle(k: Int): String = {
    val sb = bpeChain(k)
    val cols = (0 until k).map(i =>
      s"(SELECT pair FROM b$i) AS p$i, (SELECT replace(pair, ' ', '') FROM b$i) AS g$i")
      .mkString(", ")
    val chain = (0 until k).foldLeft(
      "' ' || array_to_string(string_split(w, ''), ' ') || ' '") { (s, i) =>
      val pat = s"' ' || p$i || ' '"
      val rep = s"' ' || g$i || ' '"
      s"replace(replace(replace($s, $pat, $rep), $pat, $rep), $pat, $rep)"
    }
    sb ++= s""",
      m AS MATERIALIZED (SELECT $cols),
      d AS MATERIALIZED (SELECT doc_id, $TOKS AS toks FROM documents),
      wrd AS (SELECT doc_id, unnest(toks) AS w, unnest(range(len(toks))) AS j FROM d),
      e AS (SELECT doc_id, j, trim($chain) AS e FROM wrd, m),
      agg AS (
        SELECT doc_id, string_agg(e, ' | ' ORDER BY j) AS encoded,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(len(string_split(e, ' '))) AS BIGINT) AS n_subwords
        FROM e GROUP BY doc_id)
      SELECT d.doc_id, coalesce(a.encoded, '') AS encoded,
             CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
             CAST(coalesce(a.n_subwords, 0) AS BIGINT) AS n_subwords
      FROM d LEFT JOIN agg a ON d.doc_id = a.doc_id"""
    sb.toString
  }

  /** The engine-parity weight expression shared by the classifier and
    * importance oracles: difference of Laplace-smoothed probabilities,
    * quantized to integer micro-units — identical parenthesization to
    * Classify.microWeights (only +,-,*,/ on exact int64 inputs, every op
    * correctly rounded, so the doubles agree bit-for-bit). */
  private def microWeightSql(aB: String, cB: String, aTot: String, cTot: String,
                             b: Int): String =
    s"""CAST(floor((((CAST(coalesce($aB, 0) + 1 AS DOUBLE) / CAST(t.$aTot + $b AS DOUBLE)) * $b.0) -
               ((CAST(coalesce($cB, 0) + 1 AS DOUBLE) / CAST(t.$cTot + $b AS DOUBLE)) * $b.0)) * 1000000.0 + 0.5) AS BIGINT)"""

  /** Hashed-token quality classifier: train on the even-doc_id half
    * (label = lang 'en'), score the WHOLE corpus. The oracle recomputes
    * the same hashed buckets (md5-prefix32 % 1024), the same zero-filled
    * count table, the same micro-unit weights, and the same exact BIGINT
    * doc sums — training and inference both hash-checked end to end. */
  val tQualityClassifier: Q = Q(
    "t_quality_classifier",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir)
      val w = graft.operators.Classify.trainTokenWeights(
        docs.filter(col("doc_id") % 2 === 0), col("lang") === "en", buckets = 1024)
      graft.operators.Classify.scoreTokens(docs, w, buckets = 1024)
    },
    oracle = Some(s"""
      WITH tb AS MATERIALIZED (
        SELECT (lang = 'en') AS pos,
               CAST(('0x' || substr(md5('qc:' || tok), 1, 8)) AS BIGINT) % 1024 AS bucket
        FROM (SELECT lang, unnest($TOKS) AS tok FROM documents WHERE doc_id % 2 = 0) z),
      c AS (SELECT bucket,
              CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pos_b,
              CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS neg_b
            FROM tb GROUP BY bucket),
      t AS (SELECT CAST(SUM(pos_b) AS BIGINT) AS pos_tot,
                   CAST(SUM(neg_b) AS BIGINT) AS neg_tot FROM c),
      w AS MATERIALIZED (SELECT r.bucket,
              ${microWeightSql("c.pos_b", "c.neg_b", "pos_tot", "neg_tot", 1024)} AS w_micro
            FROM (SELECT unnest(range(1024)) AS bucket) r
            LEFT JOIN c ON r.bucket = c.bucket, t),
      db AS (SELECT doc_id,
               CAST(('0x' || substr(md5('qc:' || tok), 1, 8)) AS BIGINT) % 1024 AS bucket
             FROM (SELECT doc_id, unnest($TOKS) AS tok FROM documents) z),
      s AS (SELECT db.doc_id, CAST(SUM(w.w_micro) AS BIGINT) AS score_micro,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens
            FROM db JOIN w USING (bucket) GROUP BY db.doc_id)
      SELECT d.doc_id,
             CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
             CAST(coalesce(s.score_micro, 0) AS BIGINT) AS score_micro,
             coalesce(s.score_micro, 0) > 0 AS pred
      FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id"""))

  /** DSIR-flavored importance selection: hashed-bigram target-vs-raw
    * scores (target = lang 'en'), top 100 under (score desc, doc_id).
    * Zero-bigram docs participate with score 0 — the oracle re-ranks the
    * full corpus, so the selection boundary is certified too. */
  val tImportanceSample: Q = Q(
    "t_importance_sample",
    run = (s, dir) => {
      val scored = graft.operators.Classify.importanceWeights(
        Tables.documents(s, dir), col("lang") === "en", buckets = 1024)
      graft.operators.Classify.selectTopN(scored, 100)
    },
    oracle = Some(s"""
      WITH d AS MATERIALIZED (SELECT doc_id, (lang = 'en') AS tgt, $TOKS AS toks FROM documents),
      bg AS MATERIALIZED (
        SELECT doc_id, tgt,
               CAST(('0x' || substr(md5('ir:' || b), 1, 8)) AS BIGINT) % 1024 AS bucket
        FROM (SELECT doc_id, tgt,
                unnest([toks[j] || ' ' || toks[j+1] for j in range(1, len(toks))]) AS b
              FROM d) z),
      c AS (SELECT bucket,
              CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS tgt_b,
              CAST(COUNT(*) AS BIGINT) AS raw_b
            FROM bg GROUP BY bucket),
      t AS (SELECT CAST(SUM(tgt_b) AS BIGINT) AS tgt_tot,
                   CAST(SUM(raw_b) AS BIGINT) AS raw_tot FROM c),
      w AS MATERIALIZED (SELECT r.bucket,
              ${microWeightSql("c.tgt_b", "c.raw_b", "tgt_tot", "raw_tot", 1024)} AS w_micro
            FROM (SELECT unnest(range(1024)) AS bucket) r
            LEFT JOIN c ON r.bucket = c.bucket, t),
      s AS (SELECT bg.doc_id, CAST(SUM(w.w_micro) AS BIGINT) AS score_micro,
                   CAST(COUNT(*) AS BIGINT) AS n_bigrams
            FROM bg JOIN w USING (bucket) GROUP BY bg.doc_id),
      allscores AS (SELECT d.doc_id,
                 CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                 CAST(coalesce(s.score_micro, 0) AS BIGINT) AS score_micro
               FROM d LEFT JOIN s ON d.doc_id = s.doc_id)
      SELECT doc_id, n_bigrams, score_micro,
             CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
      FROM allscores ORDER BY score_micro DESC, doc_id ASC LIMIT 100"""))

  /** BPE train→encode composition: learn 8 merges, then segment every
    * document with them (subwords space-joined, words joined by " | ").
    * The merge table is 8 driver-embedded literals folded into one
    * map-side projection — tokenization runs at scan speed. */
  val tBpeEncode: Q = Q(
    "t_bpe_encode",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = TextAnalysis.bpeMerges(docs, k = 8)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeEncode(docs, merges)
    },
    oracle = Some(bpeEncodeOracle(8)))

  /** Distributed PCA, self-gated (the t_ann_ivf_recall pattern — an
    * eigendecomposition is not DuckDB-expressible, so the entry certifies
    * the Pythagorean identities that hold ONLY if train+project are
    * correct together): components orthonormal (driver check), spectrum
    * descending and PSD, avg ‖x−μ‖² == trace(C) (data vs model), and
    * avg residual == totalVar − Σ top-k eigenvalues within 1e-6 relative —
    * an orthonormal-projection identity that any assignment, centering, or
    * eigensolver bug breaks. DuckDB reproduces n_rows / k and ok=TRUE. */
  val tPcaEmbeddings: Q = Q(
    "t_pca_embeddings",
    run = (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val m = graft.operators.Pca.train(emb, k = 8)
      val orthoOk = (for {
        i <- m.components.indices; j <- i until m.k
      } yield math.abs(
        m.components(i).zip(m.components(j)).map { case (a, b) => a * b }.sum -
          (if (i == j) 1.0 else 0.0))).max < 1e-9
      val eigOk = m.eigenvalues.sliding(2).forall(p => p(0) >= p(1) - 1e-12) &&
        m.eigenvalues.last > -1e-9
      val sqC = aggregate(zip_with(col("embedding"), typedLit(m.mean.toSeq),
        (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x)
      graft.operators.Pca.residuals(graft.operators.Pca.project(emb, m), m)
        .agg(count(lit(1)).cast("long").as("n_rows"),
          avg(sqC).as("avg_sq"), avg(col("residual")).as("avg_resid"))
        .select(col("n_rows"), lit(8).as("k"),
          (lit(orthoOk && eigOk) &&
            abs(col("avg_sq") - lit(m.totalVar)) <= lit(1e-6 * m.totalVar) &&
            abs(col("avg_resid") - lit(m.totalVar - m.capturedVar)) <= lit(1e-6 * m.totalVar) &&
            col("avg_resid") >= lit(-1e-9)).as("ok"))
    },
    oracle = Some("SELECT COUNT(*) AS n_rows, 8 AS k, TRUE AS ok FROM embeddings"))

  /** doc_id-derived PII planting for the PII entries (the synthetic
    * documents carry no PII): emails / IPs / phones / SSNs / cards, some
    * docs carrying two types. The Spark column and the SQL build the
    * IDENTICAL augmented text. */
  private def piiAugCol: org.apache.spark.sql.Column = {
    val id = col("doc_id")
    concat(
      coalesce(col("text"), lit("")),
      when(id % 5 === 0, concat(lit(" contact user"), id.cast("string"),
        lit("@mail.example.com now"))).otherwise(lit("")),
      when(id % 5 === 1, concat(lit(" from 10."), (id % 200).cast("string"),
        lit(".0."), (id % 250).cast("string"), lit(" port"))).otherwise(lit("")),
      when(id % 5 === 2, concat(lit(" call 555-"),
        lpad((id % 1000).cast("string"), 3, "0"), lit("-0199 soon"))).otherwise(lit("")),
      when(id % 5 === 3, concat(lit(" ssn 078-05-"),
        lpad((id % 10000).cast("string"), 4, "0"), lit(" end"))).otherwise(lit("")),
      when(id % 7 === 0, lit(" card 4111-1111-1111-1111 ok")).otherwise(lit("")))
  }

  private val piiAugSql: String = """coalesce(text, '')
        || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now' ELSE '' END
        || CASE WHEN doc_id % 5 = 1 THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) || ' port' ELSE '' END
        || CASE WHEN doc_id % 5 = 2 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199 soon' ELSE '' END
        || CASE WHEN doc_id % 5 = 3 THEN ' ssn 078-05-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' end' ELSE '' END
        || CASE WHEN doc_id % 7 = 0 THEN ' card 4111-1111-1111-1111 ok' ELSE '' END"""

  /** DuckDB twin of TextAnalysis.redactPii's replace chain — GENERATED
    * from piiPatterns, so the SQL and the Spark operator cannot drift. */
  private def piiRedactSql(inner: String): String =
    TextAnalysis.piiPatterns.foldLeft(inner) { case (s, (_, pat, rep)) =>
      s"regexp_replace($s, '$pat', '$rep', 'g')"
    }

  /** PII scan + redaction over the planted-PII corpus — BOTH engines build
    * the identical augmented text, then run the identical pattern list, so
    * the hash gate certifies counts AND the redacted string
    * byte-for-byte. */
  /** Unicode NFC canonical composition (plans.NfcNormalize vs DuckDB's
    * utf8proc nfc_normalize): the corpus is ASCII, so decomposed Latin
    * (e + U+0301), precomposed Latin (NFC identity), and decomposed
    * Hangul jamo are injected by doc_id class — composition, the
    * already-normalized fast path, and codepoint-count shrinkage all
    * certified in one hash. */
  val tNfcNormalize: Q = Q(
    "t_nfc_normalize",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir)
      val raw = docs.select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" résumé")))
          .when(col("doc_id") % 4 === 0, concat(col("text"), lit(" résumé")))
          .when(col("doc_id") % 5 === 0, concat(col("text"), lit(" 가")))
          .otherwise(col("text")).as("s"))
      val n = raw.select(col("doc_id"), col("s"),
        graft.functions.TextFunctions.nfcNormalize(col("s")).as("norm_text"))
      n.select(col("doc_id"), col("norm_text"),
        (!(col("s") <=> col("norm_text"))).as("changed"),
        length(col("s")).cast("long").as("n_raw"),
        length(col("norm_text")).cast("long").as("n_norm"))
    },
    oracle = Some("""
      WITH c AS (SELECT doc_id,
          CASE WHEN doc_id % 3 = 0 THEN text || ' re' || chr(769) || 'sume' || chr(769)
               WHEN doc_id % 4 = 0 THEN text || ' résumé'
               WHEN doc_id % 5 = 0 THEN text || ' ' || chr(4352) || chr(4449)
               ELSE text END AS s
        FROM documents),
      n AS (SELECT doc_id, s, nfc_normalize(s) AS norm_text FROM c)
      SELECT doc_id, norm_text,
        (s IS DISTINCT FROM norm_text) AS changed,
        CAST(len(s) AS BIGINT) AS n_raw,
        CAST(len(norm_text) AS BIGINT) AS n_norm
      FROM n"""))

  val tPiiRedact: Q = Q(
    "t_pii_redact",
    run = (s, dir) => TextAnalysis.redactPii(
      Tables.documents(s, dir).select(col("doc_id"), piiAugCol.as("text"))),
    oracle = Some(s"""
      WITH aug AS (SELECT doc_id, $piiAugSql AS text FROM documents)
      SELECT doc_id,
        ${TextAnalysis.piiPatterns.map { case (name, pat, _) =>
          s"len(regexp_extract_all(text, '$pat', 0)) AS n_$name"
        }.mkString(",\n        ")},
        ${piiRedactSql("text")} AS redacted
      FROM aug"""))

  /** The PII scrub composed into the FULL curation pipeline: plant PII,
    * redact, then run exact dedup → MinHash → quality → language over the
    * scrubbed text — the DuckDB side recomposes scrub + every gate in one
    * query, so the hash certifies that redaction feeds the chain (changed
    * fingerprints, shingles, token counts and quality scores included),
    * not just that it runs beside it. */
  val tCurateRedacted: Q = Q(
    "t_curate_redacted",
    run = (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir).select(col("doc_id"), piiAugCol.as("text"))
      val (_, st) = graft.pipeline.Curate.runDocs(s, docs,
        graft.pipeline.Curate.Gates(redactPii = true))
      graft.pipeline.Curate.releaseCaches(s)
      Seq((st.input, st.exactDups, st.nearDups, st.lowQuality, st.unknownLang,
        st.kept, st.keptTokens))
        .toDF("input", "exact_dups", "near_dups", "low_quality",
          "unknown_lang", "kept", "kept_tokens")
    },
    oracle = Some(curateStatsOracle(
      """losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)""",
      docsRel = "rdocs",
      prefixCtes = s"""aug AS (SELECT doc_id, $piiAugSql AS text FROM documents),
      rdocs AS (SELECT doc_id, ${piiRedactSql("text")} AS text FROM aug),""")))

  /** Line-level boilerplate removal over a corpus with planted line
    * structure (the synthetic texts are single-line, so the entry builds
    * newline-delimited docs deterministically from doc_id — the
    * t_pii_redact pattern): three boilerplate lines planted at different
    * doc_id strides (each lands in ~1/3, ~1/4, ~1/7 of the corpus — far
    * over the threshold) plus one per-doc unique footer that must
    * survive. The hash gate certifies the stripped text byte-for-byte,
    * the per-doc line accounting, and that unique lines are untouched. */
  /** doc_id-derived line planting for the boilerplate entries: three hot
    * lines at strides 3/4/7 (each lands in far more than `maxDocFreq`
    * docs at every SF) plus a per-doc "doc mark <id % 1000>" line that
    * stays under the threshold at every driver SF. Spark column and SQL
    * build IDENTICAL text. */
  private def boilerAugCol: org.apache.spark.sql.Column = {
    val id = col("doc_id")
    concat(
      coalesce(col("text"), lit("")),
      when(id % 3 === 0, lit("\nsubscribe to our newsletter today")).otherwise(lit("")),
      when(id % 4 === 0, lit("\nall rights reserved 2026")).otherwise(lit("")),
      when(id % 7 === 0, lit("\naccept cookies to continue")).otherwise(lit("")),
      concat(lit("\ndoc mark "), (id % 1000).cast("string")))
  }

  private val boilerAugSql: String = """coalesce(text, '')
        || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'subscribe to our newsletter today' ELSE '' END
        || CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'all rights reserved 2026' ELSE '' END
        || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'accept cookies to continue' ELSE '' END
        || chr(10) || 'doc mark ' || CAST(doc_id % 1000 AS VARCHAR)"""

  /** DuckDB twin of stripBoilerplate's explode → hot-flag → reassemble
    * chain, as WITH-clause text: emits CTEs `<p>t` (doc_id, ls),
    * `<p>l` (exploded lines), `<p>h` (hot lines) and `<p>s`
    * (doc_id, text) reading from `from`. */
  private def stripSqlCtes(p: String, from: String, maxDocFreq: Int): String = s"""
      ${p}t AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM $from),
      ${p}l AS (SELECT doc_id,
                unnest([{'line': ls[i], 'idx': i} for i in range(1, len(ls)+1)],
                       recursive := true) FROM ${p}t),
      ${p}h AS (SELECT line FROM ${p}l GROUP BY line
                HAVING COUNT(DISTINCT doc_id) > $maxDocFreq),
      ${p}s AS (SELECT doc_id,
                coalesce(string_agg(line, chr(10) ORDER BY idx)
                  FILTER (WHERE line NOT IN (SELECT line FROM ${p}h)), '') AS text
                FROM ${p}l GROUP BY doc_id)"""

  val tBoilerplateStrip: Q = Q(
    "t_boilerplate_strip",
    run = (s, dir) => TextAnalysis.stripBoilerplate(
      Tables.documents(s, dir).select(col("doc_id"), boilerAugCol.as("text")),
      maxDocFreq = 5),
    oracle = Some(s"""
      WITH aug AS (SELECT doc_id, $boilerAugSql AS text FROM documents),
      ${stripSqlCtes("b", "aug", 5)},
      kept AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept
               FROM bl WHERE line NOT IN (SELECT line FROM bh)
               GROUP BY doc_id)
      SELECT t.doc_id, s.text,
             CAST(len(t.ls) AS BIGINT) AS n_lines,
             CAST(len(t.ls) - coalesce(k.n_kept, 0) AS BIGINT) AS n_stripped
      FROM bt t JOIN bs s USING (doc_id) LEFT JOIN kept k USING (doc_id)"""))

  /** Boilerplate strip composed into the FULL curation pipeline: plant
    * hot lines, strip by corpus frequency, then run exact dedup → MinHash
    * → quality → language over the STRIPPED text — the DuckDB side
    * recomposes strip + every gate in one query (the t_curate_redacted
    * mechanism), so the hash certifies that stripping feeds the chain:
    * fingerprints, shingles, token counts and quality scores all reflect
    * the de-boilerplated text. */
  val tCurateBoilerplate: Q = Q(
    "t_curate_boilerplate",
    run = (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir).select(col("doc_id"), boilerAugCol.as("text"))
      val (_, st) = graft.pipeline.Curate.runDocs(s, docs, stripLineFreq = Some(5))
      graft.pipeline.Curate.releaseCaches(s)
      Seq((st.input, st.exactDups, st.nearDups, st.lowQuality, st.unknownLang,
        st.kept, st.keptTokens))
        .toDF("input", "exact_dups", "near_dups", "low_quality",
          "unknown_lang", "kept", "kept_tokens")
    },
    oracle = Some(curateStatsOracle(
      """losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)""",
      docsRel = "cbs",
      prefixCtes = s"""aug AS (SELECT doc_id, $boilerAugSql AS text FROM documents),
      ${stripSqlCtes("cb", "aug", 5)},""")))

  /** Bigram-LM fluency scoring: model trained on the even-doc_id half
    * (the t_quality_classifier train/score split), every doc scored. The
    * oracle recomposes training (c2/c1/V), smoothing, the integer
    * quantization AND the final division, so model and inference are
    * certified together in one hash. */
  /** Shared LM-scoring CTE chain (train on the even half, score every
    * doc): ends at `s` (doc_id, n_bigrams, sum_micro) — t_lm_score reads
    * it directly, t_lm_buckets builds tertiles on top, so the two entries
    * certify the SAME model and scoring arithmetic. */
  private val lmScoreCtes: String = s"""rt AS MATERIALIZED (
        SELECT doc_id, $TOKS AS toks FROM documents WHERE doc_id % 2 = 0),
      rb AS MATERIALIZED (
        SELECT unnest([toks[j] || ' ' || toks[j+1] for j in range(1, len(toks))]) AS g
        FROM rt WHERE len(toks) >= 2),
      c2 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c2 FROM rb GROUP BY g),
      c1 AS (SELECT split_part(g, ' ', 1) AS w1, CAST(SUM(c2) AS BIGINT) AS c1
             FROM c2 GROUP BY 1),
      vv AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
             FROM (SELECT unnest(toks) AS tok FROM rt) z),
      dt AS MATERIALIZED (SELECT doc_id, $TOKS AS toks FROM documents),
      db AS MATERIALIZED (
        SELECT doc_id,
               unnest([toks[j] || ' ' || toks[j+1] for j in range(1, len(toks))]) AS g
        FROM dt WHERE len(toks) >= 2),
      s AS (SELECT db.doc_id,
              CAST(COUNT(*) AS BIGINT) AS n_bigrams,
              CAST(SUM((coalesce(c2.c2, 0) + 1) * 1000000 // (coalesce(c1.c1, 0) + vv.v)) AS BIGINT) AS sum_micro
            FROM db LEFT JOIN c2 USING (g)
                 LEFT JOIN c1 ON split_part(db.g, ' ', 1) = c1.w1, vv
            GROUP BY db.doc_id)"""

  val tLmScore: Q = Q(
    "t_lm_score",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.lmScore(docs, docs.filter(col("doc_id") % 2 === 0))
    },
    oracle = Some(s"""
      WITH $lmScoreCtes
      SELECT d.doc_id,
             CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
             CAST(coalesce(s.sum_micro, 0) AS BIGINT) AS sum_micro,
             CASE WHEN s.n_bigrams > 0
               THEN CAST(s.sum_micro AS DOUBLE) / CAST(s.n_bigrams AS DOUBLE) END AS lm_micro_avg
      FROM documents d LEFT JOIN s USING (doc_id)"""))

  /** Head/middle/tail fluency buckets: the t_lm_score chain + integer
    * fluency floors + EXACT corpus tertiles from the domain-bounded
    * histogram (Sampling.boundedIntQuantiles — cum·den ≥ N·num, all
    * integer). The hash gate certifies the thresholds AND every per-doc
    * label, i.e. the whole distributed-quantile mechanism. */
  val tLmBuckets: Q = Q(
    "t_lm_buckets",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.lmBuckets(
        TextAnalysis.lmScore(docs, docs.filter(col("doc_id") % 2 === 0)))
    },
    oracle = Some(s"""
      WITH $lmScoreCtes,
      sc AS (SELECT d.doc_id,
               CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
               CAST(coalesce(s.sum_micro, 0) AS BIGINT) AS sum_micro
             FROM documents d LEFT JOIN s USING (doc_id)),
      base AS (SELECT doc_id,
                 CASE WHEN n_bigrams > 0 THEN sum_micro // n_bigrams END AS lm_floor
               FROM sc),
      hist AS (SELECT lm_floor AS v, CAST(COUNT(*) AS BIGINT) AS c
               FROM base WHERE lm_floor IS NOT NULL GROUP BY 1),
      cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM hist),
      nn AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n FROM hist),
      thr AS (SELECT
        (SELECT MIN(v) FROM cum, nn WHERE cum * 3 >= n * 1) AS t0,
        (SELECT MIN(v) FROM cum, nn WHERE cum * 3 >= n * 2) AS t1)
      SELECT base.doc_id, CAST(lm_floor AS BIGINT) AS lm_floor,
        CASE WHEN lm_floor IS NULL THEN 'none'
             WHEN lm_floor <= thr.t0 THEN 'tail'
             WHEN lm_floor <= thr.t1 THEN 'middle'
             ELSE 'head' END AS bucket
      FROM base, thr"""))

  /** Quality tertile buckets: the same quality-micro arithmetic as the
    * profile, exact histogram tertiles, per-doc labels — the heuristic
    * sibling of t_lm_buckets, certified threshold-and-label in one
    * hash. */
  val tQualityBuckets: Q = Q(
    "t_quality_buckets",
    run = (s, dir) => TextAnalysis.qualityBuckets(Tables.documents(s, dir)),
    oracle = {
      val stop = TextAnalysis.lexicons.flatMap(_._2).distinct.sorted
        .map(w => s"'$w'").mkString("[", ",", "]")
      Some(s"""
      WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
      q AS (SELECT doc_id,
          CAST(floor((0.4 * (len(list_distinct(toks))::DOUBLE / len(toks))
            + 0.3 * least(1.0, len(toks) / 100.0)
            + 0.3 * (1.0 - len(list_filter(toks, x -> list_contains($stop, x)))::DOUBLE / len(toks)))
            * 1000000 + 0.5) AS BIGINT) AS q_micro
        FROM t WHERE len(toks) > 0),
      base AS (SELECT t.doc_id, q.q_micro FROM t LEFT JOIN q USING (doc_id)),
      hist AS (SELECT q_micro AS v, CAST(COUNT(*) AS BIGINT) AS c
               FROM base WHERE q_micro IS NOT NULL GROUP BY 1),
      cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM hist),
      nn AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n FROM hist),
      thr AS (SELECT
        (SELECT MIN(v) FROM cum, nn WHERE cum * 3 >= n * 1) AS t0,
        (SELECT MIN(v) FROM cum, nn WHERE cum * 3 >= n * 2) AS t1)
      SELECT base.doc_id, base.q_micro,
        CASE WHEN q_micro IS NULL THEN 'none'
             WHEN q_micro <= thr.t0 THEN 'tail'
             WHEN q_micro <= thr.t1 THEN 'middle'
             ELSE 'head' END AS bucket
      FROM base, thr""")
    })

  /** The LM fluency gate composed into the pipeline: model trained on
    * the even half (the t_lm_score chain), every doc below 33000 micro
    * (≈ the corpus 20th percentile — a real head/tail cut) dropped as
    * lm_fluency after dedup, before the heuristic quality gate. The
    * DuckDB side recomposes LM TRAINING + INFERENCE + the gate inside
    * the full curation query, so model, scoring, threshold, the
    * NULL-average-passes rule AND gate precedence are certified in one
    * hash. */
  val tCurateLm: Q = Q(
    "t_curate_lm",
    run = (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val model = TextAnalysis.trainLm(docs.filter(col("doc_id") % 2 === 0))
      val (_, st) = graft.pipeline.Curate.runDocs(s, docs,
        graft.pipeline.Curate.Gates(lm = Some(graft.pipeline.Curate.LmGate(model, 33000.0))))
      graft.pipeline.Curate.releaseCaches(s)
      Seq((st.input, st.exactDups, st.nearDups, st.lmDropped, st.lowQuality,
        st.unknownLang, st.kept, st.keptTokens))
        .toDF("input", "exact_dups", "near_dups", "lm_dropped", "low_quality",
          "unknown_lang", "kept", "kept_tokens")
    },
    oracle = Some(curateStatsOracle(
      """losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)""",
      lm = Some(33000.0),
      finalSelect = Some("""
      SELECT
        (SELECT COUNT(*) FROM documents) AS input,
        (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM ae) AS exact_dups,
        (SELECT COUNT(*) FROM losers) AS near_dups,
        (SELECT COUNT(*) FROM scored WHERE NOT lm_ok) AS lm_dropped,
        (SELECT COUNT(*) FROM scored WHERE lm_ok AND quality < 0.55) AS low_quality,
        (SELECT COUNT(*) FROM scored
         WHERE lm_ok AND quality >= 0.55 AND pred_lang = 'und') AS unknown_lang,
        (SELECT COUNT(*) FROM scored
         WHERE lm_ok AND quality >= 0.55 AND pred_lang <> 'und') AS kept,
        (SELECT CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM scored
         WHERE lm_ok AND quality >= 0.55 AND pred_lang <> 'und') AS kept_tokens"""))))

  /** Count-min heavy hitters over the 3-gram occurrence stream: the
    * deterministic-hash sketch (cm<r>:-seeded md5 buckets, depth 4 ×
    * width 16384) rebuilt identically in DuckDB — counters, min-estimates
    * and the cut all certified in one hash. Estimates are ≥ truth by
    * construction, so every truly-heavy gram is in the output (soundness);
    * collision-admitted light grams are part of the certified surface,
    * not noise. */
  val tHeavyHitters: Q = Q(
    "t_heavy_hitters",
    run = (s, dir) => {
      import graft.functions.TextFunctions
      val bound = graft.operators.Dedup.track(Tables.documents(s, dir)
        .select(TextFunctions.tokensFused(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(TextFunctions.wordShingles(col("toks"), 3).as("gs"))
        .persist()) // Generate re-inline hazard
      val obs = bound.select(explode(col("gs")).as("k"))
      graft.operators.Sketches.heavyHitters(obs, col("k"), minCount = 6L,
        depth = 4, width = 16384)
        .select(col("k"), col("est"))
    },
    oracle = Some(s"""
      WITH t AS (SELECT $TOKS AS toks FROM documents),
      g AS (SELECT unnest([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, len(toks)-1)]) AS k
            FROM t WHERE len(toks) >= 3),
      cells AS (SELECT r.r,
                  CAST(('0x' || substr(md5('cm' || r.r || ':' || g.k), 1, 8)) AS BIGINT) % 16384 AS bucket
                FROM g, range(4) r(r)),
      counters AS (SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS c
                   FROM cells GROUP BY 1, 2),
      keys AS (SELECT DISTINCT k FROM g),
      kcells AS (SELECT keys.k, r.r,
                   CAST(('0x' || substr(md5('cm' || r.r || ':' || keys.k), 1, 8)) AS BIGINT) % 16384 AS bucket
                 FROM keys, range(4) r(r)),
      est AS (SELECT kcells.k, MIN(coalesce(counters.c, 0)) AS est
              FROM kcells LEFT JOIN counters USING (r, bucket)
              GROUP BY kcells.k)
      SELECT k, est FROM est WHERE est >= 6"""))

  /** One-row corpus profile: counts, exact distinct-fingerprint mass,
    * token volume, per-language doc counts, and the quality mass as an
    * exact BIGINT micro-sum (a double mean would be summation-order-
    * dependent — the Classify/lm rule). The hash gate certifies every
    * column of the report at once. */
  val tCorpusProfile: Q = Q(
    "t_corpus_profile",
    run = (s, dir) => TextAnalysis.profile(Tables.documents(s, dir)),
    oracle = {
      val stop = TextAnalysis.lexicons.flatMap(_._2).distinct.sorted
        .map(w => s"'$w'").mkString("[", ",", "]")
      val lex = TextAnalysis.lexicons.map { case (lang, words) =>
        lang -> words.map(w => s"'$w'").mkString("[", ",", "]")
      }.toMap
      Some(s"""
      WITH t AS (SELECT doc_id, text,
          (text IS NULL OR text = '') AS is_empty,
          coalesce(md5(trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g'))), 'null:') AS fp,
          $TOKS AS toks
        FROM documents),
      q AS (SELECT doc_id,
          CAST(floor((0.4 * (len(list_distinct(toks))::DOUBLE / len(toks))
            + 0.3 * least(1.0, len(toks) / 100.0)
            + 0.3 * (1.0 - len(list_filter(toks, x -> list_contains($stop, x)))::DOUBLE / len(toks)))
            * 1000000 + 0.5) AS BIGINT) AS q_micro
        FROM t WHERE len(toks) > 0),
      l AS (SELECT doc_id,
          CASE WHEN greatest(hde, hen, hes, hfr, hzh) = 0 THEN 'und'
               WHEN hde = greatest(hde, hen, hes, hfr, hzh) THEN 'de'
               WHEN hen = greatest(hde, hen, hes, hfr, hzh) THEN 'en'
               WHEN hes = greatest(hde, hen, hes, hfr, hzh) THEN 'es'
               WHEN hfr = greatest(hde, hen, hes, hfr, hzh) THEN 'fr'
               ELSE 'zh' END AS pred_lang
        FROM (SELECT doc_id, $ZH_HITS AS hzh,
                len(list_intersect(list_distinct(toks), ${lex("de")})) AS hde,
                len(list_intersect(list_distinct(toks), ${lex("en")})) AS hen,
                len(list_intersect(list_distinct(toks), ${lex("es")})) AS hes,
                len(list_intersect(list_distinct(toks), ${lex("fr")})) AS hfr
              FROM t) z)
      SELECT
        CAST(COUNT(*) AS BIGINT) AS input,
        CAST(SUM(CASE WHEN t.is_empty THEN 1 ELSE 0 END) AS BIGINT) AS empty_text,
        CAST(COUNT(DISTINCT t.fp) AS BIGINT) AS distinct_fp,
        CAST(COALESCE(SUM(len(t.toks)), 0) AS BIGINT) AS total_tokens,
        CAST(COALESCE(SUM(q.q_micro), 0) AS BIGINT) AS sum_quality_micro,
        CAST(SUM(CASE WHEN l.pred_lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS lang_de,
        CAST(SUM(CASE WHEN l.pred_lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS lang_en,
        CAST(SUM(CASE WHEN l.pred_lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS lang_es,
        CAST(SUM(CASE WHEN l.pred_lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS lang_fr,
        CAST(SUM(CASE WHEN l.pred_lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS lang_zh,
        CAST(SUM(CASE WHEN l.pred_lang = 'und' THEN 1 ELSE 0 END) AS BIGINT) AS lang_und
      FROM t LEFT JOIN q USING (doc_id) LEFT JOIN l USING (doc_id)""")
    })

  /** Per-source corpus profile: the same report, one row per source —
    * the multi-source health dashboard. Same oracle chain grouped. */
  val tProfileBySource: Q = Q(
    "t_profile_by_source",
    run = (s, dir) => TextAnalysis.profileBy(Tables.documents(s, dir), "source"),
    oracle = {
      val stop = TextAnalysis.lexicons.flatMap(_._2).distinct.sorted
        .map(w => s"'$w'").mkString("[", ",", "]")
      val lex = TextAnalysis.lexicons.map { case (lang, words) =>
        lang -> words.map(w => s"'$w'").mkString("[", ",", "]")
      }.toMap
      Some(s"""
      WITH t AS (SELECT doc_id, source, text,
          (text IS NULL OR text = '') AS is_empty,
          coalesce(md5(trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g'))), 'null:') AS fp,
          $TOKS AS toks
        FROM documents),
      q AS (SELECT doc_id,
          CAST(floor((0.4 * (len(list_distinct(toks))::DOUBLE / len(toks))
            + 0.3 * least(1.0, len(toks) / 100.0)
            + 0.3 * (1.0 - len(list_filter(toks, x -> list_contains($stop, x)))::DOUBLE / len(toks)))
            * 1000000 + 0.5) AS BIGINT) AS q_micro
        FROM t WHERE len(toks) > 0),
      l AS (SELECT doc_id,
          CASE WHEN greatest(hde, hen, hes, hfr, hzh) = 0 THEN 'und'
               WHEN hde = greatest(hde, hen, hes, hfr, hzh) THEN 'de'
               WHEN hen = greatest(hde, hen, hes, hfr, hzh) THEN 'en'
               WHEN hes = greatest(hde, hen, hes, hfr, hzh) THEN 'es'
               WHEN hfr = greatest(hde, hen, hes, hfr, hzh) THEN 'fr'
               ELSE 'zh' END AS pred_lang
        FROM (SELECT doc_id, $ZH_HITS AS hzh,
                len(list_intersect(list_distinct(toks), ${lex("de")})) AS hde,
                len(list_intersect(list_distinct(toks), ${lex("en")})) AS hen,
                len(list_intersect(list_distinct(toks), ${lex("es")})) AS hes,
                len(list_intersect(list_distinct(toks), ${lex("fr")})) AS hfr
              FROM t) z)
      SELECT t.source,
        CAST(COUNT(*) AS BIGINT) AS input,
        CAST(SUM(CASE WHEN t.is_empty THEN 1 ELSE 0 END) AS BIGINT) AS empty_text,
        CAST(COUNT(DISTINCT t.fp) AS BIGINT) AS distinct_fp,
        CAST(COALESCE(SUM(len(t.toks)), 0) AS BIGINT) AS total_tokens,
        CAST(COALESCE(SUM(q.q_micro), 0) AS BIGINT) AS sum_quality_micro,
        CAST(SUM(CASE WHEN l.pred_lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS lang_de,
        CAST(SUM(CASE WHEN l.pred_lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS lang_en,
        CAST(SUM(CASE WHEN l.pred_lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS lang_es,
        CAST(SUM(CASE WHEN l.pred_lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS lang_fr,
        CAST(SUM(CASE WHEN l.pred_lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS lang_zh,
        CAST(SUM(CASE WHEN l.pred_lang = 'und' THEN 1 ELSE 0 END) AS BIGINT) AS lang_und
      FROM t LEFT JOIN q USING (doc_id) LEFT JOIN l USING (doc_id)
      GROUP BY t.source""")
    })

  /** Deterministic random projection 64 → 8 dims: the md5-derived
    * matrix, the fold-order-exact dot products, and the micro
    * quantization all recomputed in DuckDB — every projected coordinate
    * of every vector certified in one hash. */
  val tRandomProjection: Q = Q(
    "t_random_projection",
    run = (s, dir) => graft.operators.Pca.randomProjection(
      Tables.embeddings(s, dir), d = 64, outDims = 8),
    oracle = {
      def yCol(j: Int): String =
        s"""CAST(floor(list_sum([CAST(embedding[i+1] AS DOUBLE) *
           |  (CAST(('0x' || substr(md5('rp:$j:' || i), 1, 8)) AS BIGINT) / 4294967296.0 - 0.5)
           |  for i in range(0, 64)]) * 1000000 + 0.5) AS BIGINT) AS y${j}_micro""".stripMargin
      Some(s"""
      SELECT vec_id, ${(0 until 8).map(yCol).mkString(",\n        ")}
      FROM embeddings""")
    })

  /** Cross-corpus dedup: reference = every doc_id % 5 == 0 doc, re-keyed
    * +10^6, half verbatim (exact hits) and half with a planted tail
    * (near hits where the doc is long enough for Jaccard ≥ 0.8 — the
    * oracle recomputes the identical banding + verify, so the boundary
    * is certified, not assumed). Every input doc labeled. */
  /** Corpus snapshot diff: the "new crawl" removes every 7th doc, edits
    * every 5th surviving doc, and adds a shifted-id copy of every 3rd —
    * all four statuses live at every SF. */
  val tCorpusDiff: Q = Q(
    "t_corpus_diff",
    run = (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val next = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" updated v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.corpusDiff(docs, next)
    },
    oracle = Some("""
      WITH oldc AS (SELECT doc_id,
          md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        FROM documents),
      newdocs AS (
        SELECT doc_id,
          CASE WHEN doc_id % 5 = 0 THEN text || ' updated v2' ELSE text END AS text
        FROM documents WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 3 = 0),
      newc AS (SELECT doc_id,
          md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        FROM newdocs)
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        CASE WHEN o.doc_id IS NULL THEN 'added'
             WHEN n.doc_id IS NULL THEN 'removed'
             WHEN o.fp IS NOT DISTINCT FROM n.fp THEN 'unchanged'
             ELSE 'changed' END AS status
      FROM oldc o FULL JOIN newc n ON o.doc_id = n.doc_id"""))

  /** Pairwise source-overlap estimates (union-MinHash, 16 sigs): the
    * full chain — shingles, per-doc permutation mins, per-source union
    * mins, position-match counts — recomposed in DuckDB and certified
    * for every source pair in one hash. */
  val tSourceOverlap: Q = Q(
    "t_source_overlap",
    run = (s, dir) => Dedup.sourceOverlap(Tables.documents(s, dir)),
    oracle = Some(s"""
      WITH toks AS (
        SELECT source, $TOKS AS toks FROM documents WHERE source IS NOT NULL),
      t AS (SELECT source, toks FROM toks WHERE len(toks) >= 3),
      sh AS (SELECT source,
          list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS shingles
        FROM t),
      vh AS (SELECT source,
          [CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) for g in shingles] AS v
        FROM sh),
      sigs AS (
        SELECT source, s,
          list_min([((2*s+1)*x + 7919*s + 1) % 4294967291 for x in v]) AS m
        FROM vh, range(0, 16) AS r(s)),
      ps AS (SELECT source, s, MIN(m) AS m FROM sigs GROUP BY 1, 2),
      agg AS (SELECT source, list(m ORDER BY s) AS sig FROM ps GROUP BY source)
      SELECT a.source AS source_a, b.source AS source_b,
        CAST(len([i for i in range(1, 17) if a.sig[i] = b.sig[i]]) AS BIGINT) AS n_match,
        len([i for i in range(1, 17) if a.sig[i] = b.sig[i]])::DOUBLE / 16 AS est_jaccard
      FROM agg a JOIN agg b ON a.source < b.source"""))

  val tDedupAgainst: Q = Q(
    "t_dedup_against",
    run = (s, dir) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, dir)
      val ref = docs.filter(id % 5 === 0).select(
        (id + 1000000L).as("doc_id"),
        when(id % 10 === 0, coalesce(col("text"), lit("")))
          .otherwise(concat(coalesce(col("text"), lit("")),
            lit(" planted reference tail marker words"))).as("text"))
      graft.operators.Dedup.dedupAgainst(docs, ref)
    },
    oracle = Some("""
      WITH rr AS (SELECT doc_id + 1000000 AS doc_id,
          CASE WHEN doc_id % 10 = 0 THEN coalesce(text, '')
               ELSE coalesce(text, '') || ' planted reference tail marker words' END AS text
        FROM documents WHERE doc_id % 5 = 0),
      fpd AS (SELECT doc_id,
          coalesce(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 'null:') AS fp
        FROM documents),
      fpr AS (SELECT DISTINCT
          coalesce(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 'null:') AS fp
        FROM rr),
      exact_hit AS (SELECT DISTINCT fpd.doc_id FROM fpd JOIN fpr USING (fp)),
      tkd AS (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        FROM documents),
      tkr AS (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        FROM rr),
      shd AS (SELECT doc_id,
          list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS shingles
        FROM tkd WHERE len(toks) >= 3),
      shr AS (SELECT doc_id,
          list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS shingles
        FROM tkr WHERE len(toks) >= 3),
      vhd AS (SELECT doc_id,
          [CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) for g in shingles] AS v FROM shd),
      vhr AS (SELECT doc_id,
          [CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) for g in shingles] AS v FROM shr),
      sigd AS (SELECT doc_id,
          [list_min([((2*s+1)*x + 7919*s + 1) % 4294967291 for x in v]) for s in range(0, 8)] AS sig
        FROM vhd),
      sigr AS (SELECT doc_id,
          [list_min([((2*s+1)*x + 7919*s + 1) % 4294967291 for x in v]) for s in range(0, 8)] AS sig
        FROM vhr),
      bd AS (SELECT doc_id, b,
          CAST(sig[2*b+1] AS VARCHAR) || '|' || CAST(sig[2*b+2] AS VARCHAR) AS band_key
        FROM sigd, range(0, 4) AS r(b)),
      br AS (SELECT doc_id, b, band_key FROM (
          SELECT doc_id, b,
            CAST(sig[2*b+1] AS VARCHAR) || '|' || CAST(sig[2*b+2] AS VARCHAR) AS band_key,
            COUNT(*) OVER (PARTITION BY b,
              CAST(sig[2*b+1] AS VARCHAR) || '|' || CAST(sig[2*b+2] AS VARCHAR)) AS bs
          FROM sigr, range(0, 4) AS r(b)) t WHERE bs <= 1000),
      cand AS (SELECT DISTINCT bd.doc_id AS doc_a, br.doc_id AS doc_b
        FROM bd JOIN br ON bd.band_key = br.band_key AND bd.b = br.b),
      near_hit AS (SELECT DISTINCT c.doc_a AS doc_id
        FROM cand c
        JOIN vhd sa ON sa.doc_id = c.doc_a
        JOIN vhr sb ON sb.doc_id = c.doc_b
        WHERE len(list_intersect(sa.v, sb.v))::DOUBLE
            / len(list_distinct(sa.v || sb.v)) >= 0.8)
      SELECT d.doc_id,
        CASE WHEN d.doc_id IN (SELECT doc_id FROM exact_hit) THEN 'exact_ref'
             WHEN d.doc_id IN (SELECT doc_id FROM near_hit) THEN 'near_ref'
             ELSE 'kept' END AS drop_reason
      FROM documents d"""))

  val all: Seq[Q] = Seq(
    tPiiRedact, tNfcNormalize, tCurateRedacted, tBoilerplateStrip, tCurateBoilerplate, tLmScore,
    tCurateLm, tLmBuckets, tQualityBuckets, tCorpusVersion, tTermDrift, tHeavyHitters, tCorpusProfile, tProfileBySource, tDedupAgainst, tCorpusDiff,
    tSourceOverlap,
    tDedupExact, tDedupKeepBest, tDedupMinhash, tDedupMinhashSalted, tDedupJaccard,
    tDedupEdit, tDedupContainment, tDedupSpans, tDedupSpansCjk,
    tDedupClusters, tDedupClustersIncremental, tDedupClusterSizes,
    tSimhash, tAnnCosine, tAnnFiltered, tContrastiveMine,
    tDedupEmbedding, tDedupEmbeddingBucketed, tDedupEmbeddingBucketedHi, tDedupSemantic,
    tClusterPrune,
    tWinnowFingerprint,
    tWinnowPairs, tLangId, tLangIdNgram, tLangIdCjk, tEvalLangidCjk,
    tLangIdNgramCjk, tEvalAgreementCjk,
    tEvalLangid, tEvalAgreement,
    tEvalCalibration, tEvalEce,
    tEvalLangidSliced, tEvalConfusion, tQualityScore, tTokenStats,
    tMultimodalMeta, tFrameSample, tResize, tQuantizeEmbeddings,
    tAnnIvfRecall, tAnnPqRecall, tAnnIvfPqRecall, tAnnIvfPqResidualRecall,
    tCurateStats, tCurateCjk, tCurateCjkFull, tCurateCjkLm, tCurateStatsClustered, tCurateStatsExact, tCurateContained, tCurateStatsFull,
    tCurateGopher, tCurateClassified, tCurateCjkClassified,
    tCurateExcised, tCurateCjkExcised, tCuratePacked,
    tCurateShuffled, tCurateLayout, tCurateChunked, tTemperatureMix, tTokenBudgetMix, tEvalCarve, tEvalCarveDupkeys, tMembershipIndex,
    tUpsampleMix, tSampleFixed,
    tBpeMerges, tBpeEncode, tQualityClassifier, tImportanceSample,
    tZorderValues, tZoneMap, tPcaEmbeddings, tRandomProjection,
    tRepetitionScore, tGopherRules, tHtmlStrip, tCurateHtml, tDecontaminate, tDecontaminateBloom, tDecontaminateSpans, tDecontaminateSpansOffset, tDecontaminateSpansCjk,
    tDecontaminateSemantic, tSplitAssign, tSplitLeakageSafe,
    tStratifiedSample, tTfidfTopTerms, tPackSequences,
    tCapPerSource, tShuffleRank, tChunkDocs, tVocabulary, tVocabCoverage, tCollocations)
}
