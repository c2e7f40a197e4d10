package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Deduplication operators for large-scale document pipelines.
  *
  * Scale design: exact dedup is one hash-groupBy (map-side partial agg
  * shrinks the shuffle to one row per fingerprint). Near-dup avoids the
  * O(N²) pair space via MinHash+LSH banding — the only shuffle keys are
  * (band, band_signature), so co-candidates land in the same partition and
  * the expensive exact-Jaccard check runs only on the candidate pairs.
  */
object Dedup {

  // Persisted intermediates (shingle/band/candidate frames) are tracked per
  // session so embedding callers can RELEASE them once the candidate join
  // has materialized — a long-lived service calling minhashLshPairs per
  // request would otherwise accumulate session-lifetime InMemoryRelations
  // (LRU-evictable, but an unbounded cache-entry leak). Queries returned by
  // the operator stay lazy, so release is the CALLER's move after its
  // terminal action (Curate does this; Bench releases between timed runs).
  //
  // Frames are attributed to the caller's SCOPE (an opaque token from
  // trackMark, held in a per-thread stack), so interleaved callers on one
  // session release only their OWN frames — a position-based mark would
  // drop every frame tracked after it, including a concurrent caller's.
  // Entries hold STRONG refs (a weak map cannot work here: a Dataset
  // strongly references its own SparkSession, so weak keys never collect,
  // and weak values let a frame vanish before release and skip its
  // unpersist). Instead, every registry mutation purges entries whose
  // SparkContext has STOPPED — dead sessions' caches died with their
  // executors, so dropping their entries closes the stranded-session leak
  // without weakening the live-session release contract.
  private val tracked =
    scala.collection.mutable.Map.empty[SparkSession, Vector[(Long, DataFrame)]]

  private def purgeStopped(): Unit =
    tracked.filterInPlace((s, _) => !s.sparkContext.isStopped)
  private val nextScope = new java.util.concurrent.atomic.AtomicLong(1)
  private val openScopes: ThreadLocal[List[Long]] =
    ThreadLocal.withInitial(() => Nil)

  // project-private: sibling operators (TextAnalysis.tfIdfTopTerms) and the
  // streaming sinks persist shared intermediates through the same registry,
  // so one releaseCaches/releaseSince contract covers every operator-held
  // frame on the session
  private[graft] def track(df: DataFrame): DataFrame = synchronized {
    purgeStopped()
    val scope = openScopes.get().headOption.getOrElse(0L)
    tracked(df.sparkSession) =
      tracked.getOrElse(df.sparkSession, Vector.empty) :+ (scope -> df)
    df
  }

  /** Unpersist every frame this operator persisted on `spark` (all scopes);
    * returns how many were released. Embedded callers that may share the
    * session with other work should scope with trackMark/releaseSince
    * instead, so they never drop a concurrent caller's caches. */
  def releaseCaches(spark: SparkSession): Int = synchronized {
    purgeStopped()
    val frames = tracked.remove(spark).getOrElse(Vector.empty)
    frames.foreach(_._2.unpersist(blocking = false))
    frames.size
  }

  /** Open a caller-private tracking scope on the current THREAD: frames the
    * operators persist between this call and the matching releaseSince are
    * attributed to the returned token. Frames tracked outside any scope
    * (scope 0 — e.g. Bench's direct operator calls) are released only by
    * the session-global releaseCaches. */
  def trackMark(spark: SparkSession): Long = {
    val id = nextScope.getAndIncrement()
    openScopes.set(id :: openScopes.get())
    id
  }

  /** Release only the frames attributed to scope `mark` — the caller's own
    * — and close the scope; a concurrent caller's frames (other scopes,
    * other threads) are untouched. Scope tokens are unique, so the scope
    * is released on every session: a frame derived from an input built
    * on another session (a streaming sink's static benchmark) is tracked
    * under that input's session, not the caller's. */
  def releaseSince(spark: SparkSession, mark: Long): Int = synchronized {
    purgeStopped()
    openScopes.set(openScopes.get().filterNot(_ == mark))
    tracked.keys.toSeq.map { s =>
      val (drop, keep) = tracked(s).partition(_._1 == mark)
      drop.foreach(_._2.unpersist(blocking = false))
      if (keep.isEmpty) tracked.remove(s) else tracked(s) = keep
      drop.size
    }.sum
  }

  /** Exact duplicate groups by normalized-text fingerprint: one row per
    * distinct fingerprint with its cardinality and the kept (min) doc id. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("ct"), min(col("doc_id")).as("keep_id"))

  /** exactGroups with a caller-supplied keeper rule: within each
    * fingerprint group the kept doc minimizes (preference, doc_id) —
    * smaller preference wins, doc_id ascending breaks ties. This is the
    * production multi-source rule ("keep the curated/licensed copy of a
    * page, drop its crawl duplicates") that min-id dedup cannot express:
    * preference is any per-row Column (a source-priority rank, a partition
    * recency, a parse-quality tier). Deterministic by the doc_id
    * tie-break; exact-duplicate texts are identical after normalization,
    * so length/quality of the TEXT never differs within a group — the
    * preference must come from row metadata, which is why it is a column,
    * not a fixed heuristic.
    *
    * Scale: identical shape to exactGroups — one fingerprint-keyed
    * shuffle; the keeper argmin rides the same partial aggregation
    * (min over a (preference, doc_id) struct — no window, no second
    * pass). */
  def exactGroupsKeepBest(docs: DataFrame, preference: Column): DataFrame =
    docs
      .select(col("doc_id"), fingerprint(col("text")).as("fp"),
        preference.cast("long").as("__pref"))
      .groupBy(col("fp"))
      // NULL preferences lose to every ranked row (a left-join miss
      // against the priority table means "unranked", not "best"): struct
      // min orders NULL smallest, so the is-null flag leads the ordering
      .agg(count(lit(1)).as("ct"),
        min(struct(col("__pref").isNull.cast("int").as("__unranked"),
          col("__pref"), col("doc_id"))).getField("doc_id").as("keep_id"))

  /** Snapshot diff between two corpus versions: per doc_id, whether the
    * doc was `added`, `removed`, `changed` (present in both, normalized
    * fingerprint differs), or `unchanged` — the "what did the new crawl
    * actually change" report an incremental pipeline runs before deciding
    * how much downstream work (re-dedup, re-embed, re-train) a refresh
    * buys. Fingerprints compare null-safe, so two null-text versions of a
    * doc are `unchanged`, not `changed`.
    *
    * Scale: texts collapse to fingerprints in the map stage, so the one
    * shuffle (the doc_id full-outer sort-merge join) carries (id, 32-char
    * fp) rows, never text. Corpus versions stored bucketed by doc_id
    * (sinks.BucketedUpsert / Layout.writeClustered) co-locate this join
    * with zero shuffle. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"), fingerprint(col("text")).as("old_fp"),
      lit(true).as("__in_old"))
    val n = newDocs.select(col("doc_id"), fingerprint(col("text")).as("new_fp"),
      lit(true).as("__in_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("__in_old").isNull, lit("added"))
          .when(col("__in_new").isNull, lit("removed"))
          .when(col("old_fp") <=> col("new_fp"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Estimated pairwise CONTENT overlap between corpus sources: one
    * union-MinHash signature per source (position s = min of permutation
    * s over every shingle hash any doc of the source contributes — min
    * commutes, so the per-source min over per-doc mins equals the min
    * over the union set) and, per source pair, the matching-position
    * count as the Jaccard estimate of the two sources' union shingle
    * sets. The corpus-onboarding dashboard number: "how much of source B
    * is already covered by source A" — at estimate granularity, before
    * paying for a full cross-corpus dedup (`dedupAgainst`).
    *
    * Scale: the corpus contributes one partial-agged (source, s) → min
    * shuffle of numSigs rows per doc — state after the map-side combine
    * is #sources × numSigs rows, and the pair join runs over that tiny
    * frame (deliberate small-side cross pair, never corpus²).
    * est_jaccard keeps exact cross-engine equality because numSigs is a
    * power of two (n/16 is a dyadic rational — exact in both engines). */
  def sourceOverlap(docs: DataFrame, numSigs: Int = 16): DataFrame = {
    require(numSigs > 0 && (numSigs & (numSigs - 1)) == 0,
      s"numSigs must be a positive power of two for exact est_jaccard, got $numSigs")
    val t = docs.filter(col("source").isNotNull)
      .select(col("source"),
        graft.functions.TextFunctions.tokensFused(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
    val hs = t.select(col("source"),
      graft.functions.TextFunctions.sortedDistinct(
        graft.functions.TextFunctions.shingleHash32(col("toks"), 3))
        .as("hashes"))
    val sigs = hs.select(col("source"),
      posexplode(graft.functions.TextFunctions.minhashSigsFused(
        col("hashes"), numSigs)).as(Seq("s", "v")))
    // persist the #sources-row signature frame: both sides of the pair
    // join read it, and without the cache each side re-runs the WHOLE
    // corpus scan + signature chain (two scans where one suffices —
    // caught in plan review). Released via Dedup.releaseCaches.
    val perSource = track(sigs.groupBy(col("source"), col("s")).agg(min(col("v")).as("m"))
      .groupBy(col("source"))
      .agg(array_sort(collect_list(struct(col("s"), col("m")))).as("sm"))
      .select(col("source"), transform(col("sm"), x => x.getField("m")).as("sig"))
      .persist())
    val matches = size(filter(
      zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y), b => b))
    perSource.as("a").join(perSource.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        matches.cast("long").as("n_match"),
        (matches.cast("double") / lit(numSigs)).as("est_jaccard"))
  }

  /** Per-doc distinct word-3-shingle hash32 sets (docs with <3 tokens
    * cannot form a shingle and are dropped). The fused shingle_hash32
    * kernel digests token bytes straight into md5 — no shingle STRING is
    * ever materialized (the former `transform(wordShingles, hash32)`
    * chain allocated O(tokens·3) UTF8String concats per row just to hash
    * and discard them). `array_distinct` over the per-position hashes is
    * set-equal to the former hash-of-distinct-shingles for every
    * consumer (signatures take array_min; verification takes
    * intersect/union sizes — all set semantics). The array is SORTED
    * ascending: every consumer is order-free, and the sort (once per DOC)
    * lets jaccardVerify run the fused two-pointer merge per PAIR instead
    * of building boxed hash sets — a doc is verified against many
    * candidates, so sort-at-source amortizes. */
  /** doc_id + bound token array — REUSES a caller-bound `toks` column
    * (the TextAnalysis.withToks contract): the mixed-script curation
    * mode binds tokens(text, cjk = true) ONCE on the persisted corpus
    * frame and every consumer — shingles, n-gram joins, quality,
    * language — reads that one tokenization instead of re-running its
    * own. Otherwise binds the fused latin tokenizer (one native call,
    * no interpreted ArrayFilter lambda — jcmd sampling at sf3 put the
    * compositional chain's HOF evals among the band build's hot
    * frames). */
  private def boundToks(docs: DataFrame): DataFrame =
    if (docs.columns.contains("toks")) docs.select(col("doc_id"), col("toks"))
    else docs.select(col("doc_id"),
      graft.functions.TextFunctions.tokensFused(col("text")).as("toks"))

  def shingleSets(docs: DataFrame): DataFrame =
    boundToks(docs)
      // "has >= 3 tokens" ≡ "has >= 1 shingle", but as a predicate on the
      // bound token array it pushes down as ONE tokenizer call — filtering
      // on size(shingles) instead would push the whole shingle lambda into
      // the scan predicate with the tokenizer re-inlined per element
      // (measured 20x slowdown).
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        graft.functions.TextFunctions.sortedDistinct(
          graft.functions.TextFunctions.shingleHash32(col("toks"), 3))
          .as("hashes"))

  /** The default MinHash+LSH settings of [[minhashLshPairs]] — the ones
    * batch curation (pipeline.Curate) runs with, and therefore the ones
    * streaming curation (graft.streaming.CurateStream) must use for its
    * registry bands and verify so that stream ≡ batch. */
  object Lsh {
    val NumSigs = 8
    val RowsPerBand = 2
    val Threshold = 0.8
    val MaxBucket = 1000
  }

  /** MinHash+LSH near-duplicate pairs.
    *
    * numSigs md5-based signatures, grouped into bands of `rowsPerBand`;
    * docs agreeing on any full band become candidates; exact Jaccard over
    * shingle sets filters to >= threshold. Returns (doc_a, doc_b, jaccard)
    * with jaccard rounded to 4 decimals, doc_a < doc_b.
    */
  /** @param maxBucket hot-bucket cap: band buckets holding more than this
    *   many docs are dropped from candidate generation (a bucket of size B
    *   yields B²/2 pairs — boilerplate/templated corpora create mega-
    *   buckets that would quadratically blow up the verify stage). Capped
    *   buckets are near-universal shingle-sets; their members still pair
    *   through their OTHER, more selective bands.
    * @param saltChunk when > 0, hot buckets are NOT dropped: their members
    *   are split into chunks of `saltChunk` docs and pairs are generated per
    *   chunk-pair via a triangle join — the shuffle key becomes
    *   (bucket, chunk_i, chunk_j), so one mega-bucket's B²/2 candidate pairs
    *   spread over m(m+1)/2 tasks instead of landing on a single reducer.
    *   Recall-lossless: every cross- and within-chunk pair is produced
    *   exactly once (proven pair-identical to the uncapped join in
    *   DedupSpec and against the uncapped DuckDB oracle). */
  /** LSH band table from a shingle table: (doc_id, b, band_key) — the
    * banding stage of minhashLshPairs, shared with the streaming
    * incremental sink (which registers bands across micro-batches). */
  private[graft] def bandsFromShingles(sh: DataFrame, numSigs: Int = Lsh.NumSigs,
      rowsPerBand: Int = Lsh.RowsPerBand): DataFrame = {
    require(numSigs >= rowsPerBand && numSigs % rowsPerBand == 0,
      s"numSigs ($numSigs) must be a positive multiple of rowsPerBand " +
        s"($rowsPerBand) — truncating would silently band only the first " +
        s"${numSigs / rowsPerBand * rowsPerBand} signatures and lower recall")
    val numBands = numSigs / rowsPerBand
    val sigs = sh.select(
      col("doc_id"),
      graft.functions.TextFunctions.minhashSigsFused(col("hashes"), numSigs)
        .as("sig"))
    sigs.select(
      col("doc_id"),
      explode(array((0 until numBands).map { b =>
        struct(lit(b).as("b"),
          concat_ws("|",
            (0 until rowsPerBand).map(r => col("sig").getItem(b * rowsPerBand + r)): _*).as("band_key"))
      }: _*)).as("band"))
      .select(col("doc_id"), col("band.b").as("b"), col("band.band_key").as("band_key"))
  }

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs against
    * per-side 32-bit shingle-hash arrays — the verify stage of
    * minhashLshPairs, shared with the streaming sink (whose sides come
    * from different frames: the band registry vs the current batch).
    *
    * `h_a`/`h_b` MUST be sorted-distinct arrays (shingleSets output —
    * every caller's source, including registries it wrote): the fused
    * two-pointer merge (plans.JaccardSorted) computes the identical
    * value at a fraction of the boxed-hash-set cost of
    * array_intersect/array_union, which dominated the verify stage
    * (Σ bucket² pairs each paying two set builds). */
  private[graft] def jaccardVerify(cand: DataFrame, left: DataFrame,
      right: DataFrame, threshold: Double): DataFrame =
    cand.join(left, "doc_a").join(right, "doc_b")
      .withColumn("jaccard", call_function("jaccard_sorted", col("h_a"), col("h_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** minhashLshPairs' candidate + verify stages over PRECOMPUTED shingle
    * and band tables (callers persist them — the streaming sink shares one
    * scan across in-batch pairs, cross-batch verify, and the registry
    * write). Cold path only (hot buckets dropped at `maxBucket`, no
    * salting — micro-batches are small next to the corpus). */
  private[graft] def minhashPairsFromTables(sh: DataFrame, bands: DataFrame,
      threshold: Double, maxBucket: Int): DataFrame = {
    val bucketW = org.apache.spark.sql.expressions.Window.partitionBy(col("b"), col("band_key"))
    // join keyed on the 64-bit hash of (b, band_key), not the signature
    // string — long compares/shuffle beat ~20-char string keys by ~25% on
    // the candidate stage. A hash collision between two buckets only ADDS
    // candidate pairs, and every pair still passes EXACT Jaccard verify —
    // never a false positive, at worst a sliver of extra recall.
    val capped = bands.withColumn("__bs", count(lit(1)).over(bucketW))
      .filter(col("__bs") <= maxBucket)
      .select(col("doc_id"), xxhash64(col("b"), col("band_key")).as("__k"))
    val cand = capped.as("x")
      .join(capped.as("y"),
        col("x.__k") === col("y.__k") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    jaccardVerify(cand,
      sh.select(col("doc_id").as("doc_a"), col("hashes").as("h_a")),
      sh.select(col("doc_id").as("doc_b"), col("hashes").as("h_b")),
      threshold)
  }

  def minhashLshPairs(
      docs: DataFrame,
      numSigs: Int = Lsh.NumSigs,
      rowsPerBand: Int = Lsh.RowsPerBand,
      threshold: Double = Lsh.Threshold,
      maxBucket: Int = Lsh.MaxBucket,
      saltChunk: Int = 0): DataFrame = {
    // persist: the shingle table feeds the signature path AND both sides of
    // the Jaccard join; the band table feeds both sides of the self-join —
    // without this Spark recomputes the tokenize+hash pipeline 4x.
    val sh = track(shingleSets(docs).persist())
    val bands = bandsFromShingles(sh, numSigs, rowsPerBand).persist()
    track(bands)
    // hot-bucket cap (windowed count avoids a second aggregation pass);
    // the self-join keys on xxhash64(b, band_key) — long keys shuffle and
    // compare ~25% faster than the signature strings, and a bucket-hash
    // collision only ADDS candidates that exact verify then gates (the
    // minhashPairsFromTables note)
    val bucketW = org.apache.spark.sql.expressions.Window.partitionBy(col("b"), col("band_key"))
    val sized = bands.withColumn("__bs", count(lit(1)).over(bucketW))
    val capped = track(sized.filter(col("__bs") <= maxBucket)
      .select(col("doc_id"), xxhash64(col("b"), col("band_key")).as("__k"))
      .persist())
    val candCold = capped.as("x")
      .join(capped.as("y"),
        col("x.__k") === col("y.__k") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val candAll = if (saltChunk > 0) {
      // triangle join over hot buckets: chunk members by position, emit the
      // left side to every chunk-pair (c, j>=c) and the right side to every
      // (i<=c, c); joining on (bucket, i, j) reproduces every pair once
      // while spreading a B-doc bucket over m(m+1)/2 shuffle keys.
      val hot = sized.filter(col("__bs") > maxBucket)
        .withColumn("__rn", row_number().over(bucketW.orderBy(col("doc_id"))))
        .withColumn("__c", ((col("__rn") - 1) / saltChunk).cast("int"))
        .withColumn("__m", ceil(col("__bs") / lit(saltChunk.toDouble)).cast("int"))
        .withColumn("__k", xxhash64(col("b"), col("band_key")))
        .persist()
      track(hot)
      val left = hot.select(col("doc_id").as("doc_a"), col("__k"),
        col("__c").as("i"), explode(sequence(col("__c"), col("__m") - 1)).as("j"))
      val right = hot.select(col("doc_id").as("doc_b"), col("__k"),
        explode(sequence(lit(0), col("__c"))).as("i"), col("__c").as("j"))
      candCold.union(
        left.join(right, Seq("__k", "i", "j"))
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b")))
    } else candCold
    val cand = candAll.distinct()
    // verify over the 32-bit shingle HASHES, not the shingle strings: the
    // candidate join ships both docs' arrays per pair (the Σ bucket²
    // stage), and 4-byte ints cut that shuffle ~5× and make the set ops
    // integer compares. Engine parity holds because the oracle derives
    // the same md5-prefix hashes (`v`) from the same distinct shingles —
    // a (≈2e-6/pair) hash collision shrinks BOTH sides' intersect
    // identically, so results stay hash-identical vs DuckDB. Jaccard is
    // unrounded: small-int ratios land on .xxxx5 round-tie boundaries
    // where Spark (decimal-repr HALF_UP) and DuckDB (binary) disagree.
    jaccardVerify(cand,
      sh.select(col("doc_id").as("doc_a"), col("hashes").as("h_a")),
      sh.select(col("doc_id").as("doc_b"), col("hashes").as("h_b")),
      threshold)
  }

  /** Cross-corpus deduplication — onboarding a new crawl against an
    * already-curated reference corpus: a doc drops if it exactly matches
    * any reference doc (normalized fingerprint, NULL-sentineled) or
    * near-matches one (MinHash band collision + exact-Jaccard verify ≥
    * `threshold`). The reference is read-only — it is never deduped,
    * mutated, or self-joined. Returns every input doc labeled
    * (doc_id, drop_reason ∈ exact_ref | near_ref | kept) — precedence
    * exact_ref first, the curate-labeling convention. Within-`docs`
    * duplicates are NOT touched (that is [[exactGroups]] /
    * [[minhashLshPairs]]' job — compose before or after as the pipeline
    * wants); this operator answers only "is it already in the corpus?".
    *
    * Scale: one fingerprint-keyed join (reference side distinct-ed), one
    * (band, signature)-keyed join (docs bands × reference bands — never
    * a self-join on either side), hot REFERENCE buckets capped at
    * `maxBucket` (a boilerplate band bucket in a 100 TB reference would
    * otherwise fan every matching new doc into B verify pairs; capped
    * members still match through their other, more selective bands —
    * the minhashLshPairs rationale), then the hash-array verify join.
    * All shuffles are keyed and bucketed; the incremental/streaming twin
    * of this operation is CurateStream's registry join, which shares the
    * banding and verify stages. */
  def dedupAgainst(docs: DataFrame, reference: DataFrame,
      numSigs: Int = Lsh.NumSigs, rowsPerBand: Int = Lsh.RowsPerBand,
      threshold: Double = Lsh.Threshold, maxBucket: Int = Lsh.MaxBucket): DataFrame =
    dedupAgainstIndex(docs,
      prepareReference(reference, numSigs, rowsPerBand, threshold, maxBucket))

  /** The reference side of [[dedupAgainst]], computed once: distinct
    * fingerprints, the hot-bucket-capped band table, and the shingle-hash
    * arrays. Persisted (cache-registry-tracked), so a long-lived consumer
    * — the batch call, or [[graft.streaming.StreamingPipelines
    * .onboardingSink]] checking every micro-batch against the SAME
    * curated corpus — pays the reference scans once, not per use. */
  final case class ReferenceIndex(
      fpRef: DataFrame, bandsR: DataFrame, shR: DataFrame,
      numSigs: Int, rowsPerBand: Int, threshold: Double)

  def prepareReference(reference: DataFrame,
      numSigs: Int = Lsh.NumSigs, rowsPerBand: Int = Lsh.RowsPerBand,
      threshold: Double = Lsh.Threshold, maxBucket: Int = Lsh.MaxBucket): ReferenceIndex = {
    val fpRef = track(reference
      .select(coalesce(fingerprint(col("text")), lit("null:")).as("fp"))
      .distinct().persist())
    val shR = track(shingleSets(reference).persist())
    val bucketW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("b"), col("band_key"))
    val bandsR = track(bandsFromShingles(shR, numSigs, rowsPerBand)
      .withColumn("__bs", count(lit(1)).over(bucketW))
      .filter(col("__bs") <= maxBucket).drop("__bs")
      .persist())
    ReferenceIndex(fpRef, bandsR, shR, numSigs, rowsPerBand, threshold)
  }

  /** Label `docs` against a prepared reference: exact_ref / near_ref /
    * kept, with exact_ref taking precedence. Per-doc and reference-static,
    * so the decision is batching-independent — the property the streaming
    * onboarding sink's stream≡batch rests on. */
  def dedupAgainstIndex(docs: DataFrame, ref: ReferenceIndex): DataFrame = {
    val fpDocs = track(docs
      .select(col("doc_id"),
        coalesce(fingerprint(col("text")), lit("null:")).as("fp")).persist())
    val exactHit = fpDocs.join(ref.fpRef, Seq("fp")).select(col("doc_id")).distinct()

    val shD = track(shingleSets(docs).persist())
    val bandsD = bandsFromShingles(shD, ref.numSigs, ref.rowsPerBand)
    // long-keyed band join (the minhashLshPairs rule): xxhash64(b, band_key)
    // shuffles/compares faster than the signature strings, and a bucket-
    // hash collision only ADDS candidates that exact verify then gates
    val cand = bandsD
      .select(col("doc_id").as("doc_a"), xxhash64(col("b"), col("band_key")).as("__k"))
      .join(ref.bandsR.select(col("doc_id").as("doc_b"),
        xxhash64(col("b"), col("band_key")).as("__k")), Seq("__k"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val nearHit = jaccardVerify(cand,
      shD.select(col("doc_id").as("doc_a"), col("hashes").as("h_a")),
      ref.shR.select(col("doc_id").as("doc_b"), col("hashes").as("h_b")),
      ref.threshold)
      .select(col("doc_a").as("doc_id")).distinct()

    docs.select(col("doc_id"))
      .join(exactHit.withColumn("__ex", lit(1)), Seq("doc_id"), "left")
      .join(nearHit.withColumn("__nr", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__ex").isNotNull, lit("exact_ref"))
          .when(col("__nr").isNotNull, lit("near_ref"))
          .otherwise(lit("kept")).as("drop_reason"))
  }

  /** Exact n-gram Jaccard similarity self-join via prefix filtering
    * (Bayardo et al. WWW'07 All-Pairs; Vernica et al. SIGMOD'10 for the
    * MapReduce formulation) — the exact counterpart to minhashLshPairs:
    * same (doc_a, doc_b, jaccard >= threshold) contract, but candidate
    * generation is recall-LOSSLESS, no signature approximation.
    *
    * Order every doc's distinct gram-hash set by ascending global document
    * frequency (rarest first); a pair with J >= t must share a gram within
    * each side's first |s| − ⌈t·|s|⌉ + 1 grams, so only PREFIX grams are
    * exploded into the inverted index. The shuffle keys are (rare) prefix
    * grams — pair space Σ(prefix-df²), never O(N²) — plus a length filter
    * (t·|A| ≤ |B| ≤ |A|/t) on the candidate join. Prefix length uses
    * floor(t·sz) (≥ the tight bound, immune to binary-rounding of t·sz),
    * so losslessness never hinges on a floating-point ceil; DedupSpec
    * proves pair-identity against the brute-force all-pairs form.
    *
    * At 100 TB: the df table is one gram-keyed partial agg; frequency
    * ordering makes hot (boilerplate) grams land at array TAILS, outside
    * every prefix, so the inverted index self-skews toward singleton
    * buckets — the property that makes prefix filtering the standard
    * exact set-similarity join at scale. */
  def ngramJaccardPairs(
      docs: DataFrame,
      n: Int = 3,
      threshold: Double = 0.7): DataFrame = {
    val sets = track(boundToks(docs)
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        // sorted at source → the verify runs the fused two-pointer merge
        // (the shingleSets rule); every other consumer is order-free
        graft.functions.TextFunctions.sortedDistinct(
          graft.functions.TextFunctions.shingleHash32(col("toks"), n))
          .as("hs"))
      .withColumn("sz", size(col("hs")))
      .persist())
    val grams = sets.select(col("doc_id"), explode(col("hs")).as("h"))
    val dfreq = grams.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // rarest-first total order (df, h); struct sort gives it directly — no
    // global rank window (which would single-partition the whole corpus)
    val ordered = grams.join(dfreq, "h")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("h")))).as("ord"))
    val pref = track(ordered.join(sets.select(col("doc_id"), col("sz")), "doc_id")
      .select(col("doc_id"), col("sz"),
        slice(transform(col("ord"), o => o.getField("h")), lit(1),
          (col("sz") - floor(lit(threshold) * col("sz")) + 1).cast("int")).as("pref"))
      .persist()) // feeds both sides of the self-join
    val pe = pref.select(col("doc_id"), col("sz"),
      posexplode(col("pref")).as(Seq("i", "h")))
    // positional filter (PPJoin, Xiao et al. WWW'08): a co-occurrence at
    // 0-based prefix positions (i, j) caps the possible overlap at
    // 1 + min(szA−i−1, szB−j−1) — require it to reach the Jaccard overlap
    // bound t/(1+t)·(szA+szB). Necessary-condition prune, so recall stays
    // lossless (a true pair always survives via its FIRST shared prefix
    // gram, where the cap is largest); on low-diversity corpora where
    // every gram is common this is the filter that keeps the candidate
    // set (and the array-shipping verify join behind it) from exploding.
    // The 1e-9 slack keeps the prune CONSERVATIVE under IEEE rounding:
    // fl(t/(1+t)) can round UP (t=0.8 → ...004), and an integer cap that
    // EQUALS the real bound (a pair at exactly J = t) would then fail a
    // >= against the rounded-up product and be silently dropped — the
    // double's true error is ~1e-17, so the slack admits only candidates
    // within 1e-9 relative of the bound (they go on to exact verify).
    val cand = pe.as("x")
      .join(pe.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id") &&
          col("x.sz") >= lit(threshold) * col("y.sz") - lit(1e-9) * col("y.sz") &&
          col("y.sz") >= lit(threshold) * col("x.sz") - lit(1e-9) * col("x.sz") &&
          (lit(1) + least(col("x.sz") - col("x.i") - 1, col("y.sz") - col("y.i") - 1)) >=
            lit(threshold / (1 + threshold) - 1e-9) * (col("x.sz") + col("y.sz")))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // verify on the distinct 32-bit gram hashes — same engine-parity
    // contract as minhashLshPairs (the oracle derives identical md5-prefix
    // hashes, so a rare collision shrinks both sides' intersect alike);
    // shares jaccardVerify so the verify contract lives in ONE place
    jaccardVerify(cand,
      sets.select(col("doc_id").as("doc_a"), col("hs").as("h_a")),
      sets.select(col("doc_id").as("doc_b"), col("hs").as("h_b")),
      threshold)
  }

  /** Asymmetric CONTAINMENT pairs: (doc_a, doc_b, containment) where the
    * smaller-set doc_a has >= `threshold` of its distinct n-gram hashes
    * inside doc_b — the "doc B is doc A plus extra paragraphs" family
    * symmetric Jaccard structurally misses (a doc fully contained in one
    * twice its size has J ≈ 0.5 and sails through a 0.7 Jaccard gate).
    * The dedup decision this feeds is the asymmetric one: drop the
    * contained copy, keep the superset.
    *
    * Same machinery as [[ngramJaccardPairs]] with the asymmetric prefix
    * rule: only the CONTAINED side needs a rarest-first prefix (its
    * first sz − floor(t·sz) + 1 rarest grams — if none of them occur in
    * B, the overlap cannot reach ceil(t·sz); floor keeps the prefix
    * conservative under IEEE product rounding), while the container side
    * indexes ALL its grams — recall-lossless by the same
    * necessary-condition argument, certified against an ALL-gram-sharing-
    * pairs oracle. Ties in size order by doc_id, so each unordered pair
    * is examined in exactly one direction.
    *
    * Scale: gram-keyed candidate shuffle like the Jaccard join; the
    * contained side ships only prefixes, and prefix grams are each doc's
    * RAREST, which is what keeps the fan-out against the full container
    * index bounded on low-diversity corpora. */
  def ngramContainmentPairs(
      docs: DataFrame,
      n: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val sets = track(boundToks(docs)
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        // sorted at source — the fused intersect-count contract
        graft.functions.TextFunctions.sortedDistinct(
          graft.functions.TextFunctions.shingleHash32(col("toks"), n))
          .as("hs"))
      .withColumn("sz", size(col("hs")))
      .persist())
    val grams = sets.select(col("doc_id"), explode(col("hs")).as("h"))
    val dfreq = grams.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // persisted ONCE: both the prefix side and the positional container
    // index read this frame (and the Generate cliff needs the cache
    // boundary below each posexplode anyway)
    val ranked = track(grams.join(dfreq, "h")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("h")))).as("ord"))
      .join(sets.select(col("doc_id"), col("sz")), "doc_id")
      .select(col("doc_id"), col("sz"),
        transform(col("ord"), o => o.getField("h")).as("ordh"))
      .persist())
    val pa = ranked.select(col("doc_id").as("doc_a"), col("sz").as("sz_a"),
      posexplode(slice(col("ordh"), lit(1),
        (col("sz") - floor(lit(threshold) * col("sz")) + 1).cast("int")))
        .as(Seq("i", "h")))
    // container side carries POSITIONS over its full rarest-first order so
    // the PPJoin positional cap applies: a co-occurrence at (i, j) bounds
    // the overlap at 1 + min(szA−i−1, szB−j−1); requiring that to reach
    // ceil(t·szA) prunes hot-gram candidates pair-losslessly (a true pair
    // always survives via its FIRST shared gram, where the cap is
    // largest — the ngramJaccardPairs argument, same 1e-9 rounding slack).
    // Without it the container's full gram index made low-diversity
    // corpora quadratic-ish (sf1 fixture: 122s → see ROUND_NOTES).
    val gb = ranked.select(col("doc_id").as("doc_b"), col("sz").as("sz_b"),
      posexplode(col("ordh")).as(Seq("j", "h")))
    val cand = pa.join(gb,
        pa("h") === gb("h") &&
          (col("sz_a") < col("sz_b") ||
            (col("sz_a") === col("sz_b") && col("doc_a") < col("doc_b"))) &&
          (lit(1) + least(col("sz_a") - col("i") - 1, col("sz_b") - col("j") - 1)) >=
            lit(threshold - 1e-9) * col("sz_a"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val a = sets.select(col("doc_id").as("doc_a"), col("hs").as("h_a"))
    val b = sets.select(col("doc_id").as("doc_b"), col("hs").as("h_b"))
    cand.join(a, "doc_a").join(b, "doc_b")
      .withColumn("containment",
        call_function("intersect_count_sorted", col("h_a"), col("h_b")).cast("double") /
          size(col("h_a")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("containment"))
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken SIGMOD'03):
    * ordered k-token-shingle rolling hashes → sliding window of `w` → keep
    * each window's min → distinct sorted fingerprint set per doc. All
    * map-side (tokenize + hash + window-min are narrow column expressions),
    * so the table costs one scan; docs shorter than w+k-1 tokens have no
    * full window and are dropped, like shingleSets' <k rule. */
  def winnowTable(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= k + w - 1) // >= w windows needs >= w+k-1 tokens
      // one derived hop per projection with intermediates kept in scope
      // (withColumn) — the shingleSets binding discipline. NOTE: a
      // downstream explode(fps) still re-inlines this whole chain into the
      // Generate and re-evaluates it per output row (measured 254s for 10k
      // rows at sf0.001, thread-dump-confirmed tokenizer re-evaluation) —
      // every consumer that explodes MUST materialize this frame first
      // (winnowPairs/winnowDedupSink persist it; DedupSpec pins the shape).
      // positional k-gram hashes from the fused kernel (no shingle
      // strings; position order is exactly what winnowing windows need)
      .select(col("doc_id"),
        graft.functions.TextFunctions.shingleHash32(col("toks"), k).as("h"))
      .withColumn("fps", winnowFromHashes(col("h"), w))
      .select(col("doc_id"), col("fps"))

  /** Near-dup candidate pairs from shared winnowing fingerprints: explode
    * each doc's fingerprint set and equi-join on the fingerprint value —
    * the shuffle key is the fingerprint, so co-candidates co-locate and
    * the pair space is Σ(bucket²), never O(N²). Pairs sharing >= minShared
    * fingerprints survive (the MOSS ranking signal). `maxBucket` drops
    * ubiquitous fingerprints (boilerplate — same role as minhash's
    * hot-bucket cap). */
  def winnowPairs(
      docs: DataFrame,
      k: Int = 3,
      w: Int = 4,
      minShared: Int = 2,
      maxBucket: Int = 1000): DataFrame = {
    // winnowTable MUST be persisted before the explode: Generate re-inlines
    // an unmaterialized fps expression and re-evaluates the whole
    // tokenize+hash+window-min chain per exploded row (measured 254s vs
    // ~4s at sf0.001). The cache boundary (InMemoryRelation) is the hard
    // barrier no optimizer pass can cross.
    winnowPairsFromTable(track(winnowTable(docs, k, w).persist()), minShared, maxBucket)
  }

  /** winnowPairs over an ALREADY-MATERIALIZED winnow table (doc_id, fps)
    * — the streaming sinks persist the table once per micro-batch for the
    * registry write and reuse it here instead of paying the
    * tokenize+hash+window-min scan twice. `wt` must be persisted (see
    * winnowPairs' Generate note). */
  private[graft] def winnowPairsFromTable(
      wt: DataFrame, minShared: Int, maxBucket: Int): DataFrame = {
    val fps = wt.select(col("doc_id"), explode(col("fps")).as("fp"))
    val bucketW = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    // also persisted: both self-join sides read the capped table — without
    // this the explode + bucket-count window run twice (same rule as
    // minhashLshPairs' band table)
    val capped = track(fps.withColumn("__bs", count(lit(1)).over(bucketW))
      .filter(col("__bs") <= maxBucket).drop("__bs").persist())
    capped.as("x")
      .join(capped.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Connected components over a near-dup pair table: every document is
    * labeled with the MIN doc_id of its component (the canonical keeper),
    * so transitive near-dups (a~b, b~c, a!~c) collapse into ONE cluster —
    * the correct corpus-dedup policy where the pairwise drop-doc_b rule
    * would over- or under-drop.
    *
    * Two-phase star contraction (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14): each round alternates
    * large-star(u) — every neighbor v > u re-attaches to
    * m = min(Γ(u) ∪ {u}) — and small-star on the (u > v) orientation —
    * every smaller neighbor and u itself re-attach to the neighborhood
    * min. Both operations preserve connectivity and converge to stars
    * rooted at each component's MINIMUM node in O(log n) effective rounds
    * EVEN ON LONG CHAINS (a path contracts geometrically), where the
    * previous min-label propagation needed O(component diameter) rounds —
    * 999 sequential shuffles for a 1000-link chain; DedupSpec pins the
    * round bound. Near-clique dup clusters converge in 1-2 rounds under
    * both schemes, so the common case costs the same.
    *
    * Each phase is a node-keyed partial-agged min + one join — the same
    * shuffle shape as the label rounds, just two per round. Only
    * documents that appear in some pair are returned (singletons are
    * their own cluster trivially). */
  def duplicateClusters(pairs: DataFrame): DataFrame = starCC(pairs)._1

  /** Cluster-size histogram over [[duplicateClusters]] output — dedup
    * observability: one row per cluster size with how many clusters have
    * it and how many docs they hold (n_docs = cluster_size · n_clusters).
    * A heavy tail here is the "one boilerplate template swallowed half
    * the corpus" alarm that per-pair metrics can't show. Two tiny keyed
    * aggs over the cluster table (cluster-count rows, then size-count
    * rows) — nothing corpus-sized shuffles. */
  def clusterSizeProfile(clusters: DataFrame): DataFrame =
    clusters.groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))

  /** [[duplicateClusters]] with the round count exposed (for the
    * convergence-bound spec). */
  private[graft] def starCC(pairs: DataFrame): (DataFrame, Int) = {
    val nodes = track(pairs
      .select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .distinct().persist())
    // representation invariant: directed unique pairs with u > v (both
    // phases provably re-emit only larger→smaller edges)
    //
    // localCheckpoint per round TRUNCATES LINEAGE, not just caches: the
    // round-r plan would otherwise embed the (r-1) plan on both sides of
    // the convergence anti-join — ~2^r copies of the (large) pair-
    // generation subtree, and AQE's per-update explainString OOMs on the
    // stringified tree long before the data is big (observed at 3 docs).
    // With the truncation every round's plan is O(|edge plan|).
    var edges = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)
    var rounds = 0
    var converged = edges.isEmpty
    while (!converged) {
      // ---- large-star: neighbors above u hook onto u's neighborhood min
      val sym = edges.select(col("u").as("a"), col("v").as("b"))
        .union(edges.select(col("v").as("a"), col("u").as("b")))
      val mins = sym.groupBy(col("a")).agg(min(col("b")).as("mn"))
        .select(col("a"), least(col("a"), col("mn")).as("m"))
      val large = sym.join(mins, "a").filter(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // ---- small-star: u and its smaller neighbors hook onto their min
      val dirMin = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val next = large.join(dirMin, "u")
        .select(col("v").as("n"), col("m"))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .union(dirMin.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(false)
      // exact convergence: the directed edge set is unchanged (set
      // equality via two anti-joins — a fingerprint compare could stop
      // early on a collision and silently mislabel)
      converged = next.join(edges, Seq("u", "v"), "left_anti")
        .union(edges.join(next, Seq("u", "v"), "left_anti"))
        .isEmpty
      edges = next // prior round's blocks GC-reclaim
      rounds += 1
    }
    val parents = edges.groupBy(col("u")).agg(min(col("v")).as("__parent"))
    val labels = nodes.join(parents, nodes("doc_id") === parents("u"), "left")
      .select(col("doc_id"), coalesce(col("__parent"), col("doc_id")).as("cluster"))
    (labels, rounds)
  }

  /** Fold NEW near-dup pairs into an existing cluster labeling without the
    * original pair set: stored labels are star edges (doc → cluster root),
    * and connected components over (stars ∪ new pairs) equal components
    * over the full original edge set — the standard incremental-CC
    * compaction. A new pair that bridges two old clusters relabels BOTH
    * to the min root. State carried between folds is one row per
    * clustered doc (self-rooted rows are self-edges, so singleton
    * clusters survive a fold they don't participate in). */
  def mergeClusters(labels: DataFrame, newPairs: DataFrame): DataFrame =
    duplicateClusters(
      labels.select(col("doc_id").as("doc_a"), col("cluster").as("doc_b"))
        .unionByName(newPairs.select(col("doc_a"), col("doc_b"))))

  /** Corpus-wide repeated-span removal (the C4/MassiveText sub-document
    * dedup stage, Raffel et al. 2020 §2.2 re-expressed positionally):
    * every document is segmented into consecutive `k`-token spans, spans
    * occurring more than `maxOcc` times ACROSS THE CORPUS (boilerplate,
    * license headers, navigation chrome) are deleted from every document
    * carrying them, and each document's text is rebuilt from its surviving
    * spans in position order. Returns one row per input document:
    * (doc_id, text, n_spans, n_kept) — a fully-boilerplate doc comes back
    * with empty text and n_kept = 0, so downstream length/quality gates
    * drop it, same as the reference pipelines.
    *
    * Scale: span counting is one span-keyed partial agg; the removal join
    * is LEFT ANTI against only the BANNED spans (repeated ones — tiny next
    * to the corpus, broadcastable); reassembly shuffles once on doc_id.
    * The span-array frame is persisted before its explode (Generate
    * re-inline cliff — see winnowPairs). */
  /** Per-doc positional span arrays (doc_id, spans: array<(pos, span)>);
    * the shared construction behind dedupSpans and the streaming span
    * registry (StreamingPipelines.spanDedupSink) — both forms MUST
    * segment identically or stream ≢ batch. Zero-token docs keep an
    * empty array (the sequence() guard is load-bearing: Spark infers a
    * DESCENDING step for sequence(0, -1), yielding [0, -1]). */
  private[graft] def spanTable(docs: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"span length must be positive, got $k")
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks")) // bind once
      .select(col("doc_id"),
        when(size(col("toks")) > 0,
          transform(
            sequence(lit(0), ceil(size(col("toks")).cast("double") / k).cast("int") - 1),
            i => struct(i.as("pos"),
              concat_ws(" ", slice(col("toks"), i * k + 1, lit(k))).as("span"))))
          .otherwise(array().cast("array<struct<pos:int,span:string>>")).as("spans"))
  }

  /** Shared finish: ban corpus-repeated spans, rebuild texts positionally.
    * `meta` = (doc_id, n_spans); `spans` = (doc_id, pos, span) rows. */
  private[graft] def finishSpans(meta: DataFrame, spans: DataFrame, maxOcc: Int): DataFrame = {
    val banned = spans.groupBy(col("span")).agg(count(lit(1)).as("ct"))
      .filter(col("ct") > maxOcc).select(col("span"))
    val kept = spans.join(banned, Seq("span"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("span")))).as("ps"),
        count(lit(1)).as("n_kept"))
      .select(col("doc_id"),
        concat_ws(" ", transform(col("ps"), s => s.getField("span"))).as("rebuilt"),
        col("n_kept"))
    meta.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rebuilt"), lit("")).as("text"),
        col("n_spans"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** @param cjk mixed-script mode — sub-document dedup by CHARACTER
    *   OFFSETS (the decontaminateSpans-cjk sibling): the latin arm's
    *   rebuild concatenates kept span STRINGS, which would duplicate
    *   interior ideographs of overlapping CJK bigram tokens. The cjk arm
    *   instead segments the `tokenize_spans_cjk` token stream into
    *   consecutive k-token chunks whose EXTENT is the half-open
    *   character range [first own token's start, next chunk's first
    *   token's start) — a partition of lower_root(text) from the first
    *   token on, so excising a banned chunk never clips a kept
    *   neighbor; chunk IDENTITY for the corpus count stays the
    *   space-joined token sequence (pure content, position-free).
    *   Output text is lower_root(text) minus banned-chunk ranges
    *   (leading separators always survive; a chunk owns its trailing
    *   separators), so unlike the latin arm non-token text is
    *   preserved. Same scale shape: one span-keyed partial agg, a
    *   left-semi against the tiny banned set, one doc_id shuffle. */
  def dedupSpans(docs: DataFrame, k: Int = 8, maxOcc: Int = 1,
      cjk: Boolean = false): DataFrame =
    if (cjk) dedupSpansByOffset(docs, k, maxOcc)
    else {
      val toked = track(spanTable(docs, k).persist())
      val spans = toked.select(col("doc_id"), explode(col("spans")).as("s"))
        .select(col("doc_id"), col("s.pos").as("pos"), col("s.span").as("span"))
      finishSpans(
        toked.select(col("doc_id"), size(col("spans")).cast("long").as("n_spans")),
        spans, maxOcc)
    }

  /** The cjk arm of [[dedupSpans]] (see its @param cjk). */
  private def dedupSpansByOffset(docs: DataFrame, k: Int, maxOcc: Int): DataFrame = {
    val ct = track(chunkTableCjk(docs, k).persist())
    val flat = ct.select(col("doc_id"), explode(col("chunks")).as("c"))
      .select(col("doc_id"), col("c.span").as("span"),
        col("c.cs").as("cs"), col("c.ce").as("ce"))
    finishChunksCjk(
      ct.select(col("doc_id"), col("lt"),
        size(col("chunks")).cast("long").as("n_spans")),
      flat, maxOcc)
  }

  /** Per-doc cjk chunk arrays — the [[spanTable]] twin for the offset
    * family, shared by the dedupSpans cjk arm and the streaming span
    * registry (StreamingPipelines.spanDedupSink cjk): (doc_id,
    * lt = lower_root(text), chunks: array<(pos, span, cs, ce)>) where
    * chunk i covers tokens [i·k, min((i+1)·k, n)) of the
    * tokenize_spans_cjk stream, `span` is their space-joined text
    * (content identity for the corpus ban count), and [cs, ce) is the
    * half-open codepoint extent [own first token's start, next chunk's
    * first token's start) — the LAST chunk extends to length(lt). Both
    * consumers MUST segment identically or stream ≢ batch. Persist the
    * result before exploding `chunks` (Generate re-inline cliff). */
  private[graft] def chunkTableCjk(docs: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"span length must be positive, got $k")
    import org.apache.spark.sql.functions.{call_function => fn}
    val bound = docs.select(col("doc_id"),
      fn("tokenize_spans_cjk", col("text")).as("spans"),
      fn("lower_root", coalesce(col("text"), lit(""))).as("lt"))
    // fused chunk build (plans.ChunkSpansCjk): the compositional
    // transform(sequence)/slice/concat_ws/element_at chain ran THREE
    // interpreted lambdas per doc and re-sliced the spans array per
    // chunk — bit-parity with that form is pinned in PlansSpec
    bound.select(col("doc_id"), col("lt"),
      fn("chunk_spans_cjk", col("spans"), length(col("lt")), lit(k)).as("chunks"))
  }

  /** Shared cjk finish (the [[finishSpans]] twin): ban corpus-repeated
    * chunks, excise their character ranges from each doc's `lt`.
    * `meta` = (doc_id, lt, n_spans); `chunks` = (doc_id, span, cs, ce)
    * rows. Banned-range mass per doc is bounded by doc length, and the
    * excision fold does work proportional to a doc's banned chunks. */
  private[graft] def finishChunksCjk(meta: DataFrame, chunks: DataFrame,
      maxOcc: Int): DataFrame = {
    val banned = chunks.groupBy(col("span")).agg(count(lit(1)).as("ct"))
      .filter(col("ct") > maxOcc).select(col("span"))
    val bannedRanges = chunks.join(banned, Seq("span"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("cs"), col("ce")))).as("bs"),
        count(lit(1)).as("n_banned"))
    val joined = meta.join(bannedRanges, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lt"), col("n_spans"),
        coalesce(col("bs"), array().cast("array<struct<cs:int,ce:int>>")).as("bs"),
        (col("n_spans") - coalesce(col("n_banned"), lit(0L))).as("n_kept"))
    // same sorted-range excision fold as decontaminateSpans cjk (ranges
    // are non-overlapping by construction; greatest() is belt-and-braces)
    val rebuilt = aggregate(col("bs"),
      struct(lit(0).as("last"), lit("").as("acc")),
      (st, sp) => struct(
        greatest(st("last"), sp("ce")).as("last"),
        concat(st("acc"),
          when(sp("cs") > st("last"),
            col("lt").substr(st("last") + 1, sp("cs") - st("last")))
            .otherwise(lit(""))).as("acc")),
      st => concat(st("acc"),
        col("lt").substr(st("last") + 1, length(col("lt")) - st("last"))))
    joined.select(col("doc_id"), rebuilt.as("text"),
      col("n_spans"), col("n_kept"))
  }

  /** Edit-distance similarity self-join: all pairs with
    * levenshtein(s_a, s_b) <= maxDist, the character-level counterpart to
    * ngramJaccardPairs' token-set join — the primitive behind
    * near-identical titles/names/URLs.
    *
    * Candidate generation is recall-LOSSLESS. Long strings (len >=
    * q·(maxDist+1)) use PassJoin-style even-segment indexing (Li, Deng,
    * Feng, VLDB'11 "PASS-JOIN"): partition the shorter string of a pair
    * into d+1 deterministic segments — d edits can touch at most d of
    * them, so ed <= d implies SOME segment of a appears VERBATIM in b,
    * shifted by at most ±d (an unedited segment's displacement is
    * #insertions − #deletions before it, bounded by the edit budget).
    * The index side emits each string's d+1 (len, i, segment) keys; the
    * probe side emits, for each candidate shorter length la in
    * [len−d, len] and each segment ordinal, every substring of itself in
    * the ±d alignment window — a constant (d+1)²·(2d+1) keys per string.
    * Segment keys are ~len/(d+1) EXACT characters (position- and
    * length-qualified), so bucket sizes track true aligned-duplicate
    * groups, not shared-substring frequency: this replaced a rarest-first
    * q-gram prefix index (Gravano VLDB'01 / Xiao VLDB'08) that round 15's
    * catalog sweep caught going quadratic on template-heavy titles — a
    * 40-char title corpus has a tiny distinct-3-gram space, so even the
    * rarest grams sat in >1000 prefixes and 7.7k strings generated 6.4M
    * candidates for a 12k-pair output (SCALE.md §Round-15). A hot aligned
    * segment (mass-duplicate aligned substrings, where the candidate set
    * is genuinely quadratic) fails LOUDLY via raise_error under
    * maxSegBucket, the RangeJoin giant-interval rule.
    *
    * Shorter strings (len < q·(d+1)) tile a LENGTH-band index (width d+1,
    * each row in its own tile and the one above, so any |Δlen| <= d pair
    * co-tiles); cross pairs (short × borderline-long) ride the same
    * tiles, keeping the long/short split a true partition of the pair
    * space, with the same loud maxShortBucket cap on TRUE-short tile
    * population.
    *
    * Both engines' levenshtein is the exact unit-cost DP over characters —
    * integer, no floats anywhere. The DuckDB oracle may recompose ANY
    * recall-lossless candidate chain (the catalog oracle keeps the q-gram
    * prefix form): both sides' verified outputs equal the true pair set,
    * so the hash match is algorithm-independent. NULL strings are
    * compared as '' (ed to the empty string = the other side's length),
    * keeping the join total.
    *
    * At 100 TB: index size is (d+1) keys per string, probe size
    * (d+1)²(2d+1) — both linear with small constants; the only shuffles
    * are the segment-keyed equi-join and its guard count, and the verify
    * join ships only candidate pairs (≈ output-sized on non-degenerate
    * corpora). */
  def editDistancePairs(docs: DataFrame, maxDist: Int = 2, q: Int = 3,
      maxShortBucket: Int = 100000, maxSegBucket: Int = 100000): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    require(q >= 2, s"q must be >= 2, got $q")
    val d = maxDist
    val longMin = q * (d + 1) // long/short path split (kept from the q-gram form)
    val base = track(docs
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("s"))
      .withColumn("len", length(col("s")))
      .persist()) // feeds segment build, tile build, and both verify sides

    // ---- long×long: PassJoin even-segment index ------------------------
    // segment i of a length-l string (i in 0..d, 1-based substr):
    // start 1 + floor(i·l/(d+1)), length floor((i+1)·l/(d+1)) − floor(i·l/(d+1))
    def segStart(i: Column, l: Column): Column =
      (floor(i * l / (d + 1)) + 1).cast("int")
    def segLen(i: Column, l: Column): Column =
      (floor((i + 1) * l / (d + 1)) - floor(i * l / (d + 1))).cast("int")
    val longs = base.filter(col("len") >= longMin)
    // index: d+1 exact segments per string — static array, no interpreted
    // HOF on the corpus path (transform/aggregate are CodegenFallback)
    val segsArr = array((0 to d).map { i =>
      col("s").substr(segStart(lit(i), col("len")), segLen(lit(i), col("len")))
    }: _*)
    val segIdx = longs.select(col("doc_id"), col("len"),
      posexplode(segsArr).as(Seq("i", "seg")))
    // hot aligned-segment guard: a bucket of identical (len, ordinal,
    // segment) keys means that many strings agree on an aligned exact
    // ~len/(d+1)-char run — the candidate set over it is quadratic by
    // construction, so make the caller say so instead of silently burning
    val segCt = segIdx.groupBy(col("len"), col("i"), col("seg"))
      .agg(count(lit(1)).as("ct"))
    val guardedIdx = segIdx.join(segCt, Seq("len", "i", "seg"))
      .select(col("doc_id"), col("len"), col("i"),
        when(col("ct") <= maxSegBucket, col("seg"))
          .otherwise(raise_error(concat(
            lit(s"editDistancePairs: aligned segment bucket holds > $maxSegBucket strings ("),
            col("ct"),
            lit(" rows) — quadratic candidate set; dedup exact aligned duplicates first"))))
          .as("seg"))
    // probe: for each candidate SHORTER length la in [len−d, len], each
    // segment ordinal, each start in the ±d window — a static
    // (d+1)²(2d+1)-element array of nullable struct keys, nulls filtered
    val probeKeys = array((for {
      o <- 0 to d; i <- 0 to d; sft <- -d to d
    } yield {
      val la = (col("len") - o).cast("int")
      val st = (segStart(lit(i), la) + sft).cast("int")
      val ln = segLen(lit(i), la)
      when(la >= longMin && st >= 1 && st + ln - 1 <= col("len"),
        struct(la.as("la"), lit(i).as("i"), col("s").substr(st, ln).as("seg")))
    }): _*)
    val probe = longs.select(col("doc_id"), explode(probeKeys).as("k"))
      .filter(col("k").isNotNull)
      .select(col("doc_id"), col("k.la").as("la"), col("k.i").as("i"),
        col("k.seg").as("seg"))
    val longCand = guardedIdx.as("x").join(probe.as("y"),
        col("x.len") === col("y.la") && col("x.i") === col("y.i") &&
          col("x.seg") === col("y.seg") && col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
      .distinct()

    // ---- rest: length-band tiles for shorts + their long border --------
    // tiles cover len < longMin + d (everything a true short can reach);
    // long×long border pairs are excluded below — the long path owns them
    val tiles = base.filter(col("len") < longMin + d)
      .select(col("doc_id"), col("len"), (col("len") / (d + 1)).cast("long").as("b"))
      .select(col("doc_id"), col("len"), explode(array(col("b"), col("b") + 1)).as("tile"))
    // the cap counts TRUE shorts only (len < longMin): border-long rows
    // (len in [longMin, longMin+d)) ride the tiles so short×long pairs
    // co-tile, but every long×long pair is owned by the prefix path — a
    // tile dense in border-longs is not a quadratic short-pair output and
    // must not trip the guard
    val tileCt = tiles.filter(col("len") < longMin)
      .groupBy(col("tile")).agg(count(lit(1)).as("ct"))
    val guarded = tiles.join(tileCt, Seq("tile"), "left")
      .withColumn("ct", coalesce(col("ct"), lit(0L)))
      .select(col("doc_id"), col("len"),
        when(col("ct") <= maxShortBucket, col("tile"))
          .otherwise(raise_error(concat(
            lit(s"editDistancePairs: length tile holds > $maxShortBucket short strings ("),
            col("ct"), lit(" rows) — quadratic short-pair output; dedup shorts first"))))
          .as("tile"))
    val shortCand = guarded.as("x").join(guarded.as("y"),
        col("x.tile") === col("y.tile") && col("x.doc_id") < col("y.doc_id") &&
          abs(col("x.len") - col("y.len")) <= d &&
          least(col("x.len"), col("y.len")) < longMin) // at least one true short
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    // ---- exact verify on the raw strings -------------------------------
    val a = base.select(col("doc_id").as("doc_a"), col("s").as("__sa"))
    val b = base.select(col("doc_id").as("doc_b"), col("s").as("__sb"))
    longCand.unionByName(shortCand)
      .join(a, "doc_a").join(b, "doc_b")
      .withColumn("dist", levenshtein(col("__sa"), col("__sb")))
      .filter(col("dist") <= d)
      .select(col("doc_a"), col("doc_b"), col("dist").cast("int").as("dist"))
  }

  /** Per-doc 32-bit SimHash (near-dup docs differ in few bits).
    *
    * One fused map-side call per doc (plans.SimHash32Doc: tokenize →
    * distinct → one md5 per token → 32 vote counters in a primitive
    * loop) — ZERO exchanges at any corpus size. This replaced the
    * explode+groupBy formulation (whose shuffle carried a 32-int vote
    * row per doc per map partition) once the fused kernel existed;
    * semantics stay identical to TextFunctions.simhash32 (asserted in
    * DedupSpec) and zero-token docs are absent, matching the explode
    * form's no-row behavior. */
  def simhashTable(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        call_function("simhash32_fused", coalesce(col("text"), lit(""))).as("simhash"))
      .filter(col("simhash").isNotNull)
}
