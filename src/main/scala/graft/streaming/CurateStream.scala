package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType
import graft.operators.{Dedup, Sampling, TextAnalysis}
import graft.pipeline.Curate

/** Continuous curation: pipeline.Curate's full gate chain as ONE
  * incremental sink. Each micro-batch goes through Curate.prepare and
  * Curate.label — the batch chain's own pre-transforms, gates and
  * drop_reason precedence, configured by the same Curate.Gates value —
  * and the labeled rows land in `outPath/batch=<id>`, so the streaming
  * accounting is the union of batch accountings. Only dedup is the
  * sink's own: it runs against the registry instead of the corpus.
  *
  * Cross-batch state is the same registry design as the other incremental
  * sinks (all under `registryPath`, every table in overwrite-idempotent
  * `batch=<id>` dirs, reads gated on _SUCCESS and excluding the current
  * id, folded into bounded snapshots every `compactEvery` batches —
  * Registry scaladoc has the protocol):
  *  - `fps/`     — EVERY seen document's normalized-text fingerprint
  *    (dropped docs too: the batch keeper of a fingerprint group is its
  *    FIRST occurrence, and later re-occurrences are exact dups even when
  *    that keeper later failed a quality gate — exactly exactGroups'
  *    min-doc_id rule on an id-ordered feed);
  *  - `bands/` + `hashes/` — LSH bands and shingle-hash arrays of EXACT
  *    SURVIVORS only (the batch pipeline runs LSH on afterExact), dropped
  *    near-dups included so later near-dups of a dropped doc still drop.
  * The registries hold fingerprints/bands of the PREPARED text (after
  * stripHtml/redactPii/excise), so docs that differ only in what a
  * pre-transform removes dedup together across batches too.
  *
  * Stream ≡ batch (StreamingSpec): on an id-ordered feed the union of
  * batch labels equals Curate.runDocs' accounting over the corpus-so-far
  * — same kept set, same per-reason counts, same kept-token sum — under
  * the sub-cap bucket regime the other LSH sinks document, at batch's
  * MinHash settings (Dedup.Lsh). The decontamination gate uses the exact
  * n-gram join against the STATIC benchmark (per-doc and
  * batching-independent, like every other gate); swap in
  * `decontaminationSink`'s broadcast-Bloom scoring when the corpus-side
  * shuffle matters more than exactness.
  *
  * At scale, per batch: one fingerprint agg, one (b, band_key)-keyed
  * registry join, one gram-keyed contamination join vs a tiny benchmark,
  * and map-side quality/lang/repetition — each the scale shape its batch
  * twin already audited. Registry state grows with seen docs, not pairs.
  */
object CurateStream {

  /** @param gates the gate chain (Curate.Gates; its mode contract is
    *   checked when the value is built, before the stream starts). Model
    *   tables (`classifier` weights, `lm` model) and benchmark tables are
    *   read per micro-batch, so train them once before starting the stream
    *   and persist them (or write and re-read): recomputing them per batch
    *   is correct, just wasted work. Curate.runDocs' batch-only
    *   `stripLineFreq` has no twin here (see Curate.prepare). */
  def sink(docs: DataFrame, registryPath: String, outPath: String,
      gates: Curate.Gates = Curate.Gates(), compactEvery: Int = 16): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        // refuse a registry whose hash arrays predate the sorted-array
        // contract (fused verify would silently mis-score)
        Registry.ensureFormat(spark, registryPath, "hashes-sorted-v2")
        // bound BOTH read surfaces before this batch's reads: the
        // three-table registry folds jointly (a snapshot only holds ids
        // committed in fps AND bands AND hashes), and the labeled output
        // folds as its own single-table group so keptView/labeledView stay
        // O(snapshot + compactEvery dirs) under continuous ingestion
        Registry.maybeCompact(spark, registryPath,
          Seq(s"$registryPath/fps", s"$registryPath/bands", s"$registryPath/hashes"),
          upToExclusive = batchId, every = compactEvery)
        Registry.maybeCompact(spark, outPath, Seq(outPath),
          upToExclusive = batchId, every = compactEvery)
        val dedupMark = Dedup.trackMark(spark)
        // every frame persisted in this batch body lands here and is
        // released in the one finally — a failed batch must not leak
        // InMemoryRelations under the at-least-once retry contract
        // (the excise pre-transform's registry-tracked persists release
        // there too)
        val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        def keep(df: DataFrame): DataFrame = { persisted += df.persist(); df }
        val b = keep(Curate.prepare(batch.toDF(), gates))
        // NULL-text sentinel: fingerprint(NULL) is NULL, and the registry
        // equi-join below is null-UNSAFE — without the sentinel a null-text
        // doc in a later batch never matches a null-fp doc in the registry,
        // while batch exactGroups DOES group NULL fingerprints into one
        // group (stream≡batch would break for null-text docs split across
        // batches). "null:" cannot collide with a 32-hex md5.
        val fps = keep(b.select(col("doc_id"),
          coalesce(graft.functions.TextFunctions.fingerprint(col("text")),
            lit("null:")).as("fp")))
        try {
          // 1. exact dups: fingerprint seen in the registry, or a
          // non-first occurrence within this batch (min doc_id keeps)
          val vFps = Registry.view(spark, registryPath, s"$registryPath/fps", batchId)
          val dupCross =
            if (vFps.isEmpty) b.select(col("doc_id")).limit(0)
            else fps.join(
              spark.read.parquet(vFps.paths: _*)
                .select(col("fp")).distinct(), "fp")
              .select(col("doc_id"))
          val wFp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
          val dupIn = fps.withColumn("__rn", row_number().over(wFp))
            .filter(col("__rn") > 1).select(col("doc_id"))
          val exactDropped = dupCross.union(dupIn).distinct()
            .localCheckpoint(true)
          val se = keep(b.join(exactDropped, Seq("doc_id"), "left_anti"))

          // 2. near-dups among exact survivors: in-batch pairs + registry
          // verify, the minhashDedupSink shape over one shingle scan
          val sh = keep(Dedup.shingleSets(se))
          val bands = keep(Dedup.bandsFromShingles(sh))
          val inBatch = Dedup.minhashPairsFromTables(sh, bands,
            Dedup.Lsh.Threshold, Dedup.Lsh.MaxBucket)
            .select(col("doc_b").as("doc_id")).distinct()
          val vBands = Registry.view(spark, registryPath, s"$registryPath/bands", batchId)
          val vHashes = Registry.view(spark, registryPath, s"$registryPath/hashes", batchId)
          // dirs above the watermark keep the both-tables-committed
          // intersection; snapshots are jointly consistent by fold
          val served = vBands.dirIds.intersect(vHashes.dirIds)
          val crossLosers =
            if (vBands.snapshotPath.isEmpty && served.isEmpty)
              b.select(col("doc_id")).limit(0)
            else {
              val regBands = spark.read
                .parquet(vBands.pathsFor(served): _*)
                .select(col("doc_id").as("doc_a"), col("b"), col("band_key")).persist()
              try {
                val hotKeys = regBands.groupBy(col("b"), col("band_key"))
                  .agg(count(lit(1)).as("__bs")).filter(col("__bs") > Dedup.Lsh.MaxBucket)
                  .select(col("b"), col("band_key"))
                val cand = bands.join(regBands, Seq("b", "band_key"))
                  .join(hotKeys, Seq("b", "band_key"), "left_anti")
                  .select(col("doc_a"), col("doc_id").as("doc_b")).distinct()
                val regHashes = spark.read
                  .parquet(vHashes.pathsFor(served): _*)
                  .select(col("doc_id").as("doc_a"), col("hashes").as("h_a"))
                Dedup.jaccardVerify(cand, regHashes,
                    sh.select(col("doc_id").as("doc_b"), col("hashes").as("h_b")),
                    Dedup.Lsh.Threshold)
                  .select(col("doc_b").as("doc_id")).distinct()
                  .localCheckpoint(true)
              } finally { regBands.unpersist(blocking = false); () }
            }
          val nearDropped = inBatch.union(crossLosers).distinct()
          Curate.label(b, gates, exactDropped, nearDropped)
            .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
          fps.write.mode("overwrite").parquet(s"$registryPath/fps/batch=$batchId")
          bands.write.mode("overwrite").parquet(s"$registryPath/bands/batch=$batchId")
          sh.select(col("doc_id"), col("hashes"))
            .write.mode("overwrite").parquet(s"$registryPath/hashes/batch=$batchId")
        } finally {
          persisted.foreach(_.unpersist(blocking = false))
          Dedup.releaseSince(spark, dedupMark)
          ()
        }
      }

  /** Every label the sink has emitted so far — the streaming accounting
    * surface (union of batch accountings). Serves the compacted snapshot
    * plus only batch dirs whose write COMMITTED (_SUCCESS) — the same
    * gating the registry reads apply, so a reader concurrent with a
    * crashed/in-flight batch write never sees a partial `batch=<id>`
    * directory. Read through this (not a whole-dir parquet read): once
    * compaction has folded, `outPath` holds snapshot AND batch dirs. */
  def labeledView(spark: org.apache.spark.sql.SparkSession, outPath: String): DataFrame = {
    val v = Registry.view(spark, outPath, outPath)
    if (v.isEmpty) {
      // Curate.label's output schema (analysis only, no job), nullable
      // like every column read back from parquet
      val none = spark.range(0)
        .select(col("id").as("doc_id"), lit(null).cast("string").as("text"))
      val labeled = Curate.label(none, Curate.Gates(), none, none).schema
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(labeled.map(_.copy(nullable = true))))
    } else
      spark.read.parquet(v.paths: _*)
        .select(col("doc_id"), col("text"), col("pred_lang"), col("quality"),
          col("n_tokens"), col("drop_reason"))
  }

  /** Everything the sink has kept so far (the curated corpus view). */
  def keptView(spark: org.apache.spark.sql.SparkSession, outPath: String): DataFrame =
    labeledView(spark, outPath).filter(col("drop_reason") === "kept")
      .select(col("doc_id"), col("text"), col("pred_lang"), col("quality"), col("n_tokens"))

  /** Continuous corpus-health report: TextAnalysis.profile over the kept
    * set as of now — the one-row DESCRIBE-corpus surface an operator
    * polls while the sink runs (counts, dup mass, token volume, language
    * mix, quality micro-sum). Pure composition over keptView, so it
    * equals the batch profile of the same kept set by construction. */
  def profileView(spark: org.apache.spark.sql.SparkSession, outPath: String): DataFrame =
    TextAnalysis.profile(keptView(spark, outPath).select(col("doc_id"), col("text")))

  /** Content-addressed identity of the kept corpus as of now
    * (TextAnalysis.corpusVersion over keptView): a downstream consumer
    * (training job, embedding pass) polls this to decide whether its
    * cached derivation is stale. The digest is order-free and
    * duplicate-invariant, so it is batching-independent by construction
    * — equal to the batch stamp of the same kept set. */
  def versionView(spark: org.apache.spark.sql.SparkSession, outPath: String): DataFrame =
    TextAnalysis.corpusVersion(keptView(spark, outPath).select(col("doc_id"), col("text")))

  /** Live labeler-health report: per-class precision/recall/F1 of the
    * kept set's language-ID predictions against a GOLD judgment frame
    * (doc_id, lang) — the monitor that catches the labeler drifting as
    * the sink runs (a class collapsing shows up as its recall row, not
    * as a silent mix shift). Gold is static (human labels / a frozen
    * golden slice), the per-batch rule every gate model follows. Pure
    * composition over keptView, so it equals the batch scorecard of the
    * same kept set; stored pred_lang is recomputable from the stored
    * (scrubbed) text — StreamingSpec proves both. */
  def scorecardView(spark: org.apache.spark.sql.SparkSession, outPath: String,
      gold: DataFrame): DataFrame =
    graft.operators.Eval.classificationMetrics(
      keptView(spark, outPath).select(col("doc_id"), col("pred_lang"))
        .join(gold.select(col("doc_id"), col("lang")), Seq("doc_id")),
      col("pred_lang"), col("lang"))

  /** Term drift of the kept corpus against a FROZEN baseline
    * (TextAnalysis.termDrift ∘ keptView): the "is what we're ingesting
    * changing" monitor — top-k terms whose relative frequency moved most
    * vs the reference slice the operator froze (yesterday's kept set, a
    * golden corpus). Composition over the kept view, so it equals the
    * batch drift of the same kept set; the baseline side should be a
    * persisted/static frame (the LmGate static-model rule). */
  def driftView(spark: org.apache.spark.sql.SparkSession, outPath: String,
      baseline: DataFrame, k: Int = 50): DataFrame =
    TextAnalysis.termDrift(baseline,
      keptView(spark, outPath).select(col("doc_id"), col("text")), k)

  /** Training-layout snapshot over everything kept so far: each kept doc
    * with its deterministic shuffle position (Sampling.shuffleRank) and
    * sequence-pack assignment (Sampling.packSequencesScalable) — the
    * composition batch curation hands off to (t_curate_shuffled /
    * t_curate_packed / t_curate_layout), now derivable from the
    * continuous sink's state at any point.
    *
    * Resumability contract: both layouts are PURE FUNCTIONS of the kept
    * set (no RNG, no partition-order dependence), so a training job can
    * re-derive the exact same order and packing from any snapshot of the
    * sink's output. Pack assignments are additionally byte-stable under
    * append-only id growth (packSequences scaladoc); shuffle positions
    * re-derive exactly but naturally re-permute as the kept set grows —
    * pin a snapshot (or re-rank a frozen kept set) for a fixed epoch
    * order. Caller releases the layout's tracked caches via
    * Dedup.releaseCaches after the terminal action. */
  def trainingView(spark: org.apache.spark.sql.SparkSession, outPath: String,
      budget: Long = 512, shards: Int = 64, partitions: Int = 0): DataFrame = {
    val kept = keptView(spark, outPath)
    val ranked = Sampling.shuffleRank(kept.select(col("doc_id")), col("doc_id"), partitions)
      .select(col("doc_id"), col("shuffle_pos"))
    val packed = Sampling.packSequencesScalable(
      kept.select(col("doc_id"), col("text")), budget, shards, partitions)
    packed.join(ranked, "doc_id")
      .select(col("doc_id"), col("shuffle_pos"), col("shard"), col("pack_id"), col("n_tokens"))
  }

  /** Continuous CCNet-style fluency bucketing with FROZEN tertiles —
    * the streaming twin of [[TextAnalysis.lmBucketsFrozen]]. Exact
    * tertiles are a corpus-level property (a doc's lmBuckets label can
    * change as later docs shift the distribution), so the continuous
    * form freezes (t0, t1) from a batch profile over a reference corpus
    * ([[graft.operators.Sampling.boundedIntQuantiles]]) and labels each
    * micro-batch per doc: the label depends only on the doc, the STATIC
    * LM model, and the frozen thresholds, so the sink is
    * batching-independent by construction — stream ≡ batch across any
    * batch split and any registry fold boundary (StreamingSpec pins it
    * at compactEvery = 2). Rows (doc_id, lm_floor, bucket) land in
    * overwrite-idempotent `batch=<id>` dirs under the same compaction
    * protocol as the labeled sink, so [[lmBucketView]] stays
    * O(snapshot + compactEvery dirs) under continuous ingestion.
    *
    * At scale, per batch: scoreLm's gram-keyed join against the static
    * model tables plus one doc_id agg — the batch twin's audited shape;
    * the labeling itself is map-side. */
  def lmBucketSink(docs: DataFrame, model: TextAnalysis.LmModel,
      t0: Long, t1: Long, outPath: String,
      compactEvery: Int = 16): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        Registry.maybeCompact(spark, outPath, Seq(outPath),
          upToExclusive = batchId, every = compactEvery)
        val mark = Dedup.trackMark(spark)
        try {
          TextAnalysis.lmBucketsFrozen(
              TextAnalysis.scoreLm(batch.toDF(), model), t0, t1)
            .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        } finally { Dedup.releaseSince(spark, mark); () }
      }

  /** Every frozen-tertile label the bucket sink has emitted so far —
    * the continuous head/middle/tail mix surface a curriculum or
    * temperature-mix stage consumes. Same commit gating as
    * [[labeledView]] (snapshot + _SUCCESS-committed batch dirs only). */
  def lmBucketView(spark: org.apache.spark.sql.SparkSession,
      outPath: String): DataFrame = {
    val v = Registry.view(spark, outPath, outPath)
    if (v.isEmpty) {
      import org.apache.spark.sql.types._
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("doc_id", LongType),
          StructField("lm_floor", LongType), StructField("bucket", StringType))))
    } else
      spark.read.parquet(v.paths: _*)
        .select(col("doc_id"), col("lm_floor"), col("bucket"))
  }
}
